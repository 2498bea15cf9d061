"""Streaming corpus ingestion — the continuous twin of the batch
curation pipeline (`curation.py`): documents arrive as a stream (Kafka
topic / landing directory), and each micro-batch is quality-gated,
exact-deduplicated with bounded state, and fanned out into
context-length chunks ready for a training-shard sink.

This is how a 100 TB corpus is *built* in practice — continuously, not
as one batch job: crawler output lands all day, and the curation
decisions (quality, dedup, chunking) run incrementally with watermarked
state instead of re-scanning the accumulated corpus. The near-dup and
decontamination stages stay batch (`curation.curation_stages`) — they
need corpus-wide candidate joins, which is exactly the cut point
between streaming ingest and periodic batch refinement.

Hermetically testable via the json file source (no Kafka in CI), same
contract as `streaming/job.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    StringType,
    StructField,
    StructType,
)

from data_pipeline_example_spark.functions import text as T
from data_pipeline_example_spark.functions.hashing import seeded_buckets
from data_pipeline_example_spark.operators import text
from data_pipeline_example_spark.streaming.job import keyed_state, read_json_stream

# landing-zone contracts, each read by ``read_json_stream``; they
# mirror streaming/job.py's EVENT_SCHEMA philosophy: fields arrive as
# nullable strings, typing happens in the decode step (schema drift
# tolerance)
DOC_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("text", StringType()),
        StructField("ingest_ts", StringType()),
    ]
)


def decode_doc_stream(raw: DataFrame) -> DataFrame:
    """Landing-zone JSON docs → typed stream: doc_id long, text string,
    ingest_ts timestamp (event time for the dedup watermark)."""
    return raw.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text").cast("string").alias("text"),
        F.to_timestamp("ingest_ts").alias("ingest_ts"),
    )


def gate_and_dedup(
    docs: DataFrame,
    min_quality: float = 0.05,
    min_tokens: int = 10,
    watermark: str = "1 hour",
) -> DataFrame:
    """The first two incremental stages — quality gate (stateless column
    arithmetic, same expressions as batch ``text.doc_stats``) and
    watermarked exact dedup (``dropDuplicatesWithinWatermark`` keyed on
    the md5 fingerprint: state bounded by the horizon). Returns the
    admitted document stream with its ``fingerprint`` column attached —
    consumed by ``curate_doc_stream`` (chunk fan-out) and
    ``run_doc_ingest`` (foreachBatch index gate)."""
    n_tok = T.token_count(F.col("text"))
    gated = docs.filter(
        (T.quality_score(F.col("text")) >= min_quality) & (n_tok >= min_tokens)
    )
    return (
        gated.withColumn("fingerprint", T.fingerprint(F.col("text")))
        .withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def curate_doc_stream(
    docs: DataFrame,
    min_quality: float = 0.05,
    min_tokens: int = 10,
    watermark: str = "1 hour",
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """quality gate → stateful exact dedup → chunk fan-out, all
    incremental.

    * Quality/token gating is pure column arithmetic (same expressions
      as the batch `text.doc_stats`) — stateless, runs per micro-batch.
    * Exact dedup keys on the normalized md5 fingerprint with
      ``dropDuplicatesWithinWatermark``: state holds one entry per
      distinct document seen inside the watermark horizon and is
      evicted after it — bounded, unlike a naive stream-wide distinct.
      A duplicate arriving after the horizon re-enters the corpus; the
      periodic batch `curation` pass sweeps those (the standard
      lambda-style split).
    * Chunking is the batch operator with ``widen_input=False`` — a
      generator expression, stateless, so the stream stays append-only.

    Output: doc_id, chunk_id, n_tokens, chunk_hash, ingest_ts.
    """
    deduped = gate_and_dedup(docs, min_quality, min_tokens, watermark)
    return text.chunk_documents(
        deduped,
        chunk_size=chunk_size,
        stride=stride,
        widen_input=False,
        carry=("ingest_ts",),
    )


# embedding landing-zone contract: id + raw float vector + event time
EMB_SCHEMA = StructType(
    [
        StructField("vec_id", StringType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("ingest_ts", StringType()),
    ]
)


def decode_embedding_stream(raw: DataFrame) -> DataFrame:
    """Typed embedding stream: vec_id long, embedding array<float>,
    ingest_ts timestamp (event time for the dedup watermark)."""
    return raw.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding"),
        F.to_timestamp("ingest_ts").alias("ingest_ts"),
    )


def dedup_embedding_stream(
    vecs: DataFrame,
    watermark: str = "1 hour",
    n_bits: int = 16,
    dims: int = 64,
) -> DataFrame:
    """Streaming embedding NEAR-dup admission — SRP-LSH as the stateful
    dedup key (the wiring ``srp_dup_pairs``'s docstring promises).

    The signature (`similarity.srp_signature_expr`) is data-independent
    — fixed md5-derived hyperplanes, no centroid pass, no corpus stats —
    so it is computed per arriving row as a pure column expression, and
    ``dropDuplicatesWithinWatermark`` keyed on it gives the same bounded
    state contract as the exact-text stage in ``gate_and_dedup``: one
    8-byte key per distinct signature inside the horizon, evicted after
    it. A vector whose signature matches an earlier arrival (identical
    or near-parallel within the signature's angular resolution) is
    rejected; raise ``n_bits`` for finer resolution (stricter admission
    ≈ only true near-dups collide), lower it for more aggressive
    semantic collapsing. Near-dups the signature misses (pairs
    straddling a hyperplane) are swept by the periodic batch
    ``srp_dup_pairs``/``semantic_prune_capped`` pass — the same
    lambda-style split as the document path.

    Output: the admitted stream with its ``srp_sig`` column attached.
    """
    from data_pipeline_example_spark.operators import similarity

    sig = F.expr(similarity.srp_signature_expr("embedding", n_bits, dims))
    return (
        # size() must match dims, not just non-NULL: a wrong-length
        # vector would fold to a NULL srp_sig (zip_with null-pads), and
        # dropDuplicatesWithinWatermark treats NULL keys as EQUAL — the
        # first malformed vector would be admitted and every later one
        # silently swallowed as its "near-dup". Malformed rows are
        # dropped here (the stream's reject path), never signed.
        vecs.filter(
            F.col("embedding").isNotNull() & (F.size("embedding") == dims)
        )
        .withColumn("srp_sig", sig)
        .withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["srp_sig"])
    )


def run_doc_ingest(
    spark: SparkSession,
    input_path: str,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    min_quality: float = 0.05,
    min_tokens: int = 10,
    watermark: str = "1 hour",
    chunk_size: int = 64,
    stride: int = 48,
    max_files_per_trigger: int | None = None,
):
    """The wired lambda pipeline: landing zone → quality gate →
    watermarked in-horizon dedup → **foreachBatch** {persistent
    fingerprint-index gate → chunk fan-out → corpus append}, run with
    an ``availableNow`` trigger: each run drains the landing zone's
    pending files, then stops.

    The stream's ``dropDuplicatesWithinWatermark`` state catches
    duplicates inside the horizon; ``curation.update_dedup_index``
    inside ``foreachBatch`` catches duplicates against *everything ever
    admitted* — including re-arrivals after a restart wiped the stream
    state — by reading only the 1-row-per-distinct-doc index, never the
    accumulated corpus. Because index admission is idempotent (left-anti
    on already-indexed fingerprints), a micro-batch replayed after a
    failure admits nothing twice: the corpus append is guarded by the
    same admission set, so the sink is effectively exactly-once at the
    document level. Both stages are exact; the bounded-state Bloom
    admission is the standalone :func:`bloom_admission_stream`.

    Returns the started StreamingQuery (caller awaits/stops).
    """
    from data_pipeline_example_spark import curation as batch_curation

    docs = decode_doc_stream(
        read_json_stream(spark, input_path, DOC_SCHEMA, max_files_per_trigger)
    )
    admitted_stream = gate_and_dedup(docs, min_quality, min_tokens, watermark)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        admitted = batch_curation.update_dedup_index(spark, batch, index_path)
        # per-micro-batch admission set is small — broadcast it back
        # against the batch rather than shuffling the batch
        kept = batch.join(
            F.broadcast(admitted.select(F.col("keep_doc_id").alias("doc_id"))),
            "doc_id",
            "left_semi",
        )
        chunks = text.chunk_documents(
            kept,
            chunk_size=chunk_size,
            stride=stride,
            widen_input=False,
            carry=("ingest_ts",),
        )
        chunks.write.mode("append").parquet(corpus_path)

    return (
        admitted_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


# media landing-zone contract: id + base64 payload + event time (JSON
# can't carry raw binary; the Kafka twin reads value bytes directly)
MEDIA_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("content_b64", StringType()),
        StructField("ingest_ts", StringType()),
    ]
)


def decode_media_stream(raw: DataFrame) -> DataFrame:
    """Typed media stream: doc_id long, content binary, ingest_ts
    timestamp (event time for the dedup watermark)."""
    return raw.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.unbase64("content_b64").alias("content"),
        F.to_timestamp("ingest_ts").alias("ingest_ts"),
    )


def dedup_image_stream(media: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming image near-dup admission — perceptual aHash as the
    stateful dedup key: the image-modality twin of
    ``dedup_embedding_stream``'s SRP stage, completing streaming dedup
    across modalities (text fingerprint, embedding SRP, image aHash).

    The hash (`multimodal.ahash_bits` over the REAL decode+resize) is a
    pure per-row function — no corpus statistics, no trained artifact —
    so it is computed inside the micro-batch by an Arrow-batched
    ``mapInPandas`` (stateless, streaming-safe), and
    ``dropDuplicatesWithinWatermark`` keyed on it holds one 64-bit-wide
    entry per distinct image inside the horizon. Byte-identical and
    resize/visually-identical images collide and are rejected;
    Hamming-near pairs the exact key misses are swept by the periodic
    batch ``phash_dup_pairs`` pass — the same lambda-style split as the
    other two modalities.

    Undecodable payloads are the reject path: rows whose decode raises
    are DROPPED inside the batch (not keyed — a shared failure hash
    would swallow every later broken payload as a "duplicate", the
    NULL-key trap the embedding stage documents).

    Output: the admitted stream (doc_id, ingest_ts, phash).
    """
    from data_pipeline_example_spark.operators.multimodal import (
        ahash_bits,
        decode_image,
    )

    def _hash(batches):
        import pandas as pd

        for pdf in batches:
            ids, tss, hashes = [], [], []
            for doc_id, ts, b in zip(pdf["doc_id"], pdf["ingest_ts"], pdf["content"]):
                try:
                    img = decode_image(bytes(b))
                    h = ahash_bits(img)
                except Exception:
                    continue  # reject: undecodable payload
                ids.append(doc_id)
                tss.append(ts)
                hashes.append(h)
            yield pd.DataFrame({"doc_id": ids, "ingest_ts": tss, "phash": hashes})

    hashed = media.filter(F.col("content").isNotNull()).mapInPandas(
        _hash, "doc_id long, ingest_ts timestamp, phash string"
    )
    return hashed.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["phash"]
    )


def dedup_lines_stream(
    docs: DataFrame,
    watermark: str = "1 hour",
    min_words: int = 4,
) -> DataFrame:
    """Streaming LINE-level dedup admission — the continuous twin of
    the batch ``text.line_dedup`` (C4/RefinedWeb boilerplate
    suppression) for a document ingest stream: every arriving document
    fans out to its lines, and a line whose normalized hash was already
    admitted inside the watermark horizon is dropped. Nav menus, cookie
    banners and license footers collapse to their first arrival; the
    first-occurrence-wins rule is the streaming analogue of the batch
    operator's (doc_id, pos) ordering — here, arrival order.

    Lines shorter than ``min_words`` are structural (headings, blanks)
    and are NEVER dedup keys — but unlike the batch path they also
    aren't re-emitted per document here (a keyed stateful stream must
    not carry unkeyed rows), so the admitted stream is the stream of
    first-seen SUBSTANTIVE lines: the input a downstream index or
    boilerplate-model trainer wants. State is one md5 key per distinct
    admitted line inside the horizon, evicted after it — the same
    bounded-state contract as every other admission stage in this
    module.

    Output: doc_id, pos, line, line_hash, ingest_ts (admitted lines).
    """
    exploded = docs.select(
        "doc_id",
        "ingest_ts",
        F.posexplode(F.split(F.coalesce(F.col("text"), F.lit("")), "\n")).alias(
            "pos", "line"
        ),
    )
    line = F.col("line")
    keyed = exploded.filter(text.line_words(line) >= min_words).withColumn(
        "line_hash", text.line_key(line)
    )
    return (
        keyed.withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["line_hash"])
        .select("doc_id", "pos", "line", "line_hash", "ingest_ts")
    )


def gate_agreement_stream(
    docs: DataFrame,
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-micro-batch inter-gate agreement monitor — the streaming
    twin of the batch ``text.gate_agreement`` census (r14 VERDICT
    item 8): ingest watches the pairwise Cohen's kappa between its
    quality gates per event-time window, so a gate going REDUNDANT
    (κ→1000: stop paying for it) or ADVERSARIAL (κ<0 on a source: a
    crawl shift or an attack making gates fight) is visible mid-stream
    instead of at the next corpus-wide batch audit.

    Built from the SAME ``text.gate_flags`` projection and
    ``text.agreement_aggs`` fused 11-term aggregate as the batch op —
    one stateless expression pass per document, ONE windowed
    aggregate keyed (window × source) whose state is 11 longs per
    group (bounded by sources × open windows, never corpus-sized),
    finalized append-only at watermark close. The kappa unpivot runs
    AFTER the aggregate, on the closed 1-row-per-group output. A
    stream without lang/source columns (the DOC_SCHEMA landing
    contract) defaults them; constant gates yield kappa NULL by the
    documented chance-denominator rule.

    Output: window_start, window_end, source, gate_a, gate_b, n_docs,
    n_both, n_neither, agree_milli, kappa_milli (closed windows only).
    """
    flags = text.gate_flags(docs, carry=("ingest_ts",))
    agg = (
        flags.withWatermark("ingest_ts", watermark)
        .groupBy(F.window("ingest_ts", window).alias("w"), F.col("source"))
        .agg(*text.agreement_aggs())
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "source",
            *[c for c in ("n", "a1", "a2", "a3", "a4")],
            *[f"b{i}{j}" for i in range(1, 5) for j in range(i + 1, 5)],
        )
    )
    return text.agreement_unpivot(
        agg, ["window_start", "window_end", "source"]
    )


def unicode_clean_stream(
    docs: DataFrame, max_dropped_milli: int = 500
) -> DataFrame:
    """Streaming Unicode-hygiene admission — the ingest twin of the
    batch ``text.unicode_clean`` transform, built from the SAME
    ``text.unicode_clean_cols`` expressions so a document admitted by
    the stream is character-identical to the batch-cleaned one:
    zero-width/bidi/C0 controls stripped in place, U+FFFD mojibake
    lines dropped, and a document rejected outright when more than
    ``max_dropped_milli``/1000 of its lines were mojibake or nothing
    non-blank survives.

    Completely STATELESS — pure column expressions per micro-batch, no
    watermark, no state store — so it composes in front of any stateful
    admission stage (``gate_and_dedup`` et al.) at zero added state.
    Running it FIRST also makes downstream dedup keys hygienic: two
    crawls of the same page differing only in injected zero-width
    fingerprints collapse to one fingerprint after cleaning.

    Output: doc_id, text (cleaned), n_lines_dropped, n_chars_removed,
    ingest_ts — admitted documents only.
    """
    txt = F.coalesce(F.col("text"), F.lit(""))
    stripped, lines, kept = text.unicode_clean_cols(txt)
    base = docs.select(
        "doc_id",
        F.array_join(kept, "\n").alias("text"),
        (F.size(lines) - F.size(kept)).cast("long").alias("n_lines_dropped"),
        (F.length(txt) - F.length(stripped)).cast("long").alias("n_chars_removed"),
        F.size(lines).cast("long").alias("n_lines"),
        "ingest_ts",
    )
    return base.filter(
        (F.expr("1000 * n_lines_dropped div n_lines") <= max_dropped_milli)
        & (F.trim(F.col("text")) != "")
    ).drop("n_lines")


def dedup_audio_stream(
    media: DataFrame, window_ms: int = 1, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming AUDIO dedup admission — completes modality symmetry
    with the text (``gate_and_dedup`` / ``dedup_lines_stream``),
    embedding (``dedup_embedding_stream``) and image
    (``dedup_image_stream``) admission stages: arriving audio payloads
    are container-decoded IN the micro-batch and admitted at analysis-
    window granularity, keyed on :func:`operators.multimodal.window_digest`
    — the very function the batch
    :func:`operators.multimodal.wav_dup_windows` sweep groups on, over
    the same :func:`operators.multimodal.audio_window_slices` windows —
    so the streamed admission decisions and the periodic batch dup
    sweep agree row-for-row (the restart test pins the streamed rejects
    to the batch anchor's dup groups).

    Decode is the batch family's container dispatch
    (:func:`operators.multimodal.decode_audio`) inside its one
    Arrow-batched loop: WAV and AIFF admit into the SAME digest space (a
    WAV and an AIFF carrying identical PCM windows collide, which is the
    correct dedup outcome); undecodable payloads (wrong magic,
    truncated container, non-PCM16) are DROPPED inside the batch, never
    keyed — a shared failure key would swallow every later broken
    payload as a "duplicate", the NULL-key trap the embedding stage
    documents.

    State is one digest per distinct admitted window inside the
    watermark horizon, evicted after it (``dropDuplicatesWithinWatermark``)
    — bounded by distinct audio content per horizon, not by stream
    length, the 100 TB ingest contract shared by every admission stage
    in this module. First-occurrence-wins is arrival order, the
    streaming analogue of the batch sweep's ``first_doc``.

    Output: the admitted window stream (doc_id, window_idx,
    window_digest, ingest_ts).
    """
    from data_pipeline_example_spark.operators import multimodal as mm

    def rows(raw: bytes, doc_id, ts):
        try:
            rate, _ch, samples = mm.decode_audio(raw)
        except (ValueError, NotImplementedError):
            return  # reject: undecodable payload
        for w, chunk in mm.audio_window_slices(samples, rate, window_ms):
            yield doc_id, w, mm.window_digest(chunk, w), ts

    digested = mm.map_audio_payloads(
        media.filter(F.col("content").isNotNull()),
        StructType.fromDDL(
            "doc_id long, window_idx int, window_digest string, ingest_ts timestamp"
        ),
        rows,
        carry=("ingest_ts",),
    )
    return digested.withWatermark(
        "ingest_ts", watermark
    ).dropDuplicatesWithinWatermark(["window_digest"])


def bloom_admission_stream(
    docs: DataFrame,
    m_bits: int = 65536,
    k_hashes: int = 3,
    n_buckets: int = 8,
) -> DataFrame:
    """Bounded-state APPROXIMATE admission for streaming exact dedup —
    the state-size escape hatch for :func:`gate_and_dedup`'s
    ``dropDuplicatesWithinWatermark``, whose store holds one fingerprint
    per distinct document inside the watermark horizon: at 100 TB/day
    that is billions of 128-bit keys per horizon, unbounded in corpus
    terms. A Bloom filter replaces it with a HARD bound: ``m_bits``
    TOTAL bits of state, input-independent (the countmin_stream
    guarantee applied to membership instead of frequency).

    Error direction is one-sided and curation-safe: a re-arriving
    fingerprint always finds its own bits set (NO false negatives — a
    true duplicate is never admitted while state lives), while a novel
    document colliding on all ``k_hashes`` positions is wrongly dropped
    at the classic rate p ≈ (1 − e^(−kn/m))^k. Losing ~p of novel docs
    is the acceptable direction for training-data dedup; admitting
    duplicates is not. Size m_bits ≈ 10 × expected distinct docs per
    horizon for p < 1%.

    Determinism contract (what makes the FP rate TESTABLE): hash i of
    document fp is element i of :func:`functions.hashing.seeded_buckets`
    — ``md5_int(i || ':' || fp, 8) % (m/buckets)``, the seeded family
    the Count-Min rows use — so the FP SET (not just the rate) is
    reproducible run-to-run and replayable in pure Python by the test
    against the batch ``exact_dedup`` ground truth. Bit positions and the bucket key are
    computed relationally (JVM-side md5) BEFORE the stateful op; the
    Arrow-batched update only tests/sets bits.

    Partitioning: the filter is sharded into ``n_buckets`` independent
    slices keyed on the fingerprint's first 32 bits — each state key
    owns m/n_buckets bits, so the filter scales out across executors
    instead of serializing on one state row. Rows process in doc_id
    order within each (bucket, micro-batch) so checkpoint replays
    re-admit identically.

    A standalone operator: :func:`run_doc_ingest` keeps the exact
    watermarked dedup, and a caller trading exactness for bounded state
    filters this stream on ``admitted == 1`` itself.

    Output stream (update mode): doc_id, fingerprint, admitted (int).
    """
    if m_bits % (n_buckets * 8):
        raise ValueError(
            f"m_bits must be whole bytes per bucket: {m_bits} % ({n_buckets} * 8) != 0"
        )
    m_local = m_bits // n_buckets

    fp = T.fingerprint(F.col("text"))
    typed = (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            fp.alias("fingerprint"),
        )
        .withColumn(
            "bucket",
            (
                F.conv(F.substring("fingerprint", 1, 8), 16, 10).cast("long")
                % n_buckets
            ).cast("int"),
        )
        .withColumn("pos", seeded_buckets(F.col("fingerprint"), k_hashes, m_local))
    )

    def step(key, state, rows):
        bits = bytearray(state[0]) if state else bytearray(m_local // 8)
        admitted = []
        for plist in rows["pos"]:
            seen = all(bits[p // 8] & (1 << (p % 8)) for p in plist)
            if not seen:
                for p in plist:
                    bits[p // 8] |= 1 << (p % 8)
            admitted.append(0 if seen else 1)
        out = {
            "doc_id": rows["doc_id"].astype("int64"),
            "fingerprint": rows["fingerprint"],
            "admitted": admitted,
        }
        return (bytes(bits),), out

    return keyed_state(
        typed, ["bucket"], ["doc_id"],
        "doc_id long, fingerprint string, admitted int", "bits binary", step,
    )


def budget_admission_stream(docs: DataFrame, budget: int = 800) -> DataFrame:
    """Streaming per-source TOKEN-budget admission — the online twin of
    batch ``text.token_budget_caps``: a greedy quota keyed on source.
    State is ONE long per source (tokens admitted so far); an arriving
    document is admitted iff the source's running total stays within
    ``budget``. The batch op ranks the whole corpus by length before
    cutting; a stream must decide per arrival, so the selection order
    differs (documented) while the budget INVARIANT is identical:
    admitted tokens never exceed ``budget`` per source. Rows process in
    doc_id order within each micro-batch so checkpoint replays re-admit
    identically. The state store checkpoints exactly like built-in
    aggregations — a stop-and-restart from the same checkpoint resumes
    each source's spent total (asserted by restart test).

    State is O(#sources) and never expires: a source's quota is spent
    for the life of the query, which suits the bounded source
    vocabularies this op is keyed on.

    Input: a decoded doc stream with doc_id, text and (optionally)
    source columns. Output stream (update mode): doc_id, source,
    n_tokens, admitted (int).
    """
    cols = docs.columns
    src = (
        F.coalesce(F.col("source"), F.lit("unknown"))
        if "source" in cols
        else F.lit("unknown")
    )
    typed = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        src.cast("string").alias("source"),
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    def step(key, state, rows):
        (used,) = state or (0,)
        admitted = []
        for nt in rows["n_tokens"]:
            ok = used + int(nt) <= budget
            if ok:
                used += int(nt)
            admitted.append(1 if ok else 0)
        out = {
            "doc_id": rows["doc_id"].astype("int64"),
            "source": key[0],
            "n_tokens": rows["n_tokens"].astype("int64"),
            "admitted": admitted,
        }
        return (used,), out

    return keyed_state(
        typed, ["source"], ["doc_id"],
        "doc_id long, source string, n_tokens long, admitted int", "used long",
        step,
    )


def countmin_stream(
    docs: DataFrame, depth: int = 4, width: int = 64
) -> DataFrame:
    """Streaming Count-Min sketch of the term stream — the
    bounded-memory frequency counter kept online while a corpus
    ingests, the streaming twin of batch
    ``text.countmin_term_error``'s sketch build.

    State is one width-long cell array per sketch row: O(depth·width)
    TOTAL, input-INDEPENDENT — the strongest bounded-state guarantee
    in the streaming module (the other custom-state ops are
    O(#keys)). Because CM cells are pure sums, the sketch is additive
    across micro-batches and across a checkpoint stop/restart: the
    recovered-and-resumed state equals the one-shot batch sketch
    REGARDLESS of batch boundaries (the restart test pins the final
    cells against a brute-force batch sketch — the
    exactly-mergeable-KMV certification idea applied to streaming
    state). Term→(row, bucket) fan-out happens relationally BEFORE
    the stateful op: :func:`functions.hashing.seeded_buckets`, the
    bucket array the batch op builds too; the Arrow-batched update
    function only adds value_counts into the cell array.

    Input: a doc stream with a text column. Output stream (update
    mode), one row per sketch row per batch: i, mass (total
    increments absorbed so far), nonzero_cells, max_cell, cells.
    """
    terms = docs.select(
        F.explode(T.lower_tokens(F.col("text"))).alias("term")
    )
    incs = terms.select(
        F.posexplode(seeded_buckets(F.col("term"), depth, width)).alias("i", "bucket")
    )

    def step(key, state, rows):
        cells = list(state[0]) if state else [0] * width
        for b, c in rows["bucket"].value_counts().items():
            cells[int(b)] += int(c)
        out = {
            "i": [key[0]],
            "mass": [sum(cells)],
            "nonzero_cells": [sum(1 for c in cells if c > 0)],
            "max_cell": [max(cells)],
            "cells": [cells],
        }
        return (cells,), out

    return keyed_state(
        incs, ["i"], [],
        "i int, mass long, nonzero_cells int, max_cell long, cells array<long>",
        "cells array<long>", step,
    )
