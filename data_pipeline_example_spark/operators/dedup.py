"""Deduplication operators over the ``documents`` table.

LLM-data-pipeline extensions (BASELINE.json north star). Three tiers,
each with a different scale profile:

* ``exact_dedup`` — hash-groupBy on a normalized md5 fingerprint. One
  shuffle keyed by a 128-bit hash: uniform key distribution, no skew,
  works unchanged at 100 TB.
* ``minhash_lsh_pairs`` — MinHash signatures + banded LSH. The candidate
  join is keyed on (band, bucket), so only near-duplicates ever meet in
  a shuffle partition; candidate verification computes exact Jaccard
  with array built-ins. This is THE scale path for near-dedup: cost is
  O(docs × shingles) for signatures + O(candidate pairs), never O(n²).
  MinHash uses md5-derived hash functions (not Spark's murmur3) so the
  whole operator is bit-reproducible in ANSI SQL → oracle-checkable.
* ``jaccard_pairs`` — brute-force shingle-join n-gram Jaccard. Correct
  baseline and oracle for the LSH variant; the shingle inverted index
  bounds the blowup on natural text, but worst case is quadratic — at
  scale prefer ``minhash_lsh_pairs``.

Every near-dup pair operator builds its candidates on one of two cores
(bucket, then verify): :func:`band_join` — the banded first-match join
over per-band keys, used by the MinHash, SimHash and image-hash
operators — and :func:`shared_key_pairs` — the shared-key self-join
and pair count, used by the shingle Jaccard/containment baselines and
winnowing overlap. An operator supplies its signature (band keys or
keys) and its verify step; the 64-bit signatures share one
:func:`hamming` distance.

No UDFs anywhere: shingling, hashing, min-over-array, intersection are
all Spark SQL built-ins (higher-order functions), JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline_example_spark.functions.materialize import materialize

from data_pipeline_example_spark.functions import text as T
from data_pipeline_example_spark.functions.hashing import hash_pct
from data_pipeline_example_spark.functions.parallel import widen


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup groups: one row per distinct normalized text.

    Output: fingerprint, keep_doc_id (min doc_id — the canonical survivor),
    dup_count. Downstream ``documents ⋈ keep_doc_id`` materializes the
    deduplicated corpus without ever comparing full texts.
    """
    return (
        documents.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingled(documents: DataFrame, k: int = 3) -> DataFrame:
    """doc_id + distinct k-token shingle array (docs with < k tokens
    have none and can never match anything, so they are dropped).

    The token array is bound in its own projection below the shingle
    assembly (``functions.text.word_grams`` reads it several times):
    building shingles from a bound column instead of repeated copies of
    the tokenizer subtree measured 5× faster on the corpus (the giant
    single-projection expression defeats codegen subexpression
    elimination).

    ``widen`` guards against single-file scans: shingling + the md5s
    built on top of this frame are the dominant CPU of every dedup
    operator, and a one-partition input would serialize them on one
    core (observed 4.3 s → sub-second at sf0.1 on local[32]).

    The short-document filter reads the bound tokens (``size(toks) >=
    k``, the same rows as a non-empty shingle array for k ≥ 1): a filter
    on the shingles would be pushed below ``widen``'s repartition and
    build every document's shingles a second time from an inline
    tokenizer."""
    toks_df = (
        widen(documents)
        .select("doc_id", T.lower_tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= k)
    )
    return toks_df.select(
        "doc_id", F.array_distinct(T.word_grams("toks", k)).alias("shingles")
    )


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.round(inter / union, 4)


def shared_key_pairs(rows: DataFrame, key: str) -> DataFrame:
    """The shared-key pair core: ``rows`` holds one (doc_id, ``key``)
    row per distinct key of a document; the output has one row per
    pair of documents sharing at least one key — doc_a, doc_b (doc_a <
    doc_b) and n_shared, the number of keys they share. One self-join
    keyed on the key (the inverted index) and one rollup keyed on the
    doc-id pair (uniform keys)."""
    a, b = rows.alias("a"), rows.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def _shingle_overlap(documents: DataFrame, k: int) -> DataFrame:
    """doc_a, doc_b, n_shared (shared shingles), sz_a, sz_b (shingle-set
    sizes) for every pair sharing a shingle: the candidates and counts
    both exact shingle scores need."""
    # materialize the shingle table once — explode and sizes both read it,
    # and regexp shingling is the dominant CPU of these operators
    sh = shingled(documents, k).transform(materialize)
    ex = sh.select("doc_id", F.explode("shingles").alias("sh"))
    sizes = sh.select("doc_id", F.size("shingles").cast("long").alias("sz"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        shared_key_pairs(ex, "sh")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
    )


def jaccard_pairs(
    documents: DataFrame, k: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Brute-force n-gram Jaccard near-dup pairs (doc_a < doc_b).

    BASELINE ONLY — exact O(candidate²) oracle anchor for the bucketed
    paths; at corpus scale use ``minhash_lsh_pairs`` (banded LSH, same
    output schema, probabilistic recall / exact precision).

    Shared-shingle counts (:func:`shared_key_pairs`) → Jaccard from
    per-doc set sizes. Group-bys are keyed on doc-id pairs (uniform).
    """
    return (
        _shingle_overlap(documents, k)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_shared")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _with_minhash_sigs(sh: DataFrame, num_hashes: int) -> DataFrame:
    """Shingle frame (doc_id, shingles, …) + signature columns
    h0..h{n-1} appended SCAN-SIDE: one projection binds the per-shingle
    concatenation of the num_hashes/4 md5 strings (computed once — the
    bound-column discipline from :func:`shingled`; a non-cheap
    expression referenced 16× is never re-inlined by CollapseProject),
    then each h_i is an ``array_min`` over a substring transform of
    that bound array. No explode, no hash aggregate, no exchange: the
    signature is computed where the shingle array already lives (r15;
    the previous explode → groupBy(min) shape shuffled |docs| ×
    num_hashes 8-char strings and put a blocking aggregate into every
    consumer's plan). ``array_min`` over the transformed non-empty
    array equals the grouped ``min`` over exploded rows exactly (same
    binary string ordering; ``shingled`` filters empty arrays)."""
    md5s = sh.withColumn(
        "_m",
        F.transform(
            "shingles",
            lambda s: F.concat(
                *[
                    F.md5(F.concat(F.lit(f"{g}:"), s))
                    for g in range(num_hashes // 4)
                ]
            ),
        ),
    )
    def _h(i: int):
        off = (i // 4) * 32 + (i % 4) * 8 + 1
        return F.array_min(
            F.transform("_m", lambda x: x.substr(F.lit(off), F.lit(8)))
        ).alias(f"h{i}")

    return md5s.select(
        *[c for c in sh.columns], *[_h(i) for i in range(num_hashes)]
    )


def minhash_signatures(
    documents: DataFrame,
    k: int = 3,
    num_hashes: int = 16,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """doc_id + minhash signature columns h0..h{n-1}.

    Hash family i = 8-hex-char slice (i mod 4) of md5((i div 4) || ':' ||
    shingle): each md5 call yields four independent 32-bit hash values,
    so ``num_hashes`` functions cost num_hashes/4 md5 evaluations per
    shingle — md5 dominates this operator's CPU at corpus scale. A
    32-bit minimum stays collision-resistant for any realistic shingle
    count per document; portable across engines (md5 + substring only).

    Plan shape (matters at scale): computed scan-side by
    :func:`_with_minhash_sigs` — one projection, zero exchanges; the
    shingle arrays never shuffle and neither do the signatures.
    """
    if num_hashes % 4:
        raise ValueError(f"num_hashes must be a multiple of 4, got {num_hashes}")
    sh = shingled(documents, k) if shingle_df is None else shingle_df
    return _with_minhash_sigs(sh, num_hashes).select(
        "doc_id", *[f"h{i}" for i in range(num_hashes)]
    )


def band_join(left: DataFrame, right: DataFrame, keys: list[Column]) -> DataFrame:
    """The banded candidate core: ``left`` ⋈ ``right``, aliased ``a`` /
    ``b``, on a shared band bucket. ``keys`` holds band i's key as the
    i-th expression over either side's columns; each side gets the
    array ``bk`` of its keys, posexploded into (band, key), and rows
    meet on equal (band, key) — only same-bucket rows ever share a
    shuffle partition, never O(n²). Everything else a side carries is
    there for the caller's verify step.

    First-match emission: a row pair joins only in its LOWEST band with
    equal keys (every earlier band's key must differ), so a multi-band
    collision surfaces exactly once and the candidate set needs no
    dropDuplicates shuffle. Self-pair callers add ``a.<id> < b.<id>``;
    a one-sided join (new ⋈ old) adds no ordering. The predicate is
    unrolled over the bands, plain codegen: as one ``zip_with`` lambda
    it made ``simhash_pairs``' candidate join (1.3 M pairs at sf0.1,
    4 cores) 2.8× slower."""

    def banded(side: DataFrame) -> DataFrame:
        with_bk = side.select("*", F.array(*keys).alias("bk"))
        return with_bk.selectExpr("*", "posexplode(bk) AS (band, key)")

    # one SQL string and, for a self-join, one banded frame: the driver
    # builds this plan on every call, and each Column op or DataFrame
    # step is a py4j round trip plus an analysis
    cond = " AND ".join(
        ["a.band = b.band", "a.key = b.key"]
        + [
            f"(a.band <= {i} OR element_at(a.bk, {i + 1}) != element_at(b.bk, {i + 1}))"
            for i in range(len(keys) - 1)
        ]
    )
    a = banded(left)
    b = a if right is left else banded(right)
    return a.alias("a").join(b.alias("b"), F.expr(cond))


def _band_keys(num_hashes: int, bands: int) -> list[Column]:
    """MinHash band keys of a signature frame (h0..h{n-1}): band i's key
    is its slice of the signature joined by '|'. The raw concatenation
    IS the bucket id — hashing it again (md5) would only relabel equal
    keys equal."""
    rpb = num_hashes // bands
    return [
        F.concat_ws("|", *[F.col(f"h{b * rpb + j}") for j in range(rpb)])
        for b in range(bands)
    ]


def minhash_lsh_pairs(
    documents: DataFrame,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded-LSH near-dup pairs, verified with exact Jaccard.

    Pipeline: signatures → per-band keys → :func:`band_join` on (band,
    key), first match only → exact Jaccard via array_intersect on the
    carried shingle sets → threshold. Output matches ``jaccard_pairs``
    (doc_a, doc_b, jaccard) restricted to LSH candidates — recall is
    probabilistic, precision exact.
    """
    # ONE materialization (r15, was two): the scan-side signatures ride
    # the same frame as the shingle arrays, so a single checkpoint
    # (doc_id, shingles, h0..h{n-1}) feeds the band self-join (both
    # sides) AND both sides of the verification join. Callers composing
    # several shingle consumers (curation.py) pass an already-
    # materialized shingle frame; the fused checkpoint reads it once.
    sh_raw = shingled(documents, k) if shingle_df is None else shingle_df
    base = _with_minhash_sigs(sh_raw, num_hashes).transform(materialize)
    # slim band rows (r15): the join reads only doc_id and the band
    # keys, so the shingle arrays and signatures are pruned from its
    # exchange
    candidates = (
        band_join(base, base, _band_keys(num_hashes, bands))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    return _jaccard_verified(candidates, base, base, threshold)


def _jaccard_verified(
    pairs: DataFrame, left: DataFrame, right: DataFrame, threshold: float
) -> DataFrame:
    """Candidate pairs (doc_a, doc_b) scored by the exact Jaccard of
    their shingle sets — doc_a's from ``left``, doc_b's from ``right``
    (doc_id, shingles): fetched only for candidate docs. Output: doc_a,
    doc_b, jaccard (4 dp) >= ``threshold``."""
    sa = left.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = right.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_incremental(
    documents_new: DataFrame,
    documents_old: DataFrame,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental (one-sided) MinHash dedup — the production INGESTION
    shape: a new batch of documents is admitted against the EXISTING
    corpus, never against itself and never corpus-vs-corpus
    (:func:`minhash_lsh_pairs` is the full symmetric pass; re-running
    it per ingest re-pays the whole corpus × corpus candidate join for
    a batch that is a sliver of it).

    Pipeline: both sides get signatures via the shared machinery, the
    banded join (:func:`band_join`, first-match emission, so a
    multi-band collision surfaces once with no dropDuplicates pass)
    runs NEW × OLD only, candidates verify with exact Jaccard on the
    carried shingle sets, and each new doc keeps its BEST corpus match
    (max jaccard, lowest old doc_id on ties — a struct-min aggregate,
    no window). At 100 TB the old side's banded frame is the persisted
    index (write once, the ``write_ann_index`` precedent) and the join
    is one-sided: cost scales with the BATCH, not the corpus².

    Output: one row per NEW doc — doc_id, admit (1 = no corpus match
    ≥ threshold), dup_of (best matching old doc_id, NULL when
    admitted), jaccard (4 dp, NULL when admitted). New docs with no
    shingles (short/empty text) admit trivially — consistent with the
    shingle-based operators.
    """
    sh_new = shingled(documents_new, k).transform(materialize)
    sh_old = shingled(documents_old, k).transform(materialize)
    candidates = band_join(
        minhash_signatures(documents_new, k, num_hashes, shingle_df=sh_new),
        minhash_signatures(documents_old, k, num_hashes, shingle_df=sh_old),
        _band_keys(num_hashes, bands),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    verified = _jaccard_verified(candidates, sh_new, sh_old, threshold)
    best = verified.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.min(
            F.struct((-F.col("jaccard")).alias("nj"), F.col("doc_b").alias("d"))
        ).alias("b")
    )
    return documents_new.select("doc_id").join(best, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("b").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("admit"),
        F.col("b.d").alias("dup_of"),
        (-F.col("b.nj")).alias("jaccard"),
    )


# --- SimHash ------------------------------------------------------------

_HEX = "0123456789abcdef"
_POPCOUNT4 = "0112122312232334"  # popcount lookup for a 4-bit value


def simhash_signatures(documents: DataFrame) -> DataFrame:
    """64-bit SimHash per document as a 16-hex-char string.

    Classic Charikar construction, UDF-free: distinct lowercased tokens
    → md5 → first 16 hex digits = 64 bits → per-bit ±1 vote summed per
    doc → sign vector reassembled into hex. md5-derived bits keep the
    operator bit-identical across engines (oracle-checkable), unlike
    murmur/xxhash whose implementations differ.

    One explode + one 64-column hash aggregate: shuffle volume is
    |docs| × 64 ints regardless of document length — scales to 100 TB.
    (``array_distinct`` already dedups tokens inside each document, so
    the exploded rows are distinct by construction — no dedup shuffle.)
    Docs with zero tokens produce no signature (consistent with the
    shingle-based operators).
    """
    # The per-bit expressions are emitted as SQL strings, not Column-op
    # chains: building 64 vote columns op-by-op costs ~8k py4j round
    # trips (~2 s of driver latency per plan, measured) while the
    # resulting Catalyst plan is identical. One F.expr parse per
    # aggregate column keeps plan construction in the low milliseconds —
    # on a busy production driver that latency is queueing delay for
    # every other job.
    toks = widen(documents).select(
        "doc_id", F.explode(F.array_distinct(T.lower_tokens(F.col("text")))).alias("tok")
    )
    # parse the 64 hash bits into two 32-bit longs in a projection BELOW
    # the aggregate — 2 conv calls per token, with the 64 per-bit votes
    # reading those longs by shift+mask instead of running 16
    # substring+instr digit lookups per row (string work is the
    # signature pass's hotspot)
    h = toks.selectExpr("doc_id", "md5(tok) AS hx")
    halves = h.selectExpr(
        "doc_id",
        "cast(conv(substring(hx, 1, 8), 16, 10) as long) AS hi",
        "cast(conv(substring(hx, 9, 8), 16, 10) as long) AS lo",
    )
    vote_cols = []
    for p in range(16):
        for b in range(4):
            gbit = 4 * p + b  # global bit index, MSB-first hex order
            src = "hi" if gbit < 32 else "lo"
            vote_cols.append(
                F.expr(
                    f"sum((shiftright({src}, {31 - (gbit % 32)}) & 1) * 2 - 1)"
                ).alias(f"s_{p}_{b}")
            )
    votes = halves.groupBy("doc_id").agg(*vote_cols)
    digits = ", ".join(
        f"substring('{_HEX}', "
        f"cast(s_{p}_0 > 0 as int) * 8 + cast(s_{p}_1 > 0 as int) * 4 + "
        f"cast(s_{p}_2 > 0 as int) * 2 + cast(s_{p}_3 > 0 as int) + 1, 1)"
        for p in range(16)
    )
    return votes.selectExpr("doc_id", f"concat({digits}) AS simhash")


def hamming() -> str:
    """SQL for the bit distance between the 64-bit signatures of a pair
    join's two sides, each carried as two 32-bit longs ``hi`` / ``lo``:
    two XORs and two popcounts (int). A string, so a caller's output
    projection stays one ``selectExpr``."""
    return "cast(bit_count(a.hi ^ b.hi) + bit_count(a.lo ^ b.lo) as int)"


def _simhash_chunks(documents: DataFrame) -> DataFrame:
    """doc_id and the SimHash signature as two 32-bit longs (hi, lo),
    read by :func:`hamming` and by the band keys
    (:func:`_simhash_bands`). The signature aggregate feeds both sides of
    the chunk join — materialized once, |docs| rows of 16 chars."""
    return simhash_signatures(documents).transform(materialize).selectExpr(
        "doc_id",
        "cast(conv(substring(simhash, 1, 8), 16, 10) as long) AS hi",
        "cast(conv(substring(simhash, 9, 8), 16, 10) as long) AS lo",
    )


def _simhash_bands() -> list[Column]:
    """The band keys of :func:`_simhash_chunks`: the signature's four
    16-bit chunks, most significant first, by shift and mask."""
    return [
        F.expr(f"shiftright({'hi' if c < 2 else 'lo'}, {16 * (1 - c % 2)}) & 65535")
        for c in range(4)
    ]


def simhash_pairs(documents: DataFrame, max_hamming: int = 8) -> DataFrame:
    """SimHash near-dup candidate pairs with exact Hamming distance.

    LSH-style banding on the four 16-bit chunks of the signature (a pair
    within Hamming ≤ 8 of 64 usually agrees on ≥1 chunk): candidates
    join only on chunk equality (:func:`band_join`, first match only) —
    never O(n²) — and the chunk rows carry the signature as two longs,
    so the exact Hamming distance is computed inside the join with no
    signature lookup afterwards. Output: doc_a, doc_b, hamming (int),
    ascending-unique pairs.
    """
    chunks = _simhash_chunks(documents)
    return (
        band_join(chunks, chunks, _simhash_bands())
        .filter("a.doc_id < b.doc_id")
        .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b", f"{hamming()} AS hamming")
        .filter(F.col("hamming") <= max_hamming)
    )


def minhash_jaccard_estimates(
    documents: DataFrame,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    min_est: float = 0.5,
) -> DataFrame:
    """Signature-only near-dup pairs: Jaccard ESTIMATED as the fraction
    of agreeing minhash values — no shingle-set verification join at
    all. This is the cheapest tier of the dedup ladder: candidate
    generation and scoring both run on the fixed-size signatures, so
    corpus text is scanned exactly once (for signatures) regardless of
    how many pairs collide. Standard estimator: E[matches/num_hashes] =
    J(a,b). Output: doc_a, doc_b, jaccard_est (4 dp).

    The signature frame is localCheckpoint-ed because it feeds both join
    sides; without it the dominant shingling/md5 scan would re-run per
    consumer ("scanned exactly once" is only true if the plan reuses the
    scan). Band rows carry the full signature through the join — fixed
    num_hashes × 8-char payload — so the estimate is computed INSIDE the
    candidate join (no post-join signature lookups), and
    :func:`band_join`'s first-match emission yields each colliding pair
    exactly once with no dropDuplicates shuffle.
    """
    sigs = minhash_signatures(documents, k, num_hashes).transform(materialize)
    matches = sum(
        (F.col(f"a.h{i}") == F.col(f"b.h{i}")).cast("int") for i in range(num_hashes)
    )
    return (
        band_join(sigs, sigs, _band_keys(num_hashes, bands))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(matches / F.lit(float(num_hashes)), 4).alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= min_est)
    )


def contamination_pairs(
    documents: DataFrame,
    eval_max_id: int = 10,
    k: int = 3,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Eval-set decontamination — the overlap check a training pipeline
    runs before any corpus ships: for every training document, count the
    k-token shingles it shares with each held-out eval document (here:
    doc_id < ``eval_max_id`` plays the eval set). Any row in the output
    is a contamination candidate; downstream filtering drops or scrubs
    them.

    Shape: one shingle materialization, eval-side inverted index
    broadcast (the eval set is small by definition — benchmarks, not
    corpora), training side streamed through the broadcast hash join and
    rolled up per (train, eval) pair. No shuffle carries shingle arrays;
    at 100 TB the train side stays a single scan. Output: doc_id,
    eval_doc, n_shared.
    """
    # both the broadcast eval build and the streamed train probe read
    # the shingle frame — materialize once (same reasoning as
    # minhash_lsh_pairs: shingling dominates this operator's CPU)
    sh = shingled(documents, k).transform(materialize) if shingle_df is None else shingle_df
    ev = sh.filter(F.col("doc_id") < eval_max_id).select(
        F.col("doc_id").alias("eval_doc"), F.explode("shingles").alias("sh")
    )
    tr = sh.filter(F.col("doc_id") >= eval_max_id).select(
        "doc_id", F.explode("shingles").alias("sh")
    )
    return (
        tr.join(F.broadcast(ev), "sh")
        .groupBy("doc_id", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def dedup_clusters(
    pairs: DataFrame,
    max_iter: int = 20,
    sym_df: DataFrame | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph — the step that
    turns pairwise similarity (jaccard/minhash/simhash/cosine pairs)
    into dedup decisions.

    Iterative min-label propagation: every node starts labeled with its
    own id; each round it adopts the minimum label among itself and its
    neighbors. Converges in O(graph diameter) rounds — near-dup
    clusters are dense and shallow, so a handful of rounds suffices.
    Each round is one keyed join + aggregate (no driver-side graph);
    ``localCheckpoint`` truncates the growing lineage so round N's plan
    doesn't replay rounds 1..N-1. At cluster scale, swap in a reliable
    checkpoint dir; the algorithm itself (label propagation over edge
    joins) is how GraphX/GraphFrames run CC on Spark. This is the
    engine's one CC operator (``dedup_clusters_scalable`` and
    :func:`cluster_coherence` run it over banded-LSH pairs); the graphs
    of the sf0.01/sf0.1 corpora converge in at most 11 rounds.

    Raises ``RuntimeError`` when ``max_iter`` rounds end with labels
    still changing — a chain longer than the cap, which a silent stop
    would return with wrong labels.

    Output: doc_id, cluster_id (= min doc_id reachable) for every doc
    that appears in at least one pair.
    """
    # callers that already hold a MATERIALIZED symmetric (a, b) edge
    # frame pass it via ``sym_df`` (the shingle_df pattern) and skip
    # this checkpoint — basket_communities fuses its edge build and the
    # symmetrization into one blocking job that way (r15)
    if sym_df is not None:
        sym = sym_df
    else:
        edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        sym = edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).transform(materialize)
    # initial labels stay LAZY (r15): the distinct over the sym
    # checkpoint folds into round 1's blocking materialize (the two
    # round-1 references share the distinct's exchange), saving one
    # construct-time driver job; every later round joins against the
    # previous round's checkpointed labels as before.
    labels = (
        sym.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym["b"] == labels["doc_id"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        # a row's label changes iff a neighbor offered a strictly
        # smaller one — computed as a flag column in the SAME
        # projection, so the convergence check is a cheap filter+count
        # over the just-checkpointed blocks instead of the old
        # join-new-against-old shuffle job per round (r15)
        new_labels = materialize(
            labels.join(nbr, labels["doc_id"] == nbr["a"], "left").select(
                labels["doc_id"],
                F.least(
                    labels["label"], F.coalesce(F.col("nbr_label"), labels["label"])
                ).alias("label"),
                (F.col("nbr_label") < labels["label"]).alias("chg"),
            )
        )
        labels = new_labels.select("doc_id", "label")
        if new_labels.filter("chg").isEmpty():
            break
    else:
        raise RuntimeError(
            f"min-label propagation did not converge in {max_iter} rounds"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def dedup_summary(documents: DataFrame, clusters: DataFrame) -> DataFrame:
    """Corpus-level dedup outcome: keep the cluster representative
    (min doc_id) from every near-dup cluster plus all unclustered docs.

    Two 1-row aggregates cross-joined — no per-doc output, so the
    result size is constant at any corpus scale.
    Output: n_docs, n_kept, n_removed.
    """
    removed = clusters.agg(
        F.coalesce(
            F.sum((F.col("doc_id") != F.col("cluster_id")).cast("long")), F.lit(0)
        ).alias("n_removed")
    )
    total = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    return total.crossJoin(F.broadcast(removed)).select(
        "n_docs",
        (F.col("n_docs") - F.col("n_removed")).alias("n_kept"),
        "n_removed",
    )


def lsh_recall_summary(documents: DataFrame, threshold: float = 0.1) -> DataFrame:
    """Self-measured LSH quality: recall of ``minhash_lsh_pairs``
    against the exact ``jaccard_pairs`` ground truth at the same
    threshold — the audit every probabilistic-dedup deployment should
    ship next to its banding config. Precision is 1.0 by construction
    (LSH candidates are exact-Jaccard verified before emission, so the
    LSH pair set is a subset of the truth set), which reduces the
    metric to two 1-row counts cross-joined: constant-size output at
    any corpus scale; the truth side is the documented O(n²)-worst-case
    exact baseline, so this is a validation query, not a hot-path one.
    Output: n_true, n_lsh, recall.
    """
    n_true = jaccard_pairs(documents, threshold=threshold).agg(
        F.count(F.lit(1)).alias("n_true")
    )
    n_lsh = minhash_lsh_pairs(documents, threshold=threshold).agg(
        F.count(F.lit(1)).alias("n_lsh")
    )
    return n_true.crossJoin(F.broadcast(n_lsh)).select(
        "n_true",
        "n_lsh",
        F.when(
            F.col("n_true") > 0, F.round(F.col("n_lsh") / F.col("n_true"), 4)
        ).alias("recall"),
    )


def corpus_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot diff between two corpus versions — the incremental-
    ingest primitive: a refreshed crawl/delivery lands beside the
    previous snapshot, and everything downstream (re-tokenization,
    re-embedding, re-dedup) should touch ONLY the delta, not the
    corpus. Full-outer join on doc_id comparing the normalized content
    fingerprint (`functions.text.fingerprint`, the exact_dedup key):

    * ``added``     — doc_id only in the new snapshot
    * ``removed``   — doc_id only in the old
    * ``changed``   — present in both, fingerprint differs
    * ``unchanged`` — present in both, fingerprint equal

    Output: one row per doc_id with status + both fingerprints —
    filter by status to drive the incremental stages. Shuffle carries
    (doc_id, 32-hex fp) pairs, never text; at 100 TB both sides read
    only their id+text columns and the join keys on the id the
    snapshots are already bucketed by.
    """
    o = old.select(
        "doc_id", T.fingerprint(F.col("text")).alias("fp_old")
    )
    n = new.select(
        "doc_id", T.fingerprint(F.col("text")).alias("fp_new")
    )
    joined = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") == F.col("fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select("doc_id", status.alias("status"), "fp_old", "fp_new")


def corpus_diff_summary(old: DataFrame, new: DataFrame) -> DataFrame:
    """Counts per diff status — the refresh-monitoring rollup (how much
    churn did this delivery bring?). Output: status, n_docs."""
    return (
        corpus_diff(old, new)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("status")
    )


def split_leakage_audit(documents: DataFrame, clusters: DataFrame) -> DataFrame:
    """Near-dup-aware train/val/test assignment plus the leakage audit
    that justifies it. Naive per-document hash splits leak: two
    near-duplicate documents land in train and test and the eval is
    contaminated. The fix is to split by DEDUP GROUP — every member of
    a near-dup cluster (``dedup_clusters`` output; unclustered docs are
    their own group) hashes to the same split, so no group ever spans
    the boundary. This op assigns both policies and measures the
    difference.

    Hash → split uses the engine's standard md5-bucket idiom
    (``hash_split_summary``): first 4 hex chars → pct in [0, 100),
    <80 train / <90 val / else test.

    Plan: clusters is near-dup-pair-sized (tiny next to the corpus) but
    keyed like it, so the left join on doc_id is one co-partitioned
    exchange; the three audit aggregates run over (doc_id, group_id,
    two split labels) — narrow rows — and produce 3-row frames joined
    broadcast at the end. Constant-size output at any corpus scale.

    Output (one row per split): split, n_docs, n_groups, n_docs_naive,
    n_leaky_groups (groups assigned here whose members span >1 split
    under the NAIVE policy — the leakage the grouped policy removes;
    by construction the grouped policy's own spanning count is zero,
    asserted by test rather than carried as a constant column).
    """
    split_of = lambda c: (
        F.when(hash_pct(c) < 80, "train")
        .when(hash_pct(c) < 90, "val")
        .otherwise("test")
    )
    assigned = (
        documents.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("group_id"),
        )
        .select(
            "doc_id",
            "group_id",
            split_of(F.col("group_id")).alias("split"),
            split_of(F.col("doc_id")).alias("split_naive"),
        )
    )
    by_group = assigned.groupBy("group_id").agg(
        # min, not first: the value is constant within a group (split is
        # a function of group_id) but min is PROVABLY order-independent,
        # and it mirrors the oracle's min(split) exactly
        F.min("split").alias("split"),
        F.countDistinct("split_naive").alias("n_naive_splits"),
    )
    grouped = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("group_id").alias("n_groups"),
    )
    naive = assigned.groupBy(F.col("split_naive").alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs_naive")
    )
    leaky = by_group.groupBy("split").agg(
        F.sum((F.col("n_naive_splits") > 1).cast("long")).alias("n_leaky_groups")
    )
    return (
        grouped.join(F.broadcast(naive), "split", "left")
        .join(F.broadcast(leaky), "split", "left")
        .select(
            "split",
            "n_docs",
            "n_groups",
            F.coalesce("n_docs_naive", F.lit(0)).alias("n_docs_naive"),
            F.coalesce("n_leaky_groups", F.lit(0)).alias("n_leaky_groups"),
        )
    )


def decontaminated_corpus(
    documents: DataFrame,
    eval_max_id: int = 10,
    k: int = 3,
    min_shared: int = 2,
) -> DataFrame:
    """The decontamination TRANSFORM: the training corpus after
    dropping every document sharing ≥ ``min_shared`` k-token shingles
    with the held-out eval set (``contamination_pairs`` is the audit;
    this applies the verdict — the step a corpus must pass before its
    evals mean anything).

    Plan: the candidate drop-list is contamination-pair-sized (tiny),
    aggregated per training doc and LEFT ANTI joined against the
    training scan — the corpus itself streams through one broadcastable
    anti join. Output: doc_id, lang, source.
    """
    cands = (
        contamination_pairs(documents, eval_max_id=eval_max_id, k=k)
        .filter(F.col("n_shared") >= min_shared)
        .select("doc_id")
        .distinct()
    )
    return (
        documents.filter(F.col("doc_id") >= eval_max_id)
        .join(F.broadcast(cands), "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )


def dedup_threshold_curve(
    documents: DataFrame,
    thresholds: tuple = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
    k: int = 3,
) -> DataFrame:
    """Dedup operating curve: how many near-dup pairs and how many
    distinct documents a Jaccard threshold would implicate, for a sweep
    of thresholds — the tuning table that justifies a production
    threshold choice instead of folklore.

    One exact-pair materialization at the loosest threshold, then a
    tiny thresholds-array explode over the PAIR frame (pair-sized ×
    |thresholds|, never corpus-sized) and one aggregate. Every
    requested threshold appears in the output — counts LEFT-join onto
    the exploded threshold list and coalesce to 0, so a consumer can
    tell "zero surviving pairs" from "not computed". Output:
    threshold, n_pairs, n_docs.
    """
    pairs = jaccard_pairs(documents, threshold=min(thresholds), k=k)
    t_arr = F.array(*[F.lit(float(t)) for t in sorted(thresholds)])
    swept = pairs.select(
        "doc_a", "doc_b", "jaccard", F.explode(t_arr).alias("threshold")
    ).filter(F.col("jaccard") >= F.col("threshold"))
    n_pairs = swept.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    docs = swept.select("threshold", F.col("doc_a").alias("d")).unionByName(
        swept.select("threshold", F.col("doc_b").alias("d"))
    )
    n_docs = docs.groupBy("threshold").agg(
        F.countDistinct("d").alias("n_docs")
    )
    all_t = documents.sparkSession.range(1).select(
        F.explode(t_arr).alias("threshold")
    )
    return (
        all_t.join(F.broadcast(n_pairs), "threshold", "left")
        .join(F.broadcast(n_docs), "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
    )


def containment_dup_pairs(
    documents: DataFrame, k: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Asymmetric near-dup detection by shingle CONTAINMENT —
    ``|A∩B| / min(|A|, |B|)`` (Broder's containment measure, the other
    half of the resemblance paper): the score that catches EXCERPT
    duplication — one document quoting or wholly containing another —
    which symmetric Jaccard dilutes toward 0 as the containing document
    grows. A curation pipeline runs both: Jaccard for mirror dedup,
    containment for quote/boilerplate-inclusion scrubbing.

    Same candidate machinery as ``jaccard_pairs`` (exact baseline; at
    corpus scale the banded-LSH candidate generator feeds the same
    scorer): one checkpointed shingle materialization, the shared-key
    core's per-pair counts, sizes joined back. The score is a SINGLE
    long/long division + 4-dp round — the certified-safe float shape.
    Output: doc_a, doc_b, containment (doc_a < doc_b; direction-free
    since min() picks the smaller set).
    """
    return (
        _shingle_overlap(documents, k)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_shared") / F.least(F.col("sz_a"), F.col("sz_b")), 4
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def simhash_pairs_capped(
    documents: DataFrame, max_hamming: int = 8, cap: int = 256
) -> DataFrame:
    """Recall-capped SimHash near-dup pairs — the scale twin of
    ``simhash_pairs`` (which stays in the registry as the exact
    baseline). The full banded join's OUTPUT is inherently quadratic
    when signatures cluster: the r6 second decade measured 61.8M
    qualifying pairs over 50k synthetic docs and ×64 wall-clock on ×10
    corpus — one 16-bit band bucket held 22% of the corpus, so pair
    enumeration is the cost, not the join plan. Production simhash
    dedup bounds the bucket instead of enumerating it: each
    (chunk, value) candidate bucket keeps its ``cap`` lowest doc_ids
    (deterministic; the rank-≤-cap window compiles to WindowGroupLimit,
    so map tasks pre-trim before the exchange), pairs enumerate within
    capped buckets only (≤ cap² rows per bucket — linear in corpus
    size for fixed cap), exact Hamming filters, and a pair colliding
    in several capped buckets is deduped in an output-sized shuffle.
    Recall trade (the ``semantic_prune_capped`` discipline): a pair is
    missed only if BOTH members fall beyond the cap in EVERY bucket
    they share — dense near-dup clusters still surface through their
    cap lowest members, which is what a keeper-style dedup consumes.
    It shares ``simhash_pairs``' chunk frame and :func:`hamming` but not
    :func:`band_join`: once buckets are capped, first-match emission
    would lose pairs (a pair cut from its first shared bucket would be
    rejected in a later one), so the capped join enumerates every
    shared bucket and dedups its output instead.
    Output: doc_a, doc_b, hamming (int).
    """
    chunks = _simhash_chunks(documents).select(
        "doc_id",
        "hi",
        "lo",
        F.posexplode(F.array(*_simhash_bands())).alias("chunk", "val"),
    )
    w = Window.partitionBy("chunk", "val").orderBy("doc_id")
    capped = (
        chunks.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
        .drop("rk")
    )
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(
            b,
            F.expr("a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id"),
        )
        .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b", f"{hamming()} AS hamming")
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def cluster_representatives(
    documents: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Quality-aware canonical-document selection per near-dup cluster
    — the dedup DECISION a production pipeline actually ships:
    ``dedup_clusters``/``exact_dedup`` keep the min doc_id, but
    RefinedWeb-style curation keeps the BEST cluster member. Each
    cluster's representative is its highest-``doc_stats``-quality
    member (ties → min doc_id); documents in no pair are singleton
    clusters and appear with themselves as representative, so the
    output is a complete keep-decision table.

    Plan: connected components from the supplied pair frame (the
    ``dedup_clusters`` iterative min-label machinery, O(diameter)
    rounds), a left-anti union for singletons (id-only rows), one
    quality join, and a per-cluster struct-max — an aggregate, never a
    window sort. Output: cluster_id, rep_doc_id, n_members,
    rep_quality, ordered by cluster_id.
    """
    from data_pipeline_example_spark.operators.text import doc_stats

    clusters = dedup_clusters(pairs)
    singles = (
        documents.select("doc_id")
        .join(clusters.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    members = clusters.unionByName(singles)
    qual = doc_stats(documents).select("doc_id", "quality")
    return (
        members.join(qual, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max(
                F.struct(F.col("quality"), (-F.col("doc_id")).alias("nd"))
            ).alias("top"),
        )
        .select(
            "cluster_id",
            (-F.col("top.nd")).alias("rep_doc_id"),
            "n_members",
            F.col("top.quality").alias("rep_quality"),
        )
        .orderBy("cluster_id")
    )


def source_overlap_matrix(
    documents: DataFrame, threshold: float = 0.1
) -> DataFrame:
    """Cross-source duplication matrix: for every (source, source)
    cell, how many verified near-dup pairs straddle it — the
    contamination audit run before mixing corpora (is source B a
    scrape of source A?).

    Composes :func:`minhash_lsh_pairs` (banded candidates, exact
    Jaccard verification — the registered scale path, never all-pairs)
    and aggregates the pair stream to the bounded #sources² grid, so
    the OUTPUT is planning-sized even though the pair stream isn't
    (the capped-output discipline at the aggregation level). The
    doc→source enrichment joins are left to AQE (pairs is small at low
    SF, unbounded-ish at 100 TB — the returned_item_ranking
    no-forced-broadcast precedent). Cells are unordered source pairs
    (least/greatest) so A→B and B→A collapse. Exactness: counts exact
    longs; max_jaccard is a MAX over already-4-dp values
    (order-independent — never an AVG of floats, whose accumulation
    order differs across engines). Output: source_a, source_b,
    dup_pairs, max_jaccard.
    """
    pairs = minhash_lsh_pairs(documents, threshold=threshold)
    src = documents.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("s_a")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("s_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("s_a", "s_b").alias("source_a"),
            F.greatest("s_a", "s_b").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("dup_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def dup_distance_profile(
    documents: DataFrame, n_epochs: int = 10, threshold: float = 0.1
) -> DataFrame:
    """Near-dup pairs by ingestion-EPOCH distance — the re-crawl
    cadence profile: Common-Crawl-scale corpora duplicate mostly
    across snapshots (the same page re-fetched each crawl), and the
    distance histogram tells the pipeline how many epochs of history
    the dedup horizon must span before marginal pairs vanish (the
    number that sizes ``minhash_incremental``'s index retention and
    the streaming watermark).

    Composes the certified banded-LSH pair stream with
    :func:`text.vocab_drift`'s positional epoch axis: epoch =
    (doc_id · n_epochs) div (max doc_id + 1), distance =
    |epoch_a − epoch_b|. Pure arithmetic over the (id, id) pair rows —
    the profile adds one bounded aggregate (≤ ``n_epochs`` rows) and a
    1-row total broadcast on top of the pair generator's cost.
    Output: epoch_distance, n_pairs, share_micro (of all verified
    pairs), ordered by distance.
    """
    pairs = minhash_lsh_pairs(documents, threshold=threshold).select(
        "doc_a", "doc_b"
    )
    n = documents.filter(F.col("doc_id").isNotNull()).agg(
        (F.max("doc_id") + 1).alias("n")
    )
    dist = pairs.crossJoin(F.broadcast(n)).select(
        F.abs(
            F.expr(f"(doc_a * {int(n_epochs)}) div n")
            - F.expr(f"(doc_b * {int(n_epochs)}) div n")
        ).alias("epoch_distance")
    )
    hist = dist.groupBy("epoch_distance").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    tot = hist.agg(F.sum("n_pairs").cast("long").alias("t"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "epoch_distance",
            "n_pairs",
            F.expr("CASE WHEN t = 0 THEN 0 ELSE (n_pairs * 1000000) div t END")
            .cast("long")
            .alias("share_micro"),
        )
        .orderBy("epoch_distance")
    )


def cluster_coherence(documents: DataFrame, threshold: float = 0.1) -> DataFrame:
    """Per-cluster dedup-QUALITY audit — are the connected components
    actually coherent dup families, or did transitive chaining weld
    unrelated documents together? For every near-dup cluster: member
    count, verified-pair count, the pair-graph density (n_pairs over
    the m·(m−1)/2 possible — 1e6 means a clique: every member verified
    against every other; low density means a chain, exactly the shape
    where dropping all-but-one member loses non-duplicate content),
    and the mean verified Jaccard.

    Composes the certified scale paths: banded-LSH verified pairs
    (materialized ONCE, feeding both the CC and the rollup) +
    :func:`dedup_clusters`' min-label propagation. The rollup itself is one
    doc-keyed join and two bounded aggregates over pair/cluster rows —
    no text, no new corpus scan.

    Integer discipline: jaccard is the 4-dp verified value, lifted to
    exact micro longs; density uses the triple-schoolbook division
    (exact while m ≤ ~3·10⁶ members per cluster — a cluster beyond
    that means dedup already failed upstream, documented bound).
    Output: cluster_id, n_members, n_pairs, density_micro,
    mean_jaccard_micro, ordered by cluster_id.
    """
    pairs = minhash_lsh_pairs(documents, threshold=threshold).transform(materialize)
    clusters = dedup_clusters(pairs)
    members = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    per = (
        pairs.join(
            clusters.select(F.col("doc_id").alias("doc_a"), "cluster_id"), "doc_a"
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.round(F.col("jaccard") * 1e6, 0).cast("long"))
            .cast("long")
            .alias("jsum"),
        )
    )
    return (
        members.join(per, "cluster_id")
        .select(
            "cluster_id",
            "n_members",
            "n_pairs",
            F.expr(
                # (2*n_pairs*1e6) div (m*(m-1)), triple-schoolbook
                "((2 * n_pairs) div (n_members * (n_members - 1))) * 1000000 "
                "+ (((2 * n_pairs) % (n_members * (n_members - 1))) * 1000 "
                "   div (n_members * (n_members - 1))) * 1000 "
                "+ ((((2 * n_pairs) % (n_members * (n_members - 1))) * 1000 "
                "    % (n_members * (n_members - 1))) * 1000) "
                "  div (n_members * (n_members - 1))"
            )
            .cast("long")
            .alias("density_micro"),
            F.expr("jsum div n_pairs").cast("long").alias("mean_jaccard_micro"),
        )
        .orderBy("cluster_id")
    )
