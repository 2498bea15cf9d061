"""End-to-end training-corpus curation — the composed pipeline a
training-data team actually ships, built entirely from this engine's
own operators:

    raw documents
      → quality / token-count filter          (text.doc_stats)
      → exact dedup                           (md5 fingerprint keep-set)
      → near-dup drop                         (dedup.minhash_lsh_pairs)
      → eval-set decontamination              (dedup.contamination_pairs)
      → context-length chunking               (text.chunk_documents)
      → sharded parquet export + manifest     (run_curation)

Every stage is a keep-SET of doc_ids joined semi/anti against the next
— document text is carried through exactly once (into chunking), and
all stage frames are id-only, so the composition adds no text shuffles
beyond what the member operators already do. The near-dup rule here is
the cheap deterministic pass (drop the higher doc_id of every verified
LSH pair whose both endpoints survive so far); ``dedup.dedup_clusters``
(min-label propagation, the engine's one connected-components
operator) is the principled version when transitive merge order
matters.

``curation_summary`` exposes the whole pipeline as one driver-certified
single-row query (per-stage survivor counts + chunk/token totals); its
DuckDB oracle recomposes the same stages from the member operators'
oracle SQL.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_example_spark.functions.materialize import materialize

from data_pipeline_example_spark.functions import text as T
from data_pipeline_example_spark.functions.hashing import md5_int
from data_pipeline_example_spark.operators import dedup, text


def curation_stages(
    documents: DataFrame,
    min_quality: float = 0.05,
    min_tokens: int = 10,
    lsh_threshold: float = 0.1,
    contam_shared: int = 5,
    eval_max_id: int = 10,
) -> dict[str, DataFrame]:
    """The staged keep-sets (id-only frames) plus the final chunk frame.

    Returned keys: s1_quality, s2_exact, s3_neardup, s4_decontam (each
    ``doc_id`` only), survivors (full rows), chunks.

    Each keep-set is ``localCheckpoint``ed: they are |docs|-row id
    frames, but several consumers (the next stage, the stage-count
    aggregates in ``curation_summary``, chunking, token totals) read
    each one — without truncation every consumer re-executes the whole
    upstream pipeline (measured 10.7 s → ~5 s warm at sf0.1).
    """
    stats = text.doc_stats(documents).select("doc_id", "n_tokens", "quality")
    s1 = (
        stats.filter(
            (F.col("quality") >= min_quality) & (F.col("n_tokens") >= min_tokens)
        )
        .select("doc_id")
        .transform(materialize)
    )

    fp = documents.join(s1, "doc_id", "left_semi").select(
        "doc_id", T.fingerprint(F.col("text")).alias("fp")
    )
    s2 = (
        fp.groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .transform(materialize)
    )

    # one shingle materialization feeds BOTH the LSH near-dup stage and
    # the decontamination stage (shingling is their dominant CPU)
    sh = dedup.shingled(documents, 3).transform(materialize)

    pairs = dedup.minhash_lsh_pairs(
        documents, threshold=lsh_threshold, shingle_df=sh
    ).select("doc_a", "doc_b")
    drop_b = (
        pairs.join(s2.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(s2.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s3 = s2.join(drop_b, "doc_id", "left_anti").transform(materialize)

    contam = (
        dedup.contamination_pairs(documents, eval_max_id, shingle_df=sh)
        .filter(F.col("n_shared") >= contam_shared)
        .select("doc_id")
        .distinct()
    )
    # eval documents themselves never ship in a training corpus
    s4 = (
        s3.filter(F.col("doc_id") >= eval_max_id)
        .join(contam, "doc_id", "left_anti")
        .transform(materialize)
    )

    survivors = documents.join(s4, "doc_id", "left_semi")
    return {
        "s1_quality": s1,
        "s2_exact": s2,
        "s3_neardup": s3,
        "s4_decontam": s4,
        "survivors": survivors,
        "chunks": text.chunk_documents(survivors),
    }


def curation_summary(documents: DataFrame, **kwargs) -> DataFrame:
    """One row: docs_raw, after_quality, after_exact, after_neardup,
    after_decontam, n_chunks, total_tokens — the audit line every
    curation run logs. Each count is a 1-row aggregate crossJoined in
    via broadcast (no driver-side actions)."""
    st = curation_stages(documents, **kwargs)
    parts = [
        documents.agg(F.count(F.lit(1)).alias("docs_raw")),
        st["s1_quality"].agg(F.count(F.lit(1)).alias("after_quality")),
        st["s2_exact"].agg(F.count(F.lit(1)).alias("after_exact")),
        st["s3_neardup"].agg(F.count(F.lit(1)).alias("after_neardup")),
        st["s4_decontam"].agg(F.count(F.lit(1)).alias("after_decontam")),
        st["chunks"].agg(F.count(F.lit(1)).alias("n_chunks")),
        st["survivors"]
        .select(T.token_count(F.col("text")).cast("long").alias("nt"))
        .agg(
            F.coalesce(F.sum("nt"), F.lit(0).cast("long")).alias("total_tokens")
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.crossJoin(F.broadcast(p))
    return out


def run_curation(
    spark,
    documents: DataFrame,
    out_dir: str,
    shards: int = 8,
    **kwargs,
) -> DataFrame:
    """Execute the pipeline and export the chunked corpus as
    shard-partitioned parquet, returning the manifest (one row per
    shard: n_docs, n_chunks, n_tokens).

    Shard assignment is the deterministic md5 bucket of the doc_id
    (functions/hashing idiom) — stable across runs and engines, so a
    re-run reproduces byte-identical shard membership. The export
    carries chunk hashes + sizes; a tokenizer-owning trainer joins the
    text back by doc_id. Partitioned write → each shard is one
    directory, separately consumable by a downstream loader.
    """
    st = curation_stages(documents, **kwargs)
    sharded = st["chunks"].withColumn(
        "shard",
        (md5_int(F.col("doc_id"), 4) % shards).cast("int"),
    )
    sharded.write.mode("overwrite").partitionBy("shard").parquet(out_dir)
    # read back with the schema just written (the partition column
    # ``shard int`` is already last): no schema-inference job
    back = spark.read.schema(sharded.schema).parquet(out_dir)
    return back.groupBy("shard").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("n_tokens"),
    )


def update_dedup_index(spark, documents: DataFrame, index_path: str) -> DataFrame:
    """Incremental exact dedup against a PERSISTED fingerprint index —
    the batch-sweep half of the lambda split in
    ``streaming/curation.py``: the stream dedups within its watermark
    horizon; this pass dedups each new batch against *everything ever
    admitted* without rescanning old corpora (only the fingerprint
    index, 1 row per distinct document, is read).

    Index schema: fingerprint, keep_doc_id. A new batch is admitted
    fingerprint-by-fingerprint: already-indexed fingerprints are
    duplicates (LEFT ANTI join — shuffle keyed on the uniform 128-bit
    hash; bucket the index by fingerprint to make it co-located at
    100 TB), new fingerprints keep their min doc_id and are APPENDED to
    the index. Returns the admitted (fingerprint, keep_doc_id) frame —
    idempotent: re-running the same batch admits nothing.
    """
    from pyspark.errors import AnalysisException

    if "fingerprint" in documents.columns:  # e.g. streaming gate_and_dedup output
        fp = documents.select("doc_id", "fingerprint")
    else:
        fp = documents.select(
            "doc_id", T.fingerprint(F.col("text")).alias("fingerprint")
        )
    try:
        # pinned: no schema-inference job per call (one per micro-batch
        # in streaming ingest); a missing path still raises here
        index = spark.read.schema("fingerprint string, keep_doc_id long").parquet(
            index_path
        )
    except AnalysisException:
        index = None
    if index is not None:
        fp = fp.join(index.select("fingerprint"), "fingerprint", "left_anti")
    admitted = (
        fp.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"))
        # materialize BEFORE the append: the plan reads the same path it
        # is about to extend
        .transform(materialize)
    )
    admitted.write.mode("append").parquet(index_path)
    return admitted


def corpus_funnel(documents: DataFrame) -> DataFrame:
    """Cross-document curation funnel — the corpus-level companion to
    ``text.quality_funnel`` (which covers the per-document rules):
    survivors of each stage of the modern curation recipe applied in
    order, where the later stages are the CROSS-document ones a
    per-doc funnel can't express:

      1. raw                — corpus size
      2. url_canonical      — keeper of its canonicalized-URL group
                              (``operators.urls``; the CCNet-style
                              provenance dedup that needs NO text, so
                              it runs first at metadata cost)
      3. c4_page            — C4 page gate (relaxed line rule, the
                              registered ``c4_clean`` configuration)
      4. unique_lines       — still has ≥1 line after corpus-wide
                              first-occurrence line dedup
      5. exact_keeper       — canonical survivor of its exact-dup class
      6. decontaminated     — shares < 2 shingles with the eval slice
      7. gopher             — the full strict Gopher document gate last
                              (its published thresholds fail the whole
                              synthetic corpus, so running it late
                              keeps the cross-doc stages informative)

    Single-scan design (the r5 verdict's top item — the previous
    composition re-scanned and re-tokenized the corpus once per member,
    5× I/O at 100 TB): ONE enriched projection computes every per-doc
    expression the five members need — the C4 page flag, the Gopher
    metrics + pass flag (via ``text._gopher_scored``'s passthrough
    hook, so the expressions are the member operators' own), the exact
    fingerprint, the ≥4-word line keys with positions, and the word
    tokens — and the 3-token shingle set is built over that BOUND token
    column (an inline tokenizer would re-run at every reference
    ``word_grams`` makes) before the ``localCheckpoint``, so the corpus
    is read ONCE. The three cross-doc members (line-dedup
    winners, exact keepers, contamination) are narrow shuffles over the
    checkpointed columns, never the text; the conjunction is doc-keyed
    joins plus a constant-size aggregate unpivoted with ``stack``.
    Flag semantics are pinned to the standalone operators by unit test
    and by the composed oracle (each member's oracle SQL reused
    verbatim). Output: stage, rule, n_surviving (7 rows).
    """
    from data_pipeline_example_spark.functions.parallel import widen
    from data_pipeline_example_spark.operators import urls

    txt = F.coalesce(F.col("text"), F.lit(""))
    lines = F.split(txt, "\n")

    # c4_clean(require_terminal=False, min_kept_lines=1) page flag
    f2 = (
        (F.locate("lorem ipsum", F.lower(txt)) == 0)
        & (F.locate("{", txt) == 0)
        & (F.size(F.filter(lines, text.c4_line_rule(5, False))) >= 1)
    ).cast("int")
    # line_dedup(min_words=4) ingredients: structural-line presence
    # (never dedup keys → always kept) and the keyed lines (same md5
    # normalization, posexplode-compatible 0-based positions)
    has_short = (
        F.size(F.filter(lines, lambda l: text.line_words(l) < 4)) > 0
    ).cast("int")
    keyed = F.filter(
        F.transform(
            lines,
            lambda l, i: F.struct(
                text.line_key(l).alias("k"),
                i.alias("pos"),
                text.line_words(l).alias("nw"),
            ),
        ),
        lambda s: s["nw"] >= 4,
    )
    # URL synthesis needs only (doc_id, source); unit fixtures without
    # a source column fall back to a constant host
    src = (
        F.col("source") if "source" in documents.columns else F.lit("unknown")
    )
    canon = urls.canonical_url(urls.synthetic_url(F.col("doc_id"), src))
    extras = (
        ("canon", canon),
        ("f3", f2),
        ("fingerprint", T.fingerprint(F.col("text"))),
        ("has_short", has_short),
        ("keyed", keyed),
        ("toks", T.lower_tokens(F.col("text"))),
    )
    enriched = (
        text._gopher_scored(widen(documents), extras)
        .select(
            "doc_id",
            "canon",
            "f3",
            "has_short",
            "fingerprint",
            "keyed",
            F.array_distinct(T.word_grams("toks", 3)).alias("shingles"),
            text.gopher_passes().cast("int").alias("f7"),
        )
        .transform(materialize)
    )
    # canonical-URL keepers: min doc_id per canonical key (urls.
    # url_canonical_dedup's verdict, over the metadata-only columns)
    url_keepers = (
        # NULL-source docs synthesize a NULL URL; the member operator
        # (url_canonical_dedup) loses them in its join-on-canonical-key,
        # so the funnel must NOT crown them keepers via a NULL groupBy
        # group (r15 degenerate sweep — Spark groupBy keeps a NULL group
        # where the member's equi-join drops it)
        enriched.filter(F.col("canon").isNotNull())
        .groupBy("canon")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .withColumn("f2u", F.lit(1))
    )
    # corpus-wide line-dedup winners: a doc survives iff it owns the
    # min (doc_id, pos) of ≥1 line hash (or has a structural line)
    winners = (
        enriched.select("doc_id", F.explode("keyed").alias("e"))
        .groupBy(F.col("e.k").alias("k"))
        .agg(
            F.min(
                F.struct(F.col("doc_id"), F.col("e.pos").alias("pos"))
            ).alias("keep")
        )
        .select(F.col("keep.doc_id").alias("doc_id"))
        .distinct()
        .withColumn("f4w", F.lit(1))
    )
    keepers = (
        enriched.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .withColumn("f5", F.lit(1))
    )
    # contamination_pairs(eval_max_id=10, k=3) over the shared shingles
    ev = enriched.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("eval_doc"), F.explode("shingles").alias("sh")
    )
    tr = enriched.filter(F.col("doc_id") >= 10).select(
        "doc_id", F.explode("shingles").alias("sh")
    )
    cont = (
        tr.join(F.broadcast(ev), "sh")
        .groupBy("doc_id", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(1))
    )
    flags = (
        enriched.select("doc_id", "f3", "has_short", "f7")
        .join(url_keepers, "doc_id", "left")
        .join(winners, "doc_id", "left")
        .join(keepers, "doc_id", "left")
        .join(F.broadcast(cont), "doc_id", "left")
        .select(
            F.lit(1).alias("f1"),
            F.when(F.col("f2u").isNotNull(), 1).otherwise(0).alias("f2"),
            F.col("f3"),
            F.greatest(
                "has_short",
                F.when(F.col("f4w").isNotNull(), 1).otherwise(0),
            ).alias("f4"),
            F.when(F.col("f5").isNotNull(), 1).otherwise(0).alias("f5"),
            F.when(F.col("contaminated").isNull(), 1).otherwise(0).alias("f6"),
            F.col("f7"),
        )
    )
    rules = [
        "raw",
        "url_canonical",
        "c4_page",
        "unique_lines",
        "exact_keeper",
        "decontaminated",
        "gopher",
    ]
    aggs = []
    cum = None
    for i in range(1, len(rules) + 1):
        cum = F.col(f"f{i}") if cum is None else cum * F.col(f"f{i}")
        aggs.append(F.sum(cum).cast("long").alias(f"sv{i}"))
    one = flags.agg(*aggs)
    stacked = ", ".join(
        f"{i}, '{rule}', sv{i}" for i, rule in enumerate(rules, start=1)
    )
    return one.selectExpr(
        f"stack({len(rules)}, {stacked}) AS (stage, rule, n_surviving)"
    )


def cross_modal_prune(documents: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Cross-modal dedup verdict — the driver corpus ships documents
    and their embeddings under ALIGNED ids (doc_id = vec_id), so the
    two certified keep rules compose: a document survives only if it is
    BOTH the canonical member of its exact-text class (``exact_dedup``)
    AND not a semantic near-dup under SemDeDup (``semantic_prune``
    keep = 1). Text-level and embedding-level dedup catch different
    duplicates (verbatim mirrors vs paraphrases/translations); real
    curation pipelines run both, and this op is that conjunction with
    per-source attribution.

    Plan: two certified member passes produce doc-keyed flag frames;
    the rollup is one narrow multi-way join + a per-source aggregate.
    The embedding side is the HARD-CAPPED SemDeDup twin
    (``semantic_prune_capped``: adaptive centroid count + ≤cap-row
    sub-buckets, per-task work bounded regardless of corpus size) —
    the first composed version used the fixed-16-centroid oracle
    anchor and the sf1→sf10 harness measured it x18.5 on x10 data
    (31k-row buckets → quadratic in-bucket pairwise); the capped twin
    re-measures x2.2 across the same decade. Output (per source):
    source, n_docs, n_text_dropped, n_sem_dropped, n_kept.
    """
    from data_pipeline_example_spark.operators import similarity

    keepers = dedup.exact_dedup(documents).select(
        F.col("keep_doc_id").alias("doc_id"), F.lit(1).alias("is_keeper")
    )
    sem = similarity.semantic_prune_capped(embeddings).select(
        F.col("vec_id").alias("doc_id"), F.col("keep").alias("sem_keep")
    )
    flags = (
        documents.select("doc_id", "source")
        .join(keepers, "doc_id", "left")
        .join(sem, "doc_id", "left")
        .select(
            "source",
            F.coalesce("is_keeper", F.lit(0)).alias("tk"),
            F.coalesce("sem_keep", F.lit(0)).alias("sk"),
        )
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(1 - F.col("tk")).cast("long").alias("n_text_dropped"),
        F.sum(1 - F.col("sk")).cast("long").alias("n_sem_dropped"),
        F.sum(F.col("tk") * F.col("sk")).cast("long").alias("n_kept"),
    )


def dedup_agreement(
    documents: DataFrame,
    embeddings: DataFrame,
    jaccard_threshold: float = 0.1,
    cosine_threshold: float = 0.35,
    dims: int = 64,
) -> DataFrame:
    """Lexical-vs-semantic near-dup AGREEMENT audit — the calibration
    check a curation team runs before trusting either dedup family
    alone: the MinHash-LSH verified pair set (lexical; aligned ids,
    the :func:`cross_modal_prune` contract doc_id = vec_id) is
    full-outer-joined against the SRP-bucketed cosine pair set
    (semantic), and the single-row rollup reports each cell of the
    2×2 verdict table plus the JACCARD OF THE TWO VERDICT SETS —
    high agreement means the cheap lexical pass is a safe proxy for
    the expensive embedding pass on this corpus; low agreement means
    the families catch genuinely different duplicates (verbatim
    mirrors vs paraphrases) and both must run.

    Both member ops are the certified SCALE paths with
    corpus-ADAPTIVE bucketing — banded MinHash LSH and Charikar SRP
    (``srp_dup_pairs``: bits per band grow with ln n, expected bucket
    occupancy ~constant, measured ×1.25 on ×10 data). The first
    version composed ``cosine_dup_pairs_blocked`` instead and the r11
    sweep measured its fixed-16-centroid buckets going quadratic at
    sf10 (×11 first decade; a single sf10 timing ran >30 min) — the
    audit inherits whatever scaling its members have, so it must
    compose the adaptive paths. The join runs on narrow (id, id) pair
    rows; counts and one integral division — nothing to round.
    Output (single row): n_lexical, n_semantic, n_both,
    n_lexical_only, n_semantic_only, agreement_micro.
    """
    from data_pipeline_example_spark.operators import similarity

    lex = dedup.minhash_lsh_pairs(documents, threshold=jaccard_threshold).select(
        "doc_a", "doc_b", F.lit(1).alias("lex")
    )
    sem = similarity.srp_dup_pairs(
        embeddings, threshold=cosine_threshold, dims=dims
    ).select(
        F.col("vec_a").alias("doc_a"),
        F.col("vec_b").alias("doc_b"),
        F.lit(1).alias("sem"),
    )
    cells = lex.join(sem, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("lex", F.lit(0)).alias("lex"),
        F.coalesce("sem", F.lit(0)).alias("sem"),
    )
    return cells.agg(
        F.sum("lex").cast("long").alias("n_lexical"),
        F.sum("sem").cast("long").alias("n_semantic"),
        F.sum(F.col("lex") * F.col("sem")).cast("long").alias("n_both"),
        F.sum(F.col("lex") * (1 - F.col("sem"))).cast("long").alias("n_lexical_only"),
        F.sum((1 - F.col("lex")) * F.col("sem")).cast("long").alias("n_semantic_only"),
        F.expr(
            "CASE WHEN count(1) = 0 THEN 0 ELSE "
            "(sum(lex * sem) * 1000000) div count(1) END"
        )
        .cast("long")
        .alias("agreement_micro"),
    )


def rrf_hybrid_search(
    documents: DataFrame,
    embeddings: DataFrame,
    query_terms: tuple[str, ...] = ("spark", "window", "hash"),
    query_id: int = 0,
    n_each: int = 20,
    rrf_k: int = 60,
    n_out: int = 10,
) -> DataFrame:
    """Hybrid retrieval via Reciprocal-Rank Fusion (Cormack et al.
    2009, public) — the standard RAG-serving composition: a lexical
    BM25 ranking and a semantic ANN ranking fused by
    Σ 1/(k + rank), so documents that BOTH retrievers surface
    dominate without any score normalization across incomparable
    scales (BM25 micro-units vs cosine).

    Composes two certified scale paths: :func:`operators.text.
    bm25_search` (one column-pruned tokenize scan, O(matches)
    shuffle) for the lexical list and :func:`operators.similarity.
    ivf_knn` (probe-pruned, zero-exchange serving scan) for the
    semantic list, ids aligned doc_id ↔ vec_id (the
    :func:`cross_modal_prune` contract). Both lists are ≤ ``n_each``
    rows, so the fusion joins and the final TakeOrdered run on
    parameter-bounded frames — the 100 TB cost is exactly the two
    member retrievals.

    RRF contributions are exact integers: 1e6 div (rrf_k + rank) per
    list, absent ranks contribute 0 and report rank 0 (the hash
    contract avoids nullable ints). Output: doc_id, rank_lex,
    rank_sem, rrf_micro — top ``n_out`` by (rrf_micro DESC, doc_id).
    """
    from pyspark.sql.window import Window

    from data_pipeline_example_spark.operators import similarity

    lex = text.bm25_search(documents, query=query_terms, n=n_each).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25_micro"), F.asc("doc_id")))
        .alias("rank_lex"),
    )
    sem = similarity.ivf_knn(embeddings, query_id=query_id, k=n_each).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cos_sim"), F.asc("vec_id")))
        .alias("rank_sem"),
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("rank_lex", F.lit(0)).cast("int").alias("rank_lex"),
            F.coalesce("rank_sem", F.lit(0)).cast("int").alias("rank_sem"),
        )
        .select(
            "doc_id",
            "rank_lex",
            "rank_sem",
            (
                F.when(
                    F.col("rank_lex") > 0,
                    F.expr(f"1000000 div ({rrf_k} + rank_lex)"),
                ).otherwise(F.lit(0))
                + F.when(
                    F.col("rank_sem") > 0,
                    F.expr(f"1000000 div ({rrf_k} + rank_sem)"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("rrf_micro"),
        )
    )
    return fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(n_out)

def retrieval_quality(
    documents: DataFrame,
    embeddings: DataFrame,
    n_queries: int = 4,
    k: int = 10,
) -> DataFrame:
    """Serving-time retrieval evaluation — recall@k and MRR of the
    approximate retrieval stack against the exact brute-force truth at
    matched k: the :func:`operators.dedup.lsh_recall_summary`
    discipline (audit the approximation against its own exact anchor,
    in-plan) applied to the FULL serving stack. Three systems, each a
    certified scale path, retrieve top-k for the ``n_queries`` lowest
    vec_ids:

    - ``ivf``  — :func:`operators.similarity.ivf_knn` (probe-pruned,
      zero-exchange serving scan);
    - ``ivfpq`` — :func:`operators.similarity.ivfpq_knn` (PQ ADC +
      exact re-rank; pinned row-identical to the materialized
      ``ivfpq_knn_index_batch`` serving path by its equivalence
      tests, so this grades the index serving stack
      without needing a written index inside a registered query);
    - ``rrf``  — :func:`rrf_hybrid_search` (BM25 + ANN fusion; graded
      against the PURE-cosine truth deliberately — its recall shows
      how much semantic truth survives lexical fusion).

    Truth is :func:`operators.similarity.knn_batch`'s exact one-scan
    batch (self included at rank 1, the knn contract; recall is over
    the truth set as served). MRR uses the best NON-self truth
    neighbor (exact rank 2): mrr_micro = 1e6 div (its rank in the
    system list), 0 when missed.

    Cost shape: the BATCHED serving paths — ONE exact batch scan for
    truth, one :func:`operators.similarity.ivf_knn_batch` scan (its
    top-20 feeds both the ivf system and the RRF semantic leg), one
    :func:`operators.similarity.ivfpq_knn_batch` chain (assignment +
    codes computed once), and one BM25 pass — instead of 3·n_queries
    independent retrievals (the naive composition re-derived the IVF
    assignment and PQ codes 8×; measured 33 s → batched ~8 s at
    sf0.1). Every post-retrieval frame is ≤ n_each rows per (system,
    query), so the metric aggregation is O(systems·queries·k) and
    driver-free. Exactness: counts and integral divisions only; each
    batch path is pinned row-identical to its per-query twin by test.
    Output: system, query_id, n_returned, hits, recall_milli,
    mrr_micro — ordered by (system, query_id).
    """
    from pyspark.sql.window import Window

    from data_pipeline_example_spark.operators import similarity

    n_each, rrf_k = 20, 60
    # ONE checkpoint job for the exact truth, the batched IVF list, AND
    # bm25's narrow per-doc match frame (r15): the first two are
    # (n_queries × ≤n_each)-row retrievals over the same corpus, the
    # third is the lexical leg's one-tokenize-scan frame — previously
    # three sequential blocking jobs; tagged and unioned they compute
    # in one job whose three scans run as sibling stages. The list legs
    # keep only (query_id, vec_id, rank) — no downstream reader of the
    # IVF leg uses cos_sim; the bm25 rows carry (doc_id→vec_id, dl, m)
    # with NULL list columns and vice versa.
    bm25_query = ("spark", "window", "hash")
    _null_long = F.lit(None).cast("long")
    # ONE head fetch shared by the ivf and ivfpq batch legs: one bounded
    # job for the head rows, with probe/LUT scoring job-free on the
    # driver. Both legs take their parameters from the SAME AnnParams
    # object, and each leg checks the fetch was built with its own
    # parameters and queries (a ValueError on any drift).
    ann = similarity.AnnParams()
    head_fetch = similarity._fetch(
        similarity._as_double(embeddings), ann, range(int(n_queries))
    )
    fused_lists = (
        similarity.knn_batch(embeddings, n_queries=n_queries, k=k)
        .select(
            F.lit(0).alias("_src"),
            "query_id",
            "vec_id",
            F.col("rank"),
            _null_long.alias("dl"),
            F.lit(None).cast("array<string>").alias("m"),
        )
        .unionByName(
            similarity.ivf_knn_batch(
                embeddings,
                n_queries=n_queries,
                k=n_each,
                n_centroids=ann.n_centroids,
                n_probe=ann.n_probe,
                head_fetch=head_fetch,
            ).select(
                F.lit(1).alias("_src"),
                "query_id",
                "vec_id",
                F.col("rank"),
                _null_long.alias("dl"),
                F.lit(None).cast("array<string>").alias("m"),
            )
        )
        .unionByName(
            text._bm25_match_frame(documents, bm25_query).select(
                F.lit(2).alias("_src"),
                _null_long.alias("query_id"),
                F.col("doc_id").alias("vec_id"),
                F.lit(None).cast("int").alias("rank"),
                "dl",
                "m",
            )
        )
        .transform(materialize)
    )
    truth = fused_lists.filter(F.col("_src") == 0).select(
        "query_id", "vec_id", F.col("rank").alias("t_rank")
    )  # n_queries*k rows, reused 3x below
    t1 = truth.filter(F.col("t_rank") == 2).select(
        "query_id", F.col("vec_id").alias("t1_id")
    )
    ivf20 = fused_lists.filter(F.col("_src") == 1).select(
        "query_id", "vec_id", "rank"
    )  # n_queries*n_each rows; ivf system + RRF leg
    ivf_sys = ivf20.filter(F.col("rank") <= k).select(
        F.lit("ivf").alias("system"),
        "query_id",
        "vec_id",
        F.col("rank").alias("sys_rank"),
    )
    pq_sys = similarity.ivfpq_knn_batch(
        embeddings,
        n_queries=n_queries,
        k=k,
        **dataclasses.asdict(ann),
        head_fetch=head_fetch,
    ).select(
        F.lit("ivfpq").alias("system"),
        "query_id",
        "vec_id",
        F.col("rank").alias("sys_rank"),
    )
    # RRF: the rrf_hybrid_search fusion arithmetic verbatim, fused per
    # query from the SHARED lexical list and the batch semantic list
    per_doc = fused_lists.filter(F.col("_src") == 2).select(
        F.col("vec_id").alias("doc_id"), "dl", "m"
    )
    lex = text.bm25_search(
        documents, query=bm25_query, n=n_each, per_doc_df=per_doc
    ).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25_micro"), F.asc("doc_id")))
        .alias("rank_lex"),
    )
    qids = (
        embeddings.select(F.col("vec_id").cast("long").alias("query_id"))
        .filter(F.col("query_id") < n_queries)
    )
    lexq = qids.crossJoin(F.broadcast(lex))
    semq = ivf20.select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("rank_sem"),
    )
    fused = (
        lexq.join(semq, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            F.coalesce("rank_lex", F.lit(0)).cast("int").alias("rank_lex"),
            F.coalesce("rank_sem", F.lit(0)).cast("int").alias("rank_sem"),
        )
        .select(
            "query_id",
            "doc_id",
            (
                F.when(
                    F.col("rank_lex") > 0,
                    F.expr(f"1000000 div ({rrf_k} + rank_lex)"),
                ).otherwise(F.lit(0))
                + F.when(
                    F.col("rank_sem") > 0,
                    F.expr(f"1000000 div ({rrf_k} + rank_sem)"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("rrf_micro"),
        )
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), F.asc("doc_id")
    )
    rrf_sys = (
        fused.withColumn("sys_rank", F.row_number().over(rw))
        .filter(F.col("sys_rank") <= k)
        .select(
            F.lit("rrf").alias("system"),
            "query_id",
            F.col("doc_id").alias("vec_id"),
            "sys_rank",
        )
    )
    sys_ranked = ivf_sys.unionByName(pq_sys).unionByName(rrf_sys)
    agg = (
        sys_ranked.join(truth, ["query_id", "vec_id"], "left")
        .join(F.broadcast(t1), "query_id", "left")
        .groupBy("system", "query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_returned"),
            F.sum(F.when(F.col("t_rank").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("hits"),
            F.min(
                F.when(F.col("vec_id") == F.col("t1_id"), F.col("sys_rank"))
            ).alias("t1_rank"),
        )
    )
    return agg.select(
        "system",
        "query_id",
        "n_returned",
        "hits",
        F.expr(f"hits * 1000 div {k}").cast("long").alias("recall_milli"),
        F.coalesce(F.expr("1000000 div t1_rank"), F.lit(0))
        .cast("long")
        .alias("mrr_micro"),
    ).orderBy("system", "query_id")

