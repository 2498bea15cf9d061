"""Text-analysis operators over the ``documents`` table.

LLM-data-pipeline extensions (BASELINE.json north star): language ID,
quality scoring, token counting, fingerprinting. All built on the
UDF-free expressions in ``functions/text.py`` — whole-stage codegen
end-to-end, so per-document cost is a few regex evaluations and the
operators scale linearly to 100 TB of text.

Eager-construction contract (applies to every operator here that
materializes a shared frame — dsir_weights, bigram_lm_scores,
ccnet_buckets, substring_dedup, and the ``functions.cuts``-backed
ops): the materialization runs a Spark job at DataFrame-CONSTRUCTION
time. Every site goes through the ONE checkpoint seam,
``functions.materialize.materialize`` (postfix
``.transform(materialize)``): by default it is a ``localCheckpoint``
— UNREPLICATED executor storage, fine single-JVM but unrecoverable on
executor loss — and on a real (preemptible/churning) cluster setting
``spark.sparkContext.setCheckpointDir`` switches ALL sites to
replicated ``DataFrame.checkpoint()`` with no library edits. The eager
trade itself is deliberate: each materialized frame feeds 2+ downstream
branches, and re-deriving it per branch measured slower at every scale
tested (see PLANS.md's scans column).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline_example_spark.functions.materialize import (
    materialize,
    materialize_disk,
)

from data_pipeline_example_spark.functions import text as T
from data_pipeline_example_spark.functions.cuts import (
    join_cuts,
    ntile_expr,
    rank_rows,
    value_at_rank,
    value_cuts,
)
from data_pipeline_example_spark.functions.hashing import (
    hash_frac,
    md5_int,
    seeded_buckets,
)
from data_pipeline_example_spark.functions.parallel import widen
from data_pipeline_example_spark.operators import dedup


def _quality_from_counts() -> Column:
    """The 4-dp doc-quality formula over BOUND count columns (n_chars,
    n_tokens, n_punct, n_stop) — shared by :func:`doc_stats` and the
    inline re-derivation in :func:`dsir_weights`, so both evaluate the
    bit-identical expression and each regex count is computed once per
    document in a lower projection."""
    n_tok = F.col("n_tokens").cast("double")
    n_char = F.greatest(F.col("n_chars").cast("double"), F.lit(1.0))
    punct_ratio = F.col("n_punct").cast("double") / n_char
    stop_ratio = F.col("n_stop").cast("double") / F.greatest(n_tok, F.lit(1.0))
    length_factor = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    return F.round(
        length_factor * (1.0 - punct_ratio) * (0.5 + 0.5 * stop_ratio), 4
    )


def _count_cols(documents: DataFrame, *extra: Column) -> DataFrame:
    """The bound-count lower projection behind :func:`_quality_from_counts`."""
    return documents.select(
        "doc_id",
        *extra,
        T.char_count(F.col("text")).cast("long").alias("n_chars"),
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        T.punct_count(F.col("text")).cast("long").alias("n_punct"),
        T.stopword_count(F.col("text"), T.STOPWORDS["en"]).cast("long").alias("n_stop"),
    )


def doc_stats(documents: DataFrame) -> DataFrame:
    """Per-document statistics: chars, tokens, punctuation ratio,
    quality score, md5 fingerprint.

    The regex-derived base counts are materialized in a lower projection
    and the ratio/quality arithmetic reads those columns — the quality
    formula alone references the counts five times, and bound columns
    keep each regex to one evaluation per document (same structure, and
    reason, as ``dedup.shingled``)."""
    base = _count_cols(documents, F.col("text"))
    punct_ratio = F.col("n_punct").cast("double") / F.greatest(
        F.col("n_chars").cast("double"), F.lit(1.0)
    )
    return base.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round(punct_ratio, 4).alias("punct_ratio"),
        _quality_from_counts().alias("quality"),
        T.fingerprint(F.col("text")).alias("fingerprint"),
    )


def corpus_stats(documents: DataFrame) -> DataFrame:
    """Corpus rollup by (lang, source): doc count, token totals/averages."""
    n_tok = T.token_count(F.col("text"))
    return (
        documents.select("lang", "source", n_tok.alias("n_tokens"), "n_chars")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang", "source")
    )


def doc_fingerprints(documents: DataFrame) -> DataFrame:
    """Two deterministic fingerprints per document: content-addressed
    md5 of normalized text, and an order-sensitive polynomial rolling
    hash over the token stream (functions/text.py). Both are pure
    column expressions — the rolling hash folds per row with
    ``F.aggregate``, no shuffle at all."""
    return documents.select(
        "doc_id",
        T.fingerprint(F.col("text")).alias("fingerprint"),
        T.rolling_fingerprint(F.col("text")).alias("rolling_fp"),
    )


def lang_predict(documents: DataFrame) -> DataFrame:
    """Stopword-vote language ID next to the labeled ``lang`` column.

    Output: doc_id, lang, lang_pred, is_match (0/1). The heuristic is the
    deterministic n-gram/stopword method from functions/text.py — on the
    driver's synthetic word-salad corpus accuracy is meaningless, but the
    operator (and its oracle) pin the exact voting/tie-break semantics.
    """
    pred = T.lang_id(F.col("text"))
    return documents.select(
        "doc_id",
        "lang",
        pred.alias("lang_pred"),
        (pred == F.col("lang")).cast("int").alias("is_match"),
    )


def lang_mixture(documents: DataFrame) -> DataFrame:
    """Per-document language-mixture (code-switching) signal: stopword
    votes per language, reduced to the dominant and runner-up share of
    the total vote mass. A high second share flags documents mixing two
    languages — kept, routed, or segmented differently than monolingual
    text by real curation pipelines.

    Same per-row stopword counts as ``lang_predict`` (pure regex
    expressions, zero shuffle); the two largest vote counts come from
    one ``sort_array`` over the 4-element count array — no CASE ladder.
    Output: doc_id, n_votes, top_share, second_share, is_mixed
    (second share ≥ 0.25 of a non-empty vote mass).
    """
    counts = [
        T.stopword_count(F.col("text"), words).cast("long")
        for words in T.STOPWORDS.values()
    ]
    arr = F.sort_array(F.array(*counts), asc=False)
    total = sum(counts[1:], counts[0])
    top = F.element_at(arr, 1)
    second = F.element_at(arr, 2)
    tot = F.greatest(total, F.lit(1)).cast("double")
    return documents.select(
        "doc_id",
        total.alias("n_votes"),
        F.round(top / tot, 4).alias("top_share"),
        F.round(second / tot, 4).alias("second_share"),
        ((total > 0) & (second / tot >= 0.25)).cast("int").alias("is_mixed"),
    )


def token_counts(documents: DataFrame) -> DataFrame:
    """Three token-count ladders per document: whitespace split, word
    regex, BPE-ish pre-tokenizer — the budget columns an LLM-data
    pipeline filters and packs by. Output: doc_id, n_ws, n_words, n_bpe.
    """
    return documents.select(
        "doc_id",
        T.whitespace_token_count(F.col("text")).cast("long").alias("n_ws"),
        T.token_count(F.col("text")).cast("long").alias("n_words"),
        T.bpe_token_count(F.col("text")).cast("long").alias("n_bpe"),
    )


def curated_corpus(
    documents: DataFrame,
    min_quality: float = 0.05,
    min_tokens: int = 10,
) -> DataFrame:
    """The end-to-end training-data curation query: exact-dedup
    survivors with enough tokens and acceptable quality, carrying the
    signals downstream packing/training wants. Composition of the
    engine's own operators — dedup keep-list via LEFT SEMI join (no row
    multiplication), stats/quality as bound columns. Output: doc_id,
    lang, lang_pred, n_tokens, quality.
    """
    keep = dedup.exact_dedup(documents).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    stats = doc_stats(documents).select("doc_id", "n_tokens", "quality")
    langs = lang_predict(documents).select("doc_id", "lang", "lang_pred")
    return (
        documents.select("doc_id")
        .join(keep, "doc_id", "left_semi")
        .join(stats, "doc_id")
        .join(langs, "doc_id")
        .filter((F.col("quality") >= min_quality) & (F.col("n_tokens") >= min_tokens))
        .select("doc_id", "lang", "lang_pred", "n_tokens", "quality")
    )


def pack_documents(
    documents: DataFrame, budget: int = 2048, shards: int = 16
) -> DataFrame:
    """Deterministic token-budget packing: documents are assigned to
    fixed-capacity bins by cumulative token offset within a shard —
    bin = (running token count before this doc) div budget.

    Sharding (doc_id mod ``shards``) keeps the running-sum window
    parallel: each shard sorts independently, so there is no global
    sort at any corpus size (shards = O(cluster cores) at 100 TB).
    Offset-based binning is the streaming-concat approximation of
    greedy packing: deterministic, single window pass, at most one
    straddling document per bin boundary. Output: doc_id, shard,
    bin_id, tok_offset, n_tokens.
    """
    from pyspark.sql.window import Window

    toks = documents.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(shards)).cast("int").alias("shard"),
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return toks.select(
        "doc_id",
        "shard",
        F.floor(offset / budget).cast("long").alias("bin_id"),
        offset.alias("tok_offset"),
        "n_tokens",
    )


def length_buckets(documents: DataFrame, n_buckets: int = 8) -> DataFrame:
    """Length-bucketed batching assignment: documents ranked by token
    count (tie-break doc_id) and cut into ``n_buckets`` equal-frequency
    buckets — the dynamic-batching layout that keeps same-batch
    sequences near-equal length so padding waste stays low.

    NO global ordered exchange. The global rank of a row under ORDER BY
    (n_tokens, doc_id) decomposes as

        rank = (# rows with a smaller n_tokens)          [cum_before]
             + (row_number among its own n_tokens value) [tie-break]

    (``functions.cuts.rank_rows``: cum_before from the shared
    distributed prefix sum, the tie-break a ``row_number`` over a
    window PARTITIONED BY n_tokens — a hash exchange, not an ordered
    one; no single reducer ever sees the corpus). The ntile formula
    (first N mod n buckets get one extra row) is applied per row as
    integer arithmetic (``ntile_expr``), bit-identical to ``ntile`` —
    the SQL oracle's form. Bucket b's max token count is the value at
    its last rank, b·q + min(b, r): one aggregate over the cuts rows
    (``value_at_rank``) yields all ``n_buckets`` maxima as one array,
    broadcast back. Skew note: a single hot n_tokens value (e.g. empty
    docs) concentrates its tie-break window in one task; AQE
    skew-split handles the exchange, and the window is two longs per
    row, never the text. Eager construction: ``value_cuts``
    materializes its ranged histogram (see that module's contract
    note).

    Output: doc_id, n_tokens, bucket, plus per-bucket padding
    diagnostics (bucket_max_tokens, pad_waste = bucket_max − n_tokens).
    """
    toks = documents.select(
        "doc_id", T.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    cuts = value_cuts(toks, "n_tokens")
    last_rank = "{b} * (n_rows div {n}) + least({b}, n_rows % {n})"
    bucket_max = cuts.groupBy("n_rows").agg(
        F.array(
            *[
                value_at_rank(F.expr(last_rank.format(b=b, n=n_buckets)), "n_tokens")
                for b in range(1, n_buckets + 1)
            ]
        ).alias("_bmax")
    )
    bucket = ntile_expr(F.col("rank"), F.col("n_rows"), n_buckets).cast("int")
    bmax = F.element_at("_bmax", bucket)
    return (
        rank_rows(toks, cuts, "n_tokens", "doc_id")
        .join(F.broadcast(bucket_max), "n_rows")
        .select(
            "doc_id",
            "n_tokens",
            bucket.alias("bucket"),
            bmax.alias("bucket_max_tokens"),
            (bmax - F.col("n_tokens")).alias("pad_waste"),
        )
    )


# the eight Gopher "required stop words" (Rae et al. 2021, §A1.1)
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")

#: THE single source of truth for the Gopher thresholds, as (rule, SQL
#: predicate over ``gopher_quality``'s ROUNDED output columns). The
#: same fragment parses identically in Spark (``F.expr``) and DuckDB,
#: so ``gopher_quality.passes``, ``quality_funnel``'s FUNNEL_RULES and
#: the oracle's SQL flags (plans/oracles.py imports this) are all
#: derived from one table — a threshold change cannot desynchronize
#: the encodings (previously three independent copies).
GOPHER_RULE_SQL: tuple[tuple[str, str], ...] = (
    ("word_count", "n_words BETWEEN 50 AND 100000"),
    ("mean_word_len", "mean_word_len BETWEEN 3.0 AND 10.0"),
    ("symbol_ratio", "symbol_word_ratio <= 0.1"),
    ("bullet_lines", "bullet_line_frac <= 0.9"),
    ("ellipsis_lines", "ellipsis_line_frac <= 0.3"),
    ("alpha_words", "alpha_word_frac >= 0.8"),
    ("stop_words", "n_required_stops >= 2"),
)


def gopher_quality(documents: DataFrame) -> DataFrame:
    """The full Gopher document-quality rule set (Rae et al. 2021,
    public appendix) as pure column expressions — the standard first
    gate of an LLM curation pipeline, one scan, zero shuffle:

    * word count in [50, 100 000]; mean word length in [3, 10]
    * symbol-to-word ratio (``#`` + ellipses) ≤ 0.1
    * ≤ 90 % of lines bullet-started; ≤ 30 % ellipsis-terminated
    * ≥ 80 % of words contain an alphabetic character
    * ≥ 2 of the 8 required stop words present

    Words are WHITESPACE-split (Gopher's definition — includes
    punctuation in word length), lines split on ``\\n``. Every ratio is
    rounded to 4 dp BEFORE its threshold comparison so the pass flag is
    knife-edge-stable across engines. ``passes`` is int (0/1) — the
    oracle hash contract avoids BOOLEAN columns. Mean word length is
    computed as non-whitespace chars / words — algebraically the sum of
    word lengths without materializing per-word lengths.

    Output: doc_id, n_words, mean_word_len, symbol_word_ratio,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
    n_required_stops, passes.
    """
    return _gopher_scored(documents).withColumn(
        "passes", gopher_passes().cast("int")
    )


def gopher_passes():
    """The Gopher pass flag as a Column over ``_gopher_scored``'s
    ROUNDED metric columns — the conjunction of the shared
    ``GOPHER_RULE_SQL`` threshold table."""
    return reduce(lambda a, b: a & b, [F.expr(sql) for _, sql in GOPHER_RULE_SQL])


def _gopher_scored(documents: DataFrame, extras: tuple = ()) -> DataFrame:
    """``gopher_quality``'s scored projection without the pass flag.

    ``extras`` is a tuple of (name, Column) pairs evaluated against the
    RAW input frame in the same base projection and carried through —
    the hook that lets ``curation.corpus_funnel`` compute its
    fingerprint/line-key/token columns in the SAME single corpus scan
    as the Gopher metrics (one scan instead of one per member
    operator; the stopword count tokenizes ``t`` on its own).
    """
    txt = F.coalesce(F.col("text"), F.lit(""))
    words = F.when(F.trim(txt) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.trim(txt), r"\s+")
    )
    lines = F.split(txt, "\n")
    base = documents.select(
        "doc_id",
        txt.alias("t"),
        words.alias("words"),
        lines.alias("lines"),
        F.length(F.regexp_replace(txt, r"\s+", "")).cast("long").alias("word_chars"),
        *[col.alias(name) for name, col in extras],
    )
    n_words = F.size("words").cast("long")
    n_words_d = F.greatest(n_words, F.lit(1)).cast("double")
    n_lines_d = F.greatest(F.size("lines"), F.lit(1)).cast("double")
    n_hash = F.length("t") - F.length(F.replace(F.col("t"), F.lit("#")))
    n_dots = (F.length("t") - F.length(F.replace(F.col("t"), F.lit("...")))) / 3
    n_uni = F.length("t") - F.length(F.replace(F.col("t"), F.lit("…")))
    mean_wl = F.round(F.col("word_chars") / n_words_d, 4)
    sym_ratio = F.round((n_hash + n_dots + n_uni) / n_words_d, 4)
    bullet_frac = F.round(
        F.size(F.filter("lines", lambda l: l.rlike(r"^\s*[-*•]"))) / n_lines_d, 4
    )
    ell_frac = F.round(
        F.size(F.filter("lines", lambda l: l.rlike(r"(\.\.\.|…)\s*$"))) / n_lines_d, 4
    )
    alpha_frac = F.round(
        F.size(F.filter("words", lambda w: w.rlike("[A-Za-z]"))) / n_words_d, 4
    )
    # presence via ASCII-token membership, not \b word-bounding: Java's
    # \b is Unicode-aware, RE2's is ASCII-only, so the regex form
    # diverges cross-engine on accent-adjacent text (the r14 non-ASCII
    # sweep finding); intersect of distinct tokens is engine-identical
    n_stops = F.size(
        F.array_intersect(
            F.array_distinct(T.lower_tokens(F.col("t"))),
            F.array(*[F.lit(s) for s in GOPHER_STOPS]),
        )
    ).cast("long")
    return base.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ell_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        n_stops.alias("n_required_stops"),
        *[F.col(name) for name, _ in extras],
    )


def line_words(line):
    """Whitespace word count of one line (0 for a blank line) — the one
    line-length rule of the line-level ops (C4 rules, line dedup, the
    curation funnel and the streaming line dedup)."""
    return F.when(F.trim(line) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(line), r"\s+"))
    )


def line_key(line):
    """Normalized line identity: md5 of the trimmed, lower-cased line
    with whitespace runs collapsed — the one dedup key of the batch and
    streaming line dedup and the curation funnel."""
    return F.md5(F.lower(F.regexp_replace(F.trim(line), r"\s+", " ")))


def c4_line_rule(min_words: int, require_terminal: bool):
    """The C4 line filter (a lambda over one line): ≥ ``min_words``
    whitespace words and, when ``require_terminal``, terminal
    punctuation ``. ! ? "``. The published rules are (5, True)."""
    if not require_terminal:
        return lambda l: line_words(l) >= min_words
    return lambda l: (line_words(l) >= min_words) & l.rlike(r'[.!?"]\s*$')


def c4_kept_lines(txt):
    """Array of lines surviving the PUBLISHED C4 line rules
    (≥ 5 whitespace words AND terminal punctuation) as one column
    expression — the single source of truth for :func:`c4_line_stats`
    and :func:`gate_agreement`."""
    return F.filter(F.split(txt, "\n"), c4_line_rule(5, True))


def c4_page_pass(txt):
    """The published C4 page gate as one boolean Column: no ``lorem
    ipsum`` marker, no ``{`` (code-like content), ≥ 3 lines surviving
    :func:`c4_kept_lines`."""
    return (
        (F.locate("lorem ipsum", F.lower(txt)) == 0)
        & (F.locate("{", txt) == 0)
        & (F.size(c4_kept_lines(txt)) >= 3)
    )


def c4_line_stats(documents: DataFrame) -> DataFrame:
    """C4-style line/page cleaning audit (Raffel et al. 2020, §2.2) —
    per document: how many lines survive the line rules
    (:func:`c4_kept_lines`), plus the page-level blockers (a ``lorem
    ipsum`` marker, a ``{`` — code-like content) and the 3-kept-lines
    page minimum. One scan, zero shuffle; flags are ints for the
    oracle hash contract.

    Output: doc_id, n_lines, n_kept_lines, kept_line_frac, has_lorem,
    has_brace, page_pass.
    """
    txt = F.coalesce(F.col("text"), F.lit(""))
    kept = c4_kept_lines(txt)
    base = documents.select(
        "doc_id",
        F.size(F.split(txt, "\n")).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        (F.locate("lorem ipsum", F.lower(txt)) > 0).cast("int").alias("has_lorem"),
        (F.locate("{", txt) > 0).cast("int").alias("has_brace"),
    )
    return base.select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        F.round(
            F.col("n_kept_lines") / F.greatest(F.col("n_lines"), F.lit(1)).cast("double"),
            4,
        ).alias("kept_line_frac"),
        "has_lorem",
        "has_brace",
        (
            (F.col("has_lorem") == 0)
            & (F.col("has_brace") == 0)
            & (F.col("n_kept_lines") >= 3)
        )
        .cast("int")
        .alias("page_pass"),
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Repetition-based quality signals (the Gopher-style filters an LLM
    curation pipeline applies): per-document bigram totals, the most
    frequent bigram's share, and the distinct-bigram ratio. Highly
    repetitive documents (top_bigram_ratio near 1, distinct ratio near
    0) are template/boilerplate candidates.

    One tokenize → explode → (doc, bigram) count → per-doc rollup: both
    shuffles are keyed on doc_id(+bigram) — uniform keys, map-side
    partial aggregation, no arrays in any shuffle. Documents with fewer
    than two tokens have no bigrams and produce no row (nothing to
    measure). Output: doc_id, n_bigrams, top_bigram_n, top_bigram_ratio,
    distinct_bigram_ratio.
    """
    counts = (
        documents.select("doc_id", T.lower_tokens(F.col("text")).alias("t"))
        .select("doc_id", F.explode(T.word_grams("t", 2)).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.max("c").alias("top_bigram_n"),
            F.round(F.max("c") / F.sum("c"), 4).alias("top_bigram_ratio"),
            F.round(F.count(F.lit(1)) / F.sum("c"), 4).alias("distinct_bigram_ratio"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "top_bigram_n",
            "top_bigram_ratio",
            "distinct_bigram_ratio",
        )
    )


def dup_ngram_fraction(documents: DataFrame, n: int = 8) -> DataFrame:
    """Gopher-style duplicate n-gram fraction (Rae et al.): the share of
    a document's n-gram occurrences that are repeats of an earlier one —
    near 0 for natural prose, near 1 for templated/looping boilerplate;
    Gopher drops docs above ~0.10-0.15 at n in 5..10.

    Entirely per-row array arithmetic — tokenize once, build the n-gram
    list with ``transform`` over a slice, and the fraction is
    ``1 − distinct/total`` via ``array_distinct``; ZERO shuffles at any
    corpus size (the scan partitioning is the parallelism). Documents
    shorter than ``n`` tokens have no n-grams → fraction 0.0 (nothing
    measured, nothing to drop on). Output: doc_id, n_ngrams,
    n_distinct, dup_fraction.
    """
    # widen: n-gram string building is the cost; a single-file corpus
    # scan must not serialize it onto one core
    base = widen(documents).select(
        "doc_id", T.lower_tokens(F.col("text")).alias("t")
    ).select("doc_id", T.word_grams("t", n).alias("g"))
    total = F.size("g").cast("long")
    distinct = F.size(F.array_distinct("g")).cast("long")
    return base.select(
        "doc_id",
        total.alias("n_ngrams"),
        distinct.alias("n_distinct"),
        F.when(total > 0, F.round((total - distinct) / total, 4))
        .otherwise(F.lit(0.0))
        .alias("dup_fraction"),
    )


def corpus_dup_ngrams(documents: DataFrame, n: int = 8) -> DataFrame:
    """CROSS-document duplicated n-gram fraction — the corpus-level
    twin of :func:`dup_ngram_fraction` (which is within-doc): the share
    of a document's n-gram occurrences whose gram also appears in at
    least one OTHER document. High values flag boilerplate, mirrored
    pages, and template farms (the Dolma/Gopher cross-doc signal);
    within-doc repetition alone does not trigger it.

    Distributed shape (same as TF-IDF's): explode grams → one exchange
    on (doc_id, gram) to per-doc occurrence counts → one small exchange
    on gram to per-gram document counts → equi-join back on gram → one
    exchange on doc_id for the per-doc rollup; every aggregate has a
    map-side partial. The gram strings themselves ride the shuffles at
    this operating point (oracle parity); at 100 TB you would xxhash64
    grams to 8 bytes first — the signal tolerates the collision rate —
    and the docstring is the contract for that swap. Documents with
    fewer than ``n`` tokens have no grams → fraction 0.0 via the final
    left join (they never enter the shuffles).

    Output: doc_id, n_ngrams, n_cross_dup, cross_dup_fraction (4 dp).
    """
    pos = (
        widen(documents)
        .select("doc_id", T.lower_tokens(F.col("text")).alias("t"))
        .select("doc_id", F.explode(T.word_grams("t", n)).alias("gram"))
    )
    per_pair = pos.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("occ"))
    gram_docs = per_pair.groupBy("gram").agg(F.count(F.lit(1)).alias("nd"))
    per_doc = (
        per_pair.join(gram_docs, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").alias("n_ngrams"),
            F.sum(F.when(F.col("nd") >= 2, F.col("occ")).otherwise(F.lit(0))).alias(
                "n_cross_dup"
            ),
        )
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_ngrams"), F.lit(0)).cast("long").alias("n_ngrams"),
            F.coalesce(F.col("n_cross_dup"), F.lit(0))
            .cast("long")
            .alias("n_cross_dup"),
            F.when(
                F.coalesce(F.col("n_ngrams"), F.lit(0)) > 0,
                F.round(F.col("n_cross_dup") / F.col("n_ngrams"), 4),
            )
            .otherwise(F.lit(0.0))
            .alias("cross_dup_fraction"),
        )
    )


# default per-source mixing weights for mixture_rates: named overrides,
# everything else weight 1.0 (mirrored by the oracle's CASE)
DEFAULT_MIX_WEIGHTS: dict[str, float] = {"src0": 3.0, "src1": 2.0}


def mixture_rates(
    documents: DataFrame,
    weights: dict[str, float] | None = None,
    default_weight: float = 1.0,
    token_budget: int = 50_000,
) -> DataFrame:
    """Corpus mixture planning — given per-source mixing weights and a
    total token budget, compute each source's token allocation and the
    sampling rate that hits it: rate = min(1, target/total). The output
    feeds ``sampling.stratified_sample``-style hash filters, closing the
    loop from mixture spec to executable per-source sampling.

    One aggregate to per-source token totals (|sources| rows), one
    broadcast of the 1-row weight sum — the corpus is scanned once and
    nothing bigger than the source list ever moves. Output: source,
    total_tokens, target_tokens, rate.
    """
    weights = DEFAULT_MIX_WEIGHTS if weights is None else weights
    w = F.lit(float(default_weight))
    for src, wt in sorted(weights.items()):
        w = F.when(F.col("source") == src, float(wt)).otherwise(w)
    per = (
        documents.select("source", T.token_count(F.col("text")).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("total_tokens"))
        .withColumn("w", w)
    )
    total_w = per.agg(F.sum("w").alias("sw"))
    target = F.floor(F.lit(float(token_budget)) * F.col("w") / F.col("sw")).cast("long")
    return (
        per.crossJoin(F.broadcast(total_w))
        .select(
            "source",
            "total_tokens",
            target.alias("target_tokens"),
            F.round(
                F.least(
                    F.lit(1.0),
                    target.cast("double") / F.col("total_tokens"),
                ),
                4,
            ).alias("rate"),
        )
        .orderBy("source")
    )


def mixture_sample(
    documents: DataFrame,
    weights: dict[str, float] | None = None,
    default_weight: float = 1.0,
    token_budget: int = 50_000,
) -> DataFrame:
    """Materialize the mixture plan: each document joins its source's
    planned sampling rate (the |sources|-row :func:`mixture_rates`
    output, broadcast) and survives iff its deterministic hash fraction
    falls under the rate — the executable half of mixture planning, and
    reproducible: membership is a pure function of doc_id, so the mixed
    corpus can be re-derived from raw data at any time.

    Two corpus scans total (one inside mixture_rates for the token
    totals, one here for the filter), a broadcast hash join against the
    tiny plan, and a |sources|-row aggregate — no corpus shuffle
    anywhere, which is what lets this run at 100 TB. Output: source,
    n_docs, sampled_tokens, target_tokens.
    """
    plan = mixture_rates(documents, weights, default_weight, token_budget)
    return (
        documents.select(
            "doc_id", "source", T.token_count(F.col("text")).alias("n_tok")
        )
        .join(
            F.broadcast(plan.select("source", "rate", "target_tokens")), "source"
        )
        .filter(hash_frac(F.col("doc_id")) < F.col("rate"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("sampled_tokens"),
            F.min("target_tokens").alias("target_tokens"),
        )
        .orderBy("source")
    )


# PII patterns shared by the Spark operator and the SQL oracle: plain
# character-class regex only (no lookaround, no \d shorthand) so the Java
# and RE2 dialects match byte-for-byte.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
LONG_NUMBER_RE = "[0-9]{7,}"


def redact_pii(documents: DataFrame) -> DataFrame:
    """PII scrubbing — the redaction pass a training-data pipeline runs
    before anything ships: email addresses → ``<EMAIL>``, long digit
    runs (phone/account numbers) → ``<NUM>``. Counts are taken before
    replacement; the redacted text is fingerprinted (md5) rather than
    returned, so the result row stays fixed-width however large the
    document. Pure regexp_replace / regexp-count expressions — codegen,
    single scan, no shuffle. Output: doc_id, n_emails, n_numbers,
    redacted_fp.
    """
    txt = F.coalesce(F.col("text"), F.lit(""))
    redacted = F.regexp_replace(
        F.regexp_replace(txt, EMAIL_RE, "<EMAIL>"), LONG_NUMBER_RE, "<NUM>"
    )
    return documents.select(
        "doc_id",
        F.size(F.regexp_extract_all(txt, F.lit(EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(txt, F.lit(LONG_NUMBER_RE), F.lit(0)))
        .cast("long")
        .alias("n_numbers"),
        F.md5(redacted).alias("redacted_fp"),
    )


def top_bigrams(documents: DataFrame, n: int = 50) -> DataFrame:
    """Corpus-level bigram frequency table, top-``n`` — n-gram statistics
    with *occurrence* counts (unlike the dedup shingles, which are
    per-doc distinct sets).

    The pair construction is a pure array expression
    (``functions.text.word_grams`` over the bound token column) — no
    UDF, no self-join; one explode then one count aggregate keyed on
    the bigram string. Ties rank alphabetically so top-k is
    deterministic. Output: bigram, n_occurrences.
    """
    return (
        documents.select(T.lower_tokens(F.col("text")).alias("t"))
        .select(F.explode(T.word_grams("t", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("bigram"))
        .limit(n)
    )


def tfidf_top_terms(documents: DataFrame, top_per_doc: int = 3) -> DataFrame:
    """Per-document top TF-IDF terms — classic term-importance scoring.

    tf and df come from one tokenize→explode→two-aggregate pass; N (the
    corpus size) is a 1-row broadcast, never a driver-side constant. The
    tf⋈df join keys on the term — vocabulary-sized, so it stays a
    shuffle join (a 100 TB corpus has a vocabulary too big to
    broadcast). idf is rounded to 6 dp *before* entering the score so
    both engines rank on identical numbers; per-doc ranking breaks score
    ties alphabetically. Output: doc_id, term, tf, idf, score.
    """
    from pyspark.sql.window import Window

    exploded = documents.select(
        "doc_id", F.explode(T.lower_tokens(F.col("text"))).alias("term")
    )
    tf = exploded.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.agg(F.count(F.lit(1)).alias("n"))
    idf = F.round(F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6)
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            idf.alias("idf"),
            F.round(F.col("tf") * idf, 6).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_per_doc)
        .drop("rn")
    )


def chunk_documents(
    documents: DataFrame,
    chunk_size: int = 64,
    stride: int = 48,
    widen_input: bool = True,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Context-length chunking: overlapping fixed-size token windows.

    The standard pre-training transform — long documents become
    ``chunk_size``-token slices starting every ``stride`` tokens (so
    consecutive chunks overlap by chunk_size − stride). Output: doc_id,
    chunk_id (0-based slice ordinal), n_tokens (≤ chunk_size; the last
    slice is usually short), chunk_hash (md5 of the space-joined slice —
    content-verifying without shipping the text twice).

    Plan: one tokenize projection, one ``transform``+``posexplode`` —
    all higher-order built-ins, no shuffle at all until a downstream
    aggregate. Row count multiplies by ~n_tokens/stride, but each output
    row is a fixed-width hash, so the operator's output volume is
    bounded per input token regardless of document length — the skew an
    enormous document would cause lives inside one task's explode, which
    is the best available locality (``widen`` first, so a single-file
    corpus still chunks on every core; pass ``widen_input=False`` from
    streaming callers — partition introspection is illegal on a
    streaming frame, whose parallelism the source already sets).
    ``carry`` names extra input columns replicated onto each chunk row
    (e.g. the event-time column a streaming sink windows on — carrying
    it through beats re-joining, which would be a stream-stream join).
    """
    src = widen(documents) if widen_input else documents
    toks_df = src.select(
        "doc_id", *carry, T.lower_tokens(F.col("text")).alias("toks")
    )
    starts = F.sequence(F.lit(0), F.size("toks") - 1, F.lit(stride))
    chunks = toks_df.filter(F.size("toks") > 0).select(
        "doc_id",
        *carry,
        F.posexplode(
            F.transform(starts, lambda s: F.slice("toks", s + 1, chunk_size))
        ).alias("chunk_id", "chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.size("chunk").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "chunk")).alias("chunk_hash"),
        *carry,
    )


def chunk_dedup_stats(
    documents: DataFrame, chunk_size: int = 64, stride: int = 48
) -> DataFrame:
    """Sub-document (chunk-level) duplication rate of the corpus.

    Near-dup operators catch whole-document copies; training corpora
    also carry repeated boilerplate *inside* otherwise-distinct docs.
    One row: n_chunks, distinct_chunks, dup_rate (4 dp). The distinct
    count is exact — a hash aggregate keyed by the 128-bit chunk hash,
    uniform by construction, so it scales like ``exact_dedup``.
    """
    ch = chunk_documents(documents, chunk_size, stride)
    return ch.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count_distinct(F.col("chunk_hash")).alias("distinct_chunks"),
        F.round(
            1.0 - F.count_distinct(F.col("chunk_hash")) / F.count(F.lit(1)), 4
        ).alias("dup_rate"),
    )


def source_blocklist_summary(documents: DataFrame) -> DataFrame:
    """Corpus after dropping low-quality sources (blocklist anti-join).

    Curation-by-provenance: a source whose *mean* document quality falls
    below the corpus-wide mean document quality is blocked entirely, and
    the surviving corpus is summarized per language. Output: lang,
    n_docs, n_sources, avg_quality (4 dp), ordered for determinism by
    the caller's oracle.

    Plan shape at scale: per-source means are one hash aggregate; the
    corpus mean is a 1-row broadcast; the blocklist itself is
    |sources|-sized (tiny) and broadcast into a LEFT ANTI join against
    the fact scan — the full corpus is never shuffled, mirroring
    ``tpch.bloom_pruned_brand_volume``'s dimension-prune pattern.

    Both means compare on values rounded to 4 dp (the per-doc quality is
    already 4 dp-rounded) — the 6 dp re-round before the comparison
    keeps the boundary decision identical across engines.
    """
    # quality + lang + source in ONE scan-local projection (r15): the
    # old doc_stats-join-back re-read the corpus a second time and
    # joined it to itself on doc_id just to pick up two passthrough
    # columns; _quality_from_counts() is the bit-identical shared
    # quality expression
    scored = _count_cols(
        documents, F.col("lang"), F.col("source")
    ).select("doc_id", _quality_from_counts().alias("quality"), "lang", "source")
    per_source = scored.groupBy("source").agg(
        F.round(F.avg("quality"), 6).alias("src_quality")
    )
    global_mean = scored.agg(F.round(F.avg("quality"), 6).alias("corpus_quality"))
    blocked = per_source.crossJoin(F.broadcast(global_mean)).filter(
        F.col("src_quality") < F.col("corpus_quality")
    )
    kept = scored.join(
        F.broadcast(blocked.select("source")), "source", "left_anti"
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )


def frequent_terms(documents: DataFrame, eps: float = 0.005) -> DataFrame:
    """Corpus-wide heavy hitters: every term occurring in ≥ ``eps`` of
    all token positions, with its exact count.

    Two-phase sketch-then-verify — the bounded-memory shape for a
    vocabulary too large to shuffle whole:

    1. *Candidates*: a Misra–Gries summary (k = ⌈1/eps⌉ counters) per
       input partition via Arrow-batched ``mapInPandas``. MG guarantees
       any term with local frequency > n_p/(k+1) survives its
       partition, and a term with global share ≥ eps has local share
       ≥ eps on at least one partition — so the union of partition
       summaries is a SUPERSET of the true answer, regardless of
       partitioning. Candidate volume is ≤ k·partitions rows, tiny.
    2. *Verify*: exact counts for candidates only — the token stream is
       filtered by a broadcast semi-join before the counting shuffle,
       so the full vocabulary never shuffles.

    Because phase 2 recounts exactly and the phase-1 superset property
    is deterministic, the final output equals the plain exact answer —
    the oracle is ordinary SQL with no sketch in it. Output: term,
    n_occurrences (threshold = ⌈eps · total_tokens⌉, computed as a
    1-row broadcast, never a driver-side constant).
    """
    import math

    k = int(math.ceil(1.0 / eps))
    toks = widen(documents).select(
        F.explode(T.lower_tokens(F.col("text"))).alias("term")
    )

    def mg(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for t in pdf["term"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < k:
                    counters[t] = 1
                else:
                    dead = [key for key in counters if counters[key] == 1]
                    for key in counters:
                        counters[key] -= 1
                    for key in dead:
                        del counters[key]
        yield pd.DataFrame({"term": list(counters)})

    candidates = toks.mapInPandas(mg, "term string").distinct()
    totals = toks.agg(F.count(F.lit(1)).alias("n_total"))
    counts = (
        toks.join(F.broadcast(candidates), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .filter(F.col("n_occurrences") >= F.ceil(F.lit(eps) * F.col("n_total")))
        .select("term", "n_occurrences")
    )


def unigram_scores(documents: DataFrame) -> DataFrame:
    """Per-document mean negative log2 unigram probability — the
    perplexity-proxy quality signal (CCNet-style) computed against the
    corpus's OWN unigram LM, no external model needed. Common-word prose
    scores low; rare-token noise scores high; downstream curation
    thresholds on it.

    Plan: one tokenize/explode feeds both the vocabulary aggregate and
    the scoring join; the join keys on the term (vocabulary-sized — too
    big to broadcast at 100 TB, so a shuffle join is the *correct*
    choice, same reasoning as ``tfidf_top_terms``), and the corpus
    total rides in as a 1-row broadcast. Output: doc_id, n_tokens,
    avg_neg_log2p (4 dp; sum-order float noise is ~1e-12 of the value,
    far inside the rounding).
    """
    toks = widen(documents).select(
        "doc_id", F.explode(T.lower_tokens(F.col("text"))).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tc"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log2(F.col("n_total") / F.col("tc"))), 4).alias(
                "avg_neg_log2p"
            ),
        )
    )


def line_dedup(documents: DataFrame, min_words: int = 4) -> DataFrame:
    """Corpus-wide exact line deduplication with document reassembly —
    the C4/RefinedWeb boilerplate-removal step (`c4_line_stats` and
    `corpus_dup_ngrams` only *measure* duplication; this op *removes*
    it and hands back cleaned text). A line appearing in many documents
    (nav menus, cookie banners, license footers) survives only at its
    first occurrence ordered by (doc_id, pos); lines shorter than
    ``min_words`` whitespace words are structural (headings, blanks)
    and are never dedup keys.

    Plan (all keys balanced at 100 TB): posexplode is scan-local; the
    keeper aggregate ``min(struct(doc_id, pos)) per line-hash`` is
    map-side combined, so a million-copy boilerplate line collapses to
    one row per input partition before the exchange; the keeper
    verdict comes back via a LEFT join on ``(k, doc_id, pos)`` — the
    composite key is unique on both sides, so a hot line hash cannot
    concentrate in one task (and NULL-k structural lines hash by
    (doc_id, pos), spreading evenly); reassembly is one groupBy(doc_id)
    where ``collect_list`` skips the NULL entries ``when`` produces for
    dropped lines. Per-doc state is bounded by document length, never
    by corpus duplication.

    Output: doc_id, n_lines, n_kept, n_dropped, text_clean.
    """
    txt = F.coalesce(F.col("text"), F.lit(""))
    lines = widen(documents).select(
        "doc_id", F.posexplode(F.split(txt, "\n")).alias("pos", "line")
    )
    line = F.col("line")
    keyed = lines.withColumn(
        "k", F.when(line_words(line) >= min_words, line_key(line))
    )
    keepers = (
        keyed.filter(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.min(F.struct("doc_id", "pos")).alias("keep"))
        .select(
            "k",
            F.col("keep.doc_id").alias("doc_id"),
            F.col("keep.pos").alias("pos"),
            F.lit(1).alias("is_keeper"),
        )
    )
    flagged = keyed.join(keepers, ["k", "doc_id", "pos"], "left")
    kept = F.col("k").isNull() | F.col("is_keeper").isNotNull()
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(kept.cast("long")).alias("n_kept"),
        (F.count(F.lit(1)) - F.sum(kept.cast("long"))).cast("long").alias("n_dropped"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(kept, F.struct("pos", "line")))
                ),
                lambda s: s["line"],
            ),
        ).alias("text_clean"),
    )


#: (stage, rule, flag-builder) for ``quality_funnel`` — the gopher rule
#: set in its published order (each flag derived from the shared
#: ``GOPHER_RULE_SQL`` threshold table over ``gopher_quality``'s
#: ROUNDED outputs, so Spark and the DuckDB oracle threshold identical
#: values from identical fragments), then the C4 page gate.
FUNNEL_RULES = tuple(
    (rule, (lambda sql=sql: F.expr(sql))) for rule, sql in GOPHER_RULE_SQL
) + (("c4_page", lambda: F.col("page_pass") == 1),)


def quality_funnel(documents: DataFrame) -> DataFrame:
    """Per-rule attrition attribution for the quality gates — the
    curation-debugging view every filter deployment needs: for each
    rule, how many documents fail it at all (``n_fail``), how many fail
    ONLY it (``n_sole_fail`` — the docs that rule alone costs you, the
    number to stare at before tightening a threshold), and how many
    survive the pipeline up to and including it in published order
    (``n_survive``, the funnel).

    Plan: two document scans (gopher metrics + C4 line stats) joined
    once on doc_id, then ONE global aggregate of 24 conditional sums —
    constant-size output, partials combined map-side; the per-rule rows
    are unpivoted from the single aggregate row with ``stack``.

    Output: stage, rule, n_fail, n_sole_fail, n_survive (8 rows).
    """
    # ONE document scan (r15): page_pass is a scan-local expression
    # (the c4_line_stats page rule verbatim — lorem/brace blockers +
    # the 3-kept-lines minimum), so it rides _gopher_scored's extras
    # hook instead of a second corpus scan joined back on doc_id
    txt = F.coalesce(F.col("text"), F.lit(""))
    page_pass = (
        (F.locate("lorem ipsum", F.lower(txt)) == 0)
        & (F.locate("{", txt) == 0)
        & (F.size(c4_kept_lines(txt)).cast("long") >= 3)
    ).cast("int")
    flags = _gopher_scored(
        documents, extras=(("page_pass", page_pass),)
    ).select(
        *[
            build().cast("long").alias(f"f{i}")
            for i, (_, build) in enumerate(FUNNEL_RULES, start=1)
        ]
    )
    n = len(FUNNEL_RULES)
    aggs = []
    for i in range(1, n + 1):
        fi = F.col(f"f{i}")
        others = [F.col(f"f{j}") for j in range(1, n + 1) if j != i]
        sole = (1 - fi) * _prod(others)
        cum = _prod([F.col(f"f{j}") for j in range(1, i + 1)])
        aggs += [
            F.sum(1 - fi).alias(f"nf{i}"),
            F.sum(sole).alias(f"sf{i}"),
            F.sum(cum).alias(f"sv{i}"),
        ]
    one = flags.agg(*aggs)
    stacked = ", ".join(
        f"{i}, '{rule}', nf{i}, sf{i}, sv{i}"
        for i, (rule, _) in enumerate(FUNNEL_RULES, start=1)
    )
    return one.selectExpr(
        f"stack({n}, {stacked}) AS (stage, rule, n_fail, n_sole_fail, n_survive)"
    )


def _prod(cols):
    out = F.lit(1)
    for c in cols:
        out = out * c
    return out


GATE_AGREEMENT_GATES = ("gopher", "c4_page", "heuristic", "english")


def gate_agreement(documents: DataFrame) -> DataFrame:
    """Pairwise Cohen's kappa between the corpus quality gates, per
    source — the inter-rater view :func:`quality_funnel` (per-rule
    attrition) and :func:`dedup_agreement` (dedup-method overlap) don't
    cover: two gates that agree near-chance (κ≈0) are measuring
    different things and both earn their compute; κ≈1 means one is
    redundant, and a NEGATIVE κ flags gates fighting each other on a
    source — the signal that decides which filters to keep when each
    one costs a full corpus scan at 100 TB.

    Gates (one 0/1 verdict per document each, all replayable in SQL):
    ``gopher`` (the full Gopher rule conjunction), ``c4_page`` (the C4
    page gate), ``heuristic`` (``functions.text.quality_score`` ≥ 0.05,
    the streaming-admission threshold), ``english`` (metadata
    lang = 'en').

    Exactness: kappa is computed in closed integer form from the
    contingency sums — with a = Σg_a, b = Σg_b, m = Σg_a·g_b, n docs:

        kappa_milli = 1000·(n·(m + (n−a−b+m)) − (a·b + (n−a)·(n−b)))
                      div (n² − (a·b + (n−a)·(n−b)))

    (`div` truncation matches DuckDB ``//`` on negatives too). NULL
    when the chance-agreement denominator is 0 (a gate is constant on
    the source). int64-exact while 1000·n² < 2^63 — n ≤ ~3·10⁹ docs
    per source group; shard the group key beyond that.

    Plan: ONE document scan — all four gates are column expressions
    over the same projection (the ``_gopher_scored`` extras hook, the
    ``corpus_funnel`` one-scan discipline: the C4 page gate, heuristic
    score, and lang flag ride along with the Gopher metrics), then ONE
    map-side-combinable aggregate per source (count + 4 gate sums + 6
    pair sums); the 6 pair rows unpivot from the single aggregate row
    with ``stack``. Zero joins, zero data-sized shuffles. Output:
    source, gate_a, gate_b, n_docs, n_both, n_neither, agree_milli,
    kappa_milli — ordered by (source, gate_a, gate_b).
    """
    agg = gate_flags(documents).groupBy("source").agg(*agreement_aggs())
    return agreement_unpivot(agg, ["source"]).orderBy(
        "source", "gate_a", "gate_b"
    )


def gate_flags(documents: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """The shared one-scan gate projection behind :func:`gate_agreement`
    and its streaming twin (`streaming.curation.gate_agreement_stream`):
    per-document 0/1 verdicts g1 (Gopher conjunction), g2 (C4 page),
    g3 (heuristic ≥ 0.05), g4 (metadata lang = 'en'), plus source (or
    'unknown'); ``carry`` names extra passthrough columns (e.g. the
    stream's event-time). Missing lang/source columns default so the
    DOC_SCHEMA ingest stream works unchanged — a constant gate there
    yields kappa NULL (documented chance-denominator rule)."""
    from data_pipeline_example_spark.functions import text as TF

    txt = F.coalesce(F.col("text"), F.lit(""))
    src = (
        F.coalesce(F.col("source"), F.lit("unknown"))
        if "source" in documents.columns
        else F.lit("unknown")
    )
    lang = (
        F.coalesce(F.col("lang"), F.lit(""))
        if "lang" in documents.columns
        else F.lit("")
    )
    extras = (
        ("source", src),
        ("g2", c4_page_pass(txt).cast("int")),
        ("g3", (TF.quality_score(F.col("text")) >= 0.05).cast("int")),
        ("g4", (lang == "en").cast("int")),
    ) + tuple((c, F.col(c)) for c in carry)
    return _gopher_scored(documents, extras=extras).withColumn(
        "g1", gopher_passes().cast("int")
    )


_AGREEMENT_PAIRS = [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]


def agreement_aggs() -> list:
    """The fused 11-term aggregate (count + 4 gate sums + 6 pair sums)
    both agreement rollups share — map-side combinable, so the batch
    groupBy(source) and the streaming windowed aggregate cost one
    narrow exchange each."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    aggs += [F.sum(f"g{i}").cast("long").alias(f"a{i}") for i in range(1, 5)]
    aggs += [
        F.sum(F.col(f"g{i}") * F.col(f"g{j}")).cast("long").alias(f"b{i}{j}")
        for i, j in _AGREEMENT_PAIRS
    ]
    return aggs


def agreement_unpivot(agg: DataFrame, keys: list[str]) -> DataFrame:
    """Unpivot one agreement-aggregate row into the 6 gate-pair rows
    with the closed integer-milli kappa (shared by batch and stream;
    no ordering — streams can't sort)."""
    pairs = _AGREEMENT_PAIRS
    stacked = ", ".join(
        f"'{GATE_AGREEMENT_GATES[i - 1]}', '{GATE_AGREEMENT_GATES[j - 1]}',"
        f" a{i}, a{j}, b{i}{j}"
        for i, j in pairs
    )
    un = agg.selectExpr(
        *keys,
        "n",
        f"stack({len(pairs)}, {stacked}) AS (gate_a, gate_b, na, nb, n_both)",
    )
    return un.selectExpr(
        *keys,
        "gate_a",
        "gate_b",
        "n AS n_docs",
        "n_both",
        "n - na - nb + n_both AS n_neither",
        "na * nb + (n - na) * (n - nb) AS pe_num",
    ).selectExpr(
        *keys,
        "gate_a",
        "gate_b",
        "n_docs",
        "n_both",
        "n_neither",
        "1000 * (n_both + n_neither) div n_docs AS agree_milli",
        "CASE WHEN n_docs * n_docs = pe_num THEN NULL ELSE"
        " (1000 * (n_docs * (n_both + n_neither) - pe_num))"
        " div (n_docs * n_docs - pe_num) END AS kappa_milli",
    )


def dsir_weights(documents: DataFrame, n_buckets: int = 1024) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, public): score
    every document by how much its hashed-bigram profile looks like the
    high-quality slice of the corpus — ``log p_target(x)/p_raw(x)``
    under bag-of-hashed-bigram multinomials with add-one smoothing.
    The target slice is self-referential (docs whose ``doc_stats``
    quality ≥ the corpus mean), so no external model ships with the
    operator; resampling by these weights is the published recipe for
    matching a pretraining corpus to a quality domain.

    Plan: one tokenize/explode scan feeds per-(doc, bucket) counts
    (map-side combined); the bucket model is ``n_buckets`` rows —
    broadcast back for the per-doc weighted sum, so the corpus shuffles
    only narrow count rows, never text. Per-bucket log-ratios are
    rounded to 6 dp then scaled to exact integer MICRO-NATS before the
    per-doc sum — the whole doc score is integer arithmetic, immune to
    addition order and to cross-engine double-rounding disagreements.

    Output: doc_id, n_feats, log_weight_micro (micro-nats; divide by
    1e6 for the nat-scale log weight) — docs with ≥ 1 bigram.
    """
    # scan 1: the corpus mean quality — collected to ONE driver scalar
    # and embedded as an exact literal (r15: the 1-row frame was lazily
    # crossJoined into every feats branch, so its corpus scan re-ran
    # once per consumer — 3×; the value is already 6-dp rounded, so the
    # repr round-trip is exact)
    mq_row = (
        doc_stats(documents)
        .agg(F.round(F.avg("quality"), 6).alias("mq"))
        .collect()[0]["mq"]
    )
    mq_lit = (
        F.expr(f"CAST('{mq_row!r}' AS DOUBLE)")
        if mq_row is not None
        else F.lit(None).cast("double")
    )
    t = T.lower_tokens(F.col("text"))
    # scans 2/3: the per-bigram frame with is_t derived INLINE from the
    # same bound-count projection doc_stats uses (bit-identical quality
    # expression + the broadcast mean) — no per-doc flag frame, no
    # (doc, bucket) count materialization. The r14 form checkpointed
    # the doc×bucket counts to share one tokenize scan between the
    # bucket model and the scoring; that frame is #docs × #distinct-
    # buckets-per-doc rows and OOM'd a 48 GB driver at the r15 sf100
    # sweep — re-reading the corpus per consumer is strictly cheaper
    # at scale (each pass is one pushdown-pruned scan with a bounded
    # or output-sized shuffle).
    feats = (
        _count_cols(widen(documents), t.alias("t"))
        .select(
            "doc_id",
            (_quality_from_counts() >= mq_lit).cast("int").alias("is_t"),
            F.explode(T.word_grams("t", 2)).alias("bigram"),
        )
        .select(
            "doc_id",
            "is_t",
            (md5_int(F.col("bigram"), 8) % n_buckets).alias("bucket"),
        )
    )
    # the bucket model aggregates DIRECTLY to the n_buckets domain —
    # map-side combined, the exchange carries ≤ n_buckets rows per
    # task; occurrence sums equal the old per-doc-count sums exactly
    # (integer, order-independent), so the oracle is unchanged.
    # materialized (r15): the table is n_buckets rows — NOT the
    # corpus-sized doc×bucket frame the r14 note rejected — and its
    # lazy form re-tokenized the corpus once per consumer (totals +
    # log-ratio = 2 extra full scans)
    btab = (
        feats.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("is_t") == 1, 1).otherwise(0)).alias("ct"),
            F.count(F.lit(1)).alias("cr"),
        )
        .transform(materialize)
    )
    tot = btab.agg(
        F.sum("ct").alias("t_tot"), F.sum("cr").alias("r_tot")
    )
    lr = btab.crossJoin(F.broadcast(tot)).select(
        "bucket",
        # micro-units: the 6 dp log-ratio scaled to an exact long, so the
        # per-doc sum is integer arithmetic — order-independent, no
        # knife-edge at the output rounding boundary (a float-sum variant
        # flipped one doc's 4th decimal at sf0.01)
        F.round(
            F.round(
                F.log((F.col("ct") + 1.0) / (F.col("t_tot") + n_buckets))
                - F.log((F.col("cr") + 1.0) / (F.col("r_tot") + n_buckets)),
                6,
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("lw_micro"),
    )
    return (
        feats.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            # exact integer micro-nats end to end: no float rounding
            # anywhere, so no engine can disagree at a half-way boundary
            # (Spark rounds doubles via their decimal string, DuckDB via
            # the binary value — -0.27795 split them); summing per
            # OCCURRENCE equals the old per-(doc, bucket)-count sum
            F.sum("lw_micro").cast("long").alias("log_weight_micro"),
        )
    )


def source_caps(documents: DataFrame, cap: int = 50) -> DataFrame:
    """Per-source document cap by quality rank — the RefinedWeb-style
    per-domain limiter: no single domain may contribute more than
    ``cap`` documents, and when it would, its highest-quality documents
    win. Ties rank by doc_id so the keep-set is deterministic.

    Plan: quality is a scan-local expression (`doc_stats`), the rank is
    ``row_number`` over (source) with a ``<= cap`` filter — Spark
    rewrites that into WindowGroupLimit, so each task keeps a cap-sized
    heap per source instead of sorting whole domains; a mega-domain
    never materializes sorted. Output: doc_id, source, quality, q_rank.
    """
    # quality + source in ONE scan-local projection (r15: the join-back
    # re-read the corpus and self-joined on doc_id for one column)
    scored = _count_cols(documents, F.col("source")).select(
        "doc_id", _quality_from_counts().alias("quality"), "source"
    )
    w = Window.partitionBy("source").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        scored.withColumn("q_rank", F.row_number().over(w))
        .filter(F.col("q_rank") <= cap)
        .select("doc_id", "source", "quality", "q_rank")
    )


def packing_efficiency(
    documents: DataFrame, budget: int = 2048, shards: int = 16
) -> DataFrame:
    """Audit of ``pack_documents``: how full the fixed-budget bins
    actually are — the number a packing strategy is judged by. A bin's
    fill is the token mass of documents whose offset starts inside it;
    offset binning lets one straddling document overflow its bin, so
    overflow stats are reported rather than hidden.

    Constant-size output (one row): n_bins, avg_fill_frac (mean of
    min(fill, budget)/budget), overflow_bin_frac, waste_frac
    (1 − total-capped-fill / total capacity). Bin aggregation is one
    map-side-combined exchange on (shard, bin_id); no global sort.
    """
    packed = pack_documents(documents, budget=budget, shards=shards)
    bins = packed.groupBy("shard", "bin_id").agg(
        F.sum("n_tokens").alias("fill")
    )
    capped = F.least(F.col("fill"), F.lit(budget))
    return bins.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.round(F.avg(capped / float(budget)), 4).alias("avg_fill_frac"),
        F.round(
            F.avg((F.col("fill") > budget).cast("double")), 4
        ).alias("overflow_bin_frac"),
        F.round(
            1.0 - F.sum(capped) / (F.count(F.lit(1)) * float(budget)), 4
        ).alias("waste_frac"),
    )


def bigram_lm_scores(documents: DataFrame) -> DataFrame:
    """Per-document negative log-likelihood under the corpus's OWN
    bigram LM with Laplace smoothing — the next rung above
    ``unigram_scores`` on the CCNet-style perplexity-proxy ladder:
    ``P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)``.

    Exactness: each bigram's −log2 P is rounded to 6 dp then scaled to
    integer MICRO-BITS; per-doc totals are integer sums and the mean is
    integer division — no float accumulation anywhere, so the result is
    engine- and order-independent (the ``dsir_weights`` discipline).

    Plan: one tokenize pass explodes (w1, bigram) pairs; bigram and
    unigram counts are two map-side-combined aggregates; both scoring
    joins key on vocabulary-sized terms (too big to broadcast at
    100 TB — the shuffle join is the correct choice, as in
    ``tfidf_top_terms``); V rides in as a 1-row broadcast.

    Output: doc_id, n_bigrams, total_nll_micro, avg_nll_micro
    (micro-bits; divide by 1e6 for bits) — docs with ≥ 1 bigram.
    """
    t = T.lower_tokens(F.col("text"))
    # tokenize ONCE: the bigram explode, the unigram explode, and both
    # scoring joins all derive from this frame (previously 4 re-tokenize
    # text scans through branch lineage)
    toked = widen(documents).select("doc_id", t.alias("t")).transform(materialize)
    pairs = toked.select(
        "doc_id",
        F.explode(
            F.transform(
                T.word_grams("t", 2),
                lambda g, i: F.struct(
                    F.element_at("t", i + 1).alias("w1"), g.alias("bg")
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.bg")
    unis = toked.select(F.explode("t").alias("term"))
    uni = unis.groupBy("term").agg(F.count(F.lit(1)).alias("c1"))
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    bg = pairs.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    nll_micro = (
        F.round(
            F.round(
                -F.log2((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))), 6
            )
            * 1e6,
            0,
        )
    ).cast("long")
    return (
        pairs.join(bg, "bg")
        .join(uni, pairs["w1"] == uni["term"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(nll_micro).alias("total_nll_micro"),
        )
        # integral `div`, NOT float `/`+cast: a double quotient can land
        # at N − 1e-10 and truncate to N−1 while the oracle's exact
        # integer // yields N (the length_buckets/sub_id lesson)
        .withColumn(
            "avg_nll_micro", F.expr("total_nll_micro div n_bigrams")
        )
    )


def ccnet_buckets(documents: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing: label every document head /
    middle / tail by which tercile of the corpus's ``unigram_scores``
    perplexity proxy it falls in (head = most-fluent third). The
    published CCNet pipeline routes these buckets to different
    training mixtures; the label is the routing key.

    Tercile thresholds come from a value histogram of the 4-dp-rounded
    scores — distinct-score cardinality is bounded by the rounding
    (planning-sized), so the prefix-sum window runs over a tiny frame
    and the corpus itself is never globally sorted (the
    ``length_buckets`` cuts discipline). Threshold semantics: t_k is
    the smallest score with cumulative count ≥ ⌈k·n/3⌉; bucket
    boundaries are value-based, so ties share a bucket and the
    assignment is deterministic.

    Output: doc_id, avg_neg_log2p, bucket — docs with ≥ 1 token.
    """
    # unigram_scores is itself a multi-join pipeline — materialize its
    # narrow (doc_id, score) output once; the histogram/cuts chain and
    # the final labeling both read it instead of re-running the scorer
    scores = (
        unigram_scores(documents)
        .select("doc_id", "avg_neg_log2p")
        .transform(materialize)
    )
    hist = scores.groupBy("avg_neg_log2p").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("avg_neg_log2p").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select(
        "avg_neg_log2p", F.sum("c").over(w).alias("cum")
    )
    total = hist.agg(F.sum("c").alias("n"))
    cuts = cum.crossJoin(F.broadcast(total)).agg(
        F.min(
            F.when(
                F.col("cum") >= F.expr("(n + 2) div 3"), F.col("avg_neg_log2p")
            )
        ).alias("t1"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(2 * n + 2) div 3"),
                F.col("avg_neg_log2p"),
            )
        ).alias("t2"),
    )
    return scores.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "avg_neg_log2p",
        F.when(F.col("avg_neg_log2p") <= F.col("t1"), "head")
        .when(F.col("avg_neg_log2p") <= F.col("t2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


def oov_rate(documents: DataFrame, vocab_size: int = 1000) -> DataFrame:
    """Vocabulary-coverage audit: per-document out-of-vocabulary rate
    against the corpus's own top-``vocab_size`` terms (count desc, term
    asc — ties cut deterministically). The signal a tokenizer/vocab
    decision is judged by: a rising OOV tail means the vocab under-fits
    the corpus slice.

    Plan: one tokenize/explode feeds the vocabulary aggregate; top-V
    selection is a TakeOrdered over the vocabulary-sized count frame
    (never the corpus); the V-row keep-set broadcasts into a LEFT join
    so the corpus tokens are scanned once and shuffle only for the
    per-doc rollup. Output: doc_id, n_tokens, n_oov, oov_rate.
    """
    # NOT checkpointed: materializing the exploded (doc_id, term) rows
    # measured 3x slower than letting both consumers re-tokenize (the
    # explode multiplies the corpus; the extra scan is column-pruned) —
    # the opposite trade from the array-shaped frames in
    # bigram_lm_scores/dsir_weights
    toks = widen(documents).select(
        "doc_id", F.explode(T.lower_tokens(F.col("text"))).alias("term")
    )
    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("tc"))
        .orderBy(F.desc("tc"), F.asc("term"))
        .limit(vocab_size)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(top), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("long")).alias("n_oov"),
            F.round(
                F.sum(F.col("in_vocab").isNull().cast("long"))
                / F.count(F.lit(1)),
                4,
            ).alias("oov_rate"),
        )
    )


def c4_clean(
    documents: DataFrame,
    min_line_words: int = 5,
    require_terminal: bool = True,
    min_kept_lines: int = 3,
) -> DataFrame:
    """The C4 TRANSFORM (Raffel et al. 2020 §2.2) — ``c4_line_stats``
    audits the rules; this applies them and hands back the cleaned
    corpus: lines with < ``min_line_words`` whitespace words (or, when
    ``require_terminal``, no terminal punctuation) are dropped, and
    pages with a ``lorem ipsum`` marker, a ``{``, or fewer than
    ``min_kept_lines`` surviving lines are dropped whole. Defaults are
    the published C4 rules; the registered driver query relaxes
    (require_terminal=False, min_kept_lines=1) because the synthetic
    corpus is single-line unpunctuated word salad and the strict gate
    would certify a vacuous 0-row result — the strict path is pinned by
    unit test instead.

    Pure column expressions over one scan — array filter + join, zero
    shuffle, whole-stage codegen; the corpus transform costs exactly
    one pass at any scale. Output: doc_id, n_kept_lines, text_clean
    (surviving pages only).
    """
    txt = F.coalesce(F.col("text"), F.lit(""))
    line_ok = c4_line_rule(min_line_words, require_terminal)
    kept = F.filter(F.split(txt, "\n"), line_ok)
    base = documents.select(
        "doc_id",
        F.size(kept).cast("long").alias("n_kept_lines"),
        F.array_join(kept, "\n").alias("text_clean"),
        (F.locate("lorem ipsum", F.lower(txt)) > 0).alias("has_lorem"),
        (F.locate("{", txt) > 0).alias("has_brace"),
    )
    return base.filter(
        (~F.col("has_lorem"))
        & (~F.col("has_brace"))
        & (F.col("n_kept_lines") >= min_kept_lines)
    ).select("doc_id", "n_kept_lines", "text_clean")


def ccnet_mixture(
    documents: DataFrame,
    rates: dict | None = None,
) -> DataFrame:
    """CCNet's SAMPLING step: keep perplexity-bucketed documents at
    per-bucket rates (head oversampled, tail thinned) — the step that
    turns ``ccnet_buckets`` labels into an actual training mixture.
    Membership is the deterministic md5 hash fraction (the
    ``mixture_sample`` idiom), so the mixed corpus is reproducible from
    raw data at any time.

    Plan: the bucket assignment's histogram cuts are planning-sized;
    membership is a scan-local expression; the rollup is a 3-group
    aggregate. Output (per bucket): bucket, n_docs, n_sampled, rate.
    """
    rates = rates or {"head": 1.0, "middle": 0.5, "tail": 0.1}
    rate = None
    for name, r in rates.items():
        rate = (
            F.when(F.col("bucket") == name, float(r))
            if rate is None
            else rate.when(F.col("bucket") == name, float(r))
        )
    buckets = ccnet_buckets(documents).select("doc_id", "bucket")
    return (
        buckets.withColumn("rate", rate)
        .withColumn(
            "sampled", (hash_frac(F.col("doc_id")) < F.col("rate")).cast("long")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("sampled").alias("n_sampled"),
            F.min("rate").alias("rate"),
        )
    )


def token_budget_caps(documents: DataFrame, budget: int = 800) -> DataFrame:
    """Per-source TOKEN-budget curation — the mixture op a pretraining
    run actually uses (``source_caps`` limits document COUNT; corpora
    are budgeted in tokens): within each source, documents rank by
    (token count desc, doc_id) and survive while the source's running
    token total stays within ``budget``.

    The per-GROUP form of the shared ``functions.cuts`` discipline. A
    running sum windowed over ``partitionBy(source)`` sorts every
    mega-source in one task; instead, ``value_cuts`` computes the token
    mass of strictly-longer documents per (source, n_tokens)
    distributedly (range-partitioned histogram + per-partition
    offsets; no driver state, never Θ(distinct values)), and a row's
    running total is ``mass_before + (rank − cum_before) × n_tokens``
    — ``rank − cum_before`` is its row_number within (source,
    n_tokens), a hash-partitioned window, never a per-source sort.
    NULL sources are one partition group (null-safe join — matching
    SQL PARTITION BY semantics). Bit-identical to the running-sum
    window (the SQL oracle's form). Eager construction: ``value_cuts``
    materializes its ranged histogram (see that module's contract
    note). Output: doc_id, source, n_tokens, kept (int).
    """
    toks = documents.select(
        "doc_id", "source", T.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    cuts = value_cuts(
        toks, "n_tokens", group_cols=("source",), weight_col="n_tokens", descending=True
    )
    running = F.col("mass_before") + (F.col("rank") - F.col("cum_before")) * F.col("n_tokens")
    return rank_rows(toks, cuts, "n_tokens", "doc_id", ("source",)).select(
        "doc_id", "source", "n_tokens", (running <= budget).cast("int").alias("kept")
    )


def winnowing_fingerprints(
    documents: DataFrame, k: int = 4, w: int = 5
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k-token gram, slide a
    w-gram window, and select each window's MINIMUM hash (ties broken
    to the RIGHTMOST position, the paper's winnowing tie rule); the
    union of selections is the fingerprint set. Guarantees: any shared
    run of w+k-1 tokens between two documents yields ≥1 shared
    fingerprint, and expected density is 2/(w+1) — a sparse,
    position-aware sample that localizes PARTIAL overlap, which
    whole-document hashing (`doc_fingerprints`) and set-shingling
    (`jaccard_pairs`) both blur.

    Plan: gram hashing is one array transform over one scan (the hash
    array is referenced exactly once — by the posexplode — so Catalyst
    cannot re-inline it; an earlier array-slice formulation evaluated
    the gram transform once per WINDOW reference, O(n²·k) md5s per
    document). Selection is ONE window expression: the per-window
    rightmost-argmin is ``min(struct(h, -pos))`` over the same
    ``rowsBetween(0, w-1)`` running window (struct ordering compares h
    first, then -pos — so the smallest hash wins and ties resolve to
    the largest position), partitioned by doc — state bounded by
    document length at any corpus size, no self-join, no groupBy;
    overlapping windows' repeated selections collapse in one distinct.
    Hashes are 48-bit md5 prefixes (portable, the dedup-family
    discipline). Output: doc_id, pos (1-based gram position, int),
    fp (long).
    """
    sels = _winnowing_sel_arrays(documents, k, w, with_pos=True)
    return sels.select("doc_id", F.explode("sels").alias("s")).select(
        "doc_id",
        (-F.col("s.negpos")).cast("int").alias("pos"),
        F.col("s.fp").alias("fp"),
    )


def _winnowing_sel_arrays(
    documents: DataFrame, k: int, w: int, with_pos: bool
) -> DataFrame:
    """Per-document winnowing selections as ONE scan-local array
    expression — (doc_id, sels) where sels is the array_distinct'd
    window minima. Replaces the posexplode → window(min struct) →
    distinct pipeline (one exchange for the doc-partitioned window plus
    one or two distinct exchanges) with zero exchanges: the sliding
    rightmost-min runs in-array (w is a small constant, so the O(n·w)
    per-doc comparisons match the window form's work), and per-doc
    ``array_distinct`` IS the global distinct because doc_id is in
    every output key.

    Guard rails: every computed array (gram hashes H, the positioned
    struct array S) is bound ONCE through the single-element-array
    lambda trick (``transform(array(expr), X -> body)``) — a lambda
    variable can never be re-inlined by CollapseProject, whereas a
    plain column reference inside the per-window lambda would
    re-evaluate the full gram/md5 transform once per window (the
    O(n²·k) trap the winnowing docstring records).

    ``with_pos=False`` returns just the distinct fp longs per doc (the
    overlap-pairs index shape): the window minimum needs no positional
    struct at all, only ``array_min`` over the hash slice.
    """
    grams_df = (
        widen(documents)
        .select("doc_id", T.lower_tokens(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.transform(T.word_grams("t", k), lambda x: md5_int(x, 12)).alias("h"),
        )
    )
    if with_pos:
        s_expr = (
            "element_at(transform(array(h), "
            "H -> transform(H, (x, j) -> struct(x AS fp, -(j + 1) AS negpos))), 1)"
        )
        sel_expr = (
            f"element_at(transform(array({s_expr}), "
            f"S -> CASE WHEN size(S) = 0 THEN array() ELSE array_distinct("
            f"transform(sequence(1, greatest(size(S) - {w} + 1, 1)), "
            f"i -> array_min(slice(S, i, {w})))) END), 1)"
        )
    else:
        sel_expr = (
            "element_at(transform(array(h), "
            f"H -> CASE WHEN size(H) = 0 THEN array() ELSE array_distinct("
            f"transform(sequence(1, greatest(size(H) - {w} + 1, 1)), "
            f"i -> array_min(slice(H, i, {w})))) END), 1)"
        )
    return grams_df.selectExpr("doc_id", f"{sel_expr} AS sels")


def winnowing_overlap_pairs(
    documents: DataFrame,
    k: int = 4,
    w: int = 5,
    max_df: int = 32,
    min_shared: int = 2,
) -> DataFrame:
    """MOSS-style partial-overlap detection over the winnowing
    fingerprint index: document pairs sharing ≥ ``min_shared`` selected
    fingerprints. Fingerprints appearing in more than ``max_df``
    documents are dropped first — the standard common-phrase filter
    (boilerplate idioms fingerprint half the corpus; they carry no
    overlap signal and their inverted-index buckets are exactly the
    quadratic pair blowup the simhash decade measured). With the df
    cap, every bucket join emits ≤ max_df²/2 pairs per fingerprint —
    linear in corpus size.

    Plan: one fingerprint materialization (checkpointed — both the df
    census and the index probe read it), a df-capped semi join, then
    ``dedup.shared_key_pairs``: one self-join keyed on fp, one pair
    rollup. The checkpointed index is
    built from the fp-only selection arrays
    (:func:`_winnowing_sel_arrays` — per-doc ``array_distinct`` of the
    window minima IS the (doc_id, fp) distinct), so the checkpoint job
    is scan + project + explode with ZERO exchanges — the window
    exchange and both distinct exchanges of the struct-selection form
    are gone. Output: doc_a, doc_b, n_shared (doc_a < doc_b).
    """
    fps = (
        _winnowing_sel_arrays(documents, k, w, with_pos=False)
        .select("doc_id", F.explode("sels").alias("fp"))
        # hash-partition the index by fp INSIDE the checkpoint job: one
        # exchange replaces the old form's three (window + double
        # distinct), and the blocks come out at full parallelism — a
        # zero-exchange checkpoint inherits the SCAN's partitioning (one
        # split at bench scale) and starved the downstream self-join
        # (measured: exec 1.1-1.3 s vs 0.5-0.6 s). The checkpoint seam
        # erases the partitioning INFO (ExistingRDD), so the census /
        # join exchanges still plan — but they shuffle pre-clustered
        # rows at full width instead of re-sharding one fat split
        .repartition("fp")
        .transform(materialize)
    )
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("fp")
    )
    idx = fps.join(rare, "fp", "left_semi")
    return dedup.shared_key_pairs(idx, "fp").filter(
        F.col("n_shared") >= min_shared
    )


def substring_dedup(documents: DataFrame, k: int = 50) -> DataFrame:
    """ExactSubstr deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): any ``k``-token span
    that already occurred earlier in the corpus (ordered by (doc_id,
    position)) is REMOVED from the text — the suffix-array dedup of
    the paper, re-expressed relationally so it runs as joins +
    bounded windows instead of a monolithic suffix array. `line_dedup`
    removes repeated LINES; this removes repeated SPANS regardless of
    line structure (licence boilerplate mid-paragraph, templated
    sentences), operating on the normalized token stream.

    Plan: gram hashes come from one array transform referenced once
    (posexplode); the first-occurrence verdict is the `line_dedup`
    keeper idiom — min(struct(doc_id, pos)) per gram hash, map-side
    combined, joined back on the unique (h, doc_id, pos) composite so
    a boilerplate span can't skew a task; span coverage ("is token t
    inside any duplicated span start s ∈ [t−k+1, t]?") is the as-of
    UNION trick — marker and token rows interleave in ONE per-doc
    window (state bounded by document length) and a running max of
    marker starts decides each token, no range join, no interval
    explosion; reassembly is one groupBy(doc_id). Output: doc_id,
    n_tokens, n_dropped, text_clean (kept tokens space-joined).
    """
    # tokenize ONCE and materialize: grams (twice — keeper census and
    # anti-join probe), the token explode, and the reassembly all read
    # this frame; without the checkpoint each branch re-scans and
    # re-tokenizes the corpus (the plan showed 8 parquet scans).
    # DISK_ONLY seam: the frame is corpus-sized (every token), and
    # MEMORY_AND_DISK blocks starved the shuffles at the r15 sf100
    # sweep (x13.5 on x10 data)
    base = widen(documents).select(
        "doc_id", T.lower_tokens(F.col("text")).alias("t")
    ).transform(materialize_disk)
    grams = base.select(
        "doc_id", F.transform(T.word_grams("t", k), F.md5).alias("H")
    ).select("doc_id", F.posexplode("H").alias("p0", "h")).select(
        "doc_id", (F.col("p0") + 1).alias("pos"), "h"
    )
    keepers = (
        grams.groupBy("h")
        .agg(F.min(F.struct("doc_id", "pos")).alias("keep"))
        .select(
            "h",
            F.col("keep.doc_id").alias("doc_id"),
            F.col("keep.pos").alias("pos"),
        )
    )
    marked = grams.join(keepers, ["h", "doc_id", "pos"], "left_anti").select(
        "doc_id", "pos"
    )
    tokens = base.select("doc_id", F.posexplode("t").alias("tp0", "tok")).select(
        "doc_id", (F.col("tp0") + 1).alias("pos"), "tok"
    )
    events = tokens.withColumn("typ", F.lit(0)).unionByName(
        marked.select("doc_id", "pos")
        .withColumn("tok", F.lit(None).cast("string"))
        .withColumn("typ", F.lit(1))
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy(F.asc("pos"), F.desc("typ"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scanned = events.withColumn(
        "last_s", F.max(F.when(F.col("typ") == 1, F.col("pos"))).over(w)
    )
    toks_out = scanned.filter(F.col("typ") == 0).select(
        "doc_id",
        "pos",
        "tok",
        (
            F.col("last_s").isNull() | (F.col("last_s") + (k - 1) < F.col("pos"))
        ).alias("kept"),
    )
    agg = toks_out.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum((~F.col("kept")).cast("long")).alias("n_dropped"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("kept"), F.struct("pos", "tok")))
                ),
                lambda s: s["tok"],
            ),
        ).alias("text_clean"),
    )
    return (
        documents.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def gopher_repetition(documents: DataFrame) -> DataFrame:
    """The Gopher REPETITION rule set (Rae et al. 2021, §A1.1 — the
    companion gate to :func:`gopher_quality`'s document rules): per
    document, the duplicate-line fraction, duplicate-line CHARACTER
    fraction, and the fraction of normalized-stream characters covered
    by the single most frequent {2,3,4}-gram. Gopher drops documents
    with dup_line_frac > 0.30, dup_line_char_frac > 0.20, or top-n-gram
    char fractions above 0.20/0.18/0.16 — templated/looping boilerplate
    that per-document quality rules miss.

    Contract notes: lines are trimmed, empty lines dropped; the
    top-gram denominators use the normalized token stream's character
    length (deterministic cross-engine, unlike raw-text char counts
    with \\r/zero-width variance); the most-frequent gram tie-breaks
    (count desc, gram length desc, gram desc) so the covered-char
    figure is engine-independent.

    Plan: ONE corpus scan materializes the per-doc line + token arrays
    (localCheckpoint — the line metrics and the gram branch both read
    it; module docstring's eager-construction contract applies). Line
    metrics are pure per-row array arithmetic (each array pass linear,
    constant passes per doc). The gram branch explodes (doc, n, gram)
    rows — narrow strings, never text — through two map-side-combined
    aggregates: (doc, n, gram) counts, then a per-(doc, n) struct-max
    (no window, no sort). Output: doc_id, n_lines, dup_line_frac,
    dup_line_char_frac, top2_char_frac, top3_char_frac,
    top4_char_frac, passes (int) — all fractions 4 dp.
    """
    lines_col = F.filter(
        F.transform(
            F.split(F.coalesce(F.col("text"), F.lit("")), r"\n"),
            lambda x: F.trim(x),
        ),
        lambda x: x != F.lit(""),
    )
    base = (
        # DISK_ONLY seam: lines + tokens ≈ twice the text volume —
        # corpus-sized, the r15 sf100 hazard class (x15.8 on x10 data
        # under the MEMORY_AND_DISK localCheckpoint)
        widen(documents)
        .select(
            "doc_id",
            lines_col.alias("l"),
            T.lower_tokens(F.col("text")).alias("t"),
        )
        .transform(materialize_disk)
    )
    zero = F.lit(0).cast("long")
    per_doc = base.select(
        "doc_id",
        F.size("l").cast("long").alias("n_lines"),
        F.size(F.array_distinct("l")).cast("long").alias("n_dist"),
        F.aggregate("l", zero, lambda a, x: a + F.length(x)).alias("lchars"),
        F.aggregate(F.array_distinct("l"), zero, lambda a, x: a + F.length(x)).alias(
            "dchars"
        ),
        F.length(F.array_join("t", " ")).cast("long").alias("tchars"),
    )
    def tagged(n):
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))

    gram_rows = base.select(
        "doc_id",
        F.explode(
            F.concat(
                *[F.transform(T.word_grams("t", n), tagged(n)) for n in (2, 3, 4)]
            )
        ).alias("p"),
    ).select("doc_id", "p.n", "p.gram")
    cnts = gram_rows.groupBy("doc_id", "n", "gram").agg(F.count(F.lit(1)).alias("c"))
    top = (
        cnts.groupBy("doc_id", "n")
        .agg(
            F.max(
                F.struct(
                    F.col("c"), F.length("gram").alias("glen"), F.col("gram")
                )
            ).alias("top")
        )
        .select(
            "doc_id",
            "n",
            (F.col("top.c") * F.col("top.glen")).cast("long").alias("top_chars"),
        )
    )
    topw = top.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("n") == n, F.col("top_chars"))).alias(f"t{n}")
            for n in (2, 3, 4)
        ]
    )

    def frac(num, den):
        return F.when(den > 0, F.round(num / den, 4)).otherwise(F.lit(0.0))

    def topfrac(c):
        return F.when(
            (F.col("tchars") > 0) & F.col(c).isNotNull(),
            F.round(F.col(c) / F.col("tchars"), 4),
        ).otherwise(F.lit(0.0))

    dup_line = frac(F.col("n_lines") - F.col("n_dist"), F.col("n_lines"))
    dup_char = frac(F.col("lchars") - F.col("dchars"), F.col("lchars"))
    scored = per_doc.join(topw, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        dup_line.alias("dup_line_frac"),
        dup_char.alias("dup_line_char_frac"),
        topfrac("t2").alias("top2_char_frac"),
        topfrac("t3").alias("top3_char_frac"),
        topfrac("t4").alias("top4_char_frac"),
    )
    passes = (
        (F.col("dup_line_frac") <= 0.30)
        & (F.col("dup_line_char_frac") <= 0.20)
        & (F.col("top2_char_frac") <= 0.20)
        & (F.col("top3_char_frac") <= 0.18)
        & (F.col("top4_char_frac") <= 0.16)
    )
    return scored.withColumn("passes", passes.cast("int"))


#: PII detector patterns — deliberately RE2-compatible (no lookaround,
#: no backrefs) so the Spark (Java regex) and DuckDB (RE2) engines
#: match identically; shared by operator and oracle.
#: Known narrow caveat (r14 non-ASCII audit): the ipv4 pattern's \b is
#: Unicode-aware in Java but ASCII-only in RE2, so an IP ABUTTING a
#: non-ASCII letter ('é1.2.3.4') counts in DuckDB but not Spark. Kept
#: deliberately: the boundary-free alternatives either regress ASCII
#: adjacency semantics (consuming-boundary groups miss the second of
#: two space-adjacent IPs) or can't drive regexp_replace redaction.
#: On ASCII-delimited PII — every real corpus hit — the engines agree.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\d{3}[-.]\d{3}[-.]\d{4}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
)


def pii_scan(documents: DataFrame) -> DataFrame:
    """PII pre-redaction scan — the census a curation pipeline runs
    before deciding redaction policy (C4/Dolma both gate on it):
    per-document counts of email addresses, NNN-NNN-NNNN phone
    numbers, and dotted-quad IPv4 literals, from ``PII_PATTERNS``
    (one pattern table drives operator, oracle, and any downstream
    redactor — the GOPHER_RULE_SQL discipline).

    Pure scan-local regexp_count expressions — zero shuffle at any
    corpus size; the patterns avoid lookaround so Java regex and RE2
    agree. Output: doc_id, n_emails, n_phones, n_ipv4, n_pii,
    has_pii (int).
    """
    counts = [
        F.regexp_count(
            F.coalesce(F.col("text"), F.lit("")), F.lit(pat)
        ).cast("long").alias(f"n_{name}s" if name != "ipv4" else "n_ipv4")
        for name, pat in PII_PATTERNS
    ]
    scored = widen(documents).select("doc_id", *counts)
    n_pii = F.col("n_emails") + F.col("n_phones") + F.col("n_ipv4")
    return scored.select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_ipv4",
        n_pii.alias("n_pii"),
        (n_pii > 0).cast("int").alias("has_pii"),
    )


# One pattern table drives the operator AND the oracle (the
# PII_PATTERNS discipline). \x{...} hex classes parse identically in
# Java regex (Spark) and RE2 (DuckDB); tab/newline/CR are deliberately
# NOT control-class members (normal text structure).
UNICODE_HYGIENE_PATTERNS = (
    ("replacement", r"[\x{FFFD}]"),
    ("control", r"[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}]"),
    ("zero_width", r"[\x{200B}-\x{200D}\x{FEFF}]"),
    ("bidi", r"[\x{202A}-\x{202E}\x{2066}-\x{2069}]"),
)


def unicode_hygiene(documents: DataFrame) -> DataFrame:
    """Unicode trust-and-safety census per source — the pre-training
    audit for the character classes that corrupt tokenizers or hide
    adversarial content: U+FFFD replacement characters (mojibake from
    a broken decode upstream), C0/DEL control characters (binary
    contamination), zero-width characters (ZWSP/ZWNJ/ZWJ/BOM —
    fingerprinting and token-splitting vectors), and explicit bidi
    controls (LRE..PDF, LRI..PDI — the Trojan-Source class of display
    spoofing). Dolma/FineWeb-style pipelines drop or normalize these
    before tokenization; this op measures how much of each source
    needs it.

    Pure scan-local ``regexp_count`` expressions folded into ONE
    map-side-combinable aggregate per source — zero data-sized
    shuffle at any corpus size. For each class: documents containing
    it, total occurrences, and the affected-docs rate in milli.
    Output: source, n_docs, then per class {class}_docs,
    {class}_chars, {class}_docs_milli — ordered by source.
    """
    txt = F.coalesce(F.col("text"), F.lit(""))
    counts = [
        F.regexp_count(txt, F.lit(pat)).cast("long").alias(f"c_{name}")
        for name, pat in UNICODE_HYGIENE_PATTERNS
    ]
    scored = documents.select(
        F.coalesce(F.col("source"), F.lit("unknown")).alias("source"), *counts
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs")]
    for name, _ in UNICODE_HYGIENE_PATTERNS:
        aggs.append(
            F.sum((F.col(f"c_{name}") > 0).cast("long"))
            .cast("long")
            .alias(f"{name}_docs")
        )
        aggs.append(F.sum(f"c_{name}").cast("long").alias(f"{name}_chars"))
    agg = scored.groupBy("source").agg(*aggs)
    rates = [
        F.expr(f"1000 * {name}_docs div n_docs").alias(f"{name}_docs_milli")
        for name, _ in UNICODE_HYGIENE_PATTERNS
    ]
    cols: list = ["source", "n_docs"]
    for name, _ in UNICODE_HYGIENE_PATTERNS:
        cols += [f"{name}_docs", f"{name}_chars"]
    return agg.select(*cols, *rates).orderBy("source")


# the two hygiene classes unicode_clean REMOVES outright (zero-width +
# bidi controls, then C0/DEL controls sans \t \n \r) — same codepoint
# ranges the unicode_hygiene census counts, and the same \x{...} class
# syntax in Java regex and RE2 so one pattern string serves both engines
UNICODE_STRIP_FORMAT = r"[\x{200B}-\x{200D}\x{FEFF}\x{202A}-\x{202E}\x{2066}-\x{2069}]"
UNICODE_STRIP_CONTROL = r"[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}]"


def unicode_clean_cols(txt: Column) -> tuple[Column, Column, Column]:
    """Shared expression builder for :func:`unicode_clean` and the
    streaming admission stage (`streaming.curation.unicode_clean_stream`)
    — returns (stripped, lines, kept_lines) so both paths apply the
    IDENTICAL transform: format/bidi controls and C0/DEL controls
    removed in-place, then lines carrying U+FFFD mojibake dropped."""
    stripped = F.regexp_replace(
        F.regexp_replace(txt, UNICODE_STRIP_FORMAT, ""), UNICODE_STRIP_CONTROL, ""
    )
    lines = F.split(stripped, "\n")
    kept = F.filter(lines, lambda l: ~l.contains("�"))
    return stripped, lines, kept


def unicode_clean(
    documents: DataFrame, max_dropped_milli: int = 500
) -> DataFrame:
    """The TRANSFORM companion to the :func:`unicode_hygiene` census
    (r14 VERDICT item 2) — applies the Dolma/FineWeb-style character
    hygiene the census measures: zero-width characters (ZWSP/ZWNJ/ZWJ/
    BOM) and explicit bidi controls are removed in place (they carry no
    content — only fingerprinting/Trojan-Source spoofing power), C0/DEL
    control characters are removed (binary contamination; \\t and line
    breaks survive), and any LINE containing a U+FFFD replacement
    character is dropped whole (mojibake means the original bytes are
    already lost — the text around the FFFD is untrustworthy). A doc is
    dropped entirely when more than ``max_dropped_milli``/1000 of its
    lines were mojibake, or when nothing non-blank survives.

    Pure ``regexp_replace`` + array-filter column expressions over one
    scan — zero shuffle, whole-stage codegen; like :func:`c4_clean` the
    corpus transform costs exactly one pass at any scale, so it holds
    at 100 TB by construction. The doc-drop rule uses integer milli
    arithmetic (1000*dropped div n_lines) for cross-engine exactness.

    Output: doc_id, n_lines_dropped, n_chars_removed, text_clean
    (surviving docs only).
    """
    txt = F.coalesce(F.col("text"), F.lit(""))
    stripped, lines, kept = unicode_clean_cols(txt)
    base = documents.select(
        "doc_id",
        (F.size(lines) - F.size(kept)).cast("long").alias("n_lines_dropped"),
        (F.length(txt) - F.length(stripped)).cast("long").alias("n_chars_removed"),
        F.size(lines).cast("long").alias("n_lines"),
        F.array_join(kept, "\n").alias("text_clean"),
    )
    return base.filter(
        (F.expr("1000 * n_lines_dropped div n_lines") <= max_dropped_milli)
        & (F.trim(F.col("text_clean")) != "")
    ).select("doc_id", "n_lines_dropped", "n_chars_removed", "text_clean")


def source_temperature_weights(documents: DataFrame) -> DataFrame:
    """Temperature-scaled source sampling weights — the multilingual-LM
    alpha-sampling recipe (sample source s with probability
    ∝ count_s^α, α < 1 upweights small sources): the mixture knob that
    turns raw source counts into an actual sampling distribution.

    α is FIXED at 0.5: sqrt is a correctly-rounded IEEE-754 operation
    in every engine, so the powered weights are bit-identical across
    Spark and DuckDB — a general pow() is not correctly rounded and
    can straddle the rounding boundary (the operator's documented
    exactness contract; other temperatures belong behind a
    deliberately weaker rows-only gate). Weights follow the integer
    micro-unit discipline: 6-dp-rounded sqrt scaled to exact longs,
    summed as longs; the final rate is one long/long division rounded
    to 4 dp (certified single-division precedent).

    Plan: one map-side-combined groupBy(source) (bounded domain), a
    1-row total broadcast back — no corpus-sized shuffle. Output:
    source, n_docs, weight_micro, sample_rate, ordered by source.
    """
    cnt = documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    wc = cnt.withColumn(
        "weight_micro",
        F.round(F.round(F.sqrt(F.col("n_docs")), 6) * 1e6, 0).cast("long"),
    )
    # total as an unpartitioned window over the bounded source
    # aggregate (r15): the lazy crossJoin total re-scanned the corpus
    wtot = Window.partitionBy()
    return (
        wc.withColumn("wt", F.sum("weight_micro").over(wtot))
        .select(
            "source",
            "n_docs",
            "weight_micro",
            F.round(F.col("weight_micro") / F.col("wt"), 4).alias("sample_rate"),
        )
        .orderBy("source")
    )


def _bm25_match_frame(
    documents: DataFrame, query: tuple[str, ...]
) -> DataFrame:
    """The narrow per-doc frame the BM25 operators checkpoint:
    (doc_id, dl, matched-terms array) from ONE tokenize scan. Split out
    (r15) so composing callers (``curation.retrieval_quality``) can ride
    it on their own fused checkpoint job via ``per_doc_df`` instead of
    paying a separate sequential blocking job."""
    toks = widen(documents).select(
        "doc_id", T.lower_tokens(F.col("text")).alias("t")
    )
    return toks.select(
        "doc_id",
        F.size("t").cast("long").alias("dl"),
        F.filter("t", lambda x: x.isin(*query)).alias("m"),
    )


def _bm25_scores(
    per_doc: DataFrame,
    queries: tuple[tuple[int, tuple[str, ...]], ...],
    k1: float,
    b: float,
) -> DataFrame:
    """THE BM25 scorer over a :func:`_bm25_match_frame` frame whose
    matched arrays hold the union vocabulary of ``queries``: per-(doc,
    term) tf and per-term df computed ONCE, then fanned out to the
    queries that asked for each term. Output: query_id, doc_id,
    n_terms, bm25_micro (unranked)."""
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
    )
    tf = (
        per_doc.filter(F.size("m") > 0)
        .select("doc_id", "dl", F.explode("m").alias("term"))
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfs = tf.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.round(
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0), 6
    )
    score6 = F.round(
        idf * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)),
        6,
    )
    matched = tf.join(F.broadcast(dfs), "term")
    if len(queries) == 1:
        # every matched term belongs to the one query: no fan-out join,
        # whose broadcast of the query table would add a job
        qid = F.lit(int(queries[0][0])).cast("long")
        matched = matched.withColumn("query_id", qid)
    else:
        qrows = [(int(qid), t) for qid, ts in queries for t in set(ts)]
        matched = matched.join(
            F.broadcast(
                per_doc.sparkSession.createDataFrame(
                    qrows, "query_id long, term string"
                )
            ),
            "term",
        )
    scored = matched.crossJoin(F.broadcast(stats)).select(
        "query_id",
        "doc_id",
        F.round(score6 * 1e6, 0).cast("long").alias("s_micro"),
    )
    return scored.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("s_micro").cast("long").alias("bm25_micro"),
    )


def bm25_search(
    documents: DataFrame,
    query: tuple[str, ...] = ("spark", "window", "hash"),
    k1: float = 1.2,
    b: float = 0.75,
    n: int = 20,
    per_doc_df: DataFrame | None = None,
) -> DataFrame:
    """BM25 ranked retrieval over the corpus (Robertson-Spärck Jones,
    the Okapi formula) — the standard lexical-search scorer, here as a
    top-n query over the documents table: :func:`bm25_batch` for a batch
    of one, cut by a TakeOrdered instead of the per-query window.

    Exactness: per-(doc, term) scores are a chain of individually
    correctly-rounded IEEE ops on identical inputs (avgdl is the exact
    long token total divided by the exact doc count — never a float
    AVG, whose accumulation order varies); the only transcendental
    (ln) is 6-dp-rounded before use, and each term score is
    6-dp-rounded then scaled to integer MICRO units so the per-doc sum
    is order-independent long arithmetic (the dsir/bigram discipline).

    Plan: ONE column-pruned tokenize scan. The scan projects each doc
    to (doc_id, dl, matched-terms array) — the token arrays are
    reduced scan-side to a length and a query-filtered array (array
    ``filter``, no exchange), so the localCheckpoint materializes
    ~three longs per doc, not the corpus token arrays (the blow-up
    the oov_rate note warns about). Corpus length stats, the df
    census, and the tf scoring all derive from that checkpointed
    narrow frame — no re-tokenize; only matching (doc, term) rows
    ever shuffle, O(matches), never O(tokens). df and corpus stats
    are planning-sized broadcasts; the top-n is a TakeOrdered.
    ``per_doc_df`` is a caller-materialized :func:`_bm25_match_frame`
    of the same ``query``. Output: doc_id, n_terms, bm25_micro
    (micro-units; divide by 1e6 for the score), top n by score.
    """
    per_doc = (
        _bm25_match_frame(documents, query).transform(materialize)
        if per_doc_df is None
        else per_doc_df
    )
    return (
        _bm25_scores(per_doc, ((0, query),), k1, b)
        .select("doc_id", "n_terms", "bm25_micro")
        .orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
        .limit(n)
    )


def bm25_batch(
    documents: DataFrame,
    queries: tuple[tuple[int, tuple[str, ...]], ...] = (
        (0, ("spark", "window", "hash")),
        (1, ("data", "join", "merge")),
        (2, ("customer", "stream", "vector", "scan")),
    ),
    k1: float = 1.2,
    b: float = 0.75,
    n: int = 20,
) -> DataFrame:
    """Batched BM25 retrieval — the production serving shape (real
    retrieval arrives in batches, and re-running :func:`bm25_search`
    per query re-pays the corpus tokenize N times — the
    ``knn_batch``/``ivfpq_knn_index_batch`` precedent).

    Plan: ONE column-pruned tokenize scan for the whole batch. Docs
    are projected scan-side to (doc_id, dl, tokens ∩ union-vocabulary)
    and materialized narrow; :func:`_bm25_scores` computes per-(doc,
    term) tf and per-term df ONCE over the union vocabulary, then a
    broadcast (query_id, term) table fans matched terms out to the
    queries that asked for them — each (doc, term) pair is tokenized
    and counted once no matter how many queries share the term. The
    scorer is the solo operator's, so each query's rows are
    BIT-IDENTICAL to its :func:`bm25_search` run (test-pinned). The
    per-query top-n is a ``row_number() <= n`` window that compiles to
    WindowGroupLimit — map tasks pre-trim before the exchange, so the
    shuffle carries O(n × queries × tasks) rows, never O(matches).

    Output: query_id, doc_id, n_terms, bm25_micro, rank (1-based by
    score desc, doc_id asc; ≤ n rows per query).
    """
    all_terms = tuple(sorted({t for _, ts in queries for t in ts}))
    per_doc = _bm25_match_frame(documents, all_terms).transform(materialize)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25_micro"), F.asc("doc_id")
    )
    return (
        _bm25_scores(per_doc, queries, k1, b)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= n)
    )


def lang_source_mix(documents: DataFrame) -> DataFrame:
    """Corpus-composition audit: document and token mass per
    (lang, source) cell with corpus shares — the mixture table a data
    card reports and a sampling plan starts from.

    One map-side-combined aggregate over a bounded (lang × source)
    domain, a 1-row total broadcast back; token totals are exact long
    sums, shares are single 4-dp divisions (certified precedent).
    Output: lang, source, n_docs, n_tokens, doc_share, token_share.
    """
    cell = widen(documents).groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(T.token_count(F.col("text"))).cast("long").alias("n_tokens"),
    )
    # corpus totals as an unpartitioned window over the BOUNDED cell
    # aggregate (r15): the lazy `tot` crossJoin re-ran the corpus scan
    # + aggregate a second time; the window runs in the same pass over
    # |lang×source| rows (bounded marker: the HashAggregate beneath)
    wtot = Window.partitionBy()
    return (
        cell.withColumn("td", F.sum("n_docs").over(wtot))
        .withColumn("tt", F.sum("n_tokens").over(wtot))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs") / F.col("td"), 4).alias("doc_share"),
            F.round(F.col("n_tokens") / F.col("tt"), 4).alias("token_share"),
        )
        .orderBy("lang", "source")
    )


def token_fertility(documents: DataFrame) -> DataFrame:
    """Tokenizer-fertility audit per source: characters and BYTES per
    token — the encoding-efficiency number that decides whether a
    source is worth its storage/compute at training time (high
    bytes/token = markup-heavy or non-linguistic payload).

    One aggregate over the bounded source domain; char/byte totals are
    exact long sums (octet_length for bytes — DuckDB twin strlen);
    ratios are single 4-dp divisions with a greatest(,1) floor.
    Output: source, n_docs, n_tokens, n_chars, n_bytes,
    chars_per_token, bytes_per_token, tokens_per_doc.
    """
    g = widen(documents).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(T.token_count(F.col("text"))).cast("long").alias("n_tokens"),
        F.sum(F.length(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long")
        .alias("n_chars"),
        F.sum(F.octet_length(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long")
        .alias("n_bytes"),
    )
    floor_t = F.greatest(F.col("n_tokens"), F.lit(1))
    return g.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_bytes",
        F.round(F.col("n_chars") / floor_t, 4).alias("chars_per_token"),
        F.round(F.col("n_bytes") / floor_t, 4).alias("bytes_per_token"),
        F.round(F.col("n_tokens") / F.greatest(F.col("n_docs"), F.lit(1)), 4).alias(
            "tokens_per_doc"
        ),
    ).orderBy("source")


def corr_length_diversity(documents: DataFrame) -> DataFrame:
    """Per-source Pearson correlation between document length (tokens)
    and lexical diversity (distinct tokens) — the length-vs-vocabulary
    audit (long docs repeat themselves; a strongly sub-linear distinct
    curve flags boilerplate).

    Exactness across engines: Pearson r is computed from the closed
    form over EXACT integer moments — per-doc x = n_tokens and
    y = n_distinct_tokens are longs, and Sx, Sy, Sxx, Syy, Sxy are
    exact long sums (order-independent; never a float accumulation,
    and never the engines' built-in ``corr``, whose streaming
    accumulation order differs). The moments are then cast to DOUBLE
    (exact below 2^53 — n·Sxy ≤ ~1e14 at sf10) in an expression shape
    mirrored verbatim in the oracle: each product/subtraction/sqrt is
    one correctly-rounded IEEE op on identical operands. Zero-variance
    groups yield NULL via a nullif-guarded denominator in both
    engines. One tokenize scan, one map-side-combined aggregate to the
    bounded #sources domain. Output: source, n_docs, corr_len_distinct.
    """
    xy = widen(documents).select(
        "source",
        T.lower_tokens(F.col("text")).alias("t"),
    ).select(
        "source",
        F.size("t").cast("long").alias("x"),
        F.size(F.array_distinct("t")).cast("long").alias("y"),
    )
    m = xy.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sy").cast("double")
    vx = F.col("n").cast("double") * F.col("sxx").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sx").cast("double")
    vy = F.col("n").cast("double") * F.col("syy").cast("double") - F.col(
        "sy"
    ).cast("double") * F.col("sy").cast("double")
    # clamp: the rounded-double moment difference can land a hair
    # below 0 when the true variance is ~0 (DuckDB's sqrt ERRORS on
    # negatives; Spark returns NaN) — GREATEST(·, 0) in both engines
    # maps that edge to a 0 denominator → NULL r
    denom = F.sqrt(F.greatest(vx, F.lit(0.0))) * F.sqrt(
        F.greatest(vy, F.lit(0.0))
    )
    return m.select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(num / F.nullif(denom, F.lit(0.0)), 4).alias(
            "corr_len_distinct"
        ),
    ).orderBy("source")


def countmin_term_error(
    documents: DataFrame, depth: int = 4, width: int = 256, top: int = 20
) -> DataFrame:
    """Count-Min sketch accuracy audit: build a CM sketch of the term
    frequencies (the mergeable bounded-memory counter a 100 TB stream
    would keep instead of a vocabulary-sized hash map), probe it for
    the true top-``top`` terms, and report the sketch's guaranteed
    one-sided overcount against the exact counts.

    Why this is exactly reproducible cross-engine (unlike most
    sketches): a CM cell is a pure SUM — cell(i, b) = Σ count(term)
    over terms with h_i(term) = b — so the sketch is independent of
    partitioning and merge order (the KMV-rollup property, additive
    instead of order-statistic). Row i's bucket is element i of
    :func:`functions.hashing.seeded_buckets` (the md5-integer idiom,
    ``'0x'||…::BIGINT`` in DuckDB, shared with the stream twin
    ``streaming.curation.countmin_stream``); all arithmetic is exact
    longs. Plan: one tokenize scan into a checkpointed term
    census (feeds sketch build AND probe — module eager-construction
    contract); cells are a bounded depth×width frame, broadcast to the
    ≤ top·depth probe rows; the top-terms cap is a TakeOrdered.
    Output: term, exact_n, cm_est, overcount (≥ 0 by construction),
    by exact_n desc.
    """
    tf = (
        widen(documents)
        .select(F.explode(T.lower_tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(materialize)
    )

    rb = F.posexplode(seeded_buckets(F.col("term"), depth, width)).alias(
        "i", "bucket"
    )
    cells = (
        tf.select("n", rb)
        .groupBy("i", "bucket")
        .agg(F.sum("n").cast("long").alias("cell"))
    )
    top_terms = tf.orderBy(F.desc("n"), F.asc("term")).limit(int(top))
    probe = top_terms.select("term", "n", rb).join(
        F.broadcast(cells), ["i", "bucket"]
    )
    return (
        probe.groupBy("term", "n")
        .agg(F.min("cell").cast("long").alias("cm_est"))
        .select(
            "term",
            F.col("n").alias("exact_n"),
            "cm_est",
            (F.col("cm_est") - F.col("n")).cast("long").alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), F.asc("term"))
    )


def sequence_pack(documents: DataFrame, capacity: int = 2048) -> DataFrame:
    """Concat-and-chunk sequence packing — the GPT-style batching step
    that concatenates a source's documents in doc_id order and slices
    the stream into fixed ``capacity``-token training blocks (each
    source is its own packing stream, the per-shard layout a mixture
    loader consumes).

    A per-source running token offset is the whole computation, and a
    ``partitionBy(source)`` window sort would drag every mega-source
    through ONE task — so the offset comes from the shared
    ``functions.cuts`` discipline instead: ``doc_id`` is unique, hence
    ``value_cuts(value=doc_id, weight=n_tokens)``'s per-value
    ``mass_before`` IS the exact per-row prefix sum, computed via
    range-partitioned per-partition offsets (no driver state, no
    global sort). Block arithmetic is pure nonnegative long ``div``. Eager
    construction: ``value_cuts`` materializes its ranged histogram
    (module contract note). Output per doc: source, doc_id, n_tokens,
    tok_offset, block_id (block the doc STARTS in), blocks_spanned
    (0 for empty docs), splits_boundary (1 when the doc straddles a
    block edge — the attention-mask discontinuity packing audits
    count), ordered by (source, doc_id).
    """
    cap = int(capacity)
    toks = documents.select(
        "doc_id",
        "source",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    cuts = value_cuts(toks, "doc_id", group_cols=("source",), weight_col="n_tokens")
    packed = join_cuts(
        toks, cuts.select("source", "doc_id", "mass_before"), "doc_id", ("source",)
    )
    first = F.expr(f"mass_before div {cap}")
    last = F.expr(f"(mass_before + n_tokens - 1) div {cap}")
    return packed.select(
        "source",
        "doc_id",
        "n_tokens",
        F.col("mass_before").cast("long").alias("tok_offset"),
        first.cast("long").alias("block_id"),
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise(last - first + 1)
        .cast("long")
        .alias("blocks_spanned"),
        F.when((F.col("n_tokens") > 0) & (last > first), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("splits_boundary"),
    ).orderBy("source", "doc_id")


def pack_block_stats(documents: DataFrame, capacity: int = 2048) -> DataFrame:
    """Packing-layout audit over :func:`sequence_pack`: per
    (source, block_id) — documents STARTING in the block, their token
    mass, and how many straddle the block edge (each straddler is one
    truncated attention span; a packing QA dashboard plots this rate
    per shard). Narrow groupBy over the packed frame — the cuts
    machinery runs once. Output: source, block_id, n_docs, n_tokens,
    n_splits, ordered by (source, block_id)."""
    return (
        sequence_pack(documents, capacity)
        .groupBy("source", "block_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("splits_boundary").cast("long").alias("n_splits"),
        )
        .orderBy("source", "block_id")
    )


def bpe_merges(
    documents: DataFrame,
    n_merges: int = 4,
    top_words: int = 1500,
) -> DataFrame:
    """BPE tokenizer merge induction — the first ``n_merges`` byte-pair
    merges learned from the corpus, the training half of the tokenizer
    whose inference side :func:`functions.text.bpe_token_count` and the
    packing ops consume. (Reference analogue: none — LLM-pipeline
    extension; the algorithm is Sennrich et al. 2016's greedy pair
    merging.)

    Scale shape — the only corpus-sized pass is the word count (one
    tokenize scan, map-side-combined groupBy); everything after runs on
    the TakeOrdered ``top_words`` vocabulary slice (count desc, word
    asc — deterministic cap, the ``simhash_pairs_capped`` discipline),
    which is how production tokenizer trainers bound merge cost too.
    The capped slice is collected ONCE (planning-sized, the ivf_knn
    precedent) and the merge rounds run driver-side in plain Python —
    adjacent-pair weighted counts, argmax with (count desc, sym_a,
    sym_b) ties, greedy left-to-right merge fold (whole-symbol string
    equality — no substring ambiguity). Work per round is
    O(top_words · max_word_len), corpus-independent, and no Spark job
    is paid per round (r15; see :func:`_learn_bpe`).

    Exactness: pair weights are exact BIGINT sums of word counts; the
    per-round argmax breaks ties (count desc, sym_a, sym_b) — the
    DuckDB oracle replays every round with the same ``list_reduce``
    greedy fold. Output: one row per merge — round, sym_a, sym_b,
    merged, pair_count; ordered by round.
    """
    spark = documents.sparkSession
    merges = _learn_bpe(documents, n_merges=n_merges, top_words=top_words)
    schema = (
        "round int, sym_a string, sym_b string, merged string, pair_count long"
    )
    return spark.createDataFrame(merges, schema).orderBy("round")


def _merge_fold_expr(col: str, a: str, b: str) -> str:
    """Greedy left-to-right application of merge (a, b) to a symbol
    array — whole-symbol string equality, so no substring ambiguity.
    Symbols are corpus alphanumerics ([A-Za-z0-9]+ tokens): embedding
    them as SQL string literals needs no escaping."""
    return (
        f"aggregate({col}, cast(array() as array<string>), (acc, x) -> "
        f"case when size(acc) > 0 and element_at(acc, -1) = '{a}' "
        f"and x = '{b}' "
        f"then concat(slice(acc, 1, size(acc) - 1), array('{a}{b}')) "
        f"else concat(acc, array(x)) end)"
    )


def _learn_bpe(
    documents: DataFrame,
    n_merges: int,
    top_words: int,
    word_counts_df: DataFrame | None = None,
) -> list[tuple]:
    """Shared BPE trainer: returns [(round, sym_a, sym_b, merged,
    pair_count)] learned on the capped vocabulary (see
    :func:`bpe_merges` for the scale/exactness contract).

    ONE bounded driver job (r15, was 1 + 2·n_merges): the corpus-sized
    pass is the word census; the TakeOrdered ``top_words`` slice it
    feeds is PARAMETER-sized (the ivf_knn planning-collect precedent),
    so the merge rounds run in plain Python on those ≤ top_words rows
    instead of paying a collect + re-checkpoint Spark job per round
    over a 1500-row frame. Exactness is unchanged: tokens are ASCII
    ``[A-Za-z0-9]+`` so Python's per-code-point split and string
    ordering coincide with Spark's ``split(word, '')`` and UTF8 binary
    ordering, pair weights are exact int sums, and the greedy
    left-to-right fold below is :func:`_merge_fold_expr` verbatim.
    Callers that already materialize a word-count frame pass it via
    ``word_counts_df`` (columns word, cnt) to skip the second corpus
    scan."""
    wc = (
        word_counts_df
        if word_counts_df is not None
        else documents.select(
            F.explode(T.tokens(F.col("text"))).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    rows = (
        wc.orderBy(F.desc("cnt"), F.asc("word"))
        .limit(int(top_words))
        .collect()
    )
    vocab = [([c for c in r["word"]], int(r["cnt"])) for r in rows]
    merges: list[tuple] = []
    for rnd in range(1, int(n_merges) + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, cnt in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        (a, b), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rnd, a, b, a + b, c))
        ab = a + b
        for j, (syms, cnt) in enumerate(vocab):
            out: list[str] = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = ab
                else:
                    out.append(x)
            vocab[j] = (out, cnt)
    return merges


def bpe_encode_stats(
    documents: DataFrame,
    n_merges: int = 4,
    top_words: int = 1500,
) -> DataFrame:
    """Apply the learned BPE merge table corpus-wide and report the
    per-source compression it buys — the trainer's evaluation half
    (token-budget planners read exactly this table to convert char
    budgets into post-merge token budgets).

    Scale shape: learning reuses :func:`_learn_bpe` (one corpus scan +
    capped-vocab rounds). Application never touches full documents a
    second time: ONE tokenize scan builds per-(source, word) occurrence
    counts (map-side-combined), the ``n_merges`` folds run over the
    DISTINCT-word frame only (narrow, vocabulary-sized), and the two
    frames join co-keyed on word before a per-source rollup — so
    per-row merge work is paid once per distinct word, not once per
    occurrence. All counts exact BIGINTs; the compression ratio is the
    integer-micro division discipline. Output: source, n_words
    (occurrences), chars_alnum (pre-merge symbol count), tokens_bpe
    (post-merge), compression_micro = tokens_bpe*1e6 div chars_alnum;
    ordered by source.
    """
    sw = (
        documents.select(
            "source", F.explode(T.tokens(F.col("text"))).alias("word")
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .transform(materialize)
    )
    # the trainer's word census is the per-source census summed out —
    # derive it from the checkpoint just materialized so the corpus is
    # tokenized ONCE for learn + apply (r15, was two scans)
    merges = _learn_bpe(
        documents,
        n_merges=n_merges,
        top_words=top_words,
        word_counts_df=sw.groupBy("word").agg(
            F.sum("cnt").cast("long").alias("cnt")
        ),
    )
    vocab = sw.select("word").distinct().withColumn(
        "syms", F.expr("filter(split(word, ''), c -> c <> '')")
    )
    for _, a, b, _, _ in merges:
        vocab = vocab.withColumn("syms", F.expr(_merge_fold_expr("syms", a, b)))
    vocab = vocab.select(
        "word", F.size("syms").cast("long").alias("n_after")
    )
    return (
        sw.join(vocab, "word")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.length("word")).cast("long").alias(
                "chars_alnum"
            ),
            F.sum(F.col("cnt") * F.col("n_after")).cast("long").alias(
                "tokens_bpe"
            ),
        )
        .select(
            "source",
            "n_words",
            "chars_alnum",
            "tokens_bpe",
            F.expr(
                "cast((tokens_bpe * 1000000) div chars_alnum as long)"
            ).alias("compression_micro"),
        )
        .orderBy("source")
    )


def benchmark_decontamination(
    documents: DataFrame, k: int = 8, modulus: int = 50
) -> DataFrame:
    """Train/eval contamination audit (the GPT-3 appendix-C n-gram
    decontamination, Brown et al. 2020): hold out every document with
    ``doc_id % modulus == 0`` as the "benchmark" split, then measure —
    per source — how much of the remaining training corpus shares a
    ``k``-token n-gram with ANY benchmark document. A training doc
    whose text overlaps the eval set inflates benchmark scores; this
    is the audit a data pipeline runs before every pretraining cut.

    Semantics: gram sets are per-doc DISTINCT ``k``-token md5 hashes
    (lowercased alnum tokens, the :func:`substring_dedup` gram rule);
    a training doc is *contaminated* when ≥1 of its grams occurs in
    the benchmark gram census. Only docs with ≥1 gram (≥ ``k``
    tokens) participate.

    Plan: ONE tokenize scan builds the gram array and dedups it
    SCAN-SIDE (``array_distinct`` — per-doc distinctness costs no
    exchange); the materialized frame is (doc_id, source, is_bench,
    H). The benchmark census is a gram-keyed distinct over ~1/modulus
    of the corpus; the probe is a left-semi equi-join on the gram
    hash — O(grams) shuffle, no broadcast assumption (the census is
    corpus-sized at 100 TB, so it must shuffle, not ship). Rates are
    integer micro-units over exact BIGINT gram counts (``(1e6*hit)
    div total``) — no float accumulation anywhere. Output: source,
    n_docs, n_contaminated, total_grams, hit_grams, doc_rate_micro
    (contaminated-doc fraction), gram_rate_micro (hit-gram fraction).
    """
    base = (
        widen(documents)
        .select(
            "doc_id",
            "source",
            (F.col("doc_id") % modulus == 0).alias("is_bench"),
            T.lower_tokens(F.col("text")).alias("t"),
        )
        .select(
            "doc_id",
            "source",
            "is_bench",
            F.array_distinct(
                F.transform(T.word_grams("t", k), F.md5)
            ).alias("H"),
        )
        # the size filter sits ABOVE the checkpoint: below it, Catalyst
        # pushes the predicate under the widen exchange and re-evaluates
        # the whole gram expression a second time at scan parallelism
        # (r15; the handful of zero-gram rows stored in the checkpoint
        # cost nothing)
        .transform(materialize)
        .filter(F.size("H") > 0)
    )
    bench = (
        base.filter("is_bench")
        .select(F.explode("H").alias("h"))
        .distinct()
    )
    train = base.filter(~F.col("is_bench")).select(
        "doc_id", "source", F.size("H").cast("long").alias("n_grams"), "H"
    )
    hits = (
        train.select("doc_id", F.explode("H").alias("h"))
        .join(bench, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    per_doc = train.select("doc_id", "source", "n_grams").join(
        hits, "doc_id", "left"
    ).select(
        "source",
        "n_grams",
        F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("n_hit") > 0).cast("long")).cast("long").alias(
                "n_contaminated"
            ),
            F.sum("n_grams").cast("long").alias("total_grams"),
            F.sum("n_hit").cast("long").alias("hit_grams"),
        )
        .select(
            "source",
            "n_docs",
            "n_contaminated",
            "total_grams",
            "hit_grams",
            F.expr("(n_contaminated * 1000000) div n_docs").alias(
                "doc_rate_micro"
            ),
            F.expr("(hit_grams * 1000000) div total_grams").alias(
                "gram_rate_micro"
            ),
        )
        .orderBy("source")
    )


def tfidf_keywords(documents: DataFrame, top_n: int = 5) -> DataFrame:
    """Per-source characteristic terms by TF-IDF — the corpus-triage
    view a curation run reads to see WHAT each source actually
    contains (and to spot template/boilerplate sources whose top
    terms are navigation chrome). tf = term occurrences within the
    source; idf = ln(n_sources / source-frequency) over the source
    axis, so a term every source shares scores exactly 0.

    Exactness (the :func:`bm25_search` discipline): the only
    transcendental (ln) is 6-dp-rounded, the score is 6-dp-rounded
    then scaled to integer micro-units, and the ranking orders by
    (score_micro DESC, term ASC) — pure BIGINT/string comparison, no
    float ties can flip ranks across engines.

    Plan: ONE tokenize scan → map-side-combined (source, term)
    counts; the idf census aggregates THAT frame (vocabulary-sized,
    Heaps-law sub-linear) and joins back on term; the per-source
    top-n is a row_number window over ≤|vocabulary| rows per source.
    Output: source, rk, term, cnt, score_micro.
    """
    from pyspark.sql.window import Window

    tc = (
        widen(documents)
        .select("source", F.explode(T.lower_tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .transform(materialize)
    )
    n_sources = tc.select(
        F.countDistinct("source").cast("long").alias("n_sources")
    )
    sf_t = tc.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("sf")
    )
    idf6 = F.round(F.log(F.col("n_sources").cast("double") / F.col("sf")), 6)
    scored = (
        tc.join(sf_t, "term")
        .crossJoin(F.broadcast(n_sources))
        .select(
            "source",
            "term",
            "cnt",
            F.round(F.col("cnt") * idf6 * 1e6, 0).cast("long").alias(
                "score_micro"
            ),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("score_micro"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= top_n)
        .select("source", "rk", "term", "cnt", "score_micro")
        .orderBy("source", "rk")
    )


def stratified_split_audit(
    documents: DataFrame, val_pct: int = 5, test_pct: int = 5
) -> DataFrame:
    """Deterministic train/val/test split assignment + the per-source
    audit a pipeline publishes with every pretraining cut. Assignment
    is content-independent and reproducible anywhere: bucket =
    first-8-hex-chars of md5(doc_id) mod 100; bucket < ``test_pct`` →
    test, next ``val_pct`` buckets → val, rest → train — the standard
    hash-mod split, so re-running on a grown corpus never reassigns an
    existing document (no split leakage across snapshots, the property
    random sampling lacks).

    The audit answers "did stratification hold?": per (source, split)
    document and token counts plus each split's within-source document
    share in integer micro-units (``(n_docs*1e6) div source_total``) —
    a source whose test share drifts far from ``test_pct`` % signals a
    doc_id↔source correlation worth investigating.

    Plan: ONE column-pruned scan computes the bucket expression and
    token count row-wise (no exchange); everything after the
    (source, split) aggregate runs on a ≤3·|sources|-row frame, and
    the per-source totals join is a broadcast of an aggregate of that
    same tiny frame. Output: source, split, n_docs, n_tokens,
    doc_share_micro.
    """
    bucket = md5_int(F.col("doc_id"), 8) % 100
    split = (
        F.when(bucket < test_pct, F.lit("test"))
        .when(bucket < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    per = widen(documents).select(
        "source",
        split.alias("split"),
        T.token_count(F.col("text")).cast("long").alias("nt"),
    )
    # materialize: the totals branch and the join left side both read
    # the (source, split) aggregate — without the checkpoint each
    # branch re-scans and re-tokenizes the corpus; the materialized
    # frame is ≤3·|sources| rows
    agg = per.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
    ).transform(materialize)
    tot = agg.groupBy("source").agg(F.sum("n_docs").cast("long").alias("tot"))
    return (
        agg.join(F.broadcast(tot), "source")
        .select(
            "source",
            "split",
            "n_docs",
            "n_tokens",
            F.expr("(n_docs * 1000000) div tot").alias("doc_share_micro"),
        )
        .orderBy("source", "split")
    )


def lang_confusion(documents: DataFrame) -> DataFrame:
    """Language-ID confusion matrix: declared ``lang`` label vs the
    stopword-vote prediction (:func:`lang_predict`'s heuristic),
    aggregated to the audit view a curation run actually reads — which
    labels the detector misroutes, and where 'und' (no votes) mass
    concentrates. Per-doc agreement is ``lang_predict``; this is the
    matrix that tells you whether to trust the label or the detector
    per language before routing documents by either.

    Plan: one column-pruned scan evaluates the pure-regex vote ladder
    row-wise (zero shuffle), then ONE map-side-combined aggregate over
    the ≤|langs|·(|langs|+1) cell domain; the per-declared-language
    totals derive from the materialized cell frame (no corpus
    re-scan — the branch-reuse discipline). Shares are integer
    micro-units over exact BIGINTs. Output: lang, lang_pred, n_docs,
    row_share_micro (cell share within the declared language).
    """
    pred = T.lang_id(F.col("text"))
    cell = (
        widen(documents)
        .groupBy(F.col("lang"), pred.alias("lang_pred"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .transform(materialize)
    )
    tot = cell.groupBy("lang").agg(F.sum("n_docs").cast("long").alias("tot"))
    return (
        cell.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "lang_pred",
            "n_docs",
            F.expr("(n_docs * 1000000) div tot").alias("row_share_micro"),
        )
        .orderBy("lang", "lang_pred")
    )


def ngram_novelty(
    documents: DataFrame, k: int = 3, n_epochs: int = 10
) -> DataFrame:
    """Corpus novelty curve over ingestion order — the saturation
    signal a continuously-fed pretraining pipeline watches: split the
    corpus into ``n_epochs`` equal ``doc_id`` (ingestion-order) ranges
    and measure, per epoch, how many of its distinct ``k``-token grams
    appear for the FIRST time. A collapsing new-gram share says the
    source is exhausted (more data, no new content); a flat one says
    the stream is still productive. The dedup-adjacent twin of
    ``benchmark_decontamination``'s gram census, pointed at time
    instead of at an eval split.

    Semantics: gram sets are per-doc DISTINCT ``k``-token md5 hashes
    (lowercased alnum tokens — the :func:`substring_dedup` gram rule);
    docs with < ``k`` tokens don't participate. Epoch assignment is
    ``(doc_id * n_epochs) div (max_doc_id + 1)`` — purely positional,
    sf-independent, and always in ``[0, n_epochs)``.

    Plan: ONE tokenize scan builds the per-doc distinct gram array
    scan-side; each doc also contributes a ``D:<doc_id>`` SENTINEL row
    (md5 grams are 32 lowercase hex chars, so the namespace cannot
    collide), letting the per-epoch doc counts ride the SAME
    (epoch, gram) distinct exchange as the gram census — every branch
    (first-epoch per gram = a gram-keyed min; per-epoch distinct
    counts = an epoch-keyed count; doc counts = an epoch-keyed count
    of sentinels) derives from that one reused exchange, so the corpus
    is tokenized exactly once and the query needs NO construct-time
    checkpoint at all (r15: the old two-materialize form measured
    5.5 s of driver-blocking construct jobs at sf0.1 before the first
    byte of output). The per-epoch frames are ≤ ``n_epochs`` rows,
    broadcast-joined. Rates are integer micro-units over exact
    BIGINTs. Output: epoch, n_docs, distinct_grams, new_grams,
    novelty_micro (new/distinct share).
    """
    n = documents.filter(F.col("doc_id").isNotNull()).agg(
        (F.max("doc_id") + 1).alias("n")
    )
    base = (
        widen(documents)
        .filter(F.col("doc_id").isNotNull())
        .crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id"),
            F.expr(f"(doc_id * {int(n_epochs)}) div n").alias("epoch"),
            T.lower_tokens(F.col("text")).alias("t"),
        )
        .select(
            "doc_id",
            "epoch",
            F.array_distinct(
                F.transform(T.word_grams("t", k), F.md5)
            ).alias("H"),
        )
    )
    # the sentinel rows make this distinct frame the query's ONLY
    # materialization point: one checkpoint job replaces the old
    # base+pairs double checkpoint (tokenize runs once inside it), and
    # the three branch aggregates below are cheap scans of the
    # checkpointed blocks. A filter-based split WITHOUT the checkpoint
    # does not work: Catalyst pushes each branch's sentinel predicate
    # below the shared distinct, so the exchange subtrees diverge and
    # ReuseExchange never fires (3 full tokenize scans, measured).
    # Docs with zero grams are excluded by the explode itself (the
    # sentinel is only appended to non-empty gram arrays) — an explicit
    # size(H) > 0 filter would push below the widen exchange and
    # re-evaluate the whole gram expression a second time at scan
    # parallelism (measured +3 s at sf0.1, r15).
    pairs = (
        base.select(
            "epoch",
            F.explode(
                F.expr(
                    "CASE WHEN size(H) = 0 THEN H "
                    "ELSE concat(H, array(concat('D:', cast(doc_id as string)))) END"
                )
            ).alias("h"),
        )
        .distinct()
        .transform(materialize)
    )
    grams = pairs.filter(~F.col("h").startswith("D:"))
    firsts = grams.groupBy("h").agg(F.min("epoch").alias("first_epoch"))
    per_new = firsts.groupBy(F.col("first_epoch").alias("epoch")).agg(
        F.count(F.lit(1)).cast("long").alias("new_grams")
    )
    per_distinct = grams.groupBy("epoch").agg(
        F.count(F.lit(1)).cast("long").alias("distinct_grams")
    )
    per_docs = (
        pairs.filter(F.col("h").startswith("D:"))
        .groupBy("epoch")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return (
        per_docs.join(per_distinct, "epoch")
        # LEFT: an epoch whose every gram was already seen still belongs
        # on the curve — its zero is the saturation signal itself
        .join(F.broadcast(per_new), "epoch", "left")
        .select(
            "epoch",
            "n_docs",
            "distinct_grams",
            F.coalesce("new_grams", F.lit(0)).cast("long").alias("new_grams"),
            F.expr(
                "(coalesce(new_grams, 0) * 1000000) div distinct_grams"
            ).alias("novelty_micro"),
        )
        .orderBy("epoch")
    )


def vocab_drift(documents: DataFrame, n_epochs: int = 10) -> DataFrame:
    """Vocabulary drift between consecutive ingestion epochs — the
    distribution-shift monitor a pretraining pipeline runs on every
    new data cut: per adjacent epoch pair, the total-variation
    distance between unigram term distributions plus the vocabulary
    churn (terms entering / leaving). A drifting TV says the source
    mix changed under you; churn localizes it to new vs dropped
    vocabulary.

    Semantics: epochs are the :func:`ngram_novelty` positional ranges;
    each epoch's term distribution assigns term i the integer micro
    share ``cnt_i * 1e6 div epoch_total`` (exact longs end-to-end —
    the cross-engine float-sum rule), and
    ``tv_micro = sum(|p_i − q_i|)`` over the UNION vocabulary, i.e.
    (up to integral-truncation granularity) 2e6 × the classic
    total-variation distance.

    Plan: ONE tokenize scan feeds a single (epoch, term) count
    aggregate; epoch totals derive from the materialized count frame
    (≤ ``n_epochs`` rows, broadcast back); the drift is a term-keyed
    FULL OUTER self-join of adjacent epochs — an O(vocab) shuffle,
    never a corpus re-scan — folded to ≤ ``n_epochs − 1`` rows.
    Output: epoch_from, epoch_to, union_terms, new_terms,
    dropped_terms, tv_micro.
    """
    n = documents.filter(F.col("doc_id").isNotNull()).agg(
        (F.max("doc_id") + 1).alias("n")
    )
    counts = (
        widen(documents)
        .filter(F.col("doc_id").isNotNull())
        .crossJoin(F.broadcast(n))
        .select(
            F.expr(f"(doc_id * {int(n_epochs)}) div n").alias("epoch"),
            F.explode(T.lower_tokens(F.col("text"))).alias("term"),
        )
        .groupBy("epoch", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .transform(materialize)
    )
    totals = counts.groupBy("epoch").agg(F.sum("cnt").cast("long").alias("tot"))
    shares = counts.join(F.broadcast(totals), "epoch").select(
        "epoch", "term", F.expr("(cnt * 1000000) div tot").alias("share")
    )
    cur = shares.select(
        F.col("epoch").alias("epoch_to"),
        "term",
        F.col("share").alias("p"),
    )
    prev = shares.select(
        (F.col("epoch") + 1).alias("epoch_to"),
        "term",
        F.col("share").alias("q"),
    ).filter(F.col("epoch_to") < int(n_epochs))
    joined = cur.join(prev, ["epoch_to", "term"], "full_outer").filter(
        # only boundaries where BOTH epochs exist in the data: a cur-only
        # epoch 0 row (no epoch -1) and a prev-only phantom are excluded
        F.col("epoch_to") >= 1
    )
    return (
        joined.groupBy("epoch_to")
        .agg(
            F.count(F.lit(1)).cast("long").alias("union_terms"),
            F.sum(F.when(F.col("q").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("new_terms"),
            F.sum(F.when(F.col("p").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("dropped_terms"),
            F.sum(
                F.abs(F.coalesce(F.col("p"), F.lit(0)) - F.coalesce(F.col("q"), F.lit(0)))
            )
            .cast("long")
            .alias("tv_micro"),
        )
        .select(
            (F.col("epoch_to") - 1).alias("epoch_from"),
            "epoch_to",
            "union_terms",
            "new_terms",
            "dropped_terms",
            "tv_micro",
        )
        .orderBy("epoch_to")
    )


def token_fertility_drift(documents: DataFrame, n_epochs: int = 10) -> DataFrame:
    """Tokenizer-fertility drift across ingestion epochs — the vocab
    AGING monitor: :func:`token_fertility` measures chars/bytes per
    token per source; this composes the same fertility numbers with
    :func:`vocab_drift`'s epoch axis. A fixed tokenizer vocabulary
    degrades as the source mix shifts (new domains, new scripts, new
    jargon fragment into more, shorter tokens → chars-per-token FALLS;
    markup-heavier payloads push bytes-per-token UP) — rising fertility
    drift is the retraining trigger real pretraining pipelines watch.

    Semantics: epochs are :func:`vocab_drift`'s positional doc_id
    ranges; per epoch the rollup is exact long sums (tokens, chars,
    bytes), fertility ratios are integer micro-units via the certified
    triple-schoolbook division (heaps_law's (q·1e6 + ...) identity —
    exact for any corpus below ~9e15 chars/epoch), and the drift is the
    signed micro delta vs the previous epoch from a self-join on
    epoch+1 — never a window, never a float.

    Plan: one tokenize scan folds map-side to ≤ ``n_epochs`` rows; the
    adjacent-epoch join runs on that constant-size frame. Output:
    epoch, n_docs, n_tokens, cpt_micro, bpt_micro, delta_cpt_micro,
    delta_bpt_micro (nulls for epoch 0 — no predecessor), ordered by
    epoch.
    """
    n = documents.filter(F.col("doc_id").isNotNull()).agg(
        (F.max("doc_id") + 1).alias("n")
    )
    txt = F.coalesce(F.col("text"), F.lit(""))
    per_epoch = (
        widen(documents)
        .filter(F.col("doc_id").isNotNull())
        .crossJoin(F.broadcast(n))
        .select(
            F.expr(f"(doc_id * {int(n_epochs)}) div n").alias("epoch"),
            T.token_count(txt).cast("long").alias("t"),
            F.length(txt).cast("long").alias("c"),
            F.octet_length(txt).cast("long").alias("b"),
        )
        .groupBy("epoch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("t").cast("long").alias("n_tokens"),
            F.sum("c").cast("long").alias("n_chars"),
            F.sum("b").cast("long").alias("n_bytes"),
        )
    )

    def _micro(num: str) -> str:
        # (num * 1e6) div n_tokens without the 1e6 product: the
        # heaps_law triple-schoolbook identity, long-safe to ~9e15
        return (
            f"CASE WHEN n_tokens = 0 THEN 0 ELSE "
            f"({num} div n_tokens) * 1000000 "
            f"+ (({num} % n_tokens) * 1000 div n_tokens) * 1000 "
            f"+ ((({num} % n_tokens) * 1000 % n_tokens) * 1000) div n_tokens END"
        )

    rates = per_epoch.select(
        "epoch",
        "n_docs",
        "n_tokens",
        F.expr(_micro("n_chars")).cast("long").alias("cpt_micro"),
        F.expr(_micro("n_bytes")).cast("long").alias("bpt_micro"),
    ).transform(materialize)
    prev = rates.select(
        (F.col("epoch") + 1).alias("epoch"),
        F.col("cpt_micro").alias("prev_cpt"),
        F.col("bpt_micro").alias("prev_bpt"),
    )
    return (
        rates.join(prev, "epoch", "left")
        .select(
            "epoch",
            "n_docs",
            "n_tokens",
            "cpt_micro",
            "bpt_micro",
            (F.col("cpt_micro") - F.col("prev_cpt")).alias("delta_cpt_micro"),
            (F.col("bpt_micro") - F.col("prev_bpt")).alias("delta_bpt_micro"),
        )
        .orderBy("epoch")
    )


def length_pareto(documents: DataFrame) -> DataFrame:
    """Token-length Pareto curve at log2-bucket granularity — the "what
    share of the token budget do the longest documents carry" question
    every corpus cut starts with, answered without a corpus-wide sort:
    docs fold into ≤64 log2(length) buckets in one map-combined
    aggregate, and the cumulative-from-longest shares are a window over
    that TINY bucket frame (never over rows — the classic ntile-over-
    corpus formulation is a single-partition sort at 100 TB, this
    isn't).

    Semantics: bucket = floor(log2(n_tokens)) over lowercased alnum
    tokens; zero-token docs don't participate (no length to rank).
    Cumulative direction is LONGEST-first (bucket desc) — cum_share
    answers "docs this long or longer carry X of all tokens". Shares
    are integer micro-units over exact BIGINTs. Output: bucket, n_docs,
    bucket_tokens, cum_docs, cum_tokens, cum_token_share_micro.
    """
    per_bucket = (
        documents.select(T.token_count(F.lower(F.col("text"))).alias("n"))
        .filter(F.col("n") >= 1)
        .select(F.floor(F.log2("n")).cast("long").alias("bucket"), "n")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("bucket_tokens"),
        )
    )
    w = (
        Window.orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per_bucket.select(
            "bucket",
            "n_docs",
            "bucket_tokens",
            F.sum("n_docs").over(w).cast("long").alias("cum_docs"),
            F.sum("bucket_tokens").over(w).cast("long").alias("cum_tokens"),
            F.sum("bucket_tokens").over(tot).cast("long").alias("_t"),
        )
        .select(
            "bucket",
            "n_docs",
            "bucket_tokens",
            "cum_docs",
            "cum_tokens",
            F.expr("(cum_tokens * 1000000) div _t").alias(
                "cum_token_share_micro"
            ),
        )
        .orderBy(F.desc("bucket"))
    )


def source_gram_containment(documents: DataFrame, k: int = 3) -> DataFrame:
    """Pairwise source-vocabulary containment over ``k``-token gram
    hashes — which sources substantially contain each other's content
    space. The exact-census complement of the LSH-pair
    ``source_overlap_matrix`` (that one finds near-dup DOC pairs; this
    measures gram-VOCABULARY overlap, which survives doc-level
    paraphrase).

    Plan shape is the :func:`~data_pipeline_example_spark.operators.
    tpch._basket_frames` discipline pointed at grams: the (source,
    gram) frame dedups scan-side per doc and exchange-side globally,
    then ONE gram-keyed ``collect_set(source)`` aggregate bounds
    per-gram fan-out at C(|sources|, 2) in-array pair expansion — the
    pair stream is linear in gram vocabulary with an |sources|²
    multiplier, NEVER a gram-frame self-join (whose skewed hot grams
    would square). Per-source vocab sizes derive from the same deduped
    frame (branch-reuse: it is materialized once). Shares are integer
    micro-units. Output per (source_a < source_b): shared_grams,
    a_grams, b_grams, containment_micro (shared / min vocab),
    jaccard_micro.
    """
    pairs_frame = (
        widen(documents)
        .select(
            "source",
            T.lower_tokens(F.col("text")).alias("t"),
        )
        .select(
            "source",
            F.explode(
                F.array_distinct(F.transform(T.word_grams("t", k), F.md5))
            ).alias("h"),
        )
        .distinct()
        .transform(materialize)
    )
    vocab = pairs_frame.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    grouped = pairs_frame.groupBy("h").agg(
        F.sort_array(F.collect_set("source")).alias("ss")
    )
    pair_struct = F.expr(
        "flatten(transform(ss, (x, i) -> "
        "transform(slice(ss, i + 2, size(ss)), "
        "y -> struct(x AS source_a, y AS source_b))))"
    )
    shared = (
        grouped.filter(F.size("ss") >= 2)
        .select(F.explode(pair_struct).alias("p"))
        .groupBy("p.source_a", "p.source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_grams"))
    )
    va = vocab.select(F.col("source").alias("source_a"), F.col("v").alias("a_grams"))
    vb = vocab.select(F.col("source").alias("source_b"), F.col("v").alias("b_grams"))
    return (
        shared.join(F.broadcast(va), "source_a")
        .join(F.broadcast(vb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            "a_grams",
            "b_grams",
            F.expr(
                "(shared_grams * 1000000) div least(a_grams, b_grams)"
            ).alias("containment_micro"),
            F.expr(
                "(shared_grams * 1000000) div (a_grams + b_grams - shared_grams)"
            ).alias("jaccard_micro"),
        )
        .orderBy("source_a", "source_b")
    )


def token_gini(documents: DataFrame) -> DataFrame:
    """Gini coefficient of token mass across sources — the one-number
    answer to "is the corpus dominated by a few sources?" that mixture
    planning starts from. Integer-exact via the rank formulation over
    the TINY per-source frame: with source token masses sorted
    ascending (ties broken by source name for cross-engine
    determinism), ``G = (2·Σ(i·m_i) − (n+1)·Σm_i) / (n·Σm_i)`` —
    emitted in micro-units with a single integral division, so both
    engines hash-match without any float accumulation.

    Scale: one tokenize scan folds to ≤|sources| rows map-side; the
    rank window runs over that tiny frame (never over docs). Output
    (single row): n_sources, total_tokens, gini_micro.
    """
    masses = (
        documents.select(
            F.coalesce(F.col("source"), F.lit("unknown")).alias("source"),
            T.token_count(F.lower(F.col("text"))).cast("long").alias("n"),
        )
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("m"))
    )
    w = Window.orderBy(F.asc("m"), F.asc("source"))
    ranked = masses.select("m", F.row_number().over(w).alias("i"))
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum("m").cast("long").alias("total_tokens"),
        F.expr(
            "CASE WHEN sum(m) = 0 THEN 0 ELSE "
            "((2 * sum(i * m) - (count(1) + 1) * sum(m)) * 1000000) "
            "div (count(1) * sum(m)) END"
        ).alias("gini_micro"),
    )


def quality_classifier(documents: DataFrame, n_buckets: int = 4096) -> DataFrame:
    """fastText-style LINEAR quality classifier — the model-based gate
    of the CCNet/LLaMA curation pipelines (a linear model over hashed
    bag-of-n-gram features; Joulin et al. 2016, public) that
    complements the rule-based Gopher/C4 gates and the
    importance-sampling :func:`dsir_weights`. Labels are the corpus's
    own high/low-quality split (``doc_stats`` quality ≥ the corpus
    mean — the DSIR target-slice rule), so the operator distills the
    hand rule into a generalizing model with no external weights.

    Model: binarized multinomial naive Bayes — the closed form of a
    linear classifier whose training is fully distributed (no
    driver-side gradient loop): features are hashed word UNIGRAMS and
    BIGRAMS in one ``n_buckets`` space (the fastText feature union,
    presence not counts), per-bucket weight is the smoothed
    document-frequency log-odds
    ``log((df_hi+1)/(n_hi+2)) − log((df_lo+1)/(n_lo+2))`` and the bias
    is the class-prior log-odds; a document's logit is
    ``bias + Σ w_b`` over its DISTINCT buckets. The sigmoid is
    monotone in the logit, so the gate ``logit > 0`` is the published
    ``score > 0.5`` rule — the logit is emitted instead of the sigmoid
    because ``exp`` is not correctly rounded and a cross-engine ulp at
    a .5 rounding boundary would break hash-exactness (the
    ``dsir_weights`` micro-unit discipline: per-bucket 6-dp log-odds
    scaled to integer micro-nats, per-doc sums pure long arithmetic).

    Plan: ONE tokenize/explode scan feeds distinct (doc, bucket) rows
    (map-side combined); the weight table is ≤ ``n_buckets`` rows —
    broadcast back for per-doc scoring, so the corpus shuffles only
    narrow feature rows, never text. At 100 TB the model fits in one
    broadcast regardless of corpus size; scoring is a single
    broadcast-join aggregate.

    Output (docs with ≥ 1 token): doc_id, n_feats (distinct buckets),
    logit_micro, pred (logit>0), label (the rule's 0/1).
    """
    scored = doc_stats(documents).select("doc_id", "quality").transform(materialize)
    mean_q = scored.agg(F.round(F.avg("quality"), 6).alias("mq"))
    flags = scored.crossJoin(F.broadcast(mean_q)).select(
        "doc_id", (F.col("quality") >= F.col("mq")).cast("int").alias("label")
    )
    feats = (
        widen(documents)
        .select("doc_id", T.lower_tokens(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.explode(F.concat(F.col("t"), T.word_grams("t", 2))).alias(
                "feat"
            ),
        )
        .select(
            "doc_id",
            (md5_int(F.col("feat"), 8) % n_buckets).alias("bucket"),
        )
        .distinct()
    )
    # the flagged presence frame feeds the weight table AND the final
    # per-doc scoring — materialize once so the tokenize scan runs
    # once, not once per consumer (narrow rows, no text)
    withflag = feats.join(flags, "doc_id").transform(materialize)
    cls = flags.agg(
        F.sum("label").cast("long").alias("n_hi"),
        F.sum(1 - F.col("label")).cast("long").alias("n_lo"),
    )
    dfreq = withflag.groupBy("bucket").agg(
        F.sum("label").cast("long").alias("df_hi"),
        F.sum(1 - F.col("label")).cast("long").alias("df_lo"),
    )
    weights = dfreq.crossJoin(F.broadcast(cls)).select(
        "bucket",
        F.round(
            F.round(
                F.log((F.col("df_hi") + 1.0) / (F.col("n_hi") + 2.0))
                - F.log((F.col("df_lo") + 1.0) / (F.col("n_lo") + 2.0)),
                6,
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("w_micro"),
    )
    bias = cls.select(
        F.round(
            F.round(
                F.log((F.col("n_hi") + 1.0) / (F.col("n_lo") + 1.0)), 6
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("bias_micro")
    )
    logits = (
        withflag.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id", "label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("w_micro").cast("long").alias("w_sum"),
        )
        .crossJoin(F.broadcast(bias))
    )
    return logits.select(
        "doc_id",
        "n_feats",
        (F.col("bias_micro") + F.col("w_sum")).alias("logit_micro"),
        ((F.col("bias_micro") + F.col("w_sum")) > 0).cast("int").alias("pred"),
        "label",
    )


def pii_redact(documents: DataFrame) -> DataFrame:
    """PII redaction TRANSFORM — the cleaning twin of the
    :func:`pii_scan` census, the way :func:`c4_clean` is the transform
    twin of :func:`c4_line_stats`: every ``PII_PATTERNS`` match is
    replaced with its typed placeholder (``<EMAIL>`` / ``<PHONE>`` /
    ``<IP>``), the Dolma-style anonymization pass a corpus runs after
    the scan says the PII rate warrants it. The SAME pattern table
    drives scan, redactor, and oracle, so the census and the transform
    can never disagree about what counts as PII. (Distinct from the
    earlier :func:`redact_pii`, which uses its own email/long-number
    patterns and emits a fixed-width md5 fingerprint for auditing;
    THIS op returns the redacted corpus itself, keyed to the
    ``pii_scan`` census.)

    Chain order is fixed email → phone → ipv4: emails are replaced
    before the phone/IP patterns run, so a digit run inside an
    address can't be double-redacted; the placeholders themselves
    contain no digits or ``@`` and are fixed points of all three
    patterns. ``n_redactions`` counts each pattern against the text
    state it actually replaced into (post-prior-patterns), so it is
    the TRUE number of substitutions — ``pii_scan``'s raw-text census
    can exceed it exactly when patterns overlap.

    Pure scan-local ``regexp_replace`` chain — zero shuffle at any
    corpus size, whole-stage codegen, one pass over the corpus.
    Output (ALL docs, redacted or not): doc_id, n_redactions,
    text_redacted.
    """
    placeholders = {"email": "<EMAIL>", "phone": "<PHONE>", "ipv4": "<IP>"}
    txt = F.coalesce(F.col("text"), F.lit(""))
    n_red = None
    red = txt
    for name, pat in PII_PATTERNS:
        cnt = F.regexp_count(red, F.lit(pat)).cast("long")
        n_red = cnt if n_red is None else n_red + cnt
        red = F.regexp_replace(red, pat, placeholders[name])
    return widen(documents).select(
        "doc_id",
        n_red.alias("n_redactions"),
        red.alias("text_redacted"),
    )


def readability_scores(documents: DataFrame) -> DataFrame:
    """Per-source readability rollup — the Flesch reading-ease family
    (Flesch 1948, public domain) with the standard corpus-scale
    syllable heuristic (vowel-group counting): the curation signal
    that separates prose from boilerplate/code soup in a way the
    length/punctuation gates (:func:`c4_line_stats`,
    :func:`gopher_quality`) don't measure.

    Counts per doc are pure scan-local regexes — words (the shared
    token pattern), sentence terminators (``[.!?]+`` runs, floored at
    one per non-empty doc), vowel groups (``[aeiou]+`` over the
    lowered text, the classic syllable proxy). The rollup aggregates
    the RAW COUNTS per source and derives the ratios and the Flesch
    score from source-level sums with integral divisions —
    ``FRE_micro = 206_835_000 − (1015·words·1e3) div sentences −
    (84_600·syllables·1e3) div words``, each ·1e3 div applied via the
    schoolbook two-step ``(q·1e3 + (r·1e3) div den)`` so every
    intermediate product stays in long range up to ~9·10^12 words per
    source (the raw triple product would wrap above that, and Spark's
    non-ANSI wraparound vs DuckDB's overflow error would break the
    hash match; the split is value-identical for nonnegative longs).
    The ratio columns use the same two-step for their ·1e6 scaling —
    ``count·1e6`` alone wraps past ~9.2e12 — so both engines
    hash-match with no float accumulation anywhere (boundary-magnitude
    unit test pins this on a fed counts frame).
    (FRE itself may be negative; only the subtraction is, never a
    division operand.)

    Plan: one scan folds to ≤|sources| rows map-side; zero joins.
    Output: source, n_docs, n_words, n_sentences, n_syllables,
    words_per_sentence_micro, syllables_per_word_micro, fre_micro
    (ordered by source).
    """
    txt = F.coalesce(F.col("text"), F.lit(""))
    per_doc = documents.select(
        F.coalesce(F.col("source"), F.lit("unknown")).alias("source"),
        T.token_count(txt).cast("long").alias("w"),
        F.when(F.length(txt) == 0, F.lit(0))
        .otherwise(F.greatest(F.regexp_count(txt, F.lit(r"[.!?]+")), F.lit(1)))
        .cast("long")
        .alias("s"),
        F.regexp_count(F.lower(txt), F.lit(r"[aeiou]+")).cast("long").alias("y"),
    )
    return _readability_from_counts(
        per_doc.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("n_words"),
            F.sum("s").cast("long").alias("n_sentences"),
            F.sum("y").cast("long").alias("n_syllables"),
        )
    )


def _readability_from_counts(agg: DataFrame) -> DataFrame:
    """Derive the readability ratios/FRE from a per-source counts frame
    (n_docs, n_words, n_sentences, n_syllables) — split out so the
    schoolbook two-step divisions can be unit-tested at the boundary
    magnitudes (~9e12 words/source) where the naive triple product
    would wrap int64 (see :func:`readability_scores`'s exactness
    contract)."""
    return (
        agg.select(
            "source",
            "n_docs",
            "n_words",
            "n_sentences",
            "n_syllables",
            F.expr(
                "CASE WHEN n_sentences = 0 THEN 0 ELSE "
                "(n_words div n_sentences) * 1000000 "
                "+ (n_words % n_sentences) * 1000000 div n_sentences END"
            ).alias("words_per_sentence_micro"),
            F.expr(
                "CASE WHEN n_words = 0 THEN 0 ELSE "
                "(n_syllables div n_words) * 1000000 "
                "+ (n_syllables % n_words) * 1000000 div n_words END"
            ).alias("syllables_per_word_micro"),
            F.expr(
                "CASE WHEN n_words = 0 OR n_sentences = 0 THEN 0 ELSE "
                "206835000 "
                "- (((1015 * n_words) div n_sentences) * 1000 "
                "   + ((1015 * n_words) % n_sentences) * 1000 div n_sentences) "
                "- (((84600 * n_syllables) div n_words) * 1000 "
                "   + ((84600 * n_syllables) % n_words) * 1000 div n_words) END"
            ).alias("fre_micro"),
        )
        .orderBy("source")
    )


def unigram_entropy(documents: DataFrame) -> DataFrame:
    """Per-source unigram Shannon entropy — the token-DIVERSITY
    number (templated/boilerplate sources collapse toward low
    entropy; :func:`token_gini` measures inequality BETWEEN sources,
    this measures diversity WITHIN one) plus its vocab-normalized
    form, the redundancy-free efficiency in [0, 1].

    Identity used: ``H = ln N − (Σ f·ln f) / N`` over term
    frequencies f — one pass over the (source, term) count frame, no
    per-term probability floats. Exactness: ``ln f`` is 3-dp-rounded
    to milli longs (the :func:`zipf_fit` discipline — milli keeps
    ``f · ln f`` products within long range up to ~10^14 tokens per
    source), ``ln N`` / ``ln V`` are 6-dp micro, and the two integral
    divisions run on nonnegative longs.

    Plan: one tokenize scan folds to (source, term) counts map-side,
    then to ≤|sources| rows; the vocab count rides the same
    aggregate. Output: source, n_tokens, vocab, entropy_micro,
    norm_entropy_micro (ordered by source).
    """
    counts = (
        widen(documents)
        .select(
            F.coalesce(F.col("source"), F.lit("unknown")).alias("source"),
            F.explode(T.lower_tokens(F.col("text"))).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    agg = counts.groupBy("source").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(
            F.col("f") * F.round(F.round(F.log("f"), 3) * 1e3, 0).cast("long")
        )
        .cast("long")
        .alias("flf_milli"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "vocab",
        F.expr(
            # clamped at 0: true entropy is nonnegative, but the
            # 3-dp ln rounding can dip a few hundred micro below zero
            # for extreme-skew sources, and negative integral
            # division semantics differ across engines
            # schoolbook (q*1000 + (r*1000) div N) keeps every product
            # in long range even at 10^14 tokens/source
            "GREATEST(CASE WHEN n_tokens = 0 THEN 0 ELSE "
            "CAST(round(round(ln(n_tokens), 6) * 1000000, 0) AS BIGINT) "
            "- ((flf_milli div n_tokens) * 1000 "
            "+ ((flf_milli % n_tokens) * 1000) div n_tokens) END, 0)"
        ).alias("entropy_micro"),
    ).select(
        "source",
        "n_tokens",
        "vocab",
        "entropy_micro",
        F.expr(
            "CASE WHEN vocab <= 1 THEN 0 ELSE "
            "(entropy_micro * 1000000) div "
            "CAST(round(round(ln(vocab), 6) * 1000000, 0) AS BIGINT) END"
        ).alias("norm_entropy_micro"),
    ).orderBy("source")


def heaps_law(documents: DataFrame) -> DataFrame:
    """Corpus-level Heaps'-law fit — the vocabulary-growth exponent β
    in ``V = K·N^β`` (Heaps 1978; β ≈ 0.4–0.6 for natural language),
    estimated by least squares on ``(ln N_s, ln V_s)`` across the
    per-source (token count, vocab size) points. Together with
    :func:`zipf_fit` (rank-frequency slope) and
    :func:`unigram_entropy` (within-source diversity) this completes
    the classical corpus-statistics triad; a β far from the natural
    band flags synthetic/templated text the same way a flat Zipf
    slope does.

    Exactness: the same milli-log / schoolbook-division discipline as
    :func:`zipf_fit`; the numerator here CAN be negative (nothing
    orders V against N a priori), which is safe because both engines
    truncate integer division toward zero and the two-step identity
    ``(num·1e6) div den = (num div den)·1e6 + ((num mod den)·1e6) div
    den`` holds sign-consistently under truncation.

    Plan: one tokenize scan folds to (source, term) then to
    ≤|sources| (N, V) rows map-side; the regression aggregate runs on
    that tiny frame. Output (single row): n_sources, total_tokens,
    beta_micro.
    """
    points = (
        widen(documents)
        .select(
            F.coalesce(F.col("source"), F.lit("unknown")).alias("source"),
            F.explode(T.lower_tokens(F.col("text"))).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .groupBy("source")
        .agg(
            F.sum("f").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("v"),
        )
        .select(
            "n",
            F.round(F.round(F.log("n"), 3) * 1e3, 0).cast("long").alias("x"),
            F.round(F.round(F.log("v"), 3) * 1e3, 0).cast("long").alias("y"),
        )
    )
    moments = points.agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.sum("n").cast("long").alias("total_tokens"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    ).select(
        "ns",
        "total_tokens",
        (F.col("ns") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("ns") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    )
    # schoolbook applied twice (1e6 = 1e3 · 1e3): every intermediate
    # product stays far inside long range even for very large den
    return moments.select(
        F.col("ns").alias("n_sources"),
        "total_tokens",
        F.expr(
            "CASE WHEN den = 0 THEN 0 ELSE "
            "(num div den) * 1000000 "
            "+ ((num % den) * 1000 div den) * 1000 "
            "+ (((num % den) * 1000 % den) * 1000) div den END"
        )
        .cast("long")
        .alias("beta_micro"),
    )


def zipf_fit(documents: DataFrame, top_k: int = 256) -> DataFrame:
    """Per-source Zipf-law fit — the rank-frequency power-law slope
    (Zipf 1949; standard corpus-health diagnostic: natural prose sits
    near slope −1, templated/boilerplate text flattens, spammy token
    soup steepens) via least squares on ``(ln rank, ln freq)`` over
    each source's ``top_k`` most frequent terms. Fitting the HEAD of
    the distribution is the published practice (the tail is
    Heaps-censored), and it also bounds the regression frame to
    ``|sources| · top_k`` rows regardless of corpus size.

    Exactness: ln values are 3-dp-rounded and scaled to exact MILLI
    longs (3 dp, not the usual 6, so every moment product stays within
    long range even at 100 TB term frequencies), all moments are pure
    long sums, and the closed-form slope
    ``(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`` is emitted negated (ranks
    descend in frequency, so the numerator is nonnegative) with the
    schoolbook two-step division ``(q·1e6 + (r·1e6) div den)`` — floor
    division on nonnegative longs in both engines, no wide multiply.

    Plan: one tokenize scan folds to (source, term) counts map-side;
    the rank window partitions by source over the vocab-sized count
    frame (same class as ``tfidf_keywords``); the regression aggregate
    sees ≤ ``top_k`` rows per source. Output: source, n_terms,
    head_freq, neg_zipf_slope_micro (ordered by source).
    """
    counts = (
        widen(documents)
        .select(
            F.coalesce(F.col("source"), F.lit("unknown")).alias("source"),
            F.explode(T.lower_tokens(F.col("text"))).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("freq"), F.asc("term"))
    ranked = counts.select(
        "source", "freq", F.row_number().over(w).alias("r")
    ).filter(F.col("r") <= top_k)
    xy = ranked.select(
        "source",
        "freq",
        F.round(F.round(F.log("r"), 3) * 1e3, 0).cast("long").alias("x"),
        F.round(F.round(F.log("freq"), 3) * 1e3, 0).cast("long").alias("y"),
    )
    return (
        xy.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.max("freq").cast("long").alias("head_freq"),
        )
        .select(
            "source",
            F.col("n").alias("n_terms"),
            "head_freq",
            F.expr(
                "CASE WHEN n * sxx - sx * sx = 0 THEN 0 ELSE "
                "((sx * sy - n * sxy) div (n * sxx - sx * sx)) * 1000000 "
                "+ (((sx * sy - n * sxy) % (n * sxx - sx * sx)) * 1000000) "
                "div (n * sxx - sx * sx) END"
            ).alias("neg_zipf_slope_micro"),
        )
        .orderBy("source")
    )


def quality_calibration(documents: DataFrame, n_bins: int = 8) -> DataFrame:
    """Calibration / confusion audit of :func:`quality_classifier` —
    the reliability-diagram companion every model-based gate ships
    with: logits are bucketed into ``n_bins`` equal-width bins over
    the OBSERVED logit range (absolute cutpoints would be useless —
    a many-feature document's logit is a sum of hundreds of log-odds,
    so the interesting spread sits far from 0) and each bin reports
    its document count, predicted positives, gold positives, correct
    predictions, and logit mass. A calibrated gate shows monotone
    gold-rate across bins; divergence localizes where the distilled
    model disagrees with the hand rule.

    Exactness: the range is a 1-row min/max aggregate broadcast back
    (the ``mean_q`` pattern) and the bin index is one integral
    division on nonnegative longs,
    ``((logit − min) · n_bins) div (max − min + 1)`` — counts and
    long sums everywhere else, nothing to round. No corpus-sized
    ntile window: the cutpoints cost one extra pass over the narrow
    scored frame, not a global sort.

    Plan: everything of :func:`quality_classifier` (one tokenize scan,
    broadcast model), the scored frame materialized once feeding the
    1-row range and the final aggregate. Output: bin, n_docs,
    n_pred_hi, n_label_hi, n_correct, sum_logit_micro (ordered by
    bin).
    """
    scored = quality_classifier(documents).transform(materialize)
    rng = scored.agg(
        F.min("logit_micro").alias("mn"), F.max("logit_micro").alias("mx")
    )
    binned = scored.crossJoin(F.broadcast(rng)).select(
        F.expr(
            f"CAST(((logit_micro - mn) * {int(n_bins)}) "
            f"div (mx - mn + 1) AS INT)"
        ).alias("bin"),
        "pred",
        "label",
        "logit_micro",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("pred").cast("long").alias("n_pred_hi"),
            F.sum("label").cast("long").alias("n_label_hi"),
            F.sum((F.col("pred") == F.col("label")).cast("long"))
            .cast("long")
            .alias("n_correct"),
            F.sum("logit_micro").cast("long").alias("sum_logit_micro"),
        )
        .orderBy("bin")
    )


def domain_epoch_plan(documents: DataFrame, budget_tokens: int = 10_000_000) -> DataFrame:
    """Token-budget mixture plan — the per-domain repeat schedule an
    LLM training run derives from its data recipe (the LLaMA/GPT
    "epochs over each source" table): temperature-weighted
    (α = 0.5 on TOKEN MASS — :func:`source_temperature_weights` is the
    doc-count variant) target token allocations under a fixed budget,
    and the repeat factor (epochs) each source needs to meet its
    target. Epochs > 1e6 micro means upsampling (repeating) the
    source; < 1e6 means subsampling.

    Exactness: the weight is the INTEGER-rounded sqrt of the exact
    token mass (sqrt is correctly rounded IEEE; the integral weight
    keeps ``budget · weight`` inside long range at any corpus size),
    targets and epochs are single integral divisions on nonnegative
    longs — no float accumulation anywhere.

    Plan: one tokenize scan folds to ≤|sources| rows map-side, a 1-row
    weight-total broadcast back — no corpus-sized shuffle at 100 TB.
    Output: source, tokens, weight, target_tokens, epochs_micro
    (ordered by source).
    """
    masses = (
        documents.select(
            F.coalesce(F.col("source"), F.lit("unknown")).alias("source"),
            T.token_count(F.lower(F.col("text"))).cast("long").alias("n"),
        )
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("tokens"))
        .select(
            "source",
            "tokens",
            F.round(F.sqrt(F.col("tokens")), 0).cast("long").alias("weight"),
        )
    )
    # total as an unpartitioned window over the bounded source
    # aggregate (r15): the lazy crossJoin total re-scanned the corpus
    wtot = Window.partitionBy()
    return (
        masses.withColumn("wt", F.sum("weight").over(wtot).cast("long"))
        .select(
            "source",
            "tokens",
            "weight",
            F.expr(
                f"CASE WHEN wt = 0 THEN 0 ELSE "
                f"(weight * {int(budget_tokens)}) div wt END"
            ).alias("target_tokens"),
        )
        .select(
            "source",
            "tokens",
            "weight",
            "target_tokens",
            F.expr(
                "CASE WHEN tokens = 0 THEN 0 ELSE "
                "(target_tokens * 1000000) div tokens END"
            ).alias("epochs_micro"),
        )
        .orderBy("source")
    )


def boilerplate_prefixes(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-source template detection via the dominant document PREFIX —
    the boilerplate signal RefinedWeb/C4-style pipelines act on before
    line dedup gets a chance: a source where a large share of documents
    open with the same k tokens is emitting a template (cookie banner,
    nav header, license preamble), and the stripper wants the prefix
    string itself, not just a flag.

    Semantics: prefix = first ``k`` lowercased alnum tokens joined by
    a space (docs with < k tokens contribute no prefix); per source the
    winner is the most frequent prefix, ties broken lexicographically;
    share is integer micro-units of the source's PREFIX-BEARING docs.

    Plan: one tokenize scan folds to a (source, prefix) count frame —
    at most one row per distinct opening per source, map-side combined;
    the winner is a max_by over the bounded source domain (one tiny
    aggregate — no corpus-sized window, no sort). Output: source,
    n_docs, top_prefix, n_with_prefix, share_micro, ordered by source.
    """
    toks = T.lower_tokens(F.col("text"))
    pref = documents.select(
        F.coalesce(F.col("source"), F.lit("unknown")).alias("source"),
        F.when(
            F.size(toks) >= k, F.array_join(F.slice(toks, 1, k), " ")
        ).alias("prefix"),
    ).filter(F.col("prefix").isNotNull())
    counts = pref.groupBy("source", "prefix").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # deterministic winner: max (cnt, reversed-prefix order) — max_by
    # with a struct orders by cnt first, then prefix DESC; invert by
    # taking min over (−cnt, prefix)
    winners = counts.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("prefix"))).alias("w"),
    )
    return winners.select(
        "source",
        "n_docs",
        F.col("w.prefix").alias("top_prefix"),
        (-F.col("w.neg")).cast("long").alias("n_with_prefix"),
        F.expr("CASE WHEN n_docs = 0 THEN 0 ELSE (-w.neg * 1000000) div n_docs END")
        .cast("long")
        .alias("share_micro"),
    ).orderBy("source")


def vocab_nearest_typo(documents: DataFrame, max_dist: int = 2) -> DataFrame:
    """Fuzzy vocabulary matching — for every corpus term, its nearest
    OTHER term within Levenshtein distance ``max_dist``: the typo /
    OCR-noise consolidation audit real corpus-prep pipelines run before
    committing a tokenizer vocabulary (a rare term one edit away from a
    frequent one is overwhelmingly a misspelling; SymSpell / fastText
    subword pipelines make exactly this assumption). Reference analogue:
    the engine extends the reference's exact term statistics
    (data_processing_pipeline.py's aggregation stage) with the fuzzy
    neighborhood the reference never computes.

    Candidate generation is a LENGTH-BAND equi-join: Levenshtein ≤ d
    implies |len(a) − len(b)| ≤ d, so the right side fans each term into
    the 2d+1 integer bands around its length and the join key is
    (band = left length). Candidate volume is vocabulary-bound — Heaps'
    law keeps |V| ~ √N, and per-band cohorts are length-partitioned —
    so the quadratic term never touches corpus-sized data; at 100 TB the
    vocab frame is millions of rows against a corpus of trillions of
    tokens (same scaling argument as :func:`bpe_merges`). The distance
    itself is the JVM built-in ``levenshtein`` (whole-stage codegen, no
    Python). Winner per term: lowest distance, then highest neighbor
    count (misspellings resolve TO the frequent spelling), then
    lexicographically smallest neighbor — one min-struct aggregate, no
    window over the pair frame.

    Output: term, n_occurrences, neighbor, neighbor_count, distance —
    only terms with a neighbor within ``max_dist`` emit (oracle-
    mirrored), ordered by term.
    """
    toks = widen(documents).select(
        F.explode(T.lower_tokens(F.col("text"))).alias("term")
    )
    vocab = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    left = vocab.select(
        F.col("term").alias("a"),
        F.col("cnt").alias("cnt_a"),
        F.length("term").alias("band"),
    )
    right = vocab.select(
        F.col("term").alias("b"),
        F.col("cnt").alias("cnt_b"),
        F.explode(
            F.sequence(
                F.greatest(F.length("term") - max_dist, F.lit(1)),
                F.length("term") + max_dist,
            )
        ).alias("band"),
    )
    pairs = (
        left.join(right, "band")
        .filter(F.col("a") != F.col("b"))
        .filter(F.levenshtein("a", "b") <= max_dist)
        .select(
            "a",
            "cnt_a",
            F.struct(
                F.levenshtein("a", "b").alias("d"),
                (-F.col("cnt_b")).alias("neg_cnt"),
                F.col("b"),
            ).alias("w"),
        )
    )
    return (
        pairs.groupBy("a")
        .agg(F.max("cnt_a").alias("n_occurrences"), F.min("w").alias("w"))
        .select(
            F.col("a").alias("term"),
            "n_occurrences",
            F.col("w.b").alias("neighbor"),
            (-F.col("w.neg_cnt")).cast("long").alias("neighbor_count"),
            F.col("w.d").cast("int").alias("distance"),
        )
        .orderBy("term")
    )


def quality_quantile_normalize(
    documents: DataFrame, keep_milli: int = 500
) -> DataFrame:
    """Per-source quantile normalization of a document quality score —
    the source-fair thresholding step FineWeb-style pipelines apply so
    one verbose source doesn't monopolize the kept corpus: a GLOBAL
    cutoff on any raw quality signal keeps whole sources or drops them
    wholesale, while a PER-SOURCE rank cutoff keeps the top x% of every
    source (uniform-quantile mapping = quantile normalization to the
    uniform reference distribution).

    Score: the stopword-share quality proxy in integer micro-units
    (en-stopword tokens × 1e6 div tokens — prose has stopwords,
    boilerplate/code doesn't; same signal family as
    :func:`gopher_quality`'s stop-word gate, zero-token docs score 0).
    Rank: row_number within source ordered by (score, doc_id) — fully
    deterministic under ties — mapped to rank_milli =
    (rn−1)·1000 div (n−1) (single-doc sources pin to 1000, they are
    their own best document). keep = rank_milli ≥ ``keep_milli``.

    Plan: one scan computes the score, one hash exchange on source
    feeds both the window and the per-source count — the window frame
    is GROUPED (source-partitioned, no global sort) so at 100 TB each
    task ranks only its sources' rows; the source domain is small and
    skew-free here, and a skewed source would salt the same way
    :func:`salted_event_totals` does. Output: doc_id, source,
    score_micro, rank_milli, keep (int 0/1), ordered by doc_id.
    """
    scored = (
        widen(documents)
        .select(
            "doc_id",
            F.coalesce(F.col("source"), F.lit("unknown")).alias("source"),
            T.token_count(F.col("text")).cast("long").alias("n_tok"),
            T.stopword_count(F.col("text"), T.STOPWORDS["en"])
            .cast("long")
            .alias("n_stop"),
        )
        .select(
            "doc_id",
            "source",
            F.expr(
                "CASE WHEN n_tok = 0 THEN 0 ELSE (n_stop * 1000000) div n_tok END"
            ).cast("long").alias("score_micro"),
        )
    )
    w = Window.partitionBy("source").orderBy("score_micro", "doc_id")
    ranked = scored.select(
        "doc_id",
        "source",
        "score_micro",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    return ranked.select(
        "doc_id",
        "source",
        "score_micro",
        F.expr(
            "CASE WHEN n <= 1 THEN 1000 ELSE ((rn - 1) * 1000) div (n - 1) END"
        ).cast("long").alias("rank_milli"),
    ).select(
        "doc_id",
        "source",
        "score_micro",
        "rank_milli",
        (F.col("rank_milli") >= keep_milli).cast("int").alias("keep"),
    ).orderBy("doc_id")



def cdc_chunks(documents: DataFrame, divisor: int = 8) -> DataFrame:
    """Content-defined chunking — boundaries from the CONTENT, not from
    fixed offsets: a chunk ends after any token whose md5 hash ≡ 0
    (mod ``divisor``), the Rabin/FastCDC idea (public) re-expressed on
    token streams. Why pipelines use it over :func:`chunk_documents`'
    fixed windows: inserting one sentence into a document shifts EVERY
    fixed-offset window after it (all their hashes change, dedup and
    RAG caches miss), while content-defined boundaries re-synchronize
    at the next boundary token — only the edited chunk's hash changes
    (pinned by test).

    Expected chunk length is ``divisor`` tokens (boundary probability
    1/divisor per token); no min/max clamps — the synthetic-corpus
    boundary density makes them dead branches here, and the oracle
    mirrors exactly what runs. Plan: ONE tokenize scan, boundaries →
    chunk spans → per-chunk hashes all computed IN-ARRAY with
    higher-order built-ins (filter/transform/slice), zero shuffle,
    bounded output per input token (the chunk_documents discipline).
    Hash family: the repo's md5 discipline — boundary test on
    ``md5_int(token, 8) % divisor``, chunk_hash =
    md5 of the space-joined slice. Output: doc_id, chunk_idx,
    n_tokens, chunk_hash.
    """
    toks = T.lower_tokens(F.col("text"))
    base = widen(documents).select("doc_id", toks.alias("t"))
    # boundary positions (1-based), then chunk start positions
    spans = base.select(
        "doc_id",
        "t",
        F.filter(
            F.transform(
                "t",
                lambda x, i: F.when(md5_int(x, 8) % divisor == 0, i + 1).otherwise(0),
            ),
            lambda p: p > 0,
        ).alias("bpos"),
    ).select(
        "doc_id",
        "t",
        F.expr(
            "CASE WHEN size(t) = 0 THEN array() "
            "WHEN size(bpos) > 0 AND element_at(bpos, -1) = size(t) "
            "THEN concat(array(1), transform(bpos, p -> p + 1)) "
            "ELSE concat(array(1), transform(bpos, p -> p + 1), "
            "array(size(t) + 1)) END"
        ).alias("starts"),
    )
    # starts has one trailing sentinel (size+1); chunk c spans
    # [starts[c], starts[c+1] - 1]
    chunks = spans.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(slice(starts, 1, greatest(size(starts) - 1, 0)), "
                "(s, c) -> struct(s AS s, element_at(starts, c + 2) - s AS n))"
            )
        ).alias("chunk_idx", "sp"),
        F.col("t"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("sp.n").cast("long").alias("n_tokens"),
        F.md5(F.array_join(F.slice("t", F.col("sp.s"), F.col("sp.n")), " ")).alias(
            "chunk_hash"
        ),
    ).orderBy("doc_id", "chunk_idx")
