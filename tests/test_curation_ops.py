"""Unit tests for the curation-pass operators added in round 2
(repetition quality signals, PII redaction, int8 quantization) on
planted data — semantics pinned independently of the oracle harness."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from data_pipeline_example_spark.operators import similarity, text


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, "en", "unit", t) for i, t in enumerate(rows)],
        "doc_id long, lang string, source string, text string",
    )


def test_repetition_stats_flags_repetitive_doc(spark):
    docs = _docs(
        spark,
        [
            "spam spam spam spam spam",          # one bigram, repeated 4x
            "alpha beta gamma delta epsilon",    # all distinct bigrams
            "one",                               # no bigrams -> no row
        ],
    )
    got = {r["doc_id"]: r for r in text.repetition_stats(docs).collect()}
    assert set(got) == {0, 1}
    assert got[0]["n_bigrams"] == 4
    assert got[0]["top_bigram_n"] == 4
    assert got[0]["top_bigram_ratio"] == 1.0
    assert got[0]["distinct_bigram_ratio"] == 0.25
    assert got[1]["top_bigram_ratio"] == 0.25
    assert got[1]["distinct_bigram_ratio"] == 1.0


def test_redact_pii_counts_and_fingerprint(spark):
    raw = "call 12345678 or mail a.user+tag@example.co.uk twice 9876543210"
    docs = _docs(spark, [raw, "clean text with no pii", None])
    got = {r["doc_id"]: r for r in text.redact_pii(docs).collect()}
    assert got[0]["n_emails"] == 1
    assert got[0]["n_numbers"] == 2
    expected = "call <NUM> or mail <EMAIL> twice <NUM>"
    assert got[0]["redacted_fp"] == hashlib.md5(expected.encode()).hexdigest()
    # clean doc: zero counts, fingerprint of the unchanged text
    assert got[1]["n_emails"] == 0 and got[1]["n_numbers"] == 0
    assert (
        got[1]["redacted_fp"]
        == hashlib.md5(b"clean text with no pii").hexdigest()
    )
    # null text treated as empty
    assert got[2]["redacted_fp"] == hashlib.md5(b"").hexdigest()


def test_redact_short_numbers_survive(spark):
    docs = _docs(spark, ["room 42 on floor 123456"])  # under the 7-digit bar
    r = text.redact_pii(docs).collect()[0]
    assert r["n_numbers"] == 0
    assert r["redacted_fp"] == hashlib.md5(b"room 42 on floor 123456").hexdigest()


def test_contamination_pairs_finds_planted_overlap(spark):
    from data_pipeline_example_spark.operators import dedup

    eval_doc = "alpha beta gamma delta epsilon zeta"
    docs = _docs(
        spark,
        [
            eval_doc,                                   # doc 0: the eval set
            "prefix words alpha beta gamma more words", # shares 1 shingle
            "totally unrelated content here now",       # clean
        ],
    )
    out = dedup.contamination_pairs(docs, eval_max_id=1).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_id"], r["eval_doc"]) == (1, 0)
    assert r["n_shared"] == 1  # "alpha beta gamma"


def test_mixture_rates_allocates_budget_and_caps_rate(spark):
    rows = [
        (0, "en", "src0", "tok " * 100),   # 100 tokens, weight 3
        (1, "en", "src1", "tok " * 100),   # 100 tokens, weight 2
        (2, "en", "srcX", "tok " * 5),     # 5 tokens, weight 1 -> rate caps at 1
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    got = {
        r["source"]: r
        for r in text.mixture_rates(docs, token_budget=120).collect()
    }
    # weight sum = 6 -> targets 60 / 40 / 20
    assert got["src0"]["target_tokens"] == 60
    assert got["src1"]["target_tokens"] == 40
    assert got["srcX"]["target_tokens"] == 20
    assert got["src0"]["rate"] == 0.6
    assert got["src1"]["rate"] == 0.4
    assert got["srcX"]["rate"] == 1.0  # capped: budget exceeds supply


def test_mixture_sample_respects_rates_and_is_deterministic(spark):
    # 40 docs in one source at rate<1, plus a rate-1.0 source that must
    # survive in full
    rows = [(i, "en", "src0", "tok " * 10) for i in range(40)] + [
        (100, "en", "srcX", "tok " * 5)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    # budget 250, weights 3:1 -> src0 target 187 of 400 (rate ~.4675),
    # srcX target 62 of 5 (rate 1.0)
    out = {
        r["source"]: r
        for r in text.mixture_sample(docs, token_budget=250).collect()
    }
    assert out["srcX"]["n_docs"] == 1  # rate 1.0 keeps everything
    assert out["srcX"]["sampled_tokens"] == 5
    # subsample is a strict subset, near the planned rate, and tokens
    # consistent with doc count (10 tokens per doc)
    assert 0 < out["src0"]["n_docs"] < 40
    assert out["src0"]["sampled_tokens"] == out["src0"]["n_docs"] * 10
    # deterministic: same input -> identical membership
    again = {
        r["source"]: r
        for r in text.mixture_sample(docs, token_budget=250).collect()
    }
    assert again["src0"]["n_docs"] == out["src0"]["n_docs"]


def test_quantize_embeddings_bounds_and_zero_vector(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, -2.0, 0.5]),
            (1, [0.0, 0.0, 0.0]),
            (2, [-0.25, 0.25, 0.125]),
        ],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r for r in similarity.quantize_embeddings(vecs).collect()}
    # max|v| maps to exactly +/-127; everything stays in int8 range
    assert got[0]["q_min"] == -127
    assert got[0]["q_max"] == 64  # 1.0 * (127/2) = 63.5 -> round-half-up 64
    assert got[0]["scale"] == 63.5
    assert got[1]["scale"] == 0.0
    assert got[1]["q_sum"] == 0 and got[1]["q_min"] == 0 and got[1]["q_max"] == 0
    assert -127 <= got[2]["q_min"] <= got[2]["q_max"] <= 127


def test_quantize_embeddings_whole_table_in_range(spark, sf_dir):
    from data_pipeline_example_spark.sources import load_table

    q = similarity.quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
    bad = q.filter((F.col("q_min") < -127) | (F.col("q_max") > 127)).count()
    assert bad == 0
    assert q.filter(F.col("scale") <= 0).count() == 0  # no zero vectors in corpus


def test_length_buckets_equal_frequency_and_padding(spark, sf_dir):
    from data_pipeline_example_spark.operators import text as tx

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = tx.length_buckets(docs, n_buckets=4).collect()
    assert len(rows) == docs.count()
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    sizes = [len(v) for _, v in sorted(by_bucket.items())]
    assert max(sizes) - min(sizes) <= 1  # ntile equal-frequency
    # buckets are length-ordered: every doc in bucket b is <= min of bucket b+1
    maxes = [max(x["n_tokens"] for x in by_bucket[b]) for b in sorted(by_bucket)]
    mins = [min(x["n_tokens"] for x in by_bucket[b]) for b in sorted(by_bucket)]
    assert all(maxes[i] <= mins[i + 1] for i in range(len(maxes) - 1))
    for r in rows:
        assert r["pad_waste"] == r["bucket_max_tokens"] - r["n_tokens"]
        assert r["pad_waste"] >= 0


def test_length_buckets_cuts_matches_ntile_exactly(spark):
    """The cuts path must be bit-identical to the ntile window form
    (the registered SQL oracle's shape) — including heavy ties across
    bucket boundaries and N not divisible by n_buckets."""
    import cuts_reference as ref

    from data_pipeline_example_spark.operators import text as tx

    # 23 docs over 3 distinct lengths → ties straddle every boundary
    texts = ["a b c", "a b c d e", "a"]
    docs = spark.createDataFrame(
        [(i, texts[i % 3], "en", "s", 5) for i in range(23)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    for n in (1, 4, 5, 8, 30):  # 30 > N exercises empty buckets
        got = ref.sorted_rows(tx.length_buckets(docs, n_buckets=n))
        want = ref.sorted_rows(ref.length_buckets(docs, n_buckets=n))
        assert got == want, f"n_buckets={n}"


def test_length_buckets_cuts_empty_and_plan(spark):
    from data_pipeline_example_spark.operators import text as tx

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert tx.length_buckets(empty).count() == 0
    # scale contract: the cuts path must not contain a global ordered
    # exchange (rangepartitioning) — only hash exchanges
    docs = spark.createDataFrame([(i, "a b c", "en", "s", 5) for i in range(10)],
                                 ["doc_id", "text", "lang", "source", "n_chars"])
    plan = tx.length_buckets(docs)._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()


def test_gopher_quality_rules(spark):
    from data_pipeline_example_spark.operators import text as tx

    good = (
        "the cat sat with the dog and they have been known to sleep. "
        + " ".join(f"word{i} item{i} thing{i}" for i in range(20))
    )  # >50 words, stopwords present, clean
    bullets = "\n".join(f"- bullet line {i}" for i in range(10))
    symbols = "the and " + " ".join("#tag" for _ in range(60)) + " of that have with"
    short = "the of and be"
    numeric = "the of " + " ".join(str(i) for i in range(60))
    docs = spark.createDataFrame(
        [(0, good, "en", "s", 1), (1, bullets, "en", "s", 1),
         (2, symbols, "en", "s", 1), (3, short, "en", "s", 1),
         (4, numeric, "en", "s", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r["doc_id"]: r for r in tx.gopher_quality(docs).collect()}
    assert out[0]["passes"] == 1
    assert out[0]["n_required_stops"] >= 4
    assert out[1]["bullet_line_frac"] == 1.0 and out[1]["passes"] == 0
    assert out[2]["symbol_word_ratio"] > 0.1 and out[2]["passes"] == 0
    assert out[3]["n_words"] < 50 and out[3]["passes"] == 0
    # 60 of 62 words purely numeric → alpha fraction well below 0.8
    assert out[4]["alpha_word_frac"] < 0.8 and out[4]["passes"] == 0


def test_c4_line_stats_rules(spark):
    from data_pipeline_example_spark.operators import text as tx

    page = (
        "This line has enough words to be kept easily.\n"
        "short line.\n"                       # < 5 words → dropped
        "no terminal punctuation here at all\n"  # no punctuation → dropped
        'A quoted ending with five words plus "\n'
        "Another perfectly fine sentence with many words!\n"
        "And one more proper sentence to clear the minimum?"
    )
    lorem = "Lorem ipsum dolor sit amet and this sentence is long enough."
    codey = "function f() { return this long sentence of words. }"
    docs = spark.createDataFrame(
        [(0, page, "en", "s", 1), (1, lorem, "en", "s", 1), (2, codey, "en", "s", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r["doc_id"]: r for r in tx.c4_line_stats(docs).collect()}
    assert out[0]["n_lines"] == 6 and out[0]["n_kept_lines"] == 4
    assert out[0]["page_pass"] == 1 and out[0]["has_lorem"] == 0
    assert out[1]["has_lorem"] == 1 and out[1]["page_pass"] == 0
    assert out[2]["has_brace"] == 1 and out[2]["page_pass"] == 0


def test_dup_ngram_fraction_planted_repetition(spark):
    from data_pipeline_example_spark.operators import text as tx

    loop = ("spam ham eggs one two three four five " * 10).strip()  # 8-token loop
    prose = "the quick brown fox jumps over the lazy dog and then sleeps all day long"
    short = "too few tokens"
    docs = spark.createDataFrame(
        [(0, loop, "en", "s", len(loop)), (1, prose, "en", "s", len(prose)),
         (2, short, "en", "s", len(short))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r["doc_id"]: r for r in tx.dup_ngram_fraction(docs, n=8).collect()}
    # looping doc: 80 tokens → 73 8-grams, only 8 distinct → fraction ≈ 0.89
    assert out[0]["n_ngrams"] == 73 and out[0]["n_distinct"] == 8
    assert out[0]["dup_fraction"] > 0.85
    assert out[1]["dup_fraction"] == 0.0  # natural prose, no repeated 8-gram
    assert out[2]["n_ngrams"] == 0 and out[2]["dup_fraction"] == 0.0


def test_lang_mixture_flags_code_switching(spark):
    from data_pipeline_example_spark.operators import text as tx

    mixed = "the cat is in the house und der hund ist nicht ein freund"
    mono = "the dog and the cat and the bird went to the park in the morning"
    none_ = "zzz qqq www"
    docs = spark.createDataFrame(
        [(0, mixed, "en", "s", len(mixed)), (1, mono, "en", "s", len(mono)),
         (2, none_, "en", "s", len(none_))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r["doc_id"]: r for r in tx.lang_mixture(docs).collect()}
    assert out[0]["is_mixed"] == 1 and out[0]["second_share"] >= 0.25
    assert out[1]["is_mixed"] == 0 and out[1]["top_share"] > 0.8
    assert out[2]["n_votes"] == 0 and out[2]["is_mixed"] == 0


def test_kmv_sketch_branches_and_plan(spark, sf_dir):
    """Degenerate branch (n < k) returns the exact count with rel_err 0;
    the top-k side compiles to TakeOrderedAndProject (per-partition
    k-row heaps), never a global sort shuffle."""
    from pyspark.sql import functions as F

    from data_pipeline_example_spark.operators.users import user_cardinality_kmv
    from data_pipeline_example_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    n_users = ev.filter(F.col("user_id").isNotNull()).select("user_id").distinct().count()

    degenerate = user_cardinality_kmv(ev, k=n_users + 10).first()
    assert degenerate["kmv_estimate"] == n_users == degenerate["n_exact"]
    assert degenerate["rel_err"] == 0.0

    active = user_cardinality_kmv(ev, k=max(2, n_users // 2))
    jvm = spark._jvm
    plan = jvm.PythonSQLUtils.explainString(active._jdf.queryExecution(), "simple")
    assert "TakeOrderedAndProject" in plan
    row = active.first()
    assert row["kmv_estimate"] > 0
    # a k-of-n/2 KMV on 48-bit hashes lands well within 3x of truth
    assert 0.33 * n_users <= row["kmv_estimate"] <= 3 * n_users


def test_kmv_sketch_is_mergeable(spark, sf_dir):
    """The union of per-shard k-minimum sets, re-minimized to k, equals
    the whole-corpus sketch — the mergeability that lets KMV run
    map-side at 100 TB (each partition ships k hashes, the driver (or a
    combiner) re-minimizes)."""
    from pyspark.sql import functions as F

    from data_pipeline_example_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    k = 8
    hv = ev.select(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10)
        .cast("long")
        .alias("hv"),
        (F.col("user_id") % 3).alias("shard"),
    ).distinct()
    whole = [r["hv"] for r in hv.select("hv").distinct().orderBy("hv").limit(k).collect()]
    shard_mins = (
        hv.groupBy("shard")
        .agg(F.slice(F.sort_array(F.collect_set("hv")), 1, k).alias("mins"))
        .collect()
    )
    merged = sorted({v for r in shard_mins for v in r["mins"]})[:k]
    assert merged == whole


def test_kmv_by_type_plan_uses_window_group_limit(spark, sf_dir):
    """The per-group k-minimum selection must pre-trim map-side
    (WindowGroupLimit) — the property that keeps the rollup one cheap
    pass at 100 TB — and each group's row matches the whole-table
    estimator run on that group alone."""
    from pyspark.sql import functions as F

    from data_pipeline_example_spark.operators.users import (
        user_cardinality_kmv,
        user_cardinality_kmv_by_type,
    )
    from data_pipeline_example_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    grouped = user_cardinality_kmv_by_type(ev, k=8)
    jvm = spark._jvm
    plan = jvm.PythonSQLUtils.explainString(grouped._jdf.queryExecution(), "simple")
    assert "WindowGroupLimit" in plan

    rows = {r["event_type"]: r for r in grouped.collect()}
    one_type = sorted(rows)[0]
    single = user_cardinality_kmv(
        ev.filter(F.col("event_type") == one_type), k=8
    ).first()
    assert rows[one_type]["n_exact"] == single["n_exact"]
    assert rows[one_type]["kmv_estimate"] == single["kmv_estimate"]


def test_kmv_sketches_keep_null_type_users_as_unknown(spark):
    """A NULL event_type is the 'unknown' group in both grouped KMV
    sketches — the policy of ``user_cardinality_hll`` and its stream
    twin — instead of vanishing in the equi-join on event_type."""
    import datetime

    from data_pipeline_example_spark.operators.users import (
        user_cardinality_kmv_by_type,
        user_reach_rollup,
    )

    ts = datetime.datetime(2024, 1, 1, 12)
    ev = spark.createDataFrame(
        [(1, ts, 7, "view"), (2, ts, 8, None), (3, ts, 9, None), (4, ts, 9, None)],
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string",
    )
    by_type = {
        r["event_type"]: (r["n_exact"], r["kmv_estimate"])
        for r in user_cardinality_kmv_by_type(ev).collect()
    }
    assert by_type == {"unknown": (2, 2), "view": (1, 1)}
    reach = {
        r["event_type"]: (r["daily_sketches"], r["reach_estimate"])
        for r in user_reach_rollup(ev).collect()
    }
    assert reach == {"unknown": (1, 2), "view": (1, 1)}


def test_corpus_diff_statuses(spark, sf_dir):
    """Every status class present and counts consistent: the synthetic
    old/new views drop 10% each way and change 10%; summary counts must
    reconcile with the per-doc statuses."""
    from pyspark.sql import functions as F

    from data_pipeline_example_spark.operators.dedup import (
        corpus_diff,
        corpus_diff_summary,
    )
    from data_pipeline_example_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 3).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 != 7).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 1,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" rev2")),
        ).otherwise(F.col("text")).alias("text"),
    )
    diff = corpus_diff(old, new).collect()
    by_status = {}
    for r in diff:
        by_status.setdefault(r["status"], set()).add(r["doc_id"])
    assert all(i % 10 == 3 for i in by_status["added"])
    assert all(i % 10 == 7 for i in by_status["removed"])
    assert all(i % 10 == 1 for i in by_status["changed"])
    assert by_status["unchanged"]
    n = docs.count()
    assert sum(len(v) for v in by_status.values()) == n

    summary = {r["status"]: r["n_docs"] for r in corpus_diff_summary(old, new).collect()}
    assert summary == {k: len(v) for k, v in by_status.items()}


def test_token_budget_caps_cuts_match_window(spark, sf_dir):
    """Group-wise histogram-cuts budget keep-set must be bit-identical
    to the running-sum window form (the SQL-oracle form), including
    heavy token-count ties straddling the budget line."""
    import cuts_reference as ref

    from data_pipeline_example_spark.operators import text as tx

    texts = ["a b c", "a b c d e", "a"]
    synth = spark.createDataFrame(
        [(i, texts[i % 3], "en", f"s{i % 2}", 5) for i in range(23)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    real = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for docs, budget in ((synth, 7), (synth, 0), (real, 800)):
        got = ref.sorted_rows(tx.token_budget_caps(docs, budget=budget))
        want = ref.sorted_rows(ref.token_budget_caps(docs, budget=budget))
        assert got == want, budget
    # the budget actually bisects the real corpus (non-vacuous op)
    kept = tx.token_budget_caps(real, budget=800).groupBy("kept").count().collect()
    assert len(kept) == 2


def test_containment_catches_excerpt_jaccard_misses(spark):
    """A short doc fully contained in a long one: containment 1.0 even
    though Jaccard is far below any dedup threshold."""
    from data_pipeline_example_spark.operators import dedup as dd

    quote = "alpha beta gamma delta epsilon zeta"
    long_doc = quote + " " + " ".join(f"filler{i} word{i} more{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote, "en", "s", 5), (2, long_doc, "en", "s", 5)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    pairs = dd.containment_dup_pairs(docs, threshold=0.8).collect()
    assert [(r["doc_a"], r["doc_b"], r["containment"]) for r in pairs] == [(1, 2, 1.0)]
    assert dd.jaccard_pairs(docs, threshold=0.5).count() == 0


def test_winnowing_guarantee_density_and_ties(spark):
    """MOSS invariants: (1) any shared w+k-1-token run yields >=1 shared
    fingerprint; (2) selection density is far below one-per-gram;
    (3) ties select the RIGHTMOST minimal position; (4) docs shorter
    than one full window still fingerprint via the truncated window."""
    from data_pipeline_example_spark.operators import text as tx

    k, w = 4, 5
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 = w+k-1
    docs = spark.createDataFrame(
        [
            (1, "one unrelated prefix before " + shared + " and a long suffix tail here"),
            (2, shared + " entirely different continuation words follow now"),
            # doc 3: a 5-token doc → 2 grams < w → single truncated window
            (3, "tiny doc of five tokens"),
            # doc 4: the same 4-gram repeated → equal hashes tie in-window
            (4, "x y z w x y z w x y z w"),
        ],
        "doc_id long, text string",
    )
    fps = tx.winnowing_fingerprints(docs, k=k, w=w)
    rows = fps.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    # (1) guarantee: docs 1 and 2 share a fingerprint VALUE
    assert {f for _, f in by_doc[1]} & {f for _, f in by_doc[2]}
    # (2) density: selections ≪ gram count (doc 1 has ~14 grams)
    assert 1 <= len(by_doc[1]) <= 8
    # (3) truncated window: the 2-gram doc still yields exactly 1 fp
    assert len(by_doc[3]) == 1
    # (4) rightmost tie-break: doc 4's grams cycle with period 4, so
    # every window of 5 contains a duplicated minimal hash; selected
    # positions must be the RIGHTMOST occurrence — verify against a
    # python reference implementation
    import hashlib
    toks = "x y z w x y z w x y z w".split()
    H = []
    for i in range(len(toks) - k + 1):
        hx = hashlib.md5(" ".join(toks[i:i + k]).encode()).hexdigest()
        H.append(int(hx[:12], 16))
    want = set()
    n = len(H)
    for j in range(max(n - w + 1, 1)):
        sl = H[j:j + w]
        m = min(sl)
        p = max(i for i, v in enumerate(sl) if v == m) + j
        want.add((p + 1, m))
    assert by_doc[4] == want
    # pairs: the shared-run pair surfaces through the index
    pairs = tx.winnowing_overlap_pairs(docs, min_shared=1).collect()
    assert (1, 2) in {(r["doc_a"], r["doc_b"]) for r in pairs}


def test_gopher_repetition_metrics_and_ties(spark):
    """Hand-computed repetition metrics: duplicate lines, duplicate-line
    chars, top-2-gram coverage; empty doc yields zeros and passes."""
    from data_pipeline_example_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "hello world\nhello world\nunique line", "en", "s", 35),
            (2, "", "en", "s", 0),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {r["doc_id"]: r for r in tx.gopher_repetition(docs).collect()}
    r1 = rows[1]
    assert r1["n_lines"] == 3
    assert r1["dup_line_frac"] == round(1 / 3, 4)
    # 2×"hello world" (11 ch) + "unique line" (11 ch): 11/33 duplicated
    assert r1["dup_line_char_frac"] == round(11 / 33, 4)
    # top 2-gram "hello world" ×2 → 22 chars over the 35-char stream
    assert r1["top2_char_frac"] == round(22 / 35, 4)
    assert r1["passes"] == 0
    r2 = rows[2]
    assert (
        r2["n_lines"],
        r2["dup_line_frac"],
        r2["top2_char_frac"],
        r2["passes"],
    ) == (0, 0.0, 0.0, 1)


def test_pii_scan_counts(spark):
    from data_pipeline_example_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "contact a@b.com or c.d@e.org, call 555-123-4567, host 10.0.0.1", "en", "s", 60),
            (2, "no pii here at all", "en", "s", 18),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {r["doc_id"]: r for r in tx.pii_scan(docs).collect()}
    assert (
        rows[1]["n_emails"],
        rows[1]["n_phones"],
        rows[1]["n_ipv4"],
        rows[1]["n_pii"],
        rows[1]["has_pii"],
    ) == (2, 1, 1, 4, 1)
    assert rows[2]["n_pii"] == 0 and rows[2]["has_pii"] == 0


def test_pii_ipv4_nonascii_boundary_divergence_is_pinned(spark):
    """The PII_PATTERNS ipv4 caveat, asserted instead of assumed (r14
    ADVICE): on an IP ABUTTING a non-ASCII letter, Java's Unicode \\b
    sees no boundary (é is a word char) while RE2's ASCII \\b does —
    so Spark counts 1 IP in this text and DuckDB counts 2. The
    registered pii_scan oracle is engine-identical only because no
    audit corpus contains this shape; if either engine ever changes
    \\b semantics, THIS test moves before a sweep silently does."""
    import duckdb

    from data_pipeline_example_spark.operators.text import PII_PATTERNS

    ipv4 = dict(PII_PATTERNS)["ipv4"]
    text = "reached café192.168.1.1 then 10.0.0.1 cleanly"
    spark_n = (
        spark.range(1)
        .select(F.regexp_count(F.lit(text), F.lit(ipv4)).alias("n"))
        .collect()[0]["n"]
    )
    duck_n = duckdb.connect().execute(
        "SELECT len(regexp_extract_all(?, ?))", [text, ipv4]
    ).fetchone()[0]
    assert (spark_n, duck_n) == (1, 2)
    # and on ASCII-delimited text — every real corpus hit — they agree
    ascii_text = "hosts 192.168.1.1 and 10.0.0.1 online"
    spark_a = (
        spark.range(1)
        .select(F.regexp_count(F.lit(ascii_text), F.lit(ipv4)).alias("n"))
        .collect()[0]["n"]
    )
    duck_a = duckdb.connect().execute(
        "SELECT len(regexp_extract_all(?, ?))", [ascii_text, ipv4]
    ).fetchone()[0]
    assert spark_a == duck_a == 2


def test_source_temperature_weights_sqrt_exact(spark):
    from data_pipeline_example_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(i, "x", "en", "a" if i < 4 else "b", 1) for i in range(20)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {r["source"]: r for r in tx.source_temperature_weights(docs).collect()}
    # counts 4 and 16 → sqrt 2 and 4 → micro 2e6 / 4e6 → rates 1/3, 2/3
    assert rows["a"]["weight_micro"] == 2_000_000
    assert rows["b"]["weight_micro"] == 4_000_000
    assert rows["a"]["sample_rate"] == round(1 / 3, 4)
    assert rows["b"]["sample_rate"] == round(2 / 3, 4)


def test_bm25_search_matches_python_reference(spark):
    """BM25 micro-scores equal a literal Python implementation of the
    documented formula (same rounding schedule) on a small corpus."""
    import math

    from data_pipeline_example_spark.operators import text as tx

    texts = {
        1: "spark window spark hash join",
        2: "spark table scan",
        3: "window window window hash",
        4: "no matching terms here",
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    got = {
        r["doc_id"]: (r["n_terms"], r["bm25_micro"])
        for r in tx.bm25_search(docs).collect()
    }
    # literal reference
    query, k1, b = ("spark", "window", "hash"), 1.2, 0.75
    toks = {i: t.split() for i, t in texts.items()}
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    dfs = {q: sum(1 for t in toks.values() if q in t) for q in query}
    want = {}
    for i, t in toks.items():
        total, n_terms = 0, 0
        for q in query:
            tf = t.count(q)
            if not tf:
                continue
            n_terms += 1
            idf = round(math.log((n_docs - dfs[q] + 0.5) / (dfs[q] + 0.5) + 1.0), 6)
            s = round(idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * len(t) / avgdl)), 6)
            total += round(s * 1e6)
        if n_terms:
            want[i] = (n_terms, total)
    assert got == want
    assert 4 not in got


def test_bm25_batch_per_query_bit_identical_to_solo(spark, sf_dir):
    """Every query's rows in bm25_batch must be BIT-IDENTICAL to its
    own bm25_search run (scores, n_terms, order) even though the batch
    computes tf/df once over the union vocabulary — terms shared
    between queries (e.g. 'scan' overlapping doc content) must not
    perturb per-query scoring. Also pins that the per-query cap is a
    WindowGroupLimit (map-side pre-trim before the exchange)."""
    from data_pipeline_example_spark.operators import text as tx
    from data_pipeline_example_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    qsets = (
        (0, ("spark", "window", "hash")),
        (1, ("data", "join", "merge")),
        (2, ("customer", "stream", "vector", "scan")),
    )
    batch = tx.bm25_batch(docs, queries=qsets, n=15)
    assert "WindowGroupLimit" in batch._jdf.queryExecution().toString()
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["n_terms"], r["bm25_micro"])
        )
    for qid, terms in qsets:
        solo = [
            (i + 1, r["doc_id"], r["n_terms"], r["bm25_micro"])
            for i, r in enumerate(
                tx.bm25_search(docs, query=terms, n=15).collect()
            )
        ]
        assert sorted(got.get(qid, [])) == solo, f"query {qid} diverged"


def test_cluster_representatives_quality_argmax_and_singletons(spark):
    """The representative is the highest-quality cluster member (ties →
    min doc_id), and docs in no pair appear as their own singleton."""
    from data_pipeline_example_spark.operators import dedup as dd
    from data_pipeline_example_spark.operators import text as tx

    near = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, near, "en", "s", 10),
            (2, near + " extra words here make this one longer and better", "en", "s", 10),
            (3, "totally different content entirely", "en", "s", 10),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    pairs = dd.jaccard_pairs(docs, threshold=0.1)
    reps = {r["cluster_id"]: r for r in dd.cluster_representatives(docs, pairs).collect()}
    qual = {r["doc_id"]: r["quality"] for r in tx.doc_stats(docs).collect()}
    # docs 1+2 cluster (id 1); the representative is the higher-quality one
    best = max((qual[1], -1), (qual[2], -2))
    assert reps[1]["rep_doc_id"] == -best[1] and reps[1]["n_members"] == 2
    assert reps[1]["rep_quality"] == best[0]
    # doc 3 is a singleton cluster of itself
    assert reps[3]["rep_doc_id"] == 3 and reps[3]["n_members"] == 1


def test_lang_source_mix_and_token_fertility_shares(spark):
    from data_pipeline_example_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "en", "s1", 7),
            (2, "e f", "en", "s1", 3),
            (3, "g h i j k l", "de", "s2", 11),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    mix = {(r["lang"], r["source"]): r for r in tx.lang_source_mix(docs).collect()}
    assert mix[("en", "s1")]["n_docs"] == 2
    assert mix[("en", "s1")]["n_tokens"] == 6
    assert mix[("en", "s1")]["doc_share"] == round(2 / 3, 4)
    assert mix[("en", "s1")]["token_share"] == 0.5
    fert = {r["source"]: r for r in tx.token_fertility(docs).collect()}
    # "a b c d" + "e f": 10 chars (ASCII → bytes == chars), 6 tokens
    assert fert["s1"]["n_chars"] == 10 and fert["s1"]["n_bytes"] == 10
    assert fert["s1"]["chars_per_token"] == round(10 / 6, 4)
    assert fert["s1"]["tokens_per_doc"] == 3.0


def test_knn_density_outliers_planted_clique(spark):
    """A planted 4-clique of identical vectors + one orthogonal outlier:
    clique members average their top-4 in-bucket cosines (three 1.0s and
    the outlier's 0.0 → 0.75); the outlier's density is 0.0."""
    from data_pipeline_example_spark.operators import similarity as sim

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(4)] + [
        (4, [0.0, 1.0, 0.0, 0.0])
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in sim.knn_density_outliers(emb, k=5).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    for i in range(4):
        assert got[i]["n_nbrs"] == 4
        assert got[i]["knn_sum_micro"] == 3_000_000
        assert got[i]["density"] == 0.75
    assert got[4]["density"] == 0.0


def test_daily_revenue_ma7_gap_fill_and_average(spark):
    """A missing calendar day is zero-filled and the MA averages over
    the true week, not the days-with-sales."""
    from data_pipeline_example_spark.operators import retail as rt

    df = spark.createDataFrame(
        [
            (1, "2024-01-01", "A", 100.0),
            (2, "2024-01-03", "A", 50.0),   # Jan 2 missing → zero-filled
        ],
        "event_id long, order_date string, product string, amount double",
    ).select(
        "event_id", F.to_date("order_date").alias("order_date"), "product", "amount"
    )
    rows = {str(r["order_date"]): r for r in rt.daily_revenue_ma7(df).collect()}
    assert set(rows) == {"2024-01-01", "2024-01-02", "2024-01-03"}
    assert rows["2024-01-02"]["revenue"] == 0.0
    assert rows["2024-01-01"]["ma7"] == 100.0
    assert rows["2024-01-02"]["ma7"] == 50.0     # (100+0)/2
    assert rows["2024-01-03"]["ma7"] == 50.0     # (100+0+50)/3


def test_event_cooccurrence_counts_and_lift(spark):
    from data_pipeline_example_spark.operators import users as us

    rows = [
        (1, 10, "view"), (2, 10, "click"),
        (3, 11, "view"), (4, 11, "click"),
        (5, 12, "view"),
        (6, 13, "click"), (7, 13, "click"),  # duplicate event de-dups
        (8, None, "view"),                    # null user ignored
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, event_type string")
    out = us.event_cooccurrence(ev).collect()
    assert len(out) == 1
    r = out[0]
    # 4 users total; view={10,11,12}, click={10,11,13}, both={10,11}
    assert (r["type_a"], r["type_b"], r["n_both"]) == ("click", "view", 2)
    assert r["jaccard"] == 0.5            # 2 / (3+3-2)
    assert r["lift"] == round(2 * 4 / 9, 4)


def test_revenue_streaks_islands_and_tiebreak(spark):
    """Consecutive-day islands: A has a 3-day run + an isolated day;
    B has two equal-length runs and the EARLIEST must win the tie."""
    from data_pipeline_example_spark.operators import retail as rt

    rows = [
        (1, "2024-01-01", "A", 10.0),
        (2, "2024-01-02", "A", 20.0),
        (3, "2024-01-03", "A", 30.0),
        (4, "2024-01-05", "A", 5.0),     # gap → new island
        (5, "2024-01-01", "B", 1.0),
        (6, "2024-01-02", "B", 1.0),
        (7, "2024-01-05", "B", 2.0),
        (8, "2024-01-06", "B", 2.0),     # same length as B's first run
        (9, "2024-01-02", "A", 0.5),     # second sale same day, same island
    ]
    df = spark.createDataFrame(
        rows, "event_id long, order_date string, product string, amount double"
    ).select(
        "event_id", F.to_date("order_date").alias("order_date"), "product", "amount"
    )
    got = {r["product"]: r for r in rt.revenue_streaks(df).collect()}
    a, b = got["A"], got["B"]
    assert (a["active_days"], a["n_streaks"], a["longest_streak"]) == (4, 2, 3)
    assert str(a["streak_start"]) == "2024-01-01"
    assert str(a["streak_end"]) == "2024-01-03"
    assert a["streak_revenue"] == 60.5   # 10 + 20 + 0.5 + 30
    assert (b["longest_streak"], str(b["streak_start"])) == (2, "2024-01-01")
    assert b["streak_revenue"] == 2.0


def test_event_debounce_chain_and_null_user(spark):
    """Lag-to-predecessor collapse: 0/30/120 s drops only the 30 s
    repeat; other types untouched; NULL users never dropped."""
    from data_pipeline_example_spark.operators import users as us

    base = "2024-01-01 00:00:"
    rows = [
        (1, base + "00", 1, "click", 0.0),
        (2, base + "30", 1, "click", 0.0),   # 30s after #1 → dropped
        (3, "2024-01-01 00:02:00", 1, "click", 0.0),  # 90s after #2 → kept
        (4, base + "10", 1, "view", 0.0),    # different type → kept
        (5, base + "00", None, "click", 0.0),
        (6, base + "01", None, "click", 0.0),  # NULL user → kept
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).select("event_id", F.to_timestamp("ts").alias("ts"), "user_id", "event_type", "value")
    got = {r["event_type"]: r for r in us.event_debounce(ev, gap_s=60).collect()}
    assert (got["click"]["n_events"], got["click"]["n_dropped"]) == (5, 1)
    assert got["click"]["n_kept"] == 4
    assert got["click"]["drop_micro"] == 200_000
    assert got["view"]["n_dropped"] == 0


def test_attribution_last_touch_window_and_fallback(spark):
    """Last preceding touch wins; stale (> lookback) and missing
    touches credit 'unattributed'; shares are integer micro-units."""
    from data_pipeline_example_spark.operators import asof as ao

    rows = [
        (1, "2024-01-10 00:00:00", 1, "view", 0.0),
        (2, "2024-01-10 00:00:10", 1, "click", 0.0),
        (3, "2024-01-10 00:00:20", 1, "purchase", 10.0),  # → click
        (4, "2024-01-10 00:00:00", 2, "purchase", 30.0),  # no touch
        (5, "2024-01-01 00:00:00", 3, "view", 0.0),
        (6, "2024-01-09 00:00:01", 3, "purchase", 60.0),  # 8d+1s stale
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).select("event_id", F.to_timestamp("ts").alias("ts"), "user_id", "event_type", "value")
    got = {r["channel"]: r for r in ao.attribution_last_touch(ev).collect()}
    assert set(got) == {"click", "unattributed"}
    assert (got["click"]["n_purchases"], got["click"]["revenue"]) == (1, 10.0)
    assert (got["unattributed"]["n_purchases"], got["unattributed"]["revenue"]) == (2, 90.0)
    assert got["click"]["share_micro"] == 100_000
    assert got["unattributed"]["share_micro"] == 900_000


def test_funnel_dropoff_time_order_sensitive_gaps(spark):
    """Stage gaps are measured from the ORDER-SENSITIVE chain (view
    after signup, etc.); percentile_disc rank semantics on the gaps."""
    from data_pipeline_example_spark.operators import users as us

    def ev(eid, t, uid, typ):
        return (eid, f"2024-01-01 00:{t}", uid, typ, 0.0)

    rows = [
        # user 1: signup @0s, view @10s (gap 10), click @40s (gap 30)
        ev(1, "00:00", 1, "signup"), ev(2, "00:10", 1, "view"),
        ev(3, "00:40", 1, "click"),
        # user 2: view BEFORE signup (ignored), then view @30s (gap 20)
        ev(4, "00:05", 2, "view"), ev(5, "00:10", 2, "signup"),
        ev(6, "00:30", 2, "view"),
        # user 3: signup only → contributes nothing
        ev(7, "00:00", 3, "signup"),
    ]
    evdf = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).select("event_id", F.to_timestamp("ts").alias("ts"), "user_id", "event_type", "value")
    got = {r["stage"]: r for r in us.funnel_dropoff_time(evdf).collect()}
    assert set(got) == {"view", "click"}
    v = got["view"]
    # gaps {10, 20}: p50 = value at rank ceil(0.5*2)=1 → 10; p90 rank 2 → 20
    assert (v["n_users"], v["p50_gap_s"], v["p90_gap_s"]) == (2, 10, 20)
    c = got["click"]
    assert (c["n_users"], c["p50_gap_s"], c["p90_gap_s"]) == (1, 30, 30)


def test_label_separation_matrix_orthogonal_and_identical(spark):
    """Orthogonal label centroids → cos 0; identical → cos 1; the
    centroid is the component-wise mean."""
    from data_pipeline_example_spark.operators import similarity as sim

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [2.0, 0.0, 0.0, 0.0], 2),   # parallel to label 0
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {(r["label_a"], r["label_b"]): r for r in
           sim.label_separation_matrix(emb).collect()}
    assert set(got) == {(0, 1), (0, 2), (1, 2)}
    assert got[(0, 1)]["centroid_cos"] == 0.0
    assert got[(0, 2)]["centroid_cos"] == 1.0
    assert got[(1, 2)]["centroid_cos"] == 0.0
    assert (got[(0, 1)]["n_a"], got[(0, 1)]["n_b"]) == (2, 1)


def test_benchmark_decontamination_overlap_and_short_doc(spark):
    """doc 0 (id%50==0) is benchmark; doc 51 copies one of its 8-gram
    spans (contaminated), doc 52 is disjoint, doc 53 is <8 tokens
    (excluded entirely)."""
    span = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (0, span + " tail0 tail1", "en", "bench_src", 1),
            (51, "lead0 " + span + " other", "en", "src_a", 1),
            (52, "one two three four five six seven eight nine", "en", "src_b", 1),
            (53, "too short", "en", "src_c", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["source"]: r for r in text.benchmark_decontamination(docs).collect()}
    assert set(got) == {"src_a", "src_b"}  # benchmark + short doc excluded
    a = got["src_a"]
    # doc 51 has 8 tokens of overlap => exactly 1 matching 8-gram
    assert (a["n_docs"], a["n_contaminated"], a["hit_grams"]) == (1, 1, 1)
    assert a["doc_rate_micro"] == 1_000_000
    assert a["gram_rate_micro"] == (1 * 1_000_000) // a["total_grams"]
    b = got["src_b"]
    assert (b["n_contaminated"], b["hit_grams"], b["doc_rate_micro"]) == (0, 0, 0)


def test_tfidf_keywords_shared_term_zero_unique_term_ranked(spark):
    """A term both sources share gets idf ln(2/2)=0 -> score 0; unique
    terms score cnt*round(ln(2),6)*1e6; ties break on term ASC."""
    docs = spark.createDataFrame(
        [
            (1, "shared shared apple apple apple banana", "en", "s1", 1),
            (2, "shared cherry cherry", "en", "s2", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = text.tfidf_keywords(docs, top_n=2).collect()
    by = {(r["source"], r["rk"]): r for r in rows}
    ln2_micro = 693147  # round(ln(2), 6) * 1e6
    r11 = by[("s1", 1)]
    assert (r11["term"], r11["cnt"], r11["score_micro"]) == ("apple", 3, 3 * ln2_micro)
    r12 = by[("s1", 2)]
    assert (r12["term"], r12["score_micro"]) == ("banana", ln2_micro)
    r21 = by[("s2", 1)]
    assert (r21["term"], r21["score_micro"]) == ("cherry", 2 * ln2_micro)
    # rank 2 in s2 is the shared zero-idf term
    assert (by[("s2", 2)]["term"], by[("s2", 2)]["score_micro"]) == ("shared", 0)


def test_stratified_split_audit_hash_rule_and_shares(spark):
    """Split assignment replays the md5-mod-100 rule exactly and the
    within-source shares are integral micro divisions."""
    import hashlib

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100

    rows = [(i, f"tok{i} alpha beta", "en", "s1", 1) for i in range(40)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    expected = {"test": 0, "val": 0, "train": 0}
    for i in range(40):
        b = bucket(i)
        expected["test" if b < 5 else "val" if b < 10 else "train"] += 1
    got = {r["split"]: r for r in text.stratified_split_audit(docs).collect()}
    for split, n in expected.items():
        if n == 0:
            assert split not in got
        else:
            assert got[split]["n_docs"] == n
            assert got[split]["doc_share_micro"] == (n * 1_000_000) // 40
            assert got[split]["n_tokens"] == 3 * n  # 3 tokens per doc


def test_lang_confusion_ladder_and_row_shares(spark):
    """Tie-break ladder en>de>fr>es; zero votes -> 'und'; row shares
    are within-declared-language integral micro divisions."""
    docs = spark.createDataFrame(
        [
            (1, "the and is of", "en", "s", 1),      # en votes -> en
            (2, "der und ist", "en", "s", 1),        # de votes ('und' is a de stopword too... pure de words)
            (3, "zzz qqq", "en", "s", 1),            # no votes -> und
            (4, "the der", "de", "s", 1),            # tie en/de -> en (ladder)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {(r["lang"], r["lang_pred"]): r for r in text.lang_confusion(docs).collect()}
    assert got[("en", "en")]["n_docs"] == 1
    assert got[("en", "de")]["n_docs"] == 1
    assert got[("en", "und")]["n_docs"] == 1
    assert got[("de", "en")]["n_docs"] == 1  # tie resolved to en
    assert got[("en", "en")]["row_share_micro"] == 1_000_000 // 3
    assert got[("de", "en")]["row_share_micro"] == 1_000_000


def test_ngram_novelty_first_occurrence_curve(spark):
    """Epoch 0 gram sets are 100% novel by definition; a later epoch
    repeating them contributes zero new grams; docs under k tokens
    don't participate. Epoch = (doc_id * 10) div (max_id + 1)."""
    docs = spark.createDataFrame(
        [
            # max_id+1 = 10 -> epoch == doc_id
            (0, "a b c d", "en", "s", 1),     # grams: abc, bcd (epoch 0)
            (1, "a b c", "en", "s", 1),       # gram abc again (epoch 1) — 0 new
            (2, "x y z w", "en", "s", 1),     # grams xyz, yzw (epoch 2) — all new
            (3, "a b", "en", "s", 1),         # < 3 tokens: no participation
            (9, "b c d", "en", "s", 1),       # gram bcd again (epoch 9) — 0 new
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["epoch"]: r for r in text.ngram_novelty(docs).collect()}
    # every participating epoch appears, including the zero-novelty ones
    assert set(got) == {0, 1, 2, 9}
    assert got[0]["n_docs"] == 1 and got[0]["distinct_grams"] == 2
    assert got[0]["new_grams"] == 2 and got[0]["novelty_micro"] == 1_000_000
    assert got[1]["new_grams"] == 0 and got[1]["novelty_micro"] == 0
    assert got[2]["distinct_grams"] == 2 and got[2]["novelty_micro"] == 1_000_000
    assert got[9]["new_grams"] == 0 and got[9]["distinct_grams"] == 1


def test_vocab_drift_tv_and_churn(spark):
    """Identical adjacent distributions -> tv 0, no churn; a full
    vocabulary swap -> tv 2e6 (both sides' mass), all new+dropped."""
    docs = spark.createDataFrame(
        [
            # n_epochs=3, max_id+1 = 3 -> epoch = doc_id
            (0, "a a b", "en", "s", 1),   # epoch 0: a:2/3, b:1/3
            (1, "a a b", "en", "s", 1),   # epoch 1: identical dist
            (2, "x y", "en", "s", 1),     # epoch 2: disjoint vocab
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["epoch_to"]: r for r in text.vocab_drift(docs, n_epochs=3).collect()}
    b1 = got[1]
    assert b1["epoch_from"] == 0 and b1["union_terms"] == 2
    assert b1["new_terms"] == 0 and b1["dropped_terms"] == 0
    assert b1["tv_micro"] == 0
    b2 = got[2]
    assert b2["union_terms"] == 4
    assert b2["new_terms"] == 2 and b2["dropped_terms"] == 2
    # epoch 1 mass: a=666666, b=333333; epoch 2: x=500000, y=500000
    assert b2["tv_micro"] == 666666 + 333333 + 500000 + 500000


def test_length_pareto_buckets_and_cumulative_shares(spark):
    """log2 buckets; cumulative from the LONGEST bucket down; zero-token
    docs don't participate; micro share is integral."""
    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h", "en", "s", 1),  # 8 tokens -> bucket 3
            (1, "a b c d", "en", "s", 1),          # 4 tokens -> bucket 2
            (2, "a b c d e", "en", "s", 1),        # 5 tokens -> bucket 2
            (3, "a", "en", "s", 1),                # 1 token  -> bucket 0
            (4, "", "en", "s", 1),                 # 0 tokens -> excluded
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = text.length_pareto(docs).collect()
    assert [r["bucket"] for r in rows] == [3, 2, 0]
    b3, b2, b0 = rows
    assert (b3["n_docs"], b3["bucket_tokens"]) == (1, 8)
    assert (b2["n_docs"], b2["bucket_tokens"]) == (2, 9)
    assert (b0["cum_docs"], b0["cum_tokens"]) == (4, 18)
    assert b3["cum_token_share_micro"] == 8 * 1_000_000 // 18
    assert b0["cum_token_share_micro"] == 1_000_000


def test_source_gram_containment_pair_counts(spark):
    """Vocab overlap between source pairs: shared 3-gram hashes, with
    containment over the smaller vocab and jaccard over the union; a
    gram present in 3 sources contributes to all 3 pairs (in-array
    expansion == the oracle's self-join)."""
    docs = spark.createDataFrame(
        [
            (0, "a b c d", "en", "s1", 1),  # grams: abc, bcd
            (1, "a b c", "en", "s2", 1),    # gram:  abc
            (2, "a b c x", "en", "s3", 1),  # grams: abc, bcx
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        (r["source_a"], r["source_b"]): r
        for r in text.source_gram_containment(docs).collect()
    }
    assert set(got) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
    r12 = got[("s1", "s2")]
    assert (r12["shared_grams"], r12["a_grams"], r12["b_grams"]) == (1, 2, 1)
    assert r12["containment_micro"] == 1_000_000  # s2's whole vocab
    assert r12["jaccard_micro"] == 1_000_000 // 2
    r13 = got[("s1", "s3")]
    assert (r13["shared_grams"], r13["a_grams"], r13["b_grams"]) == (1, 2, 2)
    assert r13["jaccard_micro"] == 1_000_000 // 3


def test_embedding_drift_identical_vs_swapped_distributions(spark):
    """Same vectors in adjacent epochs -> tv 0 and no churn; a fully
    moved population -> tv = both sides' mass with churn counted."""
    v1 = [1.0] + [0.0] * 63
    v2 = [-1.0] + [0.0] * 63  # lands in a different SRP bucket than v1
    vecs = spark.createDataFrame(
        [
            # n_epochs=3, max_id+1 = 3 -> epoch = vec_id
            (0, v1, 0),
            (1, v1, 0),   # epoch 1 identical to epoch 0
            (2, v2, 0),   # epoch 2: all mass moved
        ],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        r["epoch_to"]: r
        for r in similarity.embedding_drift(vecs, n_epochs=3).collect()
    }
    b1 = got[1]
    assert (b1["new_buckets"], b1["dropped_buckets"], b1["tv_micro"]) == (0, 0, 0)
    b2 = got[2]
    assert b2["union_buckets"] == 2
    assert (b2["new_buckets"], b2["dropped_buckets"]) == (1, 1)
    assert b2["tv_micro"] == 2_000_000


def test_incremental_daily_revenue_merge_equals_direct(spark):
    """The history+delta partial merge must equal a direct GROUP BY —
    including a product that exists ONLY in the delta day and the
    history/delta overlap on the same (day, product)."""
    from data_pipeline_example_spark.operators import retail as rt

    rows = [
        ("2024-01-01", "a", 1.25),
        ("2024-01-01", "a", 2.50),
        ("2024-01-01", "b", 0.99),
        ("2024-01-02", "a", 4.00),   # max date = the delta partition
        ("2024-01-02", "c", 10.01),  # delta-only product
    ]
    df = spark.createDataFrame(
        rows, "order_date string, product string, amount double"
    ).selectExpr("cast(order_date as date) order_date", "product", "amount")
    got = {
        (str(r["order_date"]), r["product"]): (r["n_rows"], r["total_cents"])
        for r in rt.incremental_daily_revenue(df).collect()
    }
    assert got == {
        ("2024-01-01", "a"): (2, 375),
        ("2024-01-01", "b"): (1, 99),
        ("2024-01-02", "a"): (1, 400),
        ("2024-01-02", "c"): (1, 1001),
    }


def test_incremental_daily_revenue_keeps_null_dates(spark):
    """NULL order_date fails both the < mx history filter and the
    == mx delta filter under three-valued logic; the op must route
    those rows explicitly so its output matches a direct GROUP BY
    (which keeps a NULL-date group) on nullable dates."""
    from data_pipeline_example_spark.operators import retail as rt

    rows = [
        ("2024-01-01", "a", 1.00),
        ("2024-01-02", "a", 2.00),   # max date
        (None, "a", 3.50),           # unparseable-date row
        (None, "b", 0.25),
    ]
    df = spark.createDataFrame(
        rows, "order_date string, product string, amount double"
    ).selectExpr("cast(order_date as date) order_date", "product", "amount")
    got = {
        (str(r["order_date"]), r["product"]): (r["n_rows"], r["total_cents"])
        for r in rt.incremental_daily_revenue(df).collect()
    }
    assert got == {
        ("2024-01-01", "a"): (1, 100),
        ("2024-01-02", "a"): (1, 200),
        ("None", "a"): (1, 350),
        ("None", "b"): (1, 25),
    }


def test_token_gini_equal_and_skewed_masses(spark):
    """Equal source masses -> gini 0; a fully-concentrated corpus with
    n sources -> (n-1)/n in micro-units; determinism under ties comes
    from the source-name tiebreak."""
    eq = spark.createDataFrame(
        [(0, "a b", "en", "s1", 1), (1, "c d", "en", "s2", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = text.token_gini(eq).collect()[0]
    assert (r["n_sources"], r["total_tokens"], r["gini_micro"]) == (2, 4, 0)
    skew = spark.createDataFrame(
        [(0, "a b c d e f g h", "en", "s1", 1), (1, "", "en", "s2", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = text.token_gini(skew).collect()[0]
    # masses (0, 8): G = (2*(1*0+2*8) - 3*8) / (2*8) = 8/16 = 0.5
    assert (r["n_sources"], r["gini_micro"]) == (2, 500_000)


def test_revenue_seasonality_shares_sum_and_index(spark):
    """Month shares are integral micros of the product-year total; a
    single-month product gets the full 1e6."""
    from data_pipeline_example_spark.operators import retail as rt

    rows = [
        ("2024-01-15", "a", 10.0),
        ("2024-01-20", "a", 20.0),
        ("2024-07-01", "a", 10.0),
        ("2025-02-01", "a", 5.0),   # separate year: its own baseline
        ("2024-03-01", "b", 9.99),
    ]
    df = spark.createDataFrame(
        rows, "order_date string, product string, amount double"
    ).selectExpr("cast(order_date as date) order_date", "product", "amount")
    got = {
        (r["product"], r["year"], r["month"]): r
        for r in rt.revenue_seasonality(df).collect()
    }
    a_jan = got[("a", 2024, 1)]
    assert (a_jan["month_cents"], a_jan["year_cents"]) == (3000, 4000)
    assert a_jan["month_share_micro"] == 750_000
    assert got[("a", 2024, 7)]["month_share_micro"] == 250_000
    assert got[("a", 2025, 2)]["month_share_micro"] == 1_000_000
    assert got[("b", 2024, 3)]["month_share_micro"] == 1_000_000


def test_pii_redact_replaces_with_typed_placeholders(spark):
    """Every PII_PATTERNS match becomes its typed placeholder; the
    count reflects TRUE substitutions — a phone-like digit run inside
    an email is consumed by the email replacement (chain order) and
    must not double-count the way pii_scan's raw-text census does."""
    from data_pipeline_example_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.com call 555-123-4567 host 10.0.0.1", "en", "s", 44),
            (2, "reach 555-123-4567@mail.com today", "en", "s", 33),
            (3, "clean text", "en", "s", 10),
            (4, None, "en", "s", 0),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {r["doc_id"]: r for r in tx.pii_redact(docs).collect()}
    assert rows[1]["text_redacted"] == "mail <EMAIL> call <PHONE> host <IP>"
    assert rows[1]["n_redactions"] == 3
    # overlap: the raw-text census sees an email AND a phone, but only
    # ONE substitution happens — the email consumes the digits
    assert rows[2]["text_redacted"] == "reach <EMAIL> today"
    assert rows[2]["n_redactions"] == 1
    scan = {r["doc_id"]: r for r in tx.pii_scan(docs).collect()}
    assert scan[2]["n_pii"] == 2  # the documented census-vs-transform gap
    assert rows[3]["n_redactions"] == 0 and rows[3]["text_redacted"] == "clean text"
    assert rows[4]["n_redactions"] == 0 and rows[4]["text_redacted"] == ""


def test_quality_classifier_distills_the_rule(spark):
    """On a corpus with a clean vocabulary split between the quality
    classes, the log-odds weights must separate them: every doc's pred
    equals its rule label, the bias is the exact prior log-odds, and
    n_feats counts DISTINCT hashed features (presence, not counts)."""
    from data_pipeline_example_spark.operators import text as tx

    hi = "the and for with this that from they have been more will about"
    lo = "zz"
    docs = spark.createDataFrame(
        [
            (1, hi, "en", "s", len(hi)),
            (2, hi + " extra words here too", "en", "s", len(hi) + 22),
            (3, lo, "en", "s", len(lo)),
            (4, lo + " qq", "en", "s", len(lo) + 3),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {r["doc_id"]: r for r in tx.quality_classifier(docs).collect()}
    assert set(rows) == {1, 2, 3, 4}
    labels = {d: rows[d]["label"] for d in rows}
    # long stopword-rich docs score above the mean, short ones below
    assert labels[1] == 1 and labels[2] == 1
    assert labels[3] == 0 and labels[4] == 0
    for d in rows:
        assert rows[d]["pred"] == labels[d], (d, rows[d])
        assert (rows[d]["logit_micro"] > 0) == bool(labels[d])
    # presence features: doc 3 has ONE distinct unigram, zero bigrams
    assert rows[3]["n_feats"] == 1
    # doc 4: unigrams {zz, qq} + bigram {"zz qq"} -> 3 distinct feats
    assert rows[4]["n_feats"] == 3


def test_quality_classifier_n_feats_is_presence_not_counts(spark):
    """Repeating a token must not change its feature contribution —
    the binarized (Bernoulli-style) scoring contract."""
    from data_pipeline_example_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "alpha alpha alpha alpha", "en", "s", 23),
            (2, "beta beta beta beta beta beta beta beta", "en", "s", 39),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {r["doc_id"]: r for r in tx.quality_classifier(docs).collect()}
    # unigram {alpha} + bigram {"alpha alpha"} regardless of repetition
    assert rows[1]["n_feats"] == 2
    assert rows[2]["n_feats"] == 2


def test_zipf_fit_recovers_exact_power_law(spark):
    """freq = 12/rank is an exact Zipf line of slope -1 in log-log
    space: the integer-exact regression must recover it to within the
    3-dp log rounding, and a single-term source (zero x-variance) must
    yield the guarded 0 slope."""
    from data_pipeline_example_spark.operators import text as tx

    body = " ".join(["a"] * 12 + ["b"] * 6 + ["c"] * 4 + ["d"] * 3)
    docs = spark.createDataFrame(
        [(1, body, "en", "s1", len(body)), (2, "only", "en", "s2", 4)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {r["source"]: r for r in tx.zipf_fit(docs).collect()}
    assert rows["s1"]["n_terms"] == 4 and rows["s1"]["head_freq"] == 12
    assert abs(rows["s1"]["neg_zipf_slope_micro"] - 1_000_000) < 5_000
    assert rows["s2"]["n_terms"] == 1
    assert rows["s2"]["neg_zipf_slope_micro"] == 0


def test_zipf_fit_top_k_caps_the_regression_frame(spark):
    """top_k bounds n_terms (the 100 TB frame-size guarantee) and the
    fit then uses only the head ranks."""
    from data_pipeline_example_spark.operators import text as tx

    body = " ".join(["a"] * 12 + ["b"] * 6 + ["c"] * 4 + ["d"] * 3)
    docs = spark.createDataFrame(
        [(1, body, "en", "s1", len(body))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    row = tx.zipf_fit(docs, top_k=2).collect()[0]
    assert row["n_terms"] == 2
    # two points (ln1, ln12), (ln2, ln6): slope exactly -1 in exact
    # arithmetic; 3-dp rounding keeps it within the same tolerance
    assert abs(row["neg_zipf_slope_micro"] - 1_000_000) < 5_000


def test_quality_calibration_counts_reconcile_with_classifier(spark):
    """The calibration bins must partition the scored docs exactly:
    per-bin counts/sums re-derived from the classifier output row set
    match, bins stay in [0, n_bins), and the extreme-logit docs land
    in the first/last occupied bins."""
    from data_pipeline_example_spark.operators import text as tx

    hi = "the and for with this that from they have been more will about"
    docs = spark.createDataFrame(
        [
            (1, hi, "en", "s", len(hi)),
            (2, hi + " extra words here too", "en", "s", len(hi) + 22),
            (3, "zz", "en", "s", 2),
            (4, "zz qq", "en", "s", 5),
            (5, "mid sized text with some words", "en", "s", 30),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    scored = tx.quality_classifier(docs).collect()
    mn = min(r["logit_micro"] for r in scored)
    mx = max(r["logit_micro"] for r in scored)
    expect = {}
    for r in scored:
        b = ((r["logit_micro"] - mn) * 8) // (mx - mn + 1)
        e = expect.setdefault(b, [0, 0, 0, 0, 0])
        e[0] += 1
        e[1] += r["pred"]
        e[2] += r["label"]
        e[3] += int(r["pred"] == r["label"])
        e[4] += r["logit_micro"]
    got = {
        r["bin"]: [
            r["n_docs"],
            r["n_pred_hi"],
            r["n_label_hi"],
            r["n_correct"],
            r["sum_logit_micro"],
        ]
        for r in tx.quality_calibration(docs).collect()
    }
    assert got == expect
    assert all(0 <= b < 8 for b in got)
    assert sum(v[0] for v in got.values()) == len(scored)


def test_domain_epoch_plan_exact_integral_allocation(spark):
    """Token masses 16 vs 4 give integer sqrt weights 4 vs 2; with a
    600-token budget the sqrt-temperature targets are 400/200 and the
    repeat factors 25x/50x in exact micro-units."""
    from data_pipeline_example_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, " ".join(["w"] * 16), "en", "big", 31),
            (2, " ".join(["w"] * 4), "en", "small", 7),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {
        r["source"]: r
        for r in tx.domain_epoch_plan(docs, budget_tokens=600).collect()
    }
    big, small = rows["big"], rows["small"]
    assert (big["tokens"], big["weight"]) == (16, 4)
    assert (small["tokens"], small["weight"]) == (4, 2)
    assert big["target_tokens"] == 400 and small["target_tokens"] == 200
    assert big["epochs_micro"] == 25_000_000
    assert small["epochs_micro"] == 50_000_000


def test_domain_epoch_plan_zero_token_source_is_guarded(spark):
    """A source with no alphanumeric tokens gets weight 0, target 0,
    epochs 0 — no division blows up."""
    from data_pipeline_example_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, " ".join(["w"] * 9), "en", "real", 17),
            (2, "!!! ...", "en", "empty", 7),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {r["source"]: r for r in tx.domain_epoch_plan(docs).collect()}
    assert rows["empty"]["tokens"] == 0
    assert rows["empty"]["weight"] == 0
    assert rows["empty"]["target_tokens"] == 0
    assert rows["empty"]["epochs_micro"] == 0
    assert rows["real"]["weight"] == 3


def test_readability_scores_exact_counts_and_fre(spark):
    """Hand corpus with known word/sentence/vowel-group counts: the
    rollup must reproduce them and the Flesch score must equal the
    integral-division formula exactly; empty-text docs contribute
    zero sentences (no floor-at-one for empty docs)."""
    from data_pipeline_example_spark.operators import text as tx

    # "go on. go far! now?" -> 5 words, 3 sentence runs,
    # vowel groups: go(1) on(1) go(1) far(1) now(1) = 5
    docs = spark.createDataFrame(
        [
            (1, "go on. go far! now?", "en", "s1", 19),
            (2, "", "en", "s1", 0),
            (3, "no stops here", "en", "s2", 13),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {r["source"]: r for r in tx.readability_scores(docs).collect()}
    s1 = rows["s1"]
    assert (s1["n_docs"], s1["n_words"], s1["n_sentences"]) == (2, 5, 3)
    assert s1["n_syllables"] == 5
    assert s1["words_per_sentence_micro"] == (5 * 1_000_000) // 3
    assert s1["syllables_per_word_micro"] == 1_000_000
    assert s1["fre_micro"] == (
        206_835_000 - (1015 * 5 * 1000) // 3 - (84_600 * 5 * 1000) // 5
    )
    # no terminator at all -> floored to one sentence
    s2 = rows["s2"]
    assert (s2["n_words"], s2["n_sentences"]) == (3, 1)


def test_readability_fre_boundary_magnitude_no_overflow(spark):
    """The schoolbook two-step divisions must stay exact at the
    ~9e12-words-per-source boundary where the naive triple product
    (1015·n_words·1000 ≈ 9.1e18) wraps int64 — Spark's non-ANSI
    wraparound vs DuckDB's overflow error would break the oracle on
    exactly the corpus sizes the 100 TB contract claims. Feeds the
    counts frame directly (no 9-trillion-word corpus needed) and
    replays the arithmetic in unbounded Python ints."""
    from data_pipeline_example_spark.operators.text import _readability_from_counts

    cases = [
        # (source, n_docs, n_words, n_sentences, n_syllables)
        ("boundary", 10**9, 9_000_000_000_000, 450_000_000_000, 13_500_000_000_000),
        # worst case for the first term: a near-degenerate sentence
        # count drives (1015*w) div s * 1000 to ~9e18 territory
        ("degenerate", 1, 9_000_000_000_000, 7, 9_000_000_000_001),
        ("tiny", 2, 5, 3, 5),
    ]
    agg = spark.createDataFrame(
        cases, "source string, n_docs long, n_words long, n_sentences long, n_syllables long"
    )
    rows = {r["source"]: r for r in _readability_from_counts(agg).collect()}
    for source, _, w, s, y in cases:
        want_fre = 206_835_000 - (1015 * w * 1000) // s - (84_600 * y * 1000) // w
        got = rows[source]
        assert got["fre_micro"] == want_fre, source
        assert got["words_per_sentence_micro"] == (w * 1_000_000) // s
        assert got["syllables_per_word_micro"] == (y * 1_000_000) // w
        # the naive FRE triple product would have wrapped for the big
        # sources (and y·1e6 wraps for the boundary source's ratio)
        if w > 10**12:
            assert 84_600 * y * 1000 > 2**63 - 1


def test_unigram_entropy_uniform_and_degenerate(spark):
    """A 4-term uniform source has H = ln 4 (norm = ln4/ln4 = 1 up to
    milli rounding); a single-term source has H = 0 and norm 0."""
    from data_pipeline_example_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "a b c d a b c d", "en", "uni", 15),
            (2, "w w w w w w", "en", "mono", 11),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {r["source"]: r for r in tx.unigram_entropy(docs).collect()}
    uni = rows["uni"]
    assert (uni["n_tokens"], uni["vocab"]) == (8, 4)
    import math

    # H = ln8 - (4 * 2 * ln2)/8 = ln8 - ln2 = ln4
    assert abs(uni["entropy_micro"] - round(math.log(4) * 1e6)) < 3_000
    assert abs(uni["norm_entropy_micro"] - 1_000_000) < 3_000
    mono = rows["mono"]
    assert (mono["n_tokens"], mono["vocab"]) == (6, 1)
    assert mono["entropy_micro"] == 0 and mono["norm_entropy_micro"] == 0


def test_unigram_entropy_skew_is_below_uniform(spark):
    """Entropy orders sources by diversity: a heavily skewed source
    scores strictly below a uniform one on the same vocab size."""
    from data_pipeline_example_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, " ".join(["x"] * 14 + ["y", "z"]), "en", "skew", 40),
            (2, " ".join(["x", "y", "z"] * 5 + ["x"]), "en", "flat", 40),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {r["source"]: r for r in tx.unigram_entropy(docs).collect()}
    assert rows["skew"]["entropy_micro"] < rows["flat"]["entropy_micro"]
    assert 0 < rows["skew"]["norm_entropy_micro"] < 1_000_000


def _agreement_docs(spark, text3):
    body = "spark rows batch columns data table query join window hash"
    return spark.createDataFrame(
        [
            (1, body, "en", "s", len(body)),
            (2, body, "en", "s", len(body)),
            (3, text3, "en", "s", len(text3)),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )


def _agreement_vecs(spark, v3):
    rows = [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0), (3, v3, 0)]
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_dedup_agreement_disjoint_verdicts(spark):
    """Docs 1,2 are verbatim lexical dups but embedded orthogonally;
    vec 3 duplicates vec 1 (identical vectors share every SRP band
    bucket) while doc 3's text is unrelated — the two
    families each find exactly one pair, with zero overlap."""
    from data_pipeline_example_spark import curation

    docs = _agreement_docs(
        spark, "totally different unrelated words about nothing shared here at all"
    )
    vecs = _agreement_vecs(spark, [1.0, 0.0])
    row = curation.dedup_agreement(docs, vecs, dims=2).collect()[0]
    assert row["n_lexical"] == 1 and row["n_semantic"] == 1
    assert row["n_both"] == 0
    assert row["n_lexical_only"] == 1 and row["n_semantic_only"] == 1
    assert row["agreement_micro"] == 0


def test_dedup_agreement_full_overlap(spark):
    """When the SAME pair (1,2) is both a verbatim text dup and a
    cosine dup, the verdict sets coincide: agreement_micro = 1e6."""
    from data_pipeline_example_spark import curation

    docs = _agreement_docs(
        spark, "totally different unrelated words about nothing shared here at all"
    )
    # vec 2 duplicates vec 1 -> identical SRP signature, cos = 1.0;
    # vec 3 orthogonal to both
    rows = [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [0.0, 1.0], 0)]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    row = curation.dedup_agreement(docs, vecs, dims=2).collect()[0]
    assert row["n_lexical"] == 1 and row["n_semantic"] == 1
    assert row["n_both"] == 1
    assert row["n_lexical_only"] == 0 and row["n_semantic_only"] == 0
    assert row["agreement_micro"] == 1_000_000


def test_heaps_law_recovers_planted_exponent(spark):
    """Sources built so that ln V is exactly 0.5 * ln N + c: vocab
    sizes 2/4/8 at token counts 4/16/64 (V = N^0.5 * 1) — the fit
    must recover beta = 0.5 within the milli-log rounding; a
    single-source corpus (zero x-variance) yields the guarded 0."""
    from data_pipeline_example_spark.operators import text as tx

    def body(vocab, total):
        terms = [f"t{i}" for i in range(vocab)]
        out = list(terms)  # each term at least once
        while len(out) < total:
            out.append(terms[0])
        return " ".join(out)

    docs = spark.createDataFrame(
        [
            (1, body(2, 4), "en", "sA", 1),
            (2, body(4, 16), "en", "sB", 1),
            (3, body(8, 64), "en", "sC", 1),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    row = tx.heaps_law(docs).collect()[0]
    assert row["n_sources"] == 3
    assert row["total_tokens"] == 4 + 16 + 64
    assert abs(row["beta_micro"] - 500_000) < 3_000

    solo = spark.createDataFrame(
        [(1, "a b c", "en", "only", 5)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    srow = tx.heaps_law(solo).collect()[0]
    assert srow["n_sources"] == 1 and srow["beta_micro"] == 0


def test_url_canonical_dedup_collapses_variants(spark):
    """Canonicalization must collapse exactly the synthesized noise
    axes: scheme / www / host case / trailing slash / query / fragment
    all vanish, the host is lowercased, the path keeps its case, and
    the keeper is the min doc_id of each canonical group."""
    from pyspark.sql import functions as F

    from data_pipeline_example_spark.operators import urls

    # ids 0 and 40 share source (doc_id%20) and path (doc_id%8) under
    # the driver corpus convention — plant that shape explicitly
    docs = spark.createDataFrame(
        [(0, "s0"), (40, "s0"), (1, "s1"), (2, "s2")],
        ["doc_id", "source"],
    )
    rows = {r["doc_id"]: r for r in urls.url_canonical_dedup(docs).collect()}
    # doc 0: http:// + UPPER host + /doc/0 + trailing slash + #ref
    assert rows[0]["url"] == "http://S0.Example.COM/doc/0/#ref"
    assert rows[0]["canonical_url"] == "s0.example.com/doc/0"
    # doc 40 (40%3=1): https:// + UPPER host + /doc/0 + slash + #ref
    assert rows[40]["url"] == "https://S0.Example.COM/doc/0/#ref"
    assert rows[40]["canonical_url"] == "s0.example.com/doc/0"
    # doc 1: https:// + lower host + tracking query, no slash/fragment
    assert rows[1]["url"] == "https://s1.Example.COM/doc/1?utm_source=feed&fbclid=1"
    assert rows[1]["canonical_url"] == "s1.example.com/doc/1"
    # group {0, 40} collapses to keeper 0; 1 and 8 stand alone
    assert (rows[0]["keep_doc_id"], rows[0]["n_dups"], rows[0]["is_keeper"]) == (0, 2, 1)
    assert (rows[40]["keep_doc_id"], rows[40]["is_keeper"]) == (0, 0)
    assert rows[2]["canonical_url"] == "s2.example.com/doc/2"
    assert (rows[2]["n_dups"], rows[2]["is_keeper"]) == (1, 1)


def test_token_fertility_drift_planted_epochs(spark):
    """Fertility micro rates and signed adjacent-epoch deltas over
    planted positional epochs (3 docs, n_epochs=3 → one per epoch);
    bytes == chars on pure-ASCII fixtures, epoch 0 has null deltas."""
    from data_pipeline_example_spark.operators import text as tx

    texts = ["aa bb", "aaaa bbbb", "aaaaaa bb"]  # cpt: 5/2, 9/2, 9/2
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = {r["epoch"]: r for r in tx.token_fertility_drift(docs, n_epochs=3).collect()}
    assert set(rows) == {0, 1, 2}
    want_cpt = [5 * 1_000_000 // 2, 9 * 1_000_000 // 2, 9 * 1_000_000 // 2]
    for e in range(3):
        assert rows[e]["n_docs"] == 1 and rows[e]["n_tokens"] == 2
        assert rows[e]["cpt_micro"] == want_cpt[e]
        assert rows[e]["bpt_micro"] == want_cpt[e]  # ASCII: bytes == chars
    assert rows[0]["delta_cpt_micro"] is None
    assert rows[1]["delta_cpt_micro"] == want_cpt[1] - want_cpt[0]  # rising
    assert rows[2]["delta_cpt_micro"] == 0  # flat


def test_boilerplate_prefixes_winner_and_share(spark):
    """Dominant prefix per source with deterministic tie-break
    (count desc, prefix asc); docs with < k tokens contribute no
    prefix; share is micro-units of prefix-bearing docs."""
    from data_pipeline_example_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "Cookie banner here - article one", "s1"),
            (2, "cookie banner here again, other article", "s1"),
            (3, "totally organic opening text", "s1"),
            (4, "tiny", "s1"),                   # < 3 tokens: no prefix
            (5, "alpha beta gamma", "s2"),
            (6, "delta epsilon zeta", "s2"),     # tie 1-1 → 'alpha…' wins (asc)
        ],
        ["doc_id", "text", "source"],
    )
    rows = {r["source"]: r for r in tx.boilerplate_prefixes(docs).collect()}
    assert rows["s1"]["top_prefix"] == "cookie banner here"
    assert rows["s1"]["n_docs"] == 3          # doc 4 bears no prefix
    assert rows["s1"]["n_with_prefix"] == 2
    assert rows["s1"]["share_micro"] == 2 * 1_000_000 // 3
    assert rows["s2"]["top_prefix"] == "alpha beta gamma"
    assert rows["s2"]["n_with_prefix"] == 1


def test_dup_distance_profile_planted_epochs(spark):
    """Epoch-distance histogram over planted near-dup pairs: two
    same-epoch dups and one cross-corpus dup land in the right
    distance buckets, shares sum to 1e6 (up to truncation)."""
    from data_pipeline_example_spark.operators import dedup as dd

    body = "the quick brown fox jumps over the lazy dog again and again"
    filler = [
        f"unique filler document number {i} with its own words entirely"
        for i in range(16)
    ]
    # ids 0..19 → epochs = doc_id div 2 (n_epochs=10): dups (0,1) are
    # epoch distance 0; dup (2,19) spans distance |1-9| = 8
    texts = {0: body, 1: body + " tail", 2: body + " other", 19: body + " other end"}
    rows_in = [(i, texts.get(i, filler[i % 16]), "s") for i in range(20)]
    docs = spark.createDataFrame(rows_in, ["doc_id", "text", "source"])
    prof = {r["epoch_distance"]: r for r in dd.dup_distance_profile(docs).collect()}
    assert 0 in prof and prof[0]["n_pairs"] >= 1
    assert sum(r["n_pairs"] for r in prof.values()) >= 2
    total = sum(r["n_pairs"] for r in prof.values())
    assert all(
        r["share_micro"] == r["n_pairs"] * 1_000_000 // total for r in prof.values()
    )


def test_rrf_hybrid_search_fusion(spark, sf_dir):
    """Consensus docs outrank single-list docs; absent ranks report 0."""
    from data_pipeline_example_spark import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = curation.rrf_hybrid_search(docs, emb).collect()
    assert len(rows) == 10
    assert all(r["rrf_micro"] > 0 for r in rows)
    # descending fusion score, doc_id tiebreak
    scores = [(-r["rrf_micro"], r["doc_id"]) for r in rows]
    assert scores == sorted(scores)
    for r in rows:
        expected = 0
        if r["rank_lex"] > 0:
            expected += 1000000 // (60 + r["rank_lex"])
        if r["rank_sem"] > 0:
            expected += 1000000 // (60 + r["rank_sem"])
        assert r["rrf_micro"] == expected
    # a doc present in BOTH lists at mid rank must beat a doc present
    # in one list at the same rank — fusion property
    both = [r for r in rows if r["rank_lex"] > 0 and r["rank_sem"] > 0]
    single = [r for r in rows if (r["rank_lex"] == 0) != (r["rank_sem"] == 0)]
    if both and single:
        assert max(r["rrf_micro"] for r in both) > min(
            r["rrf_micro"] for r in single
        )


def test_gate_agreement_kappa_closed_form(spark, sf_dir):
    """gate_agreement's contingency counts and kappa replayed in plain
    Python from the member gate operators over real testdata — the
    closed integer form must agree exactly, pair by pair, source by
    source; plus structural invariants (6 pairs per source, symmetric
    bounds, agree_milli consistency)."""
    from data_pipeline_example_spark.functions import text as TF
    from data_pipeline_example_spark.operators import text
    from data_pipeline_example_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = text.gate_agreement(docs).collect()
    sources = {r["source"] for r in out}
    assert all(
        sum(1 for r in out if r["source"] == s) == 6 for s in sources
    )

    # replicate the four verdicts per doc via the member operators
    g1 = {r["doc_id"]: r["passes"] for r in text.gopher_quality(docs).collect()}
    g2 = {r["doc_id"]: r["page_pass"] for r in text.c4_line_stats(docs).collect()}
    base = docs.select(
        "doc_id",
        F.coalesce(F.col("source"), F.lit("unknown")).alias("source"),
        (TF.quality_score(F.col("text")) >= 0.05).cast("int").alias("g3"),
        (F.coalesce(F.col("lang"), F.lit("")) == "en").cast("int").alias("g4"),
    ).collect()
    flags = {
        r["doc_id"]: (r["source"], g1[r["doc_id"]], g2[r["doc_id"]],
                      r["g3"], r["g4"])
        for r in base
    }
    names = text.GATE_AGREEMENT_GATES
    for r in out:
        ia, ib = names.index(r["gate_a"]) + 1, names.index(r["gate_b"]) + 1
        rows = [v for v in flags.values() if v[0] == r["source"]]
        n = len(rows)
        a = sum(v[ia] for v in rows)
        b = sum(v[ib] for v in rows)
        m = sum(v[ia] * v[ib] for v in rows)
        neither = n - a - b + m
        pe_num = a * b + (n - a) * (n - b)
        assert (r["n_docs"], r["n_both"], r["n_neither"]) == (n, m, neither)
        assert r["agree_milli"] == 1000 * (m + neither) // n
        if n * n == pe_num:
            assert r["kappa_milli"] is None
        else:
            num = 1000 * (n * (m + neither) - pe_num)
            den = n * n - pe_num
            want = int(num / den) if (num < 0) != (den < 0) else num // den
            # div truncates toward zero; python // floors — adjust
            q, rem = divmod(num, den)
            want = q if rem == 0 or (num >= 0) == (den >= 0) else q + 1
            assert r["kappa_milli"] == want, (r["gate_a"], r["gate_b"])
        assert -1000 <= (r["kappa_milli"] or 0) <= 1000
        assert 0 <= r["agree_milli"] <= 1000


def test_gate_agreement_planted_extremes(spark):
    """Hand-planted corpus where the english and heuristic gates are
    perfectly correlated (kappa 1000) and where two gates disagree on
    every document (kappa negative)."""
    from data_pipeline_example_spark.operators import text

    good = ("the quick brown fox jumps over the lazy dog and then "
            "rests with all of that effort behind it. " * 8)
    # 2 docs where english=1 & heuristic=1 and 2 docs where both are 0
    rows = [
        (1, good, "en", "s", len(good)),
        (2, good + " extra tokens to vary the text", "en", "s", 1),
        (3, "!!!", "de", "s", 3),
        (4, "???", "fr", "s", 3),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = {(r["gate_a"], r["gate_b"]): r
           for r in text.gate_agreement(docs).collect()}
    r = out[("heuristic", "english")]
    assert (r["n_both"], r["n_neither"]) == (2, 2)
    assert r["kappa_milli"] == 1000 and r["agree_milli"] == 1000


def test_unicode_hygiene_detects_planted_classes(spark):
    """Each hygiene class fires on a planted document and ONLY that
    class; tab/newline are structure, not contamination; counts are
    occurrences, docs are distinct documents."""
    from data_pipeline_example_spark.operators import text

    rows = [
        (1, "clean text with tabs\tand\nnewlines only", "en", "a", 1),
        (2, "mojibake here � and again ��", "en", "a", 1),
        (3, "binary\x01noise\x1f", "en", "a", 1),
        (4, "zero​width‍ and bom ﻿", "en", "b", 1),
        (5, "bidi ‮attack‬ and isolate ⁦x⁩", "en", "b", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = {r["source"]: r for r in text.unicode_hygiene(docs).collect()}
    a, b = out["a"], out["b"]
    assert (a["n_docs"], b["n_docs"]) == (3, 2)
    assert a["replacement_docs"] == 1 and a["replacement_chars"] == 3
    assert a["control_docs"] == 1 and a["control_chars"] == 2
    assert a["zero_width_docs"] == 0 and a["bidi_docs"] == 0
    assert b["zero_width_docs"] == 1 and b["zero_width_chars"] == 3
    assert b["bidi_docs"] == 1 and b["bidi_chars"] == 4
    assert a["replacement_docs_milli"] == 333  # 1 of 3 docs
    assert b["bidi_docs_milli"] == 500


def test_unicode_clean_strips_and_zeroes_the_census(spark):
    """unicode_clean is the hygiene census's transform companion: it
    strips format/control classes in place, drops FFFD lines, drops
    mostly-mojibake docs — and re-running the census on the cleaned
    output reads ZERO in every class (the r14 VERDICT item-2 contract)."""
    from data_pipeline_example_spark.operators import text

    rows = [
        (1, "clean text with tabs\tand\nnewlines only", "en", "a", 1),
        (2, "good line one\nmojibake � line\ngood line two", "en", "a", 1),
        (3, "binary\x01noise\x1f kept after stripping", "en", "a", 1),
        (4, "zero​width‍ and bom ﻿ removed in place", "en", "b", 1),
        (5, "bidi ‮attack‬ gone ⁦x⁩", "en", "b", 1),
        (6, "�\n�\n�\nonly one good line", "en", "b", 1),  # 3/4 mojibake → dropped
        (7, "��� all mojibake ���", "en", "b", 1),  # cleans to nothing → dropped
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = {r["doc_id"]: r for r in text.unicode_clean(docs).collect()}
    assert sorted(out) == [1, 2, 3, 4, 5]  # 6 over milli threshold, 7 empty
    assert out[1]["text_clean"] == "clean text with tabs\tand\nnewlines only"
    assert out[2]["text_clean"] == "good line one\ngood line two"
    assert out[2]["n_lines_dropped"] == 1
    assert out[3]["text_clean"] == "binarynoise kept after stripping"
    assert out[3]["n_chars_removed"] == 2
    assert out[4]["n_chars_removed"] == 3 and "​" not in out[4]["text_clean"]
    assert out[5]["n_chars_removed"] == 4

    cleaned = text.unicode_clean(docs).select(
        "doc_id",
        F.col("text_clean").alias("text"),
        F.lit("en").alias("lang"),
        F.lit("post").alias("source"),
        F.length("text_clean").alias("n_chars"),
    )
    census = text.unicode_hygiene(cleaned).collect()[0]
    for cls in ("replacement", "control", "zero_width", "bidi"):
        assert census[f"{cls}_docs"] == 0 and census[f"{cls}_chars"] == 0
