"""Property-based invariants (hypothesis) for the algebraically
checkable operators: randomized inputs, invariant assertions — the
layer between planted-example unit tests and the DuckDB oracle.

Example counts are deliberately small: every example runs Spark jobs,
so these buy breadth per example, not per thousand examples.
"""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_pipeline_example_spark.operators import asof, dedup, text, users

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(
    n_tokens=st.integers(min_value=0, max_value=200),
    chunk=st.integers(min_value=2, max_value=16),
)
def test_chunking_partitions_tokens_exactly(spark, n_tokens, chunk):
    """stride == chunk_size → chunks partition the token stream: sizes
    sum to n, every chunk full except possibly the last, count = ⌈n/c⌉."""
    words = " ".join(f"w{i}" for i in range(n_tokens))
    docs = spark.createDataFrame(
        [(0, "en", "s", words)], "doc_id long, lang string, source string, text string"
    )
    rows = sorted(
        text.chunk_documents(docs, chunk_size=chunk, stride=chunk).collect(),
        key=lambda r: r["chunk_id"],
    )
    if n_tokens == 0:
        assert rows == []
        return
    assert len(rows) == -(-n_tokens // chunk)
    assert sum(r["n_tokens"] for r in rows) == n_tokens
    assert all(r["n_tokens"] == chunk for r in rows[:-1])
    assert [r["chunk_id"] for r in rows] == list(range(len(rows)))


@settings(**_SETTINGS)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),              # user
            st.sampled_from(["purchase", "error"]),             # type
            st.integers(min_value=0, max_value=2000),           # offset s
        ),
        min_size=1,
        max_size=25,
    )
)
def test_range_join_equals_naive_band_join(spark, events):
    """The bucketized plan must equal the naive O(n²) definition."""
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, u, e, base + datetime.timedelta(seconds=s), 0.0)
        for i, (u, e, s) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    got = {
        (r["purchase_id"], r["user_id"]): r["n_nearby"]
        for r in asof.range_join_counts(df, band_s=300).collect()
    }
    purchases = [r for r in rows if r[2] == "purchase"]
    errors = [r for r in rows if r[2] == "error"]
    want = {
        (p[0], p[1]): sum(
            1
            for e in errors
            if e[1] == p[1] and abs((e[3] - p[3]).total_seconds()) <= 300
        )
        for p in purchases
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),
            st.sampled_from(["signup", "view", "click", "purchase"]),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_funnel_counts_never_increase(spark, events):
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, u, e, base + datetime.timedelta(minutes=m), 0.0)
        for i, (u, e, m) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    got = sorted(users.event_funnel(df).collect(), key=lambda r: r["stage_idx"])
    counts = [r["users"] for r in got]
    assert counts == sorted(counts, reverse=True)
    n_signup_users = len({u for u, e, _ in events if e == "signup"})
    assert counts[0] == n_signup_users


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=8
    ),
    eps_pct=st.integers(min_value=10, max_value=60),
)
def test_frequent_terms_equals_exact_answer(spark, texts, eps_pct):
    """Sketch-then-verify must equal the plain exact heavy-hitter query
    on any corpus and threshold."""
    import math
    import re

    eps = eps_pct / 100.0
    docs = spark.createDataFrame(
        [(i, "en", "s", t) for i, t in enumerate(texts)],
        "doc_id long, lang string, source string, text string",
    )
    got = {
        (r["term"], r["n_occurrences"])
        for r in text.frequent_terms(docs, eps=eps).collect()
    }
    toks = [t for s in texts for t in re.findall(r"[a-z0-9]+", s.lower())]
    n = len(toks)
    want = set()
    if n:
        thr = math.ceil(eps * n)
        from collections import Counter

        want = {(t, c) for t, c in Counter(toks).items() if c >= thr}
    assert got == want


@settings(**_SETTINGS)
@given(
    word_counts=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=60),
    n_buckets=st.integers(min_value=1, max_value=9),
)
def test_length_buckets_cuts_equals_ntile(spark, word_counts, n_buckets):
    """The cuts assignment is bit-identical to the ntile window form
    (the registered oracle's shape) for ANY corpus shape — heavy ties,
    empty docs, N above/below/equal to n_buckets all emerge from the
    random word-count lists."""
    import cuts_reference as ref

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(c))) for i, c in enumerate(word_counts)],
        ["doc_id", "text"],
    )
    cuts = ref.sorted_rows(text.length_buckets(docs, n_buckets))
    assert cuts == ref.sorted_rows(ref.length_buckets(docs, n_buckets))


@settings(**_SETTINGS)
@given(
    weights=st.lists(st.integers(min_value=1, max_value=10_000), min_size=3, max_size=24),
    k=st.integers(min_value=1, max_value=6),
)
def test_priority_sample_nesting(spark, weights, k):
    """A-ES samples nest: the top-k keyed rows are a prefix of the
    top-(k+m) keyed rows — the property that makes one keyed pass serve
    every budget (compute keys once, cut anywhere)."""
    from data_pipeline_example_spark.operators.sampling import priority_sample

    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "doc_id long, n_chars long"
    )
    small = [r["doc_id"] for r in priority_sample(docs, k=k).collect()]
    big = [r["doc_id"] for r in priority_sample(docs, k=k + 3).collect()]
    assert big[: len(small)] == small


@settings(**_SETTINGS)
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_pq_codes_identical_vectors_share_codes(spark, seed):
    """Exact-duplicate vectors always land on identical PQ codes
    (quantization is a pure function of the vector given the codebook)."""
    import hashlib

    from data_pipeline_example_spark.operators.similarity import pq_codes

    def vec(i: int) -> list[float]:
        return [
            (int(hashlib.md5(f"{seed}:{i}:{d}".encode()).hexdigest()[:4], 16) % 997)
            / 997.0
            - 0.5
            for d in range(64)
        ]

    base = [(i, vec(i)) for i in range(20)]
    dups = [(100 + i, v) for i, v in base[16:20]]  # non-centroid duplicates
    df = spark.createDataFrame(base + dups, "vec_id long, embedding array<double>")
    rows = {r["vec_id"]: (r["code_0"], r["code_1"], r["code_2"], r["code_3"])
            for r in pq_codes(df).collect()}
    for i, _ in base[16:20]:
        assert rows[i] == rows[100 + i]


@settings(**_SETTINGS)
@given(
    data=st.lists(
        st.lists(
            st.sampled_from(
                [
                    "shared boilerplate line with enough words here",
                    "another repeated navigation line of many words",
                    "unique",
                    "",
                ]
            ),
            min_size=1,
            max_size=5,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_line_dedup_invariants(spark, data):
    """line_dedup: every doc survives; n_lines = n_kept + n_dropped;
    each dedupable line's FIRST (doc_id, pos) occurrence is kept; the
    cleaned text is a subsequence of the original lines in order."""
    rows = [(i, "\n".join(lines)) for i, lines in enumerate(data)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.line_dedup(docs).collect()}
    assert set(out) == {i for i, _ in rows}
    seen: set[str] = set()
    for i, lines in enumerate(data):
        r = out[i]
        assert r["n_lines"] == len(lines)
        assert r["n_lines"] == r["n_kept"] + r["n_dropped"]
        kept = r["text_clean"].split("\n") if r["text_clean"] != "" else []
        # cleaned text is an in-order subsequence of the original lines
        it = iter(lines)
        assert all(any(orig == k for orig in it) for k in kept)
        # replay the dedup decision per line (docs iterate in doc_id
        # order, positions in order — matching the operator's keep rule)
        expect_kept = []
        for line in lines:
            words = len(line.split()) if line.strip() else 0
            if words >= 4:
                key = " ".join(line.strip().lower().split())
                if key in seen:
                    continue
                seen.add(key)
            expect_kept.append(line)
        # n_kept==0 gives text_clean "" which also encodes one empty
        # line's worth of nothing — compare as lists
        assert kept == [l for l in expect_kept] or (
            kept == [] and expect_kept == [""]
        ) or (kept == [""] and expect_kept == [""])
        assert r["n_kept"] == len(expect_kept)


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(
            alphabet="ab .\n",
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=5,
    )
)
def test_quality_funnel_counting_identities(spark, texts):
    """quality_funnel: for every rule, n_sole_fail ≤ n_fail ≤ n_docs;
    the funnel is monotone non-increasing; and the last stage's
    survivors equal the docs passing ALL rules."""
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = sorted(text.quality_funnel(docs).collect(), key=lambda r: r["stage"])
    n = len(texts)
    surv = [r["n_survive"] for r in rows]
    for r in rows:
        assert 0 <= r["n_sole_fail"] <= r["n_fail"] <= n
    assert surv == sorted(surv, reverse=True)
    # docs failing zero rules == final survivors
    gq = text.gopher_quality(docs).collect()
    c4 = {r["doc_id"]: r["page_pass"] for r in text.c4_line_stats(docs).collect()}
    all_pass = sum(
        1 for r in gq if r["passes"] == 1 and c4[r["doc_id"]] == 1
    )
    assert surv[-1] == all_pass


@settings(**_SETTINGS)
@given(
    n_docs=st.integers(min_value=1, max_value=12),
    vocab_size=st.integers(min_value=1, max_value=5),
)
def test_oov_rate_bounds_and_totals(spark, n_docs, vocab_size):
    """oov_rate: 0 ≤ n_oov ≤ n_tokens; a corpus with ≤ vocab_size
    distinct terms has zero OOV everywhere."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j % vocab_size}" for j in range(i + 1))) for i in range(n_docs)],
        "doc_id long, text string",
    )
    out = text.oov_rate(docs, vocab_size=vocab_size).collect()
    assert len(out) == n_docs
    for r in out:
        assert 0 <= r["n_oov"] <= r["n_tokens"]
        assert r["n_oov"] == 0  # whole vocabulary fits


def _py_winnow(toks: list[str], k: int, w: int) -> set:
    import hashlib

    H = [
        int(hashlib.md5(" ".join(toks[i:i + k]).encode()).hexdigest()[:12], 16)
        for i in range(len(toks) - k + 1)
    ]
    out = set()
    n = len(H)
    for j in range(max(n - w + 1, 1) if n else 0):
        sl = H[j:j + w]
        m = min(sl)
        p = max(i for i, v in enumerate(sl) if v == m) + j
        out.add((p + 1, m))
    return out


@settings(**_SETTINGS)
@given(
    data=st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=30),
        min_size=1,
        max_size=4,
    )
)
def test_winnowing_matches_python_reference(spark, data):
    """Spark winnowing selection == the literal MOSS reference on random
    low-alphabet corpora (ties everywhere by construction)."""
    k, w = 2, 3
    docs = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(data)],
        "doc_id long, text string",
    )
    got = {}
    for r in text.winnowing_fingerprints(docs, k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for i, toks in enumerate(data):
        assert got.get(i, set()) == _py_winnow(toks, k, w), (i, toks)


def _py_substring_dedup(corpus: list[list[str]], k: int):
    seen = {}
    marked = {}
    for d, toks in enumerate(corpus):
        for p in range(len(toks) - k + 1):
            g = tuple(toks[p:p + k])
            if g in seen:
                marked.setdefault(d, []).append(p)
            else:
                seen[g] = (d, p)
    out = []
    for d, toks in enumerate(corpus):
        drop = set()
        for s in marked.get(d, []):
            drop.update(range(s, s + k))
        kept = [t for i, t in enumerate(toks) if i not in drop]
        out.append((len(toks), len(toks) - len(kept), " ".join(kept)))
    return out


@settings(**_SETTINGS)
@given(
    data=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=20),
        min_size=1,
        max_size=4,
    )
)
def test_substring_dedup_matches_python_reference(spark, data):
    """Spark ExactSubstr == a literal first-occurrence reference on
    random 3-symbol corpora (heavy cross-doc and within-doc repeats)."""
    k = 3
    docs = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(data)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_dropped"], r["text_clean"])
        for r in text.substring_dedup(docs, k=k).collect()
    }
    want = _py_substring_dedup(data, k)
    for i in range(len(data)):
        assert got[i] == want[i], (i, data[i])


@settings(**_SETTINGS)
@given(
    data=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", None]),          # group (incl. NULL)
            st.integers(min_value=0, max_value=9),        # value (heavy ties)
        ),
        min_size=0,
        max_size=60,
    ),
    descending=st.booleans(),
)
@example(data=[], descending=False)
@example(data=[(None, 3), (None, 3), (None, 1)], descending=True)
def test_value_cuts_matches_bruteforce(spark, data, descending):
    """value_cuts' distributed per-value prefix stats equal the literal
    Python brute force on random grouped data with ties and NULL
    groups (an all-NULL-group input and an empty one included), both
    sort directions, counts AND weighted mass, and each group's
    ``n_rows`` / ``weight_sum`` columns."""
    from data_pipeline_example_spark.functions.cuts import value_cuts

    rows = [(i, g, v) for i, (g, v) in enumerate(data)]
    df = spark.createDataFrame(rows, "row_id long, grp string, val long")
    cuts = value_cuts(
        df, "val", group_cols=("grp",), weight_col="val", descending=descending
    )
    got = {
        (r["grp"], r["val"]): (
            r["cnt"], r["cum_before"], r["mass_before"], r["n_rows"], r["weight_sum"]
        )
        for r in cuts.collect()
    }
    # brute force
    want = {}
    groups = {}
    for _, g, v in rows:
        groups.setdefault(g, []).append(v)
    for g, vals in groups.items():
        for v in set(vals):
            before = [
                x for x in vals if (x > v if descending else x < v)
            ]
            want[(g, v)] = (
                vals.count(v),
                len(before),
                sum(before),
                len(vals),
                sum(vals),
            )
    assert got == want


@settings(**_SETTINGS)
@given(
    n_rows=st.integers(min_value=1, max_value=40),
    tiles=st.integers(min_value=1, max_value=12),
)
def test_ntile_expr_matches_python_ntile(spark, n_rows, tiles):
    """``ntile_expr`` over a Column row count equals SQL NTILE's rule —
    the first ``n mod tiles`` buckets get one extra row — for every
    rank, n_rows below, at and above tiles included."""
    from pyspark.sql import functions as F

    from data_pipeline_example_spark.functions.cuts import ntile_expr

    q, r = divmod(n_rows, tiles)
    sizes = [q + 1] * r + [q] * (tiles - r)
    want = [b + 1 for b, size in enumerate(sizes) for _ in range(size)]
    df = spark.range(1, n_rows + 1).select(
        F.col("id").alias("rank"), F.lit(n_rows).cast("long").alias("n_rows")
    )
    got = df.select(ntile_expr(F.col("rank"), F.col("n_rows"), tiles).alias("t"))
    assert [row["t"] for row in got.orderBy("rank").collect()] == want
@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_star_contraction_cc_equals_min_label_on_random_graphs(spark, edges):
    """dedup_clusters (min-label propagation, the engine's one CC)
    computes the min-reachable-id labeling on arbitrary random graphs,
    including self-loops, parallel edges, and both edge orientations —
    equal to a brute-force union-find ground truth."""
    from data_pipeline_example_spark.operators import dedup as dd

    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    label_prop = {
        (r["doc_id"], r["cluster_id"])
        for r in dd.dedup_clusters(pairs, max_iter=80).collect()
    }
    # brute-force union-find over the same semantics: nodes = endpoints
    # of at least one pair (self-loops included, per dedup_clusters)
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for v in (a, b):
            parent.setdefault(v, v)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(v, find(v)) for v in parent}
    assert label_prop == want


@settings(**_SETTINGS)
@given(
    sources=st.lists(
        st.from_regex(r"(www\.)*[a-zA-Z][a-zA-Z0-9.\-]{0,10}", fullmatch=True),
        min_size=1,
        max_size=6,
    ),
    base_id=st.integers(min_value=0, max_value=997),
)
def test_url_canonicalization_idempotent_and_clean(spark, sources, base_id):
    """canonical(canonical(u)) == canonical(u) over the synthesis space
    including misconfigured multi-www hosts (the (www\\.)+ group strips
    them in one pass), plus structural postconditions: no scheme, no
    leading www., no fragment/query, no trailing slash, lowercase
    host."""
    from data_pipeline_example_spark.operators import urls

    docs = spark.createDataFrame(
        [(base_id + i, s) for i, s in enumerate(sources)],
        ["doc_id", "source"],
    )
    u = urls.synthetic_url(F.col("doc_id"), F.col("source"))
    out = docs.select(
        u.alias("url"),
        urls.canonical_url(u).alias("c1"),
        urls.canonical_url(urls.canonical_url(u)).alias("c2"),
    ).collect()
    for r in out:
        assert r["c1"] == r["c2"], (r["url"], r["c1"], r["c2"])
        host = r["c1"].split("/", 1)[0]
        assert host == host.lower()
        assert not r["c1"].startswith(("http://", "https://", "www."))
        assert "#" not in r["c1"] and "?" not in r["c1"]
        assert not r["c1"].endswith("/")


@settings(**_SETTINGS)
@given(
    user_ids=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=40),
    dup_factor=st.integers(min_value=2, max_value=4),
)
def test_hll_is_duplicate_insensitive(spark, user_ids, dup_factor):
    """The defining sketch property: registers are max-merged, so
    replicating every event dup_factor times (or unioning the input
    with itself) changes NOTHING in the output."""
    def frame(ids):
        rows = [(i, "2024-01-01 00:00:00", u, "t%d" % (u % 2), 1.0, None)
                for i, u in enumerate(ids)]
        return spark.createDataFrame(
            rows,
            "event_id int, ts string, user_id int, event_type string, value double, props string",
        ).withColumn("ts", F.to_timestamp("ts"))

    base = [tuple(r) for r in users.user_cardinality_hll(frame(user_ids)).collect()]
    dup = [tuple(r) for r in users.user_cardinality_hll(
        frame(user_ids * dup_factor)).collect()]
    assert base == dup


@settings(**_SETTINGS)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),    # user
            st.integers(min_value=0, max_value=86000),  # second offset
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=2,
        max_size=60,
    )
)
def test_markov_mass_conservation(spark, events):
    """Transition counts total exactly n_events − n_active_users (each
    user's first event has no predecessor), and each row of the matrix
    floor-sums to ≤ 1000 milli with deficit < |next states in row|."""
    rows = [
        (i, f"2024-01-01 00:00:00", u, t, 1.0, None)
        for i, (u, s, t) in enumerate(events)
    ]
    # distinct ts per row via the second offset to exercise ordering
    df = spark.createDataFrame(
        rows,
        "event_id int, ts string, user_id int, event_type string, value double, props string",
    ).withColumn(
        "ts",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
            secs=F.col("event_id") % 7
        ),
    )
    out = users.event_markov_transitions(df).collect()
    n_users = len({u for u, _, _ in events})
    assert sum(r["n_transitions"] for r in out) == len(events) - n_users
    by_prev: dict = {}
    for r in out:
        by_prev.setdefault(r["prev_event"], []).append(r)
    for prev, rs in by_prev.items():
        milli = sum(r["prob_milli"] for r in rs)
        assert milli <= 1000
        assert milli > 1000 - len(rs)  # floor rounding loses < 1 per row


@settings(**_SETTINGS)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=9), min_size=1, max_size=4),
)
def test_quantile_normalize_keeps_top_half_per_source(spark, sizes):
    """Per source of n docs, keep = rank_milli >= 500 admits exactly
    n − ceil((n−1)/2 + ...) docs — mechanically: the count of rn with
    ((rn−1)*1000) div (n−1) >= 500; single-doc sources always keep."""
    rows = []
    did = 0
    for s_idx, n in enumerate(sizes):
        for j in range(n):
            rows.append((did, "the of to " * (j + 1), "en", f"s{s_idx}", 1))
            did += 1
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = text.quality_quantile_normalize(docs).collect()
    kept = {}
    for r in out:
        kept[r["source"]] = kept.get(r["source"], 0) + r["keep"]
    for s_idx, n in enumerate(sizes):
        if n == 1:
            expect = 1
        else:
            expect = sum(
                1 for rn in range(1, n + 1) if ((rn - 1) * 1000) // (n - 1) >= 500
            )
        assert kept[f"s{s_idx}"] == expect


@settings(**_SETTINGS)
@given(
    words=st.lists(
        st.sampled_from(["data", "query", "scan", "value", "table", "big",
                         "row", "merge", "the", "batch"]),
        min_size=0,
        max_size=40,
    )
)
def test_cdc_chunks_partition_token_stream(spark, words):
    """CDC chunking partitions the token stream exactly: chunk sizes
    sum to the token count, chunk indexes are dense from 0, and every
    non-final chunk ends at a boundary token (by construction each
    chunk has exactly one boundary token unless it is the unterminated
    tail)."""
    docs = spark.createDataFrame(
        [(1, " ".join(words), "en", "s", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = sorted(
        text.cdc_chunks(docs).collect(), key=lambda r: r["chunk_idx"]
    )
    assert sum(r["n_tokens"] for r in out) == len(words)
    assert [r["chunk_idx"] for r in out] == list(range(len(out)))
    # replay the boundary rule in Python: chunk count is
    # (#boundary tokens) + (1 if a tail remains else 0)
    import hashlib

    bounds = sum(
        1 for w in words
        if int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % 8 == 0
    )
    tail = (
        1
        if words
        and int(hashlib.md5(words[-1].encode()).hexdigest()[:8], 16) % 8 != 0
        else 0
    )
    assert len(out) == bounds + tail


@settings(**_SETTINGS)
@given(
    n_vecs=st.integers(min_value=1, max_value=12),
    k=st.integers(min_value=1, max_value=6),
)
def test_coreset_selection_is_distinct_prefix_stable(spark, n_vecs, k):
    """k-center picks are distinct, start at the lowest vec_id, and are
    PREFIX-STABLE: the first min(k, j) picks of a k-selection equal the
    j-selection (greedy selections nest)."""
    from data_pipeline_example_spark.operators import similarity as sim

    vecs = [
        (i, [float((i * 7 + d * 3) % 11) for d in range(4)], 0)
        for i in range(n_vecs)
    ]
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label long"
    )
    full = [r["vec_id"] for r in sim.coreset_selection(emb, k=k).collect()]
    assert full[0] == 0
    assert len(set(full)) == len(full)  # never re-picks (dist-0 stop)
    assert len(full) <= min(k, n_vecs)
    j = max(1, k // 2)
    part = [r["vec_id"] for r in sim.coreset_selection(emb, k=j).collect()]
    assert full[: len(part)] == part


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_characters="\x00"
            ),
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    ),
)
def test_gate_agreement_invariants_on_arbitrary_text(spark, texts):
    """For ANY corpus (unicode noise, empties, one doc): 6 pair rows
    per source, contingency counts bounded by n_docs, agree_milli
    consistent with its counts, kappa in [-1000, 1000] or NULL."""
    docs = spark.createDataFrame(
        [(i, t, "en" if i % 2 else "de", "s", len(t))
         for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    rows = text.gate_agreement(docs).collect()
    assert len(rows) == 6  # one source group, 6 gate pairs
    for r in rows:
        assert r["n_docs"] == len(texts)
        assert 0 <= r["n_both"] and 0 <= r["n_neither"]
        assert r["n_both"] + r["n_neither"] <= r["n_docs"]
        assert r["agree_milli"] == 1000 * (r["n_both"] + r["n_neither"]) // r["n_docs"]
        if r["kappa_milli"] is not None:
            assert -1000 <= r["kappa_milli"] <= 1000


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    ),
)
def test_unicode_hygiene_invariants_on_arbitrary_text(spark, texts):
    """Counts are consistent for ANY unicode input: affected docs ≤
    n_docs, occurrences ≥ affected docs, milli rate exact."""
    docs = spark.createDataFrame(
        [(i, t, "en", f"s{i % 2}", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    rows = text.unicode_hygiene(docs).collect()
    assert sum(r["n_docs"] for r in rows) == len(texts)
    for r in rows:
        for cls in ("replacement", "control", "zero_width", "bidi"):
            assert 0 <= r[f"{cls}_docs"] <= r["n_docs"]
            assert r[f"{cls}_chars"] >= r[f"{cls}_docs"]
            assert (
                r[f"{cls}_docs_milli"]
                == 1000 * r[f"{cls}_docs"] // r["n_docs"]
            )


def _band_frame(spark, rows):
    """(id, ks) frame: ks holds one key per band."""
    return spark.createDataFrame(rows, "id long, ks array<string>")


def _collide(ka, kb):
    return any(x == y for x, y in zip(ka, kb))


@st.composite
def _band_rows(draw):
    """(bands, key lists): 1–4 bands over a 2- or 3-symbol alphabet."""
    n = draw(st.integers(min_value=1, max_value=4))
    symbols = draw(st.sampled_from(["ab", "abc"]))
    key = st.lists(st.sampled_from(symbols), min_size=n, max_size=n)
    return n, draw(st.lists(key, max_size=9))


@settings(**_SETTINGS)
@given(data=_band_rows(), right=st.lists(st.integers(0, 5), max_size=9))
def test_band_join_pairs_equal_any_band_collision(spark, data, right):
    """``band_join`` emits each pair that shares a key in at least one
    band exactly once, in both forms: self (``a.id < b.id``) and
    one-sided (new ⋈ old, no ordering, ids overlapping across sides). A
    2–3-symbol alphabet makes multi-band collisions the common case.
    Both forms run in one job over frames built once."""
    n, keys = data
    lrows = list(enumerate(keys))
    # right side: left key lists reversed, so the sides share keys
    rrows = [(i, keys[j % len(keys)][::-1]) for i, j in enumerate(right) if keys]
    left = _band_frame(spark, lrows)
    bands = [F.element_at("ks", i + 1) for i in range(n)]

    def pairs(joined, form):
        return joined.select(
            F.lit(form).alias("form"),
            F.col("a.id").alias("x"),
            F.col("b.id").alias("y"),
        )

    self_join = dedup.band_join(left, left, bands)
    got = (
        pairs(self_join.filter(F.col("a.id") < F.col("b.id")), "self")
        .unionByName(
            pairs(dedup.band_join(left, _band_frame(spark, rrows), bands), "one")
        )
        .collect()
    )
    for form, other in (("self", lrows), ("one", rrows)):
        found = [(r["x"], r["y"]) for r in got if r["form"] == form]
        want = {
            (a, b)
            for a, ka in lrows
            for b, kb in other
            if (form == "one" or a < b) and _collide(ka, kb)
        }
        assert len(found) == len(set(found)), form
        assert set(found) == want, form


@settings(**_SETTINGS)
@given(
    key_sets=st.lists(
        st.sets(st.sampled_from("abcd"), max_size=4), min_size=0, max_size=9
    )
)
def test_shared_key_pairs_equal_python_shared_counts(spark, key_sets):
    """``shared_key_pairs`` over (doc_id, key) rows = the per-pair count
    of shared keys, for every doc pair (a < b) sharing at least one."""
    rows = [(i, k) for i, ks in enumerate(key_sets) for k in sorted(ks)]
    df = spark.createDataFrame(rows, "doc_id long, key string")
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in dedup.shared_key_pairs(df, "key").collect()
    }
    want = {
        (a, b): len(ka & kb)
        for a, ka in enumerate(key_sets)
        for b, kb in enumerate(key_sets)
        if a < b and ka & kb
    }
    assert got == want
