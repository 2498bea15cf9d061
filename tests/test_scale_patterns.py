"""Scale-pattern tests: event replay harness, salted aggregation,
bucketed co-located joins — the 100 TB techniques README promises,
asserted on real plans/results at test size."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from data_pipeline_example_spark import sinks
from data_pipeline_example_spark.functions.skew import salted_agg
from data_pipeline_example_spark.sources import load_table
from data_pipeline_example_spark.streaming import replay


def test_to_events_injects_event_time_and_skips_empty(spark):
    df = spark.createDataFrame(
        [
            ("A", "2024-01-01T10:00:00", "3"),
            ("B", None, "1"),          # no timestamp → injected
            (" ", None, ""),            # whitespace-only → skipped (S7 strip)
            (None, None, None),         # all null → skipped
        ],
        ["product", "order_time", "quantity"],
    )
    out = replay.to_events(df, injection_time="2099-01-01T00:00:00").collect()
    by_product = {r["product"]: r for r in out}
    assert by_product["A"]["event_time"] == "2024-01-01T10:00:00"
    assert by_product["B"]["event_time"] == "2099-01-01T00:00:00"
    assert len(out) == 2  # empty rows gone


def test_write_event_batches_replay_order(spark, tmp_path):
    tx = spark.createDataFrame(
        [(i, f"2024-01-01T{10 + i}:00:00") for i in range(6)],
        ["order_id", "order_time"],
    )
    replay.write_event_batches(
        replay.to_events(tx), str(tmp_path / "ev"), num_batches=3, order_col="order_time"
    )
    import glob

    batch_dirs = sorted(glob.glob(str(tmp_path / "ev" / "batch=*")))
    assert len(batch_dirs) == 3
    first = spark.read.json(batch_dirs[0]).collect()
    assert {r["order_id"] for r in first} == {"0", "1"}


def test_salted_agg_matches_direct(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    direct = {
        r["event_type"]: (round(r["s"], 2), r["c"])
        for r in ev.groupBy("event_type")
        .agg(F.sum("value").alias("s"), F.count("value").alias("c"))
        .collect()
    }
    salted = {
        r["event_type"]: (round(r["sum_value"], 2), r["count_value"])
        for r in salted_agg(ev, ["event_type"], {"value": "sum"}, salt_buckets=8)
        .join(
            salted_agg(ev, ["event_type"], {"value": "count"}, salt_buckets=8),
            "event_type",
        )
        .collect()
    }
    assert salted == direct


def test_salted_agg_rejects_non_algebraic(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError):
        salted_agg(ev, ["event_type"], {"value": "avg"})


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    sinks.write_bucketed_table(orders, "b_orders", 4, ["o_orderkey"], ["o_orderkey"])
    sinks.write_bucketed_table(lineitem, "b_lineitem", 4, ["l_orderkey"], ["l_orderkey"])
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        jvm = spark._jvm
        plan = jvm.PythonSQLUtils.explainString(joined._jdf.queryExecution(), "simple")
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    from data_pipeline_example_spark.conform import BATCH_SPEC  # noqa: F401 (shape doc)
    from data_pipeline_example_spark.operators import retail
    from data_pipeline_example_spark.plans.queries import _events_retail

    daily = retail.daily_revenue(_events_retail(spark, sf_dir))
    out = str(tmp_path / "daily")
    sinks.write_partitioned_parquet(daily, out)

    one_day = spark.read.parquet(out).filter(
        F.col("order_date") == daily.select(F.min("order_date")).first()[0]
    )
    jvm = spark._jvm
    plan = jvm.PythonSQLUtils.explainString(one_day._jdf.queryExecution(), "formatted")
    # the date predicate must land on the partition column, not a data filter
    assert "PartitionFilters" in plan
    part_section = plan.split("PartitionFilters", 1)[1][:200]
    assert "order_date" in part_section
    assert one_day.count() > 0


def test_datagen_replay_streaming_full_loop(spark, tmp_path):
    """The reference's complete dataflow, end-to-end and hermetic:
    generator → producer replay → streaming job → windowed parquet →
    serving payload."""
    from data_pipeline_example_spark import datagen, serving
    from data_pipeline_example_spark.streaming import job

    tx = datagen.synthetic_transactions(spark, days=1, tx_per_day=30)
    # give rows intra-day event times so windows are meaningful
    tx = tx.withColumn(
        "order_time",
        F.concat(F.col("order_date"), F.lit("T10:"), F.lpad(F.pmod(F.xxhash64("order_id"), 50) + 10, 2, "0"), F.lit(":00")),
    )
    ev_dir = str(tmp_path / "events")
    replay.write_event_batches(replay.to_events(tx), ev_dir, num_batches=2, order_col="order_time")

    raw = job.read_stream(spark, "json", path=ev_dir + "/batch=*")
    agg = job.build_aggregations(job.transform_orders(raw))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = job.write_stream(agg, out, ckpt, available_now=True)
    q.awaitTermination(120)

    windowed = spark.read.parquet(out)
    # watermark finalization emits only closed windows; events span ~50
    # minutes so at least the earliest windows closed
    assert windowed.count() > 0
    payload = serving.stream_payload(windowed)
    assert payload["status"] == "ok"
    assert payload["summary"]["unique_products"] >= 1


def test_ann_index_partition_pruning_and_equivalence(spark, sf_dir, tmp_path):
    """write_ann_index → ivfpq_knn_index_batch with one query: the
    probed read carries the centroid_id filter as a PARTITION filter
    (only n_probe directories scanned), and the served top-k is
    bit-identical to the direct ivfpq_knn over the same corpus."""
    from data_pipeline_example_spark.operators.similarity import (
        ivfpq_knn,
        ivfpq_knn_index_batch,
        write_ann_index,
    )
    from data_pipeline_example_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann")
    write_ann_index(emb, path)

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    served = (
        ivfpq_knn_index_batch(spark, path, [(0, qv)])
        .orderBy("rank")
        .select("vec_id", "approx_sim", "cos_sim")
    )

    jvm = spark._jvm
    plan = jvm.PythonSQLUtils.explainString(served._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan
    part_section = plan.split("PartitionFilters", 1)[1][:200]
    assert "centroid_id" in part_section

    direct = [tuple(r) for r in ivfpq_knn(emb, query_id=0).collect()]
    got = [tuple(r) for r in served.collect()]
    assert got == direct


def test_customer_ranking_cuts_match_window_and_plan(spark, sf_dir):
    """The de-windowed customer ranking ops (cuts) must be
    bit-identical to their unpartitioned-window forms — which are the
    SQL-oracle forms — including heavy spend ties across tile
    boundaries, and their plans must contain NO global ordered exchange
    (rangepartitioning) and NO single-partition window exchange."""
    import cuts_reference as ref

    from data_pipeline_example_spark.operators import tpch
    from data_pipeline_example_spark.sources import load_table

    # synthetic tie-heavy orders: 23 customers over 3 distinct spends →
    # ties straddle every quartile boundary
    synth = spark.createDataFrame(
        [(100 + i, i, float(100 + (i % 3) * 50)) for i in range(23)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    real = load_table(spark, sf_dir, "orders")
    for orders in (synth, real):
        for fn in (tpch.customer_spend_distribution, tpch.customer_value_tiles):
            cut = fn(orders)
            win = getattr(ref, fn.__name__)(orders)
            assert ref.sorted_rows(cut) == ref.sorted_rows(win), fn.__name__
            plan = cut._jdf.queryExecution().executedPlan().toString().lower()
            # the all-rows-to-one-task shape the rewrite removes: an
            # unpartitioned Window compiles to Exchange SinglePartition
            assert "singlepartition" not in plan, fn.__name__
    # spend_distribution's plan must also carry no global ordered
    # exchange at all (its top-n is a TakeOrdered); value_tiles keeps
    # one rangepartitioning from the final orderBy over the ≤tiles-row
    # AGGREGATE — constant-size at any corpus scale
    plan = (
        tpch.customer_spend_distribution(real)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .lower()
    )
    assert "rangepartitioning" not in plan


def test_value_cuts_fires_no_driver_collect_and_equal(spark):
    """The shared cuts helper collects nothing to the driver, even when
    the value domain is near-unique (the 2-dp money case): constructing
    a global and a grouped + weighted + descending cuts operator fires
    no ``collect`` job, and the global one stays bit-identical to its
    window form."""
    import cuts_reference as ref

    from data_pipeline_example_spark.operators import text as tx
    from data_pipeline_example_spark.operators import tpch

    # near-unique value domain: 5000 orders, ~5000 distinct 2-dp spends
    orders = spark.range(5000).select(
        F.col("id").alias("o_orderkey"),
        F.col("id").alias("o_custkey"),
        F.round(F.col("id") * 1.37 + 0.01, 2).alias("o_totalprice"),
    )
    out, calls = ref.construct_with_job_calls(
        spark, lambda: tpch.customer_spend_distribution(orders, n=5000)
    )
    assert "collect" not in calls, calls
    want = ref.customer_spend_distribution(orders, n=5000)
    assert ref.sorted_rows(out) == ref.sorted_rows(want)

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.array_repeat(F.lit("w"), (F.col("id") % 97 + 1).cast("int"))).alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("s"), (F.col("id") % 5).cast("string")).alias("source"),
        F.lit(1).alias("n_chars"),
    )
    _, calls = ref.construct_with_job_calls(
        spark, lambda: tx.token_budget_caps(docs, budget=100)
    )
    assert "collect" not in calls, calls


def test_value_cuts_totals_are_columns(spark):
    """Each group's row count rides every cuts row as ``n_rows`` (no
    driver totals), and an empty input yields an empty frame — also
    through a grouped aggregate over it."""
    from data_pipeline_example_spark.functions import cuts as C

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("g"), (F.col("id") % 131).alias("v")
    )
    cuts = C.value_cuts(df, "v", group_cols=["g"])
    got = {(r["g"], r["n_rows"]) for r in cuts.select("g", "n_rows").collect()}
    want = {(r["g"], r["count"]) for r in df.groupBy("g").count().collect()}
    assert got == want
    assert sum(n for _, n in got) == 1000

    empty = C.value_cuts(df.limit(0), "v")
    assert empty.count() == 0
    assert empty.groupBy("n_rows").agg(C.percentile_disc(0.5, "v")).count() == 0


def test_ivfpq_index_batch_rejects_truncated_codebook(spark, sf_dir, tmp_path):
    """Serving with ks (or n_centroids) larger than the rows the index
    writer stored must fail loudly — a silently truncated PQ codebook
    diverges approx_sim from the ivfpq_knn twin."""
    import pytest

    from data_pipeline_example_spark.operators import similarity
    from data_pipeline_example_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann_trunc")
    similarity.write_ann_index(emb, path, n_centroids=8, m=4, ks=8)
    q = [r["embedding"] for r in emb.limit(1).collect()]
    with pytest.raises(ValueError, match="stores 8 centroid rows"):
        similarity.ivfpq_knn_index_batch(
            spark, path, [(0, q[0])], n_centroids=8, ks=16
        )


def test_materialize_seam_switches_to_reliable_checkpoint(spark, tmp_path):
    """The one checkpoint seam (functions.materialize): default is a
    localCheckpoint; setting a checkpoint dir (the production opt-in)
    switches every call site to replicated DataFrame.checkpoint(). The r7
    verdict's gap: the eager-construction contract told 100 TB users
    to 'swap in a reliable checkpoint dir' with no code seam to do it."""
    from data_pipeline_example_spark.functions.materialize import materialize

    df = spark.range(100)
    sc = spark.sparkContext

    # default, no checkpoint dir → local
    dbg = materialize(df).rdd.toDebugString().decode()
    assert "LocalCheckpoint" in dbg and "ReliableCheckpoint" not in dbg

    old_dir = sc.getCheckpointDir()
    sc.setCheckpointDir(str(tmp_path / "reliable_ckpt"))
    try:
        # dir set → reliable
        dbg = materialize(df).rdd.toDebugString().decode()
        assert "ReliableCheckpoint" in dbg
        # a cuts-backed operator run under reliable mode stays correct
        from data_pipeline_example_spark.functions import cuts as C

        src = spark.range(500).select((F.col("id") % 37).alias("v"))
        cuts = C.value_cuts(src, "v")
        joined = C.join_cuts(src, cuts, "v")
        assert joined.count() == 500
        assert [r["n_rows"] for r in cuts.select("n_rows").distinct().collect()] == [500]
    finally:
        if old_dir:
            sc.setCheckpointDir(old_dir)
        else:
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.apply(None)
            )


def test_disk_materialized_text_ops_leave_no_cached_frame(spark):
    """substring_dedup and gopher_repetition cut lineage on corpus-sized
    frames through materialize_disk; a local DISK_ONLY checkpoint leaves
    nothing registered in the session's CacheManager, where a persist
    would pin the frame for the life of a long-lived session."""
    from data_pipeline_example_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and the cat sat on the mat again"),
            (2, "a dog ran in the park and the cat sat on the mat"),
            (3, "nothing repeats here at all"),
        ],
        "doc_id long, text string",
    )
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert tx.substring_dedup(docs, k=4).collect()
    assert tx.gopher_repetition(docs).collect()
    assert cache.isEmpty()


def _guard_cases():
    from data_pipeline_example_spark.operators import dedup, similarity, users
    from data_pipeline_example_spark.streaming import curation

    def emb(spark):
        rows = [(i, [float(i % 3), 1.0, 0.5, 0.25], 0) for i in range(8)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    def docs(spark):
        return spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")

    def events(spark):
        return spark.createDataFrame([(1, 2.5)], "event_id long, value double")

    return {
        "srp_bands_divide_bits": lambda s: similarity.srp_dup_pairs(
            emb(s), n_bits=10, bands=4, dims=4
        ),
        "silhouette_two_centroids": lambda s: similarity.clustering_silhouette(
            emb(s), n_centroids=1
        ),
        "minhash_hashes_multiple_of_4": lambda s: dedup.minhash_signatures(
            docs(s), num_hashes=6
        ),
        "bootstrap_at_most_16": lambda s: users.bootstrap_revenue_ci(events(s), n_boot=17),
        "bloom_bytes_per_bucket": lambda s: curation.bloom_admission_stream(
            docs(s), m_bits=1000, n_buckets=8
        ),
    }


@pytest.mark.parametrize("case", sorted(_guard_cases()))
def test_parameter_guards_raise_value_error(spark, case):
    """Parameter guards fail loudly with ValueError — an ``assert``
    vanishes under ``python -O`` and lets a bad parameter through."""
    with pytest.raises(ValueError):
        _guard_cases()[case](spark)


def test_token_budget_caps_null_source_is_its_own_group(spark):
    """NULL source must survive the cuts join as one partition group —
    matching the window form and SQL PARTITION BY semantics (a plain
    inner join on the group key silently dropped those rows)."""
    import cuts_reference as ref

    from data_pipeline_example_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "a b c", "en", None, 5),
            (2, "a b c d e", "en", None, 9),
            (3, "a b", "en", "s0", 3),
            (4, "a b c d", "en", "s0", 7),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    got = ref.sorted_rows(tx.token_budget_caps(docs, budget=5))
    assert got == ref.sorted_rows(ref.token_budget_caps(docs, budget=5))
    assert len(got) == 4 and any(t[1] is None for t in got)


def test_ann_index_batch_pruning_and_per_query_identity(spark, sf_dir, tmp_path):
    """ivfpq_knn_index_batch: ONE pruned read serves the whole batch
    (the union of probed partitions appears as a centroid_id PARTITION
    filter), and each query's rows are bit-identical to its solo
    ivfpq_knn run."""
    from data_pipeline_example_spark.operators.similarity import (
        ivfpq_knn,
        ivfpq_knn_index_batch,
        write_ann_index,
    )
    from data_pipeline_example_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann")
    write_ann_index(emb, path)
    qvs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 3).collect()
    ]
    batch = ivfpq_knn_index_batch(spark, path, qvs)

    jvm = spark._jvm
    plan = jvm.PythonSQLUtils.explainString(batch._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan
    part_section = plan.split("PartitionFilters", 1)[1][:200]
    assert "centroid_id" in part_section

    rows = batch.collect()
    per_q = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        per_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["approx_sim"], r["cos_sim"])
        )
    assert sorted(per_q) == [0, 1, 2]
    for qid, got in per_q.items():
        direct = [
            (r["vec_id"], r["approx_sim"], r["cos_sim"])
            for r in ivfpq_knn(emb, query_id=qid).collect()
        ]
        assert got == direct, qid


def test_segment_value_percentiles_matches_percentile_disc(spark, sf_dir):
    """The cuts-based exact percentiles equal Spark's own
    percentile_disc-style window answer (value at rank ceil(p*N)), and
    the plan carries no per-segment global sort of the order rows."""
    from data_pipeline_example_spark.operators import tpch
    from data_pipeline_example_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    got = {
        r["c_mktsegment"]: r
        for r in tpch.segment_value_percentiles(orders, customer).collect()
    }
    j = orders.join(customer, orders["o_custkey"] == customer["c_custkey"]).select(
        "c_mktsegment", "o_totalprice"
    )
    import math

    rows = j.collect()
    by_seg = {}
    for r in rows:
        by_seg.setdefault(r["c_mktsegment"], []).append(r["o_totalprice"])
    for seg, vals in by_seg.items():
        vals.sort()
        n = len(vals)
        assert got[seg]["n_orders"] == n
        for p, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            assert got[seg][col] == vals[max(math.ceil(p * n), 1) - 1], (seg, col)


def _manual_ntile(ranked_vals, tiles):
    """SQL NTILE bucket per 1-based rank for a pre-sorted list."""
    n = len(ranked_vals)
    q, r = divmod(n, tiles)
    out = []
    for rank in range(1, n + 1):
        if r and rank <= r * (q + 1):
            out.append((rank + q) // (q + 1))
        else:
            qd = max(q, 1)
            out.append(r + (rank - r * (q + 1) + qd - 1) // qd)
    return out


def test_basket_affinity_matches_bruteforce(spark, sf_dir):
    """Pair support / item counts / lift equal a driver-side brute
    force over the distinct (order, part) baskets, and the cap +
    tie-break ordering is deterministic."""
    from collections import Counter

    from data_pipeline_example_spark.operators import tpch
    from data_pipeline_example_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = tpch.basket_affinity(li, min_support=2, top_n=20).collect()
    assert len(got) <= 20

    baskets = {}
    for r in li.select("l_orderkey", "l_partkey").distinct().collect():
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    pair_n: Counter = Counter()
    item_n: Counter = Counter()
    for parts in baskets.values():
        ps = sorted(parts)
        for p in ps:
            item_n[p] += 1
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_n[(ps[i], ps[j])] += 1
    n_orders = len(baskets)
    expect = sorted(
        ((c, a, b) for (a, b), c in pair_n.items() if c >= 2),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:20]
    assert [(r["pair_orders"], r["part_a"], r["part_b"]) for r in got] == expect
    for r in got:
        a, b = r["part_a"], r["part_b"]
        assert r["a_orders"] == item_n[a]
        assert r["b_orders"] == item_n[b]
        lift = round(r["pair_orders"] * n_orders / (item_n[a] * item_n[b]), 4)
        assert abs(r["lift"] - lift) < 1e-9


def test_customer_rfm_matches_bruteforce(spark, sf_dir):
    """The three cuts-based tile assignments and the segment rollup
    equal a driver-side NTILE brute force (rank under (value,
    custkey)), and constructing it collects nothing to the driver."""
    import cuts_reference as ref

    from data_pipeline_example_spark.operators import tpch
    from data_pipeline_example_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    out, calls = ref.construct_with_job_calls(
        spark, lambda: tpch.customer_rfm(orders, tiles=4)
    )
    assert "collect" not in calls, calls
    got = {(r["r_tile"], r["f_tile"], r["m_tile"]): r for r in out.collect()}

    rows = orders.collect()
    per = {}
    max_d = max(r["o_orderdate"] for r in rows)
    for r in rows:
        c = per.setdefault(r["o_custkey"], {"last": r["o_orderdate"], "f": 0, "m": 0})
        c["last"] = max(c["last"], r["o_orderdate"])
        c["f"] += 1
        c["m"] += int(round(round(r["o_totalprice"], 2) * 100))
    custs = sorted(per)
    metrics = {
        "r": {k: (max_d.date() - per[k]["last"].date()).days for k in custs},
        "f": {k: per[k]["f"] for k in custs},
        "m": {k: per[k]["m"] for k in custs},
    }
    tiles = {}
    for dim in ("r", "f", "m"):
        order = sorted(custs, key=lambda k: (metrics[dim][k], k))
        tl = _manual_ntile(order, 4)
        tiles[dim] = dict(zip(order, tl))
    seg = {}
    for k in custs:
        key = (tiles["r"][k], tiles["f"][k], tiles["m"][k])
        s = seg.setdefault(key, [0, 0, 0, 0])
        s[0] += 1
        s[1] += metrics["r"][k]
        s[2] += metrics["f"][k]
        s[3] += metrics["m"][k]
    assert set(got) == set(seg)
    for key, (n, sr, sf_, sm) in seg.items():
        g = got[key]
        assert g["n_customers"] == n
        assert g["avg_recency_days"] == (2 * sr + n) // (2 * n)
        assert g["total_orders"] == sf_
        assert g["total_spend_cents"] == sm


def test_order_gap_percentiles_matches_bruteforce(spark, sf_dir):
    """Exact gap percentiles (rank ceil(p*N)) and the HALF_UP mean
    equal a driver-side brute force over lag-ordered orders."""
    import math

    from data_pipeline_example_spark.operators import tpch
    from data_pipeline_example_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    [got] = tpch.order_gap_percentiles(orders).collect()

    per = {}
    for r in orders.select("o_custkey", "o_orderdate", "o_orderkey").collect():
        per.setdefault(r["o_custkey"], []).append(
            (r["o_orderdate"], r["o_orderkey"])
        )
    gaps = []
    for v in per.values():
        v.sort()
        for (d1, _), (d2, _) in zip(v, v[1:]):
            gaps.append((d2.date() - d1.date()).days)
    gaps.sort()
    n = len(gaps)
    assert got["n_gaps"] == n
    assert got["avg_gap_days"] == (2 * sum(gaps) + n) // (2 * n)
    for p, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        assert got[col] == gaps[max(int(math.ceil(p * n)), 1) - 1], col


def test_source_overlap_matrix_composes_lsh_pairs(spark, sf_dir):
    """The matrix equals a driver-side rollup of the registered
    minhash_lsh_pairs output joined to doc sources."""
    from collections import defaultdict

    from data_pipeline_example_spark.operators import dedup
    from data_pipeline_example_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r["source_a"], r["source_b"]): (r["dup_pairs"], r["max_jaccard"])
        for r in dedup.source_overlap_matrix(docs, threshold=0.1).collect()
    }
    src = {r["doc_id"]: r["source"] for r in docs.select("doc_id", "source").collect()}
    agg = defaultdict(lambda: [0, 0.0])
    for r in dedup.minhash_lsh_pairs(docs, threshold=0.1).collect():
        key = tuple(sorted((src[r["doc_a"]], src[r["doc_b"]])))
        agg[key][0] += 1
        agg[key][1] = max(agg[key][1], r["jaccard"])
    assert got == {k: (c, mj) for k, (c, mj) in agg.items()}


def test_corr_length_diversity_matches_numpy(spark, sf_dir):
    """The exact-moment Pearson r agrees with numpy's corrcoef to the
    4-dp rounding, per source."""
    import numpy as np

    from data_pipeline_example_spark.functions import text as TF
    from data_pipeline_example_spark.operators import text as tx
    from data_pipeline_example_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    got = {
        r["source"]: (r["n_docs"], r["corr_len_distinct"])
        for r in tx.corr_length_diversity(docs).collect()
    }
    raw = docs.select(
        "source", TF.tokens(F.lower(F.col("text"))).alias("t")
    ).select(
        "source",
        F.size("t").alias("x"),
        F.size(F.array_distinct("t")).alias("y"),
    ).collect()
    per = {}
    for r in raw:
        per.setdefault(r["source"], []).append((r["x"], r["y"]))
    assert set(got) == set(per)
    for s, pts in per.items():
        xs = np.array([p[0] for p in pts], dtype=float)
        ys = np.array([p[1] for p in pts], dtype=float)
        n, r_got = got[s]
        assert n == len(pts)
        if xs.std() == 0 or ys.std() == 0:
            assert r_got is None
        else:
            assert abs(r_got - np.corrcoef(xs, ys)[0, 1]) < 5e-4, s


def test_revenue_pareto_matches_bruteforce(spark, sf_dir):
    """Decile membership, spend sums and cumulative shares equal a
    driver-side descending-ntile brute force; cum_share ends at 1."""
    from data_pipeline_example_spark.operators import tpch
    from data_pipeline_example_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    got = {r["decile"]: r for r in tpch.revenue_pareto(orders).collect()}
    per = {}
    for r in orders.collect():
        per[r["o_custkey"]] = per.get(r["o_custkey"], 0) + int(
            round(round(r["o_totalprice"], 2) * 100)
        )
    order = sorted(per, key=lambda k: (-per[k], k))
    tl = _manual_ntile(order, 10)
    seg = {}
    for k, d in zip(order, tl):
        s = seg.setdefault(d, [0, 0])
        s[0] += 1
        s[1] += per[k]
    total = sum(v[1] for v in seg.values())
    cum = 0
    for d in sorted(seg):
        n, cents = seg[d]
        cum += cents
        g = got[d]
        assert g["n_customers"] == n
        assert g["decile_spend_cents"] == cents
        assert abs(g["cum_share"] - round(cum / total, 4)) < 1e-9
    assert abs(got[max(seg)]["cum_share"] - 1.0) < 1e-9


def test_countmin_term_error_matches_bruteforce(spark, sf_dir):
    """CM cells/estimates equal a driver-side sketch over the exact
    term census; the overcount is one-sided (cm_est >= exact)."""
    import hashlib
    from collections import Counter

    from data_pipeline_example_spark.functions import text as TF
    from data_pipeline_example_spark.operators import text as tx
    from data_pipeline_example_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    got = tx.countmin_term_error(docs, depth=4, width=64, top=10).collect()
    assert len(got) == 10

    counts: Counter = Counter()
    for r in docs.select(
        F.explode(TF.tokens(F.lower(F.col("text")))).alias("t")
    ).collect():
        counts[r["t"]] += 1

    def bucket(i, term):
        return int(hashlib.md5(f"{i}:{term}".encode()).hexdigest()[:8], 16) % 64

    cells: Counter = Counter()
    for term, n in counts.items():
        for i in range(4):
            cells[(i, bucket(i, term))] += n
    expect_top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r["term"], r["exact_n"]) for r in got] == expect_top
    for r in got:
        est = min(cells[(i, bucket(i, r["term"]))] for i in range(4))
        assert r["cm_est"] == est
        assert r["overcount"] == est - r["exact_n"] >= 0


def test_event_rate_mad_matches_bruteforce(spark, sf_dir):
    """Median/MAD flags equal a driver-side brute force (percentile_disc
    median = value at rank ceil(n/2)); all-integer screen."""
    from collections import Counter

    from data_pipeline_example_spark.operators import users as us
    from data_pipeline_example_spark.sources import load_table
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    got = {
        (r["event_type"], r["day"]): (r["n_events"], r["med_n"], r["mad_n"])
        for r in us.event_rate_mad(events, k=3).collect()
    }
    daily = Counter()
    for r in events.select("event_type", F.to_date("ts").alias("day")).collect():
        daily[(r["event_type"], r["day"])] += 1
    per = {}
    for (t, d), n in daily.items():
        per.setdefault(t, []).append((d, n))

    def disc_median(vals):
        vals = sorted(vals)
        return vals[(len(vals) + 1) // 2 - 1]

    expect = {}
    for t, dn in per.items():
        med = disc_median([n for _, n in dn])
        mad = disc_median([abs(n - med) for _, n in dn])
        for d, n in dn:
            if abs(n - med) > 3 * mad:
                expect[(t, d)] = (n, med, mad)
    assert got == expect


def test_orders_yoy_growth_matches_bruteforce(spark, sf_dir):
    """Yearly cent sums and lag-based growth equal a driver brute
    force; first year per priority is NULL."""
    from data_pipeline_example_spark.operators import tpch
    from data_pipeline_example_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    got = {
        (r["o_orderpriority"], r["year"]): (r["revenue_cents"], r["yoy_growth"])
        for r in tpch.orders_yoy_growth(orders).collect()
    }
    agg = {}
    for r in orders.collect():
        key = (r["o_orderpriority"], r["o_orderdate"].year)
        agg[key] = agg.get(key, 0) + int(round(round(r["o_totalprice"], 2) * 100))
    assert set(got) == set(agg)
    for (p, y), cents in agg.items():
        g = got[(p, y)]
        assert g[0] == cents
        prev = agg.get((p, y - 1))
        if prev is None:
            assert g[1] is None
        else:
            assert abs(g[1] - round((cents - prev) / prev, 4)) < 1e-9


def test_customer_migration_matches_bruteforce(spark, sf_dir):
    """Half-split, per-half quartiles (rank under (cents, custkey)) and
    the transition grid equal a driver brute force; margins 0 are the
    churn/acquisition rows and (0,0) is impossible."""
    from data_pipeline_example_spark.operators import tpch
    from data_pipeline_example_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    got = {
        (r["tile_h1"], r["tile_h2"]): r["n_customers"]
        for r in tpch.customer_migration(orders).collect()
    }
    assert (0, 0) not in got

    rows = [
        (r["o_custkey"], r["o_orderdate"].date(), int(round(round(r["o_totalprice"], 2) * 100)))
        for r in orders.collect()
    ]
    lo = min(r[1] for r in rows)
    hi = max(r[1] for r in rows)
    import datetime

    mid = lo + datetime.timedelta(days=(hi - lo).days // 2)
    halves = [{}, {}]
    for c, d, cents in rows:
        h = halves[0] if d < mid else halves[1]
        h[c] = h.get(c, 0) + cents
    tiles = []
    for h in halves:
        order = sorted(h, key=lambda k: (h[k], k))
        tiles.append(dict(zip(order, _manual_ntile(order, 4))))
    expect = {}
    for c in set(halves[0]) | set(halves[1]):
        key = (tiles[0].get(c, 0), tiles[1].get(c, 0))
        expect[key] = expect.get(key, 0) + 1
    assert got == expect


def test_basket_communities_matches_bruteforce(spark, sf_dir):
    """Community membership (union-find over min-support pairs),
    sizes and edge counts equal a driver-side brute force."""
    from collections import Counter

    from data_pipeline_example_spark.operators import tpch
    from data_pipeline_example_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = {
        r["community_id"]: (r["n_parts"], r["n_edges"])
        for r in tpch.basket_communities(li, min_support=2).collect()
    }
    baskets = {}
    for r in li.select("l_orderkey", "l_partkey").distinct().collect():
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    pair_n: Counter = Counter()
    for parts in baskets.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_n[(ps[i], ps[j])] += 1
    edges = [p for p, c in pair_n.items() if c >= 2]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comm = {}
    for x in parent:
        comm.setdefault(find(x), set()).add(x)
    expect = {}
    for root, members in comm.items():
        cid = min(members)
        n_edges = sum(1 for a, b in edges if find(a) == root)
        expect[cid] = (len(members), n_edges)
    assert got == expect


def test_write_packed_blocks_concat_replay_and_manifest(spark, sf_dir, tmp_path):
    """The materialized packing shards must satisfy the concat-and-chunk
    invariant: per source, flattening the written blocks in block_id
    order reproduces EXACTLY the tokens of the source's documents
    concatenated in doc_id order (stream coverage — nothing dropped,
    duplicated, or reordered across doc-straddling block boundaries);
    every block except the final partial holds exactly `capacity`
    tokens; and the manifest read back from disk matches the layout."""
    import re

    from data_pipeline_example_spark import sinks
    from data_pipeline_example_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    cap = 64  # small capacity -> many blocks + straddlers at tiny sf
    path = str(tmp_path / "packed")
    sinks.write_packed_blocks(docs, path, capacity=cap)

    blocks = spark.read.parquet(f"{path}/blocks").collect()
    per_src: dict = {}
    for r in blocks:
        per_src.setdefault(r["source"], []).append(r)

    raw = docs.select("doc_id", "source", "text").collect()
    want_stream: dict = {}
    for r in sorted(raw, key=lambda x: x["doc_id"]):
        want_stream.setdefault(r["source"], []).extend(
            re.findall(r"[A-Za-z0-9]+", r["text"] or "")
        )

    assert set(per_src) == {s for s, t in want_stream.items() if t}
    for src, rows in per_src.items():
        rows.sort(key=lambda r: r["block_id"])
        # contiguous block ids from 0
        assert [r["block_id"] for r in rows] == list(range(len(rows)))
        # capacity invariant: all full except the last
        for r in rows[:-1]:
            assert r["n_tokens"] == cap and len(r["tokens"]) == cap
        assert 0 < rows[-1]["n_tokens"] <= cap
        # concat-replay equality, token for token
        got_stream = [t for r in rows for t in r["tokens"]]
        assert got_stream == want_stream[src], f"stream diverged for {src}"

    man = {r["source"]: r for r in spark.read.parquet(f"{path}/manifest").collect()}
    assert set(man) == set(per_src)
    for src, rows in per_src.items():
        m = man[src]
        assert m["n_blocks"] == len(rows)
        assert m["n_tokens"] == sum(r["n_tokens"] for r in rows)
        assert m["n_full_blocks"] == sum(1 for r in rows if r["n_tokens"] == cap)
        assert m["capacity"] == cap


def test_sequence_pack_matches_bruteforce_and_bounds_driver(spark, sf_dir):
    """Packing offsets/blocks equal a driver-side concat-and-chunk
    replay per source, and constructing it collects nothing to the
    driver even though doc_id is a near-unique value domain."""
    import re

    import cuts_reference as ref

    from data_pipeline_example_spark.operators import text as tx
    from data_pipeline_example_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    cap = 64  # small capacity → plenty of blocks/splits at tiny sf
    packed, calls = ref.construct_with_job_calls(
        spark, lambda: tx.sequence_pack(docs, capacity=cap)
    )
    assert "collect" not in calls, calls
    got = {
        r["doc_id"]: (
            r["source"], r["n_tokens"], r["tok_offset"], r["block_id"],
            r["blocks_spanned"], r["splits_boundary"],
        )
        for r in packed.collect()
    }

    rows = docs.select("doc_id", "source", "text").collect()
    per_src: dict = {}
    for r in rows:
        per_src.setdefault(r["source"], []).append(r)
    expect = {}
    for src, rs in per_src.items():
        off = 0
        for r in sorted(rs, key=lambda x: x["doc_id"]):
            n = len(re.findall(r"[A-Za-z0-9]+", r["text"] or ""))
            first = off // cap
            last = (off + n - 1) // cap if n > 0 else first
            expect[r["doc_id"]] = (
                src, n, off, first,
                (last - first + 1) if n > 0 else 0,
                1 if n > 0 and last > first else 0,
            )
            off += n
    assert got == expect


def test_product_pagerank_matches_bruteforce(spark, sf_dir):
    """The fixed-iteration integer-micro PageRank equals a driver-side
    pure-Python replay of the same damped power iteration (same floor
    divisions, same 15/85/100 integer damping, same tie-break)."""
    from collections import Counter

    from data_pipeline_example_spark.operators import tpch
    from data_pipeline_example_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = [
        (r["l_partkey"], r["degree"], r["rank_micro"])
        for r in tpch.product_pagerank(li, min_support=2, iters=5, top_n=40).collect()
    ]

    baskets = {}
    for r in li.select("l_orderkey", "l_partkey").distinct().collect():
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    pair_n: Counter = Counter()
    for parts in baskets.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_n[(ps[i], ps[j])] += 1
    edges = [p for p, c in pair_n.items() if c >= 2]
    out = {}
    for a, b in edges:
        out.setdefault(a, []).append(b)
        out.setdefault(b, []).append(a)
    deg = {x: len(nbrs) for x, nbrs in out.items()}
    n = len(deg)
    assert n > 0, "sf fixture must yield a non-empty min-support graph"
    base = 10**12 // n
    rank = {x: base for x in deg}
    for _ in range(5):
        mass = {x: 0 for x in deg}
        for x, nbrs in out.items():
            share = rank[x] // deg[x]
            for y in nbrs:
                mass[y] += share
        rank = {x: (15 * base + 85 * mass[x]) // 100 for x in deg}
    expect = sorted(
        ((x, deg[x], rank[x]) for x in deg), key=lambda t: (-t[2], t[0])
    )[:40]
    assert got == expect


def test_bpe_merges_matches_bruteforce(spark, sf_dir):
    """The learned merge table equals a pure-Python Sennrich-style BPE
    trainer on the same capped vocabulary (same tokenization, same cap
    tie-break, same greedy left-to-right merge application)."""
    import re
    from collections import Counter

    from data_pipeline_example_spark.operators import text as text_ops
    from data_pipeline_example_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = [
        (r["round"], r["sym_a"], r["sym_b"], r["merged"], r["pair_count"])
        for r in text_ops.bpe_merges(docs, n_merges=4, top_words=1500).collect()
    ]

    wc: Counter = Counter()
    for r in docs.select("text").collect():
        wc.update(re.findall(r"[A-Za-z0-9]+", r["text"] or ""))
    vocab = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:1500]
    words = [(list(w), c) for w, c in vocab]
    expect = []
    for rnd in range(1, 5):
        pairs: Counter = Counter()
        for syms, c in words:
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((rnd, a, b, a + b, c))
        merged = []
        for syms, cnt in words:
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            merged.append((out, cnt))
        words = merged
    assert got == expect


def test_bpe_encode_stats_matches_bruteforce(spark, sf_dir):
    """Corpus-wide merge application equals the pure-Python replay:
    train on the capped vocab, apply the merges to every word
    occurrence, roll up per source."""
    import re
    from collections import Counter

    from data_pipeline_example_spark.operators import text as text_ops
    from data_pipeline_example_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = [
        tuple(r)
        for r in text_ops.bpe_encode_stats(
            docs, n_merges=4, top_words=1500
        ).collect()
    ]

    rows = docs.select("source", "text").collect()
    wc: Counter = Counter()
    for r in rows:
        wc.update(re.findall(r"[A-Za-z0-9]+", r["text"] or ""))
    vocab = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:1500]
    words = [(list(w), c) for w, c in vocab]
    learned = []
    for _ in range(4):
        pairs: Counter = Counter()
        for syms, c in words:
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (a, b), _c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        learned.append((a, b))

        def apply(syms, a=a, b=b):
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return out

        words = [(apply(s), c) for s, c in words]

    def encode_len(word):
        syms = list(word)
        for a, b in learned:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    cache = {}
    per_source = {}
    for r in rows:
        src = r["source"]
        for w in re.findall(r"[A-Za-z0-9]+", r["text"] or ""):
            if w not in cache:
                cache[w] = encode_len(w)
            n_words, chars, toks = per_source.get(src, (0, 0, 0))
            per_source[src] = (n_words + 1, chars + len(w), toks + cache[w])
    expect = [
        (src, n, ch, tk, tk * 1000000 // ch)
        for src, (n, ch, tk) in sorted(per_source.items())
    ]
    assert got == expect


def test_basket_graph_stats_matches_bruteforce(spark, sf_dir):
    """Exact triangle/wedge counts and the clustering coefficient
    equal a driver-side brute force over the same min-support graph."""
    from collections import Counter
    from itertools import combinations

    from data_pipeline_example_spark.operators import tpch
    from data_pipeline_example_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    got = tuple(tpch.basket_graph_stats(li, min_support=2).collect()[0])

    baskets = {}
    for r in li.select("l_orderkey", "l_partkey").distinct().collect():
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    pair_n: Counter = Counter()
    for parts in baskets.values():
        for a, b in combinations(sorted(parts), 2):
            pair_n[(a, b)] += 1
    edges = {p for p, c in pair_n.items() if c >= 2}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = (
        sum(
            1
            for a, b in edges
            for c in adj[a] & adj[b]
        )
        // 3
    ) if edges else 0
    wedges = sum(d * (d - 1) // 2 for d in map(len, adj.values()))
    expect = (
        len(adj),
        len(edges),
        tri,
        wedges,
        (3 * tri * 1000000) // wedges if wedges else 0,
    )
    assert got == expect


def test_update_ann_index_incremental_equals_rebuild(spark, sf_dir, tmp_path):
    """update_ann_index: incrementally admitting a delta yields an index
    bit-identical to a full rebuild over the union — same (vec_id,
    centroid_id, codes) set and identical served top-k — re-running the
    SAME delta is a no-op (idempotent per-partition overwrite), and
    partitions the delta doesn't touch keep their exact file set."""
    import os

    from data_pipeline_example_spark.operators.similarity import (
        ivfpq_knn_index_batch,
        update_ann_index,
        write_ann_index,
    )
    from data_pipeline_example_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") < 490)
    delta = emb.filter(F.col("vec_id") >= 490)  # 10 rows: hits a strict subset of the 16 buckets

    inc_path, full_path = str(tmp_path / "inc"), str(tmp_path / "full")
    write_ann_index(old, inc_path)

    def part_files(base):
        out = {}
        for d in os.listdir(f"{base}/index"):
            if d.startswith("centroid_id="):
                out[d] = sorted(
                    f for f in os.listdir(f"{base}/index/{d}")
                    if f.endswith(".parquet")
                )
        return out

    before = part_files(inc_path)
    affected = update_ann_index(delta, inc_path)
    assert affected  # the delta lands somewhere
    after = part_files(inc_path)
    untouched = [d for d in before if int(d.split("=")[1]) not in affected]
    assert untouched, "test corpus should leave some partition untouched"
    for d in untouched:
        assert after[d] == before[d]  # byte-level file set preserved

    write_ann_index(emb, full_path)

    def index_rows(base):
        df = spark.read.parquet(f"{base}/index")
        code_cols = sorted(c for c in df.columns if c.startswith("code_"))
        return sorted(
            tuple(r)
            for r in df.select("vec_id", "centroid_id", *code_cols).collect()
        )

    assert index_rows(inc_path) == index_rows(full_path)

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

    def served(base):
        out = ivfpq_knn_index_batch(spark, base, [(0, qv)]).orderBy("rank")
        return [tuple(r) for r in out.collect()]

    assert served(inc_path) == served(full_path)

    # idempotency: re-running the same delta leaves the index identical
    again = update_ann_index(delta, inc_path)
    assert again == affected
    assert index_rows(inc_path) == index_rows(full_path)


def test_ann_index_cache_follows_corpus_rewritten_mid_session(spark, sf_dir, tmp_path):
    """The in-session served-layout cache is keyed by (kind, sf_dir,
    input fingerprint): rewriting a corpus table in place between two
    calls of a query served from a cached layout — the IVF-PQ index of
    ivfpq_knn_index_batch (embeddings) and the packed blocks of
    packed_block_audit (documents) — serves a layout rebuilt from the
    NEW rows (row-identical to the in-plan batch / the DuckDB oracle
    over them), not the layout cached for the old ones."""
    import shutil

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_example_spark.operators import similarity
    from data_pipeline_example_spark.plans import queries
    from data_pipeline_example_spark.plans.oracles import ORACLES

    sf = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def packed_oracle():
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet')"
        )
        return sorted(con.execute(ORACLES["packed_block_audit"]).fetchall())

    cases = (
        ("embeddings", "embedding", queries.q_ivfpq_knn_index_batch,
         lambda: rows(similarity.ivfpq_knn_batch(load_table(spark, sf, "embeddings")))),
        ("documents", "text", queries.q_packed_block_audit, packed_oracle),
    )
    try:
        for table, column, query, want in cases:
            src = pq.read_table(f"{sf_dir}/{table}.parquet")
            pq.write_table(src, f"{sf}/{table}.parquet")
            before = rows(query(spark, sf))
            # same ids and labels, every row given its successor's value
            vals = src.column(column).to_pylist()
            flipped = src.set_column(
                src.schema.get_field_index(column),
                column,
                pa.array(vals[1:] + vals[:1], type=src.schema.field(column).type),
            )
            pq.write_table(flipped, f"{sf}/{table}.parquet")
            after = rows(query(spark, sf))
            assert after == want(), table
            assert after != before, table
    finally:
        for (_, d, _), path in list(queries._SERVED_LAYOUTS.items()):
            if d == sf:
                shutil.rmtree(path, ignore_errors=True)


def test_served_layout_is_keyed_by_the_code_digest(tmp_path, monkeypatch):
    """A served layout is rebuilt when the package source changes: the
    same input and code digest serve the same path without a build; a
    changed digest (a new revision of the code that writes the layout)
    builds a new one."""
    import os
    import shutil

    from data_pipeline_example_spark.plans import queries

    (tmp_path / "t.parquet").write_bytes(b"stat() only")
    builds = []

    def build(path):
        os.makedirs(os.path.join(path, "p"))
        open(os.path.join(path, "p", "_SUCCESS"), "w").close()
        builds.append(path)

    def serve():
        # a fresh process: nothing cached in session, only on disk
        monkeypatch.setattr(queries, "_SERVED_LAYOUTS", {})
        return queries._served_layout(str(tmp_path), "t", "test_layout", ("p",), build)

    try:
        first = serve()
        assert serve() == first and builds == [first]
        monkeypatch.setattr(queries, "_code_digest", lambda: "another-revision")
        changed = serve()
        assert changed != first and builds == [first, changed]
    finally:
        for path in builds:
            shutil.rmtree(path, ignore_errors=True)
        if builds and not os.listdir(os.path.dirname(builds[0])):
            os.rmdir(os.path.dirname(builds[0]))


def test_input_fingerprint_rejects_non_local_tables(sf_dir, tmp_path):
    """A table that is not on the local filesystem cannot be fingerprinted
    by stat(): ValueError instead of hashing an empty listing (which
    would key every generation of that input the same)."""
    from data_pipeline_example_spark.plans.queries import _input_fingerprint

    assert _input_fingerprint(sf_dir, "embeddings") == _input_fingerprint(
        f"file://{sf_dir}", "embeddings"
    )
    for bad in ("s3a://bucket/sf0.01", "hdfs://nn:8020/sf0.01", str(tmp_path)):
        with pytest.raises(ValueError, match="not on the local filesystem"):
            _input_fingerprint(bad, "embeddings")
