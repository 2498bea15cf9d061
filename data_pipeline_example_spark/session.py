"""SparkSession factory.

Reproduces the session semantics of the reference jobs
(`services/batch/pipeline_batch.py:57-61`,
`services/streaming/streaming_sales_aggregator.py:136-184`):
UTC session timezone and dynamic partition overwrite — and adds the
scale-oriented defaults the reference leaves on the table: AQE (runtime
coalescing + skew-join handling) and Arrow for any Python boundary.

ANSI mode is explicitly disabled: the reference runs Spark 3.5 (non-ANSI),
where ``cast`` of garbage strings yields NULL; the engine's schema-drift
tolerance (conform.py) depends on null-on-error semantics. Spark 4 flipped
the default, so we pin it off.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

#: The SQL confs the engine's plans and semantics depend on, all
#: runtime-settable: ``get_spark`` builds its session with them, and
#: ``sources.tables.ensure_session_confs`` applies them to a session
#: built elsewhere (the excluded rule is appended to any rules already
#: excluded there).
ENGINE_SQL_CONFS: dict[str, str] = {
    # parity with reference session config (pipeline_batch.py:60)
    "spark.sql.session.timeZone": "UTC",
    # Spark 3.5 cast semantics (null on bad input) — conform.py relies on it
    "spark.sql.ansi.enabled": "false",
    # a parquet TIMESTAMP(NANOS) column (foreign inputs; the test corpora
    # store micros), which Spark cannot read natively, surfaces as a
    # long — load_table converts events.ts (sources/tables.py)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate turns every explode(expr) into a pushed
    # size(expr)>0 filter. This engine's exploded arrays are almost all
    # COMPUTED (shingles, md5 grams, LSH band keys, PQ codes) — the
    # inferred filter re-evaluates the full expression a second time
    # below the widen/repartition exchange, i.e. 2× the dominant CPU at
    # any scale and at raw-scan parallelism locally (measured 3.2 s →
    # 0.3 s on the sf0.1 gram explode, r15). Stored-array explodes lose
    # nothing: explode already drops empty arrays. Correctness-neutral
    # (pure optimizer rule exclusion).
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}

# Session defaults chosen for correctness parity with the reference plus
# 100 TB-scale hygiene. All overridable via extra_conf.
_BASE_CONF: dict[str, str] = {
    **ENGINE_SQL_CONFS,
    # parity with reference session config (pipeline_batch.py:59)
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # scale: runtime re-planning, partition coalescing, skew-join splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for any pandas/Python boundary (multimodal UDFs)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # partitioned-parquet reads should prune on partition columns
    "spark.sql.parquet.filterPushdown": "true",
}


def get_spark(
    app_name: str = "data-pipeline-example-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's standard config.

    ``shuffle_partitions`` mirrors the reference's env-tunable
    ``SPARK_SHUFFLE_PARTITIONS`` (streaming_sales_aggregator.py:142);
    with AQE enabled it acts as an upper bound that AQE coalesces down
    from, so a generous value is safe at any scale factor.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(_BASE_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
