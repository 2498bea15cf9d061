"""Scale-up generator for the scaling benchmark: upsample an existing
testdata sf directory by an integer factor with key-shifted replicas.

    python tools/gen_sf.py [src_dir] [dst_dir] [factor]
    # default: the sf0.1 test corpus -> <checkout>/.localdata/sf1  x10

Replication, not regeneration: every table's value distributions,
per-key group sizes, and join fan-outs are preserved EXACTLY — replica
``i`` shifts each key column by ``i * (max_key + 1)``, so a 10× corpus
has 10× the groups of the same size, which is precisely the shape a
scaling measurement wants (per-key skew constant, total linear).
region/nation stay fixed (dimension tables, as in TPC-H).

Two tables get a per-replica decorrelation so the content-similarity
structure also stays CONSTANT instead of exploding quadratically:

* ``documents`` — replica i>0 fuses an ``r{i}_`` tag into every 8th
  token. Token/char counts shift marginally, but every 8-gram shingle
  contains exactly one fused token, so ALL cross-replica shingle
  matches (minhash/simhash/jaccard candidates) are broken while
  intra-replica near-dup structure is preserved. Without this, 10
  verbatim copies of each doc would make pair-emitting dedup queries
  super-linear by construction — measuring corpus self-similarity, not
  the engine.
* ``embeddings`` — replica i>0 adds a deterministic ±5e-4 per-component
  jitter (xxhash64-derived), breaking exact cross-replica duplicates
  while keeping norms and neighborhoods effectively unchanged.

Deterministic end to end; safe to re-run (overwrites). Writes one
parquet dataset dir per table (Spark layout — ``load_table`` reads
both layouts; plain ``read_parquet(dir)`` works in DuckDB too).
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

# key columns to shift, per table: (column, period)
SHIFTS: dict[str, list[str]] = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# which table owns each key's period (max+1 measured there)
PERIOD_OWNER = {
    "c_custkey": ("customer", "c_custkey"),
    "s_suppkey": ("supplier", "s_suppkey"),
    "p_partkey": ("part", "p_partkey"),
    "o_orderkey": ("orders", "o_orderkey"),
    "o_custkey": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}
FIXED = ("region", "nation")


def upsample(spark, src: str, dst: str, factor: int) -> None:
    # read through load_table so events.ts arrives as a proper timestamp
    # even from a TIMESTAMP(NANOS) source, and sf1 is written with a
    # plain timestamp column — downstream load_table handles either layout
    from data_pipeline_example_spark.sources import load_table

    periods: dict[str, int] = {}
    for key, (tbl, col) in PERIOD_OWNER.items():
        if key not in periods:
            m = (
                load_table(spark, src, tbl)
                .agg(F.max(col).alias("m"))
                .collect()[0]["m"]
            )
            periods[key] = int(m) + 1

    os.makedirs(dst, exist_ok=True)
    for t in FIXED:
        load_table(spark, src, t).write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )

    for t, keys in SHIFTS.items():
        base = load_table(spark, src, t)
        rep = base.crossJoin(
            F.broadcast(
                base.sparkSession.range(factor).select(F.col("id").alias("__rep"))
            )
        )
        cols: list = []
        for name, dtype in base.dtypes:
            c = F.col(name)
            if name in keys:
                c = (c + F.col("__rep") * F.lit(periods[name])).cast(dtype)
            elif t == "documents" and name == "text":
                # fuse a replica tag into every 8th token (replica 0
                # keeps the original text verbatim)
                c = F.when(F.col("__rep") == 0, c).otherwise(
                    F.array_join(
                        F.transform(
                            F.split(c, " "),
                            lambda w, p: F.when(
                                p % 8 == 0,
                                F.concat(
                                    F.lit("r"), F.col("__rep"), F.lit("_"), w
                                ),
                            ).otherwise(w),
                        ),
                        " ",
                    )
                )
            elif t == "documents" and name == "n_chars":
                continue  # recomputed below from the new text
            elif t == "embeddings" and name == "embedding":
                c = F.when(F.col("__rep") == 0, c).otherwise(
                    F.transform(
                        c,
                        lambda x, p: (
                            x
                            + (
                                F.pmod(
                                    F.xxhash64(F.col("vec_id"), p, F.col("__rep")),
                                    F.lit(1000),
                                )
                                - 500
                            )
                            / F.lit(1_000_000.0)
                        ).cast("float"),
                    )
                )
            cols.append(c.alias(name))
        out: DataFrame = rep.select(*cols)
        if t == "documents":
            out = out.withColumn("n_chars", F.length("text").cast("long"))
        (
            out.repartition(max(4, 4 * factor))
            .write.mode("overwrite")
            .parquet(f"{dst}/{t}.parquet")
        )
        print(f"{t}: x{factor} -> {dst}/{t}.parquet")


def main() -> None:
    from data_pipeline_example_spark.session import get_spark

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else os.path.join(_REPO, ".localdata", "sf1")
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    spark = get_spark(
        app_name="gen_sf",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=32,
        extra_conf={
            "spark.ui.enabled": "false",
            # local mode = one JVM for driver + all executor threads;
            # the default 1g heap OOMs on a x10-of-sf1 upsample with 32
            # concurrent writers (measured) — size it like bench does
            "spark.driver.memory": os.environ.get("GEN_SF_DRIVER_MEM", "12g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    upsample(spark, src, dst, factor)
    spark.stop()


if __name__ == "__main__":
    main()
