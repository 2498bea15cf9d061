"""Batch sinks — SURVEY.md §2.2 rows K1/K2/K3/K6 and §2.12 M1/M2.

Mirrors the reference's storage contract (`services/batch/pipeline_batch.py:
215-237`): date-partitioned Parquet with dynamic partition overwrite for
the curated aggregate, single-file CSV for the dashboard, single-row KPI
CSV to a ``<out>_kpis`` sibling.

Scale notes: ``repartition(partition_col)`` before a partitioned write
produces one file per partition (reference behavior, fine when partitions
are day-sized; at 100 TB a whole day funnels through one writer task).
``coalesce(1)`` sinks exist for demo parity only — never use them on
large outputs (the docstring is the guardrail the reference lacked).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from data_pipeline_example_spark.functions.materialize import materialize


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_col: str = "order_date",
) -> None:
    """K1 + M1 — dynamic-overwrite date-partitioned Parquet
    (`pipeline_batch.py:215-221`, config `:59`): one file per date, the
    reference's layout. Dynamic partition overwrite is a per-writer
    option, not a session-conf mutation.
    """
    (
        df.repartition(partition_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_single_csv(df: DataFrame, path: str) -> None:
    """K2 + M2 — coalesce(1) CSV with header (`pipeline_batch.py:223-230`).

    Demo/serving parity only: the single task funnels the entire
    DataFrame — do not use above dashboard scale.
    """
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def write_kpi_csv(kpis: DataFrame, out_path: str) -> None:
    """K3 — single-row KPI CSV to ``<out>_kpis`` (`pipeline_batch.py:234-237`)."""
    write_single_csv(kpis, out_path.rstrip("/") + "_kpis")


def show_kpis(kpis: DataFrame) -> None:
    """K6 — console sink (`pipeline_batch.py:233`)."""
    kpis.show(truncate=False)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed parquet table for co-located joins (100 TB pattern the
    reference never needed: two facts bucketed+sorted on the join key
    sort-merge-join with NO shuffle exchange on either side — the
    dominant cost of a fact-fact join at scale disappears on every
    subsequent query).

    Uses ``saveAsTable`` (bucketing metadata lives in the catalog; plain
    ``.parquet(path)`` writes cannot record it).
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def compact_partitions(
    spark,
    path: str,
    partition_col: str,
    target_rows_per_file: int,
) -> dict[str, int]:
    """Small-file compaction — the standing maintenance job any
    long-running partitioned sink needs (streaming sinks and frequent
    dynamic overwrites accrete many small files; at 100 TB, scan cost is
    dominated by file-open overhead once files drop below ~tens of MB).

    Rewrites each partition into ``ceil(rows / target_rows_per_file)``
    files: one pass to count rows per partition, then a *per-partition*
    salt — ``pmod(hash, ceil(n_p/target))`` via a broadcast join on the
    per-partition counts — so a small partition compacts to exactly one
    file while a big one spreads over its own file budget (a single
    global salt would fan every small partition out to the global max).
    Only partitions present in the data are touched (dynamic overwrite)
    and readers never see a half-compacted directory (parquet commit
    protocol). Row-count is the size proxy here; a production job would
    target bytes (``spark.sql.files.maxPartitionBytes``-sized outputs).

    Returns {partition_value: target_file_count}. Targets, not actuals:
    hash skew can leave a salt bucket empty, so a partition may write
    fewer files than its target (never more).
    """
    import math

    # localCheckpoint materializes the input before the overwrite —
    # Spark (correctly) refuses to overwrite a path it is still reading;
    # a production job at scale writes to a temp dir and swaps instead.
    df = spark.read.parquet(path).transform(materialize)
    # NULL partition values (Hive's __HIVE_DEFAULT_PARTITION__ directory)
    # must compact too: a plain equi-join on the casted column would
    # silently drop them, so both the count key and the join key map NULL
    # to the Hive sentinel string
    pkey = F.coalesce(
        F.col(partition_col).cast("string"), F.lit("__HIVE_DEFAULT_PARTITION__")
    )
    counts = {
        r["p"]: r["n"]
        for r in df.groupBy(pkey.alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    targets = {
        p: math.ceil(n / target_rows_per_file) for p, n in counts.items()
    }
    if not targets:
        return {}
    plan = F.broadcast(
        spark.createDataFrame(
            [(p, nf) for p, nf in targets.items()], "__p string, __nf int"
        )
    )
    salted = (
        df.join(plan, pkey == F.col("__p"))
        .withColumn(
            "__salt",
            F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.col("__nf")),
        )
    )
    (
        salted.repartition(F.col(partition_col), F.col("__salt"))
        .drop("__p", "__nf", "__salt")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    return targets


def upsert_partitioned(
    spark,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
    order_col: str | None = None,
    keys_may_move: bool = False,
) -> None:
    """Upsert-by-rewrite into a partitioned parquet dataset — MERGE
    semantics without a table format: new keys insert, existing keys are
    replaced by the update row.

    Only the partitions present in ``updates`` are read back and
    rewritten (partition pruning on the read + dynamic partition
    overwrite on the write); untouched partitions are never opened. The
    winner per key is picked with a row_number window over
    (key, is_update desc [, order_col desc]) — one shuffle on the key.
    At 100 TB this is the idiomatic parquet-only pattern; a table format
    (Delta/Iceberg/Hudi) replaces the rewrite with a metadata commit but
    the dataflow is the same.

    INVARIANT (default path): an update must not change a key's
    ``partition_col`` value — the pruned read only opens partitions
    present in ``updates``, so a row that moved partitions would leave
    its stale copy behind in the old one. When keys can move, pass
    ``keys_may_move=True``: a semi-join of the target against the update
    keys finds the partitions those keys currently live in, and both
    partition sets are rewritten. That key lookup scans the target's key
    column (full-dataset read at worst) — the price of MERGE-with-
    repartitioning without an index. A touched partition whose every row
    moved away has nothing for dynamic overwrite to rewrite (it only
    touches partitions present in the output), so its directory — still
    holding the stale pre-move rows — is deleted explicitly before the
    write.
    """
    from pyspark.sql.window import Window
    from pyspark.errors import AnalysisException

    try:
        target = spark.read.parquet(path)
    except AnalysisException:
        # first write — nothing to merge against
        write_partitioned_parquet(updates, path, partition_col=partition_col)
        return

    # partition values are compared as strings throughout: the read-back
    # side type-infers partition dirs (e.g. '2024-01-01' → date) while
    # updates may carry the raw string, and the directory name IS the
    # string form
    pstr = F.col(partition_col).cast("string")
    touched = {r[0] for r in updates.select(pstr).distinct().collect()}
    if keys_may_move:
        update_keys = updates.select(*key_cols).distinct()
        touched |= {
            r[0]
            for r in target.join(F.broadcast(update_keys), key_cols, "left_semi")
            .select(pstr)
            .distinct()
            .collect()
        }
    touched = sorted(touched)
    existing = target.filter(pstr.isin(touched))
    tagged = existing.withColumn("__is_update", F.lit(0)).unionByName(
        updates.withColumn("__is_update", F.lit(1))
    )
    order = [F.desc("__is_update")] + (
        [F.desc(order_col)] if order_col else []
    )
    w = Window.partitionBy(*key_cols).orderBy(*order)
    merged = (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__is_update", "__rn")
        .transform(materialize)  # see compact_partitions: can't overwrite a read path
    )
    if keys_may_move:
        # a move can empty a touched partition; dynamic overwrite would
        # skip it and leave the stale rows on disk — drop those
        # directories (bounded by |touched|, a collect-safe set)
        survivors = {
            r[0]
            for r in merged.select(F.col(partition_col).cast("string"))
            .distinct()
            .collect()
        }
        stale = [p for p in touched if p not in survivors]
        if stale:
            jvm = spark._jvm
            hconf = spark._jsc.hadoopConfiguration()
            for p in stale:
                pdir = jvm.org.apache.hadoop.fs.Path(
                    f"{path}/{partition_col}={p}"
                )
                fs = pdir.getFileSystem(hconf)
                fs.delete(pdir, True)
    write_partitioned_parquet(merged, path, partition_col=partition_col)


def write_json(df: DataFrame, path: str) -> None:
    """JSON-lines sink (one object per row) — the interchange twin of
    the Kafka producer payloads (`kafka_event_producer.py:119-120`) and
    the standard LLM-corpus exchange layout."""
    df.write.mode("overwrite").json(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC columnar sink — same write contract as the parquet sinks."""
    df.write.mode("overwrite").orc(path)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    partitions: int | None = None,
) -> None:
    """Range-partition + sort-within-partitions before writing, so every
    parquet row group carries tight min/max statistics on ``sort_cols``
    — readers filtering on those columns skip whole row groups (the
    poor-man's clustered index; the same reason table formats Z-order).
    ``repartitionByRange`` gives globally disjoint key ranges per file,
    so a point predicate touches exactly one file.
    """
    out = (
        df.repartitionByRange(partitions, *sort_cols)
        if partitions
        else df.repartitionByRange(*sort_cols)
    )
    out.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)


def write_zordered_parquet(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    partitions: int | None = None,
) -> None:
    """Two-dimensional clustered write: range-sort by the Morton
    (Z-order) interleave of two quantized columns, so parquet row-group
    min/max stats prune scans filtering on EITHER column — the
    ``OPTIMIZE ZORDER BY`` layout without a table format
    (``functions/zorder.py``). Columns must be non-negative 32-bit
    (quantize/rank first). The key is dropped before writing — it is
    layout, not data. Sorting uses ``zorder_sort_key`` (sign-flipped
    interleave) so the layout stays correct even when the second
    column sets bit 31 and the raw key would go negative.
    """
    from data_pipeline_example_spark.functions.zorder import zorder_sort_key

    keyed = df.withColumn("__zkey", zorder_sort_key(F.col(col_a), F.col(col_b)))
    out = (
        keyed.repartitionByRange(partitions, "__zkey")
        if partitions
        else keyed.repartitionByRange("__zkey")
    )
    (
        out.sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


# the on-disk layout contract of write_packed_blocks — declared so
# readers never depend on schema inference (which fails on the
# zero-file dataset an empty corpus writes)
PACKED_BLOCKS_SCHEMA = (
    "block_id long, n_docs long, tokens array<string>, n_tokens long, "
    "source string"
)


def write_packed_blocks(
    documents: DataFrame, path: str, capacity: int = 2048
) -> None:
    """Materialize :func:`~data_pipeline_example_spark.operators.text.
    sequence_pack`'s layout as ACTUAL training shards — the step the
    offsets alone leave undone (a dataloader consumes token blocks,
    not prefix sums).

    Layout written:

    * ``{path}/blocks`` — parquet PARTITIONED BY source (one shard dir
      per packing stream): ``block_id, n_docs, tokens (array<string>),
      n_tokens``. Every block holds exactly ``capacity`` tokens except
      each source's final partial block — the concat-and-chunk
      invariant, asserted by test via concat-replay equality.
    * ``{path}/manifest`` — one small parquet: per-source block/token/
      doc totals + the capacity, aggregated from the WRITTEN files
      (read-back, not the plan), so the manifest always describes what
      is actually on disk.

    Plan: ``sequence_pack`` computes per-doc offsets via the bounded
    cuts discipline (no per-source window sort); each doc explodes to
    its ``blocks_spanned`` (block_id, token-slice) rows — fanout
    Σ(blocks_spanned) ≈ total_blocks + n_docs, never token-level — and
    one hash aggregation per (source, block_id) assembles the block:
    ``array_sort`` on (doc_id, slice) structs then ``flatten``, all
    JVM-side, per-group memory hard-bounded by ``capacity`` tokens.
    Empty docs carry no tokens and are excluded (sequence_pack's
    ``blocks_spanned = 0`` contract).
    """
    from data_pipeline_example_spark.functions import text as T
    from data_pipeline_example_spark.operators.text import sequence_pack

    cap = int(capacity)
    packed = sequence_pack(documents, cap)
    toks = documents.select("doc_id", T.tokens(F.col("text")).alias("t"))
    last = F.expr(f"(tok_offset + n_tokens - 1) div {cap}")
    lo = F.expr(f"greatest(blk * {cap}, tok_offset)")
    hi = F.expr(f"least((blk + 1) * {cap}, tok_offset + n_tokens)")
    slices = (
        packed.filter(F.col("n_tokens") > 0)
        .join(toks, "doc_id")
        .select(
            "source",
            "doc_id",
            "tok_offset",
            "n_tokens",
            "t",
            F.explode(F.sequence(F.col("block_id"), last)).alias("blk"),
        )
        .select(
            "source",
            "doc_id",
            F.col("blk").alias("block_id"),
            F.slice(
                "t",
                (lo - F.col("tok_offset") + 1).cast("int"),
                (hi - lo).cast("int"),
            ).alias("toks"),
        )
    )
    blocks = (
        slices.groupBy("source", "block_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("doc_id"), F.col("toks")))
                    ),
                    lambda s: s["toks"],
                )
            ).alias("tokens"),
        )
        .withColumn("n_tokens", F.size("tokens").cast("long"))
    )
    blocks.repartition("source").write.mode("overwrite").partitionBy(
        "source"
    ).parquet(f"{path}/blocks")
    # explicit schema: an EMPTY corpus writes a zero-file dataset, and
    # schema inference on it throws UNABLE_TO_INFER_SCHEMA (r15
    # degenerate-empty sweep) — the layout contract is fixed anyway
    written = documents.sparkSession.read.schema(PACKED_BLOCKS_SCHEMA).parquet(
        f"{path}/blocks"
    )
    (
        written.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum((F.col("n_tokens") == cap).cast("int"))
            .cast("long")
            .alias("n_full_blocks"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_docs").cast("long").alias("n_doc_slices"),
        )
        .withColumn("capacity", F.lit(cap).cast("long"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/manifest")
    )
