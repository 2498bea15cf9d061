"""Batch sources: CSV/Parquet scans + the input-readiness gate.

Covers SURVEY.md §2.1 rows S1 (CSV directory scan,
`services/batch/pipeline_batch.py:115-119`), S5 (Parquet dataset scan,
`streaming_dashboard/app.py:61-66`) and S2 (readiness gate,
`pipeline_batch.py:68-107`).
"""

from __future__ import annotations

import glob
import os
import time
from collections.abc import Iterator
from itertools import zip_longest
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_pipeline_example_spark.session import ENGINE_SQL_CONFS

# The table catalog: each table's columns in file order, as the DDL
# ``spark.read.parquet`` infers from its files (pinned against every
# corpus by tests/test_table_catalog.py). ``load_table`` reads with
# this schema instead of firing an inference job per load. Adding a
# table means adding its entry here. ``timestamp_ntz`` is the type a
# default session infers for TIMESTAMP(isAdjustedToUTC=false); a
# session with ``spark.sql.parquet.inferTimestampNTZ.enabled=false``
# infers ``timestamp`` and gets that (:func:`read_parquet_pinned`).
TABLE_SCHEMAS: dict[str, str] = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp_ntz"
    ),
    "events": (
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
        "value double, props string"
    ),
    "documents": (
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ),
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

TABLE_NAMES = tuple(TABLE_SCHEMAS)


def read_csv_dir(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
) -> DataFrame:
    """S1 — read every ``*.csv`` under ``path`` (recursive, header row),
    inferring column types unless ``schema`` is given.

    Passing an explicit ``schema`` is preferred at scale: it skips the
    extra inference pass the reference pays (`pipeline_batch.py:116`)
    and keeps the scan single-job.
    """
    reader = (
        spark.read.option("header", True)
        .option("recursiveFileLookup", "true")
        .option("ignoreLeadingWhiteSpace", "true")
        .option("ignoreTrailingWhiteSpace", "true")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def ensure_session_confs(spark: SparkSession) -> None:
    """Apply the engine's SQL confs (``session.ENGINE_SQL_CONFS``) to an
    externally-built session (the driver constructs its own
    SparkSession, so the factory defaults in session.py are not
    guaranteed):

    * nanosAsLong — a parquet TIMESTAMP(NANOS) column (foreign inputs;
      the test corpora store ``events.ts`` as TIMESTAMP(MICROS)) is
      unreadable by Spark 4 otherwise;
    * UTC session TZ — reference parity (pipeline_batch.py:60) and
      cross-engine timestamp comparability;
    * ANSI off — Spark 3.5 null-on-error cast semantics that the
      conform operator's drift tolerance depends on;
    * the ``InferFiltersFromGenerate`` exclusion — appended to the
      session's excluded rules, never replacing one already there and
      never listed twice.
    """
    for key, value in ENGINE_SQL_CONFS.items():
        if key == "spark.sql.optimizer.excludedRules":
            have = (spark.conf.get(key, "") or "").split(",")
            rules = [r.strip() for r in have if r.strip()]
            value = ",".join(rules if value in rules else [*rules, value])
        spark.conf.set(key, value)


def local_path(uri: str) -> str | None:
    """``uri`` as a path on the driver's local filesystem, or None when
    it is not one: a URI scheme other than ``file:``, or no such path
    (e.g. a scheme-less path on a cluster whose default filesystem is
    HDFS)."""
    url = urlparse(uri)
    if url.scheme and url.scheme != "file":
        return None
    path = url.path if url.scheme == "file" else uri
    return path if os.path.exists(path) else None


def data_files(src: str) -> Iterator[str]:
    """The data files of a local parquet path: the file itself, or every
    file under the directory in sorted walk order (directories sorted
    too, so nested/partitioned layouts walk the same on every run),
    skipping the names Spark's file listing skips (``_SUCCESS``,
    ``.crc`` sidecars, ``_temporary``; ``_col=v`` partition dirs are
    kept)."""
    if not os.path.isdir(src):
        yield src
        return
    for root, dirs, files in os.walk(src):
        dirs[:] = sorted(
            d for d in dirs
            if not d.startswith(".") and (not d.startswith("_") or "=" in d)
        )
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                yield os.path.join(root, f)


# Arrow → Spark for the primitive types a pinned schema can hold
# (uint16/uint32 widen as Spark reads them); anything else is
# "unsupported" in _spark_type and so never matches.
_SPARK_PRIMITIVES = {
    "int32": "int",
    "int64": "bigint",
    "uint16": "int",
    "uint32": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "large_string": "string",
}


def _spark_type(t, ntz: bool, physical: str | None = None) -> str:
    """The type ``spark.read.parquet`` infers (``simpleString`` form)
    for the Arrow type of a parquet footer column, under the confs
    :func:`ensure_session_confs` sets. ``physical`` is the parquet
    physical type of a top-level column: INT96 timestamps read as
    ``timestamp``. Types no catalog or engine layout uses map to an
    ``unsupported`` string, which no pinned schema matches."""
    import pyarrow.types as pat

    if pat.is_dictionary(t):
        return _spark_type(t.value_type, ntz)
    if pat.is_timestamp(t):
        if physical == "INT96":
            return "timestamp"
        if t.unit == "ns":  # TIMESTAMP(NANOS) under nanosAsLong
            return "bigint"
        return "timestamp_ntz" if t.tz is None and ntz else "timestamp"
    if pat.is_list(t) or pat.is_large_list(t) or pat.is_fixed_size_list(t):
        return f"array<{_spark_type(t.value_type, ntz)}>"
    return _SPARK_PRIMITIVES.get(str(t), f"unsupported {t}")


def read_parquet_pinned(
    spark: SparkSession,
    path: str,
    schema: str,
    what: str,
    partition_cols: tuple[str, ...] = (),
    long_nanos: tuple[str, ...] = (),
) -> DataFrame:
    """Read a parquet layout whose schema the engine knows — a catalog
    table, or a layout the engine wrote — with ``schema`` (flat DDL:
    ``name type`` pairs in file column order, ``partition_cols`` last,
    no commas inside a type) pinned, so the read fires no
    schema-inference job.

    Before the read, the footer of the first data file in
    :func:`data_files` order is read on the driver with pyarrow (no
    Spark job) and must match ``schema`` column for column — name,
    order and type, with ``timestamp_ntz`` read as ``timestamp`` when
    the session has ``spark.sql.parquet.inferTimestampNTZ.enabled``
    off, as inference would. Any difference, or a directory with no
    data files, raises ValueError naming ``what`` and the column; there
    is no fallback to inference. ``long_nanos`` columns may instead be
    stored as TIMESTAMP(NANOS) (or int64): they are then pinned as the
    ``bigint`` nanosAsLong scans them as.

    A path not on the driver's local filesystem (:func:`local_path`)
    has no footer to read without a job: it keeps the inferred read.
    """
    src = local_path(path)
    if src is None:
        return spark.read.parquet(path)
    import pyarrow.parquet as pq

    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    ntz = ntz.lower() == "true"
    if not ntz:
        schema = schema.replace("timestamp_ntz", "timestamp")
    want = [tuple(f.split()) for f in schema.split(",")]
    first = next(data_files(src), None)
    if first is None:
        raise ValueError(f"{what}: no data files under {path}")
    footer = pq.read_metadata(first).schema
    physical = {
        footer.column(i).path: footer.column(i).physical_type
        for i in range(len(footer))
    }
    got = [
        (f.name, _spark_type(f.type, ntz, physical.get(f.name)))
        for f in footer.to_arrow_schema()
    ]
    want = [
        (n, "bigint" if n in long_nanos and (n, "bigint") in got else t)
        for n, t in want
    ]
    stored = [f for f in want if f[0] not in partition_cols]
    for i, (w, g) in enumerate(zip_longest(stored, got)):
        if w != g:
            raise ValueError(
                f"{what}.{(w or g)[0]}: column {i} of {first} is "
                f"{' '.join(g) if g else 'missing'}, the pinned schema has "
                f"{' '.join(w) if w else 'no such column'}"
            )
    return spark.read.schema(", ".join(f"{n} {t}" for n, t in want)).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S5 — scan one driver-provided parquet table with its catalog
    schema (:data:`TABLE_SCHEMAS`, checked against one footer by
    :func:`read_parquet_pinned`; tables off the local filesystem are
    inferred).

    ``events.ts`` stored as parquet TIMESTAMP(NANOS) (a foreign input;
    the test corpora store TIMESTAMP(MICROS)) scans as nanos-since-epoch
    under ``spark.sql.legacy.parquet.nanosAsLong`` and is converted here
    via integer division to microseconds — the same truncation DuckDB
    applies reading TIMESTAMP_NS, keeping the two engines bit-identical.
    """
    ensure_session_confs(spark)
    df = read_parquet_pinned(
        spark,
        f"{sf_dir}/{name}.parquet",
        TABLE_SCHEMAS[name],
        name,
        long_nanos=("ts",) if name == "events" else (),
    )
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the full test-data star schema as a dict of DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def wait_for_input_files(
    spark: SparkSession,
    pattern: str,
    timeout_s: float = 300.0,
    poll_s: float = 5.0,
) -> int:
    """S2 — poll until ≥1 file matches ``pattern`` or timeout.

    Mirrors `pipeline_batch.py:68-107`: for non-local URIs it uses the
    Hadoop FileSystem API through the JVM gateway (works for hdfs://,
    s3a://, …); for local paths it uses glob.
    """
    deadline = time.monotonic() + timeout_s
    is_remote = "://" in pattern and not pattern.startswith("file://")
    while True:
        if is_remote:
            jvm = spark._jvm  # noqa: SLF001 — same technique as the reference
            hadoop_conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
            p = jvm.org.apache.hadoop.fs.Path(pattern)
            fs = p.getFileSystem(hadoop_conf)
            statuses = fs.globStatus(p)
            n = len(statuses) if statuses is not None else 0
        else:
            n = len(glob.glob(pattern.removeprefix("file://"), recursive=True))
        if n > 0:
            return n
        if time.monotonic() >= deadline:
            raise TimeoutError(f"no input files matched {pattern!r} within {timeout_s}s")
        time.sleep(poll_s)


def read_json_dir(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """JSON-lines directory scan (the batch twin of the streaming S4
    decode path). Always pass a ``schema`` in production: schema
    inference reads the whole dataset once before the real scan — at
    100 TB that doubles the job. Unknown keys are dropped, missing keys
    are null, matching `streaming_sales_aggregator.py:187-200`'s
    tolerant contract.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_text_dir(
    spark: SparkSession,
    path: str,
    whole_file: bool = False,
    line_sep: str | None = None,
) -> DataFrame:
    """Plain-text corpus ingestion — the rawest LLM-corpus format.

    ``whole_file=False`` (default): one row per line (``value`` string),
    splittable, so a single 1 TB file still parallelizes by HDFS block.
    ``whole_file=True``: one row per file — document-per-file corpora;
    parallelism = file count, same contract as ``read_binary_dir``.
    ``line_sep`` overrides the record delimiter (e.g. ``"\\0"`` for
    NUL-delimited document dumps — a splittable document-per-record
    layout, unlike whole_file).
    """
    # options must ride the .text() call itself — DataFrameReader.text
    # re-applies its keyword defaults over any pre-set .option() values
    return spark.read.text(path, wholetext=whole_file, lineSep=line_sep)


def read_orc_dir(spark: SparkSession, path: str) -> DataFrame:
    """ORC dataset scan — same columnar pushdown/pruning contract as
    parquet (S5) for shops standardized on ORC."""
    return spark.read.orc(path)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """Binary-file ingestion for multimodal corpora — Spark's
    ``binaryFile`` source yields (path, modificationTime, length,
    content:binary) per file, ready for the Arrow-batched decode /
    feature operators in ``operators/multimodal.py``.

    Scale notes: each file is one row read by one task, so ingest
    parallelism = file count (fine for media blobs); filters on
    ``length`` or the path are pushed into the file index, never
    opening filtered-out blobs. Very large single blobs should be
    sharded upstream — Spark caps a row comfortably in the tens of MB.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
