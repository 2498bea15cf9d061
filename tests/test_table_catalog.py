"""The table catalog (``sources.tables.TABLE_SCHEMAS``) and the pinned
reads built on it: every entry equals what ``spark.read.parquet``
infers from each corpus present, a footer that drifts from the
catalog fails loudly without firing a Spark job, and table loads and
warm ANN-index serving fire no schema-inference jobs."""

from __future__ import annotations

import contextlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_pipeline_example_spark.session import _BASE_CONF
from data_pipeline_example_spark.sources import TABLE_NAMES, load_table
from data_pipeline_example_spark.sources.tables import TABLE_SCHEMAS

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the test-data scale factors (siblings of the sf_dir fixture) and the
# adversarial corpora tools/validate_oracle.py --corpus generates
CORPORA = ["sf0.001", "sf0.01", "sf0.1"] + [
    f".localdata/{d}" for d in ("sfdeg", "sfdeg_empty", "sfdeg_single", "sfna")
]
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


@pytest.fixture(scope="module")
def vanilla(spark):
    """A session over the same context with none of the engine's confs:
    the shape of a session an external driver builds."""
    v = spark.newSession()
    for k in _BASE_CONF:
        v.conf.unset(k)
    return v


@contextlib.contextmanager
def _conf(session, key, value):
    prev = session.conf.get(key, None)
    session.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            session.conf.unset(key)
        else:
            session.conf.set(key, prev)


@contextlib.contextmanager
def _job_group(spark, group):
    """Run the block under job group ``group``; yields the list the
    group's job ids land in once the block is done."""
    sc = spark.sparkContext
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # job starts reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def _with_ntz(ddl: str, ntz: str) -> StructType:
    return StructType.fromDDL(
        ddl if ntz == "true" else ddl.replace("timestamp_ntz", "timestamp")
    )


@pytest.mark.parametrize("corpus", CORPORA, ids=os.path.basename)
def test_catalog_equals_inferred_schema(spark, vanilla, sf_dir, corpus):
    """Each entry is exactly the inferred schema (names, order, types,
    nullability), in the engine session and a vanilla one, with the
    timestamp type following ``inferTimestampNTZ`` both ways; and
    ``load_table`` reads with exactly that schema."""
    base = _REPO if corpus.startswith(".localdata") else os.path.dirname(sf_dir)
    corpus = os.path.join(base, corpus)
    if not os.path.isdir(corpus):
        pytest.skip(f"{corpus} is not on this host")
    for session in (spark, vanilla):
        for ntz in ("true", "false"):
            with _conf(session, NTZ, ntz):
                for t in TABLE_NAMES:
                    df = load_table(session, corpus, t)
                    inferred = session.read.parquet(f"{corpus}/{t}.parquet").schema
                    assert _with_ntz(TABLE_SCHEMAS[t], ntz) == inferred, (corpus, t)
                    assert df.schema == inferred, (corpus, t)


def _copy_table(src_dir, dst_dir, name, change=None):
    table = pq.read_table(f"{src_dir}/{name}.parquet")
    if change is not None:
        table = change(table)
    pq.write_table(table, f"{dst_dir}/{name}.parquet")


@pytest.mark.parametrize(
    "name, change, column",
    [
        (
            "region",
            lambda t: t.rename_columns(["r_regionkey", "r_label"]),
            "region.r_name",
        ),
        (
            "nation",
            lambda t: t.set_column(
                2, "n_regionkey", t.column("n_regionkey").cast(pa.int64())
            ),
            "nation.n_regionkey",
        ),
    ],
    ids=["renamed", "int-widened"],
)
def test_footer_drift_raises_without_a_job(spark, sf_dir, tmp_path, name, change, column):
    _copy_table(sf_dir, tmp_path, name, change)
    with _job_group(spark, f"drift-{name}") as jobs:
        with pytest.raises(ValueError, match=rf"^{column}: "):
            load_table(spark, str(tmp_path), name)
    assert jobs == []


def test_directory_table_without_data_files_raises(spark, tmp_path):
    """An empty dataset directory is an error, never an empty frame
    (inference used to fail with Spark's 'unable to infer schema')."""
    d = tmp_path / "region.parquet"
    d.mkdir()
    (d / "_SUCCESS").write_text("")
    (d / ".part-00000.parquet.crc").write_text("")
    with pytest.raises(ValueError, match="no data files"):
        load_table(spark, str(tmp_path), "region")


def test_directory_table_reads_first_data_file_footer(spark, sf_dir, tmp_path):
    """A dataset directory (the layout gen_sf.py writes) is checked by
    its first data file and read whole, hidden files skipped."""
    d = tmp_path / "nation.parquet"
    d.mkdir()
    table = pq.read_table(f"{sf_dir}/nation.parquet")
    pq.write_table(table.slice(0, 10), d / "part-00000.parquet")
    pq.write_table(table.slice(10), d / "part-00001.parquet")
    (d / "_SUCCESS").write_text("")
    got = load_table(spark, str(tmp_path), "nation")
    assert got.count() == table.num_rows
    assert got.schema == StructType.fromDDL(TABLE_SCHEMAS["nation"])


def test_events_nanos_timestamp_still_loads_as_micros(spark, sf_dir, tmp_path):
    """A foreign events.parquet storing ts as TIMESTAMP(NANOS) is pinned
    as bigint and converted to a microsecond timestamp, as before."""
    src = pq.read_table(f"{sf_dir}/events.parquet")
    ts = src.column("ts").cast(pa.timestamp("ns")).to_pylist()
    nanos = [None if v is None else v.value + 789 for v in ts]
    table = src.set_column(1, "ts", pa.array(nanos, type=pa.timestamp("ns")))
    pq.write_table(table, tmp_path / "events.parquet")
    footer = pq.read_metadata(tmp_path / "events.parquet").schema
    assert "timeUnit=nanoseconds" in str(footer.column(1).logical_type)
    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [
        r[0]
        for r in df.select(F.unix_micros("ts")).orderBy("event_id").collect()
    ]
    want = [
        None if n is None else n // 1000
        for _, n in sorted(zip(src.column("event_id").to_pylist(), nanos))
    ]
    assert got == want


def test_table_loads_fire_no_jobs(spark, sf_dir):
    load_table(spark, sf_dir, "region")  # first-use warm-up
    with _job_group(spark, "loads") as jobs:
        for t in TABLE_NAMES:
            load_table(spark, sf_dir, t)
    assert jobs == []


def test_warm_ann_index_serving_fires_only_its_collects(spark, sf_dir):
    """After the index is built, constructing the registered
    ``ivfpq_knn_index_batch`` query fires exactly two jobs: the query
    vectors' collect and the centroid file's head fetch. The centroids
    and index reads are pinned (no inference jobs)."""
    from data_pipeline_example_spark.plans import queries

    queries.q_ivfpq_knn_index_batch(spark, sf_dir)
    with _job_group(spark, "ann-warm") as jobs:
        queries.q_ivfpq_knn_index_batch(spark, sf_dir)
    st = spark.sparkContext.statusTracker()
    names = sorted(
        st.getStageInfo(max(st.getJobInfo(j).stageIds)).name.split(" at ")[0]
        for j in jobs
    )
    assert names == ["collect", "collect"]


def test_ensure_session_confs_applies_engine_confs_and_appends_rule(spark):
    """``ensure_session_confs`` gives a session built elsewhere the
    engine's SQL confs — the one ``ENGINE_SQL_CONFS`` mapping
    ``get_spark`` builds with — and appends the
    ``InferFiltersFromGenerate`` exclusion to rules already excluded
    there, never twice. ``get_spark``'s own session keeps its conf."""
    from data_pipeline_example_spark.session import ENGINE_SQL_CONFS
    from data_pipeline_example_spark.sources.tables import ensure_session_confs

    key = "spark.sql.optimizer.excludedRules"
    rule = ENGINE_SQL_CONFS[key]
    before = {k: spark.conf.get(k) for k in ENGINE_SQL_CONFS}
    assert before == ENGINE_SQL_CONFS

    # newSession() inherits the builder confs: unset them first
    s = spark.newSession()
    for k in ENGINE_SQL_CONFS:
        s.conf.unset(k)
    assert not s.conf.get(key, "")
    ensure_session_confs(s)
    assert {k: s.conf.get(k) for k in ENGINE_SQL_CONFS} == ENGINE_SQL_CONFS

    other = "org.apache.spark.sql.catalyst.optimizer.ConstantFolding"
    s.conf.set(key, other)
    ensure_session_confs(s)
    ensure_session_confs(s)
    assert s.conf.get(key).split(",") == [other, rule]

    assert {k: spark.conf.get(k) for k in ENGINE_SQL_CONFS} == before
