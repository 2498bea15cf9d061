"""Spark session, working directory and process hygiene for the benchmark.

The engine is imported from the checkout that holds this directory, and
every file the benchmark or Spark writes lands under
``<checkout>/.perfbench/`` (shuffle files, the event log, the JVM's
temp dir), so a run reads and writes only inside its checkout.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: the frozen query inputs (a copy of the sf0.01 test tables)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
#: scratch root for every run; listed in .gitignore
OUT_ROOT = os.path.join(ROOT, ".perfbench")

CORES = 4
HEAP = "1536m"


class EngineMissing(RuntimeError):
    """The checkout holds no engine package next to the benchmark."""


def import_engine() -> None:
    """Put the checkout on the import path of this process and of the
    Python workers Spark forks (UDF queries import the engine there)."""
    pkg = os.path.join(ROOT, "data_pipeline_example_spark", "__init__.py")
    if not os.path.isfile(pkg):
        raise EngineMissing(f"no engine package at {os.path.dirname(pkg)}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    parts = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if ROOT not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *parts])


def make_work_dir(tag: str) -> str:
    path = os.path.join(OUT_ROOT, f"{tag}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def start_spark(work: str, event_dir: str | None = None):
    """The engine's session factory on ``local[4]`` with 4 shuffle
    partitions; with ``event_dir`` an uncompressed, non-rolling event
    log is written there."""
    from data_pipeline_example_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # spark-submit's short-lived launcher JVM takes its options from here
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the heap grows as the run needs it, so peak RSS follows the
        # program's memory use; no perf-data file, which the JVM would
        # write under /tmp
        "spark.driver.memory": HEAP,
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "1000",
        "spark.python.worker.reuse": "true",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM plus this process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit; its Python
    worker daemons exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - any failure to exit ends in a kill
        proc.kill()
        proc.wait(timeout=30)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def now() -> float:
    return time.perf_counter()
