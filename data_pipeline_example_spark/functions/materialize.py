"""The one checkpoint seam for every eager-construction site.

Many operators cut lineage on a narrow intermediate frame (shingle
tables, signature frames, cuts histograms) — both for the measured
plan-dedup wins and, in some cases, for CORRECTNESS of the plan shape
(`functions/cuts.py` must pin partition ids; Catalyst CollapseProject
re-inlines derived arrays into every lambda reference otherwise).
Historically every such site called ``DataFrame.localCheckpoint()``
literally, which stores blocks in UNREPLICATED executor storage: fine
on a single-JVM bench box, but on a real (preemptible / churning)
cluster an executor loss mid-query makes the frame unrecoverable and
the module docstrings' advice — "swap in a reliable checkpoint dir" —
had no code seam to act on.

:func:`materialize` is that seam. Call sites use the postfix
``df.transform(materialize)`` form (drop-in for ``.localCheckpoint()``
at the end of a builder chain), and the behavior follows the session:
``DataFrame.checkpoint()`` (HDFS/object-store replicated blocks;
survives executor loss — the 100 TB / production setting) when the
session has a checkpoint dir configured, else ``localCheckpoint()``.
Setting the dir with ``sparkContext.setCheckpointDir`` IS the opt-in.

Both paths are eager (run a job at construction time) — the
eager-construction contract in ``operators/text.py`` is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _reliable(spark) -> bool:
    """True when the session has a checkpoint dir configured."""
    try:
        return bool(spark.sparkContext.getCheckpointDir())
    except Exception:  # pragma: no cover - connect-mode sessions
        return False


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage on ``df`` eagerly, reliably when the session has a
    checkpoint dir.

    Drop-in for ``.localCheckpoint()`` via ``df.transform(materialize)``.
    """
    if _reliable(df.sparkSession):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def materialize_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """:func:`materialize` + the frame's row count.

    Iterative operators (connected components, k-core peeling,
    PageRank) need both a lineage cut and a row count per round — for
    convergence tests or sizing. The count here scans the
    just-materialized blocks (no shuffle, no recompute), which
    measured ~0.16 s against ~0.4 s for an ``observe`` metric riding
    the checkpoint job (the CollectMetrics node slows the checkpoint
    itself more than the extra scan costs) and far under re-deriving
    the frame. Returns ``(checkpointed_frame, n_rows)``.
    """
    out = materialize(df)
    return out, out.count()


def materialize_disk(df: DataFrame) -> DataFrame:
    """:func:`materialize` for CORPUS-SIZED frames (token/line arrays,
    i.e. roughly the text volume itself). The reliable path is unchanged
    — a replicated checkpoint is already disk-backed. The local path is an
    eager ``localCheckpoint`` at ``DISK_ONLY`` instead of the default
    MEMORY_AND_DISK: those blocks sit in the unified region, so a
    corpus-sized frame evicts execution memory and thrashes GC — the
    r15 sf100 sweep measured ``substring_dedup``/``gopher_repetition``
    going ~1.4–1.6× per unit data and ``dsir_weights`` OOM-ing a 48 GB
    heap on exactly this. Serialized disk blocks leave the heap to the
    shuffles. Unlike a ``persist``, the checkpoint registers nothing
    in the session's CacheManager: its blocks are released with the
    frame instead of staying pinned for the life of the session."""
    if _reliable(df.sparkSession):
        return df.checkpoint(eager=True)
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
