"""Pure helpers of the benchmark: percentiles, failure ratio, the
construct-job classifier, spans, and the Spark event-log reader.

Nothing here starts Spark; the functions that take a SparkContext only
read its status tracker. Everything is standard library, so the unit
tests in ``perfbench/tests`` run without a JVM.
"""

from __future__ import annotations

import json
import math
import re
import time
from dataclasses import dataclass, field

#: every metric name the benchmark prints must match this
METRIC_NAME = re.compile(r"^[A-Za-z0-9_.-]+$")

#: classes of a construct-phase job, in the order they are reported
JOB_CLASSES = ("schema", "checkpoint", "collect", "other")

_CHECKPOINT_CALLS = ("localCheckpoint", "checkpoint", "count", "isEmpty")


def classify_job(stage_name: str) -> str:
    """Class of a Spark job from the name of its final stage.

    ``parquet at`` is a ``spark.read.parquet`` schema inference;
    ``localCheckpoint``/``checkpoint``/``count``/``isEmpty`` is a
    ``functions.materialize`` cut; ``collect at`` is an operator's
    bounded collect. Everything else (broadcasts, scalar subqueries and
    the adaptive-execution query-stage jobs those actions spawn) is
    ``other``.
    """
    call = stage_name.split(" at ", 1)[0].strip()
    if call == "parquet":
        return "schema"
    if call in _CHECKPOINT_CALLS:
        return "checkpoint"
    if call == "collect":
        return "collect"
    return "other"


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    s = sorted(values)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """Highest percentile of ``values`` that has at least ``beyond``
    samples above it: ``(percentile, value, n)``.

    With ``n`` samples sorted ascending, the value at 1-based rank
    ``n - beyond`` has exactly ``beyond`` samples after it, so it is the
    ``100 * (n - beyond) / n`` th percentile. Fewer than ``beyond + 1``
    samples have no such percentile and raise ``ValueError``.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(f"need more than {beyond} samples for a tail, got {n}")
    s = sorted(values)
    return 100.0 * (n - beyond) / n, s[n - beyond - 1], n


def fail_frac(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("fail_frac needs at least one attempted op")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def close(a: float, b: float, rel: float = 1e-6) -> bool:
    """Float equality up to ``rel`` relative tolerance (NaN equals NaN)."""
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return math.isclose(a, b, rel_tol=rel, abs_tol=rel)


# -- spans -------------------------------------------------------------------


@dataclass
class Spans:
    """In-memory span recorder; ``dump`` writes them as JSON lines."""

    trace_id: str
    records: list[dict] = field(default_factory=list)

    def add(self, name: str, start: float, end: float, parent: str | None = None,
            **attrs) -> None:
        self.records.append(
            {"trace": self.trace_id, "name": name, "start": start, "end": end,
             "parent": parent, **attrs}
        )

    def timed(self, name: str, parent: str | None = None, **attrs) -> "_SpanTimer":
        return _SpanTimer(self, name, parent, attrs)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for r in self.records:
                fh.write(json.dumps(r) + "\n")


class _SpanTimer:
    def __init__(self, spans: Spans, name: str, parent: str | None, attrs: dict):
        self.spans, self.name, self.parent, self.attrs = spans, name, parent, attrs
        self.seconds = 0.0

    def __enter__(self) -> "_SpanTimer":
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        t1 = time.perf_counter()
        self.seconds = t1 - self._t0
        self.spans.add(self.name, self._t0, t1, self.parent, **self.attrs)


# -- job census from the status tracker --------------------------------------


def group_job_classes(sc, group: str) -> dict[str, int]:
    """Count the jobs of one job group by :func:`classify_job`.

    Read right after the op: the tracker keeps only
    ``spark.ui.retainedJobs`` jobs.
    """
    st = sc.statusTracker()
    counts = dict.fromkeys(JOB_CLASSES, 0)
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            raise RuntimeError(f"job {jid} of group {group!r} left the status tracker")
        stage_ids = list(info.stageIds)
        stage = st.getStageInfo(max(stage_ids)) if stage_ids else None
        counts[classify_job(stage.name if stage is not None else "")] += 1
    return counts


# -- event log ---------------------------------------------------------------


@dataclass
class GroupStats:
    """Stage/task totals of the jobs of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    classes: dict[str, int] = field(default_factory=lambda: dict.fromkeys(JOB_CLASSES, 0))

    def add(self, other: "GroupStats") -> None:
        for k in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes", "cpu_ns", "gc_ms"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for k, v in other.classes.items():
            self.classes[k] += v


def read_event_log(path: str) -> dict[str, GroupStats]:
    """Per job group totals from an uncompressed, non-rolling Spark event
    log. Jobs without a group are keyed by ``""``; a stage that several
    jobs share is counted once, under the first job that ran it."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                g = out.setdefault(group, GroupStats())
                g.jobs += 1
                infos = ev.get("Stage Infos") or []
                if infos:
                    final = max(infos, key=lambda s: s["Stage ID"])
                    g.classes[classify_job(final.get("Stage Name", ""))] += 1
                for sid in ev.get("Stage IDs") or []:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"], "")
                out.setdefault(group, GroupStats()).stages += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], "")
                g = out.setdefault(group, GroupStats())
                g.tasks += 1
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                g.spill_bytes += m.get("Disk Bytes Spilled", 0)
                g.cpu_ns += m.get("Executor CPU Time", 0)
                g.gc_ms += m.get("JVM GC Time", 0)
    return out


def sum_groups(stats: dict[str, GroupStats], prefix: str) -> GroupStats:
    total = GroupStats()
    for group, g in stats.items():
        if group.startswith(prefix):
            total.add(g)
    return total
