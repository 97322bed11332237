"""Tracing for the traced benchmark run: in-memory spans around the
package's public calls, and per-op Spark task metrics from the event log.

Spans are recorded only from the benchmark's side of the package boundary:
:func:`instrument` wraps public methods of ``TierPipeline``,
``SnapshotTable`` and ``CheckpointLog`` at class level for the life of one
benchmark process. The package files themselves are not touched.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float  # epoch seconds (comparable with Spark event-log times)
    end: float
    parent: int | None
    thread: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans in memory; :meth:`dump` writes them once at the end.

    Parents come from a per-thread stack. The pipeline runs its two chains
    on pool threads whose stacks are empty; their spans take the innermost
    span open on the thread that started tracing (the call they serve)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._main = threading.get_ident()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str):
        """Record one span around the block; yields a dict of attributes
        the block may fill in."""
        st = self._stack()
        try:
            parent = (st or self._main_stack)[-1]
        except IndexError:  # a root span, or the main stack just emptied
            parent = None
        with self._lock:
            sid = self._next
            self._next += 1
        st.append(sid)
        attrs: dict = {}
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            st.pop()
            sp = Span(sid, name, layer, start, end, parent,
                      threading.current_thread().name, attrs)
            with self._lock:
                self.spans.append(sp)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([sp.__dict__ for sp in self.spans], f)


def self_times(spans: list[Span], lo: float, hi: float) -> dict[str, float]:
    """Per-layer self time inside [lo, hi]: each span's duration minus the
    part of it covered by its children (union of child intervals)."""
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out: dict[str, float] = {}
    for sp in spans:
        if sp.start < lo or sp.end > hi:
            continue
        ivs = sorted((max(c.start, sp.start), min(c.end, sp.end))
                     for c in kids.get(sp.sid, []))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sp.layer] = out.get(sp.layer, 0.0) + (sp.end - sp.start) - covered
    return out


# public methods wrapped per class; the attrs hook records what each call
# did from its public return value / public state
# (``upsert`` is left out: it commits through ``overwrite_partitions``, and
# the workloads never call it)
_SNAPSHOT_WRITES = ("append", "overwrite_partitions", "overwrite_all",
                    "stage_all", "compact")
_SNAPSHOT_COMMITS = ("append", "overwrite_partitions", "overwrite_all",
                     "commit_staged", "drop_partitions", "compact")


def instrument(tracer: Tracer):
    """Wrap the package's public calls in spans; returns an undo callable."""
    from kfts_insar_spark.checkpoint import CheckpointLog
    from kfts_insar_spark.pipeline import TierPipeline
    from kfts_insar_spark.sources.snapshot import SnapshotTable

    undo: list[tuple[type, str, object]] = []

    def wrap(cls, meth, layer, attrs_fn=None):
        orig = getattr(cls, meth)
        undo.append((cls, meth, orig))

        @functools.wraps(orig)
        def inner(self, *a, **kw):
            if not tracer.enabled:
                return orig(self, *a, **kw)
            with tracer.span(f"{cls.__name__}.{meth}", layer) as attrs:
                res = orig(self, *a, **kw)
                if attrs_fn is not None:
                    attrs.update(attrs_fn(self, res))
                return res

        setattr(cls, meth, inner)

    def table_name(t) -> str:
        return os.path.basename(t.path.rstrip("/"))

    def files_attrs(files):
        return {"rows": sum(e.get("rows", 0) for e in files),
                "bytes": sum(e.get("bytes", 0) for e in files)}

    def written(t, res):
        return {"table": table_name(t), **files_attrs(t.last_commit_files)}

    def staged(t, res):
        # stage_all hands its files back instead of recording them
        return {"table": table_name(t), **files_attrs(res["files"])}

    def named(t, res):
        return {"table": table_name(t)}

    for m in ("run", "maintain", "expire_raw_before", "read_tier"):
        wrap(TierPipeline, m, "pipeline")
    for m in set(_SNAPSHOT_WRITES) | set(_SNAPSHOT_COMMITS):
        attrs = staged if m == "stage_all" else (
            written if m in _SNAPSHOT_WRITES else named)
        wrap(SnapshotTable, m, "snapshot", attrs)
    for m in ("manifest", "snapshots", "read"):
        wrap(SnapshotTable, m, "snapshot", named)
    wrap(CheckpointLog, "record", "checkpoint")

    def restore():
        for cls, meth, orig in reversed(undo):
            setattr(cls, meth, orig)

    return restore


def op_metrics(spans: list[Span], lo: float, hi: float) -> dict[str, float]:
    """Counts from the spans of one op window [lo, hi]."""
    inside = [s for s in spans if s.start >= lo and s.end <= hi]
    writes = [s for s in inside if s.name.split(".")[-1] in _SNAPSHOT_WRITES]
    return {
        "commits": sum(1 for s in inside
                       if s.name.split(".")[-1] in _SNAPSHOT_COMMITS
                       and s.name.startswith("SnapshotTable.")),
        "manifest_reads": sum(1 for s in inside
                              if s.name in ("SnapshotTable.manifest",
                                            "SnapshotTable.snapshots")),
        "write_s": sum(s.end - s.start for s in writes),
        "bytes_written": sum(s.attrs.get("bytes", 0) for s in writes),
        "checkpoint_records": sum(1 for s in inside if s.layer == "checkpoint"),
        "checkpoint_record_s": sum(s.end - s.start for s in inside
                                   if s.layer == "checkpoint"),
    }


# ------------------------------------------------------------ event log
def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from the uncompressed Spark event log(s) under
    ``log_dir`` (single files, or the rolling ``eventlog_v2_*`` dirs)."""
    jobs: list[dict] = []
    tasks: list[dict] = []
    files = sorted(os.path.join(r, f) for r, _d, fs in os.walk(log_dir) for f in fs
                   if not f.startswith(("appstatus", ".")))
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    jobs.append({"t": ev["Submission Time"] / 1000.0})
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "launch": info.get("Launch Time", 0) / 1000.0,
                        "finish": info.get("Finish Time", 0) / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                    })
    return jobs, tasks


def spark_op_metrics(jobs, tasks, lo: float, hi: float, cores: int) -> dict:
    """Spark work attributed to one op by time: jobs submitted and tasks
    launched inside [lo, hi] (ops run one at a time on the driver)."""
    ts = [t for t in tasks if lo <= t["launch"] <= hi]
    busy = sum(t["finish"] - t["launch"] for t in ts)
    return {
        "jobs": sum(1 for j in jobs if lo <= j["t"] <= hi),
        "tasks": len(ts),
        "task_busy_frac": busy / max(1e-9, (hi - lo) * cores),
        "executor_run_s": sum(t["run_s"] for t in ts),
        "executor_cpu_s": sum(t["cpu_s"] for t in ts),
        "shuffle_write_bytes": sum(t["shuffle_w"] for t in ts),
        "spill_bytes": sum(t["spill"] for t in ts),
        "gc_s": sum(t["gc_s"] for t in ts),
    }
