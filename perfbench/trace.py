"""Traced-run instrumentation, installed from outside the engine.

Three sources:

1. :class:`Tracer` wraps dvx's public functions and ``LakeTable``
   methods. Each call becomes an in-memory span (name, layer, start,
   end, batch epoch, thread); nothing is written until the run ends.
2. :class:`ProgressLog` (a ``StreamingQueryListener``, also used by the
   untraced runs) keeps every micro-batch's ``durationMs`` breakdown.
3. The Spark event log (``spark.eventLog.*`` through
   ``get_spark(extra_conf=...)``), parsed after the session stops by
   :func:`read_event_log` for job / stage / task counts, bytes and
   scheduler-pool attribution.

The engine's own ``DVX_PROFILE_*`` prints are neither read nor set.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict

# (module, attribute, layer) of the engine entry points wrapped in a
# traced run. Functions are patched where their caller looks them up:
# dvx.stream imported ``apply_batch`` by name, so it is patched there.
FUNCTIONS = [
    ("dvx.stream", "ingest_batch", "apply"),
    ("dvx.stream", "apply_batch", "apply"),
    ("dvx.apply", "prepare_batch", "prepare"),
    ("dvx.apply", "_bloom_scan", "bloom"),
    ("dvx.evolve", "evolve_for_batch", "evolve"),
    ("dvx.metadata", "log_epoch_lineage", "metadata"),
    ("dvx.session", "warm_start", "session"),
]

LAKE_OPS = (
    "append", "append_rows", "upsert_delta", "compact_deltas",
    "delete_keys_insert", "stage_write", "commit_staged",
    "compact_tombstones", "overwrite_partitions", "replace_buckets",
)


class Span:
    __slots__ = ("name", "layer", "start", "end", "epoch", "thread", "attrs")

    def __init__(self, name, layer, start, epoch, thread):
        self.name, self.layer, self.start = name, layer, start
        self.end = start
        self.epoch, self.thread, self.attrs = epoch, thread, {}

    def as_dict(self) -> dict:
        return {
            "name": self.name, "layer": self.layer, "start": self.start,
            "end": self.end, "epoch": self.epoch, "thread": self.thread,
            **self.attrs,
        }


class Tracer:
    """Span recorder. ``enabled=False`` makes :meth:`span` a plain timer
    and :meth:`install` a no-op, so the untraced path runs no wrapper."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.epoch: int | None = None  # batch being applied (one at a time)
        self._lock = threading.Lock()

    # -- spans -------------------------------------------------------
    def span(self, name: str, layer: str, **attrs):
        return _SpanCtx(self, name, layer, attrs)

    def _record(self, s: Span) -> None:
        if self.enabled:
            with self._lock:
                self.spans.append(s)

    # -- wrappers ----------------------------------------------------
    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = {}
            if layer.startswith("lake"):  # a LakeTable method
                attrs["table"] = os.path.basename(args[0].root)
            if layer == "lake_read":
                b = kwargs.get("buckets")
                attrs["buckets"] = None if b is None else len(b)
            if name == "apply.ingest_batch":  # (vault, batch, epoch_id, ...)
                tracer.epoch = args[2] if len(args) > 2 else kwargs["epoch_id"]
            with tracer.span(name, layer, **attrs):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        if not self.enabled:
            return
        import importlib

        from dvx.lake import LakeTable

        for mod_name, attr, layer in FUNCTIONS:
            mod = importlib.import_module(mod_name)
            name = f"{layer}.{attr.lstrip('_')}"
            setattr(mod, attr, self._wrap(getattr(mod, attr), name, layer))
        for op in LAKE_OPS:
            setattr(LakeTable, op, self._wrap(getattr(LakeTable, op), op, "lake"))
        LakeTable.read = self._wrap(LakeTable.read, "read", "lake_read")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str, attrs: dict):
        self.tracer, self.name, self.layer, self.attrs = tracer, name, layer, attrs
        self.span: Span | None = None

    def __enter__(self) -> Span:
        self.span = Span(self.name, self.layer, time.time(), self.tracer.epoch,
                         threading.current_thread().name)
        self.span.attrs.update(self.attrs)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.time()
        if exc[0] is not None:
            self.span.attrs["error"] = repr(exc[1])
        self.tracer._record(self.span)


def make_progress_log(spark):
    """A ``StreamingQueryListener`` that keeps every progress event's
    ``durationMs`` breakdown; ``.batches`` is a list of dicts."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.batches.append({
                "batch": p.batchId,
                "rows": p.numInputRows,
                "timestamp": p.timestamp,
                **{k: v / 1000.0 for k, v in p.durationMs.items()},
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def wait_for(self, n: int, timeout: float = 30.0) -> None:
            """Progress events arrive asynchronously after the query
            returns; wait until ``n`` have been seen."""
            deadline = time.time() + timeout
            while len(self.batches) < n and time.time() < deadline:
                time.sleep(0.05)

    log = ProgressLog()
    spark.streams.addListener(log)
    return log


# ---------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------


def _event_files(log_dir: str):
    """(application, file) pairs in log order: a single-file log, or a
    rolling log directory of ``events_<n>_<app>`` parts."""
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        if not os.path.isdir(path):
            yield app, path
            continue
        parts = glob.glob(os.path.join(path, "events_*"))
        for part in sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])):
            yield app, part


def read_event_log(log_dir: str) -> dict:
    """Jobs and stages of every application logged under ``log_dir``.

    Returns ``{"jobs": [...], "stages": {id: {...}}}``; a job carries its
    submission / completion time (seconds), scheduler pool, job group
    and stage ids; a stage carries its task count, summed task metrics
    and task (launch, finish) intervals."""
    jobs: dict[tuple[str, int], dict] = {}
    stages: dict[tuple[str, int], dict] = defaultdict(
        lambda: {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                 "shuffle_write": 0, "spill": 0, "done": False, "intervals": []}
    )
    for app, path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[(app, ev["Job ID"])] = {
                        "app": app,
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "pool": props.get("spark.scheduler.pool") or "default",
                        "group": props.get("spark.jobGroup.id"),
                        "stages": [(app, s) for s in ev.get("Stage IDs", [])],
                    }
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get((app, ev["Job ID"]))
                    if j is not None:
                        j["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    stages[(app, ev["Stage Info"]["Stage ID"])]["done"] = True
                elif kind == "SparkListenerTaskEnd":
                    st = stages[(app, ev["Stage ID"])]
                    m = ev.get("Task Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    st["intervals"].append(
                        (ti.get("Launch Time", 0) / 1000.0, ti.get("Finish Time", 0) / 1000.0)
                    )
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    out_jobs = []
    seen: set = set()
    for j in sorted(jobs.values(), key=lambda j: j["submit"]):
        if j["end"] is None:
            j["end"] = j["submit"]
        # a stage shared by several jobs (reused exchange) counts once,
        # for the first job that lists it
        j["stages"] = [s for s in j["stages"] if stages[s]["done"] and s not in seen]
        seen.update(j["stages"])
        out_jobs.append(j)
    return {"jobs": out_jobs, "stages": dict(stages)}


def job_totals(jobs: list[dict], stages: dict) -> dict:
    """Summed counts and bytes of ``jobs``."""
    sts = [stages[s] for j in jobs for s in j["stages"]]
    return {
        "jobs": len(jobs),
        "stages": len(sts),
        "tasks": sum(s["tasks"] for s in sts),
        "task_s": sum(s["run_s"] for s in sts),
        "cpu_s": sum(s["cpu_s"] for s in sts),
        "gc_s": sum(s["gc_s"] for s in sts),
        "shuffle_write": sum(s["shuffle_write"] for s in sts),
        "spill": sum(s["spill"] for s in sts),
    }


# ---------------------------------------------------------------------
# interval arithmetic
# ---------------------------------------------------------------------


def union_s(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals: busy time of
    a layer whose calls overlap (the merges run concurrently)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of it
    covered by spans nested inside it. A child may run on another
    thread (apply_batch fans its merges out to a pool), so nesting is
    by interval, not by thread."""
    ordered = sorted(spans, key=lambda s: (s.start, -s.end))
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(ordered):
        inner = []
        for c in ordered[i + 1:]:
            if c.start > s.end:
                break
            if c.end <= s.end:
                inner.append((c.start, c.end))
        out[s.layer] += (s.end - s.start) - union_s(inner)
    return dict(out)


def write_spans(path: str, spans: list[Span]) -> None:
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s.as_dict()) + "\n")
