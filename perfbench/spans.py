"""Spans around the calls into each engine layer, and the metrics built from them.

Only the benchmark's own files are instrumented: ``Tracer.install`` replaces
the public functions of each layer module (and the public methods of
``VersionedTable``) with wrappers that open a span, so it must run before
``rtcdb_spark.queries`` is imported for the queries' ``from ... import``
bindings to pick the wrappers up. Spans are kept in memory. Each span sets the
Spark job group to its own id, so every job — and through the event log every
task — is attributed to the innermost open span. Streaming micro-batches run
on the stream's own thread, which copies the job group of the span that
started the stream.

Wrappers keep the wrapped function's ``__module__`` and ``__qualname__``
(``functools.wraps``), so cloudpickle still pickles them by reference and
Python workers run the original, unwrapped code.
"""

from __future__ import annotations

import datetime as dt
import functools
import glob
import inspect
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

# Layer name -> module whose public functions form the layer's surface.
LAYER_MODULES = {
    "sources.tables": ["rtcdb_spark.sources.tables"],
    "sources.delta_log": ["rtcdb_spark.sources.delta_log"],
    "streaming": [
        "rtcdb_spark.streaming.events",
        "rtcdb_spark.streaming.sinks",
        "rtcdb_spark.streaming.stateful",
        "rtcdb_spark.streaming.dedup",
    ],
}
# The eager loops of functions/: each round runs Spark jobs from the Python
# side, so their time is build time that no plan shows.
LOOP_KERNELS = {
    "rtcdb_spark.functions.graph": ["pagerank"],
    "rtcdb_spark.functions.dedup": ["connected_components_star"],
    "rtcdb_spark.functions.similarity": ["kmeans_centroids", "pq_train"],
}
MB = 1024 * 1024


@dataclass
class Span:
    id: str
    layer: str  # "query", "build", "exec", "drain" or a layer name
    name: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)
    pass_no: int = -1

    @property
    def dur(self) -> float:
        return self.end - self.start

    def phase(self) -> str:
        """``build`` or ``exec``: the child of the query span this span is in."""
        s = self
        while s.parent is not None and s.parent.parent is not None:
            s = s.parent
        return s.layer if s.parent is not None else "query"


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.by_id: dict[str, Span] = {}
        self.stack: list[Span] = []
        self.commits: dict[tuple[str, str], int] = defaultdict(int)  # (layer, span id) -> count
        self.pass_no = -1

    # -- spans ----------------------------------------------------------

    def open(self, layer: str, name: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        s = Span(f"s{len(self.spans)}", layer, name, parent, time.time(), pass_no=self.pass_no)
        if parent is not None:
            parent.children.append(s)
        self.spans.append(s)
        self.by_id[s.id] = s
        self.stack.append(s)
        self.sc.setJobGroup(s.id, f"{layer}:{name}")
        return s

    def close(self, s: Span) -> None:
        s.end = time.time()
        self.stack.pop()
        if self.stack:
            self.sc.setJobGroup(self.stack[-1].id, self.stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.stack:  # outside a measured query (e.g. import time)
                return fn(*args, **kwargs)
            s = self.open(layer, fn.__qualname__)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(s)

        return traced

    def count_commit(self, fn, layer: str):
        @functools.wraps(fn)
        def counted(*args, **kwargs):
            out = fn(*args, **kwargs)
            if self.stack and out is not False:  # False: lost a commit race
                self.commits[(layer, self.stack[-1].id)] += 1
            return out

        return counted

    def install(self) -> None:
        """Wrap every layer's public functions. Call before importing queries."""
        import importlib
        import sys

        from rtcdb_spark.sources import delta_log, versioned

        wrapped = {}  # original function -> wrapper
        for layer, mods in LAYER_MODULES.items():
            for name in mods:
                mod = importlib.import_module(name)
                for attr, obj in list(vars(mod).items()):
                    if inspect.isfunction(obj) and not attr.startswith("_") and obj.__module__ == name:
                        wrapped[obj] = self.wrap(obj, layer)
        for name, fns in LOOP_KERNELS.items():
            mod = importlib.import_module(name)
            for fn in fns:
                wrapped[getattr(mod, fn)] = self.wrap(getattr(mod, fn), "functions")
        # Every Delta commit file goes through _write_commit.
        wrapped[delta_log._write_commit] = self.count_commit(delta_log._write_commit, "sources.delta_log")
        # Rebind the wrappers wherever a loaded engine module holds the
        # original: in the defining module and in package re-exports.
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("rtcdb_spark") and mod is not None:
                for attr, obj in list(vars(mod).items()):
                    if inspect.isfunction(obj) and obj in wrapped:
                        setattr(mod, attr, wrapped[obj])
        cls = versioned.VersionedTable
        for attr, obj in list(vars(cls).items()):
            if inspect.isfunction(obj) and not attr.startswith("_"):
                setattr(cls, attr, self.wrap(obj, "sources.versioned"))
        # Every versioned snapshot is published by _try_publish.
        cls._try_publish = self.count_commit(cls._try_publish, "sources.versioned")
        from pyspark.sql.streaming.query import StreamingQuery

        for attr in ("awaitTermination", "processAllAvailable"):
            setattr(StreamingQuery, attr, self.wrap(getattr(StreamingQuery, attr), "drain"))


# -- event log -------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (rolling, uncompressed) event logs under ``log_dir``."""
    files = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    files.sort(key=lambda f: (os.path.dirname(f), int(os.path.basename(f).split("_")[1])))
    events = []
    for path in files:
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    inp = m.get("Input Metrics", {})
    out = m.get("Output Metrics", {})
    run_ms = m.get("Executor Run Time", 0)
    deser_ms = m.get("Executor Deserialize Time", 0)
    total_ms = info["Finish Time"] - info["Launch Time"]
    rows_in = inp.get("Records Read", 0) + sr.get("Total Records Read", 0)
    rows_out = out.get("Records Written", 0) + sw.get("Shuffle Records Written", 0)
    return {
        "executor_run_s": run_ms / 1e3,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "deserialize_s": deser_ms / 1e3,
        "scheduler_delay_s": max(
            0,
            total_ms
            - run_ms
            - deser_ms
            - m.get("Result Serialization Time", 0)
            - (info.get("Getting Result Time") or 0),
        )
        / 1e3,
        "shuffle_read_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / MB,
        "spill_mb": (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB,
        "input_rows": inp.get("Records Read", 0),
        "input_mb": inp.get("Bytes Read", 0) / MB,
        "output_mb": out.get("Bytes Written", 0) / MB,
        "task_failures": int(
            info.get("Failed", False) or ev.get("Task End Reason", {}).get("Reason") != "Success"
        ),
        "empty": int(rows_in == 0 and rows_out == 0),
    }


def _iso_epoch(ts: str) -> float:
    return dt.datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


# -- per-layer metrics -------------------------------------------------------

_SPARK_SUMS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "deserialize_s",
    "scheduler_delay_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "input_rows",
    "input_mb",
    "task_failures",
)
_PROGRESS_DURATIONS = {
    "get_batch_s": "getBatch",
    "query_planning_s": "queryPlanning",
    "add_batch_s": "addBatch",
    "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets",
}


# Every metric layer_metrics returns, per warm pass.
LAYER_METRICS = (
    [f"build.{k}" for k in ("s", "jobs", "tasks")]
    + [f"exec.{k}" for k in ("s", "jobs", "stages", "tasks")]
    + [f"spark.{k}" for k in _SPARK_SUMS + ("python_s", "empty_task_ratio")]
    + [f"sources.tables.{k}" for k in ("calls", "s")]
    + [f"sources.delta_log.{k}" for k in ("calls", "s", "self_s", "jobs", "commits", "bytes_written_mb")]
    + [f"sources.versioned.{k}" for k in ("calls", "s", "commits", "bytes_written_mb")]
    + [f"streaming.{k}" for k in ("drains", "drain_s", "batches", "input_rows")]
    + [f"streaming.{k}" for k in _PROGRESS_DURATIONS]
    + [f"streaming.{k}" for k in ("state_rows", "state_memory_mb", "state_commit_s", "empty_batch_ratio")]
    + ["functions.loop_s", "functions.loop_jobs"]
)


def _outermost(spans: list[Span], layer: str) -> list[Span]:
    """Spans of ``layer`` with no ancestor of the same layer."""
    out = []
    for s in spans:
        if s.layer != layer:
            continue
        p = s.parent
        while p is not None and p.layer != layer:
            p = p.parent
        if p is None:
            out.append(s)
    return out


def _self_time(s: Span) -> float:
    """Duration minus the time covered by spans of other layers below it."""
    return s.dur - sum(
        c.dur if c.layer != s.layer else c.dur - _self_time(c) for c in s.children
    )


def layer_metrics(tracer: Tracer, events: list[dict], passes: list[int]) -> tuple[dict, dict]:
    """Per-pass means over ``passes`` of every per-layer metric.

    Returns ``(metrics, breakdown)``: ``breakdown`` holds the Spark task
    totals per phase and per innermost span layer, for the trace file.
    """
    n = len(passes)
    spans = [s for s in tracer.spans if s.pass_no in passes]
    totals = dict.fromkeys(LAYER_METRICS, 0.0)

    # Jobs and tasks, attributed through the job group to the innermost span.
    stage_job: dict[int, int] = {}
    job_span: dict[int, Span] = {}
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            span = tracer.by_id.get(group)
            if span is None or span.pass_no not in passes:
                continue
            job_span[ev["Job ID"]] = span
            for st in ev["Stage IDs"]:
                stage_job.setdefault(st, ev["Job ID"])
    phases = ("build", "exec")
    for span in job_span.values():
        if span.phase() in phases:
            totals[f"{span.phase()}.jobs"] += 1
        if span.layer == "sources.delta_log":
            totals["sources.delta_log.jobs"] += 1
        if span.layer == "functions":
            totals["functions.loop_jobs"] += 1
    breakdown: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    exec_stages = set()
    n_tasks = n_empty = 0
    for ev in events:
        if ev["Event"] != "SparkListenerTaskEnd":
            continue
        job = stage_job.get(ev["Stage ID"])
        span = job_span.get(job)
        if span is None:
            continue
        row = _task_row(ev)
        phase = span.phase()
        if phase in phases:
            totals[f"{phase}.tasks"] += 1
        if phase == "exec":
            exec_stages.add(ev["Stage ID"])
        n_tasks += 1
        n_empty += row["empty"]
        for k in _SPARK_SUMS:
            totals[f"spark.{k}"] += row[k]
        for key in (f"phase:{phase}", f"layer:{span.layer}"):
            for k in _SPARK_SUMS:
                breakdown[key][k] += row[k]
            breakdown[key]["tasks"] += 1
        if span.layer in ("sources.delta_log", "sources.versioned"):
            totals[f"{span.layer}.bytes_written_mb"] += row["output_mb"]
    totals["exec.stages"] = len(exec_stages)
    totals["spark.python_s"] = max(0.0, totals["spark.executor_run_s"] - totals["spark.executor_cpu_s"])

    # Spans: phases, layer calls, self time, commits, drains.
    for s in spans:
        if s.layer in ("build", "exec"):
            totals[f"{s.layer}.s"] += s.dur
    for layer in ("sources.tables", "sources.delta_log", "sources.versioned"):
        outer = _outermost(spans, layer)
        totals[f"{layer}.calls"] += len(outer)
        totals[f"{layer}.s"] += sum(s.dur for s in outer)
    totals["sources.delta_log.self_s"] = sum(
        _self_time(s) for s in _outermost(spans, "sources.delta_log")
    )
    drains = _outermost(spans, "drain")
    totals["streaming.drains"] = len(drains)
    totals["streaming.drain_s"] = sum(s.dur for s in drains)
    loops = _outermost(spans, "functions")
    totals["functions.loop_s"] = sum(s.dur for s in loops)
    for (layer, sid), k in tracer.commits.items():
        if tracer.by_id[sid].pass_no in passes:
            totals[f"{layer}.commits"] += k

    # Micro-batch progress from the event log, attributed by trigger time to
    # the query span it ran in.
    roots = [s for s in spans if s.layer == "query"]
    batches = empty_batches = 0
    for ev in events:
        if not ev["Event"].endswith("QueryProgressEvent"):
            continue
        p = ev["progress"]
        t = _iso_epoch(p["timestamp"])
        if not any(r.start <= t <= r.end for r in roots):
            continue
        batches += 1
        rows = sum(src.get("numInputRows", 0) for src in p.get("sources") or [])
        empty_batches += int(rows == 0)
        totals["streaming.input_rows"] += rows
        d = p.get("durationMs") or {}
        for k, src in _PROGRESS_DURATIONS.items():
            totals[f"streaming.{k}"] += d.get(src, 0) / 1e3
        for op in p.get("stateOperators") or []:
            totals["streaming.state_rows"] += op.get("numRowsTotal", 0)
            totals["streaming.state_memory_mb"] += op.get("memoryUsedBytes", 0) / MB
            totals["streaming.state_commit_s"] += op.get("commitTimeMs", 0) / 1e3
    totals["streaming.batches"] = batches

    metrics = {k: v / n for k, v in totals.items()}
    metrics["spark.empty_task_ratio"] = n_empty / n_tasks if n_tasks else 0.0
    metrics["streaming.empty_batch_ratio"] = empty_batches / batches if batches else 0.0
    return metrics, {k: dict(v) for k, v in breakdown.items()}


def span_records(tracer: Tracer) -> list[dict]:
    return [
        {
            "id": s.id,
            "parent": s.parent.id if s.parent else None,
            "layer": s.layer,
            "name": s.name,
            "pass": s.pass_no,
            "start": s.start,
            "dur_s": s.dur,
            "self_s": _self_time(s),
        }
        for s in tracer.spans
    ]
