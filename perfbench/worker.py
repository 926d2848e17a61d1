"""One benchmark run in a fresh process, and so in a fresh JVM.

Started by ``run.py`` with a private TMPDIR and SPARK_LOCAL_DIRS. Sets up the
session, runs one cold pass (unless ``--cold 0``), one warm-up pass and then
measured passes for
``--seconds`` (at least ``MIN_WARM_PASSES``), and writes
its timings (and, with ``--trace 1``, its spans and per-layer metrics) to
``--out``. The warm-up pass, which no metric uses, collects every query's rows
into ``--rows`` for the oracle check in place of the ``noop`` write, so every
pass runs each query exactly once.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import pickle
import random
import statistics
import sys
import threading
import time
import traceback

QUERY_TIMEOUT_S = 60.0
FLOOR_REPS = 7
GC_ROUNDS = 3
GC_PAUSE_S = 0.25
# Each of the first passes after the cold one still runs faster than the last
# (JIT), so the first is a warm-up outside the metrics, and a fixed number of
# measured passes keeps that drift the same in every run.
WARMUP_PASSES = 1
MIN_WARM_PASSES = 2


def floor_probe(spark) -> float:
    """Per-job floor in ms: median wall time of the trivial one-task noop job
    that ``bench/isolate.py`` probes (its 32-task shuffle half is left out to
    keep the probe under a second)."""
    times = []
    for _ in range(FLOOR_REPS):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3


def jvm_stats(spark) -> tuple[float, float]:
    """(live heap MB after a full GC, peak RSS MB) of the session's JVM.

    The live heap is the smallest post-GC heap over ``GC_ROUNDS`` collections
    spaced ``GC_PAUSE_S`` apart: Spark's ContextCleaner frees broadcasts and
    shuffles only after a GC has enqueued their references, so a single
    collection can still count them."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    heap_pools = [p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]
    live = []
    for _ in range(GC_ROUNDS):
        jvm.java.lang.System.gc()
        time.sleep(GC_PAUSE_S)
        live.append(sum(p.getCollectionUsage().getUsed() for p in heap_pools) / 2**20)
    pid = jvm.java.lang.ProcessHandle.current().pid()
    peak_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                peak_kb = int(line.split()[1])
    return min(live), peak_kb / 1024


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--rows", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cold", type=int, default=1, help="0: skip the cold pass")
    ap.add_argument("--eventlog", required=True)
    ap.add_argument("--t0", type=float, required=True, help="wall time the parent spawned us")
    args = ap.parse_args()

    t_a = time.perf_counter()
    from rtcdb_spark.session import get_spark

    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    t_b = time.perf_counter()
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark.sparkContext)
        tracer.install()
    from rtcdb_spark.queries import REGISTRY

    t_c = time.perf_counter()
    result: dict = {
        "setup_s": time.time() - args.t0,
        "session.start_s": t_b - t_a,
        "session.import_s": t_c - t_b,
    }
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    result["floor_before_ms"] = floor_probe(spark)
    rng = random.Random(args.seed)
    rows: dict = {}
    errors: list[dict] = []

    @contextlib.contextmanager
    def span(layer: str, name: str):
        if tracer is None:
            yield
            return
        s = tracer.open(layer, name)
        try:
            yield
        finally:
            tracer.close(s)

    def one_pass(pass_no: int, order: list[str], collect: bool = False) -> dict[str, float]:
        """Run every query once; returns {query: seconds} of build + exec.

        With ``collect`` the exec step collects the rows for the oracle check
        instead of writing them to the ``noop`` sink."""
        if tracer is not None:
            tracer.pass_no = pass_no
        latency = {}
        for name in order:
            fn = REGISTRY[name].fn
            watchdog = threading.Timer(QUERY_TIMEOUT_S, sc.cancelAllJobs)
            watchdog.start()
            try:
                t0 = time.perf_counter()
                with span("query", name):
                    with span("build", name):
                        df = fn(spark, args.input)
                    with span("exec", name):
                        if collect:
                            out = [tuple(r) for r in df.collect()]
                            rows[name] = (list(df.columns), out, REGISTRY[name].oracle)
                        else:
                            df.write.format("noop").mode("overwrite").save()
                latency[name] = time.perf_counter() - t0
            except Exception:
                errors.append({"pass": pass_no, "query": name, "error": traceback.format_exc(limit=3)})
            finally:
                watchdog.cancel()
                spark.catalog.clearCache()
        return latency

    phase = {"floor_before": time.perf_counter() - t_c}
    t = time.perf_counter()
    # The cold pass keeps the listed order: its first query pays the JVM's
    # warm-up, so a seeded first query would make cold_pass_s vary by seed.
    result["cold"] = one_pass(0, list(workload.queries)) if args.cold else {}
    phase["cold"] = time.perf_counter() - t
    t = time.perf_counter()
    warm = []
    deadline = time.perf_counter() + args.seconds
    while len(warm) < WARMUP_PASSES + MIN_WARM_PASSES or time.perf_counter() < deadline:
        order = list(workload.queries)
        rng.shuffle(order)
        warm.append(one_pass(len(warm) + 1, order, collect=len(warm) == 0))
    result["warmup"], warm = warm[:WARMUP_PASSES], warm[WARMUP_PASSES:]
    result["warm"] = warm
    phase["warm"] = time.perf_counter() - t
    t = time.perf_counter()
    result["floor_after_ms"] = floor_probe(spark)
    result["retained_heap_mb"], result["jvm.peak_rss_mb"] = jvm_stats(spark)
    phase["floor_after_and_heap"] = time.perf_counter() - t
    t = time.perf_counter()
    result["errors"] = errors
    result["passes"] = list(range(0 if args.cold else 1, 1 + WARMUP_PASSES + len(warm)))
    result["executions"] = len(result["passes"]) * len(workload.queries)
    spark.stop()
    phase["stop"] = time.perf_counter() - t
    result["phase_s"] = phase

    if tracer is not None:
        from spans import layer_metrics, read_event_log, span_records

        events = read_event_log(args.eventlog)
        measured = range(WARMUP_PASSES + 1, WARMUP_PASSES + len(warm) + 1)
        result["layers"], result["breakdown"] = layer_metrics(tracer, events, list(measured))
        result["spans"] = span_records(tracer)
    with open(args.rows, "wb") as fh:
        pickle.dump(rows, fh)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
