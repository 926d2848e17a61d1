#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Run from the repository root. The run

1. generates the workload's inputs from ``--seed`` (``gen.py``);
2. starts ``worker.py`` in a fresh process with a private TMPDIR and
   SPARK_LOCAL_DIRS: session set-up, one cold pass in the listed order, then
   passes in seeded orders: one warm-up, then measured passes, at least two
   and for at least ``--seconds``. A pass runs every query once; a query is
   ``REGISTRY[name].fn(spark, dir)`` followed by a write to the ``noop`` sink,
   as in ``bench.run_once``;
3. measures the bytes the worker left in its TMPDIR, then deletes the run's
   private directories;
4. with ``--trace 1``, starts a second, traced worker on the same input
   (Spark event log on, every layer call wrapped in a span) and reports the
   per-layer metrics and the tracing overhead; both workers then skip the
   cold pass;
5. compares each query's rows from the warm-up pass with its ``oracle_sql``
   run by DuckDB on the same input, with the semantics of ``tests/oracle.py``.
   The oracle's answers are cached under ``.perfbench/oracle`` keyed by a
   digest of the input files and the SQL. A mismatch counts every execution
   of the query as failed; it leaves the run correct only for a known
   baseline failure whose own check holds (``checks.py``).

Human-readable lines go first; the last line of stdout is the JSON result.
Spans and the per-span task breakdown of a traced run are written to
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
RUN_TIMEOUT_S = 170.0
EXIT_GRACE_S = 10.0
WORKER_LOG_TAIL = 4000

sys.path[:0] = [HERE, ROOT]
import gen  # noqa: E402
from checks import BASELINE_FAILURES  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _alive(pgid: int) -> bool:
    """Whether any non-zombie process is left in process group ``pgid``."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def reap(p: subprocess.Popen, deadline: float) -> int:
    """Wait for ``p`` (started with ``start_new_session``) until ``deadline``,
    then for every process left in its group (the JVM and its Python
    workers): they get ``EXIT_GRACE_S`` to shut down, then are killed."""
    try:
        p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
    grace = time.time() + EXIT_GRACE_S
    while _alive(p.pid):
        if time.time() > min(grace, deadline):
            os.killpg(p.pid, signal.SIGKILL)
        time.sleep(0.05)
    return p.wait()


class Run:
    """The private directories and environment of one run."""

    def __init__(self, workload: str, seed: int) -> None:
        self.dir = os.path.join(STATE, f"run-{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.input = os.path.join(self.dir, "input")
        os.makedirs(self.input)

    def worker(self, tag: str, args: list[str], deadline: float, trace: bool = False) -> dict:
        """Run ``worker.py`` in a fresh process with private directories under
        ``<run>/<tag>`` and wait for it and every process it left; returns its
        result with the MB it left in its TMPDIR."""
        home = os.path.join(self.dir, tag)
        tmp, local, conf, events = (os.path.join(home, d) for d in ("tmp", "local", "conf", "events"))
        for d in (tmp, local, conf, events):
            os.makedirs(d)
        defaults = ["spark.ui.showConsoleProgress false"]
        if trace:
            # Static confs: they must be in place before the JVM starts.
            defaults += [
                "spark.eventLog.enabled true",
                f"spark.eventLog.dir file://{events}",
                "spark.eventLog.compress false",
            ]
        with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
            fh.write("\n".join(defaults) + "\n")
        # Keep the temp files of both JVMs (Spark's launcher and the session)
        # in the private TMPDIR and their hsperfdata out of /tmp.
        jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        env = dict(os.environ)
        env.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=local,
            SPARK_CONF_DIR=conf,
            SPARK_WAREHOUSE_DIR=os.path.join(tmp, "rtcdb_spark_warehouse"),
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            SPARK_SUBMIT_OPTS=f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} {jvm_opts}".strip(),
            SPARK_LAUNCHER_OPTS=f"{os.environ.get('SPARK_LAUNCHER_OPTS', '')} {jvm_opts}".strip(),
        )
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--input", self.input]
        cmd += ["--out", os.path.join(home, "result.json"), "--rows", os.path.join(home, "rows.pkl")]
        cmd += args + ["--eventlog", events, "--trace", str(int(trace)), "--t0", repr(time.time())]
        with open(os.path.join(home, "worker.log"), "ab") as log:
            p = subprocess.Popen(
                cmd, env=env, cwd=home, stdout=log, stderr=subprocess.STDOUT, start_new_session=True
            )
        rc = reap(p, deadline)
        out = os.path.join(home, "result.json")
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(home, "worker.log"), errors="replace") as fh:
                sys.stderr.write(fh.read()[-WORKER_LOG_TAIL:])
            raise RuntimeError(f"worker {home} exited with {rc}")
        with open(out) as fh:
            res = json.load(fh)
        res["disk_left_mb"] = du(os.path.join(home, "tmp")) / 2**20
        res["home"] = home
        return res

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def input_digest(input_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(input_dir)):
        h.update(name.encode())
        with open(os.path.join(input_dir, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def oracle_check(input_dir: str, outputs: dict) -> tuple[dict[str, str], set[str]]:
    """Compare every query's rows with its oracle. Returns {query: reason} for
    every mismatch, and the mismatched queries that make the run incorrect:
    all but the baseline failures whose own check (``checks.py``) holds."""
    from tests.oracle import compare, duck_connect

    cache = os.path.join(STATE, "oracle")
    os.makedirs(cache, exist_ok=True)
    digest = input_digest(input_dir)
    con = None
    mismatches: dict[str, str] = {}
    unexcused: set[str] = set()
    try:
        for name, (cols, rows, sql) in sorted(outputs.items()):
            if sql is None:  # no SQL twin: rows-only, as in tests/oracle.check_query
                continue
            path = os.path.join(cache, hashlib.sha256(f"{digest}\0{sql}".encode()).hexdigest())
            if os.path.exists(path):
                with open(path, "rb") as fh:
                    duck_cols, duck_rows = pickle.load(fh)
            else:
                con = con or duck_connect(input_dir)
                res = con.execute(sql)
                duck_cols, duck_rows = [d[0] for d in res.description], res.fetchall()
                with open(path + ".tmp", "wb") as fh:
                    pickle.dump((duck_cols, duck_rows), fh)
                os.replace(path + ".tmp", path)
            try:
                compare(cols, rows, duck_cols, duck_rows, name)
            except AssertionError as e:
                mismatches[name] = str(e).splitlines()[0]
                known = BASELINE_FAILURES.get(name)
                why = known[1](cols, rows, duck_cols, duck_rows, input_dir) if known else None
                if known is None or why:
                    unexcused.add(name)
                    mismatches[name] += f"; {why}" if why else ""
    finally:
        if con is not None:
            con.close()
    return mismatches, unexcused


def end_to_end(res: dict) -> dict[str, tuple[float, str, int]]:
    """{metric: (value, unit, samples)} from one worker's result."""
    warm = res["warm"]
    per_query = {}
    for q in {q for p in warm for q in p}:
        per_query[q] = statistics.median(p[q] for p in warm if q in p)
    q_vals = list(per_query.values()) or [0.0]
    geomean = statistics.geometric_mean(q_vals) if min(q_vals) > 0 else 0.0
    out = {"cold_pass_s": (sum(res["cold"].values()), "s", 1)} if res["cold"] else {}
    return out | {
        "pass_s": (statistics.median(sum(p.values()) for p in warm), "s", len(warm)),
        "query_p50_s": (statistics.median(q_vals), "s", len(q_vals)),
        # Steadier than the p50 when a workload has only a few queries.
        "query_geomean_s": (geomean, "s", len(q_vals)),
        "query_max_s": (max(q_vals), "s", len(q_vals)),
        "retained_heap_mb": (res["retained_heap_mb"], "MB", 1),
    }


def check(res: dict, run: Run) -> tuple[int, int, dict[str, str], set[str]]:
    """(attempted, failed, {query: reason}, queries that make the run
    incorrect) over one worker's executions.

    Every pass runs the same plans on the same input, so a query whose
    checked rows mismatch its oracle counts as failed in every pass."""
    with open(os.path.join(res["home"], "rows.pkl"), "rb") as fh:
        mismatches, unexcused = oracle_check(run.input, pickle.load(fh))
    failed = {(e["pass"], e["query"]) for e in res["errors"]}
    failed |= {(p, q) for p in res["passes"] for q in mismatches}
    errors = {e["query"]: f"pass {e['pass']}: {e['error']}" for e in res["errors"]}
    return res["executions"], len(failed), {**mismatches, **errors}, unexcused | set(errors)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("rtcdb_spark/session.py", "tests/oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout", file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    t_run = time.time()
    deadline = t_run + RUN_TIMEOUT_S
    w = WORKLOADS[args.workload]
    run = Run(w.name, args.seed)
    try:
        gen.write(run.input, w.sizes, args.seed)
        common = ["--workload", w.name, "--seed", str(args.seed), "--seconds", str(args.seconds)]
        # A traced run reports only per-pass layer metrics and the overhead on
        # pass_s, so both of its workers skip the cold pass to stay in time.
        common += ["--cold", str(1 - args.trace)]
        main_res = run.worker("main", common, deadline)
        checked = [main_res]
        if args.trace:
            traced = run.worker("traced", common, deadline, trace=True)
            checked.append(traced)
        attempted = failed = 0
        reasons: dict[str, str] = {}
        bad: set[str] = set()
        t_check = time.time()
        for res in checked:
            a, f, r, b = check(res, run)
            attempted, failed = attempted + a, failed + f
            reasons.update(r)
            bad |= b
        t_oracle = time.time() - t_check
    finally:
        run.close()

    setups = [res["setup_s"] for res in checked]
    metrics = {"setup_s": (statistics.median(setups), "s", len(setups))}
    metrics.update(end_to_end(main_res))
    metrics["fail_ratio"] = (failed / attempted, "ratio", attempted)
    metrics["disk_left_mb"] = (main_res["disk_left_mb"], "MB", 1)
    correct = not bad

    print(f"# workload {w.name} seed {args.seed}: {len(w.queries)} queries, input rows {w.sizes.rows()}")
    print(f"# wall s: run {time.time() - t_run:.1f}, oracle check {t_oracle:.1f}")
    print("# main worker s: " + ", ".join(f"{k} {v:.1f}" for k, v in main_res["phase_s"].items()))
    print(f"# spark.job_floor_ms before {main_res['floor_before_ms']:.2f} after {main_res['floor_after_ms']:.2f}")
    for name, (v, unit, n) in metrics.items():
        print(f"{name:<18} {v:12.4f} {unit:<6} n={n}")
    warm = main_res["warm"]
    for q in w.queries:
        ws = [round(p[q], 3) for p in main_res["warmup"] + warm if q in p]
        cold = f"cold {main_res['cold'][q]:.3f} s, " if q in main_res["cold"] else ""
        print(f"# query {q}: {cold}warm-up and warm {ws} s")
    for q, r in sorted(reasons.items()):
        known = "" if q in bad else " (baseline failure, its own check holds)"
        print(f"# FAILED{known} {q}: {r.strip().splitlines()[-1]}")

    if args.trace:
        layers = dict(traced["layers"])
        layers["session.start_s"] = traced["session.start_s"]
        layers["session.import_s"] = traced["session.import_s"]
        layers["spark.job_floor_ms"] = traced["floor_before_ms"]
        layers["spark.job_floor_end_ms"] = traced["floor_after_ms"]
        layers["jvm.peak_rss_mb"] = traced["jvm.peak_rss_mb"]
        layers["jvm.retained_heap_mb"] = traced["retained_heap_mb"]
        layers["trace.overhead_s"] = end_to_end(traced)["pass_s"][0] - metrics["pass_s"][0]
        layers["fail_ratio"] = metrics["fail_ratio"][0]
        layers["disk_left_mb"] = metrics["disk_left_mb"][0]
        path = os.path.join(STATE, f"trace-{w.name}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"layers": layers, "breakdown": traced["breakdown"], "spans": traced["spans"]}, fh)
        for k in sorted(layers):
            print(f"{k:<34} {layers[k]:14.4f}")
        print(f"# spans and per-span task breakdown: {path}")
        out = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        out = {m["name"]: {"value": metrics[m["name"]][0], "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
