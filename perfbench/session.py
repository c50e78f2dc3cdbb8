"""One benchmark session in a fresh process: set up Spark, run a workload
(``--mode run`` untraced, ``--mode trace`` traced) and write the
measurements to ``--result`` as JSON.

Prints ``READY`` on stdout once the session is ready, so the parent can
time set-up from process start: ``get_spark``, the query registry import,
the first parquet read and the first Python worker.  Prints ``DONE`` once
the result is written; the parent then kills every process of its
session.

A call is ``QUERIES[name].fn(spark, input_dir)`` followed by ``collect()``,
which consumes every output column; both are timed.  Untimed, the
collected rows are reduced to the order-insensitive fingerprint of
``oracle.py`` and compared with the DuckDB oracle's; a call fails if it
raises or its fingerprint differs.  A pass is the workload's call list
once; the first pass keeps the list's order, and every later pass takes an
order drawn from the seed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback
from pathlib import Path

_HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(_HERE.parent))
sys.path.insert(0, str(_HERE))

from oracle import fingerprint  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def setup(input_dir: str):
    from ironbeam_spark.session import get_spark
    from ironbeam_spark.suite import QUERIES  # noqa: F401  (program load)

    spark = get_spark("perfbench", master=f"local[{len(os.sched_getaffinity(0))}]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{input_dir}/region.parquet").collect()
    spark.range(4).mapInArrow(lambda batches: batches, "id long").collect()
    return spark


def teardown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its descendants (the JVM and
    its Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            stat = Path(entry.path, "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


class Runner:
    def __init__(self, spark, workload, input_dir: str, expected: dict, seed: int):
        from ironbeam_spark.suite import QUERIES

        self.spark = spark
        self.workload = workload
        self.input_dir = input_dir
        self.expected = expected
        self.queries = QUERIES
        self.rng = random.Random(seed)
        self.tracer = None
        self.next_call = 0
        self.calls: list[dict] = []

    def release(self, call: int) -> dict:
        import ironbeam_spark.caches as caches

        if self.tracer is None:
            caches.release_all_caches()
            return {}
        frames = self.tracer.release(call, caches.release_all_caches)
        return {"released_frames": frames, "leaked_mb": self.tracer.storage_mb()}

    def call(self, name: str) -> dict:
        call_id = self.next_call
        self.next_call += 1
        rec = {"call": call_id, "query": name}
        if self.workload.release_before_call:
            rec.update(self.release(call_id))
        tr = self.tracer
        root = tr.begin(call_id, name) if tr else None
        df = rows = None
        t0 = time.perf_counter()
        try:
            q = self.queries[name].fn
            df = tr.span(name, "suite", q, self.spark, self.input_dir) if tr else q(self.spark, self.input_dir)
            rows = tr.span("collect", "action", df.collect) if tr else df.collect()
            rec["latency_s"] = time.perf_counter() - t0
        except Exception:  # a failing call is counted, and the run goes on
            rec["latency_s"] = time.perf_counter() - t0
            rec["error"] = traceback.format_exc(limit=3)
        if tr:
            rec["counters"] = tr.end(root, df if rows is not None else None).counters
            rec["storage_mb"] = tr.storage_mb()
        if rows is not None:
            rec["ok"] = fingerprint(rows, df.columns) == self.expected[name]["fp"]
        else:
            rec["ok"] = False
        self.calls.append(rec)
        return rec

    def one_pass(self, seeded: bool = True) -> dict:
        calls = self.workload.calls
        order = self.rng.sample(calls, len(calls)) if seeded else calls
        recs = [self.call(name) for name in order]
        return {
            "pass_s": sum(r["latency_s"] for r in recs),
            "calls": [r["call"] for r in recs],
        }


def tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 calls beyond it, and its
    value; ``(100.0, max)`` when there are 10 calls or fewer."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    return 100.0 * (n - 10) / n, xs[n - 11]


def run_workload(runner: Runner, seconds: float, traced: bool, budget: float = float("inf")) -> dict:
    """A first pass in the call list's own order, the workload's unmeasured
    ``warmup_passes`` and then warm passes for ``seconds`` (at least one;
    after the first, none that would end more than ``budget`` seconds from
    now), each in an order drawn from the seed.

    Traced, the warm passes come in blocks of untraced, traced and
    untraced passes, so the tracing overhead is measured against untraced
    passes on both sides of the traced one (a pair put the warm-up of the
    llm_cold passes into trace_overhead: 0.83); the per-layer metrics come
    from the traced passes only."""
    t_budget = time.perf_counter() + budget
    # the first pass runs the call list as written: its order shapes the
    # JVM's warm-up, and with a seeded order q18's warm latency moved
    # between 3.0 and 4.8 s from run to run
    first = runner.one_pass(seeded=False)
    for _ in range(runner.workload.warmup_passes):
        runner.one_pass()
    passes, untraced = [], []
    t_end = time.perf_counter() + seconds

    def fits() -> bool:
        last = (passes or [first])[-1]["pass_s"]
        return time.perf_counter() + last < t_budget

    if traced:
        from tracing import Tracer, closure_misses, pass_metrics, unwrapped_modules

        tracer = Tracer(runner.spark)
        wrapped = tracer.install()
        while not passes or (time.perf_counter() < t_end and fits()):
            for on in (False, True, False):
                runner.tracer = tracer if on else None
                (passes if on else untraced).append(runner.one_pass())
        runner.tracer = tracer
    else:
        while not passes or (time.perf_counter() < t_end and fits()):
            passes.append(runner.one_pass())
    calls = {r["call"]: r for r in runner.calls}
    warm_lat = [calls[c]["latency_s"] for p in passes for c in p["calls"]]
    out = {
        "attempted": len(runner.calls),
        "failed": sum(not r["ok"] for r in runner.calls),
        "errors": [f"{r['query']}: {r.get('error') or 'fingerprint mismatch'}"
                   for r in runner.calls if not r["ok"]],
        "first_pass_s": first["pass_s"],
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "passes": len(passes),
        "pass_times_s": [p["pass_s"] for p in passes],
        "warm_calls": len(warm_lat),
        "per_query_s": {
            q: statistics.median(calls[c]["latency_s"] for p in passes for c in p["calls"]
                                 if calls[c]["query"] == q)
            for q in runner.workload.calls
        },
    }
    out["peak_rss_mb"] = peak_rss_mb()
    if not traced:
        pct, value = tail(warm_lat)
        out.update(call_p50_s=statistics.median(warm_lat), call_tail_s=value, call_tail_pct=pct)
        return out
    per_pass = []
    for p in passes:
        ids = set(p["calls"])
        m = pass_metrics(runner.tracer, ids)
        recs = [calls[c] for c in p["calls"]]
        m["caches.released_frames"] = sum(r.get("released_frames", 0) for r in recs)
        m["caches.storage_mb"] = max(r["storage_mb"] for r in recs)
        m["caches.leaked_mb"] = max(r.get("leaked_mb", 0.0) for r in recs)
        per_pass.append(m)
    keys = sorted({k for m in per_pass for k in m})
    out["layers"] = {k: statistics.fmean(m.get(k, 0.0) for m in per_pass) for k in keys}
    untraced_s = statistics.median(p["pass_s"] for p in untraced)
    overhead = out["pass_s"] / untraced_s
    out["layers"]["trace_overhead"] = overhead
    out["untraced_pass_s"] = untraced_s
    out["wrapped_functions"] = wrapped
    untraced_lat: dict[str, list[float]] = {}
    for p in untraced:
        for c in p["calls"]:
            untraced_lat.setdefault(calls[c]["query"], []).append(calls[c]["latency_s"])
    out["closure_misses"] = closure_misses(runner.tracer, untraced_lat, overhead)
    out["unwrapped_modules"] = unwrapped_modules(runner.tracer)
    out["trace"] = runner.tracer.dump()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("run", "trace"), required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input-dir", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--budget", type=float, default=float("inf"),
                    help="seconds from process start by which the passes must end")
    args = ap.parse_args()
    t_start = time.perf_counter()
    spark = setup(args.input_dir)
    print("READY", flush=True)
    expected = json.loads(Path(args.expected).read_text())
    runner = Runner(spark, WORKLOADS[args.workload], args.input_dir, expected, args.seed)
    budget = args.budget - (time.perf_counter() - t_start)
    result = run_workload(runner, args.seconds, args.mode == "trace", budget)
    Path(args.result).write_text(json.dumps(result))
    # the parent kills this process's session, JVM and Python workers
    # included, once it reads DONE
    print("DONE", flush=True)
    os._exit(0)


if __name__ == "__main__":
    main()
