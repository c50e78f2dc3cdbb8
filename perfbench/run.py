"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Each workload is a closed loop with one
client: one process makes one call at a time on ``local[<cpus>]`` with the
``get_spark`` defaults (see ``session.py`` for what a call and a pass are).

Steps:

1. Generate the inputs (``gen.py``) and the oracle fingerprints
   (``oracle.py``), or reuse them from ``perfbench/.work``.  Their time is
   reported as ``input_gen_s`` and ``oracle_s``, outside every metric.
2. ``--trace 0``: start one fresh session process and time it from spawn
   to ready (``setup_s``).  It runs the workload untraced: a first pass,
   the workload's unmeasured ``warmup_passes``, then passes for
   ``--seconds`` (at least one), and reports the end-to-end metrics.
3. ``--trace 1``: one session runs a first pass and the warm-up passes,
   wraps the program's layers in spans (``tracing.py``), then runs blocks
   of untraced, traced and untraced passes for ``--seconds`` (at least
   one block), and reports per-layer metrics per traced pass.  The spans
   are written to ``perfbench/.work/traces/``.

Human-readable lines go first; the last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.  The exit code
is 0 only when the run completed; a missing program or a crashed session
exits non-zero without a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
from tracing import moves  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# a run must end within 180 s of its start once the inputs exist; the
# session gets what is left of this and ends its passes early rather than
# overrun it
DEADLINE_S = 165

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "call_p50_s": "s",
    "call_tail_s": "s",
}


def per_layer_units() -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def _session_env(tmp: Path) -> dict[str, str]:
    env = dict(os.environ)
    env.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(tmp / "spark-local"),
        # no hsperfdata file in /tmp, which a killed JVM would leave behind
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        TZ="UTC",
        PYTHONPATH=os.pathsep.join([str(ROOT), str(HERE)]),
    )
    return env


def _adopt_orphans() -> None:
    """Make this process the subreaper of its descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a process orphaned by the session's death
    becomes this process's child, so it can be reaped here rather than
    left as a zombie for init."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _session_members(sid: int) -> list[int]:
    """Processes of session ``sid``, zombies included.  The session process
    leads its own session, and every process it starts stays in it: the
    JVM, and PySpark's worker daemon and workers, which move to a process
    group of their own but not to another session."""
    pids = []
    for entry in os.scandir("/proc"):
        if entry.name.isdigit():
            try:
                stat = Path(entry.path, "stat").read_text()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[3]) == sid:
                pids.append(int(entry.name))
    return pids


def _kill_session(sid: int) -> None:
    for pid in _session_members(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _stop_session(proc: subprocess.Popen) -> None:
    """Kill every process of the session's session, reap the ones this
    process adopted, and wait until none is left."""
    _kill_session(proc.pid)
    proc.wait()
    deadline = time.monotonic() + 60
    while _session_members(proc.pid):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes of session {proc.pid} did not end")
        # kill again: a worker daemon may have forked since the last sweep
        _kill_session(proc.pid)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.05)


def session(mode: str, args, input_dir: str, expected_path: Path, tmp: Path,
            budget: float) -> tuple[float, dict]:
    """Run one session process within ``budget`` seconds; returns (seconds
    from spawn to ready, result)."""
    result_path = tmp / f"result-{mode}.json"
    result_path.unlink(missing_ok=True)
    log = open(tmp / f"session-{mode}.log", "w")
    cmd = [
        sys.executable, str(HERE / "session.py"), "--mode", mode,
        "--workload", args.workload, "--input-dir", input_dir,
        "--expected", str(expected_path), "--result", str(result_path),
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--budget", str(budget - 10),
    ]
    _adopt_orphans()
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=_session_env(tmp), stdout=subprocess.PIPE, stderr=log,
        text=True, start_new_session=True,
    )
    ready = None
    done = False
    timer = threading.Timer(max(budget, 1), _kill_session, (proc.pid,))
    timer.start()
    try:
        for line in proc.stdout:
            if line.strip() == "READY" and ready is None:
                ready = time.perf_counter() - t0
            # once the result is written the session's processes are
            # killed rather than shut down, which would add seconds to
            # every run
            if line.strip() == "DONE":
                done = True
                break
    finally:
        timer.cancel()
        _stop_session(proc)
        log.close()
    if not done or ready is None or not result_path.exists():
        sys.stderr.write((tmp / f"session-{mode}.log").read_text()[-4000:])
        raise RuntimeError(f"{mode} session failed (exit {proc.returncode})")
    return ready, json.loads(result_path.read_text())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the session
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "ironbeam_spark" / "suite").is_dir():
        print(f"no ironbeam_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from ironbeam_spark.suite import QUERIES

    import oracle

    wl = WORKLOADS[args.workload]
    inputs = gen.ensure_inputs(WORK)
    input_dir = inputs[wl.inputs]
    # every workload's expectations at once, so that only the first run in
    # a checkout pays for the oracles
    t0 = time.perf_counter()
    for other in WORKLOADS.values():
        got = oracle.ensure_expected(
            list(other.calls), {n: QUERIES[n].oracle for n in other.calls},
            inputs[other.inputs], inputs["key"], gen.TABLES, WORK,
        )
        if other is wl:
            expected = got
    oracle_s = time.perf_counter() - t0
    tmp = WORK / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    expected_path = tmp / "expected.json"
    expected_path.write_text(json.dumps(expected))

    t_deadline = time.perf_counter() + DEADLINE_S

    def left() -> float:
        return t_deadline - time.perf_counter()

    try:
        ready, res = session("trace" if args.trace else "run", args, input_dir,
                             expected_path, tmp, left())
    except RuntimeError as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"# workload {wl.name}: {wl.why}")
    print(f"# inputs {input_dir} (input_gen_s {inputs['generated_s']:.3f}, oracle_s {oracle_s:.3f})")
    print(f"# calls {res['attempted']} (warm {res['warm_calls']} in {res['passes']} passes), "
          f"failed {res['failed']}, failed_frac {res['failed'] / res['attempted']:.4f}")
    for err in res["errors"][:5]:
        print(f"# FAILED {err.splitlines()[0]}")
    print(f"# pass times {', '.join(f'{t:.3f}' for t in res['pass_times_s'])} s")
    for q, s in res["per_query_s"].items():
        print(f"# query {q} {s:.4f} s")
    if args.trace:
        trace_dir = WORK / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        trace_file = trace_dir / f"{wl.name}-seed{args.seed}.json"
        trace_file.write_text(json.dumps(res.pop("trace")))
        print(f"# spans written to {trace_file} ({res['wrapped_functions']} functions wrapped)")
        for miss in res["closure_misses"]:
            print(f"# closure miss: {miss['query']} (calls {miss['calls']}): layers add up to "
                  f"{miss['layers_s']:.4f} s, untraced latency x trace_overhead is {miss['expected_s']:.4f} s "
                  f"(untraced calls {', '.join(f'{v:.4f}' for v in miss['untraced_s'])} s)")
        for name in res["unwrapped_modules"]:
            print(f"# layer module {name} was loaded after the spans were installed: not traced")
        units = per_layer_units()
        layers = res["layers"]
        layers["trace.closure_misses"] = len(res["closure_misses"])
        layers["trace.unwrapped_modules"] = len(res["unwrapped_modules"])
        layers["peak_rss_mb"] = res["peak_rss_mb"]
        for k in sorted(set(layers) - set(units)):
            print(f"# {k} = {layers[k]:.6g} (not in BENCHMARK.json)")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        # set-up is timed once per run, in the process that then runs the
        # workload: on a 4-core host one set-up costs 16-19 s, and a second
        # one per run would not let the runs fit the time the benchmark is
        # allowed; what is compared is the median over a set of runs
        values = dict(res, setup_s=ready)
        print(f"# call_tail_s is p{res['call_tail_pct']:.1f} of {res['warm_calls']} calls")
        # a per-layer metric (no bound): the JVM's heap growth makes it
        # spread too widely from run to run to gate on
        print(f"# peak_rss_mb = {res['peak_rss_mb']:.6g} MiB")
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        note = f"  (moves {moves(k)})" if args.trace else ""
        print(f"# {k} = {m['value']:.6g} {m['unit']}{note}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
