"""Small-scale tests of the benchmark itself (inputs at sf0.001).

Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import session  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

PER_LAYER_FIXED = {
    "suite.construct_s", "suite.py4j_calls", "suite.eager_jobs",
    "collection.construct_s", "collection.calls", "collection.py4j_calls",
    "functions.construct_s", "functions.calls", "functions.py4j_calls",
    "sources.read_s", "sources.calls",
    "caches.release_s", "caches.released_frames", "caches.storage_mb", "caches.leaked_mb",
    "spark.action_s", "spark.catalyst_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.failed_tasks", "spark.task_s", "spark.cpu_s", "spark.gc_s", "spark.input_rows",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "python.worker_s", "python.boot_s", "python.mb_sent", "python.mb_received",
    "trace_overhead", "trace.closure_misses", "trace.unwrapped_modules", "peak_rss_mb",
}


def test_metric_names_are_pinned():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"] for m in SPEC["end_to_end"]} == set(run.END_TO_END)
    for m in SPEC["end_to_end"]:
        assert m["unit"] == run.END_TO_END[m["name"]]
    names = {m["name"] for m in SPEC["per_layer"]}
    assert PER_LAYER_FIXED <= names
    ops = names - PER_LAYER_FIXED
    assert ops and all(n.startswith("operators.") for n in ops)
    for n in ops:
        assert n.rsplit(".", 1)[1] in ("construct_s", "calls", "eager_jobs")
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_generator_is_deterministic_and_typed():
    a, b = gen.base_tables(0.001), gen.base_tables(0.001)
    assert list(a) == list(gen.TABLES)
    for name in gen.TABLES:
        assert a[name].equals(b[name]), name
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 500
    assert str(a["lineitem"].schema.field("l_shipdate").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    # the type the program's reader of events is written for
    assert str(a["events"].schema.field("ts").type) == "timestamp[ns]"


def test_events_ts_is_stored_as_nanos(tmp_path):
    import pyarrow.parquet as pq

    inputs = gen.ensure_inputs(tmp_path, {"base": (0.001, 1)})
    part = next((Path(inputs["base"]) / "events.parquet").iterdir())
    column = pq.ParquetFile(part).schema.column(1)
    assert column.name == "ts" and "NANOS" in str(column.logical_type).upper()


def test_scaling_rules():
    base = gen.base_tables(0.001)
    orders = gen.scaled_table(base, "orders", 3)
    lines = gen.scaled_table(base, "lineitem", 3)
    n = base["orders"].num_rows
    assert orders.num_rows == 3 * n
    assert orders.slice(0, n).equals(base["orders"])
    stride = max(base["orders"]["o_orderkey"].to_pylist()) + 1
    assert orders["o_orderkey"][n].as_py() == base["orders"]["o_orderkey"][0].as_py() + stride
    # every shifted lineitem still joins to an order of its own replica
    assert set(lines["l_orderkey"].to_pylist()) <= set(orders["o_orderkey"].to_pylist())
    docs = gen.scaled_table(base, "documents", 2)
    first = docs["text"][base["documents"].num_rows].as_py().split(" ")
    assert first[0].endswith("~1") and not first[1].endswith("~1")


def test_tail_percentile_keeps_ten_calls_beyond():
    pct, value = session.tail([float(i) for i in range(40)])
    assert value == 29.0 and pct == 75.0
    assert session.tail([1.0, 2.0]) == (100.0, 2.0)


def test_metric_strings_parse():
    assert tracing.parse_metric_value(
        "total (min, med, max (stageId: taskId))\n6.3 s (1.5 s, 1.6 s, 1.6 s (stage 0.0: task 1))"
    ) == pytest.approx(6.3)
    assert tracing.parse_metric_value("783.3 KiB") == pytest.approx(783.3 / 1024)
    assert tracing.layer_of("ironbeam_spark.operators.dedup") == "operators.dedup"
    assert tracing.layer_of("ironbeam_spark.suite.text_ml") is None


def test_fingerprint_is_order_insensitive():
    rows = [(1, "a", 0.5), (2, "b", 1.5)]
    assert oracle.fingerprint(rows, ["x", "y", "z"]) == oracle.fingerprint(
        [(r[2], r[0], r[1]) for r in reversed(rows)], ["z", "x", "y"]
    )
    assert oracle.fingerprint(rows, ["x", "y", "z"]) != oracle.fingerprint(
        [(1, "a", 0.5), (2, "b", 1.5000001)], ["x", "y", "z"]
    )


def test_stop_session_ends_processes_in_other_groups():
    """A child that moves to a process group of its own, as PySpark's
    worker daemon does, is still stopped and reaped."""
    import subprocess
    import textwrap
    import time

    child = "import os, time; os.setpgid(0, 0); time.sleep(600)"
    parent = textwrap.dedent(f"""
        import subprocess, sys, time
        subprocess.Popen([sys.executable, "-c", {child!r}])
        print("READY", flush=True)
        time.sleep(600)
    """)
    run._adopt_orphans()
    proc = subprocess.Popen([sys.executable, "-c", parent], stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    assert proc.stdout.readline().strip() == "READY"
    deadline = time.monotonic() + 10
    while len(run._session_members(proc.pid)) < 2:
        assert time.monotonic() < deadline
    run._stop_session(proc)
    proc.stdout.close()
    assert run._session_members(proc.pid) == []


def _one_call_tracer(suite_s: float, action_s: float, wall_s: float):
    """A tracer holding one call of query ``q``: a suite span from the
    start, an action span up to the end, and a gap between them unless
    ``suite_s + action_s == wall_s``."""
    tr = tracing.Tracer.__new__(tracing.Tracer)
    tr.spans = [
        tracing.Span("q", "call", 0, None, 0.0, wall_s, child_s=suite_s + action_s),
        tracing.Span("q", "suite", 0, 0, 0.0, suite_s),
        tracing.Span("collect", "action", 0, 0, wall_s - action_s, wall_s),
    ]
    tr.calls = [tracing.CallRecord(0, "q", wall_s)]
    return tr


def test_layer_closure_can_miss():
    closed = _one_call_tracer(0.7, 0.3, 1.0)
    assert tracing.closure_misses(closed, {"q": [1.0, 1.02]}, overhead=1.0) == []
    # scaled by the tracing overhead
    assert tracing.closure_misses(closed, {"q": [0.8]}, overhead=1.25) == []
    # 0.3 s between the suite span and the action span is in no layer
    gap = _one_call_tracer(0.5, 0.2, 1.0)
    (miss,) = tracing.closure_misses(gap, {"q": [1.0]}, overhead=1.0)
    assert miss["query"] == "q" and miss["layers_s"] == pytest.approx(0.7)
    # layers that claim more time than the untraced calls take
    assert tracing.closure_misses(closed, {"q": [0.5]}, overhead=1.0)


@pytest.fixture(scope="module")
def small(tmp_path_factory):
    """Inputs at sf0.001, their oracle fingerprints for two queries, and a
    Spark session set up the way a benchmark session is."""
    from ironbeam_spark.suite import QUERIES

    work = tmp_path_factory.mktemp("work")
    inputs = gen.ensure_inputs(work, {"base": (0.001, 1)})
    names = ["q6_forecast_revenue", "q_dedup_minhash"]
    expected = oracle.ensure_expected(
        names, {n: QUERIES[n].oracle for n in names}, inputs["base"], inputs["key"],
        gen.TABLES, work,
    )
    spark = session.setup(inputs["base"])
    yield spark, inputs["base"], expected, names
    session.teardown(spark)


def test_corrupted_fingerprint_counts_as_failure(small):
    spark, input_dir, expected, names = small
    wl = Workload("t", "base", tuple(names), True, "test")
    good = session.Runner(spark, wl, input_dir, expected, seed=1)
    assert all(good.call(n)["ok"] for n in names)
    bad_expected = dict(expected, q6_forecast_revenue={"fp": "0" * 64})
    bad = session.Runner(spark, wl, input_dir, bad_expected, seed=1)
    # a zero budget also stops the warm passes after the first one
    out = session.run_workload(bad, seconds=0, traced=False, budget=0)
    assert out["passes"] == 1
    assert out["failed"] == out["attempted"] // 2 and out["failed"] > 0
    assert all("q6_forecast_revenue" in e for e in out["errors"])


def test_traced_run_reports_layers(small):
    spark, input_dir, expected, names = small
    wl = Workload("t", "base", tuple(names), True, "test")
    runner = session.Runner(spark, wl, input_dir, expected, seed=2)
    out = session.run_workload(runner, seconds=0, traced=True)
    assert out["failed"] == 0
    layers = out["layers"]
    for key in ("suite.construct_s", "spark.action_s", "spark.jobs", "spark.tasks",
                "caches.release_s", "operators.dedup.construct_s", "python.worker_s",
                "trace_overhead"):
        assert key in layers, key
    assert layers["spark.jobs"] >= 1 and layers["operators.dedup.calls"] >= 1
    # operator modules the suite imports inside query functions are traced
    assert out["unwrapped_modules"] == []
    assert runner.tracer.layer_modules >= {"ironbeam_spark.operators.triangles",
                                           "ironbeam_spark.operators.web"}
    spans = out["trace"]["spans"]
    assert {"name", "layer", "call", "parent", "start", "end"} <= set(spans[0])
