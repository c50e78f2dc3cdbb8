"""Spans around the public functions of each ``ironbeam_spark`` layer, plus
Spark counters read per call.  Used only by the traced run.

``Tracer.install()`` imports every layer module, wraps every public
function (and public method of a public class) defined in one, then
rebinds every reference to the original held by any ``ironbeam_spark``
module, so calls made through ``from x import f`` names are traced too.
The wrappers keep the original ``__module__`` and ``__qualname__``, so
cloudpickle still ships them to Python workers by reference and workers
run the unwrapped code.

Layers (span names):

- ``suite``: the registry query function ``QUERIES[name].fn``;
- ``collection``: ``ironbeam_spark.collection`` (the PCollection API);
- ``functions``: ``ironbeam_spark.functions.*`` (expression builders);
- ``sources``: ``ironbeam_spark.sources.*`` (readers and writers);
- ``operators.<module>``: each ``ironbeam_spark.operators`` module;
- ``caches``: ``ironbeam_spark.caches``;
- ``action``: the timed action that consumes the query's output.

Each span records its name, layer, start, end, parent and call id.  A
layer's self time is its spans' durations minus the time covered by child
spans.  py4j round trips are counted against the innermost open span.
Spark jobs are read from the DAG scheduler's job counter at the entry and
exit of every span outside ``functions`` (expression builders start no
jobs, and reading the counter costs a round trip), so a span's self jobs
are its jobs minus those of its children.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import re
import sys
import time
from dataclasses import dataclass, field

_PY_METRICS = {
    "time to run Python workers": "python.worker_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.mb_sent",
    "data returned from Python workers": "python.mb_received",
}
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
# Which end-to-end metric each layer metric should move, and on which
# workload, keyed by metric-name prefix (the longest matching prefix wins).
MOVES = {
    "suite.": "pass_s and call_tail_s on llm_cold; about 0 on relational_sf1",
    "collection.": "pass_s on llm_cold",
    "functions.": "pass_s on llm_cold",
    "sources.": "pass_s on llm_cold",
    "operators.": "pass_s and call_tail_s on llm_cold",
    "caches.": "peak_rss_mb and pass_s on llm_cold; 0 on relational_sf1",
    "spark.": "pass_s and call_p50_s on llm_cold (per-job fixed cost)",
    "spark.action_s": "pass_s on relational_sf1",
    "spark.catalyst_s": "pass_s on relational_sf1",
    "spark.task_s": "pass_s and call_tail_s on relational_sf1",
    "spark.cpu_s": "pass_s and call_tail_s on relational_sf1",
    "spark.gc_s": "pass_s and call_tail_s on relational_sf1",
    "spark.input_rows": "pass_s and call_tail_s on relational_sf1",
    "spark.shuffle_": "pass_s and call_tail_s on relational_sf1",
    "spark.spill_mb": "pass_s and call_tail_s on relational_sf1",
    "python.": "pass_s on llm_cold; 0 on relational_sf1",
    "trace": "none: measures the tracing itself",
    "peak_rss_mb": "itself user-visible: memory of the Python process, the JVM and its workers",
}


def moves(metric: str) -> str:
    return MOVES[max((p for p in MOVES if metric.startswith(p)), key=len)]


_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),([A-Za-z]+)\)")
_PHASE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")


LAYER_PACKAGES = (
    "ironbeam_spark.collection",
    "ironbeam_spark.caches",
    "ironbeam_spark.functions",
    "ironbeam_spark.sources",
    "ironbeam_spark.operators",
)


def layer_of(module: str) -> str | None:
    parts = module.split(".")
    if parts[0] != "ironbeam_spark" or len(parts) < 2:
        return None
    if parts[1] in ("collection", "caches", "functions", "sources"):
        return parts[1]
    if parts[1] == "operators" and len(parts) == 3:
        return f"operators.{parts[2]}"
    return None


def parse_metric_value(text: str) -> float:
    """A formatted SQL metric (``"total (min, ...)\\n6.3 s (1.5 s, ...)"``
    or ``"6.3 s"``) as seconds or MiB."""
    last = text.strip().splitlines()[-1]
    num, unit = last.split(" (")[0].split()
    return float(num.replace(",", "")) * _UNITS[unit]


@dataclass
class Span:
    name: str
    layer: str
    call: int
    parent: int | None
    start: float
    end: float = 0.0
    child_s: float = 0.0
    py4j: int = 0
    jobs0: int | None = None
    jobs: int = 0
    child_jobs: int = 0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


@dataclass
class CallRecord:
    call: int
    query: str
    wall_s: float = 0.0
    counters: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.spans: list[Span] = []
        self.calls: list[CallRecord] = []
        self._stack: list[int] = []
        self._call: int | None = None
        self._quiet = 0
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jsc = jsc
        self._sql = spark._jsparkSession.sharedState().statusStore()
        client = sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            if not self._quiet and self._stack:
                self.spans[self._stack[-1]].py4j += 1
            return send(*args, **kwargs)

        client.send_command = counting_send
        self._last_exec = -1

    # -- spark state read without being counted ----------------------------

    def _jvm(self, fn):
        self._quiet += 1
        try:
            return fn()
        finally:
            self._quiet -= 1

    def job_count(self) -> int:
        return self._jvm(self._dag.numTotalJobs)

    def storage_mb(self) -> float:
        def read():
            return sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo())

        return self._jvm(read) / 2**20

    def _max_execution_id(self) -> int:
        def read():
            n = self._sql.executionsCount()
            return -1 if n == 0 else self._sql.executionsList(n - 1, 1).apply(0).executionId()

        return self._jvm(read)

    # -- spans --------------------------------------------------------------

    def enter(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else None
        if parent is not None and self.spans[parent].layer == "caches":
            layer = "caches"  # the per-module release helpers belong to the release
        sp = Span(name, layer, self._call, parent, time.perf_counter())
        if layer != "functions":
            sp.jobs0 = self.job_count()
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def exit(self, idx: int) -> None:
        sp = self.spans[idx]
        if sp.jobs0 is not None:
            sp.jobs = self.job_count() - sp.jobs0
        else:
            sp.jobs = sp.child_jobs
        sp.end = time.perf_counter()
        self._stack.pop()
        if sp.parent is not None:
            par = self.spans[sp.parent]
            par.child_s += sp.end - sp.start
            par.child_jobs += sp.jobs

    def span(self, name: str, layer: str, fn, *args, **kwargs):
        idx = self.enter(name, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self.exit(idx)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer._call is None:
                return fn(*args, **kwargs)
            return tracer.span(name, layer, fn, *args, **kwargs)

        return traced

    def install(self) -> int:
        """Import every layer module, then wrap their public functions;
        returns how many.  Importing first matters: the suite imports many
        operator modules inside its query functions, and a module first
        imported after this point would run unwrapped, its time counted as
        the caller's."""
        for name in LAYER_PACKAGES:
            try:
                pkg = importlib.import_module(name)
            except ImportError:
                continue
            for info in pkgutil.iter_modules(getattr(pkg, "__path__", [])):
                try:
                    importlib.import_module(f"{name}.{info.name}")
                except ImportError:  # an optional dependency is missing
                    pass
        self.layer_modules = {n for n in sys.modules if layer_of(n)}
        mods = [m for n, m in list(sys.modules.items()) if n.startswith("ironbeam_spark") and m]
        wrapped: dict[int, object] = {}
        for mod in mods:
            layer = layer_of(mod.__name__)
            if layer is None:
                continue
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    if id(obj) not in wrapped:
                        wrapped[id(obj)] = (obj, self._wrap(obj, layer, f"{mod.__name__}.{attr}"))
                    setattr(mod, attr, wrapped[id(obj)][1])
                elif inspect.isclass(obj):
                    for m_name, m in list(vars(obj).items()):
                        if not m_name.startswith("_") and inspect.isfunction(m):
                            setattr(obj, m_name, self._wrap(m, layer, f"{mod.__name__}.{attr}.{m_name}"))
        for mod in mods:
            for attr, obj in list(vars(mod).items()):
                hit = wrapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])
        return len(wrapped)

    # -- calls --------------------------------------------------------------

    def begin(self, call: int, query: str) -> int:
        self._call = call
        self.calls.append(CallRecord(call, query))
        self._jobs_at_call = self.job_count()
        self._last_exec = self._max_execution_id()
        return self.enter(query, "call")

    def end(self, root: int, df) -> CallRecord:
        self.exit(root)
        rec = self.calls[-1]
        rec.wall_s = self.spans[root].end - self.spans[root].start
        j0, j1 = self._jobs_at_call, self.job_count()
        self._call = None
        rec.counters = self._jvm(lambda: self._counters(j0, j1, df))
        return rec

    def _counters(self, j0: int, j1: int, df) -> dict:
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(
            ["spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
             "spark.task_s", "spark.cpu_s", "spark.gc_s", "spark.input_rows",
             "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
             "spark.catalyst_s", *_PY_METRICS.values()],
            0.0,
        )
        out["spark.jobs"] = j1 - j0
        stage_ids = set()
        for j in range(j0, j1):
            ids = self._store.job(j).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, None, False, None)
            for a in range(attempts.size()):
                s = attempts.apply(a)
                if s.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks()
                out["spark.failed_tasks"] += s.numFailedTasks()
                out["spark.task_s"] += s.executorRunTime() / 1e3
                out["spark.cpu_s"] += s.executorCpuTime() / 1e9
                out["spark.gc_s"] += s.jvmGcTime() / 1e3
                # rows, not bytes: inputBytes undercounts parquet scans
                # here (1.1 MB for a q6 scan of 113 MB of lineitem files,
                # whose 6,000,000 rows inputRecords counts right)
                out["spark.input_rows"] += s.inputRecords()
                out["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
                out["spark.shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
                out["spark.spill_mb"] += s.diskBytesSpilled() / 2**20
        eid, misses = self._last_exec + 1, 0
        while misses < 8:
            ex = self._sql.execution(eid)
            if not ex.isDefined():
                misses += 1
                eid += 1
                continue
            misses = 0
            self._last_exec = eid
            values = None
            for name, acc, _kind in _PLAN_METRIC.findall(ex.get().metrics().toString()):
                key = _PY_METRICS.get(name)
                if key is None:
                    continue
                if values is None:
                    values = self._sql.executionMetrics(eid)
                v = values.get(int(acc))
                if v.isDefined():
                    out[key] += parse_metric_value(v.get())
            eid += 1
        if df is not None:
            phases = df._jdf.queryExecution().tracker().phases().toString()
            for phase, a, b in _PHASE.findall(phases):
                if phase in ("optimization", "planning"):
                    out["spark.catalyst_s"] += (int(b) - int(a)) / 1e3
        return out

    def release(self, call: int, fn):
        """Run a cache release before call ``call``, outside its call span,
        so the wrapped release function records a ``caches`` span."""
        self._call = call
        try:
            return fn()
        finally:
            self._call = None

    def dump(self) -> dict:
        return {
            "spans": [
                {"name": s.name, "layer": s.layer, "call": s.call, "parent": s.parent,
                 "start": s.start, "end": s.end, "self_s": s.self_s,
                 "py4j": s.py4j, "jobs": s.jobs}
                for s in self.spans
            ],
            "calls": [
                {"call": c.call, "query": c.query, "wall_s": c.wall_s, **c.counters}
                for c in self.calls
            ],
        }


def _span_seconds(s: Span) -> tuple[str, float] | None:
    """The per-layer time metric a span adds to, and how much."""
    if s.layer == "call":
        return None
    if s.layer == "action":
        return "spark.action_s", s.end - s.start
    if s.layer == "caches":
        return "caches.release_s", s.self_s
    if s.layer == "sources":
        return "sources.read_s", s.self_s
    return f"{s.layer}.construct_s", s.self_s


def pass_metrics(tracer: Tracer, calls: set[int]) -> dict[str, float]:
    """Per-layer totals over the calls of one pass."""
    m: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        m[key] = m.get(key, 0.0) + v

    for s in tracer.spans:
        timed = _span_seconds(s) if s.call in calls else None
        if timed is None:
            continue
        add(*timed)
        layer = s.layer
        if layer in ("action", "caches"):
            continue
        if layer != "suite":
            add(f"{layer}.calls", 1)
        if layer in ("suite", "collection", "functions"):
            add(f"{layer}.py4j_calls", s.py4j)
        if layer == "suite" or layer.startswith("operators."):
            add(f"{layer}.eager_jobs", s.jobs - s.child_jobs)
    for c in tracer.calls:
        if c.call in calls:
            for k, v in c.counters.items():
                add(k, v)
    return m


def call_layer_seconds(tracer: Tracer) -> dict[int, float]:
    """Per call, the sum of the per-layer times it reports (construction,
    reads and the action; a release runs before the call and is left out)."""
    out: dict[int, float] = {}
    for s in tracer.spans:
        timed = _span_seconds(s)
        if timed is not None and s.layer != "caches":
            out[s.call] = out.get(s.call, 0.0) + timed[1]
    return out


def closure_misses(tracer: Tracer, untraced: dict[str, list[float]], overhead: float,
                   tolerance: float = 0.1) -> list[dict]:
    """Queries whose per-layer times do not add up to their latency.

    For each query, the median over its traced calls of the per-layer
    seconds a call reports is compared with the median latency of its
    untraced calls in the same run, scaled by the run's ``overhead``
    (traced over untraced pass time).  The two are measured independently:
    time a call spends outside every span is in its latency but in no
    layer, so it shows as a miss, as does a per-layer split that claims
    more time than the untraced calls take."""
    import statistics

    per_call = call_layer_seconds(tracer)
    by_query: dict[str, list[tuple[int, float]]] = {}
    for c in tracer.calls:
        by_query.setdefault(c.query, []).append((c.call, per_call.get(c.call, 0.0)))
    misses = []
    for query, calls in by_query.items():
        if not untraced.get(query):
            continue
        covered = statistics.median(v for _, v in calls)
        expected = statistics.median(untraced[query]) * overhead
        if abs(covered - expected) > tolerance * expected:
            misses.append({"query": query, "calls": [c for c, _ in calls],
                           "layers_s": covered, "expected_s": expected,
                           "untraced_s": sorted(untraced[query])})
    return misses


def unwrapped_modules(tracer: Tracer) -> list[str]:
    """Layer modules loaded after ``install`` ran, so never traced."""
    return sorted(n for n in sys.modules if layer_of(n) and n not in tracer.layer_modules)
