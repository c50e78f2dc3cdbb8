"""The benchmark's workloads: which registry queries one pass calls, on
which input set, and whether caches are released before every call."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    inputs: str  # a set of gen.INPUT_SETS
    calls: tuple[str, ...]
    release_before_call: bool
    why: str
    # unmeasured passes between the first pass and the warm ones: the
    # relational pass after the first still runs 30-40% slower than the
    # passes after it, and measuring it spread call_tail_s to 0.27
    # IQR/median over ten runs
    warmup_passes: int = 0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational_sf1",
            "x10",
            (
                "q1_pricing_summary",
                "q6_forecast_revenue",
                "q18_large_volume_customers",
                "q_tumble_global",
            ),
            False,
            "scan, shuffle, JVM compute and Catalyst on a 10x copy of sf0.1, "
            "with no Python workers and no materialization: the control",
            warmup_passes=1,
        ),
        Workload(
            "llm_cold",
            "sf0.01",
            # one call into each operator module the workload is to
            # measure: q_crawl_to_shards reaches web, text_arrow, scan,
            # robots, dedup and checkpoint; q_triangle_count itemsets and
            # triangles; q_ann_ivfpq pq and similarity
            (
                "q_crawl_to_shards",
                "q_substring_spans",
                "q_lm_score",
                "q_ann_ivfpq",
                "q_triangle_count",
                "q_pagerank",
            ),
            True,
            "query construction, Python-worker kernels and one-call "
            "materializations, caches released before every call",
        ),
    )
}
