"""The benchmark's workloads: a fixture size and a list of registry queries.

Every query is called through ``ytsaurus_spark.queries.all_queries()`` and
checked against its DuckDB oracle from ``all_oracles()``. One run of either
workload must fit in about a minute on a busy 4-core host (48 runs in
under an hour), so the 10x upscaled facts (about a minute per pass) are
left out and ``driver_rw`` runs one timed pass: ``pipeline_cdc_replica``
alone takes 6-8 s per execution and 12-24 s in the warm-up pass.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sf: float
    queries: tuple[str, ...]
    # one timed pass on the 4-core reference host (local[4], 4 GB driver)
    nominal_pass_s: float

    def passes(self, seconds: float) -> int:
        """Timed passes of a run that measures ``seconds`` on the reference
        host. The count depends on ``seconds`` alone: the JIT keeps warming
        for several passes (exec_scale: 8.6, 6.9, 6.7 s), so a count that
        varied with the host's speed would move the medians."""
        return max(1, round(seconds / self.nominal_pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="driver_rw",
            why=(
                "fixed per-query cost: CHYT/YQL translation and star-view "
                "registration, LogTxTable commits, queue publish and pull run "
                "as eager jobs before the action"
            ),
            sf=0.01,
            queries=(
                "chyt_agg_report",
                "yql_text_reduce",
                "pipeline_cdc_replica",
            ),
            nominal_pass_s=12.0,
        ),
        Workload(
            name="exec_scale",
            why=(
                "sf0.1 facts: scan, join, shuffle, keyed upserts and Python-worker "
                "map-reduce and similarity kernels dominate latency"
            ),
            sf=0.1,
            queries=(
                "tpch_q9_product_profit",
                "op_reduce",
                "sim_cosine_topk",
                "dyn_aggregate_upsert",
            ),
            nominal_pass_s=5.3,
        ),
    )
}
