"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Headline set = one representative per operator family (scan/agg/join/window/
mapreduce/dedup/similarity/streaming) — the queries whose plans matter most
at 100 TB. Each timing includes full plan execution (count() action) but not
session startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ytsaurus_spark.queries import all_queries
from ytsaurus_spark.session import get_spark

HEADLINE = [
    "ql_group_agg",          # TPC-H Q1 shape: scan + 8 aggs
    "ql_join_inner",         # 5-table star join with broadcast dims
    "ql_order_limit",        # distributed top-k
    "win_topk_per_group",    # window shuffle
    "op_reduce",             # sorted-reduce (Arrow-batched user code)
    "op_map_reduce",         # mapInPandas + partial-agg combiner
    "dedup_minhash_lsh",     # wide minhash signatures + LSH band join
    "dedup_exact",           # hash groupBy over documents
    "sim_cosine_topk",       # brute-force pairs (Arrow pair kernel)
    "sim_ann_lsh_topk",      # LSH-bucketed ANN path
    "sim_ivf_topk",          # IVF-cell ANN path
    "text_quality",          # string/array scan ops
    "stream_tumbling",       # windowed time agg
    "win_sessionize",        # lag/cumsum sessionization
    "agg_cube",              # multi-grouping aggregation
    "tpch_q3_shipping_priority",  # 3-table join + group + top-k
    "tpch_q7_nation_volume",      # fact-fact join, 6 tables
    "pipeline_clean_corpus",      # full dedup+quality pipeline
    "match_recognize_funnel",     # sequence pattern matching
    "stream_incremental_agg",     # queue pulls + keyed-table folds
    # added round 2 (baselines recorded in BASELINE.md at their r02 values)
    "dedup_embedding_cosine",     # hyperplane-bucketed semantic near-dup
    "tpch_q8_market_share",       # 8-table join, conditional-share agg
    "stream_match_recognize",     # stateful streaming pattern matching
    "dyn_mvcc_timestamped_read",  # log-structured MVCC reads + history
    # added round 3 (baselines = their r03 steady-state values)
    "curation_pack_sequences",    # two-phase prefix-sum packing
    "curation_contamination",     # broadcast n-gram contamination scan
    # added round 4 with the TPC-DS completion pass (baselines = their
    # first steady-state measurement, recorded in BASELINE.md; the
    # pre-existing 26 keys are untouched so rounds stay comparable)
    "tpcds_q4_three_channel_yoy",    # fact shuffle + 6-cell YoY pivot
    "tpcds_q67_category_top_cells",  # 5-level ROLLUP + partitioned rank
    "tpcds_q72_inventory_shortfall", # fact-fact equi+residual join
    # added round 7 (baseline = its first steady-state measurement)
    "dyn_merge_into",                # SQL:2003 MERGE: one full-outer SMJ
]


# The 5 most expensive headline queries (r03 driver bench) — the scaling
# probe re-times exactly these at two scale factors to expose super-linear
# blowups (LSH bucket explosion, merge-read amplification) that a
# single-sf bench cannot see. Run with `python bench.py --scaling`;
# results recorded in BASELINE.md. The default bench path is untouched so
# driver rounds stay one-for-one comparable.
SCALING_SET = [
    "curation_contamination",
    "stream_match_recognize",
    "pipeline_clean_corpus",
    "dyn_mvcc_timestamped_read",
    "dedup_minhash_lsh",
    "dedup_semantic",             # added r4: Lloyd chain + cell pair scan
    "dedup_winnowing",            # added r4: per-doc window min + fp join
    "dedup_exact_substring",      # added r6: gram-grain shuffle + hit probe
    "text_bigram_surprisal",      # added r6: (doc, bigram) counts + joins
    "sim_scalar_quantize_int8",   # added r6: element-grain train + encode
    "curation_select_to_budget",  # added r6: hierarchical prefix sum
    "graph_connected_components", # added r6: 4-round label propagation
    "text_bm25_topk",             # added r6: index stats + broadcast retrieval
    "text_textrank_keywords",     # added r6: positional self-join + pagerank
]


def _timed(fn, spark, sf_dir, runs: int = 2) -> float:
    """Steady-state timing: one warm pass, then best-of-``runs``."""
    try:
        fn(spark, sf_dir).count()
    except Exception:
        pass
    best = None
    for _ in range(runs):
        t0 = time.time()
        fn(spark, sf_dir).count()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best


def scaling_probe() -> None:
    """Time SCALING_SET at sf0.01 and sf0.1 (10× data) and print the
    per-query scaling exponent alpha = log10(t_big / t_small): alpha ≈ 1
    is linear, alpha > ~1.1 means super-linear work is hiding in the
    plan. Uses the same steady-state methodology as the main bench."""
    import math

    spark = get_spark("bench-scaling")
    queries = all_queries()
    dirs = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    out: dict[str, dict] = {}
    for name in SCALING_SET:
        ts = [_timed(queries[name], spark, d) for d in dirs]
        out[name] = {
            "sf0.01_s": round(ts[0], 3),
            "sf0.1_s": round(ts[1], 3),
            "alpha": round(math.log10(max(ts[1], 1e-9) / max(ts[0], 1e-9)), 3),
        }
    print(json.dumps({"metric": "scaling_probe", "queries": out}))
    spark.stop()


def tpcds_sweep() -> None:
    """Time the COMPLETE 99-query TPC-DS suite (every ``tpcds_*`` registry
    entry) at $SPARK_GRAFT_SF_DIR — the reference ships the 99 queries as
    its benchmark harness without publishing numbers; this records ours.
    Single timed run per query after one suite-wide warm pass (99 queries
    amortize codegen warmup across the suite; per-query best-of-2 would
    double an already-long sweep for little variance gain). Prints one
    JSON line; round-over-round movers are tracked by
    tools/tpcds_sweep.py, which wraps this and snapshots
    TPCDS_SWEEP.json. Returns the per-query timings dict."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-tpcds")
    queries = all_queries()
    names = sorted(k for k in queries if k.startswith("tpcds_"))
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    timings: dict[str, float] = {}
    for name in names:
        t0 = time.time()
        queries[name](spark, sf_dir).count()
        timings[name] = round(time.time() - t0, 3)
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "tpcds_suite_total_wall",
                "value": total,
                "unit": "sec",
                "n_queries": len(names),
                "queries": timings,
            }
        )
    )
    spark.stop()
    return timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("bench")
    queries = all_queries()

    # warm the JVM + file-listing caches outside the timed region (cold
    # session startup is not a per-query cost at steady state)
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    # Steady-state methodology (round 3+): run every headline query once
    # untimed, then time the second execution. The first execution pays
    # whole-stage-codegen compilation + JIT + shuffle-machinery init — a
    # session-startup-class cost on a long-lived cluster, and (measured)
    # 3-8× noisier than the steady-state run it warms up. BASELINE.md
    # records the methodology switch and re-baselined values.
    for name in HEADLINE:
        try:
            queries[name](spark, sf_dir).count()
        except Exception:
            pass  # the timed pass below surfaces real failures

    # Timed region: best of two executions per query. With ~3 cores of
    # ambient neighbor load on the shared host, a single sample mixes
    # scheduling noise into every number; min-of-2 after a warm pass tracks
    # the plan's actual cost (the quantity that scales to a real cluster).
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        best = None
        for _ in range(2):
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf else None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        scaling_probe()
    elif "--tpcds" in sys.argv:
        tpcds_sweep()
    else:
        main()
