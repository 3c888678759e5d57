"""Dump formatted physical plans.

Without ``--label`` it regenerates PLANS.md: the plans of the showcase
queries with commentary hooks — the evidence that each plan has the shape
we want at scale (pushdown, pruning, broadcasts, bounded shuffles).

With ``--label rNN`` it writes ``plans/rNN/<query>_<tag>.txt`` for the
named queries (default: bench.py's HEADLINE set, minus the lifecycle
queries below) — an optimization round's before/after plan evidence.
Expression ids, RDD ids and temp-directory names are normalised
(``normalise_plan``) so that two dumps of an unchanged plan are identical
and ``diff`` shows only real changes (a ``TABLESAMPLE`` without a seed
still draws a new one per run).

Usage:
    python tools/dump_plans.py [--sf DIR]
    python tools/dump_plans.py --label rNN [--tag before|after] [--sf DIR] [query|pattern ...]

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``.
"""

from __future__ import annotations

import argparse
import fnmatch
import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ytsaurus_spark.plans import formatted_plan
from ytsaurus_spark.queries import all_queries
from ytsaurus_spark.session import get_spark

# Queries whose implementation runs the computation inside the function
# (lifecycle scenarios materializing via collect) — explain() of the
# returned frame would re-run the scenario and show only the trivial
# localtable plan; a --label dump skips them unless named explicitly.
LIFECYCLE = {
    "stream_match_recognize",
    "dyn_mvcc_timestamped_read",
    "stream_incremental_agg",
    "stream_tumbling",
    "dyn_merge_into",
    "match_recognize_funnel",
}

SHOWCASE = {
    "ql_group_agg": "TPC-H Q1 shape: filter pushed to parquet, 7/11 columns read, partial+final hash agg, ONE exchange.",
    "ql_join_inner": "5-table star: dims broadcast (no dim shuffle), fact-side SMJ only where required.",
    "ql_order_limit": "Top-k compiles to TakeOrderedAndProject (bounded heap), never a global sort.",
    "dedup_minhash_lsh": "Shingle scan once (wide signatures), band bucket self-join; no Python.",
    "sim_ann_lsh_topk": "ANN: queries collected; the Arrow pair kernel buckets candidates in-batch and pairs them only with queries of the same LSH bucket, keeping each batch's top-k ahead of the per-query window.",
    "op_reduce": "SortedReduce: one hash shuffle + in-partition sort feeding Arrow-batched Python.",
    "curation_pack_sequences": "Two-phase prefix sum: ONE data exchange (per-block window); block offsets partial-agg'd and broadcast; no rangepartitioning.",
    "curation_contamination": "Benchmark shingle set broadcast; training corpus never shuffled by shingle.",
    "layout_zorder_box": "2-D box query answered from the Z-order-clustered rewrite: both predicates reach the parquet scan of the clustered copy.",
    "ts_gap_fill": "Per-key grid explode + co-partitioned LEFT join; the only exchanges are keyed (no global calendar).",
    "graph_pagerank": "Three unrolled PageRank passes: each iteration is a src-keyed join + dst aggregate; dangling mass is a broadcast scalar.",
    "tpcds_q98_revenue_ratio": "Ratio-to-report: the window PARTITIONs on the class key over aggregate-sized input (no global window).",
    "agg_kmv_distinct": "KMV sketch build: distinct pre-agg then a group-partitioned top-k window; estimate arithmetic is scan-stage.",
    "dedup_winnowing": "Scan-side winnowing (round 6): fingerprint selection entirely inside the scan projection (hash array + HOF window minima + per-doc distinct); the ONE exchange carries selected fingerprints, never grams. At fact scale both self-join legs reuse it (ReusedExchange); at this toy SF one leg broadcasts.",
    "tpcds_q88_time_bands": "q88 band fold (round 6): six time-band counts as ONE conditional aggregation over one scan (was 6 scans cross-joined).",
    "tpcds_q23_frequent_best": "Multi-consumer persist (round 6): freq/csales/best/report all read one cached 4-column projection of the fact join (InMemoryTableScan), one FileScan per fact.",
    "dedup_exact_substring": "Exact-substring coverage (round 6): gram hashes built inside the scan projection, persisted once for the dup-count and hit-probe consumers; coverage union is a doc-partitioned lag window over hit starts — O(hits), never multiplied by gram length.",
    "curation_select_to_budget": "Token-budget prefix cut (round 6): hierarchical prefix sum over the persisted doc-grain stats (one corpus scan), 1-row budget broadcast; no unpartitioned window at any level.",
    "sim_scalar_quantize_int8": "Int8 scalar quantization: element-grain posexplode, 32-row min/max training agg broadcast back, doc-grain re-agg — the FAISS-SQ8 train+encode two-pass shape.",
    "graph_connected_components": "Min-label propagation (round 6): four unrolled rounds, each ONE node-keyed join + min-aggregate over the persisted symmetrized edge list (InMemoryTableScan) — |V|+|E| rows per round, never pairs.",
    "graph_triangle_count": "Degree-oriented wedge join (round 6): edges oriented low-(deg,id)→high before the two self-equi-joins, bounding intermediates at O(m^1.5); corner credit explodes 3 rows/triangle into a partial-agg'd count.",
    "text_inverted_index": "Index shard build (round 6): (doc,token) then token partial-agg shuffles; the posting list is sliced from the sorted per-term set BEFORE serialization — stop-word rows stay bounded.",
    "text_cooccurrence_lift": "Skip-gram pair mining (round 6): doc-keyed window-banded positional self-join (intermediates |tokens|·w); unigram and pair counts partial-agg; the 1-row total broadcasts into the lift projection.",
    "ts_ewma": "Sequential recurrence as a bounded window fold (round 6): key-partitioned ordered window collects the 40-value trail; the EWMA fold runs in-row — one exchange on key, no driver-side series walk.",
    "text_bm25_topk": "BM25 retrieval (round 6): one persisted (doc,token) stream feeds tf/dl/df; query terms, df, and 1-row corpus stats broadcast into the token-keyed tf side — zero corpus shuffles beyond index build; top-k window partitions by query over posting-list-bounded candidates.",
    "text_textrank_keywords": "TextRank (round 6): doc-keyed window-banded positional self-join over the persisted token stream builds vocabulary-grain edges; the pagerank passes exchange token-grain rows only; final keyword window is vocabulary-sized.",
    "ts_lag_corr": "Lagged cross-correlation (round 6): the corpus reduces to a persisted per-day frame in ONE shuffle; the lag self-join broadcasts a tiny frame; r comes from exact BIGINT moments in the final projection.",
    "ts_seasonal_decompose": "Weekly decomposition (round 6): per-day frame persisted; centered 7-row window + phase-mean broadcast both run at day grain — the unpartitioned window sorts days, not corpus rows.",
    "sim_mips_topk": "MIPS top-k: queries collected, candidates never shuffle; the Arrow pair kernel scores the fold-order-identical dot and keeps each batch's top-k ahead of the per-query window.",
    "analytics_rfm_segmentation": "RFM quartiles (round 6): three histogram+prefix-sum tile maps instead of global ntiles; bounded-cardinality maps broadcast, the cents map joins keyed; customer frame persisted for its four consumers.",
    "curation_dsir_select": "DSIR (round 7): ONE explode to (doc, bucket) counts (persisted), two B-row bucket aggregates broadcast back; score sum is doc-grain, selection a bounded top-k — no vocabulary shuffle at any corpus size.",
    "dyn_xdelta_patch_fold": "xdelta fold (round 7): BASE/PATCH states built in Arrow-batched scan-stage UDFs; the fold runs inside the keyed upsert's single shuffle — at scale the exchange carries O(edit)-sized patches, not documents.",
    "op_erasure_repair_copy": "Erasure repair copy (round 7): the returned plan scans only the HEALED reassembled copy; encode/erase/repair all ran chunk-parallel in mapInPandas over the part manifest, no driver data path.",
    "dyn_indexed_write_through": "Write-through index (round 7): the post-write index lookup broadcasts the filtered index keys into a semi-join — the primary table never shuffles; maintenance replaced only the affected keys' entries.",
    "graph_kcore": "Bounded k-core peeling (round 6): per round one node-keyed equi-join of the persisted symmetric edge list against the alive set + a count aggregate; the induced subgraph is never materialized.",
    "ts_downsample_lttb": "Parallel fixed-anchor LTTB (round 6): bucket-grain anchor frame (lag/lead window partitioned by series) broadcast onto the persisted rebased points; BIGINT triangle argmax in a per-bucket rank window — no sequential pass.",
    "sim_silhouette": "Centroid silhouette (round 6): one (label, dim) exact-BIGINT centroid aggregate broadcast back; corpus-grain work is a single N*d*L partial-agged aggregate — never point-point pairs.",
    "curation_filter_attrition": "Gate waterfall (round 6): 2*|gates| conditional sums in ONE aggregate over the integer-only rule projection; per-gate pivot on the single aggregate row.",
    "analytics_market_basket": "Association rules (round 6): persisted basket grain; pair candidates from the order-key self-join, support-filtered BEFORE the confidence/lift joins.",
    "agg_quantile_sketch": "Mergeable log2 quantile sketch (round 6): <=64-bin additive histogram in one partial-agged exchange; bracket cut on the broadcast bin frame.",
    "dyn_merge_into": "SQL:2003 MERGE (round 7): ONE full-outer sort-merge join on the key feeds the per-column CASE projection and delete filter — the whole multi-clause merge is a single exchange pair, the upsert-pattern cost.",
    "chyt_agg_report": "CHYT dialect (round 7): countIf/sumIf/uniqExact translate to conditional aggregates — map-side combinable, one exchange; the distinct-count leg expands only the distinct pre-aggregation.",
    "yql_q77": "Verbatim TPC-DS q77 through the YQL dialect (round 7): six channel derivations AQE-reuse-collapsed; the ANSI empty-rollup arm is suppressed by its HAVING count(*)=0 + constant engine probe, costing one reused aggregation.",
    "dedup_containment": "Containment dedup (round 6): rare-shingle inverted-index blocking (freq cap keeps the block join skew-free) + exact intersection verify on candidates only — Jaccard-LSH banding cannot surface these pairs.",
    "sim_hard_negative_mining": "Contrastive pair mining (round 6): one exact-BIGINT-dot scored frame; per-(anchor, same-label?) rank windows; anchors broadcast.",
    "mm_image_tile_stats": "Real decode + tile mosaic (round 6): single Arrow-batched mapInPandas stage, zero shuffles; exact integer tile sums.",
    "ql_recursive_cte": "WITH RECURSIVE (round 6): Spark 4 native recursion over per-customer successor chains — the UnionLoop iterates to the deepest chain; both engines run the identical recursive text.",
    "ql_lateral_join": "LATERAL correlated aggregate (round 6): Catalyst decorrelates to one keyed aggregate + join; the COUNT-over-empty-groups rewrite reads the outer side twice (budget pinned at 2 with the reason).",
    "analytics_price_volume_waterfall": "Price/volume waterfall (round 6): one fact shuffle to (brand, year), dims broadcast; effects are single double-division chains over exact ten-thousandth sums.",
    "yql_text_flatten": "FLATTEN BY (round 10): explode runs inside the scan stage (Generate before any exchange); the shuffle carries (word, partial count) pairs only — unnest multiplies rows scan-side, never across the wire.",
    "yql_text_range": "RANGE() table function (round 10): path-level pruning — 7 of 30 daily tables planned (one FileScan each, UNION ALL), the other 23 never enter the plan; at a year-scale log dir the same query plans 7 scans, not 365.",
    "yql_text_session_window": "SessionWindow text form (round 11): gap-break window + session aggregation share ONE exchange on user_id — the session id is computed and consumed inside the same partitioning, never reshuffled.",
    "yql_text_containers": "Container literals (round 11): map/named_struct constructors fold to constants inside whole-stage codegen; the dict-decode GROUP BY plans identically to ql_group_agg (scan -> partial agg -> one exchange -> final agg).",
    "curation_boilerplate_lines": "Frequent-line filter (round 6): persisted line stream feeds the distinct-df count and the removal scan; the hot-line set broadcasts back.",
}

# Hand-written sketches for plans whose interesting part is not the
# operator tree (multi-commit pipelines, sketch algebra, localCheckpoint-
# truncated results) — preserved verbatim across regenerations.
EXTRA = """
## Bucketed co-located join (`op_bucketed_join`)

The registry entry materializes through localCheckpoint (the throwaway
tables drop on exit), so its captured plan is an RDD scan; the join plan
itself — pinned by tests/test_plans.py::test_bucketed_join_no_exchange —
is:

```
SortMergeJoin [o_orderkey], [l_orderkey], Inner   <- NO Exchange, NO Sort on
:- Filter isnotnull(o_orderkey)                      either leg: bucketBy+sortBy
:  +- Scan parquet ...bl (Bucketed: true,            metadata satisfies both the
:       SelectedBucketsCount: 8 out of 8)            distribution and the order
+- Filter isnotnull(l_orderkey)
   +- Scan parquet ...br (Bucketed: true)
```
## CDC `changes_between` (replay path)

```
Filter (change IS NOT NULL)
+- Join FullOuter [key]                                     <- new dispositions vs
   :- Window row_number() PARTITION BY key ORDER BY gen DESC   old state, key-shuffled once
   :  +- Union [delta segments in (from, to]]               <- O(changes) input
   +- LogTxTable.lookup_rows(touched keys @ from)           <- manifest-pruned segment reads
```

## KMV set algebra (`agg_kmv_set_algebra`)

```
Project [est_union, est_intersect, k_overlap, jaccard]
+- HashAggregate(keys=[g], functions=[count, max(h), sum(in_a*in_b)])
   +- Window row_number() PARTITION BY g ORDER BY h         <- union top-k, group-partitioned
      +- HashAggregate(keys=[g, h], ...)                    <- flag union of two sketches
         +- Union [explode(sketch_a), explode(sketch_b)]    <- kilobyte arrays, not raw data
```
"""


def normalise_plan(plan: str) -> str:
    """Drop what differs between two runs of an unchanged plan: expression
    ids, RDD ids, exchange plan ids (a process-wide counter) and the random
    suffix of the query's scratch directories (and of their root)."""
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[#]", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=#", plan)
    tmp = re.escape(tempfile.gettempdir())
    return re.sub(tmp + r"(/ytspark_scratch_\w+)?/[\w.-]+", "<tmp>", plan)


def dump_labelled(spark, sf_dir: str, label: str, tag: str,
                  patterns: list[str]) -> None:
    """``patterns`` are query names or fnmatch patterns (``'chyt_*'``);
    lifecycle queries are dumped only when named exactly."""
    from bench import HEADLINE

    queries = all_queries()
    names = []
    for pat in patterns or HEADLINE:
        matched = fnmatch.filter(sorted(queries), pat)
        if not matched:
            raise SystemExit(f"no registered query matches {pat!r}")
        for q in matched:
            if q not in names and (q not in LIFECYCLE or q in patterns):
                names.append(q)
    out_dir = os.path.join(REPO, "plans", label)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            txt = normalise_plan(formatted_plan(queries[name](spark, sf_dir)))
        except Exception as e:  # noqa: BLE001
            txt = f"ERROR building plan: {e}"
        p = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(p, "w") as f:
            f.write(txt + "\n")
        print("wrote", p)


def write_plans_md(spark, sf_dir: str) -> None:
    qs = all_queries()
    out = [
        "# PLANS — physical plans of headline queries (generated by tools/dump_plans.py)",
        "",
        f"Scale dir: `{sf_dir}`. Regenerate after plan-affecting changes.",
        "",
    ]
    for name, note in SHOWCASE.items():
        if name not in qs:
            # the verbatim YQL statements register only when the
            # reference checkout is present
            out.append(f"## {name}\n\n{note}\n\nNot registered here: "
                       "needs the reference checkout.\n")
            continue
        df = qs[name](spark, sf_dir)
        plan = formatted_plan(df)
        # keep the operator tree, drop the verbose per-node detail section
        tree = plan.split("\n\n")[0]
        tree = re.sub(r"#\d+L?", "", tree)
        lines = tree.splitlines()
        if len(lines) > 120:
            tree = "\n".join(
                lines[:120]
                + [f"... ({len(lines) - 120} more nodes — iterative plans repeat the same join+agg shape)"]
            )
        out.append(f"## {name}\n\n{note}\n\n```\n{tree}\n```\n")
        detail_bits = []
        for pat in (r"PushedFilters: \[[^\]]*\]", r"ReadSchema: struct<[^>]*>"):
            detail_bits.extend(set(re.findall(pat, plan)))
        if detail_bits:
            out.append("Scan details:\n\n```")
            out.extend(sorted(detail_bits))
            out.append("```\n")
    out.append(EXTRA)
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="scale-factor dir (default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--label", help="write plans/<label>/ instead of PLANS.md")
    ap.add_argument("--tag", default="after",
                    help="file suffix for --label dumps (default: after)")
    ap.add_argument("queries", nargs="*", help="query names or fnmatch patterns for --label dumps")
    args = ap.parse_args()
    if not args.sf:
        ap.error("pass --sf DIR or set $SPARK_GRAFT_SF_DIR")
    if args.queries and not args.label:
        ap.error("query names need --label")
    spark = get_spark(f"plans-{args.label}" if args.label else "plans")
    try:
        if args.label:
            dump_labelled(spark, args.sf, args.label, args.tag, args.queries)
        else:
            write_plans_md(spark, args.sf)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
