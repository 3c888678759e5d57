"""Mergeable cardinality sketches (K-Minimum-Values) as declarative plans.

The reference's ``cardinality`` aggregate is HyperLogLog with a mergeable
intermediate state (yt/yt/library/query/engine_api/builtin_function_registry
cardinality; YQL exposes the merge in ``udaf_traits_factory``). Spark's
``approx_count_distinct`` is also HLL but hides its state, so set
ALGEBRA over sketches (union/intersection estimates, cross-segment
merge) can't be expressed with it. KMV is the sketch whose state IS a
relational value — the k smallest value hashes — so building, merging,
and estimating are ordinary aggregates:

- build: distinct (group, hash) pre-aggregate, then a group-PARTITIONED
  top-k window (row_number <= k) — never global, two keyed shuffles;
- estimate: D ≈ (k-1) * H / h_k with h_k the k-th smallest hash over
  hash space H (exact when the group has < k distinct values);
- merge: union the hash sets, retake the k smallest — same plan shape,
  which is the whole point (sketches from different table segments /
  days / clusters combine without rescanning data).

The hash is the md5-prefix integer used across the repo (engine-exact in
DuckDB), so every estimate is oracle-checkable bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ytsaurus_spark.operators import materialize

__all__ = ["kmv_build", "kmv_estimate", "kmv_merge", "kmv_intersect_estimate"]

_H = float(1 << 32)  # hash space size


def _hash32(col) -> "F.Column":
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")


def kmv_build(df: DataFrame, group_col: str, value_col: str, k: int = 64) -> DataFrame:
    """Per-group KMV sketch: (group, hashes array of <= k, n_distinct_seen
    capped at k). Scale shape: distinct pre-agg on (group, hash) then a
    group-partitioned top-k window — no collect of unbounded sets."""
    hashed = df.select(
        F.col(group_col).alias("g"), _hash32(F.col(value_col)).alias("h")
    ).distinct()
    w = W.partitionBy("g").orderBy("h")
    topk = hashed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return topk.groupBy("g").agg(
        F.sort_array(F.collect_list("h")).alias("hashes")
    ).select(F.col("g").alias(group_col), "hashes")


def kmv_estimate(sketch: DataFrame, k: int = 64, out_col: str = "est") -> DataFrame:
    """Distinct-count estimate from a sketch: exact below k, else
    (k-1) * H / h_k."""
    n = F.size("hashes")
    hk = F.element_at("hashes", k).cast("double")
    est = F.when(n < k, n.cast("double")).otherwise(
        F.round(F.lit(float(k - 1)) * F.lit(_H) / hk, 0)
    )
    return sketch.withColumn(out_col, est.cast("long"))


def kmv_merge(a: DataFrame, b: DataFrame, group_col: str, k: int = 64) -> DataFrame:
    """Merge two sketch tables: union hash sets per group, retake the k
    smallest — the cross-segment combine, an aggregate over (group,
    sketch-sized arrays), never over raw data."""
    both = a.select(group_col, "hashes").unionByName(b.select(group_col, "hashes"))
    exploded = both.select(group_col, F.explode("hashes").alias("h")).distinct()
    w = W.partitionBy(group_col).orderBy("h")
    topk = exploded.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return topk.groupBy(group_col).agg(
        F.sort_array(F.collect_list("h")).alias("hashes")
    )


def kmv_intersect_estimate(
    a: DataFrame, b: DataFrame, group_col: str, k: int = 64
) -> DataFrame:
    """Set ALGEBRA over sketches (Beyer et al., SIGMOD'07): per-group
    estimates of |A∪B|, |A∩B| and the Jaccard similarity from two KMV
    sketches — the capability Spark's approx_count_distinct cannot
    express because its HLL state is opaque (the motivating case:
    distinct-user overlap between two segments without rescanning
    either).

    Method: take the k smallest hashes of the UNION; with h_k that set's
    maximum, rho = |{union top-k} ∩ A ∩ B| / k estimates Jaccard and
    |A∩B| ≈ rho * (k-1) * H / h_k. When the union holds fewer than k
    hashes everything is exact. Input is sketch tables (arrays of <= k
    hashes) — the plan aggregates sketch-sized data only, so two
    100 TB segment scans reduce to a join of kilobyte rows."""
    ea = a.select(
        F.col(group_col).alias("g"), F.explode("hashes").alias("h")
    ).withColumn("in_a", F.lit(1)).withColumn("in_b", F.lit(0))
    eb = b.select(
        F.col(group_col).alias("g"), F.explode("hashes").alias("h")
    ).withColumn("in_a", F.lit(0)).withColumn("in_b", F.lit(1))
    u = (
        ea.unionByName(eb)
        .groupBy("g", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = W.partitionBy("g").orderBy("h")
    topk = u.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    agg = topk.groupBy("g").agg(
        F.count(F.lit(1)).alias("kk"),
        F.max("h").cast("double").alias("hk"),
        F.sum((F.col("in_a") * F.col("in_b"))).alias("both"),
    )
    exact = F.col("kk") < k
    est_union = F.when(exact, F.col("kk").cast("double")).otherwise(
        F.round(F.lit(float(k - 1)) * F.lit(_H) / F.col("hk"), 0)
    )
    rho = F.col("both").cast("double") / F.col("kk")
    est_inter = F.when(exact, F.col("both").cast("double")).otherwise(
        F.round(rho * est_union, 0)
    )
    return agg.select(
        F.col("g").alias(group_col),
        est_union.cast("long").alias("est_union"),
        est_inter.cast("long").alias("est_intersect"),
        F.col("both").cast("long").alias("k_overlap"),
        F.round(rho, 4).alias("jaccard"),
    )


def count_min_build(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Count-min sketch over a value stream: ``depth`` independent md5
    hash rows × ``width`` counters. Returns the counter table
    (row, bucket, cnt) — depth×width rows TOTAL regardless of stream
    size, built by one map-side-combinable groupBy, and mergeable across
    shards/batches by summing matching (row, bucket) cells (the same
    merge-by-key contract as the KMV sketch above)."""
    rows = None
    for i in range(depth):
        h = (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{i}|"), F.col(value_col))), 1, 8),
                16,
                10,
            ).cast("long")
            % width
        )
        r = df.select(F.lit(i).alias("row"), h.alias("bucket"))
        rows = r if rows is None else rows.unionByName(r)
    return rows.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def count_min_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Point-query the sketch for every probe value: the estimate is the
    MIN over the ``depth`` counters the value hashes to — an upper bound
    on the true count (classic CMS guarantee). The sketch (depth×width
    rows) broadcasts; probes never shuffle."""
    probe_cells = None
    for i in range(depth):
        h = (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{i}|"), F.col(value_col))), 1, 8),
                16,
                10,
            ).cast("long")
            % width
        )
        r = probes.select(
            F.col(value_col), F.lit(i).alias("row"), h.alias("bucket")
        )
        probe_cells = r if probe_cells is None else probe_cells.unionByName(r)
    return (
        probe_cells.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy(value_col)
        .agg(F.min("cnt").alias("cms_est"))
    )


def log2_quantile_sketch(
    df: DataFrame,
    value_col: str,
    quantiles: tuple = (50, 90, 99),
) -> DataFrame:
    """Mergeable log2-binned quantile sketch: values land in whole-bit
    bins (bin = floor(log2 v), computed by digit-string length — never
    libm), the sketch is the (bin, count) histogram — trivially
    mergeable by adding counts, the property exact percentiles lack —
    and a quantile reports its bin's [2^b, 2^(b+1)) bracket: a
    guaranteed ≤2× relative error at any scale, the classic
    HdrHistogram/DDSketch trade (log-spaced buckets) with γ = 2 so
    every step stays integral and engine-exact.

    Shape: one partial-agged shuffle to ≤64 bins; quantile selection
    runs on the bin frame (broadcast total). Non-positive values share
    bin −1. Returns one row per requested quantile:
    (q_pct, bin, lo, hi, cum_count, n)."""
    from ytsaurus_spark.operators.curation import prefix_sum

    v = F.col(value_col).cast("long")
    binc = F.when(v < 1, F.lit(-1).cast("long")).otherwise(
        (F.length(F.conv(v.cast("string"), 10, 2)) - 1).cast("long")
    )
    h = (
        df.select(binc.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(materialize)  # <=64 rows; prefix sum + total share it
    )
    cum = prefix_sum(h, "bin", "c", out_col="__below").select(
        "bin", "c", (F.col("__below") + F.col("c")).cast("long").alias("cum")
    )
    tot = h.agg(F.sum("c").cast("long").alias("n"))
    qs = None
    for q in quantiles:
        pick = (
            cum.crossJoin(F.broadcast(tot))
            .filter(F.col("cum") * 100 >= q * F.col("n"))
            .orderBy("bin")
            .limit(1)
            .select(
                F.lit(q).cast("int").alias("q_pct"),
                "bin",
                F.expr(
                    "CAST(CASE WHEN bin < 0 THEN 0 "
                    "ELSE shiftleft(CAST(1 AS BIGINT), CAST(bin AS INT)) "
                    "END AS BIGINT)"
                ).alias("lo"),
                F.expr(
                    "CAST(CASE WHEN bin < 0 THEN 1 "
                    "ELSE shiftleft(CAST(1 AS BIGINT), CAST(bin AS INT) + 1) "
                    "END AS BIGINT)"
                ).alias("hi"),
                F.col("cum").alias("cum_count"),
                F.col("n"),
            )
        )
        qs = pick if qs is None else qs.unionByName(pick)
    return qs.orderBy("q_pct")
