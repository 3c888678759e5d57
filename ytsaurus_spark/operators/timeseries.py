"""Time-series densification and resampling as declarative plans.

The reference's time-ordered processing (ordered dynamic tables,
``$timestamp`` reads — yt/yt/client/table_client/schema.h ordered-table
attributes; windowed QL over log tables) leaves gap handling to the
query. These operators make the two standard shapes first-class:

- ``gap_fill``   — densify a per-key time series onto a fixed grid,
  emitting zero/null rows for missing buckets. Per key: aggregate to
  (min, max), ``sequence()`` + ``explode`` the grid, LEFT join the
  observed buckets back. The grid explode is per-key (never a global
  cross join) and the join is an equi-join on (key, bucket) — both
  sides partition on the same key, so at 100 TB this is one co-located
  shuffle; grid size is bounded by the key's own span.
- ``resample``   — bucket to a coarser grain with an aggregate, then
  forward-fill empty buckets from the last observed value with
  ``last(..., ignorenulls)`` over a KEY-PARTITIONED window (never
  global; each key's frames sort only that key's buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ytsaurus_spark.operators import materialize

__all__ = ["gap_fill", "resample", "mad_outliers", "interval_join", "ewma", "holt_linear", "lag_corr", "seasonal_decompose", "cusum_changepoint", "rolling_median"]


def gap_fill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step: str = "1 hour",
    fill: float | None = 0.0,
) -> DataFrame:
    """Densify (key, bucket, value) onto a fixed ``step`` grid spanning
    each key's own [min(ts), max(ts)] range. Missing buckets get
    ``fill`` (None keeps them null for a later interpolation pass)."""
    bucket = F.date_trunc("hour", F.col(ts_col)) if step == "1 hour" else F.date_trunc(
        "day", F.col(ts_col)
    )
    observed = (
        df.groupBy(F.col(key_col).alias("k"), bucket.alias("bucket"))
        .agg(F.sum(value_col).alias("v"))
    )
    spans = observed.groupBy("k").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = spans.select(
        "k",
        F.explode(
            F.sequence("lo", "hi", F.expr(f"interval {step}"))
        ).alias("bucket"),
    )
    filled = grid.join(observed, ["k", "bucket"], "left")
    v = F.col("v") if fill is None else F.coalesce(F.col("v"), F.lit(float(fill)))
    return filled.select(
        F.col("k").alias(key_col),
        F.col("bucket"),
        v.alias(value_col),
    )


def resample(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step: str = "1 hour",
) -> DataFrame:
    """Resample to ``step`` grain and forward-fill gaps from the last
    observed bucket (per key). The fill window partitions on the key."""
    dense = gap_fill(df, key_col, ts_col, value_col, step=step, fill=None)
    w = W.partitionBy(key_col).orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    return dense.select(
        key_col,
        "bucket",
        F.last(value_col, ignorenulls=True).over(w).alias(value_col),
        F.col(value_col).isNull().alias("was_gap"),
    )


def mad_outliers(
    events: DataFrame,
    key_col: str = "user_id",
    val_col: str = "value",
    order_col: str = "event_id",
    k: int = 3,
) -> DataFrame:
    """Robust per-key outlier detection via median absolute deviation,
    in EXACT integer arithmetic: values scale to cents, the median is
    the lower median element (rank ``floor((n+1)/2)`` of the
    (cents, id)-sorted group — an actual data element, never an
    interpolated float), MAD is the lower median of |x - median|, and a
    row is an outlier when ``|x - median| > k * MAD``. Every quantity is
    a BIGINT, so the flags are bit-identical on any engine.

    Shape: all three passes are windows/aggs partitioned on the key —
    co-partitioned, no global ordering anywhere; at 10^10 rows this is
    two key-grain shuffles (ranks reuse the first exchange)."""
    from pyspark.sql import Window as W

    cents = F.round(F.col(val_col) * 100).cast("long")
    base = events.select(
        F.col(key_col).alias("k"), F.col(order_col).alias("oid"),
        cents.alias("cents"),
    )
    w_rn = W.partitionBy("k").orderBy("cents", "oid")
    w_all = W.partitionBy("k")
    ranked = base.withColumn("__rn", F.row_number().over(w_rn)).withColumn(
        "__n", F.count(F.lit(1)).over(w_all)
    )
    med = ranked.groupBy("k").agg(
        F.max(
            F.when(F.col("__rn") * 2 <= F.col("__n") + 1, F.col("cents"))
        ).alias("median_cents"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dev = base.join(med, "k").withColumn(
        "__dev", F.abs(F.col("cents") - F.col("median_cents"))
    )
    w_drn = W.partitionBy("k").orderBy("__dev", "oid")
    dev_ranked = dev.withColumn("__drn", F.row_number().over(w_drn))
    mad = dev_ranked.groupBy("k").agg(
        F.max(
            F.when(F.col("__drn") * 2 <= F.col("n") + 1, F.col("__dev"))
        ).alias("mad_cents")
    )
    flagged = dev.join(mad, "k").withColumn(
        "__out", F.col("__dev") > k * F.col("mad_cents")
    )
    return (
        flagged.groupBy("k")
        .agg(
            F.max("n").alias("n"),
            F.max("median_cents").alias("median_cents"),
            F.max(F.col("mad_cents")).alias("mad_cents"),
            F.sum(F.col("__out").cast("long")).cast("long").alias("n_outliers"),
        )
        .select(
            F.col("k").alias(key_col), "n", "median_cents", "mad_cents",
            "n_outliers",
        )
    )


def interval_join(
    fact: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    keys: list | None = None,
    grid_seconds: int = 3600,
) -> DataFrame:
    """Scalable interval-overlap join: match fact rows to every interval
    with ``start <= ts < end`` (plus optional equi-``keys``) WITHOUT the
    naive theta-join (which Spark plans as a broadcast-nested-loop —
    quadratic and a non-starter at 100 TB).

    Shape: both sides bucket onto a ``grid_seconds`` time grid — the
    fact row to its single grid cell, the interval exploded to the cells
    it spans — so the planner gets an EQUI-join on (grid, keys) and only
    the residual range predicate runs per candidate. Each fact row lives
    in exactly one cell, so a (fact, interval) pair meets at most once:
    no distinct needed. Interval explosion is bounded by
    span/grid_seconds cells; pick the grid near the median interval
    length (the standard range-join binning rule)."""
    keys = keys or []
    f_cell = F.expr(
        f"((unix_timestamp(`{ts_col}`)) - pmod(unix_timestamp(`{ts_col}`),"
        f" {grid_seconds})) div {grid_seconds}"
    )
    s_cell = (
        f"((unix_timestamp(`{start_col}`)) - pmod(unix_timestamp(`{start_col}`),"
        f" {grid_seconds})) div {grid_seconds}"
    )
    e_cell = (
        f"((unix_timestamp(`{end_col}`)) - pmod(unix_timestamp(`{end_col}`),"
        f" {grid_seconds})) div {grid_seconds}"
    )
    fb = fact.withColumn("__cell", f_cell)
    ib = intervals.withColumn(
        "__cell", F.explode(F.expr(f"sequence({s_cell}, {e_cell})"))
    )
    joined = fb.join(ib, ["__cell"] + keys).where(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
    )
    return joined.drop("__cell")


def ewma(
    series: DataFrame,
    alpha: float = 0.25,
    lookback: int = 40,
    key_col: str = "key",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Exponentially weighted moving average per key, truncated to the
    last ``lookback`` observations — the anomaly-score / smoothing
    primitive for metric streams.

    EWMA is inherently sequential (s_t = a·x_t + (1−a)·s_{t−1}), which
    is why naive ports collect per-key series to the driver. The
    distributed shape used here: a key-partitioned ORDER BY window
    collects the trailing ``lookback`` values into an array, and ONE
    sequential fold over that bounded array computes the truncated
    recurrence — (1−a)^lookback < 1e-5 at the defaults, and the
    truncation IS the operator's spec (both engines run the identical
    fold, so results are bit-exact cross-engine: same values, same
    order, same IEEE ops — no cross-partition float reassociation).
    At 100 TB this is one shuffle on key; frame size is bounded by
    ``lookback``, never by key cardinality or history length."""
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(key_col)
        .orderBy(ts_col)
        .rowsBetween(-(lookback - 1), W.currentRow)
    )
    trail = F.collect_list(F.col(val_col).cast("double")).over(w)
    # fold oldest→newest: acc = a*x + (1-a)*acc, seeded with the oldest
    # value (standard s_0 = x_0 initialization of the truncated window)
    # try_element_at: an all-NULL window leaves an empty trail (NULLs
    # never enter it), and ANSI element_at throws on index 1 of []
    ew = F.expr(
        f"aggregate(slice(__trail, 2, {lookback}), "
        f"CAST(try_element_at(__trail, 1) AS DOUBLE), "
        f"(acc, x) -> CAST({alpha}D * x + {1.0 - alpha}D * acc AS DOUBLE))"
    )
    return (
        series.withColumn("__trail", trail)
        .withColumn("ewma", ew)
        .drop("__trail")
    )


def holt_linear(
    series: DataFrame,
    alpha: float = 0.25,
    beta: float = 0.125,
    lookback: int = 40,
    key_col: str = "key",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per key,
    truncated to the last ``lookback`` observations — the
    level-plus-trend forecasting primitive (the EWMA's two-state
    sibling):

        level_t = α·x_t + (1−α)·(level_{t−1} + trend_{t−1})
        trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_t₋₁

    The coupled recurrence folds over the same bounded window-collected
    trail as ``ewma``, with the accumulator encoded as a 2-element
    array [level, trend] (seeded [x_oldest, 0]) so the identical fold
    runs in both engines — dyadic α/β keep every literal exact, and
    element order is fixed, so results are bit-identical cross-engine.
    One shuffle on key; frame bounded by ``lookback``. Emits the
    smoothed level, trend, and the one-step forecast level+trend."""
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(key_col)
        .orderBy(ts_col)
        .rowsBetween(-(lookback - 1), W.currentRow)
    )
    trail = F.collect_list(F.col(val_col).cast("double")).over(w)
    a, b = float(alpha), float(beta)
    lvl = (
        f"({a}D * element_at(el, 1) + {1.0 - a}D * "
        "(element_at(acc, 1) + element_at(acc, 2)))"
    )
    # NULL values never enter the trail (collect_list drops them — the
    # DuckDB oracle mirrors with FILTER); an all-NULL window yields an
    # empty trail and a NULL state (not a [NULL, 0] half-state)
    state = F.expr(
        f"CASE WHEN size(__trail) = 0 THEN NULL ELSE "
        f"aggregate(slice(transform(__trail, v -> array(v, 0D)), 2, {lookback}), "
        "array(try_element_at(__trail, 1), 0D), "
        f"(acc, el) -> array({lvl}, "
        f"{b}D * ({lvl} - element_at(acc, 1)) + {1.0 - b}D * element_at(acc, 2))) END"
    )
    return (
        series.withColumn("__trail", trail)
        .withColumn("__st", state)
        .select(
            "*",
            F.element_at("__st", 1).alias("level"),
            F.element_at("__st", 2).alias("trend"),
            (F.element_at("__st", 1) + F.element_at("__st", 2)).alias("forecast"),
        )
        .drop("__trail", "__st")
    )


def lag_corr(
    daily: DataFrame,
    max_lag: int = 7,
    day_col: str = "d",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Lagged Pearson cross-correlation between two integer-valued daily
    series: for each lag 0..``max_lag``, r(lag) = corr(x_t, y_{t+lag})
    over the days where both sides exist. Input ``daily`` has one row per
    day with integer day number ``day_col`` and exact-integer (e.g.
    cents-scaled) series columns — the lead/lag attribution primitive
    over event streams (the reference's windowed QL over ordered tables).

    Determinism discipline: all five moments (Σx, Σy, Σxy, Σx², Σy²) are
    exact BIGINT sums of exact integers, so they are order-independent;
    r is then one IEEE-exact expression over the integer moments —
    num/(sqrt(dx)·sqrt(dy)) with num = n·Σxy − Σx·Σy — identical in any
    engine. (BIGINT bounds: Σx² needs n·x_max² < 2⁶³; at corpus scales
    beyond that, pre-aggregate to a coarser grain or drop to DECIMAL.)

    Scale shape: the daily frame is aggregate-sized (one row per day),
    so the lag self-join is a broadcast of a tiny frame against itself;
    everything upstream (the per-day aggregation of the raw events) is
    the single corpus shuffle."""
    # Both sides of the lag join read ``daily``; persist so the upstream
    # per-day corpus aggregation materializes once (the frame itself is
    # one-row-per-day tiny — the cache is the plan dedup, not capacity).
    daily = materialize(daily)
    lags = (
        daily.sparkSession.range(max_lag + 1)
        .select(F.col("id").cast("int").alias("lag"))
    )
    xs = daily.select(F.col(day_col).alias("xd"), F.col(x_col).alias("x"))
    ys = daily.select(F.col(day_col).alias("yd"), F.col(y_col).alias("y"))
    pairs = (
        xs.crossJoin(F.broadcast(lags))
        .join(ys, F.col("yd") == F.col("xd") + F.col("lag"))
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num")
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("dx")
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("dy")
    with_m = m.select("lag", "n", num, dx, dy)
    r = F.when(
        (F.col("dx") > 0) & (F.col("dy") > 0),
        F.col("num").cast("double")
        / (
            F.sqrt(F.col("dx").cast("double"))
            * F.sqrt(F.col("dy").cast("double"))
        ),
    )
    return with_m.select("lag", "n", "num", "dx", "dy", r.alias("r"))


def _join_small(df: DataFrame, small: DataFrame, keys: list) -> DataFrame:
    """Attach a per-key (or global 1-row) aggregate frame: broadcast
    equi-join when keyed, broadcast cross join for the scalar case."""
    if keys:
        return df.join(F.broadcast(small), keys)
    return df.crossJoin(F.broadcast(small))


def seasonal_decompose(
    daily: DataFrame,
    period: int = 7,
    day_col: str = "d",
    x_col: str = "x",
    key_col: str | None = None,
) -> DataFrame:
    """Classical additive seasonal decomposition of one integer-valued
    daily series: trend = centered ``period``-day moving average,
    seasonal = per-phase mean of the detrended values, residual = value
    − trend − seasonal (the decomposition behind anomaly baselines and
    load forecasting; the reference leaves it to windowed QL).

    Determinism discipline: everything stays ×``period`` scaled integers
    as long as possible — ``trend_p`` is the exact BIGINT window sum
    (null until the window is full), ``detr_p = period·x − trend_p`` is
    exact BIGINT, the per-phase seasonal mean sums exact BIGINTs — so
    the only doubles are three final correctly-rounded divisions, with
    identical operand association in any engine. Odd ``period`` assumed
    (centered window is symmetric).

    Input contract — CONTIGUOUS day grid (per key): the centered window
    is ROW-based, so a gap in ``day_col`` silently stretches the
    "``period``-day" span across the missing days (the count==period
    completeness check counts rows, not calendar days). Gap-fill with
    ``gap_fill`` first if the series can have holes.

    Scale shape: with ``key_col`` set (the production form) every window
    PARTITIONS by the series key and the phase means group by
    (key, phase) — the plan is per-series parallel with no global
    window, so it scales to any number of series. Without a key the
    single-series form keeps a deliberate unpartitioned window whose
    input contract is an already-aggregated daily frame (per-day rows,
    not corpus rows); the phase means are a ``period``-row broadcast
    join either way."""
    if period % 2 == 0:
        raise ValueError("seasonal_decompose requires an odd period "
                         "(centered window must be symmetric)")
    half = period // 2
    keys = [key_col] if key_col else []
    w = W.partitionBy(*keys).orderBy(day_col).rowsBetween(-half, half)
    base = daily.select(
        *keys,
        F.col(day_col).alias("d"),
        F.col(x_col).alias("x"),
        (F.col(day_col) % period).alias("phase"),
        F.when(
            F.count(F.lit(1)).over(w) == period,
            F.sum(x_col).over(w),
        ).cast("long").alias("trend_p"),
    ).withColumn(
        "detr_p",
        (F.lit(period) * F.col("x") - F.col("trend_p")).cast("long"),
    ).transform(materialize)  # phase means + final projection both read it
    phase_means = base.filter(F.col("detr_p").isNotNull()).groupBy(
        *keys, "phase"
    ).agg(
        (
            F.sum("detr_p").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("s_p")
    )
    return (
        base.join(F.broadcast(phase_means), keys + ["phase"], "left")
        .select(
            *keys,
            "d",
            "x",
            F.col("phase").cast("int").alias("phase"),
            "trend_p",
            "detr_p",
            (F.col("trend_p").cast("double") / F.lit(float(period))).alias(
                "trend"
            ),
            (F.col("s_p") / F.lit(float(period))).alias("seasonal"),
            (
                (F.col("detr_p").cast("double") - F.col("s_p"))
                / F.lit(float(period))
            ).alias("resid"),
        )
    )


def cusum_changepoint(
    daily: DataFrame,
    day_col: str = "d",
    x_col: str = "x",
    key_col: str | None = None,
) -> DataFrame:
    """CUSUM changepoint localization over one integer-valued daily
    series: the cumulative sum of n-scaled deviations ``dev_k = n·x_k −
    Σx`` peaks (in absolute value) at the most likely level-shift point
    (Page 1954; the scan a monitoring pipeline runs over per-day metric
    rollups). Scaling by n instead of subtracting the mean keeps EVERY
    quantity an exact BIGINT — dev, the running cusum, and the peak rank
    are engine-identical with zero float operations.

    Returns the full series with ``abs_rank`` (1 = strongest candidate
    changepoint; cusum returns to exactly 0 on the last row by
    construction — a built-in checksum).

    Scale shape: with ``key_col`` set (the production multi-metric
    form) the totals group by key and BOTH windows partition by it —
    per-series parallel, no global window, any number of series. The
    keyless form keeps a deliberate unpartitioned cumulative window
    whose input contract is the aggregate-sized per-day frame (one
    corpus shuffle upstream). BIGINT bound: n·Σ|x| < 2^63."""
    keys = [key_col] if key_col else []
    daily = materialize(daily)  # totals + the cusum pass both read it
    tot = daily.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x_col).cast("long").alias("s"),
    )
    w = W.partitionBy(*keys).orderBy(day_col).rowsBetween(
        W.unboundedPreceding, 0
    )
    c = (
        _join_small(daily, tot, keys)
        .withColumn(
            "dev",
            (F.col("n") * F.col(x_col) - F.col("s")).cast("long"),
        )
        .withColumn("cusum", F.sum("dev").over(w).cast("long"))
    )
    rk = W.partitionBy(*keys).orderBy(F.abs(F.col("cusum")).desc(), day_col)
    return c.select(
        *keys,
        F.col(day_col).alias("d"),
        F.col(x_col).alias("x"),
        "dev",
        "cusum",
        F.row_number().over(rk).cast("int").alias("abs_rank"),
    )


def rolling_median(
    daily: DataFrame,
    window: int = 7,
    day_col: str = "d",
    x_col: str = "x",
    key_col: str | None = None,
) -> DataFrame:
    """Centered rolling median over one integer-valued daily series —
    the robust smoother (median filters shrug off the spikes that wreck
    a moving average). Odd ``window`` only; incomplete edge windows stay
    null. The median is ELEMENT SELECTION over the sorted window list
    (collect_list → sort_array → middle element), never interpolation,
    so the output is an exact BIGINT on any engine.

    Input contract — CONTIGUOUS day grid (per key): the window is
    ROW-based, so day gaps stretch the span across missing days
    (count==window checks rows, not days); ``gap_fill`` first if the
    series can have holes.

    Scale shape: with ``key_col`` set the window PARTITIONS by the
    series key — per-series parallel, no global window. The keyless
    form's unpartitioned ORDER BY window sorts day-grain rows only
    (aggregate-sized input contract); per-row state is the
    ``window``-element list — bounded, in-row, either way."""
    if window % 2 == 0:
        raise ValueError("rolling_median requires an odd window "
                         "(element-selection median, no interpolation)")
    half = window // 2
    keys = [key_col] if key_col else []
    w = W.partitionBy(*keys).orderBy(day_col).rowsBetween(-half, half)
    return daily.select(
        *keys,
        F.col(day_col).alias("d"),
        F.col(x_col).alias("x"),
        F.when(
            F.count(F.lit(1)).over(w) == window,
            F.sort_array(F.collect_list(x_col).over(w)).getItem(half),
        ).cast("long").alias("med"),
    )


def lttb_downsample(
    events: DataFrame,
    n_buckets: int = 32,
    series_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Fixed-anchor largest-triangle-three-buckets downsampling: per
    series, split the time range into ``n_buckets`` equal spans and keep
    the ONE point per interior bucket that subtends the largest triangle
    with the neighboring buckets' anchor points — the standard
    shape-preserving reduction for plotting/monitoring huge series.

    Anchor variant: classic LTTB anchors on the previously SELECTED
    point (a sequential dependency); this uses (bucket center x, bucket
    mean y) anchors for both neighbors, which drops the dependency so
    every bucket selects in parallel — one window over the bucket-grain
    frame, zero sequential passes (the published streaming/parallel
    LTTB trade-off). Exactness: x rebases to per-series seconds and
    doubles (2x so bucket centers stay integral), y quantizes to cents,
    and the triangle area comparison multiplies through by c_prev·c_next
    so the argmax runs on exact BIGINT cross products — no float enters
    selection. Ties break on the id column. Exact while
    4·span_s·c²·y_cents < 2^63 (document: at bigger scales pre-bucket
    to coarser ticks first).

    Shape: one (series, bucket) partial-agged aggregate builds the
    anchor frame (≤ series·n_buckets rows; its lag/lead window
    partitions by series); the corpus-grain work is one broadcast join
    of anchors onto points + one per-bucket rank window.

    Returns (series, bucket, id, x_s, val_cents, area2) with one row
    per interior bucket."""
    from pyspark.sql import Window as W

    ev = events.select(
        F.col(series_col).alias("series"),
        F.col(id_col).alias("pid"),
        F.col(ts_col).cast("long").alias("xs"),
        F.round(F.col(val_col) * 100).cast("long").alias("yc"),
    )
    rng = ev.groupBy("series").agg(
        F.min("xs").alias("mn"), F.max("xs").alias("mx")
    )
    spanned = ev.join(F.broadcast(rng), "series").select(
        "series",
        "pid",
        (F.col("xs") - F.col("mn")).alias("x"),
        "yc",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(mx - mn) div {n_buckets}") + 1,
        ).alias("span"),
    )
    pts = spanned.withColumn("bucket", F.expr("x div span")).transform(materialize)
    bag = pts.groupBy("series", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("yc").cast("long").alias("sy"),
        F.first("span").alias("span"),
    )
    w = W.partitionBy("series").orderBy("bucket")
    anch = bag.select(
        "series",
        "bucket",
        F.lag("bucket").over(w).alias("b_p"),
        F.lag("c").over(w).alias("c_p"),
        F.lag("sy").over(w).alias("sy_p"),
        F.lead("bucket").over(w).alias("b_n"),
        F.lead("c").over(w).alias("c_n"),
        F.lead("sy").over(w).alias("sy_n"),
    ).filter(F.col("b_p").isNotNull() & F.col("b_n").isNotNull())
    j = pts.join(F.broadcast(anch), ["series", "bucket"])
    cp2 = (2 * F.col("b_p") + 1) * F.col("span")
    cn2 = (2 * F.col("b_n") + 1) * F.col("span")
    x2 = 2 * F.col("x")
    area2 = F.abs(
        (cp2 - cn2) * F.col("c_n")
        * (F.col("yc") * F.col("c_p") - F.col("sy_p"))
        - (cp2 - x2)
        * (F.col("sy_n") * F.col("c_p") - F.col("sy_p") * F.col("c_n"))
    )
    rk_w = W.partitionBy("series", "bucket").orderBy(
        F.col("area2").desc(), F.col("pid")
    )
    return (
        j.withColumn("area2", area2)
        .withColumn("rk", F.row_number().over(rk_w))
        .filter(F.col("rk") == 1)
        .select(
            "series",
            F.col("bucket").cast("long").alias("bucket"),
            F.col("pid").alias("id"),
            F.col("x").alias("x_s"),
            F.col("yc").alias("val_cents"),
            F.col("area2").cast("long").alias("area2"),
        )
        .orderBy("series", "bucket")
    )


def theilsen_trend(
    daily: DataFrame,
    x_col: str = "d",
    y_col: str = "x",
    key_col: str | None = None,
) -> DataFrame:
    """Theil–Sen robust trend estimate over a (small) aggregated series:
    the median of all pairwise slopes (y_j − y_i)/(x_j − x_i), i < j —
    the breakdown-resistant alternative to least-squares trend (up to
    ~29% outlier days cannot move it).

    INPUT CONTRACT: ``daily`` is an already-aggregated frame (one row
    per grid point — days, hours), so the O(n²) pair join is bounded by
    the grid, not the corpus; the corpus-grain reduction happens
    upstream (one partial-agged shuffle). Slopes are single IEEE
    divisions of exact integers (deterministic on both engines); the
    median element selects by rank (lower median), ties broken by the
    (x_i, x_j) pair key, then the intercept is the median-of-residuals
    b = lower-median(y − slope·x) computed the same way.

    Returns one row (per key with ``key_col`` set): (n_points, n_pairs,
    slope, intercept). With ``key_col`` the pair join adds a key
    equi-condition and BOTH median-rank windows partition by the key —
    per-series parallel, no global window (the production multi-series
    form); the keyless form keeps the bounded single-grid contract."""
    from pyspark.sql import Window as W

    keys = [key_col] if key_col else []
    daily = materialize(daily)  # both pair-join legs, the residual pass, and
    # the count all re-read the (small) grid frame
    a = daily.select(
        *keys, F.col(x_col).alias("xi"), F.col(y_col).alias("yi")
    )
    b = daily.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        F.col(x_col).alias("xj"),
        F.col(y_col).alias("yj"),
    )
    cond = F.col("xi") < F.col("xj")
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__k_{k}"))
    pairs = a.join(b, cond).select(
        *keys,
        "xi",
        "xj",
        (
            (F.col("yj") - F.col("yi")).cast("double")
            / (F.col("xj") - F.col("xi")).cast("double")
        ).alias("slope"),
    ).transform(materialize)  # pair frame (grid-bounded); count + rank share it
    np_ = pairs.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    w = W.partitionBy(*keys).orderBy("slope", "xi", "xj")
    med_slope = (
        _join_small(pairs, np_, keys)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == F.floor((F.col("n_pairs") + 1) / 2))
        .select(*keys, "slope", "n_pairs")
    )
    resid = _join_small(daily, med_slope, keys).select(
        *keys,
        "n_pairs",
        "slope",
        (F.col(y_col).cast("double") - F.col("slope") * F.col(x_col).cast("double")).alias(
            "r"
        ),
        F.col(x_col).alias("xx"),
    )
    nn = daily.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_points")
    )
    wr = W.partitionBy(*keys).orderBy("r", "xx")
    return (
        _join_small(resid, nn, keys)
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == F.floor((F.col("n_points") + 1) / 2))
        .select(
            *keys,
            "n_points",
            "n_pairs",
            (F.floor(F.col("slope") * 1e6 + F.lit(0.5)).cast("long") / F.lit(1e6)).alias("slope"),
            (F.floor(F.col("r") * 1e6 + F.lit(0.5)).cast("long") / F.lit(1e6)).alias("intercept"),
        )
    )


def binary_segmentation(
    daily: DataFrame,
    x_col: str = "d",
    y_col: str = "x",
    key_col: str | None = None,
) -> DataFrame:
    """Two-level binary segmentation for multiple changepoints: the
    level-1 CUSUM peak splits the series, then each half runs its own
    segment-local CUSUM scan — the standard recursive changepoint
    scheme, unrolled two levels so the whole thing stays one
    deterministic plan (same bounded-recursion contract as the
    bounded-round graph operators).

    Exactness: per segment the deviation is n_seg-scaled
    (dev = n_seg·y − Σ_seg y), so devs, running cusums, and peak
    selection are exact BIGINTs end to end; ties break on the grid key.
    INPUT CONTRACT: ``daily`` is an already-aggregated grid frame
    (corpus reduces upstream), persisted here for the two passes.

    Returns one row per (level, segment) — per key with ``key_col``
    set: (level, seg, seg_lo, seg_hi, n_seg, cp, peak_abs_cusum) —
    level 1 has one row, level 2 two. With ``key_col`` every window
    partitions by (key, seg) — the level-1 literal ``seg = 0`` alone
    would constant-fold to an unpartitioned window, so the key is what
    makes the plan per-series parallel (the production form)."""
    from pyspark.sql import Window as W

    keys = [key_col] if key_col else []
    daily = daily.select(
        *keys, F.col(x_col).alias("d"), F.col(y_col).alias("y")
    ).transform(materialize)

    def seg_peaks(segged: DataFrame, level: int) -> DataFrame:
        stats = segged.groupBy(*keys, "seg").agg(
            F.count(F.lit(1)).cast("long").alias("n_seg"),
            F.sum("y").cast("long").alias("s_seg"),
            F.min("d").cast("long").alias("seg_lo"),
            F.max("d").cast("long").alias("seg_hi"),
        )
        w_cum = (
            W.partitionBy(*keys, "seg")
            .orderBy("d")
            .rowsBetween(W.unboundedPreceding, 0)
        )
        cum = (
            segged.join(F.broadcast(stats), keys + ["seg"])
            .withColumn("dev", F.col("n_seg") * F.col("y") - F.col("s_seg"))
            .withColumn("cusum", F.sum("dev").over(w_cum).cast("long"))
        )
        w_rk = W.partitionBy(*keys, "seg").orderBy(
            F.abs(F.col("cusum")).desc(), F.col("d")
        )
        return (
            cum.withColumn("rk", F.row_number().over(w_rk))
            .filter(F.col("rk") == 1)
            .select(
                *keys,
                F.lit(level).cast("int").alias("level"),
                F.col("seg").cast("long").alias("seg"),
                "seg_lo",
                "seg_hi",
                "n_seg",
                F.col("d").cast("long").alias("cp"),
                F.abs(F.col("cusum")).cast("long").alias("peak_abs_cusum"),
            )
        )

    l1 = seg_peaks(daily.withColumn("seg", F.lit(0)), 1).transform(materialize)
    cp1 = l1.select(*keys, F.col("cp").alias("cp1"))
    segged2 = _join_small(daily, cp1, keys).withColumn(
        "seg", F.when(F.col("d") <= F.col("cp1"), 1).otherwise(2)
    ).drop("cp1")
    l2 = seg_peaks(segged2, 2)
    return l1.unionByName(l2).orderBy(*keys, "level", "seg")
