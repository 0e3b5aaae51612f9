"""Temporal join operators — as-of and range joins.

Spark has no native ASOF JOIN (DuckDB/Pandas do); the scalable
formulation is the union-and-window trick:

    tag right rows 0 / left rows 1 → union → window per key ordered by
    (time, tag) → ``last(right_payload, ignorenulls)`` over the
    unbounded-preceding frame.

One shuffle on the key (both sides together), no point lookups, no
skew beyond the key's own distribution — this is how you as-of join
two 10-TB tables.  Matches DuckDB ``ASOF JOIN`` semantics: for each
left row, the latest right row with ``right.time <= left.time``
(inclusive: at equal times the right row sorts first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: list[str] | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right[on] <= left[on]``, matched within ``by`` groups.

    ``on`` must be an orderable column present in both frames (use
    epoch micros for timestamps); ``right_cols`` defaults to all right
    columns except ``on``/``by``.  Right columns are suffixed.
    """
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, by)]
    payload = F.struct(*[F.col(c) for c in right_cols])

    l_tagged = left.select(
        F.col(by),
        F.col(on),
        F.lit(1).alias("__is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.lit(None).cast(
            right.select(payload.alias("p")).schema["p"].dataType
        ).alias("__r"),
    )
    r_tagged = right.select(
        F.col(by),
        F.col(on),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(
            left.select(
                F.struct(*[F.col(c) for c in left.columns]).alias("l")
            ).schema["l"].dataType
        ).alias("__l"),
        payload.alias("__r"),
    )
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on), F.col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = l_tagged.unionByName(r_tagged).withColumn(
        "__match", F.last("__r", ignorenulls=True).over(w)
    )
    out = merged.filter(F.col("__is_left") == 1).select(
        *[F.col(f"__l.{c}").alias(c) for c in left.columns],
        *[F.col(f"__match.{c}").alias(f"{c}{suffix}") for c in right_cols],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    lower_us: int,
    upper_us: int,
    suffix: str = "_right",
) -> DataFrame:
    """All (left, right) pairs within the same ``by`` group with
    ``right[on] - left[on]`` in ``[lower_us, upper_us]``.

    Expressed as an equi-join on the key plus a range predicate —
    Catalyst runs sort-merge on the key and filters the band, which is
    the right plan when keys are selective.  (For key-free pure range
    joins, bucketize time into band-width bins first.)
    """
    r = right.select(
        F.col(by).alias(f"__rby"),
        F.col(on).alias(f"{on}{suffix}"),
        *[
            F.col(c).alias(f"{c}{suffix}")
            for c in right.columns
            if c not in (on, by)
        ],
    )
    cond = (
        (left[by] == r["__rby"])
        & (r[f"{on}{suffix}"] - left[on] >= lower_us)
        & (r[f"{on}{suffix}"] - left[on] <= upper_us)
    )
    return left.join(r, cond).drop("__rby")


def interval_concurrency(
    intervals: DataFrame,
    start_col: str = "s",
    end_col: str = "e",
    by: str | None = None,
) -> DataFrame:
    """Sweep-line MAX-CONCURRENCY over half-open intervals ``[s, e)``:
    per group, the peak number of simultaneously-active intervals and
    the earliest instant the peak is reached.

    The classic event-sweep: +1 at each start, −1 at each end, net
    deltas aggregated per instant (one hash-agg — ties collapse before
    the sort), then a running SUM ordered by time.  Half-open semantics
    fall out of the per-instant aggregation: an interval ending exactly
    when another starts contributes 0 net at that instant.

    Returns ``(by?, peak, peak_t)`` with ``peak_t`` the MIN instant
    attaining the peak — a total, engine-independent readout.

    100 TB shape: the delta union is map-side; the per-instant net is
    one shuffle on (by, t); the running sum windows PER GROUP, so
    parallelism = number of groups (the right plan when groups ≥
    cores).  KEYLESS calls used to be the classic SinglePartition
    cumulative window — they now run through
    ``order.prefix_sum_distributed`` (range shuffle + per-partition
    running sums + broadcast offsets) and return the one-row result
    eagerly materialized (q70 pattern: tiny result checkpointed, the
    full-size prefix-sum blocks released deterministically).
    """
    keys = [by] if by else []
    s = intervals.select(
        *keys, F.col(start_col).alias("t"), F.lit(1).cast("long").alias("d")
    )
    e = intervals.select(
        *keys, F.col(end_col).alias("t"), F.lit(-1).cast("long").alias("d")
    )
    net = s.unionByName(e).groupBy(*keys, "t").agg(F.sum("d").alias("net"))
    if keys:
        w = Window.partitionBy(*keys).orderBy("t")
        run = net.withColumn("c", F.sum("net").over(w))
    else:
        from graphdb_neo4j_spark.operators.order import (
            checkpoint_eager,
            prefix_sum_distributed,
        )

        run, handle = prefix_sum_distributed(net, ["t"], "net", out_col="c")
    agg = run.groupBy(*keys).agg(
        F.max("c").cast("bigint").alias("peak"),
        F.min_by("t", F.struct((-F.col("c")).alias("nc"), F.col("t").alias("tt")))
        .alias("peak_t"),
    )
    if keys:
        return agg
    out, _ = checkpoint_eager(agg)  # the caller owns the returned frame
    handle.release()
    return out


def gap_fill_ffill(
    df: DataFrame,
    key: str,
    bucket: str,
    value: str,
    step: str = "interval 1 day",
) -> DataFrame:
    """Time-series DENSIFICATION: given sparse per-``key`` buckets,
    emit every bucket between each key's min and max (``step`` apart)
    and forward-fill ``value`` across the gaps.

    Returns ``(key, bucket, <value> [observed, NULL in gaps],
    <value>_ffill [last observed, never NULL after the first
    observation])`` — the resample-and-pad stage every
    training-telemetry/feature pipeline needs before windowed models.

    100 TB shape: the spine is ONE `sequence()` + `explode` per key —
    generated map-side from the per-key (min, max) agg, no cross join
    against a calendar table; the fill is one window per key (shuffle
    on key, the same partitioning the join just used, so AQE reuses
    the exchange).  Spine size is bounded by (range/step)·keys —
    choose ``step`` accordingly.
    """
    bounds = df.groupBy(key).agg(
        F.min(bucket).alias("__mn__"), F.max(bucket).alias("__mx__")
    )
    spine = bounds.select(
        key,
        F.explode(
            F.sequence(F.col("__mn__"), F.col("__mx__"), F.expr(step))
        ).alias(bucket),
    )
    joined = spine.join(df, [key, bucket], "left")
    w = (
        Window.partitionBy(key)
        .orderBy(bucket)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.withColumn(
        f"{value}_ffill", F.last(value, ignorenulls=True).over(w)
    )


def window_funnel(
    events: DataFrame,
    steps: list[str],
    window_us: int,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_us_col: str = "ts_us",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Strict-order funnel depth per user within a sliding window —
    ``(user, funnel_level)``, the ClickHouse ``windowFunnel`` shape.

    A user reaches level k if some chain of events matching
    ``steps[0] < steps[1] < … < steps[k-1]`` (strictly increasing in
    the per-user sort order) fits inside ``window_us`` microseconds
    measured from the chain's FIRST event.  Exists-semantics (any
    chain counts), computed WITHOUT self-joins: one window pass per
    step carries the "latest feasible start of a length-j prefix
    strictly before this row" as a running max, so cost is
    O(steps × one per-user sort), one shuffle total on the user key.

    ``order_cols`` breaks timestamp ties deterministically (default
    ``[ts_us_col]``); "strictly before" means earlier in that sort
    order, so ties never chain.  Chain feasibility window-checks each
    step row against the prefix's START timestamp (the running max
    carries the chain-start, not the previous step's time).
    """
    order_cols = order_cols or [ts_us_col]
    w_prev = (
        Window.partitionBy(user_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    df = events
    # start[j] at a row = latest chain-start ts among length-(j+1)
    # prefixes ending strictly before the row
    for j, step in enumerate(steps):
        is_step = F.col(type_col) == step
        if j == 0:
            here = F.when(is_step, F.col(ts_us_col))
        else:
            feasible = F.col(f"_p{j - 1}") >= F.col(ts_us_col) - F.lit(window_us)
            here = F.when(is_step & feasible, F.col(f"_p{j - 1}"))
        df = df.withColumn(f"_s{j}", here)
        df = df.withColumn(f"_p{j}", F.max(F.col(f"_s{j}")).over(w_prev))
    level = F.greatest(
        *[
            F.when(F.col(f"_s{j}").isNotNull(), F.lit(j + 1)).otherwise(F.lit(0))
            for j in range(len(steps))
        ]
    )
    return (
        df.withColumn("_lvl", level)
        .groupBy(F.col(user_col).alias("user"))
        .agg(F.max("_lvl").cast("bigint").alias("funnel_level"))
    )


def cusum(
    df: DataFrame,
    value_col: str,
    drift: int,
    by: list[str] | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Two-sided CUSUM change detection (Page, Biometrika 1954) over an
    INTEGER value series, windowed — no recursion, no UDF.

    The textbook recursions C⁺_t = max(0, C⁺_{t-1} + (x_t − k)) and
    C⁻_t = max(0, C⁻_{t-1} + (k − x_t)) look un-SQL-able, but both have
    closed prefix forms: with S_t = Σ_{j≤t}(x_j − k),

        C⁺_t = S_t − min(0, min_{i≤t} S_i)
        C⁻_t = −(S_t − max(0, max_{i≤t} S_t))

    so each side is ONE running sum plus ONE running extremum over the
    same (by, order) window — a single shuffle, exact bigint arithmetic
    throughout (``drift`` is the reference offset k).  Appends
    ``cusum_pos`` / ``cusum_neg`` columns; alerting is a plain filter
    against a threshold h downstream.
    """
    by = by or []
    order_cols = order_cols or []
    w = (
        Window.partitionBy(*by)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = F.sum(F.col(value_col).cast("bigint") - F.lit(int(drift))).over(w)
    out = df.withColumn("_s", s)
    return (
        out.withColumn(
            "cusum_pos",
            (F.col("_s") - F.least(F.lit(0).cast("bigint"), F.min("_s").over(w)))
            .cast("bigint"),
        )
        .withColumn(
            "cusum_neg",
            (
                -(
                    F.col("_s")
                    - F.greatest(
                        F.lit(0).cast("bigint"), F.max("_s").over(w)
                    )
                )
            ).cast("bigint"),
        )
        .drop("_s")
    )


def weighted_rolling(
    df: DataFrame,
    value_col: str,
    weights: list[int],
    by: list[str] | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Integer FIR filter over an ordered series: for each row,
    numerator Σ_j weights[j]·x_{t−j} and the EFFECTIVE weight sum
    Σ_j weights[j]·[x_{t−j} exists] — exact bigints, so any smoothing
    kernel with precomputed integer taps (EWMA geometric taps, moving
    average, triangular/Hann) is engine-portable; the smoothed value is
    ``fir_num DIV fir_wsum`` (integer division, also exact).

    Series starts self-normalize: missing lags contribute to neither
    sum.  One window partition (single shuffle) regardless of tap
    count; ``len(weights)`` LAG expressions share the sort.  Appends
    ``fir_num`` / ``fir_wsum``.
    """
    by = by or []
    order_cols = order_cols or []
    w = Window.partitionBy(*by).orderBy(*order_cols)
    num = F.lit(0).cast("bigint")
    wsum = F.lit(0).cast("bigint")
    for j, wt in enumerate(weights):
        lagged = F.lag(F.col(value_col).cast("bigint"), j).over(w)
        num = num + F.coalesce(lagged * F.lit(int(wt)), F.lit(0))
        wsum = wsum + F.when(lagged.isNotNull(), F.lit(int(wt))).otherwise(0)
    return df.withColumn("fir_num", num.cast("bigint")).withColumn(
        "fir_wsum", wsum.cast("bigint")
    )


def ewma_taps(alpha: float, n_taps: int, scale: int = 1 << 20) -> list[int]:
    """Quantized geometric EWMA kernel: round(α(1−α)^j · scale) for
    j = 0..n_taps−1 — computed ONCE driver-side so Spark and any SQL
    oracle consume the IDENTICAL integer literals (no cross-engine
    pow() rounding hazard ever enters the data path)."""
    return [round(alpha * (1.0 - alpha) ** j * scale) for j in range(n_taps)]


def seasonal_phase_profile(
    series: DataFrame,
    idx_col: str = "idx",
    val_micro_col: str = "val_micro",
    period: int = 24,
    half: int = 12,
    segment: int | None = None,
) -> DataFrame:
    """Classical additive seasonal decomposition, phase-profile stage:
    given a regularly-indexed series ``(idx, val_micro)`` (one row per
    bucket, values in integer micro-units), estimate the seasonal index
    of each phase ``idx % period`` as the mean deviation from a
    centered moving-average trend — the "decompose" step of the
    classical STL-lite recipe (Hyndman & Athanasopoulos, *Forecasting:
    Principles and Practice*, §3.4), in exact integer arithmetic.

    * trend(i)   = ``(Σ_{j∈[i-half, i+half]} val) div (2·half+1)``,
      only where the window is complete (edge buckets are dropped, as
      in the textbook definition);
    * detrended  = ``val_micro - trend_micro``;
    * seasonal(p)= ``(Σ detrended over phase p) div n_p``.

    Returns ``(phase, seasonal_micro, n_obs)`` — ``period`` rows.

    Scale shape: the input is a POST-AGGREGATION bucket series (hours,
    days), i.e. thousands of rows regardless of raw-data size — the
    default single-partition ROWS window is over that reduced series,
    not the raw events; the heavy lifting (bucket rollup) happens
    upstream with map-side partial aggregation.  For multi-decade
    minute-grain series pass ``segment`` (buckets per chunk, e.g. one
    year's worth): the trend window then runs PER ``idx div segment``
    partition with a ``half``-row halo replicated across the boundary —
    bit-identical output to global mode on a dense index, with the sort
    parallelized across chunks instead of one partition.  Gaps in
    ``idx`` make the ROWS frame span non-adjacent buckets in either
    mode — densify with :func:`gap_fill_ffill` first if the series can
    be sparse.
    """
    n = 2 * int(half) + 1
    base = series.select(
        F.col(idx_col).alias("idx"), F.col(val_micro_col).alias("val_micro")
    )
    if segment is not None:
        if segment < max(int(half), 1):
            raise ValueError(
                f"segment ({segment}) must be >= half ({half}) so one "
                "neighbor chunk's halo covers the window"
            )
        # each row lands in its own chunk, plus the neighbor chunk when
        # it sits within `half` rows of the boundary (the halo): chunk s
        # then holds exactly idx ∈ [s·segment − half, (s+1)·segment + half)
        own = F.pmod(F.col("idx").cast("bigint"), F.lit(int(segment)))
        # exact floor-division chunk id (Spark's `div` truncates toward
        # zero, which mis-chunks negative indexes)
        seg0 = F.expr(
            f"(idx - pmod(idx, {int(segment)})) div {int(segment)}"
        ).cast("bigint")
        expanded = base.select(
            "idx",
            "val_micro",
            F.explode(
                F.concat(
                    F.array(seg0),
                    F.when(own < int(half), F.array(seg0 - 1)).otherwise(
                        F.array().cast("array<bigint>")
                    ),
                    F.when(own >= int(segment) - int(half), F.array(seg0 + 1))
                    .otherwise(F.array().cast("array<bigint>")),
                )
            ).alias("seg"),
        )
        w_sql = (
            f"partition by seg order by idx rows between {int(half)} "
            f"preceding and {int(half)} following"
        )
        trended = expanded.select(
            "idx",
            "val_micro",
            "seg",
            F.expr(f"count(*) over ({w_sql})").alias("n_win"),
            F.expr(f"(sum(val_micro) over ({w_sql})) div {n}").alias(
                "trend_micro"
            ),
        ).filter(F.col("seg") == seg0)  # halo rows only pad windows
    else:
        w_sql = (
            f"order by idx rows between {int(half)} preceding and "
            f"{int(half)} following"
        )
        trended = base.select(
            "idx",
            "val_micro",
            F.expr(f"count(*) over ({w_sql})").alias("n_win"),
            F.expr(f"(sum(val_micro) over ({w_sql})) div {n}").alias(
                "trend_micro"
            ),
        )
    detr = trended.filter(F.col("n_win") == n).select(
        (F.col("idx") % period).alias("phase"),
        (F.col("val_micro") - F.col("trend_micro")).alias("detr_micro"),
    )
    return detr.groupBy("phase").agg(
        F.expr("sum(detr_micro) div count(*)").cast("bigint").alias(
            "seasonal_micro"
        ),
        F.count("*").cast("bigint").alias("n_obs"),
    )


def seasonal_phase_profile_sql(
    series_sql: str, period: int = 24, half: int = 12
) -> str:
    """DuckDB oracle for :func:`seasonal_phase_profile`;
    ``series_sql`` must yield (idx, val_micro)."""
    n = 2 * int(half) + 1
    return f"""
    WITH s AS ({series_sql}),
    t AS (
      SELECT idx, val_micro,
             COUNT(*) OVER w AS n_win,
             (SUM(val_micro) OVER w) // {n} AS trend_micro
      FROM s
      WINDOW w AS (ORDER BY idx
                   ROWS BETWEEN {int(half)} PRECEDING AND {int(half)} FOLLOWING)
    )
    SELECT idx % {int(period)} AS phase,
           CAST((SUM(val_micro - trend_micro)) // COUNT(*) AS BIGINT)
             AS seasonal_micro,
           CAST(COUNT(*) AS BIGINT) AS n_obs
    FROM t WHERE n_win = {n}
    GROUP BY idx % {int(period)}
    """
