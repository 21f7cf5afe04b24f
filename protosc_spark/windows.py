"""Windowed feature operators over event and transcript tables.

Two families live here:

* Point-in-time row operators — lag/lead, rolling backfill, trailing
  aggregates, gap-based sessionization, funnels, paths, transition
  models, survival curves and per-entity stream features. These are
  the operators the north rule adds on top of the reference (which has
  no time/order concept — reference protosc/pipeline.py processes
  samples independently). Every frame ends at the CURRENT row (or
  strictly before it, for the ``*_prev`` variants) — zero temporal
  leakage by construction; tests/test_leakage.py perturbs future rows
  and asserts past features are bit-identical. They are generic over
  (entity_col, order_cols), so the same code serves transcripts
  (conv_id, turn_idx) and the events table (user_id, ts) used for
  duckdb-oracle cross-checks.
* The calendar family — 25 daily-volume statistics (trend, CUSUM,
  EWMA, ACF/PACF/CCF, Mann-Kendall, weekday ANOVA/index/Friedman/
  Page, Holt and Holt-Winters, breakpoint, Pettitt, runs, Hurst,
  dispersion, Durbin-Watson, seasonal strength, anomaly days, bursts,
  calendar coverage, top-k churn and the daily Wilson rate). They all
  start from ONE sufficient statistic, the (slice, epoch day) -> row
  count table built by :func:`_daily`, and answer their question from
  that calendar-bounded table, never from raw rows again.

NULL rule of the calendar family: a row whose timestamp or any slice
key is NULL has no day or no slice, so :func:`_daily` drops it before
counting — it never forms a phantom "NULL day" or "NULL slice". Other
columns (e.g. the state read by daily_rate_wilson) are not keys; their
NULLs are counted like any other value.

Scale notes: one window spec = one shuffle on the entity key; chained
operators reuse the same partitioning (Spark collapses adjacent Window
nodes over the same spec into a single exchange+sort). Skewed entities
are handled by AQE; sessionization/rolling are per-entity sequential
scans, which is inherent to the semantics.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _epoch_s(col: str | Column) -> Column:
    """Epoch seconds (truncated); works for both TIMESTAMP and
    TIMESTAMP_NTZ (which Spark 4 refuses to cast straight to numeric)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("long")


def _epoch_us(col: str | Column) -> Column:
    """Epoch MICROseconds — exact integer arithmetic for sub-second
    timestamps, so gap/duration semantics match any fractional-epoch
    oracle bit-for-bit."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def _w(entity: str | Sequence[str], order: str | Sequence[str]):
    entity = [entity] if isinstance(entity, str) else list(entity)
    order = [order] if isinstance(order, str) else list(order)
    return W.partitionBy(*entity).orderBy(*order)


def _daily(
    df: DataFrame, keys: Sequence[str], ts_col: str, **extra: Column
) -> DataFrame:
    """The calendar family's one sufficient statistic: (*keys, x
    BIGINT epoch day, y BIGINT rows that day, *extra aggregates named
    by their keyword). Rows whose ``ts_col`` or any key is NULL are
    dropped first — the module's NULL rule. One map-side-combinable
    groupBy over the raw rows; everything downstream is
    calendar-bounded."""
    keep = F.col(ts_col).isNotNull()
    for k in keys:
        keep = keep & F.col(k).isNotNull()
    day = F.datediff(F.to_date(ts_col), F.lit("1970-01-01"))
    return df.where(keep).groupBy(*keys, day.cast("bigint").alias("x")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y"),
        *[c.alias(name) for name, c in extra.items()],
    )


def _series(
    df: DataFrame, group_col: str, ts_col: str, *aggs: Column
) -> DataFrame:
    """Per-slice day-sorted series over :func:`_daily`: (group,
    n_days, *aggs, series = sorted array of struct(x, y)) — the
    calendar-bounded array the Catalyst ``aggregate`` folds walk."""
    return _daily(df, [group_col], ts_col).groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        *aggs,
        F.sort_array(F.collect_list(F.struct("x", "y"))).alias("series"),
    )


def _standardized_series(
    df: DataFrame, group_col: str, ts_col: str
) -> DataFrame:
    """:func:`_series` plus the slice's sample moments ``mu`` and
    ``sigma`` from exact DECIMAL sums; sigma is NULL for a one-day or
    flat series."""
    yd = F.col("y").cast("decimal(19,0)")
    g = _series(
        df, group_col, ts_col,
        F.sum(yd).alias("sy"), F.sum(yd * yd).alias("syy"),
    )
    n, sy, syy = (
        F.col(c).cast("double") for c in ("n_days", "sy", "syy")
    )
    var_num = n * syy - sy * sy
    return g.withColumn("mu", sy / n).withColumn(
        "sigma",
        F.when(
            (F.col("n_days") > 1) & (var_num > 0),
            F.sqrt(var_num / (n * (n - 1))),
        ),
    )


def _deviations(df: DataFrame, group_col: str, ts_col: str) -> DataFrame:
    """Integer deviations of each slice's daily counts, (group, x,
    d = n * y - S) with n the slice's day count and S its count sum —
    the n-scaled ``y - ybar``, exact in DECIMAL(38,0). The daily
    table feeds the moments and the deviations, so it is
    materialized once (the dedup.py lineage-cut precedent; the table
    is |groups| x days rows)."""
    dec = "decimal(38,0)"
    daily = (
        _daily(df, [group_col], ts_col)
        .withColumn("y", F.col("y").cast(dec))
        .localCheckpoint(eager=True)
    )
    st = daily.groupBy(group_col).agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.sum("y").alias("__s"),
    )
    return daily.join(st, group_col).select(
        group_col,
        "x",
        (F.col("__n") * F.col("y") - F.col("__s")).alias("d"),
    )


def _value_ranks(frame: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Histogram of daily-count VALUES per ``keys`` with the exact
    number of days below each value: (*keys, y, __c days at y,
    __less days with a smaller count) — the tie-exact rank source of
    the Pettitt, runs and within-week rank tests."""
    wv = (
        W.partitionBy(*keys)
        .orderBy("y")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    hist = frame.groupBy(*keys, "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    return hist.select(
        *keys,
        "y",
        "__c",
        (F.sum("__c").over(wv) - F.col("__c")).alias("__less"),
    )


def _week_ranks(
    df: DataFrame, group_col: str, ts_col: str
) -> tuple[DataFrame, DataFrame]:
    """Doubled within-week midranks over complete calendar weeks
    (epoch-day DIV 7 with all 7 days present): dmid = 2 * less +
    ties + 1 off each week's value histogram, so even-split
    averaging never leaves the integers. Returns (slices, rows):
    every slice with a day row, and (group, wk, wd, __d
    DECIMAL(38,0)) for the complete weeks."""
    daily = _daily(df, [group_col], ts_col).select(
        group_col,
        "x",
        "y",
        F.expr("x DIV 7").alias("wk"),
        F.pmod(F.col("x"), F.lit(7)).alias("wd"),
    )
    sz = daily.groupBy(group_col, "wk").agg(
        F.count(F.lit(1)).alias("__bs")
    )
    full = (
        daily.join(sz, [group_col, "wk"])
        .where(F.col("__bs") == 7)
        .drop("__bs")
        # feeds the within-week histogram AND the rank join
        .localCheckpoint(eager=True)
    )
    ranked = _value_ranks(full, [group_col, "wk"])
    dmid = (
        F.lit(2).cast("bigint") * F.col("__less")
        + F.col("__c")
        + F.lit(1)
    )
    rows = full.join(ranked, [group_col, "wk", "y"]).select(
        group_col, "wk", "wd", dmid.cast("decimal(38,0)").alias("__d")
    )
    slices = daily.groupBy(group_col).agg(F.count(F.lit(1)))
    return slices.select(group_col), rows


def _since_first(group_col: str) -> Column:
    """Day index t = x - (the slice's first day)."""
    first = F.min("x").over(W.partitionBy(group_col))
    return (F.col("x") - first).alias("t")


def _detrend(days: DataFrame, group_col: str, unit: int) -> DataFrame:
    """Join day rows (group, t, y, ...) to their slice's OLS line
    y = a + b t, fit from exact integer moments (n, St, Sy, Stt,
    Sty), adding the slope ``__b``, the day count ``__n`` and the
    residual quantized ONCE to integer 1/``unit`` units, ``__d`` =
    floor((y - (a + b t)) * unit) as DECIMAL(38,0)."""
    dec = "decimal(38,0)"
    mom = days.groupBy(group_col).agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.sum("t").cast(dec).alias("__st"),
        F.sum("y").cast(dec).alias("__sy"),
        F.sum(F.col("t") * F.col("t")).cast(dec).alias("__stt"),
        F.sum(F.col("t") * F.col("y")).cast(dec).alias("__sty"),
    )
    n = F.col("__n")
    bden = n * F.col("__stt") - F.col("__st") * F.col("__st")
    b = (
        (n * F.col("__sty") - F.col("__st") * F.col("__sy"))
        .cast("double")
        / F.when(bden != 0, bden).cast("double")
    )
    a = (
        F.col("__sy").cast("double")
        - b * F.col("__st").cast("double")
    ) / n.cast("double")
    coef = mom.select(group_col, b.alias("__b"), a.alias("__a"), "__n")
    resid = F.col("y").cast("double") - (
        F.col("__a") + F.col("__b") * F.col("t").cast("double")
    )
    return days.join(coef, group_col).withColumn(
        "__d", F.floor(resid * F.lit(float(unit))).cast(dec)
    )


def _weekday_detrend(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    unit: int,
    *cols: str | Column,
) -> tuple[DataFrame, DataFrame]:
    """The trend + weekly-season decomposition prefix: day rows
    detrended by :func:`_detrend` (group, wd, __d, *cols), and each
    slice's integer weekday effects (group, wd, __s = floor(mean
    __d)). Weekday is epoch-based (x mod 7, 0 = Thursday). The day
    rows feed the effects and every later consumer, so the raw scan
    and the coefficient join run once (lineage cut)."""
    days = _daily(df, [group_col], ts_col).select(
        group_col,
        "x",
        "y",
        _since_first(group_col),
        F.pmod(F.col("x"), F.lit(7)).alias("wd"),
    )
    det = (
        _detrend(days, group_col, unit)
        .select(group_col, "wd", "__d", *cols)
        .localCheckpoint(eager=True)
    )
    swd = det.groupBy(group_col, "wd").agg(
        F.floor(
            F.sum("__d").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).cast("decimal(38,0)").alias("__s")
    )
    return det, swd


def with_lag_lead(
    df: DataFrame,
    cols: dict[str, Column | str],
    entity: str | Sequence[str] = "conv_id",
    order: str | Sequence[str] = "turn_idx",
    offsets: Sequence[int] = (1,),
) -> DataFrame:
    """Add lag_k / lead_k columns for each named input column.

    ``cols`` maps output-name-prefix -> source column. lag looks only at
    strictly earlier rows: leakage-free. lead intentionally looks
    forward — it exists for label construction, NOT for features; the
    feature assembler refuses lead_* columns.
    """
    w = _w(entity, order)
    out = df
    for name, col in cols.items():
        c = F.col(col) if isinstance(col, str) else col
        for k in offsets:
            out = out.withColumn(f"{name}_lag{k}", F.lag(c, k).over(w))
            out = out.withColumn(f"{name}_lead{k}", F.lead(c, k).over(w))
    return out


def rolling_backfill(
    df: DataFrame,
    col: str,
    out: str | None = None,
    entity: str | Sequence[str] = "conv_id",
    order: str | Sequence[str] = "turn_idx",
    strict_past: bool = False,
) -> DataFrame:
    """Last known (non-null) value per entity up to the current row.

    ``strict_past=True`` excludes the current row (frame ends at -1) —
    the as-of-style "known before this turn started" semantics.
    """
    out = out or f"{col}_ffill"
    end = -1 if strict_past else 0
    w = _w(entity, order).rowsBetween(W.unboundedPreceding, end)
    return df.withColumn(out, F.last(F.col(col), ignorenulls=True).over(w))


def rolling_agg(
    df: DataFrame,
    aggs: dict[str, Column],
    n_rows: int,
    entity: str | Sequence[str] = "conv_id",
    order: str | Sequence[str] = "turn_idx",
    include_current: bool = True,
) -> DataFrame:
    """Trailing-k-row aggregates (frame = [-(n_rows-1), 0] rows).

    ``aggs`` maps output name -> aggregate Column built on raw columns,
    e.g. ``{"qty_sum5": F.sum("qty")}``. Frame never extends past the
    current row.
    """
    end = 0 if include_current else -1
    start = -(n_rows - 1) + end
    w = _w(entity, order).rowsBetween(start, end)
    out = df
    for name, agg in aggs.items():
        out = out.withColumn(name, agg.over(w))
    return out


def rolling_time_agg(
    df: DataFrame,
    aggs: dict[str, Column],
    trailing_seconds: int,
    ts_col: str = "ts",
    entity: str | Sequence[str] = "conv_id",
) -> DataFrame:
    """Trailing time-range aggregates over the last ``trailing_seconds``
    up to and including the current row (rangeBetween on epoch seconds).
    """
    w = (
        W.partitionBy(entity)
        .orderBy(_epoch_us(ts_col))
        .rangeBetween(-trailing_seconds * 1_000_000, 0)
    )
    out = df
    for name, agg in aggs.items():
        out = out.withColumn(name, agg.over(w))
    return out


def sessionize(
    df: DataFrame,
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    entity: str | Sequence[str] = "conv_id",
    order: str | Sequence[str] | None = None,
    session_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap from
    the previous row exceeds ``gap_seconds``.

    session_id = cumulative count of boundary flags over the stable
    order — deterministic under any physical parallelism. The streaming
    analog is ``F.session_window(ts, gap)`` (see streaming.py).
    """
    order = order if order is not None else [ts_col]
    w = _w(entity, order)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    is_new = (
        prev_ts.isNull()
        | (_epoch_us(ts_col) - _epoch_us(prev_ts) > gap_seconds * 1_000_000)
    ).cast("int")
    wcum = _w(entity, order).rowsBetween(W.unboundedPreceding, 0)
    return df.withColumn("__new_session", is_new).withColumn(
        session_col, F.sum("__new_session").over(wcum)
    ).drop("__new_session")


def session_summary(
    df: DataFrame,
    ts_col: str = "ts",
    entity: str | Sequence[str] = "conv_id",
    session_col: str = "session_id",
    extra_aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Per-session rollup: row count + duration (+ caller aggregates)."""
    entity = [entity] if isinstance(entity, str) else list(entity)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.floor(
            (F.max(_epoch_us(ts_col)) - F.min(_epoch_us(ts_col))) / 1_000_000
        )
        .cast("long")
        .alias("duration_s"),
    ]
    for name, agg in (extra_aggs or {}).items():
        aggs.append(agg.alias(name))
    return df.groupBy(*entity, session_col).agg(*aggs)


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    entity: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within_seconds: int | None = None,
) -> DataFrame:
    """Ordered-funnel analysis: per entity, the first time each step
    completed STRICTLY AFTER the previous step's completion (the
    classic view -> click -> purchase sequence query). A step with no
    qualifying event leaves its timestamp (and all later steps) NULL.
    ``within_seconds`` adds the conversion-window variant: every step
    beyond the first must also land within that many seconds of the
    FIRST step's timestamp (the funnel anchor), the standard
    product-analytics windowed-conversion semantics.

    Output: (entity, <step>_ts ..., stages bigint) where stages is the
    number of consecutive completed steps.

    Scale shape: ONE exchange on the entity — each step is a
    conditional min over the same window partition (chained Window
    nodes share the hash partitioning), then one distinct projection.
    No self-joins, no per-step aggregation passes; works unchanged
    whether an entity has 10 events or 10 million.
    """
    if not steps:
        raise ValueError("need at least one funnel step")
    w = W.partitionBy(entity)
    out = df
    prev: Column | None = None
    ts_cols = []
    for step in steps:
        cond = F.col(type_col) == step
        if prev is not None:
            cond = cond & (F.col(ts_col) > prev)
            if within_seconds is not None:
                # conversion window anchored at the FIRST step's
                # timestamp (the product-analytics convention: the
                # whole funnel must complete within the window)
                cond = cond & (
                    F.col(ts_col)
                    <= F.col(ts_cols[0])
                    + F.expr(f"INTERVAL {int(within_seconds)} SECONDS")
                )
        c = f"{step}_ts"
        out = out.withColumn(
            c, F.min(F.when(cond, F.col(ts_col))).over(w)
        )
        prev = F.col(c)
        ts_cols.append(c)
    stages = sum(
        (F.col(c).isNotNull().cast("bigint") for c in ts_cols),
        F.lit(0).cast("bigint"),
    )
    return out.select(entity, *ts_cols, stages.alias("stages")).distinct()


def transition_counts(
    df: DataFrame,
    entity: str = "user_id",
    state_col: str = "event_type",
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """Markov transition matrix over per-entity ordered state streams
    (the sequence-mining analog of funnel: which state follows which,
    corpus-wide): for every consecutive pair within an entity's
    stream, count (from_state, to_state) and its conditional rate
    P(to | from). ``order_cols`` must be a deterministic total order
    (default ts + event_id tie-break).

    Output: (from_state, to_state, n_transitions, rate), rate summing
    to 1 per from_state.

    Scale shape: ONE exchange on the entity for the lag window (the
    same partitioning sessionize/funnel use, so it co-schedules with
    them), one map-side-combined aggregation down to at most
    |states|^2 rows, and a rate window over that tiny aggregate. No
    self-joins; per-entity stream length is unbounded.
    """
    w = W.partitionBy(entity).orderBy(*[F.col(c) for c in order_cols])
    pairs = df.select(
        F.lag(state_col).over(w).alias("from_state"),
        F.col(state_col).alias("to_state"),
    ).where(F.col("from_state").isNotNull())
    counts = pairs.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    total = W.partitionBy("from_state")
    return counts.select(
        "from_state",
        "to_state",
        "n_transitions",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(total),
            6,
        ).alias("rate"),
    )


def retention_cohorts(
    df: DataFrame,
    entity: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Cohort retention: entities are cohorted by the period of their
    FIRST event; for every (cohort, offset) cell, how many of the
    cohort's entities were active ``offset`` periods later (offset 0 =
    the cohort size itself). The classic retention-triangle query.

    Output: (cohort, period_offset, n_active), period_offset in whole
    periods (date_trunc'd boundaries, so the division is exact).

    Scale shape: one aggregation per entity for the cohort (map-side
    combined), one distinct over (entity, period) for activity, one
    co-partitioned equi-join on the entity, one final aggregation.
    No windows over unbounded frames; every exchange is keyed on the
    entity or on the tiny (cohort, offset) grid.
    """
    days = {"day": 1, "week": 7}
    if period not in days:
        raise ValueError(f"unsupported period {period!r} (day/week)")
    cohorts = df.groupBy(entity).agg(
        F.date_trunc(period, F.min(ts_col)).alias("cohort")
    )
    activity = (
        df.select(entity, F.date_trunc(period, F.col(ts_col)).alias("p"))
        .distinct()
    )
    joined = activity.join(cohorts, entity)
    return (
        joined.select(
            "cohort",
            (
                F.datediff(F.col("p"), F.col("cohort"))
                / F.lit(days[period])
            ).cast("int").alias("period_offset"),
        )
        .groupBy("cohort", "period_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def conversation_features(
    df: DataFrame,
    entity: str = "conv_id",
    order: str = "turn_idx",
    role_col: str = "role",
    tool_col: str = "tool",
    text_col: str = "text",
    ts_col: str = "ts",
    session_gap_s: int = 1800,
) -> DataFrame:
    """Per-conversation summary features over an ordered transcript —
    the conversation-level companion to the per-turn flagship vectors
    (turn counts, role mix, tool usage, inter-turn gap statistics,
    role-alternation rate, wall-clock span).

    Scale shape: ONE window over (entity, order) for lag-derived gap
    and previous-role columns, then a groupBy on the SAME key — the
    aggregation reuses the window's hash partitioning, so the whole
    operator is a single exchange. All expressions are JVM built-ins
    (no Python); gap arithmetic goes through _epoch_us so sub-second
    timestamps are exact. Doubles are rounded to 6 decimals in-query
    so the output is freezable (gap sums are integer-microsecond
    exact; the rounding guards the division results).
    """
    w = W.partitionBy(entity).orderBy(order)
    gap_s = (
        (_epoch_us("__ts") - F.lag(_epoch_us("__ts")).over(w)) / 1_000_000.0
    )
    enriched = df.select(
        entity,
        F.col(order),
        F.col(role_col).alias("__role"),
        F.col(tool_col).alias("__tool"),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("__ntok"),
        F.col(ts_col).alias("__ts"),
    ).select(
        entity,
        "__role",
        "__tool",
        "__ntok",
        "__ts",
        F.lag("__role").over(w).alias("__prev_role"),
        gap_s.alias("__gap_s"),
    )
    return enriched.groupBy(entity).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_turns"),
        F.sum((F.col("__role") == "user").cast("bigint")).alias("n_user"),
        F.sum((F.col("__role") == "assistant").cast("bigint")).alias(
            "n_assistant"
        ),
        F.sum((F.col("__role") == "tool").cast("bigint")).alias("n_tool"),
        F.countDistinct("__tool").cast("bigint").alias("n_distinct_tools"),
        F.sum("__ntok").alias("total_tokens"),
        F.round(F.avg("__gap_s"), 6).alias("mean_gap_s"),
        F.round(F.max("__gap_s"), 6).alias("max_gap_s"),
        F.sum(
            (F.col("__gap_s") > F.lit(float(session_gap_s))).cast("bigint")
        ).alias("n_session_breaks"),
        F.round(
            F.avg(
                F.when(
                    F.col("__prev_role").isNotNull(),
                    (F.col("__role") != F.col("__prev_role")).cast("double"),
                )
            ),
            6,
        ).alias("alternation_rate"),
        F.min(_epoch_us("__ts")).alias("__first_us"),
        F.max(_epoch_us("__ts")).alias("__last_us"),
    ).select(
        entity,
        "n_turns",
        "n_user",
        "n_assistant",
        "n_tool",
        "n_distinct_tools",
        "total_tokens",
        "mean_gap_s",
        "max_gap_s",
        "n_session_breaks",
        "alternation_rate",
        F.floor(F.col("__first_us") / 1_000_000).cast("bigint").alias(
            "first_ts_s"
        ),
        F.floor((F.col("__last_us") - F.col("__first_us")) / 1_000_000)
        .cast("bigint")
        .alias("duration_s"),
    )


def volume_trend(df: DataFrame, group_col: str,
                 ts_col: str = "ts") -> DataFrame:
    """Per-slice daily-volume trend line: OLS slope / intercept / r^2
    of (epoch day, rows that day) — the monitoring companion to the
    PSI / MAD auditors (is this slice's traffic growing, flat, or
    decaying, and how linear is it). All five sufficient statistics
    (sum x, y, xy, x^2, y^2) accumulate as DECIMAL(38,0) over exact
    integers, so they are order-independent and overflow-safe to
    ~1e38 (BIGINT y^2 would overflow past ~3e9 rows/day); the only
    floating-point happens AFTER aggregation, in a fixed expression
    shape any engine reproduces bit-for-bit. Output: (group, n_days,
    slope, intercept, r2); slope/intercept NULL when a slice has one
    day, r2 NULL when either variance is zero.

    Scale shape: one raw scan into a (group, day) count — map-side
    combinable — then closed-form math on a rows-per-group-days
    table. Pure JVM, no windows."""
    dec = "decimal(19,0)"
    daily = _daily(df, [group_col], ts_col)
    xd, yd = F.col("x").cast(dec), F.col("y").cast(dec)
    s = daily.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(yd * yd).alias("syy"),
    )
    n, sx, sy, sxx, sxy, syy = (
        F.col(c).cast("double")
        for c in ("n_days", "sx", "sy", "sxx", "sxy", "syy")
    )
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    slope = F.when(varx > 0, cov / varx)
    return s.select(
        group_col,
        "n_days",
        slope.alias("slope"),
        F.when(varx > 0, (sy - slope * sx) / n).alias("intercept"),
        F.when((varx > 0) & (vary > 0), cov * cov / (varx * vary))
        .alias("r2"),
    )


def top_paths(
    df: DataFrame,
    entity: str = "user_id",
    state_col: str = "event_type",
    order_cols: Sequence[str] = ("ts", "event_id"),
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Top-k length-n state PATHS over per-entity ordered streams —
    the sequence-mining step up from :func:`transition_counts`
    (bigram rates): which n-step journeys dominate the traffic.
    Windows never span entities (the last n-1 events of a stream
    form no path); rows with a NULL state are dropped. Deterministic
    ties by (count desc, path asc).

    Output: (rnk, path, n_occurrences), path joined with " > ".

    Scale shape: the SAME entity exchange transition_counts /
    sessionize use (co-schedules with them), a map-side-combined
    count down to at most |states|^n rows, and the rank window runs
    over that aggregate — path-vocabulary-sized, not corpus-sized."""
    w = W.partitionBy(entity).orderBy(*[F.col(c) for c in order_cols])
    steps = [F.col(state_col)] + [
        F.lead(state_col, i).over(w) for i in range(1, n)
    ]
    paths = (
        df.where(F.col(state_col).isNotNull())
        .select(
            F.concat_ws(" > ", *steps).alias("path"),
            steps[-1].isNotNull().alias("__full"),
        )
        .where("__full")
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    rank = W.orderBy(F.desc("n_occurrences"), F.asc("path"))
    return (
        counts.withColumn("rnk", F.row_number().over(rank))
        .where(F.col("rnk") <= k)
        .select("rnk", "path", "n_occurrences")
    )


def volume_cusum(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    slack: float = 0.5,
    threshold: float = 4.0,
) -> DataFrame:
    """Per-slice CUSUM change-point detection over the daily-volume
    series — the step-shift monitor beside volume_trend (gradual
    drift) and psi_by_group (distribution drift): standardized
    two-sided CUSUM S+_t = max(0, S+_{t-1} + z_t - k),
    S-_t = max(0, S-_{t-1} - z_t - k) with z_t the slice's own
    standardized daily count, alarm at the FIRST day either side
    crosses h (Page 1954; k=0.5, h=4 are the textbook settings).
    Zero/undefined sigma (one day, flat series) => z = 0, no alarm.

    Output: (group, n_days, mu, sigma, max_sp, max_sn, alarm_day),
    alarm_day the epoch day of the first crossing or NULL.

    Scale shape: one raw scan into (group, day) counts; each group's
    series is a DAYS-long array (bounded by the calendar, thousands
    at most — never corpus-sized), folded by a Catalyst higher-order
    ``aggregate`` — the recursion runs in the JVM, zero Python, and
    the mu/sigma moments come from exact DECIMAL sums."""
    g = _standardized_series(df, group_col, ts_col)
    init = F.struct(
        F.lit(0.0).alias("sp"),
        F.lit(0.0).alias("sn"),
        F.lit(0.0).alias("msp"),
        F.lit(0.0).alias("msn"),
        F.lit(None).cast("bigint").alias("alarm"),
    )

    def step(acc, e):
        z = F.when(
            F.col("sigma").isNotNull(),
            (e["y"].cast("double") - F.col("mu")) / F.col("sigma"),
        ).otherwise(F.lit(0.0))
        sp = F.greatest(F.lit(0.0), acc["sp"] + z - F.lit(slack))
        sn = F.greatest(F.lit(0.0), acc["sn"] - z - F.lit(slack))
        return F.struct(
            sp.alias("sp"),
            sn.alias("sn"),
            F.greatest(acc["msp"], sp).alias("msp"),
            F.greatest(acc["msn"], sn).alias("msn"),
            F.coalesce(
                acc["alarm"],
                F.when(
                    (sp > F.lit(threshold)) | (sn > F.lit(threshold)),
                    e["x"],
                ),
            ).alias("alarm"),
        )

    res = F.aggregate("series", init, step)
    return g.select(
        group_col,
        "n_days",
        F.col("mu").alias("mu"),
        F.col("sigma").alias("sigma"),
        res["msp"].alias("max_sp"),
        res["msn"].alias("max_sn"),
        res["alarm"].alias("alarm_day"),
    )


def state_entropy(df: DataFrame, group_col: str,
                  state_col: str = "event_type") -> DataFrame:
    """Per-slice categorical diversity: Shannon entropy of the state
    mix, Pielou evenness H / ln(k), and the distinct-state count —
    the mix-collapse audit (a slice whose traffic degenerates into
    one event type shows evenness -> 0 long before volume moves).
    NULL states are dropped; k = 1 leaves evenness NULL (ln k = 0).

    Output: (group, n, k, entropy, evenness), entropy in nats.

    Scale shape: one map-side-combined (group, state) count, then
    arithmetic over that |groups| x |states| aggregate. Pure JVM."""
    counts = (
        df.where(F.col(state_col).isNotNull())
        .groupBy(group_col, state_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = W.partitionBy(group_col)
    p = F.col("c").cast("double") / F.col("n").cast("double")
    per = counts.withColumn(
        "n", F.sum("c").over(tot)
    ).withColumn("term", -p * F.log(p))
    return (
        per.groupBy(group_col)
        .agg(
            F.min("n").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum("term").alias("entropy"),
        )
        .select(
            group_col,
            "n",
            "k",
            "entropy",
            F.when(
                F.col("k") > 1,
                F.col("entropy") / F.log(F.col("k").cast("double")),
            ).alias("evenness"),
        )
    )


def cooccurrence_lift(
    df: DataFrame,
    entity: str = "user_id",
    state_col: str = "event_type",
    min_pairs: int = 1,
) -> DataFrame:
    """Association mining over per-entity state SETS (presence, not
    counts): for every unordered state pair a < b, the number of
    entities exhibiting both, the pair's support, the directional
    confidence P(b | a), and the lift

        lift = P(a, b) / (P(a) P(b)) = n_ab N / (n_a n_b)

    — the market-basket readout over whatever the entity is (which
    tools co-occur in a conversation, which event types in a user).
    Pairs below ``min_pairs`` entities are pruned. Deterministic:
    pure counting, canonical a < b ordering.

    Output: (state_a, state_b, n_a, n_b, n_ab, support, confidence,
    lift); support = n_ab / N over N = all distinct entities,
    confidence = P(state_b | state_a).

    Scale shape: presence table is one distinct on (entity, state);
    the self-join keys on entity, where each side holds at most
    |states| rows per entity, so pair fan-out is bounded by
    |states|^2 per entity — never quadratic in events; the final
    aggregate is |states|^2-sized. Pure JVM."""
    d = df.where(F.col(state_col).isNotNull()).select(
        entity, F.col(state_col).alias("s")
    ).distinct()
    n_tot = d.select(entity).distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    supp = d.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns")
    )
    a = d.select(entity, F.col("s").alias("state_a"))
    b = d.select(entity, F.col("s").alias("state_b"))
    pairs = (
        a.join(b, entity)
        .where(F.col("state_a") < F.col("state_b"))
        .groupBy("state_a", "state_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .where(F.col("n_ab") >= min_pairs)
    )
    out = (
        pairs.join(
            supp.select(
                F.col("s").alias("state_a"), F.col("ns").alias("n_a")
            ),
            "state_a",
        )
        .join(
            supp.select(
                F.col("s").alias("state_b"), F.col("ns").alias("n_b")
            ),
            "state_b",
        )
        .crossJoin(F.broadcast(n_tot))
    )
    nab, na, nb, n = (
        F.col(c).cast("double")
        for c in ("n_ab", "n_a", "n_b", "__n")
    )
    return out.select(
        "state_a",
        "state_b",
        "n_a",
        "n_b",
        "n_ab",
        (nab / n).alias("support"),
        (nab / na).alias("confidence"),
        (nab * n / (na * nb)).alias("lift"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "from_state",
    dst: str = "to_state",
    weight: str | None = "n_transitions",
    damping_pct: int = 85,
    n_iter: int = 5,
    scale: int = 10**12,
) -> DataFrame:
    """Weighted PageRank over an edge list (e.g. the state-transition
    graph from :func:`transition_counts`) — the classic stationary
    importance score for "which states/pages/tools does traffic
    concentrate on", complementing the local views (transition rate,
    state entropy, top paths) with a whole-graph one.

    INTEGER-EXACT power iteration: rank mass is carried as integer
    micro-units (``pr_int``, summing to ~``scale``), every step uses
    floor division, so results are order-independent, deterministic
    at any parallelism, and bit-reproducible by the SQL oracle —
    float PageRank would make the per-node inflow sum depend on
    partial-aggregation order. Per iteration, with d = damping_pct:

        contrib(u->v)  = (pr[u] * w_uv) DIV out_w[u]
        dangling_share = (sum of pr over out-degree-0 nodes) DIV N
        pr'[v] = ((100-d) * scale) DIV (100 * N)
                 + (d * (inflow[v] + dangling_share)) DIV 100

    Parallel (src, dst) edges are combined (weights summed) up
    front, so results do not depend on input edge multiplicity.
    Floor losses bound total mass drift below n_nodes+100 units per
    iteration — invisible at scale=1e12.

    Scale shape: per iteration two equi-joins on the edge list plus
    one map-side-combined sum per dst — the same joins-per-round
    budget as dedup.connected_components, with localCheckpoint
    cutting lineage each round; the dangling term is a 1-row
    broadcast. ``pr[u] * w_uv`` is computed in DECIMAL(38,0) so no
    edge weight can overflow. N (node count) is one count() scalar.

    Output: (node, pr_int, pr) where pr = pr_int / scale; sums to
    ~1. Reference parity: protosc has no graph operators; public
    algorithm (Page et al. 1999)."""
    if not (0 < damping_pct < 100):
        raise ValueError("damping_pct must be in (1, 99)")
    w_col = (
        F.col(weight).cast("bigint")
        if weight is not None
        else F.lit(1).cast("bigint")
    )
    e = (
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"),
            w_col.alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(None).cast("bigint").alias("pr_int"),
            F.lit(None).cast("double").alias("pr"),
        )
    outw = e.groupBy("u").agg(F.sum("w").alias("out_w"))
    teleport = ((100 - damping_pct) * scale) // (100 * n)
    pr = nodes.select(
        "node", F.lit(scale // n).cast("bigint").alias("pr_int")
    ).localCheckpoint(eager=True)
    dec = "decimal(38,0)"
    for _ in range(n_iter):
        inflow = (
            e.join(
                pr.select(
                    F.col("node").alias("u"), "pr_int"
                ),
                "u",
            )
            .join(outw, "u")
            .select(
                F.col("v").alias("node"),
                (
                    F.col("pr_int").cast(dec) * F.col("w").cast(dec)
                ).cast(dec).alias("__num"),
                F.col("out_w").cast(dec).alias("__den"),
            )
            .select(
                "node",
                F.expr("__num DIV __den").cast("bigint").alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("inflow"))
        )
        dang = (
            pr.join(
                outw.select(F.col("u").alias("node")), "node",
                "left_anti",
            )
            .agg(
                F.coalesce(F.sum("pr_int"), F.lit(0))
                .cast("bigint")
                .alias("__dm")
            )
        )
        pr = (
            pr.join(inflow, "node", "left")
            .crossJoin(F.broadcast(dang))
            .withColumn(
                "__x",
                F.expr(f"__dm DIV {n}").cast("bigint")
                + F.coalesce(F.col("inflow"), F.lit(0)).cast("bigint"),
            )
            .select(
                "node",
                (
                    F.lit(teleport).cast("bigint")
                    + F.expr(f"({damping_pct} * __x) DIV 100")
                    .cast("bigint")
                ).alias("pr_int"),
            )
            .localCheckpoint(eager=True)
        )
    return pr.select(
        "node",
        "pr_int",
        (F.col("pr_int").cast("double") / F.lit(float(scale)))
        .alias("pr"),
    )


def interarrival_stats(
    df: DataFrame,
    entity: str = "user_id",
    ts_col: str = "ts",
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> DataFrame:
    """Per-entity inter-arrival (gap) statistics — the temporal-
    texture features of an activity stream: mean gap, coefficient of
    variation, and the Goh–Barabási burstiness

        B = (sigma - mu) / (sigma + mu)   in [-1, 1)

    (B < 0 regular/periodic, B ~ 0 Poisson, B -> 1 bursty) — the
    standard one-number regular-vs-bursty readout alongside the
    structural views (sessionize, funnel, transitions).

    Determinism contract: gaps are EXACT integer microseconds
    (_epoch_us difference), and the per-entity sufficient statistics
    (n, sum, sum of squares) are exact DECIMAL sums — order-
    independent at any parallelism; mean/sigma/CV/B arithmetic is
    one deterministic scalar expression on those stats (sample
    std, ddof=1). CV and B are NULL below 2 gaps or at zero mean.

    Scale shape: ONE exchange on the entity for the lag window (the
    sessionize/funnel partitioning), one map-side-combined groupBy
    per entity. Pure JVM. Output: (entity, n_gaps, mean_gap_s, cv,
    burstiness)."""
    dec = "decimal(38,0)"
    w = W.partitionBy(entity).orderBy(*[F.col(c) for c in order_cols])
    us = _epoch_us(ts_col)
    gaps = df.select(
        F.col(entity),
        (us - F.lag(us).over(w)).alias("__g"),
    ).where(F.col("__g").isNotNull())
    g = F.col("__g").cast(dec)
    agg = gaps.groupBy(entity).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum(g).alias("__s"),
        F.sum(g * g).alias("__q"),
    )
    n = F.col("n_gaps").cast("double")
    s = F.col("__s").cast("double")
    q = F.col("__q").cast("double")
    mu = s / n
    var = (q - s * s / n) / (n - F.lit(1.0))
    sd = F.sqrt(var)
    live = (F.col("n_gaps") >= 2) & (s > 0)
    return agg.select(
        entity,
        "n_gaps",
        (mu / F.lit(1e6)).alias("mean_gap_s"),
        F.when(live, sd / mu).alias("cv"),
        F.when(live, (sd - mu) / (sd + mu)).alias("burstiness"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Kaplan–Meier product-limit survival estimator over per-subject
    (duration, event) rows — ``event`` 1 = the terminal event was
    observed at ``duration``, 0 = right-censored there (still alive
    when observation ended). The standard retention/churn curve with
    correct censoring handling (naive "fraction still active" curves
    understate retention when recent users haven't had time to
    churn).

        S(t) = prod_{t_i <= t, d_i > 0} (1 - d_i / n_i),
        n_i  = subjects with duration >= t_i   (the risk set)

    Scale shape: one groupBy(duration) with map-side combine; the
    risk set comes from the cumulative histogram, and the product is
    a RUNNING exp-sum-log over the distinct-duration table (the only
    window, the house collapse — sequential in duration order, so
    float evaluation order is pinned and engine-reproducible).
    Once a step has d_i = n_i (everyone at risk dies) survival is
    exactly 0 from there on (flagged, not computed through log 0).

    Output: (t, n_risk, n_events, n_censored, survival) per distinct
    duration, ordered by t. Rows with NULL duration/event are
    dropped."""
    dec = "decimal(38,0)"
    y = F.col(event_col).cast("int")
    g = (
        df.where(
            F.col(duration_col).isNotNull()
            & F.col(event_col).isNotNull()
        )
        .groupBy(F.col(duration_col).alias("t"))
        .agg(
            F.sum(y).cast(dec).alias("__d"),
            F.sum(1 - y).cast(dec).alias("__c"),
        )
    )
    w_prev = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    w_run = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    tot = g.agg(F.sum(F.col("__d") + F.col("__c")).alias("__tot"))
    base = g.crossJoin(F.broadcast(tot)).withColumn(
        "__nr",
        F.col("__tot")
        - F.coalesce(
            F.sum(F.col("__d") + F.col("__c")).over(w_prev),
            F.lit(0).cast(dec),
        ),
    )
    dd = F.col("__d").cast("double")
    nr = F.col("__nr").cast("double")
    term = F.when(
        (F.col("__d") > 0) & (F.col("__d") < F.col("__nr")),
        F.log(F.lit(1.0) - dd / nr),
    ).otherwise(F.lit(0.0))
    dead = F.max(
        (F.col("__d") == F.col("__nr")).cast("int")
    ).over(w_run)
    surv = F.when(dead == 1, F.lit(0.0)).otherwise(
        F.exp(F.sum(term).over(w_run))
    )
    return (
        base.select(
            "t",
            F.col("__nr").cast("bigint").alias("n_risk"),
            F.col("__d").cast("bigint").alias("n_events"),
            F.col("__c").cast("bigint").alias("n_censored"),
            surv.alias("survival"),
        )
        .orderBy("t")
    )


def logrank_test(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
    group_col: str = "group",
    unit: int = 10**9,
) -> DataFrame:
    """Two-group log-rank test over per-subject (duration, event,
    group) rows — the significance companion to
    :func:`kaplan_meier`: "are these two survival curves the same?",
    with right-censoring handled exactly (a censored subject leaves
    the risk set without scoring an event, so naive rate comparisons
    are biased whenever censoring differs between arms — precisely
    the A/B case, where one arm's users joined later).

    At each distinct event time t (Mantel-Haenszel over the implicit
    2x2 table at every death time):

        E1 += d_t * n1_t / n_t
        V  += d_t * n1_t * n0_t * (n_t - d_t) / (n_t^2 * (n_t - 1))
        z   = (O1 - E1) / sqrt(V),   chi2 = z^2

    with d_t total events at t, n1/n0 the group risk sets (subjects
    with duration >= t) and O1 = sum d1_t. Risk sets come from the
    cumulative histogram over DISTINCT durations (the house collapse
    — censor-only durations participate in the risk-set windows but
    contribute zero terms); d/n counts are exact DECIMAL integers;
    each E/V term is one float of them, quantized to integer
    1/``unit`` units before the cross-time sums (the house rule
    shared with experiment.cmh_readout), so the statistic is
    order-independent and a SQL oracle replays it digit-for-digit.

    z > 0 means group 1 saw MORE events than expected under the null
    (worse survival). Rows with NULL duration/event/group dropped.
    Output: one row (n_1, n_0, o1, e1, z, chi2) — z/chi2 NULL when
    the variance sum is zero (no comparable risk sets)."""
    dec = "decimal(38,0)"
    y = F.col(group_col).cast("int")
    e = F.col(event_col).cast("int")
    g = (
        df.where(
            F.col(duration_col).isNotNull()
            & F.col(event_col).isNotNull()
            & F.col(group_col).isNotNull()
        )
        .groupBy(F.col(duration_col).alias("t"))
        .agg(
            F.sum(y * e).cast(dec).alias("__d1"),
            F.sum((1 - y) * e).cast(dec).alias("__d0"),
            F.sum(y).cast(dec).alias("__t1"),
            F.sum(1 - y).cast(dec).alias("__t0"),
        )
    )
    tot = g.agg(
        F.sum("__t1").alias("__tot1"), F.sum("__t0").alias("__tot0")
    )
    w_prev = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    zero = F.lit(0).cast(dec)
    base = (
        g.crossJoin(F.broadcast(tot))
        .withColumn(
            "__n1",
            F.col("__tot1")
            - F.coalesce(F.sum("__t1").over(w_prev), zero),
        )
        .withColumn(
            "__n0",
            F.col("__tot0")
            - F.coalesce(F.sum("__t0").over(w_prev), zero),
        )
    )

    def d(col):
        return col.cast("double")

    n1, n0 = F.col("__n1"), F.col("__n0")
    dd = F.col("__d1") + F.col("__d0")
    n = n1 + n0
    e_term = d(dd) * d(n1) / d(n)
    v_term = (
        d(dd) * d(n1) * d(n0) * d(n - dd)
        / (d(n) * d(n) * (d(n) - F.lit(1.0)))
    )
    u = F.lit(float(unit))
    q = lambda x: F.floor(x * u).cast(dec)  # noqa: E731
    live = (dd > 0) & (n > 1)
    agg = base.agg(
        F.first("__tot1").alias("__s1"),
        F.first("__tot0").alias("__s0"),
        F.sum("__d1").alias("__o1"),
        F.sum(F.when(live, q(e_term)).otherwise(zero)).alias("__qe"),
        F.sum(F.when(live, q(v_term)).otherwise(zero)).alias("__qv"),
    )
    o1 = F.col("__o1").cast("double")
    e1 = F.col("__qe").cast("double") / u
    v = F.col("__qv").cast("double") / u
    z = (o1 - e1) / F.sqrt(v)
    return agg.select(
        F.col("__s1").cast("bigint").alias("n_1"),
        F.col("__s0").cast("bigint").alias("n_0"),
        F.col("__o1").cast("bigint").alias("o1"),
        e1.alias("e1"),
        F.when(v > 0, z).alias("z"),
        F.when(v > 0, z * z).alias("chi2"),
    )


def volume_ewma(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    alpha: float = 0.3,
    limit: float = 3.0,
) -> DataFrame:
    """Per-slice EWMA control chart over the daily-volume series —
    the SMALL-SUSTAINED-SHIFT monitor beside volume_cusum (step
    shifts) and volume_trend (gradual drift): z_t = alpha * y_t +
    (1 - alpha) * z_{t-1} with z_0 = mu, alarmed at the FIRST day the
    standardized deviation |z_t - mu| / sigma_z(t) crosses ``limit``,
    where sigma_z(t) = sigma * sqrt(alpha / (2 - alpha) *
    (1 - (1 - alpha)^(2t))) is the exact time-varying EWMA control
    limit (Roberts 1959 / Lucas-Saccucci 1990; alpha=0.3, L=3 are
    the textbook settings). mu/sigma are the slice's own sample
    moments from exact DECIMAL sums, as volume_cusum. Zero/undefined
    sigma => deviation 0, no alarm.

    Engine-reproducibility: (1 - alpha)^(2t) is carried IN the fold
    accumulator as a running product (w' = w * beta^2) rather than
    pow() — multiplication, division, sqrt and abs are all
    correctly-rounded IEEE ops, so a SQL engine replaying the same
    recursion reproduces every track bit for bit (pow() is
    NOT correctly rounded and may differ across libm builds).

    Output: (group, n_days, mu, sigma, ewma_final, max_dev,
    alarm_day), alarm_day the epoch day of the first crossing or
    NULL.

    Scale shape: identical to volume_cusum — one raw scan into
    (group, day) counts; each slice's series is a calendar-bounded
    array folded by a Catalyst higher-order ``aggregate``, zero
    Python."""
    beta = 1.0 - alpha
    g = _standardized_series(df, group_col, ts_col)
    init = F.struct(
        F.col("mu").alias("z"),
        F.lit(1.0).alias("w"),
        F.lit(0.0).alias("maxd"),
        F.lit(None).cast("bigint").alias("alarm"),
    )
    ratio = alpha / (2.0 - alpha)

    def step(acc, e):
        z = F.lit(alpha) * e["y"].cast("double") + F.lit(beta) * acc[
            "z"
        ]
        w = acc["w"] * F.lit(beta * beta)
        d = F.when(
            F.col("sigma").isNotNull(),
            F.abs(z - F.col("mu"))
            / (
                F.col("sigma")
                * F.sqrt(F.lit(ratio) * (F.lit(1.0) - w))
            ),
        ).otherwise(F.lit(0.0))
        return F.struct(
            z.alias("z"),
            w.alias("w"),
            F.greatest(acc["maxd"], d).alias("maxd"),
            F.coalesce(
                acc["alarm"], F.when(d > F.lit(limit), e["x"])
            ).alias("alarm"),
        )

    res = F.aggregate("series", init, step)
    return g.select(
        group_col,
        "n_days",
        "mu",
        "sigma",
        res["z"].alias("ewma_final"),
        res["maxd"].alias("max_dev"),
        res["alarm"].alias("alarm_day"),
    )


def volume_acf(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    max_lag: int = 7,
) -> DataFrame:
    """Per-slice autocorrelation of the daily-volume series at
    calendar lags 1..``max_lag`` — the seasonality/persistence
    readout beside volume_trend (drift), volume_cusum/ewma (shifts):
    a weekly-rhythmed slice shows a lag-7 peak, a bursty one fast
    decay.

        r_k = sum_t (y_t - ybar)(y_{t+k} - ybar)
              / sum_t (y_t - ybar)^2

    with ybar the slice's full-series mean and the denominator over
    all days (the standard sample ACF); the numerator runs over the
    pairs at EXACT calendar lag k — missing days contribute no pair
    (gappy-series convention), pinned by ``n_pairs``.

    Exactness: multiply through by n^2 — with integer deviations
    d_t = n * y_t - S (S the count sum), r_k = sum d_t d_{t+k} /
    sum d_t^2 is a ratio of exact DECIMAL(38,0) integer sums,
    order-independent at any parallelism, one float division at the
    end.

    Scale shape: one raw scan into (group, day) counts; per-slice
    moments via map-side combine; the lag pairs come from ONE
    equi-join of the daily table with itself on (group, x + k)
    across an exploded 1..max_lag lag dimension — everything
    calendar-bounded, never corpus-sized. Output: (group, lag,
    n_pairs, acf), acf NULL for a constant series (zero
    denominator); slices shorter than lag+1 days emit no row for
    that lag."""
    dev = _deviations(df, group_col, ts_col)
    den = dev.groupBy(group_col).agg(
        F.sum(F.col("d") * F.col("d")).alias("__den")
    )
    lags = F.explode(
        F.sequence(F.lit(1), F.lit(int(max_lag)))
    ).alias("lag")
    left = dev.select(group_col, "x", F.col("d").alias("d1"), lags)
    right = dev.select(
        F.col(group_col).alias("__g2"),
        F.col("x").alias("__x2"),
        F.col("d").alias("d2"),
    )
    pairs = left.join(
        right,
        (F.col(group_col) == F.col("__g2"))
        & (F.col("__x2") == F.col("x") + F.col("lag")),
    )
    num = pairs.groupBy(group_col, "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("d1") * F.col("d2")).alias("__num"),
    )
    return (
        num.join(den, group_col)
        .select(
            group_col,
            F.col("lag").cast("int").alias("lag"),
            "n_pairs",
            F.when(
                F.col("__den") > 0,
                F.col("__num").cast("double")
                / F.col("__den").cast("double"),
            ).alias("acf"),
        )
    )


def trend_mk(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Per-slice Mann-Kendall monotonic-trend test + Theil-Sen slope
    over the daily-volume series — the NONPARAMETRIC companion to
    volume_trend's OLS (level-robust, outlier-robust: a single spike
    day can flip an OLS slope but moves S by at most n-1):

        S     = sum_{i<j} sgn(y_j - y_i)
        VarS  = (n(n-1)(2n+5) - sum_t t(t-1)(2t+5)) / 18
                (tie groups t over the COUNT values; Kendall 1975)
        z     = (S -/+ 1) / sqrt(VarS)   (continuity-corrected,
                0 when S = 0 or VarS = 0)
        sen   = median over pairs of (y_j - y_i) / (x_j - x_i)

    S, 18*VarS and every pairwise slope numerator/denominator are
    exact integers; z is one float expression of them, and the Sen
    median picks the middle slope(s) from the sorted pair array —
    even counts average the two middles as (a + b) / 2. All
    deterministic at any parallelism.

    Scale shape: one raw scan into (group, day) counts, then ONE
    self-join of the calendar-bounded daily table on (group, x_j >
    x_i) — quadratic in DAYS (thousands at most), never in rows; the
    tie term from the count-value histogram. Output: (group, n_days,
    mk_s, mk_z, sen_slope); z/sen NULL when fewer than 2 days."""
    # reused by the pair join (both sides) and the tie rollup —
    # materialize once (calendar-bounded; see _deviations)
    daily = _daily(df, [group_col], ts_col).localCheckpoint(eager=True)
    right = daily.select(
        F.col(group_col).alias("__g2"),
        F.col("x").alias("__x2"),
        F.col("y").alias("__y2"),
    )
    pairs = daily.join(
        right,
        (F.col(group_col) == F.col("__g2"))
        & (F.col("__x2") > F.col("x")),
    ).select(
        group_col,
        F.signum((F.col("__y2") - F.col("y")).cast("double"))
        .cast("bigint")
        .alias("sgn"),
        (
            (F.col("__y2") - F.col("y")).cast("double")
            / (F.col("__x2") - F.col("x")).cast("double")
        ).alias("slope"),
    )
    agg = pairs.groupBy(group_col).agg(
        F.sum("sgn").alias("__s"),
        F.sort_array(F.collect_list("slope")).alias("__slopes"),
    )
    ties = (
        daily.groupBy(group_col, "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("__nvals"),
            F.sum(
                F.col("t")
                * (F.col("t") - 1)
                * (2 * F.col("t") + 5)
            ).alias("__tie"),
            F.sum("t").alias("__n"),
        )
    )
    # left join from ties: a single-day slice has NO pair row at all
    # but must still emit (n_days=1, mk_s=0, NULL z/sen)
    g = ties.join(agg, group_col, "left").withColumn(
        "__s", F.coalesce(F.col("__s"), F.lit(0))
    )
    n = F.col("__n")
    var18 = (
        n * (n - 1) * (2 * n + 5) - F.coalesce(F.col("__tie"), F.lit(0))
    ).cast("double")
    s = F.col("__s").cast("double")
    z = F.when(
        (F.col("__s") == 0) | (var18 <= 0), F.lit(0.0)
    ).otherwise(
        (
            s
            - F.signum(s)
        )
        / F.sqrt(var18 / F.lit(18.0))
    )
    m = F.size("__slopes")
    lo = F.element_at("__slopes", ((m + 1) / 2).cast("int"))
    hi = F.element_at("__slopes", (m / 2 + 1).cast("int"))
    sen = (lo + hi) / F.lit(2.0)
    has = F.col("__n") >= 2
    return g.select(
        group_col,
        F.col("__n").cast("bigint").alias("n_days"),
        F.col("__s").cast("bigint").alias("mk_s"),
        F.when(has, z).alias("mk_z"),
        F.when(has, sen).alias("sen_slope"),
    )


def weekday_anova(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    unit: int = 10**9,
) -> DataFrame:
    """Per-slice one-way ANOVA of daily volume across day-of-week
    bins — the CALIBRATED weekly-seasonality test beside volume_acf's
    lag-7 peak (ACF says "rhythm", the F statistic says "rhythm
    larger than within-day noise"):

        F = (SSB / (k - 1)) / (SSW / (n - k)),
        SSB = sum_w S_w^2 / n_w - S^2 / n,
        SSW = sum y^2 - sum_w S_w^2 / n_w

    over the weekday bins w = day % 7 present in the slice. Every
    S_w, n_w, sum y^2 is an exact integer; the per-bin term
    S_w^2 / n_w is quantized to integer 1/``unit`` units before the
    cross-bin sum (house rule — a float sum over bins would drift
    with partial-aggregation order), then F and the eta-squared
    effect size are one float expression each.

    Scale shape: one raw scan into (group, day) counts, a weekday
    rollup (at most 7 bins per slice), arithmetic on the bin table.
    Output: (group, n_days, k_bins, f_stat, eta_sq) — NULL when
    dof is empty (k < 2 or n = k)."""
    dec = "decimal(38,0)"
    daily = _daily(df, [group_col], ts_col).withColumn(
        "y", F.col("y").cast(dec)
    )
    bins = daily.groupBy(
        group_col, F.pmod(F.col("x"), F.lit(7)).alias("w")
    ).agg(
        F.count(F.lit(1)).cast(dec).alias("nw"),
        F.sum("y").alias("sw"),
        F.sum(F.col("y") * F.col("y")).alias("sww"),
    )
    term = (
        (F.col("sw") * F.col("sw")).cast("double")
        / F.col("nw").cast("double")
    )
    g = bins.groupBy(group_col).agg(
        F.sum("nw").alias("__n"),
        F.sum("sw").alias("__s"),
        F.sum("sww").alias("__syy"),
        F.count(F.lit(1)).alias("__k"),
        F.sum(
            F.floor(term * F.lit(float(unit))).cast(dec)
        ).alias("__bu"),
    )
    u = F.lit(float(unit))
    n, k = F.col("__n").cast("double"), F.col("__k").cast("double")
    bterm = F.col("__bu").cast("double") / u
    ssb = bterm - (F.col("__s") * F.col("__s")).cast("double") / n
    ssw = F.col("__syy").cast("double") - bterm
    valid = (F.col("__k") >= 2) & (F.col("__n") > F.col("__k")) & (
        ssw > 0
    )
    fstat = (ssb / (k - F.lit(1.0))) / (ssw / (n - k))
    return g.select(
        group_col,
        F.col("__n").cast("bigint").alias("n_days"),
        F.col("__k").cast("bigint").alias("k_bins"),
        F.when(valid, fstat).alias("f_stat"),
        F.when(valid, ssb / (ssb + ssw)).alias("eta_sq"),
    )


def volume_ccf(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    max_lag: int = 7,
) -> DataFrame:
    """Lead-lag cross-correlation between every unordered pair of
    slices' daily-volume series at calendar lags -max_lag..max_lag —
    the pairwise companion to volume_acf (ACF says "this slice has
    rhythm", the CCF peak lag says "slice B follows slice A by k
    days"):

        r_ab(k) = sum_t (a_t - abar)(b_{t+k} - bbar)
                  / sqrt(sum (a - abar)^2 * sum (b - bbar)^2)

    with each series' mean/variance over its own full span and the
    numerator over days where BOTH series have a row at exact
    calendar offset k (gappy convention, pinned by ``n_pairs``).
    Negative k = b leads a. Only unordered pairs g1 < g2 are
    emitted: r_ba(k) = r_ab(-k).

    Exactness: with integer deviations da_t = n_a * a_t - S_a and
    db_t = n_b * b_t - S_b, both the numerator sum and each
    denominator sum are exact DECIMAL(38,0) integers (the n_a * n_b
    scale cancels between numerator and sqrt of the denominator
    product), order-independent at any parallelism; one float
    division at the end.

    Scale shape: one raw scan into (group, day) counts; deviations
    via a broadcast-sized per-group moment join; pairs from ONE join
    of the calendar-bounded daily table with itself across an
    exploded lag dimension — |groups|^2 x days x (2L+1) at most,
    never row-sized. Output: (g1, g2, lag, n_pairs, ccf); ccf NULL
    when either series is constant (zero variance)."""
    # deviations feed the denominator and BOTH lag-join sides
    dev = _deviations(df, group_col, ts_col).localCheckpoint(eager=True)
    den = dev.groupBy(group_col).agg(
        F.sum(F.col("d") * F.col("d")).alias("__den")
    )
    lags = F.explode(
        F.sequence(F.lit(-int(max_lag)), F.lit(int(max_lag)))
    ).alias("lag")
    left = dev.select(
        F.col(group_col).alias("g1"),
        "x",
        F.col("d").alias("d1"),
        lags,
    )
    right = dev.select(
        F.col(group_col).alias("g2"),
        F.col("x").alias("__x2"),
        F.col("d").alias("d2"),
    )
    pairs = left.join(
        right,
        (F.col("g1") < F.col("g2"))
        & (F.col("__x2") == F.col("x") + F.col("lag")),
    )
    num = pairs.groupBy("g1", "g2", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("d1") * F.col("d2")).alias("__num"),
    )
    den1 = den.select(
        F.col(group_col).alias("g1"), F.col("__den").alias("__den1")
    )
    den2 = den.select(
        F.col(group_col).alias("g2"), F.col("__den").alias("__den2")
    )
    return (
        num.join(den1, "g1")
        .join(den2, "g2")
        .select(
            "g1",
            "g2",
            F.col("lag").cast("int").alias("lag"),
            "n_pairs",
            F.when(
                (F.col("__den1") > 0) & (F.col("__den2") > 0),
                F.col("__num").cast("double")
                / F.sqrt(
                    F.col("__den1").cast("double")
                    * F.col("__den2").cast("double")
                ),
            ).alias("ccf"),
        )
    )


def holt_trend(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    alpha: float = 0.3,
    gamma: float = 0.1,
) -> DataFrame:
    """Per-slice Holt linear-trend (double exponential) smoothing of
    the daily-volume series — the FORECASTING readout beside the
    monitors (EWMA tracks level; Holt carries an explicit trend
    state, so its one-step forecast leads a drifting series instead
    of lagging it):

        l_t = alpha * y_t + (1 - alpha) * (l_{t-1} + b_{t-1})
        b_t = gamma * (l_t - l_{t-1}) + (1 - gamma) * b_{t-1}

    with the classic init l = y_2, b = y_2 - y_1 (folding from t=3;
    the t=2 step is an identity under this init and its fitted error
    is identically zero, so it is excluded from the error averages).
    One-step errors e_t = y_t - (l_{t-1} + b_{t-1}) accumulate into
    sse/sae inside the same fold. Only +, -, *, /, sqrt, abs are
    used — all correctly-rounded IEEE ops — so a SQL engine replaying
    the same recursion reproduces every state bit for bit (the
    volume_cusum/volume_ewma contract; no pow()).

    Scale shape: one raw scan into (group, day) counts; each slice's
    series is a calendar-bounded sorted array folded by a Catalyst
    higher-order ``aggregate`` — zero Python, zero extra shuffle.
    Output: (group, n_days, level, trend, forecast, rmse, mae);
    trend/forecast NULL for single-day slices, rmse/mae NULL below
    3 days. Forecast is the one-step-ahead l + b."""
    g = _series(df, group_col, ts_col)
    n = F.col("n_days")
    y1 = F.element_at("series", 1)["y"].cast("double")
    y2 = F.element_at("series", 2)["y"].cast("double")
    init = F.struct(
        y2.alias("l"),
        (y2 - y1).alias("b"),
        F.lit(0.0).alias("sse"),
        F.lit(0.0).alias("sae"),
    )
    al, be = F.lit(float(alpha)), F.lit(1.0 - float(alpha))
    ga, gb = F.lit(float(gamma)), F.lit(1.0 - float(gamma))

    def step(acc, e):
        yd = e["y"].cast("double")
        pred = acc["l"] + acc["b"]
        err = yd - pred
        l2 = al * yd + be * pred
        b2 = ga * (l2 - acc["l"]) + gb * acc["b"]
        return F.struct(
            l2.alias("l"),
            b2.alias("b"),
            (acc["sse"] + err * err).alias("sse"),
            (acc["sae"] + F.abs(err)).alias("sae"),
        )

    tail = F.slice(
        F.col("series"),
        F.lit(3),
        F.greatest(F.size("series") - 2, F.lit(0)),
    )
    acc = F.aggregate(tail, init, step)
    nf = (n - 2).cast("double")
    return g.select(
        group_col,
        "n_days",
        F.when(n >= 2, acc["l"]).otherwise(y1).alias("level"),
        F.when(n >= 2, acc["b"]).alias("trend"),
        F.when(n >= 2, acc["l"] + acc["b"]).alias("forecast"),
        F.when(n >= 3, F.sqrt(acc["sse"] / nf)).alias("rmse"),
        F.when(n >= 3, acc["sae"] / nf).alias("mae"),
    )


def response_latency(
    df: DataFrame,
    entity: str = "conv_id",
    order: str | Sequence[str] = ("turn_idx",),
    role_col: str = "role",
    from_role: str = "user",
    to_role: str = "assistant",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-entity response-latency features over an ordered
    per-entity stream: for every ``from_role`` turn whose IMMEDIATE
    successor (in ``order``) is a ``to_role`` turn, the latency is
    the exact microsecond timestamp gap; per entity the count and
    min/mean/max of those latencies. On transcripts this is
    "how fast does the assistant answer" (the per-conversation
    latency profile beside conversation_features' inter-turn gaps,
    which ignore roles); on event streams it is the state-to-state
    transition delay (view -> purchase). Adjacent-only by design —
    a from-turn followed by another from-turn contributes nothing
    (that pair's delay is not a response).

    Exactness: latencies are exact integer microseconds
    (:func:`_epoch_us`); sums/min/max are integer aggregates and the
    mean is one float division. One lead() window over the entity
    ordering (the engine's standard skew-handled shape) and one
    map-side-combined groupBy. Output: (entity, n_pairs,
    min_latency_us, mean_latency_us, max_latency_us) — entities with
    no qualifying pair emit NO row (count-zero rows would need the
    full entity list; join against it when needed)."""
    w = _w(entity, list(order) if not isinstance(order, str) else order)
    nxt_role = F.lead(F.col(role_col)).over(w)
    nxt_us = F.lead(_epoch_us(ts_col)).over(w)
    lat = (
        df.select(
            entity,
            F.col(role_col).alias("__r"),
            nxt_role.alias("__nr"),
            (nxt_us - _epoch_us(ts_col)).alias("__lat"),
        )
        .where(
            (F.col("__r") == from_role) & (F.col("__nr") == to_role)
        )
    )
    return lat.groupBy(entity).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.min("__lat").cast("bigint").alias("min_latency_us"),
        (
            F.sum("__lat").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_latency_us"),
        F.max("__lat").cast("bigint").alias("max_latency_us"),
    )


def conversion_attribution(
    df: DataFrame,
    entity: str = "user_id",
    order: str | Sequence[str] = ("ts",),
    state_col: str = "event_type",
    convert_state: str = "purchase",
) -> DataFrame:
    """First-touch / last-touch conversion attribution over the
    per-entity event stream: every ``convert_state`` event is
    attributed to the FIRST and to the LAST non-conversion event
    strictly before it (marketing's two standard single-touch
    models, both from ONE pass); the output is the per-touch-state
    conversion count under each model. A conversion with no prior
    touch attributes to the NULL touch row — kept visible rather
    than dropped (organic conversions are a real answer).

    Exactness: pure window + conditional-count arithmetic — no
    floats anywhere. One lead-free window over the entity ordering
    (the engine's standard skew-handled shape: first/last with
    ignorenulls over rows UNBOUNDED PRECEDING..-1), then one
    map-side-combined groupBy to the |states| x 2 output. Output:
    (model, touch, n_conversions) with model in {'first', 'last'},
    ordered deterministically by the caller."""
    w = _w(
        entity, list(order) if not isinstance(order, str) else order
    ).rowsBetween(W.unboundedPreceding, -1)
    touch = F.when(
        F.col(state_col) != convert_state, F.col(state_col)
    )
    conv = df.select(
        F.col(state_col).alias("__s"),
        F.first(touch, ignorenulls=True).over(w).alias("__ft"),
        F.last(touch, ignorenulls=True).over(w).alias("__lt"),
    ).where(F.col("__s") == convert_state)
    first = conv.groupBy(F.col("__ft").alias("touch")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conversions")
    ).select(F.lit("first").alias("model"), "touch", "n_conversions")
    last = conv.groupBy(F.col("__lt").alias("touch")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conversions")
    ).select(F.lit("last").alias("model"), "touch", "n_conversions")
    return first.unionByName(last)


def daily_rate_wilson(
    df: DataFrame,
    state_col: str = "event_type",
    convert_state: str = "purchase",
    ts_col: str = "ts",
    z: float = 1.959963984540054,
) -> DataFrame:
    """Daily share of ``convert_state`` events with the Wilson score
    interval — the rate-with-honest-uncertainty daily health series
    the volume monitors (trend/CUSUM/EWMA) deliberately ignore: a
    low-traffic day's rate swing is usually just its wide interval,
    and Wilson (unlike the Wald +-z*sqrt(pq/n)) stays inside [0, 1]
    and behaves at k = 0 / k = n:

        center = (p + z^2/2n) / (1 + z^2/n)
        half   = z * sqrt(p(1-p)/n + z^2/4n^2) / (1 + z^2/n)

    with p = k/n. n and k are exact integers per calendar day (one
    map-side-combined groupBy); the interval is one float expression
    of them with z embedded as a literal, so a SQL oracle replays it
    digit-for-digit. Output: (day, n, k, rate, ci_lo, ci_hi) with
    ``day`` the epoch-day integer; rows for every day with any
    event."""
    converted = F.when(F.col(state_col) == convert_state, 1).otherwise(0)
    daily = _daily(
        df, [], ts_col, k=F.sum(converted).cast("bigint")
    ).select(F.col("x").alias("day"), F.col("y").alias("n"), "k")
    zz = F.lit(float(z))
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    denom = F.lit(1.0) + zz * zz / n
    center = (p + zz * zz / (F.lit(2.0) * n)) / denom
    half = (
        zz
        * F.sqrt(
            p * (F.lit(1.0) - p) / n
            + zz * zz / (F.lit(4.0) * n * n)
        )
        / denom
    )
    return daily.select(
        "day",
        "n",
        "k",
        p.alias("rate"),
        (center - half).alias("ci_lo"),
        (center + half).alias("ci_hi"),
    )


def volume_breakpoint(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    min_seg: int = 2,
) -> DataFrame:
    """Per-slice two-segment breakpoint regression over the daily
    volume series — the LOCALIZER beside the detectors: volume_cusum
    says "a step happened", volume_trend fits one global line; this
    finds WHERE the regime changed and what the slope was on each
    side, by exhaustive least-squares over every admissible split:

        bp = argmin_b [ SSE(OLS on days <= b) + SSE(days > b) ]

    (ties -> earliest day; each segment needs >= ``min_seg`` days).
    Exhaustive search is exact and cheap here because candidates
    live on the DAY table: per-group cumulative DECIMAL prefix sums
    (n, Sx, Sy, Sxx, Sxy, Syy — exact integers) turn every split's
    two SSEs into closed forms of prefix vs total-minus-prefix,

        SSE = (Syy - Sy^2/n) - cov^2 / (n * varx),
        cov = n Sxy - Sx Sy,  varx = n Sxx - Sx^2  (> 0: distinct
        integer days)

    so the only window runs over distinct days and the float
    expressions are shared verbatim with the SQL oracle — both
    engines pick the same argmin because they compare identical
    doubles. Days with no rows are not zero-filled (the
    volume_trend convention).

    Output: one row per group (group, n_days, sse_single, bp,
    slope_lo, slope_hi, sse_split) — bp the last day of the left
    segment; bp/slopes/sse_split NULL when the slice has fewer than
    2*min_seg days, sse_single NULL below 2 days."""
    dec = "decimal(19,0)"
    daily = _daily(df, [group_col], ts_col)
    xd, yd = F.col("x").cast(dec), F.col("y").cast(dec)
    pts = daily.select(
        group_col,
        "x",
        xd.alias("__x"),
        yd.alias("__y"),
        (xd * xd).alias("__xx"),
        (xd * yd).alias("__xy"),
        (yd * yd).alias("__yy"),
    )
    w_cum = (
        W.partitionBy(group_col)
        .orderBy("x")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    pref = pts.select(
        group_col,
        "x",
        F.count(F.lit(1)).over(w_cum).alias("ln"),
        F.sum("__x").over(w_cum).alias("lsx"),
        F.sum("__y").over(w_cum).alias("lsy"),
        F.sum("__xx").over(w_cum).alias("lsxx"),
        F.sum("__xy").over(w_cum).alias("lsxy"),
        F.sum("__yy").over(w_cum).alias("lsyy"),
    )
    tot = pts.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("__x").alias("tsx"),
        F.sum("__y").alias("tsy"),
        F.sum("__xx").alias("tsxx"),
        F.sum("__xy").alias("tsxy"),
        F.sum("__yy").alias("tsyy"),
    )

    def ols(n, sx, sy, sxx, sxy, syy):
        nd = n.cast("double")
        sxd, syd = sx.cast("double"), sy.cast("double")
        sxxd = sxx.cast("double")
        sxyd = sxy.cast("double")
        syyd = syy.cast("double")
        cov = nd * sxyd - sxd * syd
        varx = nd * sxxd - sxd * sxd
        sse = (syyd - syd * syd / nd) - cov * cov / (nd * varx)
        return sse, cov / varx

    cand = (
        pref.join(tot, group_col)
        .where(
            (F.col("ln") >= int(min_seg))
            & (F.col("n_days") - F.col("ln") >= int(min_seg))
        )
    )
    sse_l, slope_l = ols(
        F.col("ln"), F.col("lsx"), F.col("lsy"), F.col("lsxx"),
        F.col("lsxy"), F.col("lsyy"),
    )
    sse_r, slope_r = ols(
        F.col("n_days") - F.col("ln"),
        F.col("tsx") - F.col("lsx"),
        F.col("tsy") - F.col("lsy"),
        F.col("tsxx") - F.col("lsxx"),
        F.col("tsxy") - F.col("lsxy"),
        F.col("tsyy") - F.col("lsyy"),
    )
    scored = cand.select(
        group_col,
        "x",
        (sse_l + sse_r).alias("sse_split"),
        slope_l.alias("slope_lo"),
        slope_r.alias("slope_hi"),
    )
    w_best = W.partitionBy(group_col).orderBy(
        F.col("sse_split").asc(), F.col("x").asc()
    )
    best = (
        scored.withColumn("__rn", F.row_number().over(w_best))
        .where(F.col("__rn") == 1)
        .select(
            group_col,
            F.col("x").alias("bp"),
            "slope_lo",
            "slope_hi",
            "sse_split",
        )
    )
    sse_s, _ = ols(
        F.col("n_days"), F.col("tsx"), F.col("tsy"), F.col("tsxx"),
        F.col("tsxy"), F.col("tsyy"),
    )
    return (
        tot.withColumn(
            "sse_single", F.when(F.col("n_days") >= 2, sse_s)
        )
        .join(best, group_col, "left")
        .select(
            group_col,
            "n_days",
            "sse_single",
            "bp",
            "slope_lo",
            "slope_hi",
            "sse_split",
        )
    )


def volume_pacf(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    max_lag: int = 5,
) -> DataFrame:
    """Per-slice PARTIAL autocorrelation of the daily-volume series
    at calendar lags 1..``max_lag`` — the AR-order readout
    completing :func:`volume_acf`: ACF says "lag k correlates",
    PACF says whether that is NEW structure or just lag-1
    persistence echoing (an AR(1) series has geometric ACF at every
    lag but PACF cutting to ~0 after lag 1 — the standard Box-
    Jenkins identification plot).

    Computed from the slice's ACF vector r by the Durbin-Levinson
    recursion, k = 2..K:

        a_k     = (r_k - sum_j phi_j r_{k-j})
                  / (1 - sum_j phi_j r_j),      pacf_k = a_k
        phi'_j  = phi_j - a_k phi_{k-j}   (j = 1..k-1), phi'_k = a_k

    run as ONE Catalyst higher-order ``aggregate`` over a struct of
    arrays (phi, pacf) — zero Python, no extra shuffle; the inner
    sums fold left in ascending j from an exact 0.0, so a SQL engine
    replaying the same recursion (list-state recursive CTE)
    reproduces every coefficient digit for digit. A singular step
    (denominator exactly 0 — constant/degenerate ACF) yields NULL
    from that lag onward instead of dividing by zero.

    Slices are included only when ALL ``max_lag`` ACF lags exist and
    are non-NULL (gappy calendar or constant series drop out —
    Durbin-Levinson needs the contiguous r_1..r_K). Output: (group,
    lag, n_pairs, acf, pacf) — pacf_1 = r_1 by definition."""
    assert max_lag >= 2, "PACF needs max_lag >= 2"
    acf = volume_acf(df, group_col, ts_col, max_lag)
    per = (
        acf.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("__nl"),
            F.max(F.col("acf").isNull().cast("int")).alias("__bad"),
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("lag"), F.col("acf")))
                ),
                lambda s: s["acf"],
            ).alias("__r"),
        )
        .where(
            (F.col("__nl") == int(max_lag)) & (F.col("__bad") == 0)
        )
    )
    r = F.col("__r")
    init = F.struct(
        F.slice(r, 1, 1).alias("phi"), F.slice(r, 1, 1).alias("pacf")
    )

    def step(acc, k):
        phi = acc["phi"]
        num = F.aggregate(
            F.transform(
                F.sequence(F.lit(1), k - 1),
                lambda j: F.element_at(phi, j)
                * F.element_at(r, k - j),
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        den = F.aggregate(
            F.transform(
                F.sequence(F.lit(1), k - 1),
                lambda j: F.element_at(phi, j) * F.element_at(r, j),
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        ak = F.when(
            (F.lit(1.0) - den) != 0.0,
            (F.element_at(r, k) - num) / (F.lit(1.0) - den),
        )
        newphi = F.concat(
            F.transform(
                F.sequence(F.lit(1), k - 1),
                lambda j: F.element_at(phi, j)
                - ak * F.element_at(phi, k - j),
            ),
            F.array(ak),
        )
        return F.struct(
            newphi.alias("phi"),
            F.concat(acc["pacf"], F.array(ak)).alias("pacf"),
        )

    pac_arr = F.aggregate(
        F.sequence(F.lit(2), F.lit(int(max_lag))), init, step
    )["pacf"]
    pac = per.select(
        group_col, F.posexplode(pac_arr).alias("__pos", "pacf")
    ).withColumn("lag", (F.col("__pos") + 1).cast("int"))
    return acf.join(pac.select(group_col, "lag", "pacf"),
                    [group_col, "lag"]).select(
        group_col, "lag", "n_pairs", "acf", "pacf"
    )


def transition_score(
    df: DataFrame,
    entity: str = "user_id",
    state_col: str = "event_type",
    order_cols: Sequence[str] = ("ts", "event_id"),
    alpha: float = 1.0,
    unit: int = 10**9,
) -> DataFrame:
    """Score every entity's state sequence under the corpus Markov
    transition model — the anomaly readout built on
    :func:`transition_counts`: an entity whose journey is improbable
    under the crowd's transition matrix (bot loops, scraper sweeps,
    broken clients) gets a low average log-likelihood. Laplace
    smoothing keeps unseen pairs finite:

        P(b | a) = (c_ab + alpha) / (c_a + alpha * S)
        score(e) = sum_{(a,b) in e's stream} ln P(b | a)

    with S the corpus state-alphabet size. Engine-reproducibility:
    counts are exact integers; each pair's ln P is quantized to
    integer 1/``unit`` units and the per-entity sum accumulates
    those integers exactly (the house rule — a float sum over an
    entity's transitions would drift with partial-agg order), one
    division at the end.

    Scale shape: the same single entity-exchange the sessionize/
    funnel family uses, a |states|^2 count rollup, a broadcast-sized
    model join back onto the pair stream, one groupBy(entity).
    Output: (entity, n_transitions, logprob, avg_logprob) — one row
    per entity with >= 1 transition."""
    dec = "decimal(38,0)"
    w = W.partitionBy(entity).orderBy(
        *[F.col(c) for c in order_cols]
    )
    pairs = df.select(
        F.col(entity),
        F.lag(state_col).over(w).alias("__a"),
        F.col(state_col).alias("__b"),
    ).where(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    counts = pairs.groupBy("__a", "__b").agg(
        F.count(F.lit(1)).cast(dec).alias("__cab")
    )
    fromtot = counts.groupBy("__a").agg(
        F.sum("__cab").alias("__ca")
    )
    nstates = df.where(F.col(state_col).isNotNull()).agg(
        F.countDistinct(state_col).cast("bigint").alias("__s")
    )
    al = F.lit(float(alpha))
    u = F.lit(float(unit))
    model = (
        counts.join(fromtot, "__a")
        .crossJoin(F.broadcast(nstates))
        .select(
            "__a",
            "__b",
            F.floor(
                F.log(
                    (F.col("__cab").cast("double") + al)
                    / (
                        F.col("__ca").cast("double")
                        + al * F.col("__s").cast("double")
                    )
                )
                * u
            )
            .cast(dec)
            .alias("__qlp"),
        )
    )
    return (
        pairs.join(model, ["__a", "__b"])
        .groupBy(entity)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
            F.sum("__qlp").alias("__sq"),
        )
        .select(
            entity,
            "n_transitions",
            (F.col("__sq").cast("double") / u).alias("logprob"),
            (
                F.col("__sq").cast("double")
                / u
                / F.col("n_transitions").cast("double")
            ).alias("avg_logprob"),
        )
    )


def weekday_index(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Per-slice weekly seasonal INDEX table — the adjustment
    factors behind :func:`weekday_anova`'s verdict (ANOVA says
    "weekly rhythm is real"; this says HOW MUCH each weekday runs
    above/below trend so monitors can deseasonalize before
    alarming):

        index_w = mean(volume | weekday w) / mean(volume)

    over the slice's observed days (day % 7 bins, 0 = Thursday for
    epoch day 0 — the same bin rule weekday_anova uses). A day's
    deseasonalized volume is y / index_w. Every count is an exact
    integer; each output is one float expression of four integers
    (S_w * n) / (n_w * S) — cross-multiplied so there is exactly
    one division, replayed verbatim in the SQL oracle.

    Scale shape: one raw scan to the (group, day) count table, one
    rollup to at most 7 rows per slice. Output: (group, weekday,
    n_days, mean_volume, seasonal_index) — NULL only for an
    all-empty slice (S = 0)."""
    dec = "decimal(38,0)"
    daily = _daily(df, [group_col], ts_col).withColumn(
        "y", F.col("y").cast(dec)
    )
    byw = daily.groupBy(
        group_col, F.pmod(F.col("x"), F.lit(7)).cast("int").alias(
            "weekday"
        )
    ).agg(
        F.count(F.lit(1)).cast(dec).alias("__nw"),
        F.sum("y").alias("__sw"),
    )
    tot = byw.groupBy(group_col).agg(
        F.sum("__nw").alias("__n"), F.sum("__sw").alias("__s")
    )
    j = byw.join(tot, group_col)
    return j.select(
        group_col,
        "weekday",
        F.col("__nw").cast("bigint").alias("n_days"),
        (
            F.col("__sw").cast("double")
            / F.col("__nw").cast("double")
        ).alias("mean_volume"),
        F.when(
            F.col("__s") > 0,
            (F.col("__sw") * F.col("__n")).cast("double")
            / (F.col("__nw") * F.col("__s")).cast("double"),
        ).alias("seasonal_index"),
    )


def volume_dispersion(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Per-slice index of dispersion (Fano factor) of the daily-volume
    series — the burstiness readout beside weekday_anova (rhythm) and
    volume_cusum (level shifts): a Poisson-arrival slice has
    variance ~ mean (fano ~ 1); fano >> 1 = bursty/clumped traffic,
    fano << 1 = rate-limited/scheduled.

        fano = s^2 / ybar,
        D    = (n - 1) * fano  ~  chi2_{n-1} under Poisson,
        z    = sqrt(2 D) - sqrt(2 (n - 1) - 1)

    over the CALENDAR-BOUNDED series: n spans min..max observed day
    inclusive, and missing days inside the span count as zero-volume
    days (they contribute nothing to sum y or sum y^2, so the span
    convention costs no extra rows — unlike the ACF's gappy pair
    convention, a dispersion test that skipped silent days would
    miss exactly the burstiness it measures). The z column is the
    classical sqrt-approximation to the chi-square tail (exact df
    emitted alongside for any finer reading); ``overdispersed`` is
    the one-sided 5% verdict z > 1.644854.

    Exactness: n, S = sum y, SS = sum y^2 are exact DECIMAL(38,0)
    integers via map-side combine over (group, day) counts;
    fano = (n*SS - S^2) / (S*(n-1)) and D = (n*SS - S^2)/S are each
    ONE float division over integer terms, order-independent at any
    parallelism. Scale shape: one raw scan into (group, day) counts,
    one per-slice rollup — no window, no join. Output: (group,
    n_days, n_active_days, total, fano, dispersion, z,
    overdispersed); statistics NULL when n < 2 or total = 0."""
    dec = "decimal(38,0)"
    daily = _daily(df, [group_col], ts_col).withColumn(
        "y", F.col("y").cast(dec)
    )
    g = daily.groupBy(group_col).agg(
        (
            F.max("x") - F.min("x") + F.lit(1)
        ).cast(dec).alias("__n"),
        F.count(F.lit(1)).cast("bigint").alias("n_active_days"),
        F.sum("y").alias("__s"),
        F.sum(F.col("y") * F.col("y")).alias("__ss"),
    )
    n, s, ss = F.col("__n"), F.col("__s"), F.col("__ss")
    num = (n * ss - s * s).cast("double")
    ok = (F.col("__n") >= 2) & (F.col("__s") > 0)
    fano = num / (
        s.cast("double") * (n - F.lit(1).cast(dec)).cast("double")
    )
    disp = num / s.cast("double")
    dfree = (n - F.lit(1).cast(dec)).cast("double")
    z = F.sqrt(F.lit(2.0) * disp) - F.sqrt(
        F.lit(2.0) * dfree - F.lit(1.0)
    )
    return g.select(
        group_col,
        F.col("__n").cast("bigint").alias("n_days"),
        "n_active_days",
        F.col("__s").cast("bigint").alias("total"),
        F.when(ok, fano).alias("fano"),
        F.when(ok, disp).alias("dispersion"),
        F.when(ok, z).alias("z"),
        F.when(ok, z > F.lit(1.644854)).alias("overdispersed"),
    )


def volume_pettitt(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Pettitt rank-based change-point test per slice — the
    NONPARAMETRIC companion to volume_breakpoint (the regression
    localizer assumes lines + Gaussian noise; Pettitt asks "did the
    DISTRIBUTION of daily volume shift, and when?" with no model at
    all). The statistic is the Mann-Whitney sweep

        U_t = sum_{i<=t} sum_{j>t} sign(y_i - y_j),
        K = max_t |U_t|  (t = 1..T-1, earliest day on ties),
        p ~= 2 exp(-6 K^2 / (T^3 + T^2))   (Pettitt 1979)

    Exactness: the O(T^2) double sum collapses through the identity
    U_t = sum_{tau<=t} V_tau with V_t = #{y_j < y_t} - #{y_j > y_t}
    = 2 * less_t + ties_t - T, where less/ties come off the per-group
    VALUE HISTOGRAM of daily volumes — every V and U is an exact
    BIGINT, ties handled exactly (sign(0) = 0), order-independent at
    any parallelism; p is ONE closed float expression of (K, T),
    clamped at 1 — no lookup tables, replayable by any SQL engine.

    Scale shape: one raw scan into (group, day) counts, a histogram
    rollup over distinct volume VALUES, one day-table window for the
    prefix sum, two day-table aggregations (K, then the earliest
    argmax day). Days with no rows are not zero-filled (the
    volume_trend convention). Output: (group, n_days, k_stat,
    cp_day, p_value, significant); NULL statistics below 2 days."""
    # feeds the value histogram AND the V join — scan once
    daily = _daily(df, [group_col], ts_col).localCheckpoint(eager=True)
    ranks = _value_ranks(daily, [group_col])
    tot = daily.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__t"),
        F.max("x").alias("__xmax"),
    )
    v = (
        daily.join(ranks, [group_col, "y"])
        .join(tot, group_col)
        .select(
            group_col,
            "x",
            "__t",
            "__xmax",
            (
                F.lit(2).cast("bigint") * F.col("__less")
                + F.col("__c")
                - F.col("__t")
            ).alias("__v"),
        )
    )
    wd = (
        W.partitionBy(group_col)
        .orderBy("x")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    u = (
        v.select(
            group_col,
            "x",
            "__t",
            F.sum("__v").over(wd).alias("__u"),
            "__xmax",
        )
        .where(F.col("x") < F.col("__xmax"))
        # feeds the K aggregation AND the argmax join — scan once
        .localCheckpoint(eager=True)
    )
    stats = u.groupBy(group_col).agg(
        F.max(F.abs(F.col("__u"))).alias("__k"),
    )
    cp = (
        u.join(stats, group_col)
        .where(F.abs(F.col("__u")) == F.col("__k"))
        .groupBy(group_col)
        .agg(F.min("x").alias("__cp"))
    )
    kd = F.col("__k").cast("double")
    td = F.col("__t").cast("double")
    p = F.least(
        F.lit(2.0)
        * F.exp(
            F.lit(-6.0) * kd * kd / (td * td * td + td * td)
        ),
        F.lit(1.0),
    )
    ok = (F.col("__t") >= 2) & F.col("__k").isNotNull()
    return (
        tot.join(stats, group_col, "left")
        .join(cp, group_col, "left")
        .select(
            group_col,
            F.col("__t").alias("n_days"),
            F.when(ok, F.col("__k")).alias("k_stat"),
            F.when(ok, F.col("__cp")).alias("cp_day"),
            F.when(ok, p).alias("p_value"),
            F.when(ok, p < F.lit(0.05)).alias("significant"),
        )
    )


def volume_runs_test(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Wald-Wolfowitz runs test per slice — the RANDOMNESS audit of
    the daily-volume series around its own median (ACF measures
    linear memory at fixed lags; the runs test catches ANY
    clustering or alternation: too FEW runs = regime clumping, too
    MANY = oscillation). Days are labeled above/below the per-group
    median (median-equal days dropped, the standard convention) and

        R  = number of maximal same-label runs in day order,
        mu = 2 n1 n0 / n + 1,
        var = 2 n1 n0 (2 n1 n0 - n) / (n^2 (n - 1)),
        z  = (R - mu) / sqrt(var)      (|z| > 1.96: non-random)

    Exactness: the median is the DOUBLED integer dmed = v(ceil(n/2))
    + v(floor(n/2)+1) off the per-group volume-value histogram (the
    brown_forsythe rule — even-n averaging never leaves the
    integers; labels compare 2y vs dmed), R / n1 / n0 are exact
    BIGINTs from one lag window over the day table, and z is ONE
    closed float expression of them — replayable by any SQL engine,
    identical at any parallelism.

    Scale shape: one raw scan into (group, day) counts; histogram
    rollup over distinct volume values; one day-table lag window.
    Days with no rows are not zero-filled (the volume_trend
    convention). Output: (group, n_days, n_above, n_below, runs, z,
    nonrandom); z NULL when either side is empty or var = 0."""
    # feeds the histogram AND the labeled sequence — scan once
    daily = _daily(df, [group_col], ts_col).localCheckpoint(eager=True)
    hist = _value_ranks(daily, [group_col])
    tot = daily.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__nd")
    )
    ranks = tot.select(
        group_col,
        "__nd",
        F.expr("(__nd + 1) DIV 2").alias("__rlo"),
        F.expr("__nd DIV 2 + 1").alias("__rhi"),
    )
    less, upto = F.col("__less"), F.col("__less") + F.col("__c")
    med = (
        hist.join(ranks, group_col)
        .groupBy(group_col, "__nd")
        .agg(
            (
                F.min(
                    F.when(
                        (upto >= F.col("__rlo")) & (less < F.col("__rlo")),
                        F.col("y"),
                    )
                )
                + F.min(
                    F.when(
                        (upto >= F.col("__rhi")) & (less < F.col("__rhi")),
                        F.col("y"),
                    )
                )
            ).alias("__dmed")
        )
    )
    dy = F.lit(2).cast("bigint") * F.col("y")
    seq = (
        daily.join(med, group_col)
        .where(dy != F.col("__dmed"))
        .select(
            group_col,
            "__nd",
            "x",
            (dy > F.col("__dmed")).cast("bigint").alias("b"),
        )
    )
    wd = W.partitionBy(group_col).orderBy("x")
    lab = seq.select(
        group_col,
        "__nd",
        "b",
        F.lag("b").over(wd).alias("__pb"),
    )
    g = lab.groupBy(group_col).agg(
        F.max("__nd").alias("__ndays"),
        F.sum("b").alias("__n1"),
        F.sum(F.lit(1) - F.col("b")).alias("__n0"),
        F.sum(
            F.when(
                F.col("__pb").isNull()
                | (F.col("b") != F.col("__pb")),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("__r"),
    )
    n1 = F.col("__n1").cast("double")
    n0 = F.col("__n0").cast("double")
    n = n1 + n0
    mu = F.lit(2.0) * n1 * n0 / n + F.lit(1.0)
    var = (
        F.lit(2.0)
        * n1
        * n0
        * (F.lit(2.0) * n1 * n0 - n)
        / (n * n * (n - F.lit(1.0)))
    )
    z = (F.col("__r").cast("double") - mu) / F.sqrt(var)
    ok = (F.col("__n1") > 0) & (F.col("__n0") > 0) & (var > 0)
    out = (
        tot.join(g, group_col, "left")
        .select(
            group_col,
            F.col("__nd").alias("n_days"),
            F.col("__n1").alias("n_above"),
            F.col("__n0").alias("n_below"),
            F.col("__r").alias("runs"),
            F.when(ok, z).alias("z"),
            F.when(ok, F.abs(z) > F.lit(1.959963984540054)).alias(
                "nonrandom"
            ),
        )
    )
    return out


def volume_hurst(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    min_block: int = 8,
    unit: int = 10**12,
) -> DataFrame:
    """Hurst exponent of the daily-volume series per slice via
    classical rescaled-range (R/S) analysis — the LONG-MEMORY
    readout beside the fixed-lag ACF (H ~ 0.5: no memory; H -> 1:
    persistent trends; H -> 0: mean-reverting), Mandelbrot-Wallis
    style: for each dyadic block size m (min_block, 2*min_block, ...
    while at least 2 full blocks fit), split the day-ORDERED series
    into full blocks and compute

        R/S = (max_j W_j - min_j W_j) / (m * S_block),
        W_j = sum_{i<=j} (y_i - mean),   H = slope of
        mean-ln(R/S) against ln(m) over the sizes.

    Exactness, the house way: deviations are scaled by m
    (d_i = m*y_i - S, exact BIGINT), so the cumulative walk W and
    its range R_int are exact integers and R/S collapses to
    R_int * sqrt(m) / sqrt(sum d_i^2) — ONE float expression per
    block of three exact integers. Per-block ln(R/S) is quantized
    to integer 1/``unit`` units before the per-size sum; per-size
    mean-lns are re-quantized (1e6 sub-units) so the final OLS over
    the handful of size rows runs on exact DECIMAL sums — identical
    at any parallelism, replayable by any SQL engine. Constant
    blocks (zero variance) are excluded.

    Scale shape: one raw scan into (group, day) counts; a
    row-number window per group; the block table is |days| x
    |sizes| (sizes ~ log2(T), so ~10x the day table, never
    row-sized); per-block windows, then size rows, then one row per
    group. Output: (group, n_days, n_sizes, hurst); hurst NULL
    below 2 usable sizes."""
    dec = "decimal(38,0)"
    daily = _daily(df, [group_col], ts_col)
    wrn = W.partitionBy(group_col).orderBy("x")
    seq = daily.select(
        group_col,
        "y",
        F.row_number().over(wrn).cast("bigint").alias("rn"),
    ).localCheckpoint(eager=True)  # feeds tot AND the size join
    tot = seq.groupBy(group_col).agg(
        F.max("rn").alias("__t")
    )
    sizes = (
        tot.select(
            group_col,
            "__t",
            F.explode(F.sequence(F.lit(0), F.lit(40))).alias("j"),
        )
        .select(
            group_col,
            "__t",
            (
                F.lit(int(min_block)).cast("bigint")
                * F.expr(
                    "shiftleft(cast(1 as bigint), cast(j as int))"
                )
            ).alias("m"),
        )
        .where(F.col("m") * 2 <= F.col("__t"))
    )
    blk = (
        seq.join(sizes, group_col)
        .where(
            F.expr("(rn - 1) DIV m") < F.expr("__t DIV m")
        )
        .select(
            group_col,
            "m",
            F.expr("(rn - 1) DIV m").alias("b"),
            "rn",
            "y",
        )
    )
    wb = W.partitionBy(group_col, "m", "b")
    wc = (
        W.partitionBy(group_col, "m", "b")
        .orderBy("rn")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    d = (F.col("m") * F.col("y") - F.sum("y").over(wb)).alias("d")
    dd = blk.select(group_col, "m", "b", "rn", d)
    walked = dd.select(
        group_col,
        "m",
        "b",
        "d",
        F.sum("d").over(wc).alias("w"),
    )
    per_block = walked.groupBy(group_col, "m", "b").agg(
        (F.max("w") - F.min("w")).alias("__r"),
        F.sum(
            F.col("d").cast(dec) * F.col("d").cast(dec)
        ).alias("__sd2"),
    )
    rs = (
        F.col("__r").cast("double")
        * F.sqrt(F.col("m").cast("double"))
        / F.sqrt(F.col("__sd2").cast("double"))
    )
    u = F.lit(float(unit))
    per_size = (
        per_block.where(F.col("__sd2") > 0)
        .groupBy(group_col, "m")
        .agg(
            F.sum(
                F.floor(F.log(rs) * u).cast(dec)
            ).alias("__ys"),
            F.count(F.lit(1)).cast("bigint").alias("__bn"),
        )
    )
    pts = per_size.select(
        group_col,
        F.floor(
            F.log(F.col("m").cast("double")) * u
        ).cast(dec).alias("__xq"),
        F.floor(
            F.col("__ys").cast("double")
            / F.col("__bn").cast("double")
            * F.lit(1e6)
        ).cast(dec).alias("__yq"),
    )
    reg = pts.groupBy(group_col).agg(
        F.count(F.lit(1)).cast(dec).alias("__np"),
        F.sum("__xq").alias("__sx"),
        F.sum("__yq").alias("__sy"),
        F.sum(F.col("__xq") * F.col("__yq")).alias("__sxy"),
        F.sum(F.col("__xq") * F.col("__xq")).alias("__sxx"),
    )
    den = F.col("__np") * F.col("__sxx") - F.col("__sx") * F.col(
        "__sx"
    )
    num = F.col("__np") * F.col("__sxy") - F.col("__sx") * F.col(
        "__sy"
    )
    hurst = num.cast("double") / den.cast("double") * F.lit(1e-6)
    ok = (F.col("__np") >= 2) & (den > 0)
    return (
        tot.join(reg, group_col, "left")
        .select(
            group_col,
            F.col("__t").alias("n_days"),
            F.coalesce(
                F.col("__np").cast("bigint"), F.lit(0)
            ).alias("n_sizes"),
            F.when(ok, hurst).alias("hurst"),
        )
    )


def weekday_friedman(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Friedman rank test of the weekday effect per slice — the
    NONPARAMETRIC companion to weekday_anova (the F test assumes
    within-week noise is Gaussian and homoscedastic; Friedman only
    asks "does the same weekday keep ranking high WITHIN its own
    week?", immune to level shifts across weeks that inflate the
    ANOVA's within-bin variance). Blocks are complete calendar
    weeks (epoch-day DIV 7 with all 7 days present), treatments the
    7 weekdays, ranks computed within each week:

        chi2 = (k-1) sum_j (R_j - n(k+1)/2)^2 / (A - n k (k+1)^2/4)

    (the tie-corrected form; k = 7, n = complete weeks, R_j rank
    sums, A = sum of squared ranks). Exactness: midranks are
    DOUBLED (dmid = 2*less + ties + 1 off the within-week value
    histogram — even-split averaging never leaves the integers), so
    rank sums and A are exact BIGINT/DECIMAL and the doubling
    cancels between numerator and denominator:

        chi2 = 6 sum_j (R2_j - 8n)^2 / (A4 - 448 n)

    — one float division. p uses the df = 6 even-dof closed form
    p = exp(-h)(1 + h + h^2/2), h = chi2/2. Replayable by any SQL
    engine, identical at any parallelism.

    Scale shape: one raw scan into (group, day) counts; block
    histograms and ranks run on day-table rows; then 7 weekday rows
    and one row per group. Output: (group, n_weeks, chi2, p_value,
    significant); NULL statistics when no complete week or every
    week is all-tied."""
    dec = "decimal(38,0)"
    slices, rows = _week_ranks(df, group_col, ts_col)
    per_wd = rows.groupBy(group_col, "wd").agg(
        F.sum("__d").alias("__r2")
    )
    per_g = rows.groupBy(group_col).agg(
        F.countDistinct("wk").cast(dec).alias("__n"),
        F.sum(F.col("__d") * F.col("__d")).alias("__a4"),
    )
    j = per_wd.join(per_g, group_col)
    dev = F.col("__r2") - F.lit(8).cast(dec) * F.col("__n")
    s = j.groupBy(group_col).agg(
        F.sum(dev * dev).alias("__s"),
        F.max("__n").alias("__n"),
        F.max("__a4").alias("__a4"),
    )
    den = F.col("__a4") - F.lit(448).cast(dec) * F.col("__n")
    chi2 = (F.lit(6).cast(dec) * F.col("__s")).cast(
        "double"
    ) / den.cast("double")
    h = chi2 / F.lit(2.0)
    p = F.exp(-h) * (
        F.lit(1.0) + h + h * h / F.lit(2.0)
    )
    ok = (F.col("__n") >= 1) & (den > 0)
    return (
        slices.join(s, group_col, "left")
        .select(
            group_col,
            F.coalesce(
                F.col("__n").cast("bigint"), F.lit(0)
            ).alias("n_weeks"),
            F.when(ok, chi2).alias("chi2"),
            F.when(ok, p).alias("p_value"),
            F.when(ok, p < F.lit(0.05)).alias("significant"),
        )
    )


def topk_churn(
    df: DataFrame,
    entity_col: str,
    ts_col: str = "ts",
    k: int = 20,
) -> DataFrame:
    """Day-over-day churn of the top-k entity set (by daily event
    count) — the heavy-hitter STABILITY readout: a pipeline whose
    top-20 users/domains/documents turn over 80% every day has a
    crawl/dedup problem long before any aggregate drifts.

    Per day, the top-k entities are the DETERMINISTIC head of
    (count DESC, entity ASC); for every consecutive-day pair
    (gaps in the calendar are NOT paired — a missing day breaks the
    chain, the volume_trend convention):

        jaccard = |A ∩ B| / |A ∪ B|,    churn = 1 - jaccard,
        entered = |B \\ A|,  left = |A \\ B|

    Everything is exact integer set algebra off one per-day rank
    window (the window runs over day x entity COUNTS, never raw
    rows); jaccard/churn are one division each. Output: one row per
    paired day (day_a, day_b, n_a, n_b, overlap, entered, left,
    jaccard, churn), day = epoch day."""
    daily = _daily(df, [entity_col], ts_col).select(
        "x", F.col(entity_col).alias("e"), "y"
    )
    wd = W.partitionBy("x").orderBy(
        F.col("y").desc(), F.col("e").asc()
    )
    top = (
        daily.select(
            "x", "e", F.row_number().over(wd).alias("__r")
        )
        .where(F.col("__r") <= int(k))
        # feeds both sides of the consecutive-day join + sizes
        .localCheckpoint(eager=True)
    )
    sz = top.groupBy("x").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # pair day x with day x+1 via a pure equi-join on (day, entity)
    a = top.select(F.col("x").alias("day_a"), F.col("e"))
    b = top.select(
        (F.col("x") - F.lit(1)).cast("bigint").alias("day_a"),
        F.col("e"),
        F.col("x").alias("day_b"),
    )
    ov = (
        a.join(b, ["day_a", "e"])
        .groupBy("day_a", "day_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("overlap"))
    )
    pairs = (
        sz.alias("sa")
        .join(
            sz.alias("sb"),
            F.col("sb.x") == F.col("sa.x") + 1,
        )
        .select(
            F.col("sa.x").alias("day_a"),
            F.col("sb.x").alias("day_b"),
            F.col("sa.n").alias("n_a"),
            F.col("sb.n").alias("n_b"),
        )
        .join(ov, ["day_a", "day_b"], "left")
        .select(
            "day_a",
            "day_b",
            "n_a",
            "n_b",
            F.coalesce(F.col("overlap"), F.lit(0)).alias(
                "overlap"
            ),
        )
    )
    uni = F.col("n_a") + F.col("n_b") - F.col("overlap")
    jac = F.col("overlap").cast("double") / uni.cast("double")
    return pairs.select(
        "day_a",
        "day_b",
        "n_a",
        "n_b",
        "overlap",
        (F.col("n_b") - F.col("overlap")).alias("entered"),
        (F.col("n_a") - F.col("overlap")).alias("left"),
        F.when(uni > 0, jac).alias("jaccard"),
        F.when(uni > 0, F.lit(1.0) - jac).alias("churn"),
    )


def entropy_rate(
    df: DataFrame,
    entity: str = "user_id",
    state_col: str = "event_type",
    order_cols: Sequence[str] = ("ts", "event_id"),
    unit: int = 10**9,
) -> DataFrame:
    """Empirical entropy RATE of the corpus state chain — how many
    nats of genuine novelty each transition carries, the one-number
    complement to the per-day mix entropy (state_entropy asks "how
    diverse is the mix?"; this asks "given where journeys ARE, how
    predictable is the next step?" — a corpus can have maximal mix
    entropy yet near-zero rate when journeys are deterministic
    loops, the classic bot signature):

        H = - sum_ab (c_ab / T) ln(c_ab / c_a),
        perplexity = e^H  (effective branching factor)

    the MLE plug-in rate with visit weights c_a / T. Exactness, the
    house rule shared with transition_score: counts are exact
    integers off the same single entity-exchange lag-pair stream;
    each pair's ln(c_ab / c_a) is quantized to integer 1/``unit``
    units and the corpus sum accumulates c_ab * lnq exactly in
    DECIMAL(38,0) (a float sum over pairs would drift with
    partial-aggregation order); ONE division at the end.

    Output: ONE row (n_transitions, n_from_states, entropy_nats,
    perplexity); NULL statistics when no transitions exist."""
    dec = "decimal(38,0)"
    w = W.partitionBy(entity).orderBy(
        *[F.col(c) for c in order_cols]
    )
    pairs = df.select(
        F.col(entity),
        F.lag(state_col).over(w).alias("__a"),
        F.col(state_col).alias("__b"),
    ).where(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    counts = (
        pairs.groupBy("__a", "__b")
        .agg(F.count(F.lit(1)).cast(dec).alias("__cab"))
        # |states|^2 rows feed the row-sum rollup AND the final
        # join; without the cut the entity exchange runs twice
        .localCheckpoint(eager=True)
    )
    fromtot = counts.groupBy("__a").agg(
        F.sum("__cab").alias("__ca")
    )
    u = F.lit(float(unit))
    lnq = F.floor(
        F.log(
            F.col("__cab").cast("double")
            / F.col("__ca").cast("double")
        )
        * u
    ).cast(dec)
    g = (
        counts.join(fromtot, "__a")
        .agg(
            F.sum("__cab").alias("__t"),
            F.count_distinct(F.col("__a")).cast("bigint").alias(
                "__s"
            ),
            F.sum(F.col("__cab") * lnq).alias("__sum"),
        )
    )
    t = F.col("__t")
    h = -F.col("__sum").cast("double") / (t.cast("double") * u)
    ok = t > 0
    return g.select(
        t.cast("bigint").alias("n_transitions"),
        F.col("__s").alias("n_from_states"),
        F.when(ok, h).alias("entropy_nats"),
        F.when(ok, F.exp(h)).alias("perplexity"),
    )


def weekday_page(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Page's L trend test for an ORDERED weekday alternative per
    slice — the directional member of the within-week rank family:
    Friedman asks "does SOME weekday differ?"; Page asks "do daily
    volumes RISE monotonically across the week (Mon < Tue < ... <
    Sun)?", and pays for the stronger hypothesis with more power
    against exactly that ordering. Same block machinery as
    weekday_friedman (complete epoch weeks, doubled within-week
    midranks off block value histograms — every sum exact):

        L  = sum_j m_j R_j   (m_j = 1..7 the hypothesized order),
        z  = (L - n k (k+1)^2 / 4)
             / sqrt(n k^2 (k+1) (k^2 - 1) / 144)

    computed on DOUBLED rank sums (L2 = 2L exact DECIMAL(38,0);
    k = 7 pins the null moments to E[L2] = 224 n and
    Var[L2] = 4 * 392 n / 3). The variance is the standard NO-TIE
    form; midranks under ties shrink the true variance, so z is
    (slightly) conservative — the conventional treatment. One-sided
    5% verdict (z > 1.6448536269514722); test the REVERSE ordering
    by negating z.

    Output: (group, n_weeks, l_stat, z, significant); NULL
    statistics when no complete week exists."""
    dec = "decimal(38,0)"
    slices, rows = _week_ranks(df, group_col, ts_col)
    s = rows.groupBy(group_col).agg(
        F.countDistinct("wk").cast(dec).alias("__n"),
        F.sum(
            (F.col("wd").cast(dec) + F.lit(1).cast(dec))
            * F.col("__d")
        ).alias("__l2"),
    )
    nd = F.col("__n").cast("double")
    l2d = F.col("__l2").cast("double")
    z = (l2d - F.lit(224.0) * nd) / (
        F.lit(2.0)
        * F.sqrt(F.lit(392.0) * nd / F.lit(3.0))
    )
    ok = F.col("__n") >= 1
    return (
        slices.join(s, group_col, "left")
        .select(
            group_col,
            F.coalesce(
                F.col("__n").cast("bigint"), F.lit(0)
            ).alias("n_weeks"),
            F.when(ok, l2d / F.lit(2.0)).alias("l_stat"),
            F.when(ok, z).alias("z"),
            F.when(ok, z > F.lit(1.6448536269514722)).alias(
                "significant"
            ),
        )
    )


def durbin_watson(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    unit: int = 10**6,
) -> DataFrame:
    """Durbin-Watson autocorrelation-of-residuals test on each
    slice's daily volume series, detrended by its own OLS line —
    the "is anything LEFT after the trend?" audit that closes the
    regression family (volume_trend fits the line; DW asks whether
    the residuals still carry day-to-day memory, the signature of
    weekly rhythm, campaigns or regime changes the line can't
    absorb):

        DW = sum_t (e_t - e_{t-1})^2 / sum_t e_t^2   in [0, 4],
        e_t = y_t - (a + b t),   DW ~ 2 (1 - rho_1)

    Exactness, the house way: the OLS coefficients come from exact
    integer moments (n, St, Sy, Stt, Sty); each residual is
    quantized ONCE to integer 1/``unit`` units (floor(e * unit)),
    and both DW sums then accumulate exact DECIMAL(38,0) integers —
    order-independent at any parallelism, one float division at the
    end. Verdict: the conventional rule-of-thumb bounds (DW < 1.5
    positive autocorrelation, DW > 2.5 negative; exact critical
    values depend on n and are table-bound) — a literal compare,
    identical in the SQL oracle. Days are the OBSERVED days in
    order; calendar gaps are treated as consecutive steps (the
    standard practice for DW on irregular series — document gaps
    with the interarrival kernel instead).

    Output: (group, n_days, slope, dw, rho1, verdict) — verdict in
    ('positive', 'none', 'negative'); NULL statistics when fewer
    than 3 days or a zero residual vector (perfect line)."""
    dec = "decimal(38,0)"
    # day rows feed the moment rollup AND the residual join — cut the
    # lineage so the raw scan runs once
    days = _daily(df, [group_col], ts_col).select(
        group_col, "x", "y", _since_first(group_col)
    ).localCheckpoint(eager=True)
    res = _detrend(days, group_col, unit).select(
        group_col, "x", "__n", F.col("__b").alias("slope"), "__d"
    )
    wlag = W.partitionBy(group_col).orderBy("x")
    diff = res.withColumn(
        "__dd", F.col("__d") - F.lag("__d").over(wlag)
    )
    g = diff.groupBy(group_col).agg(
        F.max("__n").alias("__n"),
        F.max("slope").alias("slope"),
        F.sum(F.col("__d") * F.col("__d")).alias("__den"),
        F.sum(F.col("__dd") * F.col("__dd")).alias("__num"),
    )
    ok = (
        (F.col("__n") >= F.lit(3).cast(dec))
        & (F.col("__den") > 0)
    )
    dw = F.col("__num").cast("double") / F.col("__den").cast(
        "double"
    )
    verdict = F.when(dw < 1.5, F.lit("positive")).when(
        dw > 2.5, F.lit("negative")
    ).otherwise(F.lit("none"))
    return g.select(
        group_col,
        F.col("__n").cast("bigint").alias("n_days"),
        "slope",
        F.when(ok, dw).alias("dw"),
        F.when(ok, F.lit(1.0) - dw / F.lit(2.0)).alias("rho1"),
        F.when(ok, verdict).alias("verdict"),
    )


def seasonal_strength(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    unit: int = 10**6,
) -> DataFrame:
    """STL-style trend / seasonal STRENGTH decomposition of each
    slice's daily volume series (Hyndman's F_T / F_S readouts) —
    one number each for "how much of this series is trend?" and
    "how much is weekly rhythm?", the triage layer above the
    dedicated tests (weekday ANOVA / Friedman say IS there rhythm;
    this says how much of the variance it owns):

        y_t = T_t + S_wd(t) + R_t,
        F_T = max(0, 1 - Var(R) / Var(T + R)),
        F_S = max(0, 1 - Var(R) / Var(S + R))

    with T the slice's own OLS line (exact integer moments), S the
    weekday means of the detrended series, R the remainder. The
    decomposition is quantized ONCE: detrended values d_t =
    floor((y_t - T_t) * unit) are exact integers, each weekday
    effect is the floor'd integer mean of its d_t, so R_t and
    (y*unit - S) are exact integers too and every variance is a
    ratio of exact DECIMAL(38,0) cross-products (the 1/n^2
    normalizations cancel in each ratio — one float division per
    strength). Peak/trough weekdays come from the integer seasonal
    effects (ties -> smallest weekday index).

    Output: (group, n_days, slope, trend_strength,
    seasonal_strength, peak_wd, trough_wd); strengths NULL when the
    slice has < 14 days or a degenerate variance. Weekday index is
    epoch-based (0 = Thursday)."""
    dec = "decimal(38,0)"
    det, swd = _weekday_detrend(
        df, group_col, ts_col, unit,
        F.col("__b").alias("slope"),
        (F.col("y") * F.lit(unit)).cast(dec).alias("__yu"),
    )
    peaks = swd.groupBy(group_col).agg(
        F.max(
            F.struct(
                F.col("__s").alias("s"),
                (-F.col("wd")).alias("k"),
            )
        ).alias("__pk"),
        F.min(
            F.struct(
                F.col("__s").alias("s"), F.col("wd").alias("k")
            )
        ).alias("__tr"),
    )
    rows = det.join(swd, [group_col, "wd"]).select(
        group_col,
        "slope",
        "__d",
        (F.col("__d") - F.col("__s")).alias("__r"),
        (F.col("__yu") - F.col("__s")).alias("__ta"),
    )
    g = rows.groupBy(group_col).agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.max("slope").alias("slope"),
        F.sum("__d").alias("__sd"),
        F.sum(F.col("__d") * F.col("__d")).alias("__sdd"),
        F.sum("__r").alias("__sr"),
        F.sum(F.col("__r") * F.col("__r")).alias("__srr"),
        F.sum("__ta").alias("__sta"),
        F.sum(F.col("__ta") * F.col("__ta")).alias("__staa"),
    )
    n = F.col("__n")
    var_r = n * F.col("__srr") - F.col("__sr") * F.col("__sr")
    var_sr = n * F.col("__sdd") - F.col("__sd") * F.col("__sd")
    var_tr = n * F.col("__staa") - F.col("__sta") * F.col("__sta")
    fs = F.greatest(
        F.lit(1.0)
        - var_r.cast("double")
        / F.when(var_sr > 0, var_sr).cast("double"),
        F.lit(0.0),
    )
    ft = F.greatest(
        F.lit(1.0)
        - var_r.cast("double")
        / F.when(var_tr > 0, var_tr).cast("double"),
        F.lit(0.0),
    )
    ok = n >= F.lit(14).cast(dec)
    return g.join(peaks, group_col).select(
        group_col,
        n.cast("bigint").alias("n_days"),
        "slope",
        F.when(ok, ft).alias("trend_strength"),
        F.when(ok, fs).alias("seasonal_strength"),
        F.when(ok, -F.col("__pk")["k"]).cast("bigint").alias(
            "peak_wd"
        ),
        F.when(ok, F.col("__tr")["k"]).cast("bigint").alias(
            "trough_wd"
        ),
    )


def holt_winters(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
) -> DataFrame:
    """Per-slice additive Holt-Winters (triple exponential)
    smoothing of the daily-volume series with a WEEKLY season —
    the forecaster the monitor family was missing: EWMA carries
    level, Holt adds trend, Holt-Winters adds the 7-day rhythm the
    weekday gates keep detecting, so its one-step forecast stops
    lagging every Monday:

        l_t = alpha (y_t - s_{wd(t)}) + (1 - alpha)(l_{t-1} + b_{t-1})
        b_t = beta (l_t - l_{t-1}) + (1 - beta) b_{t-1}
        s_wd(t) <- gamma (y_t - l_t) + (1 - gamma) s_{wd(t)}

    Seasonal slots are keyed by TRUE epoch weekday (x mod 7), not
    array position, so a calendar gap cannot shift the rhythm.
    Classic init off the first two observed weeks: l0 = mean of
    days 1..7, b0 = (mean of days 8..14 - mean of days 1..7) / 7,
    s_wd = (last of days 1..7 hitting wd) - l0 (0 for a weekday
    absent from the init week — only possible with gaps). The fold
    runs from day 8; one-step errors from day 15 (the first
    forecast made with every state warm) accumulate sse/sae inside
    the same fold. Only +, -, *, / on IEEE doubles — a SQL engine
    replaying the recursion reproduces every state bit for bit (the
    holt_trend contract); the state rides one Catalyst higher-order
    ``aggregate`` over the calendar-bounded sorted series — zero
    Python, zero extra shuffle, the array update is a slice-concat.

    Output: (group, n_days, level, trend, season array of 7 doubles
    indexed by epoch weekday, forecast, rmse, mae); level/trend/
    season/forecast NULL below 14 days, rmse/mae NULL below 15."""
    g = _series(df, group_col, ts_col)
    n = F.col("n_days")

    def _wsum(lo, cnt):
        return F.aggregate(
            F.slice(F.col("series"), F.lit(lo), F.lit(cnt)),
            F.lit(0.0),
            lambda acc, e: acc + e["y"].cast("double"),
        )

    l0 = _wsum(1, 7) / F.lit(7.0)
    b0 = (_wsum(8, 7) - _wsum(1, 7)) / F.lit(49.0)

    def _slot(p):
        # last of the init week hitting weekday p (0 if absent)
        return F.aggregate(
            F.slice(F.col("series"), F.lit(1), F.lit(7)),
            F.lit(0.0),
            lambda acc, e: F.when(
                F.pmod(e["x"], F.lit(7)) == F.lit(p),
                e["y"].cast("double") - l0,
            ).otherwise(acc),
        )

    s0 = F.array(*[_slot(p) for p in range(7)])
    init = F.struct(
        l0.alias("l"),
        b0.alias("b"),
        s0.alias("s"),
        F.lit(0.0).alias("sse"),
        F.lit(0.0).alias("sae"),
        F.lit(0).cast("bigint").alias("k"),
    )
    al, ac = F.lit(float(alpha)), F.lit(1.0 - float(alpha))
    be, bc = F.lit(float(beta)), F.lit(1.0 - float(beta))
    ga, gc = F.lit(float(gamma)), F.lit(1.0 - float(gamma))

    def step(acc, e):
        yd = e["y"].cast("double")
        p = F.pmod(e["x"], F.lit(7))
        sp = F.element_at(acc["s"], (p + 1).cast("int"))
        pred = acc["l"] + acc["b"] + sp
        err = yd - pred
        l2 = al * (yd - sp) + ac * (acc["l"] + acc["b"])
        b2 = be * (l2 - acc["l"]) + bc * acc["b"]
        s2p = ga * (yd - l2) + gc * sp
        s2 = F.concat(
            F.slice(acc["s"], F.lit(1), p.cast("int")),
            F.array(s2p),
            F.slice(
                acc["s"],
                (p + 2).cast("int"),
                (F.lit(6) - p).cast("int"),
            ),
        )
        warm = acc["k"] >= F.lit(7)
        return F.struct(
            l2.alias("l"),
            b2.alias("b"),
            s2.alias("s"),
            F.when(warm, acc["sse"] + err * err)
            .otherwise(acc["sse"])
            .alias("sse"),
            F.when(warm, acc["sae"] + F.abs(err))
            .otherwise(acc["sae"])
            .alias("sae"),
            (acc["k"] + F.lit(1).cast("bigint")).alias("k"),
        )

    tail = F.slice(
        F.col("series"),
        F.lit(8),
        F.greatest(F.size("series") - 7, F.lit(0)),
    )
    acc = F.aggregate(tail, init, step)
    last_x = F.element_at("series", F.size("series"))["x"]
    nxt = (F.pmod(last_x + 1, F.lit(7)) + 1).cast("int")
    fc = acc["l"] + acc["b"] + F.element_at(acc["s"], nxt)
    nf = (n - 14).cast("double")
    ok = n >= 14
    okf = n >= 15
    return g.select(
        group_col,
        "n_days",
        F.when(ok, acc["l"]).alias("level"),
        F.when(ok, acc["b"]).alias("trend"),
        F.when(ok, acc["s"]).alias("season"),
        F.when(ok, fc).alias("forecast"),
        F.when(okf, F.sqrt(acc["sse"] / nf)).alias("rmse"),
        F.when(okf, acc["sae"] / nf).alias("mae"),
    )


def calendar_coverage(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Calendar completeness audit per slice — which series have
    HOLES (feed outages, dropped partitions, backfill debt), read
    straight off the observed day list: consecutive observed days
    d_prev -> d contribute gap = days(d - d_prev) - 1 missing days,
    so span, missing total and the LONGEST outage all come from one
    lag window over per-slice day rows — no generated calendar, no
    join against a date dimension (at web scale the date dimension
    is the cheap part; this avoids even that).

    Output: one row per slice (group, first_day, last_day as
    epoch-day BIGINTs — the topk_churn convention — plus span_days,
    observed_days, missing_days, longest_gap, coverage) with
    coverage = observed / span as one exact-integer division;
    longest_gap 0 for a complete series."""
    w = W.partitionBy(group_col).orderBy("x")
    gaps = _daily(df, [group_col], ts_col).select(
        group_col,
        "x",
        (F.col("x") - F.lag("x").over(w) - F.lit(1)).alias("__gap"),
    )
    g = gaps.groupBy(group_col).agg(
        F.min("x").alias("first_day"),
        F.max("x").alias("last_day"),
        F.count(F.lit(1)).cast("bigint").alias("observed_days"),
        F.coalesce(
            F.sum("__gap").cast("bigint"), F.lit(0)
        ).alias("missing_days"),
        F.coalesce(
            F.max("__gap").cast("bigint"), F.lit(0)
        ).alias("longest_gap"),
    )
    span = (
        F.col("last_day") - F.col("first_day") + F.lit(1)
    ).cast("bigint")
    return g.select(
        group_col,
        "first_day",
        "last_day",
        span.alias("span_days"),
        "observed_days",
        "missing_days",
        F.greatest(F.col("longest_gap"), F.lit(0).cast("bigint")
                   ).alias("longest_gap"),
        (
            F.col("observed_days").cast("double")
            / span.cast("double")
        ).alias("coverage"),
    )


def anomaly_days(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    unit: int = 10**6,
    z_crit: float = 3.0,
) -> DataFrame:
    """Seasonally-adjusted daily anomaly report per slice — WHICH
    days broke, after the trend and the weekly rhythm are accounted
    for (a raw-volume monitor pages every Sunday; this one only
    pages when a day deviates from its own weekday's expectation
    on its slice's own trend):

        y_t = T_t + S_wd(t) + R_t,    z_t = R_t / sd(R),
        anomaly  <=>  |z_t| > ``z_crit``

    using the seasonal_strength decomposition verbatim (OLS line
    from exact integer moments, floor'd integer weekday effects,
    remainder exact in 1/``unit`` units) and the population sd of R
    from exact DECIMAL cross-products — one float division per day,
    identical in the SQL oracle.

    Output: flagged days only (group, day epoch BIGINT, volume,
    expected, z), ordered by |R| descending within a slice by
    construction of the caller's sort; empty when the slice is
    clean or shorter than 14 days."""
    dec = "decimal(38,0)"
    u = F.lit(float(unit))
    det, swd = _weekday_detrend(df, group_col, ts_col, unit, "x", "y")
    rows = det.join(swd, [group_col, "wd"]).select(
        group_col,
        "x",
        "y",
        (F.col("__d") - F.col("__s")).alias("__r"),
    )
    g = rows.groupBy(group_col).agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.sum("__r").alias("__sr"),
        F.sum(F.col("__r") * F.col("__r")).alias("__srr"),
    )
    nn = F.col("__n")
    var2 = nn * F.col("__srr") - F.col("__sr") * F.col("__sr")
    sd = F.sqrt(
        F.when(var2 > 0, var2).cast("double")
    ) / nn.cast("double")
    thresh = g.select(
        group_col,
        nn.alias("__nn"),
        sd.alias("__sd"),
    )
    j = rows.join(F.broadcast(thresh), group_col)
    rd = F.col("__r").cast("double") / u
    # z in integer units: residual and sd carry the same 1/unit
    # scale, so it cancels exactly
    z = F.col("__r").cast("double") / F.col("__sd")
    return (
        j.where(
            (F.col("__nn") >= F.lit(14).cast(dec))
            & F.col("__sd").isNotNull()
            & (F.abs(z) > F.lit(float(z_crit)))
        )
        .select(
            group_col,
            F.col("x").alias("day"),
            F.col("y").alias("volume"),
            (F.col("y").cast("double") - rd).alias("expected"),
            z.alias("z"),
        )
    )


def burst_intervals(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    s: float = 3.0,
    gamma: float = 1.0,
) -> DataFrame:
    """Kleinberg-style burst detection on each slice's daily volume
    — the INTERVAL-emitting member of the monitor family (EWMA and
    CUSUM flag days; this one runs the 2-state optimal segmentation
    and says "the burst STARTED here and ENDED there"): a hidden
    2-state chain with Poisson emissions at the base rate lambda0 =
    mean daily count and the burst rate lambda1 = ``s`` * lambda0,
    entering the burst state costs ``gamma`` * ln T (Kleinberg's
    transition penalty), and the Viterbi-optimal state path is
    decoded exactly:

        cost_t(i) = lambda_i - r_t ln lambda_i   (constant terms
                    state-independent, dropped),
        c1 <- min(c0 + gamma ln T, c1) + cost_t(1)
        c0 <- min(c0, c1) + cost_t(0)

    with ties resolved toward STAYING in the current state (strict
    < to switch) — fully deterministic. Both candidate paths carry
    their state history as an int array inside one Catalyst
    aggregate fold (the holt_winters contract: only +,-,*,/,ln on
    IEEE doubles, so a SQL engine replays every cost and therefore
    every decision bit for bit); the winning history is exploded
    and runs of 1s become intervals via the standard
    change-point-counter window.

    Cost shape: the history arrays make the fold O(T^2) in DAYS PER
    SLICE (T ~ hundreds for a year), constant in rows. Output: one
    row per burst (group, start_day, end_day epoch BIGINTs,
    n_days, volume, expected, intensity = volume/expected); empty
    when a slice never enters the burst state (or < 2 days)."""
    g = _series(
        df, group_col, ts_col, F.sum("y").cast("bigint").alias("__tot")
    )
    n = F.col("n_days")
    lam0 = F.col("__tot").cast("double") / n.cast("double")
    lam1 = F.lit(float(s)) * lam0
    pen = F.lit(float(gamma)) * F.log(n.cast("double"))
    init = F.struct(
        F.lit(0.0).alias("c0"),
        # starting in the burst state pays the entry penalty
        pen.alias("c1"),
        F.array().cast("array<int>").alias("h0"),
        F.array().cast("array<int>").alias("h1"),
    )

    def step(acc, e):
        yd = e["y"].cast("double")
        cost0 = lam0 - yd * F.log(lam0)
        cost1 = lam1 - yd * F.log(lam1)
        enter = acc["c0"] + pen
        switch_up = enter < acc["c1"]  # strict: ties stay
        c1n = F.when(switch_up, enter).otherwise(acc["c1"]) + cost1
        h1n = F.concat(
            F.when(switch_up, acc["h0"]).otherwise(acc["h1"]),
            F.array(F.lit(1)),
        )
        drop_down = acc["c1"] < acc["c0"]  # strict: ties stay
        c0n = F.when(drop_down, acc["c1"]).otherwise(
            acc["c0"]
        ) + cost0
        h0n = F.concat(
            F.when(drop_down, acc["h1"]).otherwise(acc["h0"]),
            F.array(F.lit(0)),
        )
        return F.struct(
            c0n.alias("c0"),
            c1n.alias("c1"),
            h0n.alias("h0"),
            h1n.alias("h1"),
        )

    acc = F.aggregate(F.col("series"), init, step)
    best = F.when(acc["c1"] < acc["c0"], acc["h1"]).otherwise(
        acc["h0"]
    )
    decoded = g.select(
        group_col,
        lam0.alias("__lam0"),
        F.arrays_zip(
            F.col("series"), best.alias("state")
        ).alias("__z"),
    ).where(F.size("__z") >= 2)
    rows = decoded.select(
        group_col,
        "__lam0",
        F.explode("__z").alias("__e"),
    ).select(
        group_col,
        "__lam0",
        F.col("__e")["series"]["x"].alias("x"),
        F.col("__e")["series"]["y"].alias("y"),
        F.col("__e")["state"].alias("st"),
    )
    w = W.partitionBy(group_col).orderBy("x")
    runs = rows.withColumn(
        "__new",
        F.when(
            F.coalesce(
                F.lag("st").over(w), F.lit(-1)
            ) != F.col("st"),
            1,
        ).otherwise(0),
    ).withColumn(
        "__run",
        F.sum("__new").over(
            w.rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    out = (
        runs.where(F.col("st") == 1)
        .groupBy(group_col, "__run")
        .agg(
            F.min("x").alias("start_day"),
            F.max("x").alias("end_day"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("y").cast("bigint").alias("volume"),
            F.max("__lam0").alias("__lam0"),
        )
    )
    expected = F.col("__lam0") * F.col("n_days").cast("double")
    return out.select(
        group_col,
        "start_day",
        "end_day",
        "n_days",
        "volume",
        expected.alias("expected"),
        (F.col("volume").cast("double") / expected).alias(
            "intensity"
        ),
    )


def time_decay_features(
    tr: DataFrame,
    value_col: Column | str | None = None,
    half_life_s: float = 3600.0,
    entity_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
) -> DataFrame:
    """Exponentially time-decayed history features per turn — the
    leakage-free recency signal ("how much happened, how recently")
    the flat lag/rolling windows can't express: at each turn i

        decayed_count_i = sum_{j < i} 0.5 ** ((t_i - t_j) / half_life)
        decayed_value_i = sum_{j < i} v_j * 0.5 ** ((t_i - t_j) / ...)

    STRICTLY over prior turns (the engine's zero-temporal-leakage
    invariant: the feature at turn i never sees turn i or later).

    The naive form is O(turns^2) per conversation; the exact
    recurrence s_i = (s_{i-1} + x_{i-1}) * decay(t_i - t_{i-1}) is a
    sequential fold, which runs as ONE Catalyst ``aggregate`` over
    each conversation's (turn_idx, ts)-sorted struct array — the
    Holt-Winters/CUSUM house shape: state crosses turns inside the
    JVM expression, no Python, no window self-joins, and the fixed
    within-conversation evaluation order makes the float products
    identical at any parallelism (pinned in tests). Conversations are
    the fold unit, so the skew tail (60x turn counts) is one array —
    bounded by the longest conversation, never the corpus.

    Output: (entity, order, decayed_count, decayed_value); gaps use
    exact integer microseconds (_epoch_us).
    """
    # NULL values contribute nothing (coalesce, or one NULL would
    # poison the running sum for the rest of the conversation); on
    # dirty ingests run ordering.stable_dedup first — duplicated
    # (conv, turn_idx) rows each emit their own feature row.
    v = (
        F.lit(0.0)
        if value_col is None
        else F.coalesce(
            (
                F.col(value_col)
                if isinstance(value_col, str)
                else value_col
            ).cast("double"),
            F.lit(0.0),
        )
    )
    lam = math.log(2.0) / (float(half_life_s) * 1e6)  # per microsecond
    rows = tr.select(
        F.col(entity_col).alias("__e"),
        F.struct(
            F.col(order_col).alias("o"),
            _epoch_us(ts_col).alias("us"),
            v.alias("v"),
        ).alias("__t"),
    )
    o_t = tr.schema[order_col].dataType.simpleString()
    out_t = f"array<struct<o:{o_t},dc:double,dv:double>>"

    def _step(st, x):
        decay = F.exp(-F.lit(lam) * (x["us"] - st["us"]).cast("double"))
        dc = st["c"] * decay
        dv = st["s"] * decay
        elem = F.struct(
            x["o"].alias("o"), dc.alias("dc"), dv.alias("dv")
        )
        return F.struct(
            x["us"].alias("us"),
            (dc + 1.0).alias("c"),
            (dv + x["v"]).alias("s"),
            F.concat(st["out"], F.array(elem)).alias("out"),
        )

    folded = (
        rows.groupBy("__e")
        .agg(F.array_sort(F.collect_list("__t")).alias("__a"))
        .select(
            "__e",
            F.explode(
                F.aggregate(
                    F.col("__a"),
                    F.struct(
                        F.element_at("__a", 1)["us"].alias("us"),
                        F.lit(0.0).alias("c"),
                        F.lit(0.0).alias("s"),
                        F.array().cast(out_t).alias("out"),
                    ),
                    _step,
                    lambda st: st["out"],
                )
            ).alias("__f"),
        )
    )
    return folded.select(
        F.col("__e").alias(entity_col),
        F.col("__f.o").alias(order_col),
        F.col("__f.dc").alias("decayed_count"),
        F.col("__f.dv").alias("decayed_value"),
    )
