"""Time-series rollups: moving averages and growth over daily totals.

No reference counterpart (datajudge's date operators stop at span/gap
checks, db_access.py:302-313); this is the standard monitoring surface a
warehouse team expects next to them.

Scale design: the ordered window NEVER runs over raw rows.  The corpus
first aggregates to one row per day (partial-agg'd shuffle on the date),
and the ``ORDER BY date`` window runs on that frame, whose size is
|distinct dates| — bounded by the calendar (decades ~ 10^4 rows), not by
the 100 TB fact table.  Same bounded-domain argument as the cross-CDF
histogram construction (operators/stats.py).  A single-partition sort of
10^4 rows is microseconds; the expensive part (the scan + daily agg)
stays fully parallel.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def daily_totals(
    df: DataFrame, date_col: str, value: Column, alias: str = "total"
) -> DataFrame:
    """One row per day: ``day, total`` (partial-agg'd single shuffle)."""
    return (
        df.groupBy(F.col(date_col).cast("date").alias("day"))
        .agg(value.alias(alias))
    )


def moving_stats(
    daily: DataFrame,
    value_col: str = "total",
    window_days: int = 7,
) -> DataFrame:
    """Trailing moving average and previous-period delta over a daily
    frame.

    ``moving_avg`` = mean of the last ``window_days`` *present* rows
    (standard trailing window over observed days), ``delta`` = change vs
    the previous present day.  ``moving_sum``/``window_n`` are the exact
    integer numerator/denominator of the average — for integer inputs
    they are the lossless form (an avg of large integers rounds at
    double's ulp boundary, which different engines resolve differently;
    digests that must hash-match cross-engine should use sum+n, not the
    rounded avg).  Input must already be one-row-per-day
    (:func:`daily_totals`) so the ordered window is calendar-bounded.
    """
    w_trail = Window.orderBy("day").rowsBetween(-(window_days - 1), 0)
    w_lag = Window.orderBy("day")
    return daily.select(
        "day",
        value_col,
        F.round(F.avg(value_col).over(w_trail), 6).alias("moving_avg"),
        F.sum(value_col).over(w_trail).alias("moving_sum"),
        F.count(value_col).over(w_trail).alias("window_n"),
        F.round(
            F.col(value_col) - F.lag(value_col, 1).over(w_lag), 6
        ).alias("delta"),
    )


def cohort_retention(
    df: DataFrame,
    user_col: str,
    time_col: str,
    granularity: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity period,
    counted in every period they were active.

    Returns ``(cohort, period, n_users)``.  Plan shape at event-log
    scale: first-activity is one partial-agg'd min per user; the
    distinct (user, period) activity set is one partial-agg'd distinct;
    they hash-join on the user key (both sides already shuffled by it),
    and the final count aggregates to |cohorts| x |periods| rows —
    calendar-bounded, like every frame the ordered analytics run on.
    """
    first = df.groupBy(F.col(user_col).alias("__u")).agg(
        F.date_trunc(granularity, F.min(time_col)).alias("cohort")
    )
    active = df.select(
        F.col(user_col).alias("__u"),
        F.date_trunc(granularity, F.col(time_col)).alias("period"),
    ).distinct()
    return (
        first.join(active, "__u")
        .groupBy("cohort", "period")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def fill_daily_gaps(daily: DataFrame, value_col: str = "total") -> DataFrame:
    """Densify a daily frame to the full calendar and forward-fill.

    Returns ``(day, observed, filled, was_gap)`` — ``observed`` is NULL on
    missing days, ``filled`` carries the last present value forward
    (NULL before the first observation), ``was_gap`` marks synthesized
    rows.

    Scale: the calendar spine is ``explode(sequence(min, max))`` off a
    1-row bound aggregate — |days| rows, never the fact table — and the
    forward-fill window orders the same calendar-bounded frame.  The
    expensive part (the daily aggregate feeding this) stays fully
    parallel upstream.
    """
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cal = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    joined = cal.join(daily, "day", "left")
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "day",
        F.col(value_col).alias("observed"),
        F.last(value_col, ignorenulls=True).over(w).alias("filled"),
        F.col(value_col).isNull().alias("was_gap"),
    )


def ewma_weights_decimal(alpha_num: int, alpha_den: int, lookback: int):
    """Exact decimal strings for EWMA weights (1-a)^k, k=0..lookback-1.

    (1 - num/den)^k is exactly ((den-num)/den)^k — representable as a
    finite decimal when den is a power of 10, so weight*cents products
    are EXACT decimal arithmetic and the weighted sum is
    order-insensitive (the trap with double weights: the join emits rows
    in nondeterministic order and double addition doesn't commute).
    """
    import decimal

    base_num, base_den = alpha_den - alpha_num, alpha_den
    out = []
    for k in range(lookback):
        with decimal.localcontext() as ctx:
            ctx.prec = 60
            w = decimal.Decimal(base_num**k) / decimal.Decimal(base_den**k)
        out.append(format(w, "f"))
    return out


def ewma_daily(
    daily: DataFrame,
    value_col: str = "total",
    alpha_num: int = 3,
    alpha_den: int = 10,
    lookback: int = 14,
) -> DataFrame:
    """Trailing EWMA over a daily frame: for each day d,
    ``sum_k w_k * x_{d-k} / sum_k w_k`` over the present days in the
    lookback, with w_k = (1-alpha)^k.

    Implementation is an EQUI-join, not a range join: the frame crosses
    an exploded 0..lookback-1 offset array (a bounded x14 multiplier on a
    calendar-bounded frame), joins back on ``date_sub(day, k)``, and maps
    k -> weight through a literal decimal array (``element_at``), so the
    whole thing is hash-join + exact-decimal aggregate — no theta join,
    no double-precision order sensitivity.
    """
    # den narrows to decimal(8,6) (|x| < 100): each weight is <= 1 and
    # there are at most `lookback` of them, so den < lookback — guard
    # statically instead of letting the cast NULL silently under
    # non-ANSI overflow semantics
    if lookback > 99:
        raise ValueError(
            f"ewma_daily: lookback={lookback} can push the weight sum "
            "past decimal(8,6) (den < 100 required); use <= 99 days"
        )
    weights = ewma_weights_decimal(alpha_num, alpha_den, lookback)
    scale = max(len(w.split(".")[1]) if "." in w else 0 for w in weights)
    # weights are < 10, so precision scale+2 suffices; keeping the weight
    # narrow keeps the weight*cents product under precision 38 in BOTH
    # engines (wider would silently lose scale / fall back to double)
    warr = F.array(
        *[F.lit(w).cast(f"decimal({scale + 2},{scale})") for w in weights]
    )
    anchor = daily.select(
        F.col("day").alias("d"),
        F.explode(F.sequence(F.lit(0), F.lit(lookback - 1))).alias("k"),
    )
    contrib = anchor.join(
        daily.select(
            F.col("day").alias("src_day"), F.col(value_col).alias("x")
        ),
        F.col("src_day") == F.date_sub(F.col("d"), F.col("k")),
    )
    # width 19 (not 18) forces DuckDB's int128 multiply path in the
    # oracle twin — at width<=18 both operands sit in int64 and the raw
    # product overflows before promotion
    num = F.sum(
        F.element_at(warr, F.col("k") + 1)
        * F.col("x").cast("decimal(19,2)")
    )
    den = F.sum(F.element_at(warr, F.col("k") + 1))
    # The num/den accumulation stays EXACT decimal (order-insensitive —
    # the join emits rows in nondeterministic order and double addition
    # doesn't commute), but the DIGEST is a rounded double quotient, not
    # the wide rationals: scale-15 int128 decimals proved hash-hostile
    # downstream (round-3 driver red with value-identical output at 3
    # SFs).  Casting an int128 decimal straight to double is NOT
    # correctly rounded in every engine (measured: 18/2399 1-ulp diffs
    # vs DuckDB at sf0.01), so first narrow each side to an int64-backed
    # decimal — num to scale 2, den to scale 6; both raws sit far below
    # 2^53, where the decimal->double conversion is exact division of
    # exactly-represented integers and therefore bit-identical across
    # engines.  Width 18, not more: wider decimals are int128-backed in
    # columnar engines and the inexact conversion returns.  NOTE the
    # narrowing itself is engine-specific — Spark's decimal->decimal
    # cast rounds HALF_UP while e.g. DuckDB's truncates — so any oracle
    # twin must spell the narrowing as round(x, scale) THEN cast (both
    # engines round decimals half-away-from-zero, identical for the
    # non-negative sums here).  The final round(_, 2) grid (cent-level,
    # values ~1e8) is ~1e6 ulps wide, so a stray last-bit wobble in the
    # division cannot flip it.
    # num narrows to decimal(18,2) (|x| < 10^16): with ANSI off an
    # overflowing cast would yield NULL silently, so the narrowing is
    # guarded — out-of-range days raise instead of emitting a NULL ewma
    # with no diagnostic.  The guard compares the EXACT wide sum, costs
    # one predicate per output day row, and never fires in-range, so the
    # oracle twin needs no counterpart.
    guarded = F.when(
        F.abs(num) < F.lit("10000000000000000").cast("decimal(38,2)"),
        F.round(
            num.cast("decimal(18,2)").cast("double")
            / den.cast("decimal(8,6)").cast("double"),
            2,
        ),
    ).otherwise(
        F.raise_error(
            F.lit(
                "ewma_daily: weighted numerator exceeds decimal(18,2) "
                "— daily sums too large for the int64-backed digest"
            )
        )
    )
    return (
        contrib.groupBy(F.col("d").alias("day"))
        .agg(
            guarded.alias("ewma"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )


def theil_sen_slope(daily: DataFrame, value_col: str = "total") -> DataFrame:
    """Theil-Sen trend estimator over a daily frame: the MEDIAN of all
    pairwise slopes ``(v_j - v_i) / (d_j - d_i)``, one digest row
    ``(n_days, n_pairs, slope)``.  Robust to outliers where the OLS
    slope (``trend_slope``) is not — one anomalous day moves OLS but not
    the pairwise median.

    Scale: the all-pairs join runs on the DAILY frame — calendar-bounded
    (decades ~ 10^4 days → ~10^7.7 pairs), never the fact table; the
    expensive part (the daily aggregate feeding this) stays fully
    parallel upstream.  Slopes are correctly-rounded doubles of exact
    integer differences (engine-portable), the median is the two-pass
    range-bucketed exact percentile (smallest slope with >= 50% of pairs
    <= it) — no global sort.  The pair frame is persisted once; the
    percentile's two passes read cache.

    Extension — no reference counterpart; nearest relatives are
    ``trend_slope`` (OLS, __spark_entry__) and ``moving_stats``.
    """
    from ..pipeline._util import materialize_once, spread

    # three consumers (both pair branches + the day count) of what is
    # usually a fact-table aggregate: persist the calendar-tiny frame
    daily = materialize_once(daily)
    # spread the streamed side: the daily aggregate is byte-tiny, so
    # AQE coalesces it to one partition and the quadratic slope work
    # would run as ONE task (the cartesian's parallelism is the product
    # of its inputs'); an explicit repartition is not coalescible
    a = spread(
        daily.select(F.col("day").alias("d1"), F.col(value_col).alias("v1"))
    )
    b = daily.select(F.col("day").alias("d2"), F.col(value_col).alias("v2"))
    slope = (
        (F.col("v2") - F.col("v1")).cast("double")
        / F.datediff(F.col("d2"), F.col("d1")).cast("double")
    )
    slopes = materialize_once(
        a.join(b, F.col("d1") < F.col("d2")).select(slope.alias("slope"))
    )
    from .scalars import exact_percentile_df

    counts = slopes.agg(F.count(F.lit(1)).alias("n_pairs"))
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    med = exact_percentile_df(slopes, "slope", 50.0)
    return (
        n_days.crossJoin(counts)
        .crossJoin(med)
        .select(
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.round(F.col("value"), 6).alias("slope"),
        )
    )


def mann_kendall(
    daily: DataFrame,
    value_col: str = "total",
    group_col: str | None = None,
) -> DataFrame:
    """Mann-Kendall trend test over a daily frame, one digest row
    ``(n_days, s_stat, var_s, z)`` — the NONPARAMETRIC "is there a
    monotonic trend at all?" companion to :func:`theil_sen_slope`
    (which estimates how steep; Mann-Kendall tests whether).

    ``S = Σ_{i<j} sgn(v_j − v_i)`` over day-ordered pairs (an exact
    integer), ``Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18`` with
    the standard tie-group correction, and the continuity-corrected
    normal score ``z = (S∓1)/sqrt(Var(S))``.  |z| > 1.96 rejects "no
    trend" at 5% — the gate a drift monitor runs BEFORE trusting a
    slope estimate.

    Scale: the all-pairs join runs on the calendar-bounded daily frame
    (same shape as :func:`theil_sen_slope`); S and both variance terms
    are exact integers (DECIMAL(38,0) sums), converted ONCE to doubles
    in a fixed expression and emitted UNROUNDED — bit-identical in any
    engine (rounding exact-input doubles can CREATE cross-engine ties).
    With ``group_col`` the test runs PER GROUP over a
    one-row-per-(group, day) frame (the grouped-operator contract this
    module shares): pair join, tie groups and variance all key by the
    group — per-source drift screening at the global digest's plan
    shape.  Extension — no reference counterpart.
    """
    from ..pipeline._util import materialize_once

    gcols = [group_col] if group_col else []
    daily = daily.where(
        F.col("day").isNotNull() & F.col(value_col).isNotNull()
    )
    if group_col:
        daily = daily.where(F.col(group_col).isNotNull())
    # four consumers read this frame (both pair-join branches, the tie
    # groups, the day counts) and it is usually an aggregate OF THE FACT
    # TABLE — persist or the fact aggregation runs four times per call;
    # the daily frame itself is calendar-tiny
    daily = materialize_once(daily)
    a = daily.select(
        *gcols, F.col("day").alias("d1"), F.col(value_col).alias("v1")
    )
    b_cols = [F.col(group_col).alias("__g2")] if group_col else []
    b = daily.select(
        *b_cols, F.col("day").alias("d2"), F.col(value_col).alias("v2")
    )
    pair_cond = F.col("d1") < F.col("d2")
    if group_col:
        # the group key alone gives at most |groups| join partitions —
        # a handful of segments would leave most executors idle on the
        # quadratic pair work.  Standard salt split (side A hashes into
        # n_salts subgroups, side B replicates): pure repartitioning of
        # the same pair set, value-identical.
        n_salts = 8
        a = a.withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.col("d1").cast("string")), F.lit(n_salts))
            .cast("int"),
        )
        # explicit numPartitions: the pair join's INPUT bytes are tiny
        # (a calendar-bounded frame) but its OUTPUT is quadratic — AQE's
        # byte-based coalescing would merge the salted partitions back
        # into one task; a user repartition with a fixed count is not
        # coalescible, so the quadratic sgn work keeps its parallelism
        a = a.repartition(
            daily.sparkSession.sparkContext.defaultParallelism,
            group_col,
            "__salt",
        )
        b = b.withColumn(
            "__salt",
            F.explode(F.array(*[F.lit(i) for i in range(n_salts)])),
        )
        pair_cond = (
            (F.col(group_col) == F.col("__g2"))
            & (F.col("a.__salt") == F.col("b.__salt"))
            & pair_cond
        )
        a, b = a.alias("a"), b.alias("b")
    s_frame = (
        a.join(b, pair_cond)
        .select(
            *gcols,
            F.signum((F.col("v2") - F.col("v1")).cast("double"))
            .cast("long")
            .alias("__sgn"),
        )
        .groupBy(*gcols)
        .agg(F.coalesce(F.sum("__sgn"), F.lit(0)).alias("__s"))
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ties = (
        daily.groupBy(*gcols, F.col(value_col).alias("__v"))
        .agg(F.count(F.lit(1)).alias("__t"))
        .groupBy(*gcols)
        .agg(
            F.count(F.lit(1)).alias("__n_groups"),
            F.coalesce(
                F.sum(
                    d38(F.col("__t"))
                    * (F.col("__t") - 1)
                    * (2 * F.col("__t") + 5)
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("__tie_term"),
        )
    )
    n_frame = daily.groupBy(*gcols).agg(F.count(F.lit(1)).alias("__n"))
    n = F.col("__n")
    var_num = (
        d38(n) * (n - 1) * (2 * n + 5) - F.col("__tie_term")
    ).cast("double")
    var_s = F.when(n >= 2, var_num / 18.0)
    # LEFT join: a group with a single day has NO pair rows at all —
    # it must still appear in the digest (S = 0, variance undefined)
    s = F.coalesce(F.col("__s"), F.lit(0))
    z = F.when(
        var_s > 0,
        F.when(s > 0, (s - 1) / F.sqrt(var_s))
        .when(s < 0, (s + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0)),
    )
    if gcols:
        combined = n_frame.join(s_frame, gcols, "left").join(ties, gcols)
    else:
        combined = n_frame.crossJoin(s_frame).crossJoin(ties)
    return combined.select(
        *gcols,
        n.cast("bigint").alias("n_days"),
        s.cast("bigint").alias("s_stat"),
        var_s.alias("var_s"),
        z.alias("z"),
    )


def seasonal_mann_kendall(
    daily: DataFrame, value_col: str = "total"
) -> DataFrame:
    """Seasonal (Hirsch-Slack) Mann-Kendall over a daily frame, one
    digest row ``(n_days, n_seasons, s_stat, var_s, z)``: the trend
    test computed WITHIN each day-of-week stratum and summed —
    ``S = Σ_h S_h``, ``Var = Σ_h Var_h`` — so a strong weekly cycle
    neither masks a real drift nor manufactures a fake one (the plain
    test compares Mondays against Sundays; this one never does).

    Engine: :func:`mann_kendall` grouped by day-of-week (the pair join,
    tie groups and variance all key by the stratum — 7x fewer pairs
    than the global test), then one 7-row aggregate.  Degenerate strata
    (n < 2) contribute zero pairs and zero variance.  Same exactness
    contract: integer S, decimal variance terms, unrounded doubles.
    Extension — no reference counterpart.
    """
    strat = daily.where(
        F.col("day").isNotNull() & F.col(value_col).isNotNull()
    ).withColumn("__dow", F.dayofweek("day"))
    per = mann_kendall(strat, value_col, group_col="__dow")
    n = F.sum("n_days")
    s = F.sum("s_stat")
    var = F.sum(F.coalesce(F.col("var_s"), F.lit(0.0)))
    agg = per.agg(
        n.cast("bigint").alias("n_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_seasons"),
        s.cast("bigint").alias("s_stat"),
        var.alias("var_s"),
    )
    sc = F.col("s_stat")
    vc = F.col("var_s")
    z = F.when(
        vc > 0,
        F.when(sc > 0, (sc - 1) / F.sqrt(vc))
        .when(sc < 0, (sc + 1) / F.sqrt(vc))
        .otherwise(F.lit(0.0)),
    )
    return agg.select(
        "n_days", "n_seasons", "s_stat", "var_s", z.alias("z")
    )


def grouped_theil_sen(
    daily: DataFrame,
    group_col: str,
    value_col: str,
    groups: list,
) -> DataFrame:
    """Per-group Theil-Sen trend: one row ``(group, n_days, n_pairs,
    slope)`` per group — the robust "which segment is trending?" digest.

    ``daily`` must be one row per (group, day) (a grouped
    :func:`daily_totals`).  The pairwise-slope join stays WITHIN each
    group (equi-join on the group key plus ``d1 < d2``), so the pair
    space is the sum of per-group day-count squares — calendar-bounded,
    never the fact table.  All medians come from ONE conditional-
    aggregation slope histogram + the shared bucket-partitioned
    multi-cumulative (:func:`~datajudge_spark.operators.stats
    ._bucketed_global_cums`): no per-group scan, no global or per-group
    ordered window at any pair cardinality.  The median rule is the
    integer-exact ``2 * cum >= n`` (smallest slope with >= 50% of pairs
    <= it), matching :func:`theil_sen_slope`.

    Extension — no reference counterpart; the grouped form of
    :func:`theil_sen_slope`.
    """
    from ..pipeline._util import materialize_once
    from .stats import _bucketed_global_cums, _sql_ident, _sql_str

    if not groups:
        raise ValueError("grouped_theil_sen needs at least one group")
    # NULL days/values would silently diverge the n_days count from the
    # pair join (which drops them via d1 < d2); exclude them up front.
    # Persisted: the pair join's two branches AND the per-group day
    # count each consume this frame, and it is usually an aggregate OF
    # THE FACT TABLE — without the persist the fact aggregation runs
    # three times per call.  The frame itself is calendar-tiny.
    daily = materialize_once(
        daily.where(
            F.col("day").isNotNull()
            & F.col(value_col).isNotNull()
            & F.col(group_col).isNotNull()
        )
    )
    # salt + pinned repartition: the group key alone caps the quadratic
    # pair work at |groups| tasks, and AQE's byte-based coalescing can
    # merge even those into one (the join INPUT is calendar-tiny, the
    # OUTPUT quadratic — the lesson the grouped Mann-Kendall probe
    # measured).  A user repartition with an explicit count is not
    # coalescible; the salt split is a pure repartitioning of the same
    # pair set — value-identical.
    n_salts = 8
    a = daily.select(
        F.col(group_col).alias("__g"),
        F.col("day").alias("d1"),
        F.col(value_col).alias("v1"),
        F.pmod(F.xxhash64(F.col("day").cast("string")), F.lit(n_salts))
        .cast("int")
        .alias("__salt"),
    ).repartition(
        daily.sparkSession.sparkContext.defaultParallelism,
        "__g",
        "__salt",
    )
    b = daily.select(
        F.col(group_col).alias("__g"),
        F.col("day").alias("d2"),
        F.col(value_col).alias("v2"),
    ).withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])),
    )
    slope = (
        (F.col("v2") - F.col("v1")).cast("double")
        / F.datediff(F.col("d2"), F.col("d1")).cast("double")
    )
    slopes = (
        a.join(b, ["__g", "__salt"])
        .where(F.col("d1") < F.col("d2"))
        .select("__g", slope.alias("v"))
    )
    cnt_aliases = [f"c{i}" for i in range(len(groups))]
    hist = slopes.groupBy("v").agg(
        *[
            F.count(F.when(F.col("__g") == F.lit(g), 1)).alias(al)
            for g, al in zip(groups, cnt_aliases)
        ]
    )
    # totals ride the scaffold's probe aggregate (return_totals): no
    # separate `max(cum_*)` job, no persist — the median aggregate
    # below is the cums frame's only consumer.
    cums, tot = _bucketed_global_cums(
        hist, cnt_aliases, return_totals=True
    )
    day_rows = (
        daily.where(F.col(group_col).isin(groups))
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("nd"))
        .collect()
    )
    n_days = {r[group_col]: int(r["nd"]) for r in day_rows}
    med_exprs = []
    for al in cnt_aliases:
        n_g = int(tot[al] or 0)
        if n_g == 0:
            med_exprs.append(F.lit(None).cast("double").alias(f"m_{al}"))
        else:
            med_exprs.append(
                F.min(
                    F.when(F.col(f"cum_{al}") * 2 >= F.lit(n_g), F.col("v"))
                ).alias(f"m_{al}")
            )
    agg = cums.agg(*med_exprs)
    stack_args = ", ".join(
        f"{_sql_str(g)}, CAST({n_days.get(g, 0)} AS BIGINT), "
        f"CAST({int(tot[al] or 0)} AS BIGINT), m_{al}"
        for g, al in zip(groups, cnt_aliases)
    )
    # stack() emits the labels as STRING; cast back to the source group
    # type so the output schema matches the input column (see grouped_ks)
    g_type = daily.schema[group_col].dataType
    return agg.select(
        F.expr(
            f"stack({len(groups)}, {stack_args}) "
            f"AS ({_sql_ident(group_col)}, n_days, n_pairs, slope)"
        )
    ).select(
        F.col(group_col).cast(g_type).alias(group_col),
        "n_days",
        "n_pairs",
        F.round("slope", 6).alias("slope"),
    )


def cusum_changepoint(
    daily: DataFrame, value_col: str = "total"
) -> DataFrame:
    """CUSUM change-point digest of a daily integer series: one row
    ``(n_days, change_day, cusum_max)`` — the day where the cumulative
    deviation from the series mean peaks, i.e. the single most likely
    level-shift point.

    The statistic stays INTEGER-exact until the last step: the mean
    never materializes — ``D_t = n * cumsum_t - t * total`` is the
    n-scaled CUSUM ``n * sum_{i<=t}(x_i - mean)`` computed in
    ``decimal(38,0)`` (NOT bigint: n can reach ~10^4 days and the
    cumulative cent sum ~10^18 at 100 TB, so the product exceeds
    int64 and would silently wrap under non-ANSI semantics), so the
    argmax (ties -> earliest day) is exact and bit-identical on every
    engine; only the reported ``cusum_max = max|D_t| / n`` divides,
    once, as a double.  The ordered window runs on the DAILY
    frame — calendar-bounded (~10^4 rows for decades), never the fact
    table; the expensive aggregate feeding it is fully parallel
    upstream.  The argmax is TakeOrdered(1), not a global sort.

    Extension — no reference counterpart; completes the time-series
    family next to ``trend_slope`` (OLS), :func:`theil_sen_slope`
    (robust), and :func:`zscore_anomalies` (local spikes): CUSUM finds
    the sustained level shift those miss.
    """
    base = daily.where(
        F.col("day").isNotNull() & F.col(value_col).isNotNull()
    ).select("day", F.col(value_col).cast("long").alias("__x"))
    tot = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__s"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dec = "decimal(38,0)"
    cum = (
        base.crossJoin(F.broadcast(tot))
        .select(
            "day",
            "__n",
            (
                F.col("__n").cast(dec)
                * F.sum(F.col("__x").cast(dec)).over(w)
                - F.row_number().over(Window.orderBy("day")).cast(dec)
                * F.col("__s").cast(dec)
            ).alias("__d"),
        )
    )
    return (
        cum.orderBy(F.abs(F.col("__d")).desc(), F.col("day").asc())
        .limit(1)
        .select(
            F.col("__n").cast("bigint").alias("n_days"),
            F.col("day").alias("change_day"),
            F.round(
                F.abs(F.col("__d")).cast("double") / F.col("__n"), 6
            ).alias("cusum_max"),
        )
    )


def zscore_anomalies(
    daily: DataFrame,
    value_col: str = "total",
    window_days: int = 7,
    threshold: float = 2.0,
) -> DataFrame:
    """Rolling z-score anomaly flags over a daily integer frame.

    The baseline window is the ``window_days`` rows BEFORE each day —
    excluding the day itself, so a spike cannot inflate its own baseline
    variance and mask itself (the include-current form under-flags by
    design: a 5x spike inside its own 7-day std often lands under z=3).

    mean/variance come from EXACT integer window sums (S, SS as wide
    decimals), and z is one double expression over those integers —
    identical parse tree => bit-identical cross-engine, unlike
    ``stddev_samp`` whose streaming algorithm differs by engine.

    Returns ``(day, {value_col}, z, is_anomaly)``; z is NULL while the
    baseline holds <3 points or has zero variance.
    """
    w = Window.orderBy("day").rowsBetween(-window_days, -1)
    # decimal(18,0): the square stays decimal(37,0) — exact (not double,
    # not precision-overflowed) in both Spark and DuckDB
    x = F.col(value_col).cast("decimal(18,0)")
    s = F.sum(x).over(w)
    ss = F.sum(x * x).over(w)
    n = F.count(value_col).over(w)
    stats = daily.select(
        "day",
        value_col,
        s.alias("__s"),
        ss.alias("__ss"),
        n.alias("__n"),
    )
    # one double expression over exact integers, written identically in
    # the DuckDB oracle: var = (SS - S*S/n)/(n-1), z = (x - S/n)/sqrt(var)
    z = F.expr(
        f"CASE WHEN __n >= 3 AND "
        f"(CAST(__ss AS DOUBLE) - CAST(__s AS DOUBLE)*CAST(__s AS DOUBLE)/__n) > 0 "
        f"THEN round((CAST({value_col} AS DOUBLE) - CAST(__s AS DOUBLE)/__n) / "
        f"sqrt((CAST(__ss AS DOUBLE) - CAST(__s AS DOUBLE)*CAST(__s AS DOUBLE)/__n)"
        f"/(__n - 1)), 6) END"
    )
    return stats.select(
        "day",
        value_col,
        z.alias("z"),
        (F.abs(z) > F.lit(threshold)).alias("is_anomaly"),
    )


# Survival-family cumulative dispatch: duration histograms are
# typically calendar-bounded (day/week grain — hundreds of rows), where
# the bucketed scaffold's probe/offsets jobs cost more than the whole
# query; at or below this MEASURED row count the scaffold takes its
# single-partition fast path (a bounded sort of <= ~4 MB), and any
# larger frame — the timestamp-grain hazard VERDICT r11 flagged —
# engages the bucket-partitioned machinery automatically.  Tests pin
# both paths (equality + the bucketed plan shape at threshold 0).
SMALL_SURVIVAL_FRAME = 65536


def _survival_risk_frame(
    df: DataFrame, duration_col: str, event_col: str
):
    """Shared first stage of the survival family (KM / Nelson-Aalen /
    RMST): subjects collapse to the distinct-duration histogram (one
    groupBy shuffle), and the at-risk count ``n_risk(t) = |duration >=
    t|`` comes from the BUCKET-PARTITIONED cumulative
    (:func:`..stats._bucketed_global_cums`) — no unpartitioned window
    anywhere, so a timestamp-grain duration column (|subjects| distinct
    values) stays parallel instead of degenerating to one core.  The
    grand total doubles as the risk-set base and ships back as a Python
    int (no separate totals scan).  Returns ``(frame, n_subjects)``
    with columns ``v`` (duration), ``n_events``, ``n_censored``,
    ``n_risk``.
    """
    from .stats import _bucketed_global_cums

    per_t = (
        df.where(F.col(duration_col).isNotNull())
        .groupBy(F.col(duration_col).alias("v"))
        .agg(
            F.sum(
                F.when(F.col(event_col).cast("int") == 1, 1).otherwise(0)
            ).alias("n_events"),
            F.count(F.lit(1)).alias("n_at"),
        )
    )
    cum1, tot = _bucketed_global_cums(
        per_t,
        ["n_at"],
        carry_cols=["n_events"],
        return_totals=True,
        empty_ok=True,
        small_frame_rows=SMALL_SURVIVAL_FRAME,
    )
    n_subjects = int(tot["n_at"])
    risk = cum1.select(
        "v",
        "n_events",
        (F.col("n_at") - F.col("n_events")).alias("n_censored"),
        # at risk at t: everyone whose duration is >= t
        (
            F.lit(n_subjects) - F.col("cum_n_at") + F.col("n_at")
        ).alias("n_risk"),
    )
    return risk, n_subjects


def _km_cum_frame(
    df: DataFrame, duration_col: str, event_col: str
) -> DataFrame:
    """Second survival stage shared by :func:`kaplan_meier` and
    :func:`rmst`: per-duration log-survival terms ``ln(1 - d/n)``
    (6-sig-beyond-output 12dp pre-rounded DECIMAL(38,12) — the cox
    decimal-fold determinism contract: per-term doubles are
    bit-identical across engines, decimal addition is order-free, and
    any residual 1e-12 quantization straddle is absorbed by the 6dp
    output rounding) and the curve-killed flag, both accumulated with
    the bucket-partitioned cumulative.  Columns: ``v``, ``n_events``,
    ``n_censored``, ``n_risk``, ``__lnt``, ``__dead``, ``cum___lnt``,
    ``cum___dead``.
    """
    from .stats import _bucketed_global_cums

    risk, _ = _survival_risk_frame(df, duration_col, event_col)
    term = F.when(
        F.col("n_events") < F.col("n_risk"),
        F.log(
            F.lit(1.0)
            - F.col("n_events").cast("double")
            / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    staged = risk.select(
        "v",
        "n_events",
        "n_censored",
        "n_risk",
        # (20,12) not (38,12): keeps the scaffold's cumulative
        # addition inside 38 digits so the 12dp scale survives
        # (Spark precision-loss would silently drop to 11dp);
        # 8 integer digits is ample for |ln| survival terms
        F.round(term, 12).cast("decimal(20,12)").alias("__lnt"),
        # a duration where every subject at risk dies (d == n) zeroes
        # the curve from there on via this flag, not ln(0)
        F.when(F.col("n_events") >= F.col("n_risk"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("__dead"),
    )
    return _bucketed_global_cums(
        staged,
        ["__dead", "__lnt"],
        carry_cols=["n_events", "n_censored", "n_risk"],
        empty_ok=True,
        small_frame_rows=SMALL_SURVIVAL_FRAME,
    )


def kaplan_meier(
    df: DataFrame, duration_col: str, event_col: str
) -> DataFrame:
    """Kaplan-Meier survival curve: one row per distinct duration with
    (duration, n_risk, n_events, n_censored, survival).

    ``event_col`` is 1 when the terminal event was observed at
    ``duration_col``, 0 when the subject was censored there.
    ``S(t) = Π_{t_i <= t} (1 - d_i / n_i)`` over event times.

    Scale: one groupBy shuffle aggregates subjects to the distinct-
    duration histogram; every cumulative (at-risk counts, the
    ``exp(Σ ln(1 - d/n))`` product fold, the curve-killed flag) runs
    through the bucket-partitioned cumulative scaffold
    (operators.stats), so there is NO unpartitioned ordered window in
    the plan — day-grain lifetimes and timestamp-grain durations
    (|subjects| distinct values) both stay parallel.  Determinism: the
    log terms accumulate as 12dp pre-rounded exact decimals
    (order-independent; see :func:`_km_cum_frame`), so the curve is
    reproducible on any engine and any partitioning.

    Extension — no reference counterpart; nearest relatives are the
    retention matrix (this module) and the cross-CDF (operators.stats).
    """
    cum2 = _km_cum_frame(df, duration_col, event_col)
    return cum2.select(
        F.col("v").alias("duration"),
        "n_risk",
        "n_events",
        "n_censored",
        F.when(F.col("cum___dead") >= 1, F.lit(0.0))
        .otherwise(F.exp(F.col("cum___lnt").cast("double")))
        .alias("survival"),
    )


def seasonality_strength(
    daily: DataFrame, value_col: str = "total", period: int = 7
) -> DataFrame:
    """Weekly-seasonality strength of a daily integer series: one digest
    row ``(n_days, sst, sse, strength)`` where ``strength`` is the
    ANOVA R² of the day-of-period grouping — the fraction of daily
    variance explained by the weekday pattern (0 = no seasonality,
    -> 1 = perfectly periodic).  The "does this metric breathe weekly?"
    check that decides whether drift monitors should compare
    like-weekdays.

    Plan: ``daily`` is already calendar-bounded (one row per day); ONE
    ``period``-row aggregate collects per-phase (n, Σx, Σx²) with the
    squares accumulated as DECIMAL(38,0) — integer-exact at any scale,
    no int64 overflow (x is cast to decimal BEFORE squaring).  The
    ≤``period`` exact integer rows cross to the driver, where SSE folds
    LEFT-TO-RIGHT in ascending phase order — a distributed double sum
    over the phases is order-nondeterministic in its last ulp, which a
    cross-engine digest cannot tolerate; an oracle reproduces this fold
    exactly (same order, same casts).  Phase = epoch-day mod ``period``
    (integer-exact; ``dayofweek()`` origins differ across engines).

    Extension — no reference counterpart; peers ``zscore_anomalies``
    (which this tells you whether to deseasonalize first).
    """
    if period < 1:
        raise ValueError("period must be a positive number of days")
    # a NULL day (or value) has no phase; it must not reach the driver
    # fold, where None would break the sort and the integer sums
    daily = daily.where(
        F.col("day").isNotNull() & F.col(value_col).isNotNull()
    )
    v = F.col(value_col)
    phase = F.pmod(
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")),
        F.lit(period),
    )
    rows = sorted(
        daily.groupBy(phase.alias("__p"))
        .agg(
            F.count(F.lit(1)).alias("n_p"),
            F.sum(v.cast("decimal(38,0)")).alias("s_p"),
            F.sum(
                (v.cast("decimal(19,0)") * v).cast("decimal(38,0)")
            ).alias("ss_p"),
        )
        .collect(),
        key=lambda r: r["__p"],
    )
    spark = daily.sparkSession
    if not rows:
        return spark.createDataFrame(
            [(0, None, None, None)],
            "n_days bigint, sst double, sse double, strength double",
        )
    n = sum(int(r["n_p"]) for r in rows)
    s = sum(int(r["s_p"]) for r in rows)
    ss = sum(int(r["ss_p"]) for r in rows)
    sse = 0.0
    for r in rows:
        sse += float(int(r["ss_p"])) - (
            float(int(r["s_p"])) * float(int(r["s_p"]))
        ) / float(int(r["n_p"]))
    sst = float(ss) - (float(s) * float(s)) / float(n)
    strength = (1.0 - sse / sst) if sst > 0 else None
    # final rounding happens ENGINE-side: Spark round() is HALF_UP,
    # matching the oracle engine's half-away-from-zero — Python's
    # banker's round() is not
    raw = spark.createDataFrame(
        [(n, sst, sse, strength)],
        "n_days bigint, sst double, sse double, strength double",
    )
    return raw.select(
        "n_days",
        F.round("sst", 6).alias("sst"),
        F.round("sse", 6).alias("sse"),
        F.round("strength", 6).alias("strength"),
    )


def grouped_ols2(
    df: DataFrame,
    group_col: str,
    x1_col: str,
    x2_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group ordinary least squares with TWO integer regressors and
    an intercept: ``y = b0 + b1·x1 + b2·x2``, solved in closed form.

    Returns ``(grp, n, beta0, beta1, beta2, r2)`` — one row per group,
    coefficients and ANOVA R² rounded to 6dp; all four statistics NULL
    for degenerate groups (singular normal matrix — e.g. a constant
    regressor — or zero y-variance).

    The multi-feature extension of the simple OLS ``trend_slope`` /
    robust ``theil_sen_slope``: "is revenue growing once the weekend
    effect is held out?" needs two regressors, and neither engine
    builtin (``regr_slope``-style) goes beyond one.

    Scale/exactness design:

    - ONE aggregate pass collects the 9 sufficient statistics (n, Σx1,
      Σx2, Σy, Σx1², Σx1x2, Σx2², Σx1y, Σx2y) plus Σy², every product
      formed AFTER casting to DECIMAL(38,0) — integer-exact and
      partition-order independent at any scale (Σy² reaches ~1e33 for
      cent-valued daily series, far past int64);
    - the 3×3 normal equations are solved per group by Cramer's rule on
      doubles STRING-converted once from those exact integers (decimal
      -> string -> double: the parse is correctly rounded on every
      engine, where direct decimal->double paths can differ by 1 ulp
      past 2^53) — a fixed arithmetic expression, so any engine
      computing the same formula on the same integers gets
      bit-identical doubles (no iterative solver, no order-dependent
      folds);
    - cost after the aggregate is |groups| rows of scalar math.

    Inputs must be integer-valued (day numbers, 0/1 flags, cent
    amounts): the decimal casts TRUNCATE fractional digits, silently
    changing the fit otherwise.

    Extension — no reference counterpart; the reference's numeric
    family stops at mean/percentile gates
    (/root/reference/src/datajudge/constraints/numeric.py).
    """
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    stats = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(d(x1_col)).alias("__s1"),
        F.sum(d(x2_col)).alias("__s2"),
        F.sum(d(y_col)).alias("__sy"),
        F.sum((d19(x1_col) * F.col(x1_col)).cast("decimal(38,0)")).alias("__s11"),
        F.sum((d19(x1_col) * F.col(x2_col)).cast("decimal(38,0)")).alias("__s12"),
        F.sum((d19(x2_col) * F.col(x2_col)).cast("decimal(38,0)")).alias("__s22"),
        F.sum((d19(x1_col) * F.col(y_col)).cast("decimal(38,0)")).alias("__s1y"),
        F.sum((d19(x2_col) * F.col(y_col)).cast("decimal(38,0)")).alias("__s2y"),
        F.sum((d19(y_col) * F.col(y_col)).cast("decimal(38,0)")).alias("__syy"),
    )
    # decimal -> STRING -> double: the sums exceed 2^53 (Σy² ~ 1e33 for
    # cent-valued series), where engines' direct decimal->double paths
    # (BigDecimal.doubleValue vs scaled-int divide) can differ by 1 ulp;
    # at beta0 ~ 1e9 an ulp flips the 6th decimal.  The string parse is
    # correctly rounded on every engine — bit-identical (the cox
    # contract; caught by the sf1 replica, 1-ulp beta0 mismatch).
    sd = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    n = F.col("__n").cast("double")
    s1, s2, sy = (sd(c) for c in ("__s1", "__s2", "__sy"))
    s11, s12, s22 = (sd(c) for c in ("__s11", "__s12", "__s22"))
    s1y, s2y, syy = (sd(c) for c in ("__s1y", "__s2y", "__syy"))
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    b0, b1, b2 = det0 / det, det1 / det, det2 / det
    sse = syy - (b0 * sy + b1 * s1y + b2 * s2y)
    sst = syy - sy * sy / n
    ok = (det != 0.0) & (sst != 0.0)

    # portable 6dp rounding as PURE double arithmetic: beta0 reaches
    # ~1e10 where the 6th decimal sits at double-ulp spacing, and
    # engine round() implementations legitimately disagree there
    # (string-based setScale vs scaled-multiply + rint half-even —
    # the ×1e6 product lands exactly between doubles).  floor(x·1e6
    # + 0.5)/1e6 is the same IEEE ops on both engines → bit-identical
    # (half-values round toward +inf; identical everywhere).
    r6 = lambda c: (  # noqa: E731
        F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    )
    return stats.select(
        "grp",
        F.col("__n").alias("n"),
        F.when(ok, r6(b0)).alias("beta0"),
        F.when(ok, r6(b1)).alias("beta1"),
        F.when(ok, r6(b2)).alias("beta2"),
        F.when(ok, r6(1.0 - sse / sst)).alias("r2"),
    )


def autocorrelation(
    daily: DataFrame,
    value_col: str = "total",
    max_lag: int = 14,
    group_col: str | None = None,
) -> DataFrame:
    """Autocorrelation function of a daily integer series at calendar
    lags ``1..max_lag``, plus the Ljung-Box portmanteau statistic.

    Returns one row per lag: ``(lag, n_pairs, acf, ljung_box_q)`` —
    ``acf`` is the Pearson correlation of the pairs ``(x_t, x_{t+lag})``
    over the days where BOTH ends exist (calendar lag, so gap days drop
    pairs rather than silently shifting the series), and
    ``ljung_box_q`` is the cumulative Box-Pierce/Ljung-Box statistic
    ``n·(n+2)·Σ_{k≤lag} r_k²/n_pairs_k`` — large values reject "white
    noise", the standard pre-check before trusting drift monitors that
    assume independent days.

    Exactness / cross-engine design:

    - the five sufficient statistics per lag (n, Σx, Σy, Σxy, Σx², Σy²)
      accumulate as DECIMAL(38,0) — integer-exact and partition-order
      independent (cent-valued daily sums square past int64);
    - ``acf`` converts those exact integers ONCE to doubles in a fixed
      expression, with the variance product split as
      ``sqrt(a)·sqrt(b)`` so neither factor exceeds DECIMAL(38)'s
      range before the cast, then rounds to 6dp;
    - the Ljung-Box cumulative sums the ROUNDED r_k² terms in lag
      order over the ≤``max_lag``-row frame — a fixed-order fold any
      engine reproduces bit-identically.

    Plan shape at fact-table scale: ``daily`` is calendar-bounded
    (|days| ≤ ~10^4), so the lag grid (|days|·max_lag rows) and the
    self-join on ``day + lag`` are post-aggregation small; Spark
    broadcasts the lag side.  The expensive part (the daily aggregate
    upstream) stays fully parallel.

    With ``group_col`` the digest is computed PER GROUP over a
    one-row-per-(group, day) frame (same contract as
    :func:`grouped_theil_sen`): the pair join adds the group key, the
    sufficient statistics aggregate by (group, lag), and the Ljung-Box
    cumulative window partitions by group — every frame stays bounded
    by ``max_lag`` rows per group, so per-source/shard gating costs the
    same plan shape as the global digest.

    Extension — no reference counterpart; peers ``seasonality_strength``
    (which detects the weekly component this quantifies per-lag).
    """
    if max_lag < 1:
        raise ValueError("max_lag must be a positive number of days")
    gcols = [group_col] if group_col else []
    daily = daily.where(
        F.col("day").isNotNull() & F.col(value_col).isNotNull()
    )
    if group_col:
        daily = daily.where(F.col(group_col).isNotNull())
    spark = daily.sparkSession
    lags = spark.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    v = F.col(value_col)
    # (lag, day+lag, x) — every observation offered at every lag; the
    # join back to the daily frame keeps only pairs whose far end exists
    offered = daily.crossJoin(F.broadcast(lags)).select(
        *gcols,
        "lag",
        F.date_add(F.col("day"), F.col("lag")).alias("__d2"),
        v.alias("__x"),
    )
    far = daily.select(
        *gcols, F.col("day").alias("__d2"), v.alias("__y")
    )
    suff = (
        offered.join(far, gcols + ["__d2"])
        .groupBy(*gcols, "lag")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(d38(F.col("__x"))).alias("__sx"),
            F.sum(d38(F.col("__y"))).alias("__sy"),
            F.sum(d38(d19(F.col("__x")) * F.col("__y"))).alias("__sxy"),
            F.sum(d38(d19(F.col("__x")) * F.col("__x"))).alias("__sxx"),
            F.sum(d38(d19(F.col("__y")) * F.col("__y"))).alias("__syy"),
        )
    )
    n_days = daily.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("double").alias("__nd")
    )
    nd = F.col("__nd")
    num = (
        F.col("__n").cast("decimal(38,0)") * F.col("__sxy")
        - F.col("__sx") * F.col("__sy")
    ).cast("double")
    vx = (
        F.col("__n").cast("decimal(38,0)") * F.col("__sxx")
        - F.col("__sx") * F.col("__sx")
    ).cast("double")
    vy = (
        F.col("__n").cast("decimal(38,0)") * F.col("__syy")
        - F.col("__sy") * F.col("__sy")
    ).cast("double")
    r = F.when(
        (vx > 0) & (vy > 0), F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6)
    )
    if gcols:
        scored = suff.join(n_days, gcols).select(
            *gcols,
            "lag",
            F.col("__n").alias("n_pairs"),
            r.alias("acf"),
            "__nd",
        )
        w = Window.partitionBy(*gcols).orderBy("lag").rowsBetween(
            Window.unboundedPreceding, 0
        )
    else:
        scored = suff.crossJoin(F.broadcast(n_days)).select(
            "lag", F.col("__n").alias("n_pairs"), r.alias("acf"), "__nd"
        )
        w = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    term = F.coalesce(
        F.col("acf") * F.col("acf") / F.col("n_pairs"), F.lit(0.0)
    )
    return scored.select(
        *gcols,
        "lag",
        "n_pairs",
        "acf",
        F.round(nd * (nd + 2.0) * F.sum(term).over(w), 6).alias(
            "ljung_box_q"
        ),
    ).orderBy(*gcols, "lag")


#: Euler-Mascheroni constant (Gumbel mean offset), fixed literal so
#: every engine computes the identical double expression.
EULER_GAMMA = 0.5772156649015329


def gumbel_return_level(
    daily: DataFrame,
    value_col: str = "total",
    block: str = "month",
    return_periods: tuple[int, ...] = (12, 60),
    group_col: str | None = None,
) -> DataFrame:
    """Extreme-value digest of a daily integer series: Gumbel fit over
    block maxima plus return levels, one row
    ``(n_blocks, max_observed, mu, beta, rl_<T>...)``.

    Classic EVT workflow (Gumbel/EV1, method of moments): aggregate the
    daily frame to per-``block`` maxima (months by default), fit
    location/scale from the maxima's mean and standard deviation
    (``beta = s·sqrt(6)/pi``, ``mu = mean − gamma·beta``), and report
    the T-block return level ``mu − beta·ln(−ln(1 − 1/T))`` — "the
    daily peak we should see about once a year (T=12) / once in five
    years (T=60)".  The capacity-planning question ("is this spike
    unprecedented, or the expected annual extreme?") that z-score and
    CUSUM gates — which model the CENTER — cannot answer.

    Exactness: block maxima are exact integers (max of a daily integer
    frame); their three sufficient statistics accumulate as
    DECIMAL(38,0); mean/std/levels convert ONCE to doubles in fixed
    expressions with literal constants — BIT-IDENTICAL across engines,
    and deliberately emitted UNROUNDED: with exact inputs and a fixed
    expression tree the raw double is already deterministic, while a
    decimal rounding step can CREATE a cross-engine tie (Spark rounds
    the shortest decimal string HALF_UP, other engines round the
    binary value — observed disagreeing on an exact ...5 at the 6th
    decimal of a return level).  Degenerate inputs (fewer than 2
    blocks, zero variance) yield NULL fit columns rather than a
    division error.

    Plan: the daily frame is calendar-bounded, so the block aggregate
    and 1-row digest are post-aggregation trivia; the expensive part
    (the upstream daily aggregate) stays fully parallel.  With
    ``group_col`` the fit is computed PER GROUP over a
    one-row-per-(group, day) frame — same plan, one more grouping key,
    one digest row per group.  Extension — no reference counterpart;
    completes the tail-risk family (MAD / winsorize gate the bulk,
    this models the extremes).
    """
    if len(return_periods) == 0:
        raise ValueError("provide at least one return period")
    if any(t < 2 for t in return_periods):
        raise ValueError("return periods must be at least 2 blocks")
    # with group_col: per-group EVT over a one-row-per-(group, day)
    # frame (real pipelines gate per source/shard) — block maxima,
    # sufficient statistics and the fit all key by group; plan shape
    # is unchanged, the aggregates just carry one more key
    gcols = [group_col] if group_col else []
    daily = daily.where(
        F.col("day").isNotNull() & F.col(value_col).isNotNull()
    )
    if group_col:
        daily = daily.where(F.col(group_col).isNotNull())
    blocks = daily.groupBy(
        *gcols, F.date_trunc(block, F.col("day")).alias("__b")
    ).agg(F.max(value_col).alias("__m"))
    return gumbel_fit_from_maxima(
        blocks, "__m", return_periods, group_cols=gcols
    )


def gumbel_fit_from_maxima(
    blocks: DataFrame,
    max_col: str = "__m",
    return_periods: tuple[int, ...] = (12, 60),
    group_cols: tuple | list = (),
) -> DataFrame:
    """Gumbel moments fit + return levels from an ALREADY-AGGREGATED
    block-maxima frame (one row per block, integer maxima) — the shared
    tail of :func:`gumbel_return_level`, exposed so incremental
    pipelines (a streaming per-block MAX state, which is associative
    and therefore exactly equals the batch block maxima at any drain
    point) can fit the same digest over their drained state."""
    gcols = list(group_cols)
    if max_col != "__m":
        blocks = blocks.withColumn("__m", F.col(max_col))
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    suff = blocks.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__m").cast("decimal(38,0)")).alias("__s"),
        F.sum(
            (d19(F.col("__m")) * F.col("__m")).cast("decimal(38,0)")
        ).alias("__ss"),
        F.max("__m").cast("bigint").alias("max_observed"),
    )
    n = F.col("__n").cast("double")
    mean = F.col("__s").cast("double") / n
    # sample variance from exact integer sums: (n·Σm² − (Σm)²)/(n·(n−1))
    var_num = (
        F.col("__n").cast("decimal(38,0)") * F.col("__ss")
        - F.col("__s") * F.col("__s")
    ).cast("double")
    ok = (F.col("__n") >= 2) & (var_num > 0)
    s = F.sqrt(var_num / (n * (n - 1.0)))
    beta = s * math.sqrt(6.0) / math.pi
    mu = mean - F.lit(EULER_GAMMA) * beta
    out = [
        *gcols,
        F.col("__n").cast("bigint").alias("n_blocks"),
        "max_observed",
        F.when(ok, mu).alias("mu"),
        F.when(ok, beta).alias("beta"),
    ]
    for t in return_periods:
        rl = mu - beta * math.log(-math.log(1.0 - 1.0 / t))
        out.append(F.when(ok, rl).alias(f"rl_{t}"))
    return suff.select(*out)


def kendall_tau_b(
    daily: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Kendall rank correlation (tau-b, tie-adjusted) between two daily
    series, one digest row ``(n_days, concordant, discordant, tau_b)``
    — the rank-correlation companion to :func:`spearman` that degrades
    gracefully under heavy ties (spearman's rank variance shrinks; the
    tau-b denominator corrects for tie mass on BOTH variables), and to
    :func:`mann_kendall` (which is exactly Kendall tau of value against
    time; this operator correlates two VALUE series).

    ``tau_b = (C − D) / sqrt((n0 − t_x)(n0 − t_y))`` with
    ``n0 = n(n−1)/2`` and tie terms ``t = Σ_g t_g(t_g−1)/2``; C/D count
    concordant/discordant day pairs.  All five terms are exact integers
    (the pair join emits sgn products; tie groups come from two tiny
    aggregates), converted once to doubles.  NULL when either variable
    is fully tied (zero denominator).

    Scale: the all-pairs join runs on the CALENDAR-BOUNDED daily frame
    — the same O(days²) shape as :func:`theil_sen_slope`, independent
    of fact-table row count; the upstream daily aggregate is the only
    data-sized stage.  Extension — no reference counterpart.
    """
    from ..pipeline._util import materialize_once

    # the daily frame is calendar-bounded (tiny) but its upstream
    # aggregate scans the fact table; four digest branches (pair join
    # sides, two tie aggregates, n) would re-scan it four times —
    # persist the small frame, not the big subtree
    base = materialize_once(
        daily.where(
            F.col("day").isNotNull()
            & F.col(x_col).isNotNull()
            & F.col(y_col).isNotNull()
        )
    )
    a = base.select(
        F.col("day").alias("d1"),
        F.col(x_col).alias("x1"),
        F.col(y_col).alias("y1"),
    )
    b = base.select(
        F.col("day").alias("d2"),
        F.col(x_col).alias("x2"),
        F.col(y_col).alias("y2"),
    )
    sgn = lambda u, v: F.signum((v - u).cast("double")).cast("long")  # noqa: E731
    prod = sgn(F.col("x1"), F.col("x2")) * sgn(F.col("y1"), F.col("y2"))
    pair = (
        a.join(b, F.col("d1") < F.col("d2"))
        .select(prod.alias("__p"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("__p") > 0, 1).otherwise(0)), F.lit(0)
            ).alias("__c"),
            F.coalesce(
                F.sum(F.when(F.col("__p") < 0, 1).otherwise(0)), F.lit(0)
            ).alias("__d"),
        )
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    def tie_term(col: str, alias: str) -> DataFrame:
        return (
            base.groupBy(F.col(col).alias("__v"))
            .agg(F.count(F.lit(1)).alias("__t"))
            .agg(
                F.coalesce(
                    F.sum(d38(F.col("__t")) * (F.col("__t") - 1)),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias(alias)  # 2·Σ t(t−1)/2, halved in the digest
            )
        )

    n_frame = base.agg(F.count(F.lit(1)).alias("__n"))
    combined = (
        n_frame.crossJoin(pair)
        .crossJoin(tie_term(x_col, "__tx2"))
        .crossJoin(tie_term(y_col, "__ty2"))
    )
    n = F.col("__n").cast("double")
    n0x2 = n * (n - 1.0)  # 2·n0
    den = F.sqrt(
        (n0x2 - F.col("__tx2").cast("double"))
        * (n0x2 - F.col("__ty2").cast("double"))
    ) / 2.0
    cd = (F.col("__c") - F.col("__d")).cast("double")
    return combined.select(
        F.col("__n").cast("bigint").alias("n_days"),
        F.col("__c").cast("bigint").alias("concordant"),
        F.col("__d").cast("bigint").alias("discordant"),
        F.when(den > 0, cd / den).alias("tau_b"),
    )


def logrank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
) -> DataFrame:
    """Two-group log-rank test — the hypothesis-test companion to
    :func:`kaplan_meier` ("are these two survival curves actually
    different, or is the gap noise?"), one digest row
    ``(n_1, n_2, observed_1, expected_1, chi2)``.

    Standard Mantel-Haenszel construction: at each distinct event time
    ``t_j`` with ``d_j`` total events, ``n_gj`` at risk per group,
    expected events ``e_1j = d_j·n_1j/n_j`` and hypergeometric
    variance ``v_j = d_j·(n_1j/n_j)·(n_2j/n_j)·(n_j−d_j)/(n_j−1)``;
    ``χ² = (O_1 − E_1)² / V`` with O/E/V summed over event times
    (χ²(1) under "same curve").  Ties handled exactly (counts, not
    ranks); time points where a group has no one at risk contribute
    their exact terms; ``n_j < 2`` rows contribute zero variance.

    Scale & determinism: subjects collapse to the per-(duration)
    histogram with per-group event/censor counts — one groupBy shuffle.
    At-risk counts come from the bucket-partitioned cumulative
    (operators.stats) whose grand totals double as the group sizes (no
    second subject scan), so NO unpartitioned window exists at any
    duration grain; the O/E/V totals are one plain aggregate over the
    per-event-time terms, accumulated as 12dp pre-rounded exact
    decimals (order-free — the cox decimal-fold contract; per-term
    doubles are bit-identical across engines, and the 6dp output
    rounding absorbs the 1e-12 quantization grid).  Extension — no
    reference counterpart.
    """
    from .stats import _bucketed_global_cums

    two = (
        df.select(F.col(group_col).alias("__g"))
        .where(F.col("__g").isNotNull())
        .distinct()
        .orderBy("__g")
        .limit(3)
        .collect()
    )
    if len(two) != 2:
        raise ValueError(
            f"log-rank needs exactly two groups, got "
            f"{[r['__g'] for r in two]}"
        )
    g1 = two[0]["__g"]
    base = df.where(
        F.col(duration_col).isNotNull()
        & F.col(event_col).isNotNull()
        & F.col(group_col).isNotNull()
    ).select(
        F.col(duration_col).alias("__t"),
        F.when(F.col(group_col) == F.lit(g1), 1).otherwise(0).alias("__is1"),
        F.col(event_col).cast("int").alias("__e"),
    )
    hist = base.groupBy(F.col("__t").alias("v")).agg(
        F.sum(F.when(F.col("__is1") == 1, F.col("__e")).otherwise(0))
        .alias("d1"),
        F.sum(F.when(F.col("__is1") == 0, F.col("__e")).otherwise(0))
        .alias("d2"),
        F.count(F.when(F.col("__is1") == 1, 1)).alias("c1"),
        F.count(F.when(F.col("__is1") == 0, 1)).alias("c2"),
    )
    cums, tot = _bucketed_global_cums(
        hist,
        ["c1", "c2"],
        carry_cols=["d1", "d2"],
        return_totals=True,
        empty_ok=True,
        small_frame_rows=SMALL_SURVIVAL_FRAME,
    )
    t1, t2 = int(tot["c1"]), int(tot["c2"])
    # at risk AT t = total − subjects whose duration < t; the exclusive
    # running count is the inclusive bucketed cumulative minus own
    at1 = F.lit(t1) - (F.col("cum_c1") - F.col("c1"))
    at2 = F.lit(t2) - (F.col("cum_c2") - F.col("c2"))
    terms = cums.select(
        "d1",
        "d2",
        at1.alias("n1"),
        at2.alias("n2"),
    ).where((F.col("d1") + F.col("d2")) > 0)
    d = (F.col("d1") + F.col("d2")).cast("double")
    nn = (F.col("n1") + F.col("n2")).cast("double")
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    e1 = d * n1d / nn
    v = F.when(
        nn > 1.0,
        d * (n1d / nn) * (n2d / nn) * (nn - d) / (nn - 1.0),
    ).otherwise(F.lit(0.0))
    # O/E/V as ONE plain aggregate: partial-agg'd, no ordered window;
    # the doubles enter as 12dp pre-rounded exact decimals, so the sum
    # is order-independent and engine-identical
    dec12 = lambda c: F.round(c, 12).cast("decimal(38,12)")  # noqa: E731
    agg = terms.agg(
        F.sum("d1").alias("o1"),
        F.sum(dec12(e1)).alias("e1"),
        F.sum(dec12(v)).alias("vv"),
    ).where(F.col("o1").isNotNull())
    e1d = F.col("e1").cast("double")
    vvd = F.col("vv").cast("double")
    chi2 = F.when(
        vvd > 0,
        (F.col("o1").cast("double") - e1d)
        * (F.col("o1").cast("double") - e1d)
        / vvd,
    )
    return agg.select(
        F.lit(t1).cast("bigint").alias("n_1"),
        F.lit(t2).cast("bigint").alias("n_2"),
        F.col("o1").cast("bigint").alias("observed_1"),
        F.round(e1d, 6).alias("expected_1"),
        F.round(chi2, 6).alias("chi2"),
    )


def cox_score_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    covariate_col: str,
) -> DataFrame:
    """Cox proportional-hazards SCORE test for a single numeric
    covariate — "does this covariate associate with the hazard?"
    without fitting anything: the score test at β = 0 is
    iteration-free, so the whole statistic is one relational plan.
    One digest row ``(n_subjects, n_events, u_score, information,
    chi2)`` where, with Breslow tie handling,

        U = Σ_t ( Σ_{events at t} x_i − d_t · x̄(t) )
        I = Σ_t d_t · ( s2(t)/n(t) − x̄(t)² )
        χ² = U² / I   ~ χ²(1) under "no association"

    and ``x̄(t) = s1(t)/n(t)`` with ``n/s1/s2`` the size / covariate
    sum / covariate square-sum of the risk set at event time ``t``.
    For a binary 0/1 covariate this is exactly the (untie-corrected)
    log-rank test — the continuous-covariate generalization of
    :func:`logrank_test`.

    Scale & determinism: subjects collapse to the per-duration
    histogram (one groupBy shuffle — the Kaplan-Meier plan); risk-set
    aggregates come from the bucket-partitioned cumulative
    (operators.stats) — ``Σ_{duration >= t} = total − exclusive
    cumulative`` with the totals free from the scaffold's offsets fold
    (which also supplies ``n_subjects``, so the fact table is scanned
    exactly once) — no unpartitioned window and no per-subject window
    at any duration grain.  The
    covariate is cast to DECIMAL(18,6) and all risk-set sums stay
    decimal-EXACT (order-independent); doubles appear only in the
    per-event-time terms (string-routed decimal->double conversions,
    correctly rounded on every engine), and U/I accumulate the
    6dp-pre-rounded terms as exact decimals — no double ever flows
    through an order-sensitive sum, so the digest is bit-reproducible
    at any partitioning.  Feed an exactly-representable covariate
    (integer cents) for bit-stable results.  Zero information (constant
    covariate / no events) yields NULL chi2, never a division error; no
    observed events yields an empty digest.  Extension — no reference
    counterpart.
    """
    from .stats import _bucketed_global_cums

    base = df.where(
        F.col(duration_col).isNotNull()
        & F.col(event_col).isNotNull()
        & F.col(covariate_col).isNotNull()
    ).select(
        F.col(duration_col).alias("__t"),
        F.col(event_col).cast("int").alias("__e"),
        F.col(covariate_col).cast("decimal(18,6)").alias("__x"),
    )
    zero = F.lit(0).cast("decimal(18,6)")
    hist = base.groupBy(F.col("__t").alias("v")).agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("__e").alias("d"),
        F.sum(F.when(F.col("__e") == 1, F.col("__x")).otherwise(zero))
        .alias("sxe"),
        F.sum("__x").alias("sx"),
        F.sum(F.col("__x") * F.col("__x")).alias("sx2"),
    )
    # risk set at t = everyone with duration >= t: grand total minus
    # the EXCLUSIVE ascending cumulative, both from the bucket-
    # partitioned scaffold — exact decimal arithmetic, identical values
    # to a DESC-ordered sequential sum, and the totals fold hands back
    # n_subjects without a second fact-table scan
    cums, tot = _bucketed_global_cums(
        hist,
        ["m", "sx", "sx2"],
        carry_cols=["d", "sxe"],
        return_totals=True,
        empty_ok=True,
        small_frame_rows=SMALL_SURVIVAL_FRAME,
    )
    n_subjects = int(tot["m"])

    def _dlit(value, scale: int):
        return F.expr(
            f"CAST('{format(value, 'f')}' AS DECIMAL(38,{scale}))"
        )

    risk = cums.select(
        F.col("v").alias("__t"),
        "d",
        "sxe",
        (F.lit(n_subjects) - (F.col("cum_m") - F.col("m"))).alias("n"),
        (_dlit(tot["sx"], 6) - (F.col("cum_sx") - F.col("sx")))
        .alias("s1"),
        (_dlit(tot["sx2"], 6) - (F.col("cum_sx2") - F.col("sx2")))
        .alias("s2"),
    ).where(F.col("d") > 0)
    # decimal -> STRING -> double: engines convert wide decimals to
    # doubles through different internal paths (scaled-int divide vs
    # BigDecimal), which can differ by 1 ulp at >2^53 magnitudes; a
    # string round-trip is exact on the decimal side and the parse is
    # correctly rounded to nearest in both engines — bit-identical.
    dd = F.col("d").cast("double")
    nd = F.col("n").cast("double")
    xbar = F.col("s1").cast("string").cast("double") / nd
    u_t = F.col("sxe").cast("string").cast("double") - dd * xbar
    i_t = dd * (
        F.col("s2").cast("string").cast("double") / nd - xbar * xbar
    )
    # U/I accumulate as exact decimals of the 6dp-PRE-ROUNDED per-term
    # doubles: the per-term values are bit-identical across engines
    # (exact inputs, fixed expression grouping), but a cumulative
    # double sum is NOT — window-sum implementations group additions
    # differently (sequential vs segment tree), and at |U| ~ 1e10 a few
    # ulps exceed the 6dp rounding grid.  Decimal addition is
    # order-independent, so the digest is reproducible on any engine
    # and any partitioning; the quantization error is <= 5e-7 per event
    # time — noise for a chi-square gate.
    u_t6 = F.round(u_t, 6).cast("decimal(38,6)")
    i_t6 = F.round(i_t, 6).cast("decimal(38,6)")
    agg = risk.agg(
        F.sum("d").alias("ev"),
        F.sum(u_t6).alias("u"),
        F.sum(i_t6).alias("info"),
    ).where(F.col("ev").isNotNull())  # no events -> empty digest
    u_d = F.col("u").cast("string").cast("double")
    i_d = F.col("info").cast("string").cast("double")
    chi2 = F.when(i_d > 0, u_d * u_d / i_d)
    return agg.select(
        F.lit(n_subjects).cast("bigint").alias("n_subjects"),
        F.col("ev").cast("bigint").alias("n_events"),
        F.round(u_d, 6).alias("u_score"),
        F.round(i_d, 6).alias("information"),
        F.round(chi2, 6).alias("chi2"),
    )


def pettitt_changepoint(
    daily: DataFrame, value_col: str = "total"
) -> DataFrame:
    """Pettitt rank-based change-point test over a daily integer
    series: one row ``(n_days, k_stat, change_day, p_value)`` — the
    nonparametric companion to :func:`cusum_changepoint` (which is
    mean-based and outlier-sensitive).  Pettitt finds the most likely
    split against a MEDIAN shift and is the standard pick for
    heavy-tailed daily volumes (Pettitt 1979).

    Statistic: with mid-ranks r_i of the values (ties take the average
    rank), ``U_t = 2·Σ_{i≤t} r_i − t·(n+1)``; the test reports
    ``K = max_t |U_t|`` (earliest argmax day on ties) and the standard
    approximation ``p ≈ min(1, 2·exp(−6K² / (n³ + n²)))``.

    Exactness: mid-ranks are exact halves, so ``2·r_i`` is an exact
    integer — the cumulative ``2·Σ r_i`` accumulates in
    ``decimal(38,0)`` and U_t is integer-exact on every engine; only
    the reported p divides, once, as a double.  Both ordered windows
    (the rank pass over values and the cumulative pass over days) run
    on the DAILY frame — calendar-bounded (~10^4 rows for decades),
    never the fact table; the aggregate feeding it is fully parallel
    upstream.  The argmax is TakeOrdered(1), not a global sort.
    Extension — no reference counterpart.
    """
    base = daily.where(
        F.col("day").isNotNull() & F.col(value_col).isNotNull()
    ).select("day", F.col(value_col).cast("long").alias("__x"))
    dec = "decimal(38,0)"
    # mid-rank r_i = min_rank + (ties - 1)/2, so 2*r = 2*min_rank + t - 1
    two_r = (
        F.lit(2).cast(dec) * F.rank().over(Window.orderBy("__x")).cast(dec)
        + F.count(F.lit(1))
        .over(Window.partitionBy("__x").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        ))
        .cast(dec)
        - F.lit(1).cast(dec)
    )
    ranked = base.select("day", two_r.alias("__2r"))
    w_day = Window.orderBy("day")
    w_cum = w_day.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    n_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    u = (
        F.sum("__2r").over(w_cum)
        - F.row_number().over(w_day).cast(dec)
        * (F.count(F.lit(1)).over(n_all).cast(dec) + F.lit(1).cast(dec))
    )
    scored = ranked.select(
        "day",
        F.count(F.lit(1)).over(n_all).alias("__n"),
        u.alias("__u"),
    )
    n = F.col("__n").cast("double")
    k = F.abs(F.col("__u")).cast("double")
    p = F.least(
        F.lit(1.0), 2.0 * F.exp(-6.0 * k * k / (n * n * n + n * n))
    )
    return (
        scored.orderBy(F.abs(F.col("__u")).desc(), F.col("day").asc())
        .limit(1)
        .select(
            F.col("__n").cast("bigint").alias("n_days"),
            F.abs(F.col("__u")).cast("double").alias("k_stat"),
            F.col("day").alias("change_day"),
            F.round(F.when(F.col("__n") >= 2, p), 6).alias("p_value"),
        )
    )


def nelson_aalen(
    df: DataFrame, duration_col: str, event_col: str
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard curve: one row per distinct
    duration with ``(duration, n_risk, n_events, n_censored, cumhaz,
    var_cumhaz)``.

    ``H(t) = Σ_{t_i ≤ t} d_i / n_i`` with the Aalen variance
    ``Σ d_i / n_i²`` — the estimator of choice when hazard RATES (not
    survival fractions) are compared, and numerically stable where the
    Kaplan-Meier product hits small n tails.  Shares
    :func:`kaplan_meier`'s censoring convention (``event_col`` 1 =
    observed, 0 = censored at ``duration_col``).

    Scale: identical to :func:`kaplan_meier` — one groupBy shuffle to
    the distinct-duration histogram, then the bucket-partitioned
    cumulative scaffold (operators.stats) for both the at-risk counts
    and the hazard sums: no unpartitioned window at any duration grain.
    Determinism: the per-duration hazard terms accumulate as 12dp
    pre-rounded exact decimals (order-independent, the cox decimal-fold
    contract), then round at the 6dp output grid.  Extension — no
    reference counterpart.
    """
    from .stats import _bucketed_global_cums

    risk, _ = _survival_risk_frame(df, duration_col, event_col)
    d = F.col("n_events").cast("double")
    r = F.col("n_risk").cast("double")
    staged = risk.select(
        "v",
        "n_events",
        "n_censored",
        "n_risk",
        # (20,12): see the KM __lnt width note — per-term hazard
        # values are <= 1 by construction (d <= n_risk)
        F.round(d / r, 12).cast("decimal(20,12)").alias("__h"),
        F.round(d / (r * r), 12).cast("decimal(20,12)").alias("__q"),
    )
    cum2 = _bucketed_global_cums(
        staged,
        ["__h", "__q"],
        carry_cols=["n_events", "n_censored", "n_risk"],
        empty_ok=True,
        small_frame_rows=SMALL_SURVIVAL_FRAME,
    )
    return cum2.select(
        F.col("v").alias("duration"),
        "n_risk",
        "n_events",
        "n_censored",
        F.round(F.col("cum___h").cast("double"), 6).alias("cumhaz"),
        F.round(F.col("cum___q").cast("double"), 6).alias("var_cumhaz"),
    )


def durbin_watson(
    daily: DataFrame, idx_col: str, value_col: str
) -> DataFrame:
    """Durbin-Watson first-order residual-autocorrelation statistic of
    the OLS line fit through a BOUNDED (calendar-grain) integer series:
    one digest row ``(n, slope, intercept, dw)``.

    DW ≈ 2(1 − ρ₁) of the residuals: ≈2 means the trend line left
    white noise behind; ≪2 (positive residual autocorrelation) means
    the line is systematically wrong for runs of days — drifting
    level, seasonality, or regime shifts that a bare
    :func:`trend slope <ols_trend>` gate cannot see.

    ``DW = Σ_{t≥2}(e_t − e_{t−1})² / Σ e_t²`` over residuals
    ``e_t = y_t − (b₀ + b₁·t)``.

    Exactness contract: the OLS sufficient statistics (n, Σt, Σy, Σty,
    Σt²) accumulate as DECIMAL(38,0) — exact for the integer
    index/metric — and convert to double once into the closed-form
    slope/intercept; residuals are fixed double expressions and both
    quadratic folds run as index-ORDERED cumulative windows
    (deterministic double order).  n < 3 or a degenerate index
    (zero Σ(t−t̄)²) yields NULL slope/dw.

    Scale: the input is the caller's already-aggregated bounded daily
    frame (365 rows at ANY fact scale); the fact-table shuffle happened
    upstream.  One broadcast of the 1-row OLS digest, ordered windows
    over the bounded frame only.  Extension — no reference counterpart.
    """
    d38 = "decimal(38,0)"
    from ..pipeline._util import materialize_once

    base = materialize_once(
        daily.where(
            F.col(idx_col).isNotNull() & F.col(value_col).isNotNull()
        ).select(
            F.col(idx_col).cast(d38).alias("__t"),
            F.col(value_col).cast(d38).alias("__y"),
        )
    )
    suff = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__t").alias("__st"),
        F.sum("__y").alias("__sy"),
        F.sum((F.col("__t") * F.col("__y")).cast(d38)).alias("__sty"),
        F.sum((F.col("__t") * F.col("__t")).cast(d38)).alias("__stt"),
    )
    n = F.col("__n").cast(d38)
    # n²·cov and n²·var stay DECIMAL-exact
    num = (n * F.col("__sty") - F.col("__st") * F.col("__sy")).cast("double")
    den = (n * F.col("__stt") - F.col("__st") * F.col("__st")).cast("double")
    nd = F.col("__n").cast("double")
    slope = F.when((F.col("__n") >= 3) & (den != 0), num / den)
    intercept = (
        F.col("__sy").cast("double") - slope * F.col("__st").cast("double")
    ) / nd
    ols = suff.select(
        slope.alias("__b1"), intercept.alias("__b0"), F.col("__n")
    )
    w_ord = Window.orderBy("__t")
    w_cum = Window.orderBy("__t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    e = (
        F.col("__y").cast("double")
        - (F.col("__b0") + F.col("__b1") * F.col("__t").cast("double"))
    )
    resid = base.join(F.broadcast(ols)).select(
        "__t", "__n", "__b0", "__b1", e.alias("__e")
    )
    lag_e = F.lag("__e").over(w_ord)
    step = F.when(
        lag_e.isNotNull(), (F.col("__e") - lag_e) * (F.col("__e") - lag_e)
    ).otherwise(F.lit(0.0))
    cum = resid.select(
        "__t",
        "__n",
        "__b0",
        "__b1",
        F.sum(step).over(w_cum).alias("__cnum"),
        F.sum(F.col("__e") * F.col("__e")).over(w_cum).alias("__cden"),
    )
    last = cum.orderBy(F.desc("__t")).limit(1)
    return last.select(
        F.col("__n").cast("bigint").alias("n"),
        F.round(F.col("__b1"), 6).alias("slope"),
        F.round(F.col("__b0"), 6).alias("intercept"),
        F.round(
            F.when(F.col("__cden") > 0, F.col("__cnum") / F.col("__cden")),
            6,
        ).alias("dw"),
    )


def rmst(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    horizon: float,
) -> DataFrame:
    """Restricted mean survival time: one digest row ``(horizon,
    n_durations, rmst)`` — the area under the Kaplan-Meier curve up to
    ``horizon``, i.e. the average event-free time a subject gets out of
    the first ``horizon`` time units.  The clinically-standard scalar
    summary when hazards are non-proportional (where a single hazard
    ratio misleads); pairs with :func:`kaplan_meier` (the curve) and
    the log-rank gate (the comparison).

    Computed by summation by parts: with jump sizes ``ΔS_j =
    S(t_{j-1})·d_j/n_j`` at each event time, ``RMST(τ) = τ −
    Σ_j ΔS_j · max(0, τ − t_j)`` — the integral of a right-continuous
    step function equals the horizon minus each drop times how long it
    persists.  Mathematically identical to the segment-fold form, but
    every term is PER-ROW (``S(t_{j-1}) = exp(cum_lnt − lnt_j)`` from
    the KM scaffold's exclusive cumulative) — no lag, no adjacency, no
    ordered window beyond the scaffold itself.

    Scale: everything runs on :func:`kaplan_meier`'s bucket-partitioned
    cumulative frame (no unpartitioned window at any duration grain);
    the jump terms fold as 12dp pre-rounded exact decimals in ONE plain
    aggregate — order-free, engine-reproducible.  Extension — no
    reference counterpart.
    """
    if horizon <= 0:
        raise ValueError("horizon must be positive")
    cum2 = _km_cum_frame(df, duration_col, event_col)
    tau = F.lit(float(horizon))
    # S just before t_j: exclusive cumulative = inclusive minus own
    # (exact decimal subtraction); killed-curve gate likewise exclusive
    s_prev = F.when(
        F.col("cum___dead") - F.col("__dead") >= 1, F.lit(0.0)
    ).otherwise(
        F.exp(
            (
                # (26,12) minuend: |cum ln| < 1e14 always; keeps
                # the subtraction exact at 12dp (38-wide operands
                # would spill to 11dp)
                F.col("cum___lnt").cast("decimal(26,12)")
                - F.col("__lnt")
            ).cast("double")
        )
    )
    jump = s_prev * (
        F.col("n_events").cast("double")
        / F.col("n_risk").cast("double")
    )
    contrib = (
        tau - F.least(F.col("v").cast("double"), tau)
    ) * jump
    digest = cum2.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum(F.round(contrib, 12).cast("decimal(38,12)")).alias("__j"),
    ).where(F.col("__k") > 0)
    return digest.select(
        tau.alias("horizon"),
        F.col("__k").cast("bigint").alias("n_durations"),
        F.round(tau - F.col("__j").cast("double"), 6).alias("rmst"),
    )


def forecast_backtest(
    daily: DataFrame,
    day_col: str,
    value_col: str,
    horizon: int = 14,
    period: int = 7,
) -> DataFrame:
    """Seasonal-naive forecast backtest over a calendar-grain integer
    series: one digest row ``(n_train, n_test, mae, mape_pct,
    naive_mae, mase)`` — the last ``horizon`` days are held out, each
    held-out day ``d`` is predicted FROM TRAIN ONLY by the value at
    ``d − k·period`` with ``k = ⌈(d − cut)/period⌉`` (the standard
    multi-step seasonal-naive forecast: the last in-sample period
    repeats across the whole horizon — no holdout leakage even when
    ``horizon > period``), and the errors are summarized as MAE, MAPE
    and MASE (MAE scaled by the in-sample one-step seasonal-naive MAE,
    Hyndman & Koehler 2006 — scale-free, defined even when a day is
    zero).

    The "is tomorrow's volume predictable from history?" gate: a MASE
    creeping above 1 means even the trivial weekly-repeat model has
    stopped working — regime change, broken ingestion, or a calendar
    anomaly — long before any absolute threshold fires.

    Exactness: the self-join on ``day − period`` is an equi-join on the
    bounded daily frame (persisted once); absolute errors of integers
    are exact integers and accumulate as DECIMAL(38,0); the three
    ratios happen once in double.  Degenerate inputs (no test rows, a
    zero denominator) yield NULL for the affected ratio.  Extension —
    no reference counterpart.

    Plan: the caller's one fact-table aggregate, then broadcast-scale
    equi-joins and 1-row folds on the bounded calendar frame only.
    """
    if horizon < 1 or period < 1:
        raise ValueError("horizon and period must be positive")
    from ..pipeline._util import materialize_once

    d38 = "decimal(38,0)"
    base = materialize_once(
        daily.where(
            F.col(day_col).isNotNull() & F.col(value_col).isNotNull()
        ).select(
            F.col(day_col).cast("date").alias("__d"),
            F.col(value_col).cast(d38).alias("__y"),
        )
    )
    split = base.agg(
        F.date_sub(F.max("__d"), horizon).alias("__cut"),
    )
    with_cut = base.join(F.broadcast(split))
    train = with_cut.where(F.col("__d") <= F.col("__cut"))
    test = with_cut.where(F.col("__d") > F.col("__cut"))
    # predictions come from TRAIN rows only: step back a whole number
    # of periods to the most recent same-phase day at or before the
    # cut (k = ceil((d − cut)/period), integer arithmetic)
    lookup = train.select(
        F.col("__d").alias("__pd"),
        F.col("__y").alias("__pred"),
    )
    k = F.expr(
        f"(datediff(__d, __cut) + {period - 1}) div {period}"
    )
    scored = (
        test.withColumn(
            "__pd", F.date_sub(F.col("__d"), (k * period).cast("int"))
        )
        .join(lookup, "__pd")
        .select(
            "__d",
            F.abs(F.col("__y") - F.col("__pred")).cast(d38).alias("__err"),
            F.col("__y").alias("__actual"),
        )
    )
    # the APE sum is doubles — fold it in day order (bounded test
    # frame) so both engines add identically regardless of partitioning
    w_cum = Window.orderBy("__d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ape = F.when(
        F.col("__actual") != 0,
        F.abs(F.col("__err").cast("double"))
        / F.abs(F.col("__actual").cast("double")),
    )
    folded = scored.select(
        "__d",
        F.count(F.lit(1)).over(w_cum).alias("n_test"),
        F.sum("__err").over(w_cum).alias("__serr"),
        F.sum(ape).over(w_cum).alias("__sape"),
        F.count(F.when(F.col("__actual") != 0, 1)).over(w_cum).alias(
            "__n_ape"
        ),
    )
    test_agg = folded.orderBy(F.desc("__d")).limit(1).drop("__d")
    insample = (
        train.join(
            train.select(
                F.date_add(F.col("__d"), period).alias("__d"),
                F.col("__y").alias("__prev"),
            ),
            "__d",
        )
        .agg(
            F.count(F.lit(1)).alias("__n_in"),
            F.sum(
                F.abs(F.col("__y") - F.col("__prev")).cast(d38)
            ).alias("__sin"),
        )
    )
    n_train = train.agg(F.count(F.lit(1)).alias("n_train"))
    out = test_agg.join(F.broadcast(insample)).join(F.broadcast(n_train))
    mae = F.when(
        F.col("n_test") > 0,
        F.col("__serr").cast("double") / F.col("n_test").cast("double"),
    )
    mape = F.when(
        F.col("__n_ape") > 0,
        F.col("__sape") / F.col("__n_ape").cast("double") * 100.0,
    )
    naive_mae = F.when(
        F.col("__n_in") > 0,
        F.col("__sin").cast("double") / F.col("__n_in").cast("double"),
    )
    return out.select(
        F.col("n_train").cast("bigint").alias("n_train"),
        F.col("n_test").cast("bigint").alias("n_test"),
        F.round(mae, 6).alias("mae"),
        F.round(mape, 6).alias("mape_pct"),
        F.round(naive_mae, 6).alias("naive_mae"),
        F.round(
            F.when(naive_mae > 0, mae / naive_mae), 6
        ).alias("mase"),
    )
