"""Scalar / aggregate metric operators.

Spark-first re-expression of the aggregate queries in
/root/reference/src/datajudge/db_access.py (row counts :740-756, min/max
:789-800, mean :803-809, percentile :812-857, lengths :860-875, fraction
between :878-903, missing fraction :967-986, date span :224-299, date growth
:302-313).

Every operator returns ``(value, [DataFrame, ...])`` — the DataFrames are the
lazy plans that produced the value, rendered into failure messages only when a
constraint fails (see ``plans.py``). Only O(1) values cross the driver
boundary; all O(rows) work stays on executors inside whole-stage codegen.

Scale notes (100 TB design):
- counts, missing/between fractions, min/max/avg and length extremes are
  declared as ``ScalarAgg``s; ``run_scalar_aggs`` computes any number of
  them that read one source in a single partial + final aggregation (one
  scan, no full shuffle), each restricted to its own condition.  The
  ``get_*`` functions below run one declaration alone.
- every exact percentile (single, bands, weighted, any orderable type)
  runs one kernel, ``_exact_percentiles``, and avoids a global
  row_number window (single-partition hazard, reference
  db_access.py:821-825): a range probe (min, max, count; a ``range``
  ``ScalarAgg``, so a requirement folds it into its shared aggregate),
  range-bucket histograms that locate each target's bucket, and one
  final aggregate over those buckets for all targets — four Spark jobs
  for one numeric target when the probe is shared, no private shuffle
  or cache, identical result, state bounded by
  ``PERCENTILE_REFINE_ROWS``.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass
from fractions import Fraction
from functools import partial
from itertools import accumulate

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..condition import Condition, merge_conditions
from ..pipeline._util import resolve_source
from ..reference import DataReference

_Plans = list[DataFrame]


@dataclass(frozen=True)
class ScalarAgg:
    """One scalar retrieval that can share a scan with others: ``kind``
    over ``ref``'s single column (no column for ``"count"``), restricted
    to ``ref``'s condition.

    Kinds: ``count`` (capped at ``cap`` when one is given),
    ``missing_fraction``, ``fraction_between`` (``lower <= col <=
    upper``), ``min``, ``max``, ``mean``, ``min_length``,
    ``max_length``, and ``range``: the ``(min, max, non-null count)``
    probe of the exact percentile.
    """

    kind: str
    ref: DataReference
    cap: int | None = None
    lower: str | float | None = None
    upper: str | float | None = None


# one-value kinds: (aggregate function, per-row value of the column)
_ONE_VALUE = {
    "min": (F.min, lambda c: c),
    "max": (F.max, lambda c: c),
    # avg(cast(col AS double)) (reference casts to DECIMAL,
    # db_access.py:803-809; Spark's avg over integers is already exact
    # in double for < 2^53 sums)
    "mean": (F.avg, lambda c: c.cast("double")),
    "min_length": (F.min, F.length),
    "max_length": (F.max, F.length),
}

# kinds read as two counts: (all rows, rows that hit), in this order
_TWO_COUNTS = {
    "missing_fraction": ("n_total", "n_missing"),
    "fraction_between": ("n_all", "n_filtered"),
}

# aggregate columns per kind, where more than one
_WIDTH = {"range": 3, **{kind: 2 for kind in _TWO_COUNTS}}


def _named_aggs(agg: ScalarAgg, on=lambda x: x) -> list[tuple[str, Column]]:
    """``agg``'s aggregate columns with the names its own plan gives
    them; ``on`` wraps every per-row input (the shared scan passes
    ``F.when(condition, ...)``)."""
    if agg.kind == "count":
        return [("count", F.count(on(F.lit(1))))]
    column = F.col(agg.ref.get_column())
    if agg.kind in _ONE_VALUE:
        fn, per_row = _ONE_VALUE[agg.kind]
        return [("value", fn(on(per_row(column))))]
    if agg.kind == "range":
        return [
            ("lo", F.min(on(column))),
            ("hi", F.max(on(column))),
            ("total", F.count(on(column))),
        ]
    if agg.kind == "missing_fraction":
        # reference db_access.py:967-986 uses two counts; one scan here
        hit = column.isNull()
    else:
        # reference db_access.py:878-903 runs two counts; one scan here
        name = agg.ref.get_column()
        hit = Condition(
            conditions=[
                Condition(raw_string=f"{name} >= {agg.lower}"),
                Condition(raw_string=f"{name} <= {agg.upper}"),
            ],
            reduction_operator="and",
        ).to_column()
    n_rows, n_hit = _TWO_COUNTS[agg.kind]
    return [
        (n_rows, F.count(on(F.lit(1)))),
        (n_hit, F.count(on(F.when(hit, 1)))),
    ]


def _finish(agg: ScalarAgg, values: list) -> object:
    """The retrieval's value from its aggregate columns."""
    if agg.kind == "count":
        return min(values[0], agg.cap) if agg.cap else values[0]
    if agg.kind == "mean":
        return float(values[0]) if values[0] is not None else None
    if agg.kind == "missing_fraction":
        n_total, n_missing = values
        return 0 if n_total == 0 else n_missing / n_total
    if agg.kind == "fraction_between":
        n_all, n_filtered = values
        return None if n_all == 0 else n_filtered / n_all
    if agg.kind == "range":
        return tuple(values)
    return values[0]


def _own_plan(df: DataFrame, agg: ScalarAgg) -> _Plans:
    """``agg``'s own plan, as failure messages show it: ``ref``'s
    selection of ``df`` (LIMIT-capped for a capped count), else the
    aggregate over that selection."""
    selection = agg.ref.select_from(df)
    if agg.kind == "count":
        return [selection.limit(agg.cap) if agg.cap else selection]
    return [selection.select(*[c.alias(n) for n, c in _named_aggs(agg)])]


def _fused_frame(df: DataFrame, aggs: list[ScalarAgg]) -> DataFrame:
    """One global aggregate over ``df`` holding every column of every
    declaration, in order.  Each condition wraps its own inputs as
    ``F.when(condition, ...)``, so declarations with different
    conditions share the scan; when every declaration has a condition,
    their disjunction also filters the scan (and reaches the parquet
    reader as a pushed filter)."""
    conditions = [agg.ref.condition for agg in aggs]
    columns = []
    for agg, condition in zip(aggs, conditions):
        if condition is None:
            columns += [c for _, c in _named_aggs(agg)]
        else:
            cond = condition.to_column()
            named = _named_aggs(agg, lambda x: F.when(cond, x))
            columns += [c for _, c in named]
    if all(c is not None for c in conditions):
        distinct = list(dict.fromkeys(str(c) for c in conditions))
        df = df.where(F.expr(" OR ".join(f"({c})" for c in distinct)))
    return df.agg(*[c.alias(f"v{k}") for k, c in enumerate(columns)])


def run_scalar_aggs(
    df: DataFrame, aggs: list[ScalarAgg]
) -> list[tuple[object, Callable[[], _Plans]]]:
    """Compute every declaration in ``aggs`` with ONE Spark aggregate
    over ``df``, the source frame they all read.

    Returns ``(value, plans)`` per declaration, in order.  ``plans``
    builds, when called, the plan the declaration runs when computed
    alone, from the same ``df`` — failure messages render it, so the
    happy path never builds it and no source is resolved twice.
    """
    row = _fused_frame(df, aggs).collect()[0]
    out, start = [], 0
    for agg in aggs:
        width = _WIDTH.get(agg.kind, 1)
        value = _finish(agg, list(row[start:start + width]))
        out.append((value, partial(_own_plan, df, agg)))
        start += width
    return out


def _run_alone(spark: SparkSession, agg: ScalarAgg) -> tuple[object, _Plans]:
    df = resolve_source(spark, agg.ref.data_source)
    ((value, plans),) = run_scalar_aggs(df, [agg])
    return value, plans()


def get_row_count(
    spark: SparkSession, ref: DataReference, row_limit: int | None = None
) -> tuple[int, _Plans]:
    """Number of rows, optionally capped at ``row_limit``
    (reference db_access.py:740-756)."""
    return _run_alone(spark, ScalarAgg("count", ref, cap=row_limit))


def get_min(spark: SparkSession, ref: DataReference) -> tuple[object, _Plans]:
    return _run_alone(spark, ScalarAgg("min", ref))


def get_max(spark: SparkSession, ref: DataReference) -> tuple[object, _Plans]:
    return _run_alone(spark, ScalarAgg("max", ref))


def get_mean(spark: SparkSession, ref: DataReference) -> tuple[object, _Plans]:
    return _run_alone(spark, ScalarAgg("mean", ref))


def get_min_length(spark: SparkSession, ref: DataReference) -> tuple[object, _Plans]:
    return _run_alone(spark, ScalarAgg("min_length", ref))


def get_max_length(spark: SparkSession, ref: DataReference) -> tuple[object, _Plans]:
    return _run_alone(spark, ScalarAgg("max_length", ref))


def get_fraction_between(
    spark: SparkSession,
    ref: DataReference,
    lower_bound: str | float,
    upper_bound: str | float,
) -> tuple[float | None, _Plans]:
    """Fraction of rows with ``lower <= col <= upper``; None on an empty
    selection."""
    return _run_alone(
        spark,
        ScalarAgg("fraction_between", ref, lower=lower_bound, upper=upper_bound),
    )


def get_missing_fraction(
    spark: SparkSession, ref: DataReference
) -> tuple[float, _Plans]:
    """NULL fraction of the ref's column; 0 on an empty selection."""
    return _run_alone(spark, ScalarAgg("missing_fraction", ref))


#: Range-bucket count of each level of the exact percentile's walk.
PERCENTILE_BUCKETS = 4096

#: Refine a target range-bucket while it still holds more rows than
#: this — the bound on what the final step is ever asked to sort on
#: one task.
PERCENTILE_REFINE_ROWS = 65536

_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")


def _order_proxy_expr(non_null, column: str, dtype: str):
    """A numeric Column that is (non-strictly) MONOTONE in ``column``'s
    sort order, used only to range-bucket non-numeric orderable types —
    never to compare values (ties at proxy granularity just share a
    bucket, and the final step orders by the true value).

    - date: days since epoch (exact, strictly monotone)
    - timestamp / timestamp_ntz: microseconds since epoch (exact; µs
      magnitudes ~1e15 stay below 2^53, so the double is exact)
    - string: the first 6 bytes AFTER the column-wide common prefix,
      zero-right-padded and read big-endian as a 48-bit integer.  Spark
      and DuckDB both order strings by unsigned UTF-8 byte comparison,
      so the byte prefix is monotone; the zero padding keeps shorter
      strings ordered before their extensions; 48 bits stay exact in a
      double.  Stripping the shared prefix (computed from one min/max
      agg) is what gives key-style columns ('Customer#000…') usable
      buckets instead of one hot bucket.

    The returned expression reads the column via the alias ``__pv_src``
    (callers project ``column AS __pv_src`` first — sidesteps SQL
    identifier quoting inside the string branch's ``expr``).  Returns
    None for types without a cheap monotone proxy (binary, boolean, …) —
    callers then put every row in one bucket (the distinct-value
    histogram).
    """
    if dtype == "date":
        return F.datediff(
            F.col("__pv_src"), F.lit("1970-01-01")
        ).cast("double")
    if dtype in ("timestamp", "timestamp_ntz"):
        ts = F.col("__pv_src")
        if dtype == "timestamp_ntz":
            ts = ts.cast("timestamp")
        return F.unix_micros(ts).cast("double")
    if dtype == "string":
        mm = non_null.agg(
            F.min(column).alias("lo"), F.max(column).alias("hi")
        ).first()
        if mm is None or mm["lo"] is None:
            return F.lit(0.0)  # empty selection; caught by total == 0
        blo = mm["lo"].encode("utf-8")
        bhi = mm["hi"].encode("utf-8")
        k = 0
        while k < len(blo) and k < len(bhi) and blo[k] == bhi[k]:
            k += 1
        return F.expr(
            "CAST(conv(hex(rpad(substring(CAST(__pv_src AS BINARY), "
            f"{k + 1}, 6), 6, x'00')), 16, 10) AS DOUBLE)"
        )
    return None


@dataclass(eq=False)
class _Range:
    """The rows ``pred`` keeps (all rows when it is None): one bucket of
    every level walked so far.  Their keys span ``[lo, hi]``; they hold
    ``rows`` rows of total ``mass``, and ``before`` is the mass of all
    rows below them."""

    pred: Column | None
    lo: float
    hi: float
    rows: int
    mass: int
    before: int

    def splits(self) -> bool:
        # a range that is one double, or not finite (NaN, +-inf),
        # cannot be split
        return self.hi > self.lo and math.isfinite(self.hi - self.lo)

    def bucket(self, key: Column) -> Column:
        # clamped on both sides: Catalyst may fold it on literal rows
        # that an outer level's filter excludes
        b = F.floor((key - self.lo) / (self.hi - self.lo) * PERCENTILE_BUCKETS)
        return F.greatest(
            F.least(b, F.lit(PERCENTILE_BUCKETS - 1)), F.lit(0)
        ).cast("int")


def _within(src, ranges: list[_Range], then):
    """``src``'s rows in ``ranges``, and ``CASE WHEN ranges[0].pred THEN
    then(0, ranges[0]) ... END`` over them (``then(0, ranges[0])`` when
    there is one range)."""
    if len(ranges) == 1:
        (r,) = ranges
        return src if r.pred is None else src.where(r.pred), then(0, r)
    case = F  # F.when starts the chain, Column.when continues it
    for k, r in enumerate(ranges):
        case = case.when(r.pred, then(k, r))
    return src.where(case.isNotNull()), case


def _exact_percentiles(
    df,
    column: str,
    targets: list[tuple[str, float]],
    weight_column: str | None = None,
    range_probe: tuple | None = None,
) -> DataFrame:
    """The exact percentile kernel: one row with a column ``name`` per
    ``(name, percentage)`` target, the smallest non-null v such that
    the rows with value <= v hold at least ``percentage`` % of the mass
    — their count, or the sum of ``weight_column``.

    Every row gets a double bucket key that is non-strictly monotone in
    the value's order: the value itself for numeric columns, the
    :func:`_order_proxy_expr` proxy for dates, timestamps and strings,
    and one constant (a single bucket) for types with no proxy.  Then:

    1. the range probe: min and max key, row count, total mass (and the
       least weight) — ``range_probe`` passes the unweighted
       ``(min, max, count)`` when the caller already has it;
    2. the walk (:func:`_walk`): one histogram per level over the
       ranges that still hold a target, ``PERCENTILE_BUCKETS`` equal
       buckets per range (rows and mass per bucket; a few thousand rows
       to the driver), whose cumulative mass locates each target's
       bucket.  A target bucket with more than
       ``PERCENTILE_REFINE_ROWS`` rows is bucketed again on its own key
       range, so a heavy tail cannot put the whole column in the final
       step;
    3. one final aggregate (:func:`_final_step`) answers every target:
       the j-th of its bucket's sorted values (``j`` computed on the
       driver), or, where a bucket that cannot be split further still
       holds more rows or the rows carry weights, the first value whose
       cumulative mass over the target buckets' distinct values,
       ordered by the true value, reaches the target.

    The bucketing partitions the sorted domain, so the result is the
    naive global-window construction's.  Each target's threshold is the
    least cumulative mass ``need`` with ``need * 100 >= percentage *
    total`` in exact rational arithmetic (the unweighted product is the
    double ``percentage * total``, the weighted one the decimal
    ``percentage``), and the driver and the engine both compare ``cum
    >= need``.  Float values read -0.0 as 0.0, as a groupBy does.
    """
    keep = F.col(column).isNotNull()
    cols = [F.col(column).alias("__pv_src")]
    if weight_column is not None:
        keep &= F.col(weight_column).isNotNull()
        cols.append(F.col(weight_column).cast("decimal(38,0)").alias("__w"))
    src = df.where(keep).select(*cols)
    # the aggregate mass of a set of rows, and the least weight
    if weight_column is None:
        mass_of, least_of = F.count(F.lit(1)), F.lit(1)
    else:
        mass_of, least_of = F.sum("__w"), F.min("__w")
    dtype = dict(df.dtypes)[column]
    value = F.col("__pv_src")
    if dtype in ("float", "double"):
        value = F.when(value == 0, F.lit(0).cast(dtype)).otherwise(value)
    if dtype in _NUMERIC or dtype.startswith("decimal"):
        key = F.col("__pv_src").cast("double")
    else:
        key = _order_proxy_expr(src, "__pv_src", dtype)
        key = F.lit(0.0) if key is None else key
        range_probe = None
    if range_probe is None:
        probe = src.agg(
            F.min(key), F.max(key), F.count(F.lit(1)), mass_of, least_of
        ).first()
    else:
        probe = (*range_probe, range_probe[2], 1)
    lo, hi, rows, mass, least_weight = probe
    if not rows or mass is None or mass <= 0:
        what = "Percentile selection" if weight_column is None else (
            "Weighted percentile"
        )
        raise ValueError(f"{what} could not be fetched.")
    if least_weight < 0:
        raise ValueError(
            "Weighted percentile requires non-negative weights; "
            f"min({weight_column}) = {least_weight}."
        )
    mass = int(mass)
    needs = [
        math.ceil(
            (Fraction(p * mass) if weight_column is None
             else Fraction(str(p)) * mass) / 100
        )
        for _, p in targets
    ]

    top = _Range(None, float(lo), float(hi), rows, mass, 0)
    at = _walk(src, key, mass_of, top, needs)
    weighted = weight_column is not None
    return _final_step(src, value, mass_of, targets, at, needs, weighted)


def _walk(src, key: Column, mass_of: Column, top: _Range, needs: list):
    """Each target's range: the bucket whose cumulative mass first
    reaches the target's ``need``, re-bucketed while it holds more than
    ``PERCENTILE_REFINE_ROWS`` rows and can be split.  One histogram
    (a Spark job pair) per level covers every range still open.

    A bucket's key range is its own bounds on the first level and the
    extremes of its keys below it: the first level, often the only one,
    skips the two extra aggregates, and a bucket of one repeated value
    stops refining one level later."""
    at = [top] * len(needs)
    level = [top] if top.splits() else []
    while level:
        bucket = [r.bucket(key) for r in level]
        rows_in, cell = _within(
            src, level, lambda k, r: bucket[k] + k * PERCENTILE_BUCKETS
        )
        extremes = [] if top in level else [F.min(key), F.max(key)]
        hist = (
            rows_in.groupBy(cell)
            .agg(F.count(F.lit(1)), mass_of, *extremes)
            .collect()
        )
        buckets = [[] for _ in level]
        for c, n, m, *span in sorted(hist):
            k, b = divmod(c, PERCENTILE_BUCKETS)
            r = level[k]
            step = (r.hi - r.lo) / PERCENTILE_BUCKETS
            klo, khi = span or (r.lo + b * step, r.lo + (b + 1) * step)
            buckets[k].append((b, n, int(m), klo, khi))
        chosen: dict[tuple[int, int], _Range] = {}
        for t, need in enumerate(needs):
            if at[t] not in level:
                continue
            k = level.index(at[t])
            before = at[t].before
            for i, (b, n, m, klo, khi) in enumerate(buckets[k]):
                if before + m >= need or i == len(buckets[k]) - 1:
                    break
                before += m
            if (k, b) not in chosen:
                pred = bucket[k] == b
                if at[t].pred is not None:
                    pred = at[t].pred & pred
                chosen[k, b] = _Range(pred, klo, khi, n, m, before)
            at[t] = chosen[k, b]
        level = [
            r for r in chosen.values()
            if r.rows > PERCENTILE_REFINE_ROWS and r.splits()
        ]
    return at


def _final_step(src, value, mass_of, targets, at, needs, weighted: bool):
    """One aggregate over the rows of the targets' ranges ``at`` that
    answers every target: the j-th sorted value of its range, or, with
    weights or a range too large to sort, the first value whose
    cumulative mass reaches ``need``."""
    ranges = list(dict.fromkeys(at))
    picked, region = _within(src, ranges, lambda k, r: F.lit(k))
    if not weighted and all(r.rows <= PERCENTILE_REFINE_ROWS for r in ranges):
        # one range: the filter already keeps its rows alone
        sorted_values = [
            F.array_sort(F.collect_list(
                value if len(ranges) == 1 else F.when(r.pred, value)
            ))
            for r in ranges
        ]
        return picked.agg(*[
            F.try_element_at(
                sorted_values[ranges.index(r)], F.lit(max(1, need - r.before))
            ).alias(name)
            for (name, _), r, need in zip(targets, at, needs)
        ])
    # one cumulative window over the ranges' distinct values, range by
    # range: range k's rows start after the mass of ranges 0..k-1
    hist = picked.groupBy(
        region.alias("__r"), value.alias("value")
    ).agg(mass_of.alias("__m"))
    win = Window.orderBy("__r", "value").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select("__r", "value", F.sum("__m").over(win).alias("__cum"))
    offsets = list(accumulate((r.mass for r in ranges), initial=0))

    def reached(r: _Range, need: int) -> Column:
        k = ranges.index(r)
        least_cum = F.lit(str(need - r.before + offsets[k]))
        return (F.col("__r") == k) & (
            F.col("__cum") >= least_cum.cast("decimal(38,0)")
        )

    return cum.agg(*[
        F.min(F.when(reached(r, need), F.col("value"))).alias(name)
        for (name, _), r, need in zip(targets, at, needs)
    ])


def exact_percentile_df(
    df, column: str, percentage: float, range_probe: tuple | None = None
):
    """Exact percentile as a 1-row DataFrame (column ``value``),
    computed scale-out.

    Semantics (reference db_access.py:812-857): the smallest value v such
    that at least ``percentage`` % of non-null values are <= v.
    ``percentile_approx`` is deliberately NOT used (breaks exact
    semantics, SURVEY §7.3.1), and neither is the naive construction's
    global window over all distinct values (a single-partition
    bottleneck on near-unique columns, SURVEY §4.4).

    Runs the bucketed kernel (:func:`_exact_percentiles`) over ``df``
    as given, with no private shuffle or cache: a caller whose input is
    expensive persists it, as ``mad_outliers`` and ``theil_sen`` do.
    For a numeric column that is four Spark jobs when the range probe
    ``(min, max, non-null count)`` comes in as ``range_probe``
    (``NumericPercentile`` reads it from its requirement's shared
    aggregate, a ``range`` :class:`ScalarAgg`; other columns ignore
    it).  Dates, timestamps and strings bucket on a monotone proxy;
    types with no proxy (binary, boolean) keep the distinct-value
    histogram.
    """
    return _exact_percentiles(
        df, column, [("value", percentage)], range_probe=range_probe
    )


def exact_percentiles_df(df, column: str, percentages: list[float]):
    """Several exact percentiles from one walk: one row with a
    ``p{pct:g}`` column per target (``.`` read as ``_``).

    Same semantics per target as :func:`exact_percentile_df`; the
    kernel's probe, per-level histograms and final aggregate are shared
    by every target, so p50/p90/p99 monitoring bands cost what one
    percentile does.
    """
    if not percentages:
        raise ValueError("At least one percentage is required.")
    return _exact_percentiles(
        df, column, [(f"p{p:g}".replace(".", "_"), p) for p in percentages]
    )


def get_percentile(
    spark: SparkSession,
    ref: DataReference,
    percentage: float,
    range_probe: tuple | None = None,
) -> tuple[float, _Plans]:
    """Exact percentile metric (see :func:`exact_percentile_df`);
    ``range_probe`` is the value of ``ScalarAgg("range", ref)`` when
    the caller already computed it."""
    column = ref.get_column(spark)
    selection = ref.get_selection(spark)
    candidates = exact_percentile_df(selection, column, percentage, range_probe)
    row = candidates.first()
    if row is None or row["value"] is None:
        raise ValueError("Percentile selection could not be fetched.")
    return float(row["value"]), [candidates]


def get_date_span(
    spark: SparkSession, ref: DataReference, date_column_name: str
) -> tuple[float, _Plans]:
    """``datediff(day, min(col), max(col))`` as float — the reference needs six
    dialect variants for this (db_access.py:224-299); Spark needs one."""
    selection = ref.get_selection(spark)
    agg_df = selection.select(
        F.datediff(
            F.max(F.col(date_column_name)).cast("date"),
            F.min(F.col(date_column_name)).cast("date"),
        ).alias("span")
    )
    row = agg_df.first()
    if row is None or row["span"] is None:
        raise ValueError("Date span could not be fetched.")
    span = float(row["span"])
    if span < 0:
        raise ValueError(f"Date span has negative value: {span}. It must be positive.")
    return span, [agg_df]


def get_date_growth_rate(
    spark: SparkSession,
    ref: DataReference,
    ref2: DataReference,
    date_column: str,
    date_column2: str,
) -> tuple[float, _Plans]:
    """date_span(ref)/date_span(ref2) - 1 (reference db_access.py:302-313)."""
    span1, plans1 = get_date_span(spark, ref, date_column)
    span2, plans2 = get_date_span(spark, ref2, date_column2)
    if span2 == 0:
        raise ValueError("Reference date span is not allowed to be zero.")
    return span1 / span2 - 1, [*plans1, *plans2]


def exact_weighted_percentile_df(
    df, column: str, weight_column: str, percentage: float
):
    """Exact WEIGHTED percentile as a 1-row DataFrame (extension; the
    reference's percentile is unweighted, db_access.py:812-857).

    Semantics: the smallest value v such that the cumulative weight of
    rows with value <= v reaches ``percentage`` % of the total weight.
    With all weights 1 this is exactly :func:`exact_percentile_df`.

    Weights must be non-negative integers (counts, cents, token counts)
    so every cumulative sum is exact — no float accumulation order to
    disagree about; a negative ``min(weight)`` raises (it would break
    the monotone cumulative and silently return a wrong value).  The
    plan is the bucketed kernel (:func:`_exact_percentiles`) with each
    row weighing its ``DECIMAL(38,0)`` weight, ending on the cumulative
    window over the target bucket's distinct values.  ``percentage`` is
    read as the exact rational of its decimal string, so the threshold
    stays exact when ``percentage * total`` exceeds double's 2^53.
    """
    return _exact_percentiles(
        df, column, [("value", percentage)], weight_column=weight_column
    )


def grouped_exact_percentile(
    df: DataFrame, group_col: str, value_col: str, percentage: float
) -> DataFrame:
    """Exact per-group percentile, one ``(grp, value)`` row per group:
    :func:`grouped_exact_percentiles` with one target."""
    return grouped_exact_percentiles(
        df, group_col, value_col, [percentage]
    ).toDF("grp", "value")


def grouped_exact_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentages: list,
) -> DataFrame:
    """Several exact per-group percentiles in ONE pass: one row per
    group with a ``p{n}`` column per requested percentage (smallest v
    such that at least n% of the group's non-null values are <= v).

    The cumulative window is PARTITIONED BY GROUP over each group's
    distinct-VALUE histogram — parallel across groups, and within a
    group bounded by |distinct values| (best on bounded domains:
    quantities, ratings, day counts; a near-unique column concentrated
    in ONE group degenerates to that group's sort, at which point the
    bucketed single-group :func:`exact_percentiles_df` is the right
    tool).  Any number of percentiles shares the window and ONE
    aggregate — never a pass per quantile — with the single comparison
    form ``cum * 100 >= percentage * total``.
    """
    if not percentages:
        raise ValueError("percentages must be non-empty")
    hist = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"), F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "grp",
        "v",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    def _alias(p):
        return f"p{int(p)}" if float(p).is_integer() else f"p{p}".replace(".", "_")
    aggs = [
        F.min(
            F.when(
                F.col("cum") * 100 >= F.lit(float(p)) * F.col("total"),
                F.col("v"),
            )
        ).alias(_alias(p))
        for p in percentages
    ]
    return cum.groupBy("grp").agg(*aggs)


def winsorized_stats(
    df, column: str, p_lo: float = 1.0, p_hi: float = 99.0
):
    """Winsorized digest of an INTEGER-valued column: one row
    ``(n, lo_cut, hi_cut, n_clipped_lo, n_clipped_hi, winsorized_mean)``
    where values below the exact ``p_lo`` percentile clip up to it,
    values above the exact ``p_hi`` percentile clip down, and the mean
    is taken over the clipped values — the robust location estimate a
    monitoring gate wants when a fat tail would drag the plain mean
    (the trimming companion to the MAD outlier gates).

    Exactness/scale design:

    - both cut points come from ONE walk of the bucketed percentile
      kernel (:func:`exact_percentiles_df` — reference percentile
      semantics, no global sort at any cardinality);
    - the cuts broadcast into a single aggregate over the fact scan —
      no window over rows;
    - the clipped mean divides a DECIMAL(38,0)-exact integer sum by the
      exact count, so it is partition-order independent (a double
      running mean is not); input must be integer-valued (cents, ids,
      counts) — the decimal cast truncates fractions.
    """
    if not (0.0 < p_lo < p_hi < 100.0):
        raise ValueError("need 0 < p_lo < p_hi < 100")

    cuts = exact_percentiles_df(df, column, [p_lo, p_hi]).toDF("__lo", "__hi")
    x = F.col(column)
    clipped = F.least(F.greatest(x, F.col("__lo")), F.col("__hi"))
    return (
        df.where(x.isNotNull())
        .crossJoin(F.broadcast(cuts))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("__lo").alias("lo_cut"),
            F.first("__hi").alias("hi_cut"),
            F.sum(F.when(x < F.col("__lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_lo"),
            F.sum(F.when(x > F.col("__hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_hi"),
            F.round(
                F.sum(clipped.cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("winsorized_mean"),
        )
    )
