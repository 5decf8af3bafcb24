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
- the exact percentile avoids a global row_number window (single-partition
  hazard, reference db_access.py:821-825): a range probe (min, max, count;
  a ``range`` ``ScalarAgg``, so a requirement folds it into its shared
  aggregate), a range-bucket histogram that locates the target bucket, and
  one global aggregate that picks the j-th sorted value of that bucket —
  four Spark jobs when the probe is shared, no private shuffle or cache,
  identical result, state bounded by ``PERCENTILE_REFINE_ROWS``.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass
from fractions import Fraction
from functools import partial

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


#: Range-bucket count for the two-pass exact percentile.
PERCENTILE_BUCKETS = 4096

#: Refine the target range-bucket while it still holds more rows than
#: this — the bound on what the final pass is ever asked to sort on
#: one task.
PERCENTILE_REFINE_ROWS = 65536


def _order_proxy_expr(non_null, column: str, dtype: str):
    """A numeric Column that is (non-strictly) MONOTONE in ``column``'s
    sort order, used only to range-bucket non-numeric orderable types —
    never to compare values (ties at proxy granularity just share a
    bucket, and the final cumulative window orders by the true value).

    - date: days since epoch (exact, strictly monotone)
    - timestamp / timestamp_ntz: microseconds since epoch (exact; µs
      magnitudes ~1e15 stay below 2^53, so the double is exact)
    - string: the first 6 bytes AFTER the column-wide common prefix,
      zero-right-padded and read big-endian as a 48-bit integer.  Spark
      and DuckDB both order strings by unsigned UTF-8 byte comparison,
      so the byte prefix is monotone; the zero padding keeps shorter
      strings ordered before their extensions; 48 bits stay exact in a
      double.  Stripping the shared prefix (computed from one min/max
      agg) is what gives key-style columns ('Customer#000…') a usable
      spread instead of one hot bucket.

    The returned expression reads the column via the alias ``__pv_src``
    (callers project ``column AS __pv_src`` first — sidesteps SQL
    identifier quoting inside the string branch's ``expr``).  Returns
    None for types without a cheap monotone proxy (binary, boolean, …) —
    callers fall back to the distinct-value histogram.
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


def exact_percentile_df(
    df, column: str, percentage: float, range_probe: tuple | None = None
):
    """Exact percentile as a 1-row DataFrame, computed scale-out.

    Semantics (reference db_access.py:812-857): the smallest value v such
    that at least ``percentage`` % of non-null values are <= v.
    ``percentile_approx`` is deliberately NOT used (breaks exact
    semantics, SURVEY §7.3.1).

    A naive construction sorts ALL (distinct) values under one global
    window — a single-partition bottleneck on near-unique columns
    (SURVEY §4.4).  Instead, for a numeric column, fully-parallel passes
    over ``df`` as given (no private shuffle or cache: a caller whose
    input is expensive persists it, as ``mad_outliers`` and
    ``theil_sen`` do):

    1. the range probe ``(min, max, non-null count)`` — skipped when the
       caller passes it as ``range_probe`` (``NumericPercentile`` reads
       it from its requirement's shared aggregate, a ``range``
       :class:`ScalarAgg`; other columns ignore it);
    2. range-bucket histogram: counts per ``PERCENTILE_BUCKETS`` equal
       ranges (one groupBy; B rows to the driver); a driver cumsum over
       them locates the target bucket;
    3. one global aggregate over the target bucket's rows: the j-th of
       its sorted values, ``j`` computed on the driver.

    Pass 2 repeats (refinement, see below) while the target bucket holds
    more than ``PERCENTILE_REFINE_ROWS`` rows, so the list pass 3
    collects stays bounded.  The result is identical to the naive
    construction — the bucketing is a partitioning of the sorted domain,
    not an approximation.  Where the bucket's values cannot be split
    further as doubles (many duplicates; wide integers or decimals that
    collapse to one double), pass 3 is the cumulative window over the
    bucket's distinct values instead, ordered by the true value.

    Non-numeric orderable columns (date/timestamp/string) range-bucket
    on a MONOTONE numeric proxy (:func:`_order_proxy_expr` — day number
    / epoch microseconds / prefix bytes) and then run the same bucketed
    plan; the cumulative window orders by the TRUE value, restricted to
    the target bucket, so a near-unique timestamp column no longer
    degenerates into one global single-partition window.  Types with no
    cheap proxy (binary/boolean) keep the distinct-value histogram
    fallback (bounded by |distinct values|).

    Every "have we reached the percentile" test uses the ONE comparison
    form ``cum * 100 >= percentage * total`` — mixing formulations (e.g.
    ``cum >= total*percentage/100`` in one place and ``cum*100/total >=
    percentage`` in another) can disagree by 1 ulp at exact boundaries and
    select off-by-one values.
    """
    non_null = df.where(F.col(column).isNotNull()).select(column)
    dtype = dict(df.dtypes)[column]
    numeric = dtype in ("tinyint", "smallint", "int", "bigint", "float",
                        "double") or dtype.startswith("decimal")

    def _locate_bucket(src, bucket_col, cum_before: int, total: int):
        """One bucket-histogram probe: walk the per-bucket counts in
        bucket order with the single canonical comparison form and
        return (target_bucket, cum_before, target_count)."""
        bucket_counts = dict(
            src.groupBy(bucket_col.alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        target_bucket = PERCENTILE_BUCKETS - 1
        for b in sorted(bucket_counts):
            if (cum_before + bucket_counts[b]) * 100 >= percentage * total:
                target_bucket = b
                break
            cum_before += bucket_counts[b]
        return target_bucket, cum_before, bucket_counts.get(target_bucket, 0)

    def _cum_select(hist, cum_before: int, total: int):
        w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
        cum = hist.select(
            "value", (F.sum("cnt").over(w) + F.lit(cum_before)).alias("cum_cnt")
        )
        return cum.where(
            F.col("cum_cnt") * 100 >= F.lit(percentage * total)
        ).select(F.min("value").alias("value"))

    if not numeric:
        pv = _order_proxy_expr(non_null, column, dtype)
        if pv is None:
            # no cheap monotone proxy: distinct-value histogram under
            # one cumulative window (bounded by |distinct values|)
            total = non_null.count()
            if total == 0:
                raise ValueError(
                    "Percentile selection could not be fetched."
                )
            hist = non_null.groupBy(F.col(column).alias("value")).agg(
                F.count(F.lit(1)).alias("cnt")
            )
            return _cum_select(hist, 0, total)
        proj = non_null.select(
            F.col(column).alias("__pv_src")
        ).select(F.col("__pv_src").alias("value"), pv.alias("__pv"))
        stats = proj.agg(
            F.min("__pv").alias("lo"),
            F.max("__pv").alias("hi"),
            F.count(F.lit(1)).alias("total"),
        ).first()
        if stats is None or stats["total"] == 0 or stats["lo"] is None:
            raise ValueError("Percentile selection could not be fetched.")
        lo, hi, total = (
            float(stats["lo"]), float(stats["hi"]), int(stats["total"])
        )
        if hi == lo:
            # proxy cannot split the domain (single value, or strings
            # identical through 6 bytes past the common prefix): the
            # histogram stays bounded by |distinct values|
            hist = proj.groupBy("value").agg(
                F.count(F.lit(1)).alias("cnt")
            )
            return _cum_select(hist, 0, total)
        # iterative range refinement (see the numeric branch below):
        # re-bucket within the target bucket while it still holds more
        # rows than one window task should sort
        cum_before, src = 0, proj
        while True:
            bucket = F.least(
                F.floor(
                    (F.col("__pv") - lo) / (hi - lo) * PERCENTILE_BUCKETS
                ),
                F.lit(PERCENTILE_BUCKETS - 1),
            ).cast("int")
            target_bucket, cum_before, tb_count = _locate_bucket(
                src, bucket, cum_before, total
            )
            src = src.where(bucket == target_bucket)
            if tb_count <= PERCENTILE_REFINE_ROWS:
                break
            sub = src.agg(
                F.min("__pv").alias("lo"), F.max("__pv").alias("hi")
            ).first()
            lo2, hi2 = float(sub["lo"]), float(sub["hi"])
            if hi2 == lo2:
                break
            lo, hi = lo2, hi2
        hist = src.groupBy("value").agg(F.count(F.lit(1)).alias("cnt"))
        return _cum_select(hist, cum_before, total)

    if range_probe is None:
        stats = non_null.agg(
            F.min(column).alias("lo"),
            F.max(column).alias("hi"),
            F.count(F.lit(1)).alias("total"),
        ).first()
        range_probe = (stats["lo"], stats["hi"], stats["total"])
    lo, hi, total = range_probe
    if not total or lo is None:
        raise ValueError("Percentile selection could not be fetched.")
    # the value as the groupBy of the naive construction sees it: -0.0
    # and 0.0 are one value, 0.0
    value = F.col(column)
    if dtype in ("float", "double"):
        value = F.when(value == 0, F.lit(0).cast(dtype)).otherwise(value)
    # compared uncast: wide integers and decimals that differ can read
    # as one double
    if lo == hi:
        return non_null.agg(F.min(value).alias("value"))
    value_col = F.col(column).cast("double")
    # Iterative range REFINEMENT: on heavy-tailed domains (pairwise
    # slopes, deviations) the outlier-stretched [lo, hi] puts nearly all
    # mass in one linear bucket, and the final pass would sort that
    # bucket on ONE task — the §4.4 hazard this plan exists to avoid
    # (measured: 1.28M of theil_sen's 2.9M pair slopes in a single
    # bucket).  Re-bucket WITHIN the target bucket (filter by bucket id
    # — a pure partition of the sorted domain, so the selected value is
    # identical) until it is small; each level is one cheap probe and
    # shrinks the range by up to PERCENTILE_BUCKETS x.  A range that is
    # one double, or not finite (NaN, +-inf), cannot be split.
    cum_before, src, tb_count = 0, non_null, total
    flo, fhi = float(lo), float(hi)
    while fhi != flo and math.isfinite(fhi - flo):
        bucket = F.least(
            F.floor((value_col - flo) / (fhi - flo) * PERCENTILE_BUCKETS),
            F.lit(PERCENTILE_BUCKETS - 1),
        ).cast("int")
        target_bucket, cum_before, tb_count = _locate_bucket(
            src, bucket, cum_before, total
        )
        src = src.where(bucket == target_bucket)
        if tb_count <= PERCENTILE_REFINE_ROWS:
            break
        sub = src.agg(
            F.min(value_col).alias("lo"), F.max(value_col).alias("hi")
        ).first()
        flo, fhi = float(sub["lo"]), float(sub["hi"])
    if tb_count > PERCENTILE_REFINE_ROWS:
        hist = src.groupBy(value.alias("value")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        return _cum_select(hist, cum_before, total)
    # the bucket's j-th sorted value: the smallest j >= 1 with
    # (cum_before + j) * 100 >= percentage * total, in exact arithmetic
    # (null past the bucket's end, as the window finds no row there)
    j = max(1, math.ceil(Fraction(percentage * total) / 100) - cum_before)
    nth = F.try_element_at(F.array_sort(F.collect_list(value)), F.lit(j))
    return src.agg(nth.alias("value"))


def exact_percentiles_df(df, column: str, percentages: list[float]):
    """Several exact percentiles from ONE shared histogram pass.

    Same semantics per target as :func:`exact_percentile_df` (smallest v
    with >= p%% of non-null values <= v, identical single comparison
    form), but the expensive work is shared: one stats pass, one
    range-bucket histogram, and ONE filtered scan covering the union of
    target buckets — 3 scans total for ANY number of percentiles, where
    repeated single calls would pay 3 each. The per-bucket cumulative
    windows stay bounded by |distinct values in bucket|.

    Numeric columns only (the monitoring use case: p50/p90/p99 bands in
    one pass). Returns one row with a ``p{pct:g}`` column per target.
    """
    if not percentages:
        raise ValueError("At least one percentage is required.")
    from ..pipeline._util import materialize_once, spread

    # the stats probe, the bucket histogram and the union-of-target-
    # buckets scan all read ONE spread, persisted single-column
    # projection instead of re-scanning the source serially (a
    # single-file scan reads as 1 task; spread no-ops at corpus scale)
    non_null = materialize_once(
        spread(df.where(F.col(column).isNotNull()).select(column))
    )
    stats = non_null.agg(
        F.min(column).alias("lo"),
        F.max(column).alias("hi"),
        F.count(F.lit(1)).alias("total"),
    ).first()
    if stats is None or stats["total"] == 0 or stats["lo"] is None:
        raise ValueError("Percentile selection could not be fetched.")
    lo, hi, total = float(stats["lo"]), float(stats["hi"]), int(stats["total"])

    def _name(p: float) -> str:
        return f"p{p:g}".replace(".", "_")

    if hi == lo:
        single = non_null.agg(F.min(column).alias("v"))
        return single.select(
            *[F.col("v").alias(_name(p)) for p in percentages]
        )
    value_col = F.col(column).cast("double")
    bucket = F.least(
        F.floor((value_col - lo) / (hi - lo) * PERCENTILE_BUCKETS),
        F.lit(PERCENTILE_BUCKETS - 1),
    ).cast("int")
    bucket_counts = dict(
        non_null.groupBy(bucket.alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    # per-target bucket + its preceding cumulative count (driver fold
    # over <= PERCENTILE_BUCKETS integers)
    targets: dict[float, int] = {}
    cum_before_map: dict[int, int] = {}
    for pct in percentages:
        cum_before, target_bucket = 0, PERCENTILE_BUCKETS - 1
        for b in sorted(bucket_counts):
            if (cum_before + bucket_counts[b]) * 100 >= pct * total:
                target_bucket = b
                break
            cum_before += bucket_counts[b]
        targets[pct] = target_bucket
        cum_before_map[target_bucket] = cum_before
    needed = sorted(set(targets.values()))
    offset_entries = []
    for b in needed:
        offset_entries += [F.lit(b), F.lit(cum_before_map[b])]
    offsets = F.create_map(*offset_entries)
    hist = (
        non_null.where(bucket.isin(needed))
        .groupBy(bucket.alias("b"), F.col(column).alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("b")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "b",
        "value",
        (F.sum("cnt").over(w) + offsets[F.col("b")]).alias("cum_cnt"),
    )
    # one aggregate emits every band: conditional min per target, the
    # same single comparison form as the single-target operator
    aggs = [
        F.min(
            F.when(
                (F.col("b") == targets[pct])
                & (F.col("cum_cnt") * 100 >= F.lit(pct * total)),
                F.col("value"),
            )
        ).alias(_name(pct))
        for pct in percentages
    ]
    return cum.agg(*aggs)


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
    the monotone cumulative and silently return a wrong value). The
    plan is the same two fully-parallel passes as the unweighted
    operator: a range-bucket histogram of SUM(weight) (B rows to the
    driver), a driver cumsum to locate the target bucket, then a
    cumulative window over the distinct values of that bucket only.
    The boundary test keeps the ONE comparison form, with
    ``percentage`` expanded to an exact rational p_num/p_den:
    ``cum * 100 * p_den >= p_num * total`` — all-integer on both the
    driver and the engine, so the two never disagree even when
    ``percentage * total`` exceeds double's 2^53 (keep ``percentage``
    a short decimal; a 15-digit repeating fraction inflates p_den and
    with it the decimal width headroom).
    """
    from ..pipeline._util import materialize_once

    # three passes like exact_percentile_df's: persist the 2-column
    # projection so the stats probe, bucket-weights probe and final
    # target-bucket histogram scan the source once, not three times
    non_null = materialize_once(
        df.where(
            F.col(column).isNotNull() & F.col(weight_column).isNotNull()
        ).select(column, weight_column)
    )
    w = F.col(weight_column).cast("decimal(38,0)")
    # percentage as an exact rational (Fraction parses the decimal
    # string exactly), so the boundary test is INTEGER arithmetic on
    # both the driver and the engine — a double RHS degrades to 2^53
    # precision and can disagree with the driver-side bucket selection
    # for petabyte-scale weight totals
    frac = Fraction(str(percentage))
    p_num, p_den = frac.numerator, frac.denominator

    def _cum_select(hist, cum_before: int, total: int):
        win = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
        cum = hist.select(
            "value",
            (F.sum("wsum").over(win) + F.lit(cum_before).cast("decimal(38,0)"))
            .alias("cum_w"),
        )
        rhs = F.lit(str(p_num * total)).cast("decimal(38,0)")
        return cum.where(
            F.col("cum_w") * (100 * p_den) >= rhs
        ).select(F.min("value").alias("value"))

    stats = non_null.agg(
        F.min(column).alias("lo"),
        F.max(column).alias("hi"),
        F.sum(w).alias("total"),
        F.min(w).alias("wmin"),
    ).first()
    if stats is None or stats["total"] is None or int(stats["total"]) <= 0:
        raise ValueError("Weighted percentile could not be fetched.")
    if int(stats["wmin"]) < 0:
        raise ValueError(
            "Weighted percentile requires non-negative weights; "
            f"min({weight_column}) = {stats['wmin']}."
        )
    lo, hi, total = float(stats["lo"]), float(stats["hi"]), int(stats["total"])
    if hi == lo:
        return non_null.agg(F.min(column).alias("value"))
    value_col = F.col(column).cast("double")
    bucket = F.least(
        F.floor((value_col - lo) / (hi - lo) * PERCENTILE_BUCKETS),
        F.lit(PERCENTILE_BUCKETS - 1),
    ).cast("int")
    bucket_weights = dict(
        non_null.groupBy(bucket.alias("b")).agg(F.sum(w).alias("ws")).collect()
    )
    cum_before, target_bucket = 0, PERCENTILE_BUCKETS - 1
    for b in sorted(bucket_weights):
        if (cum_before + int(bucket_weights[b])) * 100 * p_den >= p_num * total:
            target_bucket = b
            break
        cum_before += int(bucket_weights[b])
    hist = (
        non_null.where(bucket == target_bucket)
        .groupBy(F.col(column).alias("value"))
        .agg(F.sum(w).alias("wsum"))
    )
    return _cum_select(hist, cum_before, total)


def grouped_exact_percentile(
    df: DataFrame, group_col: str, value_col: str, percentage: float
) -> DataFrame:
    """Exact per-group percentile (smallest v such that at least
    ``percentage``% of the group's non-null values are <= v) — the
    grouped form of :func:`exact_percentile_df`, one row per group.

    The cumulative window is PARTITIONED BY GROUP over each group's
    distinct-VALUE histogram — parallel across groups, and within a
    group bounded by |distinct values| (best on bounded domains:
    quantities, ratings, day counts; a near-unique column concentrated
    in ONE group degenerates to that group's sort, at which point the
    two-pass bucketed single-group form is the right tool).

    The acceptance test uses the single comparison form
    ``cum * 100 >= percentage * total`` (see exact_percentile_df's
    ulp-boundary note).
    """
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
    return (
        cum.where(F.col("cum") * 100 >= F.lit(percentage) * F.col("total"))
        .groupBy("grp")
        .agg(F.min("v").alias("value"))
    )


def grouped_exact_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentages: list,
) -> DataFrame:
    """Several exact per-group percentiles in ONE pass: one row per
    group with a ``p{n}`` column per requested percentage (smallest v
    such that at least n% of the group's non-null values are <= v).

    Any number of percentiles shares the single group-partitioned
    cumulative window and ONE aggregate — never a pass per quantile
    (the multi-quantile form of :func:`grouped_exact_percentile`; same
    bounded-domain caveat, same single comparison form).
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

    - both cut points come from ONE shared range-bucketed histogram
      pass (:func:`exact_percentiles_df` — reference percentile
      semantics, no global sort at any cardinality);
    - the cuts broadcast into a single aggregate over the fact scan —
      two scans total regardless of table size, no window over rows;
    - the clipped mean divides a DECIMAL(38,0)-exact integer sum by the
      exact count, so it is partition-order independent (a double
      running mean is not); input must be integer-valued (cents, ids,
      counts) — the decimal cast truncates fractions.
    """
    if not (0.0 < p_lo < p_hi < 100.0):
        raise ValueError("need 0 < p_lo < p_hi < 100")

    def _name(p: float) -> str:
        return f"p{p:g}".replace(".", "_")

    cuts = exact_percentiles_df(df, column, [p_lo, p_hi]).select(
        F.col(_name(p_lo)).alias("__lo"), F.col(_name(p_hi)).alias("__hi")
    )
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
