"""Statistical operators: empirical CDFs, cross-CDF, two-sample KS statistic.

Re-expression of /root/reference/src/datajudge/db_access.py:1164-1315.

Scale design: the reference computes per-row ``cume_dist() OVER (ORDER BY
col)`` — a global, single-partition window over every row
(db_access.py:1177-1180). We instead aggregate to the distinct-value
histogram first (one shuffle, map-side partial agg), then compute the CDF as
a cumulative sum over *distinct values*; the ordered window only ever sees
|distinct| rows. The forward-fill after the full-outer join uses
``last(col, ignorenulls=True)`` — one window call replacing the reference's
running-count grouper + first_value construction (db_access.py:1239-1279,
SURVEY §4.2).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..reference import DataReference

_Plans = list[DataFrame]


def get_cross_cdf(
    spark: SparkSession,
    ref1: DataReference,
    ref2: DataReference,
    cdf_label: str = "cdf",
    value_label: str = "val",
) -> tuple[DataFrame, str, str]:
    """Rows (value, cdf1(value), cdf2(value)) over the union of observed
    values, with forward-filled CDFs (reference _cross_cdf_selection,
    db_access.py:1194-1280).

    E.g. ref1=[1,1,3,2], ref2=[3,5,4,5,8] yields
    [(1,.5,0),(2,.75,0),(3,1,.2),(4,1,.4),(5,1,.8),(8,1,1)]
    (golden: reference tests/integration/test_stats.py:27-35).

    Scale construction (SURVEY §4.4): a naive per-side CDF + full-outer
    join + forward-fill needs ordered windows over ALL distinct values —
    a single-partition sort once the column is near-unique (continuous
    domains). Instead both samples union into ONE (value, n1, n2)
    histogram and the global cumulatives come from
    :func:`_bucketed_global_cums` — the same equi-depth-bucketed
    construction every rank/percentile operator in this module uses: a
    percentile sketch assigns each distinct value a bucket (a pure
    column expression), a bounded per-bucket window computes local
    cumulative counts, and per-bucket offsets (one tiny collect) shift
    them to global. The forward-fill disappears entirely: every union
    value carries both sides' counts, and a cumulative sum over zeros
    IS the forward fill. ``cum/N`` equals the windowed ``cum/N``
    exactly (integer math in doubles, well under 2^53), so results are
    bit-identical to the windowed construction.

    Non-numeric orderable columns (no percentile sketch available) take
    a ``repartitionByRange`` variant of the same offset construction —
    one extra sampling scan, still no global window.
    """
    cdf_label1, cdf_label2 = cdf_label + "1", cdf_label + "2"
    col1, col2 = ref1.get_column(spark), ref2.get_column(spark)
    tagged = (
        ref1.get_selection(spark)
        .select(
            F.col(col1).alias("v"),
            F.lit(1).alias("__dj_n1"),
            F.lit(0).alias("__dj_n2"),
        )
        .where(F.col("v").isNotNull())
        .unionAll(
            ref2.get_selection(spark)
            .select(
                F.col(col2).alias("v"),
                F.lit(0).alias("__dj_n1"),
                F.lit(1).alias("__dj_n2"),
            )
            .where(F.col("v").isNotNull())
        )
    )
    hist = tagged.groupBy("v").agg(
        F.sum("__dj_n1").alias("__dj_n1"), F.sum("__dj_n2").alias("__dj_n2")
    )
    dtype = dict(hist.dtypes)["v"]
    # date/timestamp deliberately take the repartitionByRange path below:
    # the bucketed construction's degenerate check and linear fallback do
    # float arithmetic on the bounds (invalid for temporal values), while
    # the range-partition variant orders ANY orderable type.
    numeric = dtype in (
        "tinyint", "smallint", "int", "bigint", "float", "double",
    ) or dtype.startswith("decimal")
    if numeric:
        # totals ride the scaffold's probe aggregate (return_totals):
        # the former raw-plan totals agg re-computed the ENTIRE
        # histogram derivation — a second scan of both selections —
        # before the helper's persist materialized
        cums, totals = _bucketed_global_cums(
            hist, ["__dj_n1", "__dj_n2"], return_totals=True,
            empty_ok=True,
        )
        total1 = int(totals["__dj_n1"])
        total2 = int(totals["__dj_n2"])
        if total1 == 0 and total2 == 0:
            # hist rows all carry n1+n2 >= 1, so zero totals means an
            # empty histogram: same empty frame as before
            empty = hist.select(
                F.col("v").alias(value_label),
                F.lit(0.0).alias(cdf_label1),
                F.lit(0.0).alias(cdf_label2),
            )
            return empty, cdf_label1, cdf_label2
        filled = cums.select(
            F.col("v").alias(value_label),
            (F.col("cum___dj_n1") / F.lit(total1 or 1)).alias(cdf_label1),
            (F.col("cum___dj_n2") / F.lit(total2 or 1)).alias(cdf_label2),
        )
        return filled, cdf_label1, cdf_label2
    # non-numeric orderable fallback: repartitionByRange (a parallel,
    # sampling-based range sort) + per-partition offsets — the window
    # only ever sees one range partition
    from ..pipeline._util import materialize_once

    ranged = materialize_once(
        hist.repartitionByRange("v").withColumn(
            "__dj_pid", F.spark_partition_id()
        )
    )
    per_part = sorted(
        ranged.groupBy("__dj_pid")
        .agg(F.sum("__dj_n1").alias("t1"), F.sum("__dj_n2").alias("t2"))
        .collect(),
        key=lambda r: r["__dj_pid"],
    )
    total1 = sum(int(r["t1"]) for r in per_part)
    total2 = sum(int(r["t2"]) for r in per_part)
    offsets, acc1, acc2 = [], 0, 0
    for r in per_part:
        offsets.append((int(r["__dj_pid"]), acc1, acc2))
        acc1 += int(r["t1"])
        acc2 += int(r["t2"])
    off_df = spark.createDataFrame(
        offsets, "__dj_pid int, __dj_off1 long, __dj_off2 long"
    )
    w = (
        Window.partitionBy("__dj_pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = ranged.join(F.broadcast(off_df), "__dj_pid").select(
        F.col("v").alias(value_label),
        (
            (F.sum("__dj_n1").over(w) + F.col("__dj_off1")) / F.lit(total1 or 1)
        ).alias(cdf_label1),
        (
            (F.sum("__dj_n2").over(w) + F.col("__dj_off2")) / F.lit(total2 or 1)
        ).alias(cdf_label2),
    )
    return filled, cdf_label1, cdf_label2


def get_ks_2sample(
    spark: SparkSession, ref1: DataReference, ref2: DataReference
) -> tuple[float, Callable[[], _Plans]]:
    """Two-sample Kolmogorov-Smirnov test statistic
    d = max |cdf1 - cdf2| (reference db_access.py:1283-1315).

    Computed via :func:`ks_2sample_distributed` — value-identical to
    the cross-CDF construction (verified in tests), but with no stage
    whose size depends on |distinct values| landing in one partition.
    The plan surface for failure reporting is the cross-CDF selection;
    building it runs the cross-CDF probe jobs, so it is returned as a
    thunk and built only when a message renders it.
    """
    d, _, _ = ks_2sample_distributed(
        ref1.get_selection(spark),
        ref2.get_selection(spark),
        ref1.get_column(spark),
        ref2.get_column(spark),
    )

    def plans() -> _Plans:
        filled, c1, c2 = get_cross_cdf(spark, ref1, ref2)
        return [filled.select(F.max(F.abs(F.col(c1) - F.col(c2))).alias("d"))]

    return d, plans


def ks_d_statistic_distributed(
    df1: DataFrame, df2: DataFrame, col1: str, col2: str
) -> float:
    """The d-statistic of :func:`ks_2sample_distributed`."""
    return ks_2sample_distributed(df1, df2, col1, col2)[0]


def ks_2sample_distributed(
    df1: DataFrame, df2: DataFrame, col1: str, col2: str
) -> tuple[float, int, int]:
    """Exact two-sample KS d-statistic with NO global-window stage, and
    the row count of each sample, NULLs included (the sample sizes the
    KS p-value and acceptance threshold take).

    The histogram-based construction above bounds the ordered window by
    |distinct values| — fine for discrete domains, but on a continuous
    column |distinct| ~ |rows| and the window degenerates to a global
    single-partition sort (SURVEY §4.4). This variant stays parallel at
    any cardinality:

    1. union both samples with a side tag, aggregated to
       (value, n1, n2) per distinct value — one shuffle, map-side agg;
       NULL values form one group of their own;
    2. ONE aggregate over that histogram computes each side's row count
       (all groups), its non-NULL total N1, N2, AND approximate range
       boundaries (a ``percentile_approx`` sketch over the distinct
       values) — boundary accuracy only affects bucket *balance*,
       never the result;
    3. each non-NULL distinct value is assigned the range bucket
       ``#boundaries <= value`` (a pure column expression — no
       ``repartitionByRange`` sampling job, which would re-scan and
       re-aggregate the whole union a third time);
    4. ONE pass over the bucketed histogram: within-bucket CDF diff
       ``dw = cumw1/N1 − cumw2/N2`` (window partitioned by bucket —
       bounded, parallel), reduced to per-bucket
       ``(t1, t2, max dw, min dw)``;
    5. driver fold over the (range-ordered) buckets: with running
       offsets ``C_p = off1/N1 − off2/N2``, the supremum is
       ``max_p max(|max_dw_p + C_p|, |min_dw_p + C_p|)`` — |F1 − F2| is
       dw + C_p and C_p is constant within a bucket, so the bucket
       extrema are exactly the candidates.

    Two scans total, nothing cached or scanned twice. Equal to the
    windowed construction (the supremum over step points of the
    empirical CDF difference) up to double-rounding of the offset
    addition. Non-numeric orderable columns (no ``percentile_approx``
    sketch available) fall back to ``repartitionByRange`` for step 3,
    which costs one extra sampling scan but is otherwise identical.
    """
    tagged = df1.select(
        F.col(col1).alias("val"), F.lit(1).alias("n1"), F.lit(0).alias("n2")
    ).unionAll(
        df2.select(
            F.col(col2).alias("val"), F.lit(0).alias("n1"), F.lit(1).alias("n2")
        )
    )
    dtype = dict(tagged.dtypes)["val"]
    numeric = dtype in (
        "tinyint", "smallint", "int", "bigint", "float", "double", "date",
        "timestamp",
    ) or dtype.startswith("decimal")
    from ..pipeline._util import materialize_once

    n_buckets = tagged.sparkSession.sparkContext.defaultParallelism
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    # Aggregate FIRST, then probe totals and boundaries from the
    # persisted (value, n1, n2) histogram: one scan of each source
    # instead of two, and the persist holds |distinct| rows, not |rows|.
    # The sketch now sees distinct values unweighted — that can only
    # shift bucket BALANCE, which the driver fold is invariant to.
    hist = materialize_once(
        tagged.groupBy("val").agg(
            F.sum("n1").alias("n1"), F.sum("n2").alias("n2")
        )
    )
    present = F.col("val").isNotNull()
    aggs = [
        F.sum("n1").alias("r1"),
        F.sum("n2").alias("r2"),
        F.sum(F.when(present, F.col("n1"))).alias("t1"),
        F.sum(F.when(present, F.col("n2"))).alias("t2"),
    ]
    if numeric and fracs:
        aggs.append(
            F.percentile_approx(
                "val", _sql_double_array(fracs), 1000
            ).alias("bounds")
        )
    tot = hist.agg(*aggs).first()
    total1 = int(tot["t1"] or 0)
    total2 = int(tot["t2"] or 0)
    if total1 == 0 or total2 == 0:
        raise ValueError("Could not compute d statistic on empty sample.")
    bounds = []
    if numeric and fracs and tot["bounds"] is not None:
        seen = set()
        for b in tot["bounds"]:
            if b is not None and b not in seen:
                seen.add(b)
                bounds.append(b)
    values = hist.where(present)
    if bounds:
        # range bucket = number of boundaries <= value; boundaries are
        # sorted, so bucket ids enumerate the ranges in value order.
        bucket = _bounds_bucket_sql("val", bounds)
        if bucket is None:  # non-numeric boundary: Column-API fold
            bucket = F.aggregate(
                F.array(*[F.lit(b) for b in bounds]),
                F.lit(0),
                lambda acc, b: acc
                + F.when(F.col("val") >= b, F.lit(1)).otherwise(F.lit(0)),
            )
        ranged = values.withColumn("pid", bucket)
    else:
        ranged = values.repartitionByRange("val").withColumn(
            "pid", F.spark_partition_id()
        )
    w = (
        Window.partitionBy("pid")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dw = F.sum("n1").over(w) / F.lit(total1) - F.sum("n2").over(w) / F.lit(total2)
    per_part = (
        ranged.select("pid", "n1", "n2", dw.alias("dw"))
        .groupBy("pid")
        .agg(
            F.sum("n1").alias("t1"),
            F.sum("n2").alias("t2"),
            F.max("dw").alias("mx"),
            F.min("dw").alias("mn"),
        )
        .collect()
    )
    d, acc1, acc2 = 0.0, 0, 0
    for r in sorted(per_part, key=lambda r: r.pid):
        c = acc1 / total1 - acc2 / total2
        d = max(d, abs(r.mx + c), abs(r.mn + c))
        acc1 += r.t1
        acc2 += r.t2
    return float(d), int(tot["r1"]), int(tot["r2"])


def _sql_str(value) -> str:
    """A value as a safely escaped single-quoted SQL string literal.

    Group labels are DATA — they flow into generated ``stack()`` SQL, so
    quotes/backslashes in a label must not break (or rewrite) the plan.
    """
    s = str(value).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def _sql_lit(value) -> str:
    """A Python value as a TYPED SQL literal, matching what
    ``F.lit(value)`` would produce in a comparison (int stays integral,
    bool stays boolean, dates/timestamps keep their type) — so equality
    conditions rendered into SQL strings behave exactly like their
    Column-API counterparts."""
    import datetime as _dt

    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return f"{value}L"
    if isinstance(value, float):
        return _sql_double_lit(value)
    if isinstance(value, _dt.datetime):
        return f"TIMESTAMP '{value.isoformat(sep=' ')}'"
    if isinstance(value, _dt.date):
        return f"DATE '{value.isoformat()}'"
    return _sql_str(value)


def _sql_ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier (backticks in
    the name escaped by doubling, per Spark's rule)."""
    return "`" + name.replace("`", "``") + "`"


def _grouped_value_cums(
    df: DataFrame,
    value_col: str,
    group_col: str,
    groups: list | None,
    max_groups: int,
    opname: str,
):
    """Shared scaffold of the grouped drift operators (:func:`grouped_ks`,
    :func:`grouped_quantile_grid`): null filter, optional group
    discovery capped at ``max_groups``, ONE conditional-aggregation
    (value, total count, per-group count) histogram, the shared
    bucket-partitioned multi-cumulative, and the totals probe (group
    totals are the max cumulants).  Returns ``(groups, cnt_aliases,
    cums, tot)`` where ``cums`` carries ``v, cnt, c<i>, cum_cnt,
    cum_c<i>`` and ``tot`` has ``nt`` plus one total per alias.
    """
    from ..pipeline._util import materialize_once

    non_null = df.where(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    )
    if groups is None:
        rows = (
            non_null.select(F.col(group_col).alias("g"))
            .distinct()
            .limit(max_groups + 1)
            .collect()
        )
        if len(rows) > max_groups:
            raise ValueError(
                f"{opname}: more than max_groups={max_groups} distinct "
                f"groups in {group_col}; pass an explicit `groups` list."
            )
        groups = sorted(r["g"] for r in rows)
    cnt_aliases = [f"c{i}" for i in range(len(groups))]
    hist = non_null.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).alias("cnt"),
        *[
            F.count(F.when(F.col(group_col) == F.lit(g), 1)).alias(a)
            for g, a in zip(groups, cnt_aliases)
        ],
    )
    # return_totals: the grand totals ride the scaffold's boundary-probe
    # aggregate, so the former `cums.agg(max(cum_*)).first()` job — and
    # the persist that existed only because two consumers read `cums` —
    # are gone; the final aggregate is now the cums frame's ONLY reader.
    cums, totals = _bucketed_global_cums(
        hist, ["cnt"] + cnt_aliases, return_totals=True
    )
    tot = {"nt": totals["cnt"]}
    tot.update({a: totals[a] for a in cnt_aliases})
    return groups, cnt_aliases, cums, tot


def grouped_ks(
    df: DataFrame,
    value_col: str,
    group_col: str,
    groups: list | None = None,
    max_groups: int = 100,
) -> DataFrame:
    """Per-group KS distance against the POOLED distribution: one row
    ``(group, n, d)`` per group, ``d = sup_v |F_g(v) - F(v)|``.

    The drift question "which segment's value distribution moved?"
    asked for every segment at once.  Plan: ONE conditional-aggregation
    shuffle builds the (value, per-group count, total count) histogram —
    |distinct values| rows regardless of group count; every cumulative
    comes from the shared bucket-partitioned multi-cumulative (one
    sketch, one window stage for ALL groups — never a global window,
    never one scan per group); group totals are the max cumulants, read
    in the same final aggregate.  The sup over pooled step points is
    exact: every group's CDF only changes at pooled points and both step
    functions are right-continuous.

    ``groups`` pins the group list (deterministic, no discovery scan);
    when None the distinct groups are collected, capped at
    ``max_groups`` (this is a categorical-segment operator — a
    high-cardinality group column wants one KS per ad-hoc filter
    instead).  Extension — no reference counterpart; generalizes the
    two-sample KS (db_access.py:1283-1315) to k segments.
    """
    groups, cnt_aliases, cums, tot = _grouped_value_cums(
        df, value_col, group_col, groups, max_groups, "grouped_ks"
    )
    n_total = int(tot["nt"])
    d_exprs = []
    for a in cnt_aliases:
        n_g = int(tot[a] or 0)
        if n_g == 0:
            # empty group: KS vs pooled is undefined -> NULL
            d_exprs.append(F.lit(None).cast("double").alias(f"d_{a}"))
        else:
            d_exprs.append(
                F.max(
                    F.abs(
                        F.col(f"cum_{a}").cast("double") / F.lit(n_g)
                        - F.col("cum_cnt").cast("double") / F.lit(n_total)
                    )
                ).alias(f"d_{a}")
            )
    agg = cums.agg(*d_exprs)
    stack_args = ", ".join(
        f"{_sql_str(g)}, CAST({int(tot[a] or 0)} AS BIGINT), d_{a}"
        for g, a in zip(groups, cnt_aliases)
    )
    # stack() emits the group labels as STRING literals; cast back to
    # the source column's type so the output schema matches the input
    # (numeric/date group keys must not silently become strings)
    g_type = df.schema[group_col].dataType
    return agg.select(
        F.expr(
            f"stack({len(groups)}, {stack_args}) "
            f"AS ({_sql_ident(group_col)}, n, d)"
        )
    ).select(
        F.col(group_col).cast(g_type).alias(group_col),
        "n",
        F.round("d", 6).alias("d"),
    )


def grouped_quantile_grid(
    df: DataFrame,
    value_col: str,
    group_col: str,
    groups: list | None = None,
    deciles: int = 10,
    max_groups: int = 100,
) -> DataFrame:
    """Per-group EXACT quantile grid vs the pooled distribution: one row
    ``(group, decile, v_group, v_pooled, gap)`` per (group, j/deciles)
    point — the drift report "where in the distribution did this
    segment move?", a grid-valued refinement of :func:`grouped_ks`'s
    single sup statistic.

    Quantiles use the reference's exact rule (smallest v with >= p of
    the mass <= v, db_access.py percentile semantics), decided by the
    INTEGER comparison ``deciles * cum >= j * n`` — no double-rounding
    ambiguity at bucket edges on any engine.  Plan: ONE
    conditional-aggregation histogram shuffle for all groups, the
    shared bucket-partitioned multi-cumulative (one sketch, one window
    stage), then a single final aggregate evaluating every (group,
    decile) conditional-min at once — group count and grid size never
    add scans.

    Extension — no reference counterpart; generalizes
    ``add_percentile_*`` gates to a per-segment grid.  ``groups`` pins
    the segment list; when None the distinct groups are collected,
    capped at ``max_groups`` (same discovery contract as
    :func:`grouped_ks`).
    """
    groups, cnt_aliases, cums, tot = _grouped_value_cums(
        df, value_col, group_col, groups, max_groups,
        "grouped_quantile_grid",
    )
    n_total = int(tot["nt"])
    # every stack cell is cast to double up front: stack() requires a
    # homogeneous type per output column across all branches.  The
    # (deciles-1) x (groups+1) conditional-min cells are built as ONE
    # parsed SQL string each — the Column-API build cost ~30 py4j
    # round-trips per cell (~1.7k per call for 9 deciles x 5 groups) of
    # pure driver time; values are identical (same CASE/min/cast).
    q_exprs = []
    for j in range(1, deciles):
        q_exprs.append(
            F.expr(
                f"CAST(min(CASE WHEN cum_cnt * {deciles} >= "
                f"{_sql_num_lit(j * n_total)} THEN v END) AS DOUBLE)"
            ).alias(f"p_{j}")
        )
        for a in cnt_aliases:
            n_g = int(tot[a] or 0)
            if n_g == 0:
                q_exprs.append(
                    F.expr("CAST(NULL AS DOUBLE)").alias(f"q_{a}_{j}")
                )
            else:
                q_exprs.append(
                    F.expr(
                        f"CAST(min(CASE WHEN cum_{a} * {deciles} >= "
                        f"{_sql_num_lit(j * n_g)} THEN v END) AS DOUBLE)"
                    ).alias(f"q_{a}_{j}")
                )
    agg = cums.agg(*q_exprs)
    stack_args = ", ".join(
        f"{_sql_str(g)}, {j}, q_{a}_{j}, p_{j}"
        for g, a in zip(groups, cnt_aliases)
        for j in range(1, deciles)
    )
    n_rows = len(groups) * (deciles - 1)
    # cast the stacked string label back to the source group type (see
    # grouped_ks — schema must match the input column)
    g_type = df.schema[group_col].dataType
    return (
        agg.select(
            F.expr(
                f"stack({n_rows}, {stack_args}) "
                f"AS ({_sql_ident(group_col)}, decile, v_group, v_pooled)"
            )
        )
        .select(
            F.col(group_col).cast(g_type).alias(group_col),
            F.col("decile").cast("int").alias("decile"),
            F.round(F.col("v_group").cast("double"), 6).alias("v_group"),
            F.round(F.col("v_pooled").cast("double"), 6).alias("v_pooled"),
            F.round(
                F.col("v_group").cast("double")
                - F.col("v_pooled").cast("double"),
                6,
            ).alias("gap"),
        )
    )


def quantile_treatment_effect(
    df: DataFrame,
    value_col: str,
    assign_col: str,
    deciles: int = 10,
) -> DataFrame:
    """Quantile treatment effects between the two levels of an A/B
    assignment: one row ``(decile, q_a, q_b, qte)`` per grid point
    ``j/deciles`` with ``qte = q_b − q_a`` — "WHERE in the outcome
    distribution did the treatment act?", the question every
    mean-difference gate (Welch, CUPED, two-proportion) averages away.
    A treatment that only fattens the top decile moves the mean a
    little and the 90th-percentile QTE a lot; one that compresses
    spread shows mirrored-sign QTEs with a near-zero mean effect.

    Quantiles use the reference's exact rule (smallest v with >= p of
    the mass <= v), decided by the INTEGER comparison ``deciles * cum
    >= j * n_variant`` — no double-rounding ambiguity at bucket edges
    on any engine.  Levels are discovered and ordered ascending; ``a``
    is the smaller level (control by convention), ``b`` the larger.

    Plan: the :func:`grouped_ks` scaffold — ONE conditional-aggregation
    histogram shuffle, the shared bucket-partitioned multi-cumulative
    (never a global window), then a single final aggregate evaluating
    every (variant, decile) conditional-min at once.  Extension — no
    reference counterpart; completes the A/B readout stack (mean:
    Welch/CUPED; rate: two-proportion z; spread: Brown-Forsythe;
    distribution: THIS).
    """
    if deciles < 2:
        raise ValueError("deciles must be >= 2")
    two = (
        df.select(F.col(assign_col).alias("__g"))
        .where(F.col("__g").isNotNull())
        .distinct()
        .orderBy("__g")
        .limit(3)
        .collect()
    )
    if len(two) != 2:
        raise ValueError(
            f"quantile_treatment_effect needs exactly two assignment "
            f"levels, got {[r['__g'] for r in two]}"
        )
    levels = [two[0]["__g"], two[1]["__g"]]
    _, cnt_aliases, cums, tot = _grouped_value_cums(
        df, value_col, assign_col, levels, 2, "quantile_treatment_effect"
    )
    # a discovered level whose rows are all NULL in value_col has no
    # distribution to compare — NULL quantiles would make downstream
    # gates pass vacuously (and diverge from SQL mirrors, which reduce
    # `cum >= j*0` to always-true); fail loudly like the two-level
    # contract above instead of hiding a misconfigured gate
    for lv, a in zip(levels, cnt_aliases):
        if int(tot[a] or 0) == 0:
            raise ValueError(
                f"quantile_treatment_effect: assignment level {lv!r} "
                f"has no non-null {value_col!r} values"
            )
    q_exprs = []
    for j in range(1, deciles):
        for a in cnt_aliases:
            n_g = int(tot[a] or 0)
            if n_g == 0:
                q_exprs.append(
                    F.lit(None).cast("double").alias(f"q_{a}_{j}")
                )
            else:
                q_exprs.append(
                    F.min(
                        F.when(
                            F.col(f"cum_{a}") * deciles
                            >= F.lit(j * n_g),
                            F.col("v"),
                        )
                    )
                    .cast("double")
                    .alias(f"q_{a}_{j}")
                )
    agg = cums.agg(*q_exprs)
    stack_args = ", ".join(
        f"{j}, q_c0_{j}, q_c1_{j}" for j in range(1, deciles)
    )
    return agg.select(
        F.expr(
            f"stack({deciles - 1}, {stack_args}) AS (decile, qa, qb)"
        )
    ).select(
        F.col("decile").cast("int").alias("decile"),
        F.round(F.col("qa").cast("double"), 6).alias("q_a"),
        F.round(F.col("qb").cast("double"), 6).alias("q_b"),
        F.round(
            F.col("qb").cast("double") - F.col("qa").cast("double"), 6
        ).alias("qte"),
    )


def grouped_quantile_treatment_effect(
    df: DataFrame,
    value_col: str,
    assign_col: str,
    group_col: str,
    groups: list | None = None,
    deciles: int = 10,
    max_groups: int = 100,
) -> DataFrame:
    """Per-segment quantile treatment effects: one row ``(group,
    decile, n_a, n_b, q_a, q_b, qte)`` per (segment, j/deciles) grid
    point — "WHERE in the outcome distribution did the treatment act,
    and FOR WHOM?".  The segment refinement of
    :func:`quantile_treatment_effect`: a treatment that fattens the top
    decile only for one customer segment is invisible both to every
    mean gate and to the pooled QTE grid (the segment's mass dilutes
    away); this grid localizes it.

    Same exact-quantile rule as the pooled QTE (smallest v with >= p of
    the mass <= v, decided by the INTEGER comparison ``deciles * cum >=
    j * n_cell`` — no double-rounding ambiguity on any engine), per
    (segment, variant) cell.  Unlike the pooled QTE — which RAISES on a
    variant with zero non-null values (one empty side means the whole
    gate is misconfigured) — a segment missing one variant is ordinary
    sparsity: its rows carry NULL quantiles with the visible
    ``n_a``/``n_b`` cell sizes, so a gate can skip or fail them
    explicitly, never silently.

    Plan: the :func:`grouped_quantile_grid` scaffold — ONE
    conditional-aggregation histogram shuffle for ALL (segment,
    variant) cells, the shared bucket-partitioned multi-cumulative (one
    sketch, one window stage), then a single final aggregate evaluating
    every (cell, decile) conditional-min at once; segment count and
    grid size never add scans.  Extension — no reference counterpart.
    """
    from ..pipeline._util import materialize_once

    if deciles < 2:
        raise ValueError("deciles must be >= 2")
    two = (
        df.select(F.col(assign_col).alias("__g"))
        .where(F.col("__g").isNotNull())
        .distinct()
        .orderBy("__g")
        .limit(3)
        .collect()
    )
    if len(two) != 2:
        raise ValueError(
            f"grouped_quantile_treatment_effect needs exactly two "
            f"assignment levels, got {[r['__g'] for r in two]}"
        )
    levels = [two[0]["__g"], two[1]["__g"]]
    non_null = df.where(
        F.col(value_col).isNotNull()
        & F.col(group_col).isNotNull()
        & F.col(assign_col).isNotNull()
    )
    if groups is None:
        rows = (
            non_null.select(F.col(group_col).alias("g"))
            .distinct()
            .limit(max_groups + 1)
            .collect()
        )
        if len(rows) > max_groups:
            raise ValueError(
                f"grouped_quantile_treatment_effect: more than "
                f"max_groups={max_groups} distinct groups in "
                f"{group_col}; pass an explicit `groups` list."
            )
        groups = sorted(r["g"] for r in rows)
    if not groups:
        raise ValueError(
            f"grouped_quantile_treatment_effect: no {group_col} group "
            "has a non-null value"
        )
    cells = [(i, s) for i in range(len(groups)) for s in (0, 1)]
    aliases = [f"c{i}_{s}" for i, s in cells]
    # the wide conditional-count / conditional-min expression lists are
    # built as SQL STRINGS (one F.expr each), not nested Column calls:
    # the same trees through the Python column API cost ~10 py4j
    # round-trips PER EXPRESSION (~0.3 ms each; measured 12k round-trips
    # and ~1.8 s of pure driver time per build of this operator)
    hist = non_null.groupBy(F.col(value_col).alias("v")).agg(
        *[
            F.expr(
                f"count(CASE WHEN {_sql_ident(group_col)} = "
                f"{_sql_lit(groups[i])} AND {_sql_ident(assign_col)} = "
                f"{_sql_lit(levels[s])} THEN 1 END)"
            ).alias(a)
            for (i, s), a in zip(cells, aliases)
        ]
    )
    # totals ride the scaffold's probe aggregate (return_totals): no
    # separate `max(cum_*)` job, and no persist — the final aggregate
    # below is the cums frame's only consumer.
    cums, tot = _bucketed_global_cums(hist, aliases, return_totals=True)
    q_parts = []
    for j in range(1, deciles):
        for a in aliases:
            n_c = int(tot[a] or 0)
            if n_c == 0:
                q_parts.append(f"CAST(NULL AS DOUBLE) AS q_{a}_{j}")
            else:
                q_parts.append(
                    f"CAST(min(CASE WHEN cum_{a} * {deciles} >= "
                    f"{j * n_c}L THEN v END) AS DOUBLE) AS q_{a}_{j}"
                )
    # ONE py4j call for all (cell x decile) aggregates: a struct of
    # aggregate children is a valid aggregate expression
    agg = cums.agg(
        F.expr("struct(" + ", ".join(q_parts) + ")").alias("__q")
    )
    stack_args = ", ".join(
        f"{_sql_str(g)}, {j}, {int(tot[f'c{i}_0'] or 0)}L, "
        f"{int(tot[f'c{i}_1'] or 0)}L, __q.q_c{i}_0_{j}, __q.q_c{i}_1_{j}"
        for i, g in enumerate(groups)
        for j in range(1, deciles)
    )
    n_rows = len(groups) * (deciles - 1)
    g_type = df.schema[group_col].dataType
    return (
        agg.select(
            F.expr(
                f"stack({n_rows}, {stack_args}) "
                f"AS ({_sql_ident(group_col)}, decile, n_a, n_b, qa, qb)"
            )
        )
        .select(
            F.col(group_col).cast(g_type).alias(group_col),
            F.col("decile").cast("int").alias("decile"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(F.col("qa").cast("double"), 6).alias("q_a"),
            F.round(F.col("qb").cast("double"), 6).alias("q_b"),
            F.round(
                F.col("qb").cast("double") - F.col("qa").cast("double"),
                6,
            ).alias("qte"),
        )
    )


def value_bucket(
    value: Column | str, lo: float, hi: float, n_buckets: int
) -> Column:
    """Fixed-width bucket id in ``[0, n_buckets)`` with clamped tails.

    Pure double arithmetic (``floor((v - lo) / w)``), identical across
    engines — deliberately NOT ``width_bucket``, which not every oracle
    engine provides. Null values get bucket NULL (excluded upstream).
    """
    v = F.col(value) if isinstance(value, str) else value
    w = (hi - lo) / n_buckets
    raw = F.floor((v - F.lit(lo)) / F.lit(w)).cast("long")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n_buckets - 1))


def psi_drift(
    df1: DataFrame,
    df2: DataFrame,
    column: str,
    lo: float,
    hi: float,
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index between two samples of ``column``.

    PSI = sum_i (p_i - q_i) * ln(p_i / q_i) over fixed-width buckets,
    the standard production drift metric (PSI < 0.1 stable, > 0.25
    drifted). Bucket fractions use +0.5 Laplace smoothing so empty
    buckets stay finite and the result is deterministic.

    Scale: each side is one conditional-aggregation scan producing
    ``n_buckets`` partial-agg'd counts; the PSI fold runs on the joined
    bucket histograms (``n_buckets`` rows). Nothing but the digest moves.
    Bucket ids are pure column arithmetic (:func:`value_bucket`), so the
    same construction runs unchanged inside a watermarked streaming
    aggregation (see ``streaming.windowed_value_buckets``).
    """
    def counts(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.where(F.col(column).isNotNull())
            .groupBy(value_bucket(column, lo, hi, n_buckets).alias("bucket"))
            .agg(F.count(F.lit(1)).alias(alias))
        )

    c1, c2 = counts(df1, "n1"), counts(df2, "n2")
    # n_buckets-row join; totals via window over the tiny joined frame
    joined = (
        c1.join(c2, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n1", F.lit(0)).alias("n1"),
            F.coalesce("n2", F.lit(0)).alias("n2"),
        )
    )
    w = Window.partitionBy()
    k = float(n_buckets)
    p = (F.col("n1") + 0.5) / (F.sum("n1").over(w) + 0.5 * k)
    q = (F.col("n2") + 0.5) / (F.sum("n2").over(w) + 0.5 * k)
    return joined.select(
        ((p - q) * F.log(p / q)).alias("term")
    ).agg(F.round(F.sum("term"), 6).alias("psi"))


def psi_drift_conditional(
    df: DataFrame,
    column: str,
    cond1: Column,
    cond2: Column,
    lo: float,
    hi: float,
    n_buckets: int = 10,
) -> DataFrame:
    """PSI between two sub-populations of ONE table, in ONE scan.

    Same metric as :func:`psi_drift`, but both histograms come from a
    single conditional aggregation (``count(when(cond))``) instead of
    two scans — the right shape when the populations are row filters of
    the same 100 TB table.
    """
    bucketed = df.where(
        F.col(column).isNotNull() & (cond1 | cond2)
    ).groupBy(value_bucket(column, lo, hi, n_buckets).alias("bucket"))
    joined = bucketed.agg(
        F.count(F.when(cond1, 1)).alias("n1"),
        F.count(F.when(cond2, 1)).alias("n2"),
    )
    w = Window.partitionBy()
    k = float(n_buckets)
    p = (F.col("n1") + 0.5) / (F.sum("n1").over(w) + 0.5 * k)
    q = (F.col("n2") + 0.5) / (F.sum("n2").over(w) + 0.5 * k)
    return joined.select(
        ((p - q) * F.log(p / q)).alias("term")
    ).agg(F.round(F.sum("term"), 6).alias("psi"))


def mad_outliers(df: DataFrame, column: str, k: float = 3.0) -> DataFrame:
    """Robust outlier screen via Median Absolute Deviation — the
    monitoring alternative to mean/stddev z-scores, which a single
    extreme value can inflate until it masks every other outlier.

    Returns one row: exact median, exact MAD, the outlier threshold
    ``k * 1.4826 * MAD`` (1.4826 makes MAD consistent with sigma under
    normality), outlier count and fraction.

    Built on the two-pass range-bucketed exact percentile (never a
    global sort): one percentile for the median, one over absolute
    deviations for the MAD, one final conditional aggregate — five
    bounded jobs total, each fully parallel. Works best on integer
    domains (cents, counts) where both medians are engine-exact.
    """
    from ..pipeline._util import materialize_once
    from .scalars import exact_percentile_df

    # one source scan total: the single-column projection is persisted
    # and every pass (median probe jobs, deviation median, final
    # outlier aggregate) reads cached blocks instead of re-scanning
    non_null = materialize_once(
        df.where(F.col(column).isNotNull()).select(column)
    )
    med = exact_percentile_df(non_null, column, 50.0).first()["value"]
    dev = non_null.select(
        F.abs(F.col(column) - F.lit(med)).alias("__dev")
    )
    mad = exact_percentile_df(dev, "__dev", 50.0).first()["value"]
    thr = float(k) * 1.4826 * float(mad)
    # median/mad reported as double, NOT truncated to bigint: on
    # double/decimal columns a fractional median must round-trip into
    # the failure message exactly as the threshold computation saw it
    return non_null.agg(
        F.lit(med).cast("double").alias("median"),
        F.lit(mad).cast("double").alias("mad"),
        F.round(F.lit(thr), 6).alias("threshold"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(
                F.abs(F.col(column) - F.lit(med)).cast("double") > F.lit(thr),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_outliers"),
    ).select(
        "median",
        "mad",
        "threshold",
        "n_rows",
        "n_outliers",
        F.round(F.col("n_outliers") / F.col("n_rows"), 6).alias(
            "outlier_fraction"
        ),
    )


# ---------------------------------------------------------------------------
# Rank statistics over near-unique domains: Gini, Mann-Whitney U.
#
# Both need global ranks of every distinct value — a naive ORDER BY window
# is a single-partition stage on near-unique columns (the same trap the
# exact percentile and continuous KS avoid, SURVEY §4.4).  Shared plan:
#
#   1. one groupBy shuffle builds the (range-bucket, value) histogram,
#   2. per-BUCKET cumulative counts come from a window PARTITIONED by
#      bucket (parallel, each partition sees |distinct|/B rows),
#   3. the ≤B per-bucket totals are folded into global offsets on the
#      driver and broadcast back.
#
# Rank-sum identities over tie blocks keep everything integer-exact:
# a value v with cnt ties occupying global positions (cum-cnt, cum] has
# 2*Σranks = cnt*(2*cum - cnt + 1) — no fractional average ranks until
# the final double division.
# ---------------------------------------------------------------------------

RANK_BUCKETS = 2048


#: Fraction of the (cached) distinct-value frame sampled for boundary
#: estimation.  Balance precision requirements GROW with histogram size
#: — exactly when the sample is largest — so a fixed fraction gives
#: near-free boundaries on the frames where the full sketch was the
#: dominant cost (measured ~1.5 s of a 4 s spearman at sf0.1) and
#: harmlessly coarse buckets on small frames whose windows are cheap
#: regardless.
EQUIDEPTH_SAMPLE_FRACTION = 0.05


#: Minimum sample rows backing each kept bucket: boundary ranks
#: estimated from fewer points are mostly noise, so the boundary list is
#: thinned until every bucket's depth estimate rests on at least this
#: many samples (~15% balance error at 50).
_MIN_SAMPLES_PER_BUCKET = 50


def _sql_num_lit(x) -> str | None:
    """``x`` as a typed SQL literal matching ``F.lit(x)``'s value
    exactly (ints keep int/long width, floats round-trip through repr,
    Decimals keep their scale), or None when ``x`` has no exact SQL
    literal form.  Exists so list-driven expressions (bucket-boundary
    folds, IN lists, percentage arrays) can be built as ONE parsed SQL
    string instead of one py4j round-trip per element — the dominant
    plan-BUILD cost for the rank scaffolds (~500 round-trips per
    127-boundary fold, ~0.15 ms each)."""
    from decimal import Decimal as _Dec

    if isinstance(x, bool):
        return None
    if isinstance(x, int):
        return str(x) if -(2**31) <= x < 2**31 else f"{x}L"
    if isinstance(x, float):
        return _sql_double_lit(x)
    if isinstance(x, _Dec):
        scale = max(-x.as_tuple().exponent, 0)
        return f"CAST('{format(x, 'f')}' AS DECIMAL(38,{scale}))"
    return None


def _sql_double_lit(x: float) -> str:
    """A double as a bare ``D``-suffixed SQL literal: parses straight to
    a double Literal node (same ``Double.parseDouble`` round-trip value
    as the old ``CAST('<repr>' AS DOUBLE)`` form) with HALF the analyzer
    tree — measured 3.2x faster analysis on a 1024-double array, where
    the per-element Cast nodes dominated every optimizer walk.
    Non-finite doubles keep the string-cast form ('NaN'/'Infinity' have
    no bare literal syntax)."""
    r = repr(x)
    if "inf" in r or "nan" in r:
        return f"CAST('{x!r}' AS DOUBLE)"
    return r + "D"


def _sql_double_array(vals) -> Column:
    """Foldable ``array<double>`` literal as ONE parsed SQL string (see
    :func:`_sql_num_lit`; values round-trip exactly through repr)."""
    return F.expr(
        "array(" + ", ".join(_sql_double_lit(v) for v in vals) + ")"
    )


def _bounds_bucket_sql(col_sql: str, bounds: list) -> Column | None:
    """``bucket = #{boundaries <= col}`` as ONE parsed SQL fold —
    value-identical to the Column-API ``F.aggregate``/``F.when`` build
    (same comparisons, same left-to-right int accumulation) at ~4
    py4j round-trips instead of ~4 per boundary.  Returns None when a
    boundary has no exact SQL literal form (caller keeps the Column
    fold)."""
    lits = []
    for b in bounds:
        lit = _sql_num_lit(b)
        if lit is None:
            return None
        lits.append(lit)
    return F.expr(
        f"aggregate(array({', '.join(lits)}), 0, (acc, bd) -> "
        f"acc + (CASE WHEN {col_sql} >= bd THEN 1 ELSE 0 END))"
    )


def _dedupe_bounds(raw, sample_n: int | None = None) -> list:
    bounds, seen = [], set()
    for bd in raw or []:
        if bd is not None and bd not in seen:
            seen.add(bd)
            bounds.append(bd)
    if sample_n is not None and bounds:
        target = max(1, min(len(bounds), sample_n // _MIN_SAMPLES_PER_BUCKET))
        if target < len(bounds):
            # keep the quantile positions j/(target+1) — coarser but
            # still equi-depth (boundary i sits at quantile (i+1)/(B+1))
            nb = len(bounds)
            idx = sorted(
                {
                    min(nb - 1, max(0, round(j * (nb + 1) / (target + 1)) - 1))
                    for j in range(1, target + 1)
                }
            )
            bounds = [bounds[i] for i in idx]
    return bounds


def _equidepth_fracs(spark, n_buckets: int) -> list[float]:
    # bucket count bounds BOTH the per-row assignment cost (one
    # comparison per boundary — the array fold is O(B) per distinct
    # value) and the driver-side offset collect; 4x parallelism keeps
    # every core busy on the window stage without a 2048-wide fold
    parallelism = spark.sparkContext.defaultParallelism
    b_eff = min(n_buckets, max(64, 4 * parallelism))
    return [i / b_eff for i in range(1, b_eff)]


def _sample_pred(col: str = "v") -> Column:
    """Deterministic ``EQUIDEPTH_SAMPLE_FRACTION`` membership predicate:
    a hash bucket of the value itself, NOT ``DataFrame.sample``'s
    per-partition RNG — so the sampled sketch can run as conditional
    aggregates INSIDE the same job as the exact extremes (one probe over
    the cached histogram instead of two), and membership is stable
    across partitionings/engines."""
    return F.pmod(F.xxhash64(F.col(col), F.lit(7)), F.lit(10_000)) < int(
        EQUIDEPTH_SAMPLE_FRACTION * 10_000
    )


def _equidepth_bounds(
    cached: DataFrame, n_buckets: int, extra_aggs: tuple | list = ()
) -> tuple[list, object]:
    """Equi-DEPTH bucket boundaries for a (v, ...) distinct-value frame:
    a ``percentile_approx`` sketch (accuracy 1000) over a
    ``EQUIDEPTH_SAMPLE_FRACTION`` hash-sample of the cached frame,
    computed in the SAME single job as the exact lo/hi (conditional
    aggregates over :func:`_sample_pred`).  Returns ``(bounds,
    stats_row)`` where stats carries lo/hi for the degenerate checks.
    Boundary/sample error affects bucket *balance* only, never
    correctness — bucket membership is a pure function of v.
    ``bounds`` may be empty (tiny frame, empty sample): callers must
    fall back to linear interpolation, not assume a single value.
    """
    fracs = _equidepth_fracs(cached.sparkSession, n_buckets)
    if not fracs:
        return [], cached.agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.count(F.lit(1)).alias("n_rows"),
            *extra_aggs,
        ).first()
    sampled = F.when(_sample_pred(), F.col("v"))
    stats = cached.agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count(sampled).alias("m"),
        F.percentile_approx(
            sampled, _sql_double_array(fracs), 1_000
        ).alias("bounds"),
        *extra_aggs,
    ).first()
    if stats["lo"] is None or stats["lo"] == stats["hi"]:
        return [], stats
    return _dedupe_bounds(stats["bounds"], sample_n=int(stats["m"])), stats


def _bucketed_global_cum(
    vals: DataFrame, cnt_cols: list[str], n_buckets: int = RANK_BUCKETS
) -> DataFrame:
    """(v, *cnt_cols) histogram -> adds ``cum``: the INCLUSIVE global
    cumulative of ``cnt_cols[0]`` in ascending ``v`` order, without a
    global window.  ``vals`` must have a numeric column ``v``; rows with
    the same ``v`` must already be aggregated (one row per value).

    Buckets are EQUI-DEPTH (boundaries from a ``percentile_approx``
    sketch over the distinct-value rows), not linear [min, max]
    interpolation: on heavy-tailed domains (revenue, counts) linear
    edges put nearly every distinct value in one bucket and its window
    partition degenerates toward the global window this construction
    exists to avoid.  Depth balance holds by construction regardless of
    the value distribution; sketch error only perturbs the balance,
    never the result (bucket membership stays a pure function of v, and
    the cumulative is exact within and across buckets).

    The histogram is persisted BEFORE the sketch probe, so the
    (potentially expensive) upstream derivation computes once and the
    three consumers — bounds probe, per-bucket totals, windowed join —
    all read cached blocks.
    """
    from ..pipeline._util import materialize_once

    out = _bucketed_global_cums(
        vals, [cnt_cols[0]], carry_cols=cnt_cols[1:], n_buckets=n_buckets
    )
    return out.withColumnRenamed(f"cum_{cnt_cols[0]}", "cum").select(
        "v", *cnt_cols, "cum"
    )


def _cum_col_specs(vals: DataFrame, cum_cols: list[str]) -> dict:
    """dtype dispatch for the cumulative columns: integral columns
    accumulate as Python ints and ship as ``L``-suffixed literals;
    DECIMAL(p,s) columns accumulate as exact :class:`decimal.Decimal`
    and ship as ``CAST('…' AS DECIMAL(38,s))`` literals (every entry
    the same type — mixed-precision literals in one ``map()`` fail)."""
    import re as _re

    dts = dict(vals.dtypes)
    specs = {}
    for c in cum_cols:
        m = _re.match(r"decimal\((\d+),(\d+)\)", dts[c])
        specs[c] = int(m.group(2)) if m else None  # scale, or None=int
    return specs


def _bucketed_global_cums(
    vals: DataFrame,
    cum_cols: list[str],
    carry_cols: tuple | list = (),
    n_buckets: int = RANK_BUCKETS,
    return_totals: bool = False,
    empty_ok: bool = False,
    small_frame_rows: int = 0,
):
    """Generalized bucket-partitioned cumulative: adds ``cum_<c>`` — the
    INCLUSIVE global cumulative in ascending ``v`` order — for EVERY
    long- or decimal-typed column c in ``cum_cols``, sharing one sketch
    probe, one per-bucket offsets collect (B rows x |cum_cols| values)
    and one window stage.  ``carry_cols`` pass through untouched.  Same
    contract as :func:`_bucketed_global_cum`: one row per distinct
    ``v``.  Decimal columns accumulate EXACTLY (offsets held as Python
    ``decimal.Decimal``), so the cumulative is order-independent and
    bit-identical to a sequential global sum — the determinism path the
    survival family (operators.timeseries) rides.

    ``return_totals=True`` additionally returns ``{col: grand total}``
    (int / ``decimal.Decimal``) — free from the offsets fold, saving
    callers a separate totals scan (e.g. cox ``n_subjects``).
    ``empty_ok=True`` turns the empty-input error into an empty result
    frame (+ zero totals) so digest operators keep their empty-digest
    contract.

    ``small_frame_rows > 0`` enables a MEASURED-size fast path: the
    boundary probe counts the exact distinct-value rows anyway, and
    when that count is at or below the threshold the cumulative runs
    as one plain ordered window on a single partition — dropping the
    per-bucket offsets job and the literal-map build, which dominate
    wall-clock on day-grain frames (hundreds of rows) where the
    bucketed machinery exists only as insurance.  This is NOT the
    unbounded-single-partition hazard the scaffold removes: the
    single-partition sort is taken only after MEASURING the frame at
    <= threshold rows (<= a few MB), and any larger frame takes the
    bucketed path automatically.  Values are identical on both paths
    (exact integer/decimal folds, order-free), and the cum column
    types are pinned to the bucketed path's result types.
    """
    from decimal import Decimal

    from ..pipeline._util import materialize_once

    specs = _cum_col_specs(vals, cum_cols)

    def _typed(c: str):
        # degenerate branches mirror the normal path's result types
        # (window-sum widens longs to bigint, decimals to DECIMAL(38,s))
        s = specs[c]
        t = "bigint" if s is None else f"decimal(38,{s})"
        return F.col(c).cast(t).alias(f"cum_{c}")

    cached = materialize_once(vals)
    extra = (
        [F.sum(c).alias(f"__tot_{c}") for c in cum_cols]
        if return_totals
        else []
    )
    bounds, stats = _equidepth_bounds(cached, n_buckets, extra_aggs=extra)

    def _probe_totals():
        return {
            c: (
                (0 if specs[c] is None else Decimal(0))
                if stats[f"__tot_{c}"] is None
                else (
                    int(stats[f"__tot_{c}"])
                    if specs[c] is None
                    else stats[f"__tot_{c}"]
                )
            )
            for c in cum_cols
        }

    lo, hi = stats["lo"], stats["hi"]
    if lo is None:
        if not empty_ok:
            raise ValueError(
                "rank statistics need at least one non-null value"
            )
        out = cached.select(
            "v", *cum_cols, *carry_cols, *[_typed(c) for c in cum_cols]
        )
        zeros = {
            c: (0 if specs[c] is None else Decimal(0)) for c in cum_cols
        }
        return (out, zeros) if return_totals else out
    if float(hi) == float(lo):
        # single distinct value: one row, each cum == its own count
        out = cached.select(
            "v", *cum_cols, *carry_cols, *[_typed(c) for c in cum_cols]
        )
        if not return_totals:
            return out
        return out, _probe_totals()
    try:
        n_rows = int(stats["n_rows"])
    except (KeyError, TypeError, ValueError):
        n_rows = None
    if (
        small_frame_rows
        and n_rows is not None
        and n_rows <= small_frame_rows
    ):
        w_small = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, 0
        )
        out = cached.select(
            "v",
            *cum_cols,
            *carry_cols,
            *[
                F.sum(c)
                .over(w_small)
                .cast(
                    "bigint"
                    if specs[c] is None
                    else f"decimal(38,{specs[c]})"
                )
                .alias(f"cum_{c}")
                for c in cum_cols
            ],
        )
        if not return_totals:
            return out
        return out, _probe_totals()
    if bounds:
        # bucket = number of boundaries <= v: monotone in v, so bucket
        # ids enumerate the value ranges in order (ties at a boundary go
        # to the upper bucket on both sides of any engine — arithmetic)
        b = _bounds_bucket_sql("v", bounds)
        if b is None:  # non-numeric boundary: Column-API fold
            b = F.aggregate(
                F.array(*[F.lit(bd) for bd in bounds]),
                F.lit(0),
                lambda acc, bd: acc
                + F.when(F.col("v") >= bd, F.lit(1)).otherwise(F.lit(0)),
            )
        b = b.cast("int")
    else:
        # empty sample (tiny frame): linear edges are fine at that size
        b = F.least(
            F.floor(
                (F.col("v").cast("double") - float(lo))
                / (float(hi) - float(lo))
                * n_buckets
            ),
            F.lit(n_buckets - 1),
        ).cast("int")
    hist = cached.withColumn("__b", b)
    per_bucket = hist.groupBy("__b").agg(
        *[F.sum(c).alias(c) for c in cum_cols]
    ).collect()
    acc = {
        c: (0 if specs[c] is None else Decimal(0)) for c in cum_cols
    }
    offsets: dict[str, dict[int, object]] = {c: {} for c in cum_cols}
    for row in sorted(per_bucket, key=lambda r: r["__b"]):
        for c in cum_cols:
            offsets[c][int(row["__b"])] = (
                int(acc[c]) if specs[c] is None else acc[c]
            )
            if row[c] is not None:
                acc[c] += row[c]
    w = (
        Window.partitionBy("__b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    # the <=B per-column offsets ship as LITERAL maps, not a broadcast
    # join: strictly map-side (no join machinery in the window's child —
    # a join there also trips a Catalyst binding bug at some partition
    # counts).  Built as ONE SQL string per column: the same map through
    # the Python column API costs 2·B py4j round-trips per column
    # (multi-second plan-BUILD time for the 6-column grouped operators),
    # while the string parses JVM-side in milliseconds.  All values get
    # the L suffix — mixed int/long literals in one map() fail.
    def _off(c: str):
        s = specs[c]
        if s is None:
            pairs = ", ".join(
                f"{k}, {off}L" for k, off in offsets[c].items()
            )
        else:
            # precision 37, NOT 38: Spark's decimal-ADD result needs
            # max(int1, int2) + s + 1 digits; a 38-wide operand forces
            # 39 -> precision-loss adjustment, which at scale > 6
            # silently DROPS fractional digits (min-adjusted-scale is
            # 6).  With the window-sum side kept narrow by the caller
            # (term columns <= DECIMAL(27,s)), a (37,s) offset makes
            # the addition land exactly on (38,s) — no digit loss.
            pairs = ", ".join(
                f"{k}, CAST('{format(off, 'f')}' AS DECIMAL(37,{s}))"
                for k, off in offsets[c].items()
            )
        return F.expr(f"element_at(map({pairs}), __b)")

    out = hist.select(
        "v",
        *cum_cols,
        *carry_cols,
        *[
            (F.sum(c).over(w) + _off(c)).alias(f"cum_{c}")
            for c in cum_cols
        ],
    )
    if not return_totals:
        return out
    totals = {
        c: (int(acc[c]) if specs[c] is None else acc[c])
        for c in cum_cols
    }
    return out, totals


def gini_coefficient(df: DataFrame, column: str) -> DataFrame:
    """Exact Gini concentration index of a non-negative numeric column,
    as one digest row (n, sum_value, gini).

    ``G = (2*Σ i*x_(i) - (n+1)*Σx) / (n*Σx)`` over ascending-sorted
    values — computed from the distinct-value histogram with the
    bucket-partitioned cumulative (no global window; see module note).
    All sums are DECIMAL(38,0)-exact; only the final division is double.
    Extension — no reference counterpart; nearest relative is the
    distribution statistics in operators/profile.py.
    """
    vals = (
        df.where(F.col(column).isNotNull())
        .groupBy(F.col(column).alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = _bucketed_global_cum(vals, ["cnt"])
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = cum.agg(
        F.sum(dec(F.col("cnt"))).alias("n"),
        F.sum(dec(F.col("v")) * dec(F.col("cnt"))).alias("s"),
        F.sum(
            dec(F.col("v"))
            * dec(F.col("cnt"))
            * (2 * dec(F.col("cum")) - dec(F.col("cnt")) + 1)
        ).alias("t2"),
        F.min("v").alias("__vmin"),
    )
    num = (F.col("t2") - (F.col("n") + 1) * F.col("s")).cast("double")
    den = (F.col("n") * F.col("s")).cast("double")
    # zero total (all values 0) OR a negative value (the rank-sum
    # identity only yields a [0,1] index for non-negative domains):
    # gini is undefined -> NULL, not an ANSI divide-by-zero or a
    # silently out-of-range statistic (the constraint surface reports
    # "undefined"); the check rides the existing digest aggregate
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("s").cast("decimal(38,0)").alias("sum_value"),
        F.when((den != 0) & (F.col("__vmin") >= 0), num / den)
        .otherwise(F.lit(None).cast("double"))
        .alias("gini"),
    )


def mann_whitney_u(
    df: DataFrame, column: str, group_column: str, group_a, group_b
) -> DataFrame:
    """Exact two-sample Mann-Whitney U (Wilcoxon rank-sum) with average
    ranks for ties and tie-corrected normal approximation, as one digest
    row (n_a, n_b, u_a, z).

    Rank sums come from the tie-block identity over the combined
    distinct-value histogram (bucket-partitioned cumulative, no global
    window): ``2*R_a = Σ_v n_a(v) * (2*cum(v) - cnt(v) + 1)``.  The tie
    correction uses ``Σ (t³ - t)`` over tie sizes t.  Everything is
    integer-exact until the final double expressions, whose parse trees
    are engine-portable.  Extension — no reference counterpart; the
    two-sample KS statistic (this module) is the reference-parity peer.
    """
    both = df.where(
        F.col(column).isNotNull()
        & F.col(group_column).isin([group_a, group_b])
    )
    vals = both.groupBy(F.col(column).alias("v")).agg(
        F.sum(
            F.when(F.col(group_column) == group_a, 1).otherwise(0)
        ).alias("na"),
        F.count(F.lit(1)).alias("cnt"),
    )
    cum = _bucketed_global_cum(vals, ["cnt", "na"])
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = cum.agg(
        F.sum(dec(F.col("na"))).alias("n1"),
        F.sum(dec(F.col("cnt")) - dec(F.col("na"))).alias("n2"),
        F.sum(
            dec(F.col("na"))
            * (2 * dec(F.col("cum")) - dec(F.col("cnt")) + 1)
        ).alias("r2a"),  # 2 * rank-sum of group a
        F.sum(
            dec(F.col("cnt")) * dec(F.col("cnt")) * dec(F.col("cnt"))
            - dec(F.col("cnt"))
        ).alias("ties"),  # Σ t³ - t
    )
    n1, n2 = F.col("n1"), F.col("n2")
    n = n1 + n2
    # U_a = R_a - n1(n1+1)/2; kept doubled until the final division
    u2 = (F.col("r2a") - n1 * (n1 + 1)).cast("double")
    mu2 = (n1 * n2).cast("double")  # 2 * mean(U)
    # var(U) = n1*n2/12 * ((n+1) - Σ(t³-t)/(n(n-1)))
    # Degenerate inputs (one side empty, n<2, all values tied) have
    # var == 0 — z is NULL then, not an ANSI divide-by-zero.
    pair_den = (n * (n - 1)).cast("double")
    tie_term = F.when(
        pair_den > 0, F.col("ties").cast("double") / pair_den
    ).otherwise(F.lit(0.0))
    var = (n1 * n2).cast("double") / 12.0 * ((n + 1).cast("double") - tie_term)
    return agg.select(
        n1.cast("bigint").alias("n_a"),
        n2.cast("bigint").alias("n_b"),
        (u2 / 2.0).alias("u_a"),
        F.when(var > 0, (u2 - mu2) / 2.0 / F.sqrt(var))
        .otherwise(F.lit(None).cast("double"))
        .alias("z"),
    )


def _chi2_dense(
    df: DataFrame, column_a: str, column_b: str
) -> DataFrame:
    """Shared dense contingency grid ``(n_a, n_b, g, o, e)`` backing
    :func:`chi_squared_independence` and :func:`cramers_v` — identical
    expression tree to the original inline form."""
    from ..pipeline._util import materialize_once

    cells = materialize_once(
        df.where(F.col(column_a).isNotNull() & F.col(column_b).isNotNull())
        .groupBy(F.col(column_a).alias("a"), F.col(column_b).alias("b"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    row_m = cells.groupBy("a").agg(F.sum("o").alias("ra"))
    col_m = cells.groupBy("b").agg(F.sum("o").alias("cb"))
    grand = cells.agg(
        F.sum("o").alias("g"),
        F.count_distinct(F.col("a")).alias("n_a"),
        F.count_distinct(F.col("b")).alias("n_b"),
    )
    return (
        row_m.crossJoin(col_m)
        .join(cells, ["a", "b"], "left")
        .join(F.broadcast(grand))
        .select(
            "n_a",
            "n_b",
            "g",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            (
                (F.col("ra") * F.col("cb")).cast("double")
                / F.col("g").cast("double")
            ).alias("e"),
        )
    )


def cramers_v(df: DataFrame, column_a: str, column_b: str) -> DataFrame:
    """Cramér's V effect size, one digest row ``(n, dof, chi2, v)``:
    ``V = sqrt(chi2 / (n · min(n_a-1, n_b-1)))`` in [0, 1] — the
    chi-squared statistic normalized to be comparable across tables and
    column pairs (chi2 itself grows with n, so a gate on it means
    nothing across snapshots of different sizes; V doesn't).

    Same single-shuffle dense-grid skeleton as
    :func:`chi_squared_independence` (shared ``_chi2_dense``); a 1xK or
    Kx1 table (min dof 0) yields NULL rather than dividing by zero.
    Extension — no reference counterpart; completes the categorical
    association family (chi2 / MI / NMI / Theil's U / V).
    """
    dense = _chi2_dense(df, column_a, column_b)
    agg = dense.groupBy("n_a", "n_b", "g").agg(
        F.sum(
            (F.col("o").cast("double") - F.col("e"))
            * (F.col("o").cast("double") - F.col("e"))
            / F.col("e")
        ).alias("chi2"),
    )
    min_dim = F.least(F.col("n_a") - 1, F.col("n_b") - 1)
    return agg.select(
        F.col("g").cast("bigint").alias("n"),
        ((F.col("n_a") - 1) * (F.col("n_b") - 1))
        .cast("bigint")
        .alias("dof"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.when(
                min_dim > 0,
                F.sqrt(
                    F.col("chi2")
                    / (F.col("g").cast("double") * min_dim.cast("double"))
                ),
            ),
            6,
        ).alias("v"),
    )


def chi_squared_independence(
    df: DataFrame, column_a: str, column_b: str
) -> DataFrame:
    """Pearson chi-squared test of independence between two categorical
    columns, as one digest row (dof, chi2).

    One groupBy shuffle builds the observed contingency cells; margins
    are aggregates OF THE CELLS (|A|·|B| rows, never the fact table
    twice), and the dense cell grid — including zero-observed cells,
    which still carry expected mass — is the cross join of the two tiny
    margin tables.  Counts are integer-exact; ``Σ (o-e)²/e`` is a double
    fold over them.  Extension — no reference counterpart; peers the KS
    statistic for the categorical case.
    """
    dense = _chi2_dense(df, column_a, column_b)
    return dense.groupBy("n_a", "n_b").agg(
        F.sum(
            (F.col("o").cast("double") - F.col("e"))
            * (F.col("o").cast("double") - F.col("e"))
            / F.col("e")
        ).alias("chi2"),
    ).select(
        ((F.col("n_a") - 1) * (F.col("n_b") - 1))
        .cast("bigint")
        .alias("dof"),
        "chi2",
    )


def _mi_entropy_agg(
    df: DataFrame, column_a: str, column_b: str
) -> DataFrame:
    """Shared 1-row frame ``(n, mi, ha, hb)`` backing
    :func:`mutual_information` and :func:`theils_u` — identical
    expression tree to the original inline form, so the established
    cross-engine digests are unchanged."""
    from ..pipeline._util import materialize_once

    cells = materialize_once(
        df.where(F.col(column_a).isNotNull() & F.col(column_b).isNotNull())
        .groupBy(F.col(column_a).alias("a"), F.col(column_b).alias("b"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    row_m = cells.groupBy("a").agg(F.sum("o").alias("ra"))
    col_m = cells.groupBy("b").agg(F.sum("o").alias("cb"))
    grand = cells.agg(F.sum("o").alias("g"))
    joined = (
        cells.join(F.broadcast(row_m), "a")
        .join(F.broadcast(col_m), "b")
        .join(F.broadcast(grand))
    )
    o = F.col("o").cast("double")
    g = F.col("g").cast("double")
    mi_term = (o / g) * (
        F.log(o) + F.log(g)
        - F.log(F.col("ra").cast("double"))
        - F.log(F.col("cb").cast("double"))
    )
    # marginal entropies from the SAME joined frame: each cell carries
    # its margins, so Σ o/ra is 1 per margin value and
    # H(A) = -Σ_cells (o/g)·ln(ra/g) ... computed via the cell weights
    h_a_term = -(o / g) * (F.log(F.col("ra").cast("double")) - F.log(g))
    h_b_term = -(o / g) * (F.log(F.col("cb").cast("double")) - F.log(g))
    # coalesce: an EMPTY selection aggregates zero cells into one row
    # where max(g) is NULL — callers' "n == 0 -> vacuous" convention
    # needs a real 0 there, not None
    return joined.agg(
        F.coalesce(F.max("g"), F.lit(0)).cast("bigint").alias("n"),
        F.sum(mi_term).alias("mi"),
        F.sum(h_a_term).alias("ha"),
        F.sum(h_b_term).alias("hb"),
    )


def theils_u(df: DataFrame, column_a: str, column_b: str) -> DataFrame:
    """Theil's uncertainty coefficient both ways, one digest row
    ``(n, u_a_given_b, u_b_given_a)``: ``U(A|B) = MI / H(A)`` is the
    fraction of A's entropy explained by knowing B (0 = nothing,
    1 = fully determined).  The ASYMMETRIC dependence measure the
    symmetric NMI (:func:`mutual_information`) hides: a many-to-one
    mapping scores U(A|B)=1 but U(B|A)<1, which is exactly the
    direction a functional-dependency hunt cares about.

    Same single-shuffle cell skeleton and log-sum fold as
    :func:`mutual_information` (shared ``_mi_entropy_agg``); degenerate
    marginals (zero entropy — a constant column) yield NULL, not a
    division error.  Extension — no reference counterpart; the graded
    companion to the reference's exact functional-dependency check
    (db_access.py functional dependency query).
    """
    agg = _mi_entropy_agg(df, column_a, column_b)
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.when(F.col("ha") > 0, F.col("mi") / F.col("ha")), 6
        ).alias("u_a_given_b"),
        F.round(
            F.when(F.col("hb") > 0, F.col("mi") / F.col("hb")), 6
        ).alias("u_b_given_a"),
    )


def mutual_information(
    df: DataFrame, column_a: str, column_b: str
) -> DataFrame:
    """Mutual information (nats) between two categorical columns, as one
    digest row ``(n, mi, nmi)`` — the model-free "how much does A tell
    you about B?" dependence measure (0 = independent); ``nmi`` is
    MI / sqrt(H(A)·H(B)) in [0, 1], comparable across column pairs.

    Same plan skeleton as :func:`chi_squared_independence`: ONE groupBy
    shuffle builds the observed cells; margins and entropies are
    aggregates OF THE CELLS (|A|·|B| rows, never a second fact-table
    scan — the margins broadcast-join back onto the cells).  Counts stay
    integer-exact; each MI term is
    ``o/N · (ln(o) + ln(N) − ln(ra) − ln(cb))`` — the log-sum form, so
    no integer product ``o·N`` that would overflow int64 at 100 TB row
    counts.  Zero-observed cells contribute exactly 0 and are skipped
    (no dense grid needed, unlike chi-squared where they carry expected
    mass).  Extension — no reference counterpart; the
    information-theoretic peer of the chi-squared gate.
    """
    agg = _mi_entropy_agg(df, column_a, column_b)
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.round("mi", 6).alias("mi"),
        F.round(
            F.when(
                (F.col("ha") > 0) & (F.col("hb") > 0),
                F.col("mi") / F.sqrt(F.col("ha") * F.col("hb")),
            ),
            6,
        ).alias("nmi"),
    )


def js_divergence(
    df1: DataFrame,
    df2: DataFrame,
    column: str,
    lo: float,
    hi: float,
    n_buckets: int = 10,
) -> DataFrame:
    """Jensen-Shannon divergence (nats) between two samples of
    ``column`` over fixed-width buckets, one digest row ``(jsd)``.

    ``JS = ½ KL(p‖m) + ½ KL(q‖m)`` with ``m = (p+q)/2`` — symmetric and
    bounded by ln 2, unlike PSI (unbounded) or KL (asymmetric, infinite
    on disjoint support); the same +0.5 Laplace smoothing as
    :func:`psi_drift` keeps empty buckets finite.  The histogram join is
    DENSIFIED against the full ``0..n_buckets-1`` bucket spine before
    smoothing: under Laplace smoothing a bucket empty in BOTH samples
    still contributes a nonzero term whenever the totals differ, so the
    statistic must not depend on which buckets happen to be occupied —
    it equals the documented n_buckets-wide smoothed JS exactly.  Plan
    shape: two conditional bucket-count scans; the spine join and the
    fold run on the ``n_buckets``-row frames (broadcast, no extra
    shuffle).  ``jsd`` is NULL when EITHER sample is empty — smoothing
    an all-zero side would otherwise yield a bogus finite divergence
    against a uniform phantom.  Extension — completes the drift-metric
    family (PSI, KS, EMD, JS).
    """
    def counts(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.where(F.col(column).isNotNull())
            .groupBy(value_bucket(column, lo, hi, n_buckets).alias("bucket"))
            .agg(F.count(F.lit(1)).alias(alias))
        )

    c1, c2 = counts(df1, "n1"), counts(df2, "n2")
    spine = df1.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    joined = (
        spine.join(c1, "bucket", "left")
        .join(c2, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n1", F.lit(0)).alias("n1"),
            F.coalesce("n2", F.lit(0)).alias("n2"),
        )
    )
    w = Window.partitionBy()
    k = float(n_buckets)
    p = (F.col("n1") + 0.5) / (F.sum("n1").over(w) + 0.5 * k)
    q = (F.col("n2") + 0.5) / (F.sum("n2").over(w) + 0.5 * k)
    m = (p + q) / 2
    term = 0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)
    rows = joined.select(
        term.alias("term"),
        F.sum("n1").over(w).alias("t1"),
        F.sum("n2").over(w).alias("t2"),
    )
    return rows.agg(
        F.round(
            F.when(
                (F.max("t1") > 0) & (F.max("t2") > 0), F.sum("term")
            ),
            6,
        ).alias("jsd")
    )


def grouped_js_divergence(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 10,
    groups: list | None = None,
    max_groups: int = 100,
) -> DataFrame:
    """Per-group Jensen-Shannon divergence vs the POOLED distribution
    over fixed-width buckets: one row ``(group, n, jsd)`` per group —
    WHICH segment drifted, by the bounded symmetric metric.

    Same conditional-aggregation discipline as :func:`grouped_ks`: ONE
    bucket-histogram shuffle carries every group's counts plus the
    pooled count, densified against the full ``0..n_buckets-1`` spine
    (both-empty buckets still contribute under Laplace smoothing, see
    :func:`js_divergence`), and every group's fold is one aggregate
    expression over that ``n_buckets``-row frame — group count never
    adds scans.  ``jsd`` is NULL for empty groups.  Group discovery is
    capped at ``max_groups`` (same contract as :func:`grouped_ks`).
    Extension — completes the grouped drift family (KS, quantile grid,
    Theil-Sen, JS).
    """
    non_null = df.where(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    )
    if groups is None:
        rows = (
            non_null.select(F.col(group_col).alias("g"))
            .distinct()
            .limit(max_groups + 1)
            .collect()
        )
        if len(rows) > max_groups:
            raise ValueError(
                f"grouped_js_divergence: more than max_groups="
                f"{max_groups} distinct groups in {group_col}; pass an "
                "explicit `groups` list."
            )
        groups = sorted(r["g"] for r in rows)
    cnt_aliases = [f"c{i}" for i in range(len(groups))]
    hist = non_null.groupBy(
        value_bucket(value_col, lo, hi, n_buckets).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        *[
            F.count(F.when(F.col(group_col) == F.lit(g), 1)).alias(a)
            for g, a in zip(groups, cnt_aliases)
        ],
    )
    spine = df.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    dense = spine.join(hist, "bucket", "left").select(
        "bucket",
        F.coalesce("cnt", F.lit(0)).alias("cnt"),
        *[F.coalesce(a, F.lit(0)).alias(a) for a in cnt_aliases],
    )
    w = Window.partitionBy()
    k = float(n_buckets)
    q = (F.col("cnt") + 0.5) / (F.sum("cnt").over(w) + 0.5 * k)
    jsd_exprs = []
    n_exprs = []
    for g, a in zip(groups, cnt_aliases):
        p = (F.col(a) + 0.5) / (F.sum(a).over(w) + 0.5 * k)
        m = (p + q) / 2
        term = 0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)
        n_exprs.append(F.sum(F.col(a)).over(w).alias(f"n_{a}"))
        jsd_exprs.append(term.alias(f"t_{a}"))
    terms = dense.select(*jsd_exprs, *n_exprs)
    agg = terms.agg(
        *[
            F.when(F.max(f"n_{a}") > 0, F.round(F.sum(f"t_{a}"), 6)).alias(
                f"j_{a}"
            )
            for a in cnt_aliases
        ],
        *[F.max(f"n_{a}").alias(f"m_{a}") for a in cnt_aliases],
    )
    stack_args = ", ".join(
        f"{_sql_str(g)}, CAST(m_{a} AS BIGINT), j_{a}"
        for g, a in zip(groups, cnt_aliases)
    )
    g_type = df.schema[group_col].dataType
    return agg.select(
        F.expr(
            f"stack({len(groups)}, {stack_args}) "
            f"AS ({_sql_ident(group_col)}, n, jsd)"
        )
    ).select(
        F.col(group_col).cast(g_type).alias(group_col),
        "n",
        "jsd",
    )


#: Distinct-value count under which a rank map is treated as a
#: broadcastable dimension in spearman_correlation.
SPEARMAN_BROADCAST_DISTINCT = 100_000


def spearman_correlation(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Exact Spearman rank correlation (tie-averaged) between two
    numeric columns, as one digest row (n, rho).

    Each column's tie-averaged ranks come from its distinct-value
    histogram via the bucket-partitioned cumulative (no global window),
    DOUBLED to stay integer: ``2*avg_rank(v) = 2*cum(v) - cnt(v) + 1``.
    Sufficient statistics are DECIMAL(38,0)-exact over the doubled ranks
    (the shared factor 2 cancels in the Pearson formula); only the final
    quotient is double.

    Plan shape is cardinality-adaptive (rho is symmetric, so the roles
    can swap).  When either column's distinct count is small — ratings,
    quantities, bucketed scores; the common monotone-association shape —
    its rank map BROADCASTS onto the pair frame, and every y-side
    statistic folds through the y HISTOGRAM itself:
    ``Σ rx·ry = Σ_v ry(v)·S_v`` with ``S_v = Σ_{rows y=v} rx`` riding
    the same groupBy that builds the histogram.  That removes both
    fact-table join-backs — the dominant cost of the naive plan
    (measured 2.1 s of a 4.2 s total at sf0.1 on a near-unique column).
    When both sides are near-unique the plan falls back to the two
    equi-joins against the aggregated rank maps.  Extension — peers
    Pearson ``pairwise_corr`` (operators/profile.py).
    """
    from ..pipeline._util import materialize_once, spread

    # the pair projection feeds the rank-map derivations AND the final
    # fold — persist it once or the source scans three times.  spread()
    # first: the cache keeps its build partitioning, and a small
    # single-file scan would otherwise pin every consumer pass (two
    # histograms + the decimal fold) to the scan's 1-3 tasks.
    base = materialize_once(
        spread(
            df.where(
                F.col(col_x).isNotNull() & F.col(col_y).isNotNull()
            ).select(F.col(col_x).alias("__x"), F.col(col_y).alias("__y"))
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    def _rank_map(col: str, out: str) -> DataFrame:
        hist = base.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        cum = _bucketed_global_cum(hist, ["cnt"])
        return cum.select(
            F.col("v").alias(col),
            (2 * F.col("cum") - F.col("cnt") + 1).alias(out),
        )

    # ONE sketch job decides the plan shape for BOTH columns: the old
    # exact distinct().limit().count() probes cost one full distinct
    # SHUFFLE each (up to two jobs here; a corpus-wide shuffle at real
    # scale), while HLL cardinalities merge map-side.  The probe only
    # picks between two value-identical plans, so sketch error is a
    # perf hazard (a ~5%-oversized broadcast map), never a result
    # change.
    cards = base.agg(
        F.approx_count_distinct("__x").alias("nx"),
        F.approx_count_distinct("__y").alias("ny"),
    ).first()
    small, big = None, None
    if cards["nx"] <= SPEARMAN_BROADCAST_DISTINCT:
        small, big = "__x", "__y"
    elif cards["ny"] <= SPEARMAN_BROADCAST_DISTINCT:
        small, big = "__y", "__x"

    if small is not None:
        # the small side's histogram is <= SPEARMAN_BROADCAST_DISTINCT
        # rows by the probe above — a bounded-domain frame where one
        # ordered window IS the cheap plan (the bucketed machinery's
        # sketch/offset jobs cost more than they save at this size)
        hist_small = base.groupBy(F.col(small).alias("v")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        w_small = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, 0
        )
        rmap = hist_small.select(
            F.col("v").alias(small),
            (
                2 * F.sum("cnt").over(w_small) - F.col("cnt") + 1
            ).alias("__rs"),
        )
        # one shuffle on the big column: histogram + per-value Σrs, Σrs²
        hist_big = (
            base.join(F.broadcast(rmap), small)
            .groupBy(F.col(big).alias("v"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(dec(F.col("__rs"))).alias("ss"),
                F.sum(dec(F.col("__rs")) * dec(F.col("__rs"))).alias("sss"),
            )
        )
        cum = _bucketed_global_cum(hist_big, ["cnt", "ss", "sss"])
        rb = 2 * dec(F.col("cum")) - dec(F.col("cnt")) + 1
        agg = cum.agg(
            F.sum(dec(F.col("cnt"))).alias("n"),
            F.sum(F.col("ss")).alias("sx"),
            F.sum(F.col("sss")).alias("sxx"),
            F.sum(dec(F.col("cnt")) * rb).alias("sy"),
            F.sum(dec(F.col("cnt")) * rb * rb).alias("syy"),
            F.sum(F.col("ss") * rb).alias("sxy"),
        )
    else:
        ranked = base.join(_rank_map("__x", "__rx"), "__x").join(
            _rank_map("__y", "__ry"), "__y"
        )
        agg = ranked.agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum(dec(F.col("__rx"))).alias("sx"),
            F.sum(dec(F.col("__ry"))).alias("sy"),
            F.sum(dec(F.col("__rx")) * dec(F.col("__ry"))).alias("sxy"),
            F.sum(dec(F.col("__rx")) * dec(F.col("__rx"))).alias("sxx"),
            F.sum(dec(F.col("__ry")) * dec(F.col("__ry"))).alias("syy"),
        )
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return agg.select(
        n.cast("bigint").alias("n"),
        F.when(
            (denx > 0) & (deny > 0), num / F.sqrt(denx) / F.sqrt(deny)
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("rho"),
    )


def wasserstein_1d(
    df1: DataFrame,
    df2: DataFrame,
    col1: str,
    col2: str,
    n_buckets: int = RANK_BUCKETS,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance between two
    numeric samples, as one digest row (n1, n2, emd) — the *integral*
    of |CDF1 - CDF2| over the value axis, complementing the KS
    statistic's *maximum*.

    ``EMD = Σ over consecutive union distinct values |cum1/N1 -
    cum2/N2| · (v_next - v)``.  Plan: ONE union-histogram shuffle; the
    cumulative and the lead() both run in windows PARTITIONED by range
    bucket; the ≤``n_buckets`` bucket boundary gaps are closed on the
    driver from per-bucket (min, max, Σn1, Σn2) aggregates — cumulative
    totals at bucket ends ARE the driver-folded offsets, so boundary
    terms cost no extra engine pass.  No global window at any
    cardinality.  Counts stay integer-exact; only the final weighted
    fold is double.
    """
    from ..pipeline._util import materialize_once

    tagged = (
        df1.select(
            F.col(col1).cast("double").alias("v"),
            F.lit(1).alias("__n1"),
            F.lit(0).alias("__n2"),
        )
        .where(F.col("v").isNotNull())
        .unionAll(
            df2.select(
                F.col(col2).cast("double").alias("v"),
                F.lit(0).alias("__n1"),
                F.lit(1).alias("__n2"),
            ).where(F.col("v").isNotNull())
        )
    )
    hist = materialize_once(
        tagged.groupBy("v").agg(
            F.sum("__n1").alias("n1"), F.sum("__n2").alias("n2")
        )
    )
    # ONE probe over the cached histogram: exact extremes/totals AND the
    # equi-depth boundary sketch (conditional aggregates over the
    # deterministic hash-sample predicate) — linear [lo, hi] edges
    # degenerate on heavy tails, see _bucketed_global_cum
    spark = df1.sparkSession
    fracs = _equidepth_fracs(spark, n_buckets)
    aggs = [
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.sum("n1").alias("t1"),
        F.sum("n2").alias("t2"),
    ]
    if fracs:
        sampled = F.when(_sample_pred(), F.col("v"))
        aggs += [
            F.count(sampled).alias("m"),
            F.percentile_approx(
                sampled, _sql_double_array(fracs), 1_000
            ).alias("bounds"),
        ]
    stats = hist.agg(*aggs).first()
    lo, hi, t1, t2 = stats["lo"], stats["hi"], stats["t1"], stats["t2"]
    if lo is None or not t1 or not t2:
        raise ValueError("wasserstein_1d needs non-empty samples both sides")
    if hi == lo:
        return spark.createDataFrame(
            [(int(t1), int(t2), 0.0)], "n1 long, n2 long, emd double"
        )
    bounds = []
    if fracs:
        bounds = _dedupe_bounds(stats["bounds"], sample_n=int(stats["m"]))
    if bounds:
        b = _bounds_bucket_sql("v", bounds)
        if b is None:  # non-numeric boundary: Column-API fold
            b = F.aggregate(
                F.array(*[F.lit(bd) for bd in bounds]),
                F.lit(0),
                lambda acc, bd: acc
                + F.when(F.col("v") >= bd, F.lit(1)).otherwise(F.lit(0)),
            )
        b = b.cast("int")
    else:
        b = F.least(
            F.floor((F.col("v") - lo) / (hi - lo) * n_buckets),
            F.lit(n_buckets - 1),
        ).cast("int")
    bucketed = hist.withColumn("__b", b)
    per_bucket = sorted(
        bucketed.groupBy("__b")
        .agg(
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
            F.sum("n1").alias("c1"),
            F.sum("n2").alias("c2"),
        )
        .collect(),
        key=lambda r: r["__b"],
    )
    acc1 = acc2 = 0
    offsets, boundary = [], 0.0
    prev = None  # (max_v, cum1_end, cum2_end) of previous bucket
    for r in per_bucket:
        offsets.append((int(r["__b"]), acc1, acc2))
        if prev is not None:
            diff = abs(prev[1] / t1 - prev[2] / t2)
            boundary += diff * (r["mn"] - prev[0])
        acc1 += int(r["c1"])
        acc2 += int(r["c2"])
        prev = (r["mx"], acc1, acc2)
    # offsets ship as literal maps, not a broadcast join — map-side, and
    # a join below a window trips a Catalyst binding bug at some
    # partition counts (see _bucketed_global_cums)
    def _off(idx: int):
        # one SQL string, not 2·B py4j lit calls (see _bucketed_global_cums)
        pairs = ", ".join(f"{tup[0]}, {tup[idx]}L" for tup in offsets)
        return F.expr(f"element_at(map({pairs}), __b)")

    w = (
        Window.partitionBy("__b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_lead = Window.partitionBy("__b").orderBy("v")
    diff = F.abs(
        (F.sum("n1").over(w) + _off(1)) / F.lit(float(t1))
        - (F.sum("n2").over(w) + _off(2)) / F.lit(float(t2))
    )
    within = (
        bucketed.select(
            (diff * (F.lead("v").over(w_lead) - F.col("v"))).alias("__c")
        )
        .agg(F.coalesce(F.sum("__c"), F.lit(0.0)).alias("__s"))
    )
    return within.select(
        F.lit(int(t1)).cast("long").alias("n1"),
        F.lit(int(t2)).cast("long").alias("n2"),
        (F.col("__s") + F.lit(boundary)).alias("emd"),
    )


def rank_2sample_tests(
    df1: DataFrame, df2: DataFrame, col1: str, col2: str
) -> DataFrame:
    """Anderson-Darling and Cramér-von Mises two-sample statistics, as
    one digest row (n1, n2, ad, cvm) — the tail-sensitive (AD) and
    integral-squared (CvM) companions to the KS max statistic.
    Extension beyond the reference (whose only distribution test is the
    KS 2-sample, constraints/stats.py:13-142).

    Tie-aware discrete forms over the union histogram of distinct
    values v_j with side counts (l1_j, l2_j), multiplicity
    l_j = l1_j + l2_j, cumulative counts (c1_j, c2_j), B_j = c1_j+c2_j,
    totals (t1, t2), N = t1+t2:

    - AD (Scholz & Stephens 1987, A²_akN for k=2, no continuity
      correction; sum over B_j < N)::

        A² = Σ_j (l_j/N) · (N·c1_j − t1·B_j)² / (B_j·(N−B_j)) · (1/t1 + 1/t2·[c2 analog])

      with the two samples' numerators equal in magnitude
      (N·c1 − t1·B = −(N·c2 − t2·B)), so one exact DECIMAL numerator
      serves both.
    - CvM (Anderson 1962, tie-weighted)::

        T = (t1·t2/N²) Σ_j l_j (c1_j/t1 − c2_j/t2)²
          = Σ_j l_j · (c1_j·t2 − c2_j·t1)² / (t1·t2·N²)

    Plan: ONE union-histogram shuffle, the shared equi-depth
    bucket-partitioned cumulative (:func:`_bucketed_global_cums` — no
    global window at any cardinality), one final aggregate.  Numerators
    are DECIMAL(38,0)-exact before the single cast to double, so both
    statistics are engine-reproducible to well past 6 decimals even
    when counts exceed 2^31.
    """
    tagged = (
        df1.select(
            F.col(col1).cast("double").alias("v"),
            F.lit(1).alias("n1"),
            F.lit(0).alias("n2"),
        )
        .where(F.col("v").isNotNull())
        .unionAll(
            df2.select(
                F.col(col2).cast("double").alias("v"),
                F.lit(0).alias("n1"),
                F.lit(1).alias("n2"),
            ).where(F.col("v").isNotNull())
        )
    )
    hist = tagged.groupBy("v").agg(
        F.sum("n1").alias("n1"), F.sum("n2").alias("n2")
    )
    # totals ride the scaffold's probe aggregate (return_totals): the
    # former raw-plan totals agg re-computed the whole histogram — a
    # second scan of both samples — before the helper's persist
    cums, totals = _bucketed_global_cums(
        hist, ["n1", "n2"], return_totals=True, empty_ok=True
    )
    t1, t2 = int(totals["n1"]), int(totals["n2"])
    if t1 == 0 or t2 == 0:
        raise ValueError("rank_2sample_tests needs non-empty samples both sides")
    n_total = t1 + t2
    dec = "decimal(38,0)"
    c1, c2 = F.col("cum_n1").cast(dec), F.col("cum_n2").cast(dec)
    b_cum = c1 + c2
    mult = (F.col("n1") + F.col("n2")).cast("double")
    # N·c1 − t1·B, exact in decimal, one cast to double before squaring
    ad_num = (
        (F.lit(n_total).cast(dec) * c1 - F.lit(t1).cast(dec) * b_cum)
        .cast("double")
    )
    ad_den = (b_cum * (F.lit(n_total).cast(dec) - b_cum)).cast("double")
    ad_term = F.when(
        b_cum < F.lit(n_total).cast(dec),
        mult
        / F.lit(float(n_total))
        * (ad_num * ad_num / ad_den)
        * F.lit(1.0 / t1 + 1.0 / t2),
    ).otherwise(F.lit(0.0))
    cvm_num = (
        (c1 * F.lit(t2).cast(dec) - c2 * F.lit(t1).cast(dec)).cast("double")
    )
    cvm_term = (
        mult
        * (cvm_num * cvm_num)
        / F.lit(float(t1) * float(t2) * float(n_total) * float(n_total))
    )
    return cums.agg(
        F.lit(t1).cast("long").alias("n1"),
        F.lit(t2).cast("long").alias("n2"),
        F.sum(ad_term).alias("ad"),
        F.sum(cvm_term).alias("cvm"),
    )


def mahalanobis_outliers_2d(
    df: DataFrame, x_col: str, y_col: str, k: int = 20
) -> DataFrame:
    """Top-``k`` most Mahalanobis-distant DISTINCT value pairs of two
    integer-valued columns: ``(x, y, cnt, d2)``, largest squared
    distance first (ties broken by (x, y) — fully deterministic).

    ``d2`` is the classic sample-covariance Mahalanobis distance: the
    joint outlier screen that single-column gates (z-score, MAD) miss —
    a (quantity, price) pair can be unremarkable in each margin yet
    impossible jointly, and it is exactly the 2x2 case where the
    inverse covariance has a closed form, so no solver and no Python:

        d2 = (n-1)·n·(Vy·u² − 2·Cxy·u·v + Vx·v²) / (Vx·Vy − Cxy²)

    with ``u = x − mean(x)``, ``Vx = n·Σx² − (Σx)²`` etc.

    Exactness/scale design: rows first collapse to DISTINCT (x, y)
    pairs with counts (one value-domain-bounded shuffle); the five
    sufficient statistics fold over that frame as DECIMAL(38,0) —
    integer-exact — and broadcast back as a 1-row cross join, so
    scoring is map-only with ONE fixed-shape double conversion per
    statistic; the top-k is a TakeOrderedAndProject on the rounded
    distance, never a global sort.  A singular covariance (collinear or
    constant columns: ``Vx·Vy = Cxy²``) yields an empty result rather
    than dividing by zero — a 1-D screen (MAD) is the right tool there.

    Extension — no reference counterpart; completes the outlier family
    (z-score: marginal/temporal, MAD: robust marginal, this: joint).
    """
    if k < 1:
        raise ValueError("k must be a positive row count")
    from ..pipeline._util import materialize_once

    pts = materialize_once(
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(
            F.col(x_col).alias("x"),
            F.col(y_col).alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    cnt = F.col("cnt")
    suff = pts.agg(
        F.sum(d38(cnt)).alias("__n"),
        F.sum(d38(d19(cnt) * F.col("x"))).alias("__sx"),
        F.sum(d38(d19(cnt) * F.col("y"))).alias("__sy"),
        F.sum(d38(d19(F.col("x")) * F.col("x")) * cnt).alias("__sxx"),
        F.sum(d38(d19(F.col("y")) * F.col("y")) * cnt).alias("__syy"),
        F.sum(d38(d19(F.col("x")) * F.col("y")) * cnt).alias("__sxy"),
    )
    n = F.col("__n")
    vx = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    vy = (n * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast("double")
    cxy = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast(
        "double"
    )
    nd = n.cast("double")
    u = F.col("x").cast("double") - F.col("__sx").cast("double") / nd
    v = F.col("y").cast("double") - F.col("__sy").cast("double") / nd
    det = vx * vy - cxy * cxy
    d2 = (
        (nd - 1.0)
        * nd
        * (vy * u * u - 2.0 * cxy * u * v + vx * v * v)
        / det
    )
    scored = (
        pts.crossJoin(F.broadcast(suff))
        .where(det > 0)
        .select(
            "x",
            "y",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(d2, 6).alias("d2"),
        )
    )
    return scored.orderBy(F.col("d2").desc(), "x", "y").limit(k)


def isotonic_calibration(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Weighted isotonic (monotone nondecreasing) fit of ``mean(y)``
    against ``x``, per equi-width x-bucket: ``(bucket, n, mean_y,
    fitted)`` — the calibration-curve monotonizer.  "Does the label
    really increase with the score?" is the question behind every
    ranking/pricing sanity check; the isotonic fit is the closest
    monotone curve (least squares), and ``mean_y`` vs ``fitted`` shows
    exactly where the data violates monotonicity and by how much.

    Algorithm: pool-adjacent-violators via the minimax identity — on
    the OCCUPIED buckets in x order,

        fitted_i = max_{j<=i} min_{k>=i} wmean(y over buckets j..k)

    which is a pure relational construction: prefix sums over the
    bucket frame, the j<=k pair grid (<= n_buckets² rows — bounded by
    construction, never by the corpus), a per-j suffix running min and
    a per-i max.  No iteration, no driver loop, and an oracle engine
    reproduces it bit-for-bit: interval sums are DECIMAL(38,0)-exact
    (y must be integer-valued — cents, counts), each interval mean
    divides ONCE as a double, and minimax is comparison-only.

    Plan shape at fact-table scale: one partial-agg'd shuffle to the
    <= ``n_buckets``-row frame (bounds broadcast from a 1-row min/max
    aggregate); everything after is windows and joins over bounded
    frames.  Empty buckets carry no weight and drop out (the fit is
    over occupied buckets; step values extend across gaps).
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be at least 2")
    if n_buckets > 4096:
        # the minimax construction builds an n_buckets² pair grid —
        # bounded BY THIS CAP, not by trusting the caller: 4096² = 16M
        # rows is still trivial, 10^5 buckets would not be
        raise ValueError("n_buckets must be at most 4096")
    from ..pipeline._util import materialize_once

    base = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    bounds = base.agg(
        F.min(F.col(x_col)).cast("double").alias("__lo"),
        F.max(F.col(x_col)).cast("double").alias("__hi"),
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_buckets))
    bucket = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col(x_col).cast("double") - F.col("__lo")) / width
            ).cast("int"),
            F.lit(n_buckets - 1),
        )
    )
    cells = materialize_once(
        base.crossJoin(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("w"),
            F.sum(F.col(y_col).cast("decimal(38,0)")).alias("sy"),
        )
    )
    # prefix sums over the bounded occupied-bucket frame (global window
    # over <= n_buckets rows — the documented calendar-frame pattern)
    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pre = cells.select(
        "bucket",
        "w",
        "sy",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("sy").over(wcum).alias("cs"),
    )
    j = pre.select(
        F.col("bucket").alias("j"),
        (F.col("cw") - F.col("w")).alias("cw_before_j"),
        (F.col("cs") - F.col("sy")).alias("cs_before_j"),
    )
    k = pre.select(
        F.col("bucket").alias("k"),
        F.col("cw").alias("cw_k"),
        F.col("cs").alias("cs_k"),
    )
    pair = j.crossJoin(k).where(F.col("j") <= F.col("k"))
    a = (F.col("cs_k") - F.col("cs_before_j")).cast("double") / (
        F.col("cw_k") - F.col("cw_before_j")
    ).cast("double")
    # per-j suffix running min over k: r(j, i) = min_{k >= i} A(j, k)
    wmin = Window.partitionBy("j").orderBy(F.col("k").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = pair.select(
        "j", F.col("k").alias("i"), F.min(a).over(wmin).alias("r")
    )
    fitted = r.groupBy("i").agg(F.max("r").alias("__fit"))
    return (
        cells.join(fitted, cells.bucket == fitted.i)
        .select(
            "bucket",
            F.col("w").cast("bigint").alias("n"),
            F.round(
                F.col("sy").cast("double") / F.col("w").cast("double"), 6
            ).alias("mean_y"),
            F.round(F.col("__fit"), 6).alias("fitted"),
        )
        .orderBy("bucket")
    )


def partial_correlation(
    df: DataFrame, x_col: str, y_col: str, z_col: str
) -> DataFrame:
    """First-order partial correlation of two integer-valued columns
    controlling for a third, one digest row
    ``(n, r_xy, r_xz, r_yz, r_xy_given_z)``:

        r_xy.z = (r_xy − r_xz·r_yz) / sqrt((1 − r_xz²)(1 − r_yz²))

    "Are quantity and price still related once discount is held
    fixed?" — the confounder screen behind every spurious-correlation
    incident that a plain ``corr_matrix`` cannot distinguish.

    Exactness: ONE aggregation pass collects the nine sufficient
    statistics (n, Σ of each column, Σ of each product/square) as
    DECIMAL(38,0) — integer-exact, partition-order independent.  The
    per-row products are 64-bit integer multiplies (exact and loudly
    ANSI-checked for |x| up to ~3·10⁹, i.e. any cents-scaled metric —
    row values are domain-bounded and do not grow with data size); only
    the accumulation is decimal, which cuts the per-row cost ~4x versus
    decimal×decimal multiplies (measured 1.26 s -> 0.36 s per 600k rows
    single-core).  Each
    pairwise r converts once to double in a fixed expression with the
    variance product split as ``sqrt·sqrt`` (stays in decimal range),
    and the partial formula is scalar double arithmetic on those three
    rounded-at-the-end values.  Any degenerate leg (zero variance, or
    |r_xz| / |r_yz| = 1 making the denominator 0) yields NULL rather
    than a division error.
    """
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    lmul = lambda a, b: (F.col(a) * F.col(b)).cast(  # noqa: E731
        "decimal(38,0)"
    )
    base = df.where(
        F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(z_col).isNotNull()
    )
    suff = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(d38(x_col)).alias("__sx"),
        F.sum(d38(y_col)).alias("__sy"),
        F.sum(d38(z_col)).alias("__sz"),
        F.sum(lmul(x_col, x_col)).alias("__sxx"),
        F.sum(lmul(y_col, y_col)).alias("__syy"),
        F.sum(lmul(z_col, z_col)).alias("__szz"),
        F.sum(lmul(x_col, y_col)).alias("__sxy"),
        F.sum(lmul(x_col, z_col)).alias("__sxz"),
        F.sum(lmul(y_col, z_col)).alias("__syz"),
    )
    n = F.col("__n").cast("decimal(38,0)")

    def _r(sab, sa, sb, saa, sbb):
        num = (n * F.col(sab) - F.col(sa) * F.col(sb)).cast("double")
        va = (n * F.col(saa) - F.col(sa) * F.col(sa)).cast("double")
        vb = (n * F.col(sbb) - F.col(sb) * F.col(sb)).cast("double")
        return F.when(
            (va > 0) & (vb > 0), num / (F.sqrt(va) * F.sqrt(vb))
        )

    rxy = _r("__sxy", "__sx", "__sy", "__sxx", "__syy")
    rxz = _r("__sxz", "__sx", "__sz", "__sxx", "__szz")
    ryz = _r("__syz", "__sy", "__sz", "__syy", "__szz")
    scored = suff.select(
        F.col("__n").cast("bigint").alias("n"),
        rxy.alias("__rxy"),
        rxz.alias("__rxz"),
        ryz.alias("__ryz"),
    )
    den = F.sqrt(
        (1.0 - F.col("__rxz") * F.col("__rxz"))
        * (1.0 - F.col("__ryz") * F.col("__ryz"))
    )
    partial = F.when(
        den > 0,
        (F.col("__rxy") - F.col("__rxz") * F.col("__ryz")) / den,
    )
    return scored.select(
        "n",
        F.round("__rxy", 6).alias("r_xy"),
        F.round("__rxz", 6).alias("r_xz"),
        F.round("__ryz", 6).alias("r_yz"),
        F.round(partial, 6).alias("r_xy_given_z"),
    )


def grouped_psi(
    df: DataFrame,
    group_col: str,
    column: str,
    cond1: Column,
    cond2: Column,
    lo: float,
    hi: float,
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index PER GROUP between two sub-populations
    of one table — "which segment drifted?", the question the global
    :func:`psi_drift_conditional` digest deliberately averages away.

    Same metric and smoothing (+0.5 Laplace per bucket), same
    single-scan conditional-aggregation plan, one more grouping key:
    ``groupBy(group, bucket)`` partial-aggregates map-side, the PSI fold
    runs on the |groups| x n_buckets joined histogram with the totals
    window PARTITIONED BY GROUP (never a global single-partition
    window), and the output is one row per group.  Extension — the
    reference has no distribution-drift operators at all.
    """
    bucketed = df.where(
        F.col(column).isNotNull()
        & F.col(group_col).isNotNull()
        & (cond1 | cond2)
    ).groupBy(
        F.col(group_col).alias("grp"),
        value_bucket(column, lo, hi, n_buckets).alias("bucket"),
    )
    joined = bucketed.agg(
        F.count(F.when(cond1, 1)).alias("n1"),
        F.count(F.when(cond2, 1)).alias("n2"),
    )
    w = Window.partitionBy("grp")
    k = float(n_buckets)
    p = (F.col("n1") + 0.5) / (F.sum("n1").over(w) + 0.5 * k)
    q = (F.col("n2") + 0.5) / (F.sum("n2").over(w) + 0.5 * k)
    return (
        joined.select(
            "grp",
            F.col("n1").alias("__n1"),
            F.col("n2").alias("__n2"),
            ((p - q) * F.log(p / q)).alias("term"),
        )
        .groupBy(F.col("grp").alias(group_col))
        .agg(
            F.sum("__n1").cast("bigint").alias("n_baseline"),
            F.sum("__n2").cast("bigint").alias("n_current"),
            F.round(F.sum("term"), 6).alias("psi"),
        )
    )


def jarque_bera(
    df: DataFrame,
    column: str,
    group_col: str | None = None,
) -> DataFrame:
    """Normality screen over an INTEGER-VALUED column (cents, counts):
    one digest row ``(n, mean, skewness, kurtosis, jb)`` — sample
    skewness g1 = m3/m2^1.5, kurtosis g2 = m4/m2², and the Jarque-Bera
    statistic ``JB = n/6 · (g1² + (g2−3)²/4)`` (χ²(2) under normality;
    JB ≫ 6 means z-score-based gates are built on a false premise —
    the "should I even use a sigma rule?" pre-check).

    Exactness contract: a cheap probe scan takes the exact integer
    mean c = S1 div n (DECIMAL(38,0) sum — deterministic, unlike a
    double ``avg``), then the four SHIFTED power sums S1'..S4' of
    (x − c) accumulate as DECIMAL(38,0) (order-independent, exact for
    integer inputs) and ONE conversion to doubles feeds the fixed
    closed-form central-moment expansion — n²m2 = nS2'−S1'²,
    n³m3 = n²S3'−3nS1'S2'+2S1'³, n⁴m4 = n³S4'−4n²S1'S3'+6nS1'²S2'−3S1'⁴
    (central moments are shift-invariant).  The shift is what makes the
    contract real: raw power sums of cents-scale values (|x| ~ 1e7)
    cancel catastrophically in the double expansion (observed: true
    skewness 1.4976 computed as 0.0), while shifted terms carry only
    deviation-scale magnitudes.  Exactness holds while
    n·max(|x−c|)⁴ < 1e38 (the DECIMAL(38,0) ceiling — e.g. 1e10 rows
    within ±1e7 of the mean); beyond it the operator RAISES rather than
    silently returning a NULL digest.  Degenerate inputs (n < 2 or zero
    variance) yield NULL statistics.  With ``group_col``, one row per
    group (same plan; the shift stays GLOBAL so a single probe serves
    all groups — between-group offsets are deviation-scale).
    Extension — no reference counterpart.

    Plan: one single-row probe aggregate (map-side partial), then ONE
    aggregation scan (map-side partial sums), no shuffle beyond the
    |groups|-row digest.
    """
    gcols = [group_col] if group_col else []
    base = df.where(F.col(column).isNotNull())
    if group_col:
        base = base.where(F.col(group_col).isNotNull())
    d38 = "decimal(38,0)"
    probe = base.agg(
        F.sum(F.col(column).cast(d38)).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    c = int(probe["s"]) // int(probe["n"]) if probe["n"] else 0
    x = (F.col(column).cast(d38) - F.lit(c).cast(d38)).cast(d38)
    suff = base.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).alias("__s1"),
        F.sum((x * x).cast(d38)).alias("__s2"),
        F.sum((x * x * x).cast(d38)).alias("__s3"),
        F.sum((x * x * x * x).cast(d38)).alias("__s4"),
        F.max(
            F.abs(F.col(column).cast("double") - F.lit(c).cast("double"))
        ).alias("__mx"),
    )
    n = F.col("__n").cast("double")
    s1 = F.col("__s1").cast("double")
    s2 = F.col("__s2").cast("double")
    s3 = F.col("__s3").cast("double")
    s4 = F.col("__s4").cast("double")
    m2n2 = n * s2 - s1 * s1                       # n²·m2
    m3n3 = n * n * s3 - 3.0 * n * s1 * s2 + 2.0 * s1 * s1 * s1
    m4n4 = (
        n * n * n * s4
        - 4.0 * n * n * s1 * s3
        + 6.0 * n * s1 * s1 * s2
        - 3.0 * s1 * s1 * s1 * s1
    )
    ok = (F.col("__n") >= 2) & (m2n2 > 0)
    # g1 = (m3n3/n³) / (m2n2/n²)^1.5 ; g2 = (m4n4/n⁴) / (m2n2/n²)².
    # v·sqrt(v) instead of pow(v, 1.5): sqrt is IEEE-correctly-rounded
    # in every engine, libm pow is not (last-ulp divergence observed
    # between JVM and C++ implementations)
    v = m2n2 / (n * n)
    g1 = (m3n3 / (n * n * n)) / (v * F.sqrt(v))
    g2 = (m4n4 / (n * n * n * n)) / (v * v)
    jb = n / 6.0 * (g1 * g1 + (g2 - 3.0) * (g2 - 3.0) / 4.0)
    # DECIMAL(38,0) saturates near 1.7e38: when n·max(|x−c|)⁴
    # approaches the ceiling, a non-ANSI sum silently NULLs and the
    # digest would read "undefined".  Surface that as an explicit error
    # instead — the exactness contract holds only below this magnitude
    # bound (n·max(|x−c|)⁴ < 1e38: 1e10 rows within ±1e7 of the mean).
    mx = F.col("__mx")
    overflow = (n * mx * mx * mx * mx) >= 1e38
    jb_checked = F.when(
        overflow,
        F.raise_error(
            F.lit(
                "jarque_bera: n*max(|x|)^4 exceeds the DECIMAL(38,0) "
                "exact-sum range; pre-scale the column"
            )
        ).cast("double"),
    ).otherwise(jb)
    return suff.select(
        *gcols,
        F.col("__n").cast("bigint").alias("n"),
        F.round(F.lit(c).cast("double") + s1 / n, 6).alias("mean"),
        F.round(F.when(ok, g1), 6).alias("skewness"),
        F.round(F.when(ok, g2), 6).alias("kurtosis"),
        F.round(F.when(ok, jb_checked), 6).alias("jb"),
    )


def two_proportion_ztest(
    df: DataFrame,
    population_a: Column,
    population_b: Column,
    success: Column,
) -> DataFrame:
    """Two-proportion pooled z-test between two row-filter populations
    of one table, one digest row ``(n_a, successes_a, rate_a, n_b,
    successes_b, rate_b, z)`` — the A/B-experimentation primitive
    ("did the conversion rate actually move?") on the same
    single-scan conditional-aggregation plan as
    :func:`psi_drift_conditional`.

    ``z = (p̂_a − p̂_b) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b))`` with the pooled
    rate ``p̂``; all four counts are exact integers, converted once to
    doubles in a fixed expression.  Degenerate inputs (either side
    empty, pooled rate 0 or 1 — zero variance) yield NULL z.
    Extension — no reference counterpart.
    """
    agg = df.where(population_a | population_b).agg(
        F.count(F.when(population_a, 1)).alias("n_a"),
        F.count(F.when(population_a & success, 1)).alias("s_a"),
        F.count(F.when(population_b, 1)).alias("n_b"),
        F.count(F.when(population_b & success, 1)).alias("s_b"),
    )
    return ztest_from_counts(agg)


def ztest_from_counts(agg: DataFrame) -> DataFrame:
    """The z projection of :func:`two_proportion_ztest`, factored over
    an already-aggregated one-row ``(n_a, s_a, n_b, s_b)`` counts frame
    — shared by the batch operator and the streaming drain digest
    (counts are associative, so a streaming complete-mode state row
    feeds the IDENTICAL expression tree and hash-matches batch)."""
    na, sa = F.col("n_a").cast("double"), F.col("s_a").cast("double")
    nb, sb = F.col("n_b").cast("double"), F.col("s_b").cast("double")
    # try_divide: the guard below does not keep Spark from evaluating
    # ``var`` (a subexpression it shares) on an empty side
    pooled = F.try_divide(sa + sb, na + nb)
    var = pooled * (1.0 - pooled) * (
        F.try_divide(F.lit(1.0), na) + F.try_divide(F.lit(1.0), nb)
    )
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var > 0),
        (sa / na - sb / nb) / F.sqrt(var),
    )
    return agg.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("s_a").cast("bigint").alias("successes_a"),
        F.round(F.when(F.col("n_a") > 0, sa / na), 6).alias("rate_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("s_b").cast("bigint").alias("successes_b"),
        F.round(F.when(F.col("n_b") > 0, sb / nb), 6).alias("rate_b"),
        F.round(z, 6).alias("z"),
    )


def norm_ppf(p: float) -> float:
    """Inverse standard-normal CDF via Acklam's rational approximation
    (|relative error| < 1.15e-9; public-domain algorithm).  Used to
    turn ``alpha`` into the z critical value that enters the plan as a
    LITERAL — the oracle SQL builder imports this same function, so
    both engines carry the identical constant and no special function
    runs in-plan."""
    import math

    if not 0.0 < p < 1.0:
        raise ValueError("p must be within (0, 1)")
    a = (-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00)
    b = (-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00)
    d = (7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00)
    plow, phigh = 0.02425, 1.0 - 0.02425
    if p < plow:
        q = math.sqrt(-2.0 * math.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4])
                * q + c[5]) / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3])
                               * q + 1.0)
    if p > phigh:
        q = math.sqrt(-2.0 * math.log(1.0 - p))
        return -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4])
                 * q + c[5]) / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3])
                                * q + 1.0)
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4])
            * r + a[5]) * q / (((((b[0] * r + b[1]) * r + b[2]) * r + b[3])
                                * r + b[4]) * r + 1.0)


def sequential_look_counts(
    df: DataFrame,
    look_col,
    population_a: Column,
    population_b: Column,
    success: Column,
) -> DataFrame:
    """Per-look A/B experiment count INCREMENTS: one row per look
    ``(look, n_a, s_a, n_b, s_b)`` — the input to
    :func:`obf_sequential_ztest`.  All four counts are associative
    conditional aggregates (ONE grouped scan), so the same frame is
    producible by the streaming complete-mode state
    (:func:`datajudge_spark.streaming.streaming_look_counts`) and the
    drained state hash-matches this batch GROUP BY exactly."""
    look = look_col if isinstance(look_col, Column) else F.col(look_col)
    return (
        df.where((population_a | population_b) & look.isNotNull())
        .groupBy(look.alias("look"))
        .agg(
            F.count(F.when(population_a, 1)).alias("n_a"),
            F.count(F.when(population_a & success, 1)).alias("s_a"),
            F.count(F.when(population_b, 1)).alias("n_b"),
            F.count(F.when(population_b & success, 1)).alias("s_b"),
        )
    )


# Exact O'Brien-Fleming boundary constants C_B(K) for K equally spaced
# looks, TWO-SIDED overall alpha = 0.05: the constant c such that the
# group-sequential test with boundary |Z_k| >= c / sqrt(k/K) has exact
# type-I error 0.05.  Published values — Jennison & Turnbull, "Group
# Sequential Methods with Applications to Clinical Trials" (2000),
# Table 2.3 (public reference values, widely reproduced).  K = 1 is the
# fixed-horizon test by construction.
_OBF_C_TWO_SIDED_005 = {
    1: 1.960,
    2: 1.977,
    3: 2.004,
    4: 2.024,
    5: 2.040,
    6: 2.053,
    7: 2.063,
    8: 2.072,
    9: 2.080,
    10: 2.087,
}


def obf_critical_value(n_looks: int, alpha: float = 0.05) -> float:
    """O'Brien-Fleming boundary constant ``c`` for a PLANNED schedule
    of ``n_looks`` equally spaced looks at two-sided ``alpha``.

    For ``alpha = 0.05`` and ``n_looks <= 10`` this returns the exact
    published constant (Jennison & Turnbull 2000, Table 2.3 — e.g.
    2.040 for K = 5), making the boundary's overall type-I error
    exactly 0.05 for the planned schedule.  Outside the table (other
    alphas, K > 10) it falls back to the fixed-horizon
    ``norm_ppf(1 - alpha/2)`` — the common fixed-B-boundary heuristic,
    slightly anti-conservative for K > 1; the exact Lan-DeMets spending
    computation needs recursive numerical integration and is out of
    scope by design.
    """
    if n_looks < 1:
        raise ValueError("n_looks must be >= 1")
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be within (0, 1)")
    if abs(alpha - 0.05) < 1e-12 and n_looks in _OBF_C_TWO_SIDED_005:
        return _OBF_C_TWO_SIDED_005[n_looks]
    return norm_ppf(1.0 - alpha / 2.0)


def obf_sequential_ztest(
    looks: DataFrame,
    alpha: float = 0.05,
    critical_value: float | None = None,
    n_looks: int | None = None,
) -> DataFrame:
    """Group-sequential A/B monitor with an O'Brien-Fleming-shaped
    boundary: from per-look count increments ``(look, n_a, s_a, n_b,
    s_b)``, one row per look ``(look, n_a, s_a, n_b, s_b [cumulative],
    info_frac, z, boundary, crossed)`` — "may I peek at the experiment
    after every look without inflating my false-positive rate?", the
    question the fixed-horizon z-test cannot answer (peeking at
    z > 1.96 every day drives the realized type-I error far above 5%).

    The boundary is the classic O'Brien-Fleming SHAPE: constant on the
    B-value (score) scale, so on the z scale ``b(t) = c / sqrt(t)``
    with ``t`` the information fraction (cumulative exposure / total
    exposure) — extremely strict early, relaxing to ``c`` at full
    information.  ``c`` resolution, most-specific first: an explicit
    ``critical_value`` wins; else a declared ``n_looks`` schedule uses
    :func:`obf_critical_value` (the EXACT published O'Brien-Fleming
    constant for alpha = 0.05, K <= 10 — e.g. 2.040 for K = 5 —
    Jennison & Turnbull 2000 Table 2.3); else the fixed-horizon
    ``norm_ppf(1 - alpha/2)`` (the common fixed-B-boundary heuristic,
    slightly anti-conservative across repeated looks — declare the
    schedule when you know it).  ``c`` enters the plan as a
    driver-computed LITERAL; no special function runs in-plan.

    Scale & determinism: the per-look frame is bounded by the look
    grain (days/hours of an experiment), so the cumulative and
    full-range windows run on a tiny frame — the per-EVENT work is the
    one grouped conditional-count scan of
    :func:`sequential_look_counts` (or its streaming twin).  Counts are
    exact integers; doubles appear once in fixed expressions — the same
    pooled-z grouping as :func:`ztest_from_counts`.  Looks where either
    side is empty or pooled variance is zero yield NULL z and are never
    ``crossed``.  Extension — no reference counterpart.
    """
    from pyspark.sql import Window

    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be within (0, 1)")
    if critical_value is not None:
        c = float(critical_value)
    elif n_looks is not None:
        c = obf_critical_value(int(n_looks), alpha)
    else:
        c = norm_ppf(1.0 - alpha / 2.0)
    if c <= 0:
        raise ValueError("critical_value must be positive")
    w_cum = Window.orderBy("look").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("look").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = looks.select(
        "look",
        F.sum("n_a").over(w_cum).alias("cn_a"),
        F.sum("s_a").over(w_cum).alias("cs_a"),
        F.sum("n_b").over(w_cum).alias("cn_b"),
        F.sum("s_b").over(w_cum).alias("cs_b"),
        (F.sum("n_a").over(w_all) + F.sum("n_b").over(w_all))
        .alias("tot"),
    )
    na, sa = F.col("cn_a").cast("double"), F.col("cs_a").cast("double")
    nb, sb = F.col("cn_b").cast("double"), F.col("cs_b").cast("double")
    pooled = (sa + sb) / (na + nb)
    var = pooled * (1.0 - pooled) * (1.0 / na + 1.0 / nb)
    z = F.when(
        (F.col("cn_a") > 0) & (F.col("cn_b") > 0) & (var > 0),
        (sa / na - sb / nb) / F.sqrt(var),
    )
    t = (na + nb) / F.col("tot").cast("double")
    boundary = F.lit(c) / F.sqrt(t)
    return cum.select(
        "look",
        F.col("cn_a").cast("bigint").alias("n_a"),
        F.col("cs_a").cast("bigint").alias("s_a"),
        F.col("cn_b").cast("bigint").alias("n_b"),
        F.col("cs_b").cast("bigint").alias("s_b"),
        F.round(t, 6).alias("info_frac"),
        F.round(z, 6).alias("z"),
        F.round(boundary, 6).alias("boundary"),
        F.coalesce(F.abs(z) >= boundary, F.lit(False)).alias("crossed"),
    )


def avi_sequential_ztest(
    looks: DataFrame,
    phi: float | None = None,
) -> DataFrame:
    """Always-valid inference over the same per-look counts as
    :func:`obf_sequential_ztest`: the mixture sequential probability
    ratio (normal mixture over the effect, Robbins' construction as
    deployed for "peeking at A/B tests") yields a p-value that is
    valid at EVERY look simultaneously — monitor continuously, stop
    whenever, the type-I guarantee holds with no look schedule at all
    (the OBF boundary's remaining assumption).  One row per look
    ``(look, n_a, s_a, n_b, s_b [cumulative], theta, se, lr,
    p_always_valid)`` where, with ``v = se²`` the variance of the
    rate-difference estimate ``theta`` and mixture variance ``phi``,

        Λ_t = sqrt(v/(v+φ)) · exp( θ²·φ / (2·v·(v+φ)) )
        p_t = min(1, 1 / max_{s<=t} Λ_s)      (non-increasing in t)

    ``phi`` defaults to the FIRST look's variance — the standard
    "tuned to detect effects around the early-information scale"
    choice.  CAVEAT: the mSPRT anytime-valid type-I guarantee assumes
    the mixture variance is chosen INDEPENDENTLY of the monitored
    data; deriving it from the first look of the same stream mildly
    weakens that guarantee (the first look also shapes the boundary it
    is judged against).  The data-derived default is a convenience for
    exploration — production gates should pass an explicit ``phi``
    from pre-experiment data or a planned effect size.  Looks with an
    empty side or zero variance carry NULL theta/lr and inherit the
    running p.

    Scale & determinism: everything runs on the bounded look frame
    (cumulative integer counts -> fixed double expressions -> a
    running-max window over |looks| rows); the per-event work is the
    one grouped conditional-count scan of
    :func:`sequential_look_counts` or its streaming twin.  Extension —
    no reference counterpart.
    """
    from pyspark.sql import Window

    if phi is not None and phi <= 0:
        raise ValueError("phi must be positive")
    w_cum = Window.orderBy("look").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = looks.select(
        "look",
        F.sum("n_a").over(w_cum).alias("cn_a"),
        F.sum("s_a").over(w_cum).alias("cs_a"),
        F.sum("n_b").over(w_cum).alias("cn_b"),
        F.sum("s_b").over(w_cum).alias("cs_b"),
    )
    na, sa = F.col("cn_a").cast("double"), F.col("cs_a").cast("double")
    nb, sb = F.col("cn_b").cast("double"), F.col("cs_b").cast("double")
    pooled = (sa + sb) / (na + nb)
    v = pooled * (1.0 - pooled) * (1.0 / na + 1.0 / nb)
    ok = (F.col("cn_a") > 0) & (F.col("cn_b") > 0) & (v > 0)
    theta = F.when(ok, sa / na - sb / nb)
    var = F.when(ok, v)
    base = cum.select("look", "cn_a", "cs_a", "cn_b", "cs_b",
                      theta.alias("__th"), var.alias("__v"))
    if phi is None:
        # first VALID look's variance — a deterministic data-derived
        # default, resolved driver-side so it is one literal in-plan.
        # The probe is a second action over the looks derivation, so
        # persist the bounded per-look frame: the grouped scan of the
        # fact table must run once, not once per action.
        from ..pipeline._util import materialize_once

        base = materialize_once(base)
        first = (
            base.where(F.col("__v").isNotNull())
            .orderBy("look")
            .limit(1)
            .collect()
        )
        if not first:
            phi_val = 1.0  # no valid look exists; value is never used
        else:
            phi_val = float(first[0]["__v"])
    else:
        phi_val = float(phi)
    p = F.lit(phi_val)
    lr = F.when(
        F.col("__v").isNotNull(),
        F.sqrt(F.col("__v") / (F.col("__v") + p))
        * F.exp(
            F.col("__th") * F.col("__th") * p
            / (2.0 * F.col("__v") * (F.col("__v") + p))
        ),
    )
    w_max = Window.orderBy("look").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_lr = base.select(
        "look", "cn_a", "cs_a", "cn_b", "cs_b", "__th", "__v",
        lr.alias("__lr"),
    )
    run_max = F.max("__lr").over(w_max)
    p_av = F.when(
        run_max.isNotNull(),
        F.least(F.lit(1.0), 1.0 / run_max),
    )
    return with_lr.select(
        "look",
        F.col("cn_a").cast("bigint").alias("n_a"),
        F.col("cs_a").cast("bigint").alias("s_a"),
        F.col("cn_b").cast("bigint").alias("n_b"),
        F.col("cs_b").cast("bigint").alias("s_b"),
        F.round("__th", 6).alias("theta"),
        F.round(F.sqrt("__v"), 6).alias("se"),
        F.round("__lr", 6).alias("lr"),
        F.round(p_av, 6).alias("p_always_valid"),
    )


def cuped_adjusted_diff(
    units: DataFrame,
    pre_col: str,
    post_col: str,
    assign_col: str,
) -> DataFrame:
    """CUPED variance-reduced A/B difference (Deng et al., WSDM 2013)
    over a one-row-per-unit frame with INTEGER pre-period and
    post-period metrics (cents, counts) and a two-level assignment:
    one digest row ``(n_a, n_b, mean_post_a, mean_post_b, diff_raw,
    theta, diff_cuped, rho2)``.

    CUPED replaces each unit's post metric Y with
    ``Y − θ·(X − mean(X))`` where X is the pre-period covariate and
    ``θ = cov(X, Y)/var(X)`` (pooled across variants, the standard
    estimator); the adjusted between-variant difference has its
    variance cut by the factor ``1 − ρ²(X, Y)`` — the
    experimentation-platform primitive that makes small effects
    detectable without more traffic.  Because θ is pooled, the
    adjusted DIFFERENCE reduces to
    ``diff_raw − θ·(mean(X_a) − mean(X_b))`` — three exact means.

    Exactness contract: all sufficient statistics (n, ΣX, ΣY, ΣX²,
    ΣY², ΣXY globally; n, ΣX, ΣY per variant) accumulate as
    DECIMAL(38,0) — order-independent, exact for integer inputs —
    then ONE conversion to doubles feeds fixed closed-form
    expressions.  Degenerate inputs (a missing variant, zero pre-period
    variance) yield NULL θ/CUPED columns with ``diff_raw`` still
    reported.  Extension — no reference counterpart.

    Plan: ONE aggregation scan over the unit frame (map-side partial
    sums), 1-row digest.  The unit frame itself is the caller's
    one-shuffle groupBy(unit).
    """
    d38 = "decimal(38,0)"
    x = F.col(pre_col).cast(d38)
    y = F.col(post_col).cast(d38)
    a_side = F.col("__a") == F.lit(1)
    levels = (
        units.select(F.col(assign_col).alias("__lv"))
        .where(F.col("__lv").isNotNull())
        .distinct()
        .orderBy("__lv")
        .limit(3)
        .collect()
    )
    if len(levels) != 2:
        raise ValueError(
            f"CUPED needs exactly two assignment levels, got "
            f"{[r['__lv'] for r in levels]}"
        )
    lv_a, lv_b = levels[0]["__lv"], levels[1]["__lv"]
    base = units.where(
        F.col(pre_col).isNotNull()
        & F.col(post_col).isNotNull()
        & F.col(assign_col).isin([lv_a, lv_b])
    ).withColumn(
        "__a", F.when(F.col(assign_col) == F.lit(lv_a), 1).otherwise(0)
    )
    suff = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum((x * x).cast(d38)).alias("__sxx"),
        F.sum((y * y).cast(d38)).alias("__syy"),
        F.sum((x * y).cast(d38)).alias("__sxy"),
        F.count(F.when(a_side, 1)).alias("__na"),
        F.sum(F.when(a_side, x).otherwise(F.lit(0).cast(d38))).alias("__sxa"),
        F.sum(F.when(a_side, y).otherwise(F.lit(0).cast(d38))).alias("__sya"),
    )
    n = F.col("__n").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    na = F.col("__na").cast("double")
    nb = n - na
    sxa, sya = F.col("__sxa").cast("double"), F.col("__sya").cast("double")
    sxb, syb = sx - sxa, sy - sya
    cov_num = n * sxy - sx * sy          # n²·cov
    varx_num = n * sxx - sx * sx         # n²·var(X)
    vary_num = n * syy - sy * sy
    ok = (F.col("__na") >= 1) & (nb >= 1) & (varx_num > 0)
    theta = cov_num / varx_num
    mean_ya, mean_yb = sya / na, syb / nb
    mean_xa, mean_xb = sxa / na, sxb / nb
    diff_raw = mean_ya - mean_yb
    diff_cuped = diff_raw - theta * (mean_xa - mean_xb)
    rho2 = F.when(
        vary_num > 0, (cov_num * cov_num) / (varx_num * vary_num)
    )
    return suff.select(
        F.col("__na").cast("bigint").alias("n_a"),
        (F.col("__n") - F.col("__na")).cast("bigint").alias("n_b"),
        F.round(F.when(F.col("__na") >= 1, mean_ya), 6).alias("mean_post_a"),
        F.round(F.when(nb >= 1, mean_yb), 6).alias("mean_post_b"),
        F.round(
            F.when((F.col("__na") >= 1) & (nb >= 1), diff_raw), 6
        ).alias("diff_raw"),
        F.round(F.when(ok, theta), 6).alias("theta"),
        F.round(F.when(ok, diff_cuped), 6).alias("diff_cuped"),
        F.round(F.when(ok, rho2), 6).alias("rho2"),
    )


def post_stratified_diff(
    units: DataFrame,
    metric_col: str,
    assign_col: str,
    stratum_col: str,
) -> DataFrame:
    """Post-stratification adjusted A/B difference over a one-row-per-
    unit frame with an INTEGER metric, a two-level assignment and a
    categorical stratum (country, platform, cohort): one digest row
    ``(n_a, n_b, n_strata, diff_raw, diff_stratified)``.

    ``diff_stratified = Σ_s (n_s/n) · (mean_a,s − mean_b,s)`` — each
    stratum's within-stratum difference weighted by the stratum's
    POOLED share, so imbalance in which variant drew more of a heavy
    stratum no longer biases the estimate.  The categorical-covariate
    complement to :func:`cuped_adjusted_diff` (which adjusts by a
    LINEAR pre-period covariate); together they cover the two standard
    experimentation adjustments.  Strata observed in only one variant
    carry no within-stratum contrast and are EXCLUDED from the
    stratified estimate (their pooled weight is dropped, i.e. weights
    renormalize over comparable strata — the standard convention);
    ``diff_raw`` still reflects all units.

    Exactness: per-(stratum, variant) counts and DECIMAL(38,0) metric
    sums from ONE grouped scan; the weighted fold runs over the
    |strata|-row frame with exact integer weights and one double
    conversion per term, summed in a deterministic aggregate of
    DECIMAL products where possible and rounded at 6dp.  Degenerate
    inputs (a missing variant) yield NULL estimates.  Extension — no
    reference counterpart.

    Plan: one groupBy(stratum) conditional-aggregation shuffle (the
    variant split is conditional columns, not a key), then a bounded
    |strata|-row fold — nothing but the digest moves.
    """
    d38 = "decimal(38,0)"
    levels = (
        units.select(F.col(assign_col).alias("__lv"))
        .where(F.col("__lv").isNotNull())
        .distinct()
        .orderBy("__lv")
        .limit(3)
        .collect()
    )
    if len(levels) != 2:
        raise ValueError(
            f"post-stratification needs exactly two assignment levels, "
            f"got {[r['__lv'] for r in levels]}"
        )
    lv_a = levels[0]["__lv"]
    base = units.where(
        F.col(metric_col).isNotNull()
        & F.col(stratum_col).isNotNull()
        & F.col(assign_col).isNotNull()
    ).withColumn(
        "__a", F.when(F.col(assign_col) == F.lit(lv_a), 1).otherwise(0)
    )
    y = F.col(metric_col).cast(d38)
    per = base.groupBy(F.col(stratum_col).alias("__s")).agg(
        F.count(F.when(F.col("__a") == 1, 1)).alias("na"),
        F.sum(F.when(F.col("__a") == 1, y).otherwise(F.lit(0).cast(d38)))
        .alias("sa"),
        F.count(F.when(F.col("__a") == 0, 1)).alias("nb"),
        F.sum(F.when(F.col("__a") == 0, y).otherwise(F.lit(0).cast(d38)))
        .alias("sb"),
    )
    comparable = (F.col("na") >= 1) & (F.col("nb") >= 1)
    within = (
        F.col("sa").cast("double") / F.col("na").cast("double")
        - F.col("sb").cast("double") / F.col("nb").cast("double")
    )
    w = (F.col("na") + F.col("nb")).cast("double")
    # the weighted fold is a sum of DOUBLES over the |strata| frame —
    # run it as a stratum-ORDERED cumulative window (the log-rank /
    # Kaplan-Meier determinism contract: every engine and partitioning
    # adds the same doubles in the same order), last row = totals.
    # Integer/decimal totals are order-independent and stay aggregates.
    w_cum = Window.orderBy("__s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "__s",
        F.sum("na").over(w_cum).alias("__cna"),
        F.sum("nb").over(w_cum).alias("__cnb"),
        F.sum("sa").over(w_cum).alias("__sya"),
        F.sum("sb").over(w_cum).alias("__syb"),
        F.count(F.lit(1)).over(w_cum).alias("__k"),
        F.sum(
            F.when(comparable, w * within).otherwise(F.lit(0.0))
        ).over(w_cum).alias("__wsum"),
        F.sum(
            F.when(comparable, w).otherwise(F.lit(0.0))
        ).over(w_cum).alias("__wtot"),
    )
    last = cum.orderBy(F.desc("__s")).limit(1)
    na, nb = F.col("__cna").cast("double"), F.col("__cnb").cast("double")
    diff_raw = (
        F.col("__sya").cast("double") / na
        - F.col("__syb").cast("double") / nb
    )
    strat = F.when(
        F.col("__wtot") > 0, F.col("__wsum") / F.col("__wtot")
    )
    both = (F.col("__cna") >= 1) & (F.col("__cnb") >= 1)
    return last.select(
        F.col("__cna").cast("bigint").alias("n_a"),
        F.col("__cnb").cast("bigint").alias("n_b"),
        F.col("__k").cast("bigint").alias("n_strata"),
        F.round(F.when(both, diff_raw), 6).alias("diff_raw"),
        F.round(F.when(both, strat), 6).alias("diff_stratified"),
    )


def ratio_metric_ztest(
    units: DataFrame,
    numerator_col: str,
    denominator_col: str,
    assign_col: str,
) -> DataFrame:
    """Delta-method z-test for a RATIO metric (clicks/impressions,
    revenue/sessions) between the two levels of ``assign_col`` over a
    one-row-per-unit frame with INTEGER numerator and denominator
    columns: one digest row ``(n_a, n_b, ratio_a, ratio_b, diff, z)``.

    A ratio-of-sums R̂ = ΣN/ΣD is NOT a mean of per-unit ratios, so the
    naive two-sample z variance is wrong; the delta method gives
    ``Var(R̂) ≈ (s_n² − 2R̂·s_nd + R̂²·s_d²) / (n·d̄²)`` per variant with
    sample (co)variances of the per-unit values (Deng, Knoblich & Lu,
    KDD 2018 — the standard experimentation-platform estimator).
    Completes the A/B family: two_proportion (binary), CUPED (linear
    covariate), post-stratification (categorical), THIS (ratio
    metrics), sequential (streaming).

    Exactness: per-variant sufficient statistics (n, ΣN, ΣD, ΣN², ΣD²,
    ΣND) accumulate as DECIMAL(38,0) from ONE conditional-aggregation
    scan; the (co)variance numerators ``n·Σxy − Σx·Σy`` are computed in
    DECIMAL (exact — no double cancellation at cents-scale magnitudes)
    and converted to double once, inside a fixed expression.
    Degenerate inputs (a variant with n < 2, a zero denominator sum,
    or zero combined variance) yield NULL z.  Extension — no reference
    counterpart.

    Plan: one map-side partial aggregation, nothing but the one-row
    digest shuffles.
    """
    d38 = "decimal(38,0)"
    levels = (
        units.select(F.col(assign_col).alias("__lv"))
        .where(F.col("__lv").isNotNull())
        .distinct()
        .orderBy("__lv")
        .limit(3)
        .collect()
    )
    if len(levels) != 2:
        raise ValueError(
            f"ratio z-test needs exactly two assignment levels, "
            f"got {[r['__lv'] for r in levels]}"
        )
    lv_a = levels[0]["__lv"]
    base = units.where(
        F.col(numerator_col).isNotNull()
        & F.col(denominator_col).isNotNull()
        & F.col(assign_col).isNotNull()
    )
    num = F.col(numerator_col).cast(d38)
    den = F.col(denominator_col).cast(d38)
    is_a = F.col(assign_col) == F.lit(lv_a)
    zero = F.lit(0).cast(d38)

    def _side(tag: str, cond):
        return [
            F.count(F.when(cond, 1)).alias(f"n_{tag}"),
            F.sum(F.when(cond, num).otherwise(zero)).alias(f"sn_{tag}"),
            F.sum(F.when(cond, den).otherwise(zero)).alias(f"sd_{tag}"),
            F.sum(F.when(cond, (num * num).cast(d38)).otherwise(zero))
            .alias(f"snn_{tag}"),
            F.sum(F.when(cond, (den * den).cast(d38)).otherwise(zero))
            .alias(f"sdd_{tag}"),
            F.sum(F.when(cond, (num * den).cast(d38)).otherwise(zero))
            .alias(f"snd_{tag}"),
        ]
    suff = base.agg(*_side("a", is_a), *_side("b", ~is_a))

    def _variance(tag: str):
        n = F.col(f"n_{tag}").cast(d38)
        sn, sd = F.col(f"sn_{tag}"), F.col(f"sd_{tag}")
        snn, sdd, snd = (
            F.col(f"snn_{tag}"), F.col(f"sdd_{tag}"), F.col(f"snd_{tag}")
        )
        nd = F.col(f"n_{tag}").cast("double")
        # null-safe denominators: ANSI mode evaluates a when()'s
        # CONDITION eagerly, so a 0 divisor must become NULL, not raise
        pairs = F.when(F.col(f"n_{tag}") >= 2, nd * (nd - 1.0))
        sd_nz = F.when(sd != 0, sd.cast("double"))
        # exact DECIMAL numerators, ONE double conversion each
        var_n = (n * snn - sn * sn).cast("double") / pairs
        var_d = (n * sdd - sd * sd).cast("double") / pairs
        cov = (n * snd - sn * sd).cast("double") / pairs
        r = sn.cast("double") / sd_nz
        dbar = sd_nz / nd
        return r, (var_n - 2.0 * r * cov + r * r * var_d) / (nd * dbar * dbar)

    r_a, v_a = _variance("a")
    r_b, v_b = _variance("b")
    defined = (
        (F.col("n_a") >= 2)
        & (F.col("n_b") >= 2)
        & (F.col("sd_a") != 0)
        & (F.col("sd_b") != 0)
    )
    z = F.when(defined & ((v_a + v_b) > 0), (r_a - r_b) / F.sqrt(v_a + v_b))
    return suff.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(F.when(F.col("sd_a") != 0, r_a), 6).alias("ratio_a"),
        F.round(F.when(F.col("sd_b") != 0, r_b), 6).alias("ratio_b"),
        F.round(
            F.when((F.col("sd_a") != 0) & (F.col("sd_b") != 0), r_a - r_b), 6
        ).alias("diff"),
        F.round(z, 6).alias("z"),
    )


def sample_ratio_mismatch(
    df: DataFrame,
    assign_col: str,
    expected_shares: dict | None = None,
) -> DataFrame:
    """Sample-ratio-mismatch (SRM) check — the first gate every
    experimentation platform runs: the observed assignment counts must
    match the configured split.  One digest row
    ``(n, n_levels, chi2)`` with the Pearson statistic
    ``χ² = Σ (Oᵢ − n·pᵢ)² / (n·pᵢ)`` (χ²(k−1) under the null; χ² ≫
    critical means the randomizer, logging, or bot filtering is broken
    and every downstream A/B readout is suspect).

    ``expected_shares`` maps level → expected fraction (must sum to ~1;
    validated driver-side).  With ``None``, a uniform split over the
    OBSERVED levels is assumed.  A level observed in the data but
    missing from a provided map RAISES inside the plan (an unknown
    variant is exactly what SRM exists to catch — never silently score
    it).  Determinism: the χ² fold runs as a level-ORDERED cumulative
    over the bounded |levels| frame (same contract as
    :func:`post_stratified_diff` — every engine and partitioning adds
    the same doubles in the same order).  Extension — no reference
    counterpart.

    Plan: one groupBy(assign) count (map-side partial), then a bounded
    |levels|-row window fold; nothing but the digest moves.
    """
    counts = (
        df.where(F.col(assign_col).isNotNull())
        .groupBy(F.col(assign_col).alias("level"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return srm_from_counts(counts, expected_shares)


def srm_from_counts(
    counts: DataFrame,
    expected_shares: dict | None = None,
) -> DataFrame:
    """The χ² fold of :func:`sample_ratio_mismatch`, factored over an
    already-aggregated ``(level, n)`` counts frame — shared by the
    batch operator and the streaming drain digest (per-level counts
    are associative, so a streaming complete-mode state frame feeds
    the IDENTICAL expression tree and hash-matches batch)."""
    if expected_shares is not None:
        total = sum(expected_shares.values())
        if not expected_shares or abs(total - 1.0) > 1e-9:
            raise ValueError(
                f"expected_shares must sum to 1, got {total!r}"
            )
        if any(p <= 0 for p in expected_shares.values()):
            raise ValueError("expected_shares must all be positive")
    counts = counts.select(
        F.col("level").alias("__lv"), F.col("n").alias("__o")
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    if expected_shares is None:
        share = F.lit(1.0) / F.count(F.lit(1)).over(w_all).cast("double")
    else:
        entries = []
        for lv, p in sorted(expected_shares.items()):
            entries.append(F.lit(lv))
            entries.append(F.lit(float(p)))
        share_map = F.create_map(*entries)
        share = share_map[F.col("__lv").cast("string")]
        share = F.when(share.isNotNull(), share).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("SRM: observed assignment level not in "
                          "expected_shares: "),
                    F.col("__lv").cast("string"),
                )
            ).cast("double")
        )
    n_total = F.sum("__o").over(w_all).cast("double")
    o = F.col("__o").cast("double")
    e = n_total * share
    term = (o - e) * (o - e) / e
    w_cum = Window.orderBy("__lv").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = counts.select(
        "__lv",
        F.sum("__o").over(w_cum).alias("__cn"),
        F.count(F.lit(1)).over(w_cum).alias("__k"),
        F.sum(term).over(w_cum).alias("__chi2"),
    )
    return (
        cum.orderBy(F.desc("__lv"))
        .limit(1)
        .select(
            F.col("__cn").cast("bigint").alias("n"),
            F.col("__k").cast("bigint").alias("n_levels"),
            F.round(F.col("__chi2"), 6).alias("chi2"),
        )
    )


def dispersion_index(
    df: DataFrame,
    column: str,
    group_col: str | None = None,
) -> DataFrame:
    """Variance-to-mean ratio (index of dispersion) of an INTEGER
    count column, one digest row ``(n, mean, variance, dispersion)``
    per group — the overdispersion screen for count metrics: Poisson
    arrivals give D ≈ 1, D ≫ 1 means burstiness/clumping (bot traffic,
    retry storms, duplicated ingestion) and every Poisson-assuming
    alert threshold downstream is miscalibrated.

    Exactness: n, Σx, Σx² accumulate as DECIMAL(38,0) in ONE map-side
    aggregation scan; the sample-variance numerator ``n·Σx² − (Σx)²``
    is computed in DECIMAL (exact, no double cancellation) and
    converted to double once.  Degenerate inputs (n < 2 or zero mean)
    yield NULL dispersion.  Extension — no reference counterpart.

    Plan: one aggregation scan with map-side partial sums; nothing but
    the |groups|-row digest shuffles.
    """
    d38 = "decimal(38,0)"
    gcols = [group_col] if group_col else []
    base = df.where(F.col(column).isNotNull())
    if group_col:
        base = base.where(F.col(group_col).isNotNull())
    x = F.col(column).cast(d38)
    suff = base.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).alias("__s1"),
        F.sum((x * x).cast(d38)).alias("__s2"),
    )
    nd = F.col("__n").cast("double")
    ndec = F.col("__n").cast(d38)
    mean = F.col("__s1").cast("double") / nd
    var_num = (ndec * F.col("__s2") - F.col("__s1") * F.col("__s1")).cast(
        "double"
    )
    variance = var_num / (nd * (nd - 1.0))
    ok = (F.col("__n") >= 2) & (F.col("__s1") != 0)
    return suff.select(
        *gcols,
        F.col("__n").cast("bigint").alias("n"),
        F.round(mean, 6).alias("mean"),
        F.round(F.when(F.col("__n") >= 2, variance), 6).alias("variance"),
        F.round(F.when(ok, variance / mean), 6).alias("dispersion"),
    )


def diff_in_diff(
    units: DataFrame,
    pre_col: str,
    post_col: str,
    assign_col: str,
) -> DataFrame:
    """Difference-in-differences over a one-row-per-unit frame with
    INTEGER pre-period and post-period metrics and a two-level
    assignment: one digest row ``(n_a, n_b, mean_pre_a, mean_post_a,
    mean_pre_b, mean_post_b, did, se, z)``.

    ``DiD = (post_a − pre_a) − (post_b − pre_b)`` of the group means —
    the quasi-experimental workhorse when assignment is NOT random
    (rollouts by region/platform): each group's own pre-period absorbs
    level differences, and the parallel-trends assumption does the
    rest.  The standard error treats units as independent with
    per-unit deltas ``d = post − pre``:
    ``se = sqrt(var(d_a)/n_a + var(d_b)/n_b)``, ``z = DiD/se``.
    Completes the experimentation family for the non-randomized case
    (CUPED/post-stratification assume randomized assignment).

    Exactness: per-variant sufficient statistics of the DELTAS (n, Σd,
    Σd²) accumulate as DECIMAL(38,0) in ONE conditional-aggregation
    scan (pre/post sums ride the same scan for the means); variance
    numerators ``n·Σd² − (Σd)²`` are computed in DECIMAL and converted
    to double once.  Degenerate inputs (a variant with n < 2, zero
    combined variance) yield NULL se/z.  Extension — no reference
    counterpart.

    Plan: one map-side partial aggregation; nothing but the one-row
    digest shuffles.
    """
    d38 = "decimal(38,0)"
    levels = (
        units.select(F.col(assign_col).alias("__lv"))
        .where(F.col("__lv").isNotNull())
        .distinct()
        .orderBy("__lv")
        .limit(3)
        .collect()
    )
    if len(levels) != 2:
        raise ValueError(
            f"diff-in-diff needs exactly two assignment levels, "
            f"got {[r['__lv'] for r in levels]}"
        )
    lv_a = levels[0]["__lv"]
    base = units.where(
        F.col(pre_col).isNotNull()
        & F.col(post_col).isNotNull()
        & F.col(assign_col).isNotNull()
    )
    pre = F.col(pre_col).cast(d38)
    post = F.col(post_col).cast(d38)
    delta = (post - pre).cast(d38)
    is_a = F.col(assign_col) == F.lit(lv_a)
    zero = F.lit(0).cast(d38)

    def _side(tag: str, cond):
        return [
            F.count(F.when(cond, 1)).alias(f"n_{tag}"),
            F.sum(F.when(cond, pre).otherwise(zero)).alias(f"sp_{tag}"),
            F.sum(F.when(cond, post).otherwise(zero)).alias(f"sq_{tag}"),
            F.sum(F.when(cond, delta).otherwise(zero)).alias(f"sd_{tag}"),
            F.sum(F.when(cond, (delta * delta).cast(d38)).otherwise(zero))
            .alias(f"sdd_{tag}"),
        ]
    suff = base.agg(*_side("a", is_a), *_side("b", ~is_a))

    def _group(tag: str):
        n = F.col(f"n_{tag}")
        nd = n.cast("double")
        mean_pre = F.col(f"sp_{tag}").cast("double") / nd
        mean_post = F.col(f"sq_{tag}").cast("double") / nd
        mean_d = F.col(f"sd_{tag}").cast("double") / nd
        pairs = F.when(n >= 2, nd * (nd - 1.0))
        var_d = (
            n.cast(d38) * F.col(f"sdd_{tag}")
            - F.col(f"sd_{tag}") * F.col(f"sd_{tag}")
        ).cast("double") / pairs
        return mean_pre, mean_post, mean_d, var_d, nd

    pre_a, post_a, d_a, var_a, na = _group("a")
    pre_b, post_b, d_b, var_b, nb = _group("b")
    did = d_a - d_b
    se2 = var_a / na + var_b / nb
    se = F.when(se2 > 0, F.sqrt(se2))
    ok_n = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return suff.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(F.when(F.col("n_a") > 0, pre_a), 6).alias("mean_pre_a"),
        F.round(F.when(F.col("n_a") > 0, post_a), 6).alias("mean_post_a"),
        F.round(F.when(F.col("n_b") > 0, pre_b), 6).alias("mean_pre_b"),
        F.round(F.when(F.col("n_b") > 0, post_b), 6).alias("mean_post_b"),
        F.round(F.when(ok_n, did), 6).alias("did"),
        F.round(se, 6).alias("se"),
        F.round(F.when(se.isNotNull(), did / se), 6).alias("z"),
    )


def welch_ttest(
    units: DataFrame,
    metric_col: str,
    assign_col: str,
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test over a
    one-row-per-unit frame with an INTEGER metric (cents, counts) and a
    two-level assignment: one digest row ``(n_a, n_b, mean_a, mean_b,
    diff, se, t, df)`` with the Welch-Satterthwaite degrees of freedom.

    The baseline mean A/B gate where variances genuinely differ between
    variants (a treatment that changes the SPREAD of engagement, not
    just its level) — the pooled-variance Student test is anti-
    conservative there; Welch is the default every experimentation
    platform ships.

    Exactness contract: per-variant sufficient statistics (n, Σx, Σx²)
    accumulate as DECIMAL(38,0) — order-independent, exact for integer
    inputs — variance numerators ``n·Σx² − (Σx)²`` are computed in
    DECIMAL and converted to double ONCE into fixed closed-form
    expressions.  Degenerate inputs (a variant with n < 2, zero
    combined variance) yield NULL se/t/df with the means still
    reported.  Extension — no reference counterpart; the binary-outcome
    sibling is :func:`two_proportion_ztest`.

    Plan: one level probe + ONE map-side-partial aggregation scan;
    nothing but the one-row digest shuffles.
    """
    d38 = "decimal(38,0)"
    levels = (
        units.select(F.col(assign_col).alias("__lv"))
        .where(F.col("__lv").isNotNull())
        .distinct()
        .orderBy("__lv")
        .limit(3)
        .collect()
    )
    if len(levels) != 2:
        raise ValueError(
            f"Welch t-test needs exactly two assignment levels, got "
            f"{[r['__lv'] for r in levels]}"
        )
    lv_a = levels[0]["__lv"]
    base = units.where(
        F.col(metric_col).isNotNull() & F.col(assign_col).isNotNull()
    )
    x = F.col(metric_col).cast(d38)
    is_a = F.col(assign_col) == F.lit(lv_a)
    zero = F.lit(0).cast(d38)

    def _side(tag: str, cond):
        return [
            F.count(F.when(cond, 1)).alias(f"n_{tag}"),
            F.sum(F.when(cond, x).otherwise(zero)).alias(f"s_{tag}"),
            F.sum(F.when(cond, (x * x).cast(d38)).otherwise(zero)).alias(
                f"q_{tag}"
            ),
        ]

    suff = base.agg(*_side("a", is_a), *_side("b", ~is_a))

    def _group(tag: str):
        n = F.col(f"n_{tag}")
        nd = n.cast("double")
        mean = F.col(f"s_{tag}").cast("double") / nd
        # n·Σx² − (Σx)² stays DECIMAL-exact; ·1/(n(n−1)) once in double
        var = (
            n.cast(d38) * F.col(f"q_{tag}")
            - F.col(f"s_{tag}") * F.col(f"s_{tag}")
        ).cast("double") / F.when(n >= 2, nd * (nd - 1.0))
        return mean, var, nd

    mean_a, var_a, na = _group("a")
    mean_b, var_b, nb = _group("b")
    ta, tb = var_a / na, var_b / nb          # per-variant se² terms
    se2 = ta + tb
    se = F.when(se2 > 0, F.sqrt(se2))
    diff = mean_a - mean_b
    # Welch–Satterthwaite: (ta+tb)² / (ta²/(na−1) + tb²/(nb−1))
    df = F.when(
        se2 > 0,
        (se2 * se2)
        / (ta * ta / (na - 1.0) + tb * tb / (nb - 1.0)),
    )
    ok_n = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return suff.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(F.when(F.col("n_a") > 0, mean_a), 6).alias("mean_a"),
        F.round(F.when(F.col("n_b") > 0, mean_b), 6).alias("mean_b"),
        F.round(F.when(ok_n, diff), 6).alias("diff"),
        F.round(se, 6).alias("se"),
        F.round(F.when(se.isNotNull(), diff / se), 6).alias("t"),
        F.round(df, 6).alias("df"),
    )


def brown_forsythe(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test (Levene's test with the
    MEDIAN center — robust to non-normality) of an INTEGER metric
    across the levels of a BOUNDED-cardinality group column: one digest
    row ``(n, n_groups, df1, df2, f_stat)``.

    The gate behind every "equal variances?" precondition (classic
    ANOVA, pooled t) and a drift screen in its own right: a segment
    whose SPREAD exploded while its mean held is invisible to mean
    gates but fails here.

    Definition: z_ij = |x_ij − median_i|, then the one-way ANOVA F on
    the z's: ``F = [Σ n_i(z̄_i − z̄)²/(k−1)] / [Σ(z_ij − z̄_i)²/(N−k)]``.

    Exactness contract: per-group medians come from the exact
    interpolated percentile, so 2·median is an integer and
    ``z2 = |2x − 2·median|`` is DECIMAL(38,0)-exact; per-group (n, Σz2,
    Σz2²) accumulate in DECIMAL (F is invariant to the uniform ×2
    scale — numerator and denominator both scale by 4).  The k-row
    fold runs as a group-ORDERED cumulative window (both engines add
    the same doubles in the same order — the SRM fold idiom).

    Plan: one percentile aggregation shuffle (map-side partials), the
    medians broadcast back onto the fact scan (map-side), one grouped
    aggregation shuffle, then the bounded k-row ordered fold.
    Extension — no reference counterpart.
    """
    d38 = "decimal(38,0)"
    base = df.where(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(F.col(group_col).alias("__g"), F.col(value_col).alias("__x"))
    med2 = base.groupBy("__g").agg(
        # exact interpolated median; ×2 makes it integer-valued
        (F.percentile(F.col("__x"), F.lit(0.5)) * 2).alias("__med2")
    )
    z2 = (
        base.join(F.broadcast(med2), "__g")
        .select(
            "__g",
            F.abs(
                F.col("__x").cast(d38) * 2
                - F.col("__med2").cast(d38)
            ).alias("__z2"),
        )
    )
    per_g = z2.groupBy("__g").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__z2").alias("__s"),
        F.sum((F.col("__z2") * F.col("__z2")).cast(d38)).alias("__q"),
    )
    w_cum = Window.orderBy("__g").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # Σ S_i²/n_i must fold in a deterministic order (doubles)
    ssb_term = (
        F.col("__s").cast("double")
        * F.col("__s").cast("double")
        / F.col("__n").cast("double")
    )
    cum = per_g.select(
        "__g",
        F.sum("__n").over(w_cum).alias("__cn"),
        F.count(F.lit(1)).over(w_cum).alias("__ck"),
        F.sum("__s").over(w_cum).alias("__cs"),
        F.sum("__q").over(w_cum).alias("__cq"),
        F.sum(ssb_term).over(w_cum).alias("__cssb"),
    )
    last = cum.orderBy(F.desc("__g")).limit(1)
    n = F.col("__cn").cast("double")
    k = F.col("__ck").cast("double")
    s = F.col("__cs").cast("double")
    q = F.col("__cq").cast("double")
    ssb = F.col("__cssb") - s * s / n
    ssw = q - F.col("__cssb")
    ok = (F.col("__ck") >= 2) & (n > k) & (ssw > 0)
    f_stat = (ssb / (k - 1.0)) / (ssw / (n - k))
    return last.select(
        F.col("__cn").cast("bigint").alias("n"),
        F.col("__ck").cast("bigint").alias("n_groups"),
        (F.col("__ck") - 1).cast("bigint").alias("df1"),
        (F.col("__cn") - F.col("__ck")).cast("bigint").alias("df2"),
        F.round(F.when(ok, f_stat), 6).alias("f_stat"),
    )


def cmh_test(
    df: DataFrame,
    stratum_col: str,
    exposure: Column,
    outcome: Column,
) -> DataFrame:
    """Cochran-Mantel-Haenszel test of exposure/outcome association
    across the strata of a BOUNDED-cardinality stratum column: one
    digest row ``(n, n_strata, exposed_outcome, chi2, or_mh)`` — the
    stratified 2×2 χ² (no continuity correction) plus the
    Mantel-Haenszel pooled odds ratio.

    The binary-outcome counterpart of :func:`post_stratified_diff`:
    "does conversion associate with the variant AFTER controlling for
    the stratum?" — the gate that catches Simpson's-paradox reversals a
    marginal :func:`two_proportion_ztest` hides.

    ``chi2 = (Σa_i − ΣE_i)² / ΣV_i`` with the hypergeometric
    ``E_i = n1_i·m1_i/T_i`` and
    ``V_i = n1_i·n0_i·m1_i·m0_i / (T_i²(T_i−1))``;
    ``OR_MH = Σ(a_i·d_i/T_i) / Σ(b_i·c_i/T_i)``.

    Exactness contract: the per-stratum 2×2 counts are exact integers
    from ONE conditional-aggregation scan; E/V/OR terms are fixed
    double expressions; the bounded k-row fold is a stratum-ORDERED
    cumulative window (deterministic double order).  Strata with
    T_i ≤ 1 contribute zero variance; a zero ΣV (or zero OR
    denominator) yields NULL chi2 (or_mh).  Extension — no reference
    counterpart.
    """
    per_s = (
        df.where(F.col(stratum_col).isNotNull())
        .groupBy(F.col(stratum_col).alias("__s"))
        .agg(
            F.count(F.when(exposure & outcome, 1)).alias("__a"),
            F.count(F.when(exposure, 1)).alias("__n1"),
            F.count(F.when(outcome, 1)).alias("__m1"),
            F.count(F.lit(1)).alias("__t"),
        )
    )
    return cmh_from_counts(per_s)


def cmh_from_counts(per_s: DataFrame) -> DataFrame:
    """The CMH fold of :func:`cmh_test`, factored over an
    already-aggregated per-stratum 2x2 frame ``(__s, __a, __n1, __m1,
    __t)`` — shared by the batch operator and the streaming drain
    digest (per-stratum conditional counts are associative, so a
    streaming complete-mode state frame feeds the IDENTICAL expression
    tree and hash-matches batch)."""
    a = F.col("__a").cast("double")
    n1 = F.col("__n1").cast("double")
    m1 = F.col("__m1").cast("double")
    tt = F.col("__t").cast("double")
    n0, m0 = tt - n1, tt - m1
    b, c = n1 - a, m1 - a
    d = tt - n1 - m1 + a
    e = n1 * m1 / tt
    v = F.when(
        F.col("__t") > 1, n1 * n0 * m1 * m0 / (tt * tt * (tt - 1.0))
    ).otherwise(F.lit(0.0))
    w_cum = Window.orderBy("__s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_s.select(
        "__s",
        F.sum("__t").over(w_cum).alias("__cn"),
        F.count(F.lit(1)).over(w_cum).alias("__ck"),
        F.sum("__a").over(w_cum).alias("__ca"),
        F.sum(e).over(w_cum).alias("__ce"),
        F.sum(v).over(w_cum).alias("__cv"),
        F.sum(a * d / tt).over(w_cum).alias("__cor_num"),
        F.sum(b * c / tt).over(w_cum).alias("__cor_den"),
    )
    last = cum.orderBy(F.desc("__s")).limit(1)
    dev = F.col("__ca").cast("double") - F.col("__ce")
    chi2 = F.when(F.col("__cv") > 0, dev * dev / F.col("__cv"))
    or_mh = F.when(
        F.col("__cor_den") > 0, F.col("__cor_num") / F.col("__cor_den")
    )
    return last.select(
        F.col("__cn").cast("bigint").alias("n"),
        F.col("__ck").cast("bigint").alias("n_strata"),
        F.col("__ca").cast("bigint").alias("exposed_outcome"),
        F.round(chi2, 6).alias("chi2"),
        F.round(or_mh, 6).alias("or_mh"),
    )


# Abramowitz & Stegun 7.1.26 erf polynomial — the in-plan normal tail
# used by grouped_ztest_bh.  Spelled once here and mirrored verbatim in
# the oracle SQL; both engines evaluate the identical fixed double
# expression (the KS-p exp() fold set the precedent that libm parity
# holds at the 6-dp digest rounding).
_ERF_P = 0.3275911
_ERF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def _normal_two_sided_p(z: Column) -> Column:
    """2·(1 − Φ(|z|)) = erfc(|z|/√2) via A&S 7.1.26 (|err| ≤ 1.5e-7)."""
    u = F.abs(z) / F.lit(2.0) ** F.lit(0.5)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_ERF_P) * u)
    a1, a2, a3, a4, a5 = (F.lit(v) for v in _ERF_A)
    poly = t * (a1 + t * (a2 + t * (a3 + t * (a4 + t * a5))))
    return poly * F.exp(-u * u)


# ---------------------------------------------------------------------------
# Exact Student-t two-sided tail, spelled once as portable SQL and evaluated
# IN-PLAN by both engines (Spark via F.expr, DuckDB verbatim in the oracle):
# P(|T_df| >= |t|) = I_{df/(df+t²)}(df/2, 1/2) with the regularized
# incomplete beta via Lentz's continued fraction (Numerical Recipes §6.4) —
# the same algorithm, iteration bound (m < 200), tiny-guards, and symmetry
# split as the driver-side _student_t_sf_two_sided in constraints/stats.py,
# so small-df segments get calibrated p-values instead of the normal
# approximation (VERDICT r9 #5).  lgamma is a 9-term Lanczos (g = 7) valid
# for z ≥ 0.5 (always: a = df/2 ≥ 0.5 since each side has n ≥ 2); both
# engines evaluate the IDENTICAL fixed double-op order, so results agree to
# the ulp level — far inside the 6-dp digest rounding.
# ---------------------------------------------------------------------------

_LANCZOS = (
    "0.99999999999980993",
    "676.5203681218851",
    "-1259.1392167224028",
    "771.32342877765313",
    "-176.61502916214059",
    "12.507343278686905",
    "-0.13857109526572012",
    "9.9843695780195716e-06",
    "1.5056327351493116e-07",
)
_HALF_LN_2PI = "9.189385332046727e-01"   # ln(2π)/2
_LGAMMA_HALF = "5.723649429247001e-01"   # lgamma(1/2) = ln(√π)
# Fixed iteration count for BOTH engines.  Measured worst case to full
# 3e-16 convergence over an adversarial (t, df) sweep — including the
# t ≈ √3 split-boundary ridge at df up to 1e9 — is 60 iterations; the
# driver-side loop bound is 199 with an early break that fires by then.
# 100 gives a comfortable margin while keeping the unrolled oracle CTE
# chain small.
_T_SF_ITERS = 100


def _lgamma_sql(z: str) -> str:
    """Lanczos lgamma(z) as a SQL double expression (z ≥ 0.5, no
    reflection branch).  Same text for Spark SQL and DuckDB."""
    zz = f"({z} - 1e0)"
    series = " + ".join(
        f"CAST({c} AS DOUBLE) / ({zz} + CAST({i} AS DOUBLE))" if i
        else f"CAST({c} AS DOUBLE)"
        for i, c in enumerate(_LANCZOS)
    )
    base = f"({zz} + 7.5e0)"
    return (
        f"(CAST({_HALF_LN_2PI} AS DOUBLE) + ({zz} + 5e-1) * ln({base}) "
        f"- {base} + ln({series}))"
    )


def t_sf_prelude_sql(t_expr: str, df_expr: str) -> dict[str, str]:
    """The bounded per-row scalars feeding the continued-fraction fold:
    ``__x`` (beta argument), ``__ta`` (a = df/2), ``__dir`` (symmetry
    branch), ``__a2``/``__b2``/``__x2`` (post-split parameters),
    ``__qab``/``__qap``/``__qam`` (Lentz constants), ``__d0`` (guarded
    first denominator), ``__front`` (exp of the log-beta prefactor).
    Dialect-free: valid in Spark SQL and DuckDB verbatim."""
    out: dict[str, str] = {}
    out["__x"] = f"({df_expr}) / (({df_expr}) + ({t_expr}) * ({t_expr}))"
    out["__ta"] = f"({df_expr}) / 2e0"
    out["__dir"] = "(__x < (__ta + 1e0) / (__ta + 2.5e0))"
    out["__a2"] = "(CASE WHEN __dir THEN __ta ELSE 5e-1 END)"
    out["__b2"] = "(CASE WHEN __dir THEN 5e-1 ELSE __ta END)"
    out["__x2"] = "(CASE WHEN __dir THEN __x ELSE 1e0 - __x END)"
    out["__qab"] = "(__a2 + __b2)"
    out["__qap"] = "(__a2 + 1e0)"
    out["__qam"] = "(__a2 - 1e0)"
    guard0 = (
        "(CASE WHEN abs(1e0 - __qab * __x2 / __qap) < 1e-300 "
        "THEN 1e-300 ELSE 1e0 - __qab * __x2 / __qap END)"
    )
    out["__d0"] = f"(1e0 / {guard0})"
    # ln-beta prefactor: lgamma(a+b) − lgamma(a) − lgamma(b)
    # + a·ln(x) + b·ln(1−x); b = 1/2 so lgamma(b) is a constant and
    # lgamma(a+b) = lgamma(a + 1/2).  ln(1−x) is guarded for the x → 1
    # (t = 0) row, whose final CASE returns 1 regardless.
    ln1mx = "ln(CASE WHEN __x < 1e0 THEN 1e0 - __x ELSE 1e0 END)"
    out["__front"] = (
        f"exp({_lgamma_sql('(__ta + 5e-1)')} - {_lgamma_sql('__ta')} "
        f"- CAST({_LGAMMA_HALF} AS DOUBLE) "
        f"+ __ta * ln(__x) + 5e-1 * {ln1mx})"
    )
    return out


def _t_sf_lentz_steps(acc_c: str, acc_d: str, acc_h: str, md: str):
    """One driver-loop iteration = two Lentz steps; returns SQL strings
    (c2, d2, h2) mirroring _betacf's update order and tiny-guards."""

    def g(v: str) -> str:
        return f"(CASE WHEN abs({v}) < 1e-300 THEN 1e-300 ELSE {v} END)"

    aa1 = (
        f"({md} * (__b2 - {md}) * __x2 "
        f"/ ((__qam + 2e0 * {md}) * (__a2 + 2e0 * {md})))"
    )
    d1 = f"(1e0 / {g(f'1e0 + {aa1} * {acc_d}')})"
    c1 = g(f"1e0 + {aa1} / {acc_c}")
    aa2 = (
        f"(-(__a2 + {md}) * (__qab + {md}) * __x2 "
        f"/ ((__a2 + 2e0 * {md}) * (__qap + 2e0 * {md})))"
    )
    d2 = f"(1e0 / {g(f'1e0 + {aa2} * {d1}')})"
    c2 = g(f"1e0 + {aa2} / {c1}")
    h2 = f"({acc_h} * {d1} * {c1} * {d2} * {c2})"
    return c2, d2, h2


def t_sf_fold_sql() -> str:
    """Spark: the continued-fraction fold + final assembly as ONE SQL
    double expression over the prelude columns (t_sf_prelude_sql),
    rendered as a higher-order ``aggregate(sequence(...))``."""
    c2, d2, h2 = _t_sf_lentz_steps(
        "acc.c", "acc.d", "acc.h", "CAST(m AS DOUBLE)"
    )
    fold = (
        f"aggregate(sequence(1, {_T_SF_ITERS}), "
        "named_struct('c', 1e0, 'd', __d0, 'h', __d0), "
        f"(acc, m) -> named_struct('c', {c2}, 'd', {d2}, 'h', {h2}), "
        "acc -> acc.h)"
    )
    return (
        "(CASE WHEN __x >= 1e0 THEN 1e0 "
        f"WHEN __dir THEN __front * {fold} / __a2 "
        f"ELSE 1e0 - __front * {fold} / __a2 END)"
    )


def t_sf_oracle_ctes(prev: str, p_alias: str = "__p") -> tuple[str, str]:
    """DuckDB: the same computation as a RECURSIVE CTE (DuckDB 1.0's
    ``list_reduce`` evaluates later struct fields of a lambda result
    against the CURRENT iteration's earlier fields — a fold over a
    (c, d, h) struct silently mis-chains — so the loop runs through
    standard recursive-union semantics instead; the caller's WITH list
    must therefore say ``WITH RECURSIVE``).

    ``prev`` is the name of a relation carrying the prelude columns of
    :func:`t_sf_prelude_sql` (built by the caller with the identical
    expression strings).  Returns ``(cte_sql_fragment, final_name)``;
    the final relation is ``prev``'s rows plus ``p_alias``.
    Per-iteration double arithmetic is byte-identical to the Spark
    fold (_t_sf_lentz_steps with md = old __it + 1)."""
    md = "(CAST(__it AS DOUBLE) + 1e0)"
    c2, d2, h2 = _t_sf_lentz_steps("__cc", "__dd", "__hh", md)
    loop = f"{prev}_ts"
    final = f"{prev}_tsf"
    frag = (
        f"{loop} AS ("
        f"SELECT *, 0 AS __it, CAST(1 AS DOUBLE) AS __cc, "
        f"__d0 AS __dd, __d0 AS __hh FROM {prev} "
        f"UNION ALL "
        f"SELECT * EXCLUDE (__it, __cc, __dd, __hh), __it + 1 AS __it, "
        f"{c2} AS __cc, {d2} AS __dd, {h2} AS __hh "
        f"FROM {loop} WHERE __it < {_T_SF_ITERS}), "
        f"{final} AS (SELECT *, (CASE WHEN __x >= 1e0 THEN 1e0 "
        f"WHEN __dir THEN __front * __hh / __a2 "
        f"ELSE 1e0 - __front * __hh / __a2 END) AS {p_alias} "
        f"FROM {loop} WHERE __it = {_T_SF_ITERS})"
    )
    return frag, final


def grouped_ztest_bh(
    df: DataFrame,
    group_col: str,
    population_a: Column,
    population_b: Column,
    success: Column,
    rounded: bool = True,
) -> DataFrame:
    """Per-group pooled two-proportion z-tests with Benjamini-Hochberg
    FDR adjustment across the groups: one row per testable group
    ``(group, n_a, n_b, z, p_value, q_value)`` — the multiple-testing
    gate for segment scans ("which of my 200 segments REALLY moved?"),
    where per-segment α thresholds alone would fire ~10 false segments
    per scan at α = 5%.

    p comes from the A&S 7.1.26 erfc polynomial (|err| ≤ 1.5e-7 —
    below the 6-dp digest rounding); BH is the classic step-up:
    ``q_(i) = min_{j ≥ i}( p_(j) · m / j )`` capped at 1, computed as a
    suffix-min window over the p-ascending ranking (group tiebreak).
    q is CONTINUOUS in p, so 1-ulp engine differences cannot step it —
    the reject/accept decision stays driver-side in the constraint.

    Groups where the z-test is degenerate (an empty side, pooled rate
    0 or 1) are excluded from m and from the output — they carry no
    evidence either way.

    Scale: one conditional-aggregation shuffle to the per-group counts;
    every window after that runs over the BOUNDED |groups|-row digest
    frame.  Extension — no reference counterpart.
    """
    per_g = (
        df.where((population_a | population_b) & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("group"))
        .agg(
            F.count(F.when(population_a, 1)).alias("n_a"),
            F.count(F.when(population_a & success, 1)).alias("s_a"),
            F.count(F.when(population_b, 1)).alias("n_b"),
            F.count(F.when(population_b & success, 1)).alias("s_b"),
        )
    )
    na, sa = F.col("n_a").cast("double"), F.col("s_a").cast("double")
    nb, sb = F.col("n_b").cast("double"), F.col("s_b").cast("double")
    pooled = (sa + sb) / (na + nb)
    var = pooled * (1.0 - pooled) * (1.0 / na + 1.0 / nb)
    z = (sa / na - sb / nb) / F.sqrt(var)
    testable = per_g.where(
        (F.col("n_a") > 0) & (F.col("n_b") > 0)
        & (F.col("s_a") + F.col("s_b") > 0)
        & (F.col("s_a") + F.col("s_b") < F.col("n_a") + F.col("n_b"))
    ).select("group", "n_a", "n_b", z.alias("__z"))
    p = _normal_two_sided_p(F.col("__z"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_rank = Window.orderBy("__p", "group")
    ranked = testable.select(
        "group", "n_a", "n_b", "__z", p.alias("__p")
    ).select(
        "*",
        F.count(F.lit(1)).over(w_all).alias("__m"),
        F.row_number().over(w_rank).alias("__r"),
    )
    # suffix min over ranks ≥ r: cumulative min in DESCENDING p order
    w_suffix = Window.orderBy(F.desc("__r")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r_val = (
        F.col("__p") * F.col("__m").cast("double")
        / F.col("__r").cast("double")
    )
    q = F.least(F.min(r_val).over(w_suffix), F.lit(1.0))

    def _digest(col: Column) -> Column:
        # rounded=False is the constraint path: the reject/accept
        # decision must compare the UNROUNDED q (ADVICE r9) — 6-dp
        # rounding can flip borderline q ≈ threshold cases.
        return F.round(col, 6) if rounded else col

    return ranked.select(
        "group",
        "n_a",
        "n_b",
        _digest(F.col("__z")).alias("z"),
        _digest(F.col("__p")).alias("p_value"),
        _digest(q).alias("q_value"),
    )


def kruskal_wallis(
    df: DataFrame, column: str, group_column: str
) -> DataFrame:
    """Kruskal-Wallis H test — the k-group extension of
    :func:`mann_whitney_u` ("does ANY segment's distribution sit
    systematically higher?"): one digest row ``(n, n_groups, df, h,
    h_adj)`` with mid-rank ties and the standard tie correction
    ``H' = H / (1 − Σ(t³−t)/(N³−N))``.

    Rank sums come from the same tie-block identity over the combined
    distinct-value histogram (bucket-partitioned cumulative, NO global
    window): ``2·R_g = Σ_v n_g(v)·(2·cum(v) − cnt(v) + 1)``; then
    ``H = 12/(N(N+1)) · Σ R_g²/n_g − 3(N+1)``, folded over the BOUNDED
    per-group digest in group order (deterministic double order).

    Exactness: per-value and per-group counts, doubled rank sums, and
    the tie mass Σ(t³−t) all accumulate as DECIMAL(38,0) (exact while
    N³ < 1e38 — the jarque_bera magnitude-bound convention); doubles
    enter only in the bounded fold.  Degenerate inputs (k < 2, N ≤ k,
    every value tied — zero C) yield NULL h/h_adj.  Extension — no
    reference counterpart.

    Plan: ONE fact-table scan builds the (group, value) histogram
    (persisted — bounded by |distinct values|·k); the value histogram
    is a re-aggregation of THAT, not a second fact scan.  Then the
    bucketed cumulative join on the distinct-value key, one k-row
    grouped aggregate, and the ordered k-row fold.  The fact table is
    never windowed.
    """
    from ..pipeline._util import materialize_once

    d38 = "decimal(38,0)"
    both = df.where(
        F.col(column).isNotNull() & F.col(group_column).isNotNull()
    )
    gv = materialize_once(
        both.groupBy(
            F.col(group_column).alias("__g"), F.col(column).alias("v")
        ).agg(F.count(F.lit(1)).alias("ng"))
    )
    vals = gv.groupBy("v").agg(F.sum("ng").alias("cnt"))
    cum = _bucketed_global_cum(vals, ["cnt"])
    dec = lambda c: c.cast(d38)  # noqa: E731
    per_g = (
        gv.join(cum, "v")
        .groupBy("__g")
        .agg(
            F.sum(dec(F.col("ng"))).alias("__n"),
            F.sum(
                dec(F.col("ng"))
                * (2 * dec(F.col("cum")) - dec(F.col("cnt")) + 1)
            ).alias("__r2"),
        )
    )
    tot = vals.agg(
        F.sum(dec(F.col("cnt"))).alias("__nn"),
        F.sum(
            dec(F.col("cnt")) * dec(F.col("cnt")) * dec(F.col("cnt"))
            - dec(F.col("cnt"))
        ).alias("__ties"),
    )
    w_cum = Window.orderBy("__g").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # Σ (2R_g)²/n_g folds in group order (doubles)
    term = (
        F.col("__r2").cast("double")
        * F.col("__r2").cast("double")
        / F.col("__n").cast("double")
    )
    folded = per_g.select(
        "__g",
        F.count(F.lit(1)).over(w_cum).alias("__ck"),
        F.sum(term).over(w_cum).alias("__ct"),
    )
    last = folded.orderBy(F.desc("__g")).limit(1).join(F.broadcast(tot))
    nd = F.col("__nn").cast("double")
    # H = 12/(N(N+1)) · ΣR²/n − 3(N+1), with ΣR²/n = Σ(2R)²/n / 4
    h = 3.0 * F.col("__ct") / (nd * (nd + 1.0)) - 3.0 * (nd + 1.0)
    tie_den = (
        F.col("__nn") * F.col("__nn") * F.col("__nn") - F.col("__nn")
    ).cast("double")
    c = 1.0 - F.when(tie_den > 0, F.col("__ties").cast("double") / tie_den)
    ok = (F.col("__ck") >= 2) & (F.col("__nn") > F.col("__ck"))
    return last.select(
        F.col("__nn").cast("bigint").alias("n"),
        F.col("__ck").cast("bigint").alias("n_groups"),
        (F.col("__ck") - 1).cast("bigint").alias("df"),
        F.round(F.when(ok, h), 6).alias("h"),
        F.round(F.when(ok & (c > 0), h / c), 6).alias("h_adj"),
    )


def grouped_welch_bh(
    df: DataFrame,
    group_col: str,
    metric_col: str,
    population_a: Column,
    population_b: Column,
    rounded: bool = True,
) -> DataFrame:
    """Per-group Welch mean comparisons with Benjamini-Hochberg FDR
    adjustment across the groups: one row per testable group ``(group,
    n_a, n_b, diff, t, df, p_value, q_value)`` — the MEAN-metric
    sibling of :func:`grouped_ztest_bh` ("which of my segments' average
    engagement REALLY moved?"), calibrated when a treatment changes a
    segment's spread.

    p is the EXACT two-sided Student-t tail
    ``I_{df/(df+t²)}(df/2, 1/2)`` evaluated in-plan by the shared
    portable-SQL incomplete beta (t_sf_prelude_sql / t_sf_fold_sql:
    Lentz continued fraction, same algorithm and iteration bound as
    the driver-side _student_t_sf_two_sided) — small segments
    (n ≈ 5–30 per side) get calibrated q-values, not the normal
    approximation (VERDICT r9 #5).  The fold runs only over the
    BOUNDED per-group digest, never the fact table.  BH is the same
    suffix-min step-up, q continuous in p.

    Groups with a side below 2 units or zero combined variance are
    excluded from m and the output.  Exactness: per-(group, side)
    sufficient statistics (n, Σx, Σx²) accumulate as DECIMAL(38,0) in
    ONE conditional-aggregation shuffle; every window after that runs
    over the BOUNDED per-group digest.  Extension — no reference
    counterpart.
    """
    d38 = "decimal(38,0)"
    x = F.col(metric_col).cast(d38)
    zero = F.lit(0).cast(d38)
    per_g = (
        df.where(
            (population_a | population_b)
            & F.col(group_col).isNotNull()
            & F.col(metric_col).isNotNull()
        )
        .groupBy(F.col(group_col).alias("group"))
        .agg(
            F.count(F.when(population_a, 1)).alias("n_a"),
            F.sum(F.when(population_a, x).otherwise(zero)).alias("s_a"),
            F.sum(
                F.when(population_a, (x * x).cast(d38)).otherwise(zero)
            ).alias("q_a"),
            F.count(F.when(population_b, 1)).alias("n_b"),
            F.sum(F.when(population_b, x).otherwise(zero)).alias("s_b"),
            F.sum(
                F.when(population_b, (x * x).cast(d38)).otherwise(zero)
            ).alias("q_b"),
        )
    )

    def _side(tag: str):
        n = F.col(f"n_{tag}")
        nd = n.cast("double")
        mean = F.col(f"s_{tag}").cast("double") / nd
        var = (
            n.cast(d38) * F.col(f"q_{tag}")
            - F.col(f"s_{tag}") * F.col(f"s_{tag}")
        ).cast("double") / (nd * (nd - 1.0))
        return mean, var / nd, nd

    mean_a, ta, na = _side("a")
    mean_b, tb, nb = _side("b")
    se2 = ta + tb
    t_stat = F.when(se2 > 0, (mean_a - mean_b) / F.sqrt(se2))
    df_ws = F.when(
        se2 > 0,
        (se2 * se2) / (ta * ta / (na - 1.0) + tb * tb / (nb - 1.0)),
    )
    testable = per_g.where(
        (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    ).select(
        "group",
        "n_a",
        "n_b",
        (mean_a - mean_b).alias("__diff"),
        t_stat.alias("__t"),
        df_ws.alias("__df"),
    ).where(F.col("__t").isNotNull())
    # exact t tail: prelude scalars then the continued-fraction fold,
    # all on the bounded digest rows
    ranked = testable
    for name, expr in t_sf_prelude_sql("__t", "__df").items():
        ranked = ranked.select("*", F.expr(expr).alias(name))
    ranked = ranked.select(
        "group",
        "n_a",
        "n_b",
        "__diff",
        "__t",
        "__df",
        F.expr(t_sf_fold_sql()).alias("__p"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_rank = Window.orderBy("__p", "group")
    ranked = ranked.select(
        "*",
        F.count(F.lit(1)).over(w_all).alias("__m"),
        F.row_number().over(w_rank).alias("__r"),
    )
    w_suffix = Window.orderBy(F.desc("__r")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r_val = (
        F.col("__p") * F.col("__m").cast("double")
        / F.col("__r").cast("double")
    )
    q = F.least(F.min(r_val).over(w_suffix), F.lit(1.0))

    def _digest(col: Column) -> Column:
        # rounded=False: constraint path decides on the unrounded q
        return F.round(col, 6) if rounded else col

    return ranked.select(
        "group",
        "n_a",
        "n_b",
        _digest(F.col("__diff")).alias("diff"),
        _digest(F.col("__t")).alias("t"),
        _digest(F.col("__df")).alias("df"),
        _digest(F.col("__p")).alias("p_value"),
        _digest(q).alias("q_value"),
    )
