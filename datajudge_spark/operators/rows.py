"""Row-set operators: EXCEPT, match-compare join, duplicates, functional
dependency, per-group array aggregation.

Re-expression of /root/reference/src/datajudge/db_access.py:1016-1161 and
:711-737.

Scale notes:
- ``subtract`` (EXCEPT DISTINCT — set semantics mandated by the reference,
  requirements.py:2092-2095; never ``exceptAll``) and the match-compare join
  shuffle on their keys; Catalyst/AQE picks sort-merge vs broadcast and
  handles skew (AQE skew-join splitting).
- the duplicates / functional-dependency aggregations are plain hash
  aggregations with map-side partial aggregation.
- match-compare fuses the mismatch average and the matched-row count into ONE
  join + ONE aggregate (the reference runs the join twice,
  db_access.py:1081-1089).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pipeline._util import resolve_source
from ..reference import DataReference

_Plans = list[DataFrame]


def get_row_difference_sample(
    spark: SparkSession, ref: DataReference, ref2: DataReference
) -> tuple[object, _Plans]:
    """One sample row of ``ref EXCEPT ref2`` (reference db_access.py:1016-1024)."""
    diff = ref.get_selection(spark).subtract(ref2.get_selection(spark))
    # Sorted first row -> deterministic counterexample across partitionings
    # (SURVEY §7.3.8).  LIMIT 1 over a sort is TakeOrderedAndProject: each
    # partition contributes its minimum, no global sort shuffle.
    row = diff.orderBy(
        *[F.col(c).asc_nulls_first() for c in diff.columns]
    ).first()
    return (tuple(row) if row is not None else None), [diff]


def get_row_difference_count(
    spark: SparkSession, ref: DataReference, ref2: DataReference
) -> tuple[int, _Plans]:
    """|ref EXCEPT ref2| — set semantics (reference db_access.py:1027-1041).
    ``subtract`` already yields distinct rows."""
    diff = ref.get_selection(spark).subtract(ref2.get_selection(spark))
    return diff.count(), [diff]


class MatchAndCompare:
    """Column pairing for the match-compare join
    (reference _MatchAndCompare, db_access.py:80-120)."""

    def __init__(
        self,
        matching_columns1,
        matching_columns2,
        comparison_columns1,
        comparison_columns2,
    ):
        self.matching_columns1 = list(matching_columns1)
        self.matching_columns2 = list(matching_columns2)
        self.comparison_columns1 = list(comparison_columns1)
        self.comparison_columns2 = list(comparison_columns2)

    def __str__(self) -> str:
        return (
            f"Matched on {self.matching_columns1} and "
            f"{self.matching_columns2}. Compared on "
            f"{self.comparison_columns1} and "
            f"{self.comparison_columns2}."
        )


def get_row_mismatch(
    spark: SparkSession,
    ref: DataReference,
    ref2: DataReference,
    match_and_compare: MatchAndCompare,
) -> tuple[float, int, _Plans]:
    """Inner-join on matching columns; mismatch fraction =
    AVG(CASE WHEN all comparison columns null-safe-equal THEN 0 ELSE 1)
    (reference db_access.py:1044-1094). Null-safe equality via
    ``eqNullSafe`` replaces the reference's hand-built
    ``(a=b OR (a IS NULL AND b IS NULL))`` string (db_access.py:109-120)."""
    left = ref.get_selection(spark).alias("l")
    right = ref2.get_selection(spark).alias("r")

    match_cond = None
    for c1, c2 in zip(
        match_and_compare.matching_columns1, match_and_compare.matching_columns2
    ):
        clause = F.col(f"l.{c1}") == F.col(f"r.{c2}")
        match_cond = clause if match_cond is None else (match_cond & clause)

    compare_cond = None
    for c1, c2 in zip(
        match_and_compare.comparison_columns1, match_and_compare.comparison_columns2
    ):
        clause = F.col(f"l.{c1}").eqNullSafe(F.col(f"r.{c2}"))
        compare_cond = clause if compare_cond is None else (compare_cond & clause)

    joined = left.join(right, match_cond)
    agg_df = joined.select(
        F.avg(F.when(compare_cond, 0.0).otherwise(1.0)).alias("mismatch_fraction"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    row = agg_df.first()
    if row is None or row["mismatch_fraction"] is None:
        raise ValueError("Could not fetch number of mismatches.")
    return float(row["mismatch_fraction"]), int(row["n_rows"]), [agg_df]


def duplicates(selection: DataFrame) -> DataFrame:
    """Rows occurring more than once (all-columns grouping; reference
    db_access.py:1097-1115). Returns one row per duplicated tuple."""
    return (
        selection.groupBy(*selection.columns)
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
        .drop("n_copies")
    )


def get_duplicate_sample(
    spark: SparkSession, ref: DataReference
) -> tuple[object, _Plans]:
    """One sample duplicated tuple (reference db_access.py:1118-1125)."""
    dup = duplicates(ref.get_selection(spark))
    row = dup.orderBy(
        *[F.col(c).asc_nulls_first() for c in dup.columns]
    ).first()
    return (tuple(row) if row is not None else None), [dup]


def get_functional_dependency_violations(
    spark: SparkSession, ref: DataReference, key_columns: list[str]
) -> tuple[list, _Plans]:
    """Distinct tuples whose key maps to >1 distinct value combination
    (reference db_access.py:711-737), in one scan and one shuffle.

    The reference semi-joins the distinct tuples back to their violating
    keys, so a key holding a NULL never violates; those rows are dropped
    first.  The rest are hash-partitioned by key, so the DISTINCT and the
    per-key grouping (each tuple as a positional struct) both run inside
    the partitions.  The DISTINCT normalizes floats as before: NaNs are
    equal and -0.0 is 0.0, also in the returned tuples.  (Two scans of the
    semi-join plan did not share their exchange: the filters Catalyst
    infers for the join made its two sides differ.)"""
    selection = ref.get_selection(spark)
    for k in key_columns:
        selection = selection.where(F.col(k).isNotNull())
    violations = (
        selection.repartition(*key_columns)
        .distinct()
        .groupBy(*key_columns)
        .agg(F.collect_list(F.struct("*")).alias("__dj_rows"))
        .where(F.size("__dj_rows") > 1)
    )
    result = [
        tuple(row) for group in violations.collect() for row in group["__dj_rows"]
    ]
    return result, [violations]


def get_column_array_agg(
    spark: SparkSession, ref: DataReference, aggregation_column: str
) -> tuple[list, _Plans]:
    """Per-group collected value arrays (reference db_access.py:1128-1161,
    ``array_agg``). Returns [(group_cols..., [values...]), ...].

    Deviation from the reference: the reference builds this query on the bare
    data source and silently ignores the ref's Condition
    (db_access.py:1128-1139); we apply the condition — the documented intent
    of ``add_groupby_aggregation_constraint``.
    """
    column_names = ref.get_columns(spark)
    if not column_names:
        raise ValueError("There must be a column to group by")
    selection = resolve_source(spark, ref.data_source)
    if ref.condition is not None:
        selection = selection.where(ref.condition.to_column())
    grouped = selection.groupBy(*column_names).agg(
        F.collect_list(F.col(aggregation_column)).alias("__dj_agg")
    )
    rows = grouped.collect()
    result = [(*row[:-1], list(row[-1])) for row in rows]
    return result, [grouped]


def sequence_monotonicity(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    strict: bool = False,
    top_k: int = 5,
) -> DataFrame:
    """Per-key sequence-monotonicity audit: one digest row ``(n_keys,
    n_pairs, n_violations, violation_fraction, top_keys)`` counting
    adjacent pairs (ordered by ``order_col`` WITHIN each ``key_col``
    partition) where ``value_col`` decreases (or fails to increase,
    with ``strict=True``) — the sequence-integrity gate behind
    "cumulative totals never go down per account", "version numbers
    only grow per entity", "per-device clocks don't run backwards".

    ``top_keys`` renders the ``top_k`` worst keys as
    ``key=violations`` (count DESC, key ASC) so the failure is
    actionable.  Ties in ``order_col`` break by ``value_col`` ascending
    — a same-timestamp batch is NOT a violation unless values actually
    conflict (strict mode still flags equal adjacent values).

    Scale: the ONLY window is partitioned by the key (each partition
    sorts locally after one hash shuffle — no global ordering
    anywhere); the digest fold is a partial-agg'd 1-row aggregate plus
    a bounded TakeOrdered(top_k) for the offender render.  Extension —
    no reference counterpart; nearest relative is the per-key gap
    audit (operators.interval).
    """
    w = Window.partitionBy(F.col(key_col)).orderBy(
        F.col(order_col).asc(), F.col(value_col).asc()
    )
    prev = F.lag(F.col(value_col)).over(w)
    bad = (
        (F.col("__v") <= F.col("__prev"))
        if strict
        else (F.col("__v") < F.col("__prev"))
    )
    pairs = (
        df.where(
            F.col(key_col).isNotNull()
            & F.col(order_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("__k"),
            prev.alias("__prev"),
            F.col(value_col).alias("__v"),
        )
        .where(F.col("__prev").isNotNull())
        .select("__k", F.when(bad, 1).otherwise(0).alias("__bad"))
    )
    per_key = pairs.groupBy("__k").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__bad").alias("__nb"),
    )
    offenders = (
        per_key.where(F.col("__nb") > 0)
        .orderBy(F.desc("__nb"), F.asc("__k"))
        .limit(top_k)
        .select(
            F.concat_ws(
                "=",
                F.col("__k").cast("string"),
                F.col("__nb").cast("string"),
            ).alias("__s")
        )
        .agg(F.concat_ws(", ", F.collect_list("__s")).alias("top_keys"))
    )
    digest = per_key.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias("n_pairs"),
        F.coalesce(F.sum("__nb"), F.lit(0))
        .cast("bigint")
        .alias("n_violations"),
    )
    return digest.join(F.broadcast(offenders)).select(
        "n_keys",
        "n_pairs",
        "n_violations",
        F.round(
            F.when(
                F.col("n_pairs") > 0,
                F.col("n_violations").cast("double")
                / F.col("n_pairs").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("violation_fraction"),
        "top_keys",
    )
