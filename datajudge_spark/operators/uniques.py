"""Distinct-value operators: uniques histogram, distinct counts, union count.

Re-expression of /root/reference/src/datajudge/db_access.py:906-964.

Null semantics (SURVEY §7.3.3): SQL ``SELECT DISTINCT`` *keeps* all-NULL
tuples, so distinct counts use ``df.distinct().count()`` — NOT
``countDistinct``, which drops them. The uniques histogram likewise includes
NULL keys; driver-side ``filter_func`` decides what to drop
(utils.filternull_*).

Scale notes: a uniques histogram collects O(|distinct|) rows to the driver —
this is the reference's own discipline (it returns a Counter, not rows;
db_access.py:906-935). For columns with huge cardinality prefer the
``get_unique_count`` scalar; the histogram is for categorical columns.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..reference import DataReference

_Plans = list[DataFrame]

#: Default driver-collect cap for :func:`get_uniques` and every
#: constraint that materializes a distinct-value Counter.  1M distinct
#: values of typical key width is O(100 MB) on the driver — safely
#: under default driver memory, while anything bigger is almost
#: certainly a mis-specified categorical gate at 100 TB.  Pass
#: ``max_uniques=None`` to explicitly opt out (the reference's own
#: unbounded discipline, SURVEY §3.4).
DEFAULT_MAX_UNIQUES = 1_000_000


def get_uniques(
    spark: SparkSession,
    ref: DataReference,
    max_uniques: int | None = DEFAULT_MAX_UNIQUES,
) -> tuple[Counter, _Plans]:
    """Value -> multiplicity Counter over the ref's column(s)
    (reference db_access.py:906-935). Scalar keys for one column, tuple keys
    for several.

    ``max_uniques`` is the 100 TB insurance on the driver collect
    (SURVEY §3.4): a column with more than that many distinct values
    raises instead of streaming them all into driver memory — the
    single LIMIT probe costs nothing when the cardinality is sane.
    Defaults to :data:`DEFAULT_MAX_UNIQUES`; callers that know the
    domain is huge AND genuinely want the full Counter must opt out
    explicitly with ``max_uniques=None``.
    """
    column_names = ref.get_columns(spark)
    if not column_names:
        return Counter({}), []
    selection = ref.get_selection(spark)
    grouped = selection.groupBy(*column_names).agg(F.count(F.lit(1)).alias("__dj_cnt"))
    if max_uniques is not None:
        # LIMIT N+1: one bounded job; if a row beyond the cap exists the
        # collect is over budget and we fail fast with the real count
        # still uncomputed (computing it exactly would scan again)
        rows = grouped.limit(max_uniques + 1).collect()
        if len(rows) > max_uniques:
            raise ValueError(
                f"get_uniques({column_names}) exceeded max_uniques="
                f"{max_uniques} distinct values; use get_unique_count "
                "for high-cardinality columns or raise the cap."
            )
    else:
        rows = grouped.collect()
    if len(column_names) == 1:
        result = Counter({row[0]: row[-1] for row in rows})
    else:
        result = Counter({tuple(row[: len(column_names)]): row[-1] for row in rows})
    return result, [grouped]


def get_unique_count(
    spark: SparkSession, ref: DataReference
) -> tuple[int, _Plans]:
    """COUNT(*) over SELECT DISTINCT (reference db_access.py:938-949)."""
    selection = ref.get_selection(spark)
    distinct = selection.distinct()
    return distinct.count(), [distinct]


def get_unique_and_row_count(
    spark: SparkSession, ref: DataReference
) -> tuple[tuple[int, int], _Plans]:
    """``(distinct tuples, rows)`` of the selection in ONE aggregate:
    the per-tuple row counts, then their count and sum.  Grouping keeps
    all-NULL tuples as one group, as ``distinct()`` does."""
    selection = ref.get_selection(spark)
    # positional names: any column name (dotted, duplicated) groups
    keys = [f"__dj_k{i}" for i in range(len(selection.columns))]
    per_tuple = (
        selection.toDF(*keys)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__dj_n"))
    )
    counts = per_tuple.agg(
        F.count(F.lit(1)).alias("uniques"),
        F.coalesce(F.sum("__dj_n"), F.lit(0)).alias("rows"),
    )
    row = counts.first()
    return (int(row["uniques"]), int(row["rows"])), [counts]


def get_unique_count_union(
    spark: SparkSession, ref: DataReference, ref2: DataReference
) -> tuple[int, _Plans]:
    """count(distinct (q1 UNION q2)) (reference db_access.py:952-964).
    Positional union, like SQL UNION."""
    selection1 = ref.get_selection(spark)
    selection2 = ref2.get_selection(spark)
    unioned = selection1.union(selection2).distinct()
    return unioned.count(), [unioned]


def chao1_richness(df: DataFrame, column: str) -> DataFrame:
    """Chao1 species-richness digest: one row ``(n, d_obs, f1, f2,
    chao1, unseen_mass)`` estimating how many DISTINCT values of
    ``column`` exist beyond the ones observed — the capture-recapture
    lower bound ``Chao1 = D + f1²/(2·f2)`` (bias-corrected
    ``D + f1(f1−1)/(2(f2+1))`` when f2 = 0) from the
    frequencies-of-frequencies, plus the Good-Turing unseen-probability
    mass ``f1/n``.

    The "is my vocabulary/id space saturated?" gate: a crawl, dedup
    sweep, or token census whose singleton count f1 keeps growing is
    nowhere near covered, no matter how big D already looks —
    exactly what a bare COUNT(DISTINCT) (or its HLL approximation)
    cannot say.

    Exactness: two partial-agg'd shuffles (value histogram, then its
    frequency histogram collapsed to conditional counts), all integers
    exact; the two estimator divisions happen once in double.
    Degenerate inputs (empty, or f1 = f2 = 0 — every value repeated)
    return chao1 = d_obs and unseen_mass 0/NULL per definition.
    Extension — no reference counterpart; nearest relatives are the
    uniques histogram (this module) and approx-distinct audit.
    """
    per_v = (
        df.where(F.col(column).isNotNull())
        .groupBy(F.col(column).alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    agg = per_v.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("d_obs"),
        F.coalesce(
            F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("f1"),
        F.coalesce(
            F.sum(F.when(F.col("__c") == 2, 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("f2"),
    )
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    d = F.col("d_obs").cast("double")
    chao1 = F.when(
        F.col("f2") > 0, d + f1 * f1 / (2.0 * f2)
    ).otherwise(d + f1 * (f1 - 1.0) / (2.0 * (f2 + 1.0)))
    return agg.select(
        "n",
        "d_obs",
        "f1",
        "f2",
        F.round(chao1, 6).alias("chao1"),
        F.round(
            F.when(F.col("n") > 0, f1 / F.col("n").cast("double")), 6
        ).alias("unseen_mass"),
    )
