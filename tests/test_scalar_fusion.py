"""Scan sharing in ``Requirement.test``.

``Requirement.test`` computes every scalar aggregate its constraints
declare on one data source (row counts, null and range fractions,
min/max/mean, length extremes) in a single Spark aggregate.  These tests
pin that the shared scan changes nothing a user can see: each result
equals what the same constraint returns when tested alone, errors come
from the same constraint with the same type, and one source costs a
bounded number of Spark jobs.
"""

from __future__ import annotations

import datetime as dt
import itertools
import re
import traceback

import pytest
from pyspark.sql import types as T

from datajudge_spark import BetweenRequirement, Condition, WithinRequirement

from conftest import count_jobs

_EXPR_ID = re.compile(r"#\d+L?")

_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DateType()),
        T.StructField("nx", T.DoubleType()),
        T.StructField("ns", T.StringType()),
        T.StructField("nd", T.DateType()),
    ]
)


def _rows(n: int, scale: float):
    day0 = dt.date(2024, 1, 1)
    return [
        (
            k,
            None if k % 5 == 0 else k * scale,
            None if k % 4 == 0 else "a" * (k % 7 + 1),
            day0 + dt.timedelta(days=k),
            None,
            None,
            None,
        )
        for k in range(n)
    ]


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("fusion")
    paths = {}
    for name, rows in (
        ("t", _rows(30, 1.5)),
        ("u", _rows(24, 1.2)),
        ("empty", []),
    ):
        paths[name] = str(root / f"{name}.parquet")
        spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.parquet(
            paths[name]
        )
    return paths


def _cond(raw: str | None) -> Condition | None:
    return None if raw is None else Condition(raw_string=raw)


def _within(path: str, conditions, cols=("x", "s", "d")):
    """One constraint of every fusable within-class; the i-th takes the
    i-th condition, cycling."""
    num, text, day = cols
    c = itertools.cycle([_cond(raw) for raw in conditions])
    req = WithinRequirement.from_parquet(path, name="t")
    req.add_n_rows_min_constraint(12, condition=next(c))
    req.add_n_rows_max_constraint(20, condition=next(c))
    req.add_n_rows_equality_constraint(30, condition=next(c))
    req.add_max_null_fraction_constraint(num, 0.1, condition=next(c))
    req.add_numeric_min_constraint(num, 3.0, condition=next(c))
    req.add_numeric_max_constraint(num, 30.0, condition=next(c))
    req.add_numeric_mean_constraint(num, 20.0, 2.0, condition=next(c))
    req.add_numeric_between_constraint(num, 5.0, 25.0, 0.6, condition=next(c))
    req.add_date_min_constraint(day, "'2024-01-05'", condition=next(c))
    req.add_date_max_constraint(day, "'2024-01-20'", condition=next(c))
    req.add_date_between_constraint(
        day, "'2024-01-03'", "'2024-01-25'", 0.7, condition=next(c)
    )
    req.add_varchar_min_length_constraint(text, 2, condition=next(c))
    req.add_varchar_max_length_constraint(text, 6, condition=next(c))
    return req


def _between(path1: str, path2: str, cond1=None, cond2=None):
    """One constraint of every fusable between-class: relative n_rows
    and numeric min/max/mean between tables, plus null fraction, dates
    and lengths."""
    c1, c2 = _cond(cond1), _cond(cond2)
    kw = {"condition1": c1, "condition2": c2}
    req = BetweenRequirement.from_parquets(path1, path2, name1="t", name2="u")
    req.add_n_rows_equality_constraint(**kw)
    req.add_n_rows_max_gain_constraint(constant_max_relative_gain=0.1, **kw)
    req.add_n_rows_min_gain_constraint(constant_min_relative_gain=0.1, **kw)
    req.add_n_rows_max_loss_constraint(constant_max_relative_loss=0.1, **kw)
    req.add_max_null_fraction_constraint("x", "x", 0.05, **kw)
    req.add_numeric_min_constraint("x", "x", **kw)
    req.add_numeric_max_constraint("x", "x", **kw)
    req.add_numeric_mean_constraint("x", "x", 1.0, **kw)
    req.add_date_min_constraint("d", "d", **kw)
    req.add_date_max_constraint("d", "d", **kw)
    req.add_varchar_min_length_constraint("s", "s", **kw)
    req.add_varchar_max_length_constraint("s", "s", **kw)
    return req


def _seen(result):
    return result.outcome, _EXPR_ID.sub("", result.logging_message)


def _alone(build, i: int, spark):
    """Constraint ``i`` of a fresh requirement, tested by itself: its
    outcome and id-stripped message, or the type it raised."""
    try:
        return _seen(build()[i].test(spark))
    except Exception as exc:  # compared by type below
        return type(exc)


def _assert_parity(build, spark) -> None:
    """``build().test`` equals each constraint tested alone on a fresh
    instance.  Constraints that raise alone must make the shared test
    raise the first such type; the others are then compared without
    them."""
    n = len(build())
    alone = [_alone(build, i, spark) for i in range(n)]
    raising = [i for i, got in enumerate(alone) if isinstance(got, type)]
    if raising:
        with pytest.raises(Exception) as info:
            build().test(spark)
        assert type(info.value) is alone[raising[0]]
    req = build()
    for i in reversed(raising):
        del req[i]
    assert [_seen(r) for r in req.test(spark)] == [
        got for i, got in enumerate(alone) if i not in raising
    ]


def test_parity_without_condition(spark, tables):
    _assert_parity(lambda: _within(tables["t"], [None]), spark)


def test_parity_different_conditions_on_one_source(spark, tables):
    _assert_parity(lambda: _within(tables["t"], ["k > 3", "k < 25"]), spark)


def test_parity_condition_null_on_some_rows(spark, tables):
    # x is NULL on every fifth row, so the condition is NULL there
    _assert_parity(lambda: _within(tables["t"], ["x > 10", None]), spark)


def test_parity_condition_matching_no_row(spark, tables):
    # the "Empty set." / None branches; date gates raise on no value
    _assert_parity(lambda: _within(tables["t"], ["k < 0"]), spark)


def test_parity_all_null_columns(spark, tables):
    _assert_parity(
        lambda: _within(tables["t"], [None], cols=("nx", "ns", "nd")), spark
    )


def test_parity_empty_source(spark, tables):
    _assert_parity(lambda: _within(tables["empty"], [None, "k > 1"]), spark)


@pytest.mark.parametrize(
    "cond1, cond2", [(None, None), ("k > 2", None), ("k > 2", "x < 20")]
)
def test_parity_between_tables(spark, tables, cond1, cond2):
    _assert_parity(
        lambda: _between(tables["t"], tables["u"], cond1, cond2), spark
    )


def test_failure_message_renders_own_plan(spark, tables):
    req = WithinRequirement.from_parquet(tables["t"], name="t")
    req.add_numeric_max_constraint("x", 1.0, condition=_cond("k > 3"))
    req.add_varchar_max_length_constraint("s", 1)
    plans = [r._factual_queries for r in req.test(spark)]
    assert all(p is not None and len(p) == 1 for p in plans)
    # each failure shows the aggregate it would run alone, not the
    # shared one holding the other constraint's column
    assert "max(x" in plans[0][0] and "length(s" not in plans[0][0]
    assert "length(s" in plans[1][0] and "max(x" not in plans[1][0]


@pytest.mark.parametrize(
    "column, condition",
    [("missing_col", None), ("x", "k >")],
    ids=["missing column", "unparsable condition"],
)
def test_analysis_error_raised_by_its_own_constraint(
    spark, tables, column, condition
):
    def build():
        req = WithinRequirement.from_parquet(tables["t"], name="t")
        req.add_n_rows_min_constraint(1)
        req.add_numeric_max_constraint(column, 1.0, condition=_cond(condition))
        req.add_numeric_min_constraint("x", 0.0, condition=_cond("k > 1"))
        return req

    with pytest.raises(Exception) as alone:
        build()[1].test(spark)
    req = build()
    with pytest.raises(Exception) as shared:
        req.test(spark)
    assert type(shared.value) is type(alone.value)
    # raised inside the offending constraint's own test, not by the
    # shared aggregate
    owners = [
        frame.f_locals.get("self")
        for frame, _ in traceback.walk_tb(shared.tb)
        if frame.f_code.co_name == "test"
    ]
    assert req[1] in owners


def test_one_parquet_source_runs_at_most_three_jobs(spark, tables):
    conditions = ["k > 3", "k < 25", "x > 10", "s IS NOT NULL"]
    req = _within(tables["t"], conditions)
    del req[2]  # twelve constraints, four distinct conditions
    assert len(req) == 12
    results, jobs = count_jobs(spark, "fusion-jobs", lambda: req.test(spark))
    assert len(results) == 12
    # one parquet footer job plus the shared aggregate's two stages
    assert 1 <= jobs <= 3
    # re-testing the same requirement reads the per-instance caches
    _, again = count_jobs(spark, "fusion-jobs-again", lambda: req.test(spark))
    assert again == 0
