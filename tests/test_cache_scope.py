"""Cache lifetime: every block the library pins belongs to a
``cache_scope`` and is released when the scope exits.

Two properties are pinned here:

- no stale verdicts: a parquet file rewritten at the same path and read
  again is judged on its new contents, by a requirement, by a lone
  ``constraint.test`` and by ``exact_percentile_df`` in a scope;
- no residue: the constraints that persist or checkpoint leave no
  persistent RDD behind, through ``Requirement.test``, a lone ``test``
  and ``collect_data_tests``, with no scope open around them.
"""

from __future__ import annotations

import datetime as dt
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datajudge_spark import (
    BetweenRequirement,
    WithinRequirement,
    collect_data_tests,
)
from datajudge_spark.pipeline import _util
from datajudge_spark.pipeline._util import cache_scope


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _write_values(path: str, scale: int) -> None:
    # median of scale * [0, 1000) is 499 * scale
    pq.write_table(
        pa.table({"v": pa.array([float(i * scale) for i in range(1000)])}),
        path,
    )


def _median_req(path: str, expected: float) -> WithinRequirement:
    req = WithinRequirement.from_parquet(path)
    req.add_numeric_percentile_constraint(
        "v", 50, expected, max_absolute_deviation=0.5
    )
    return req


class TestStaleSnapshot:
    def test_requirement_sees_rewritten_file(self, spark, tmp_path):
        path = str(tmp_path / "snap.parquet")
        _write_values(path, 1)
        assert [r.outcome for r in _median_req(path, 499.0).test(spark)] == [
            True
        ]
        _write_values(path, 10)
        results = _median_req(path, 4990.0).test(spark)
        assert [r.outcome for r in results] == [True], results[0].failure_message

    def test_lone_constraint_sees_rewritten_file(self, spark, tmp_path):
        path = str(tmp_path / "snap.parquet")
        _write_values(path, 1)
        (first,) = _median_req(path, 499.0)
        assert first.test(spark).outcome
        _write_values(path, 10)
        (second,) = _median_req(path, 4990.0)
        result = second.test(spark)
        assert result.outcome, result.failure_message

    def test_percentile_in_scope_sees_rewritten_file(self, spark, tmp_path):
        from datajudge_spark.operators.scalars import exact_percentile_df

        path = str(tmp_path / "snap.parquet")
        medians = []
        for scale in (1, 10):
            _write_values(path, scale)
            with cache_scope():
                df = spark.read.parquet(path)
                medians.append(exact_percentile_df(df, "v", 50).first()[0])
        assert medians == [499.0, 4990.0]


def _tagged(df, tag: str):
    # a column unique to the test case keeps its plans apart from every
    # other case's: a plan another case left cached would be reused and
    # hide a new leak
    return df.withColumn("case", F.lit(tag))


def test_scopes_do_not_cross_threads():
    # a block pinned on a thread with no scope open stays the session's,
    # even while another thread (a foreachBatch callback, say) has one
    released = []
    opened, registered = threading.Event(), threading.Event()

    def scoped():
        with cache_scope():
            _util._owned(None, lambda: released.append("scoped"))
            opened.set()
            registered.wait(10)

    def unscoped():
        opened.wait(10)
        _util._owned(None, lambda: released.append("unscoped"))
        registered.set()

    threads = [threading.Thread(target=f) for f in (scoped, unscoped)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(10)
        assert not t.is_alive()
    assert registered.is_set()
    assert released == ["scoped"]


def test_scope_keeps_blocks_cached_before_it(spark):
    # the caller's own cache of a plan the scope also pins stays cached:
    # a scope releases only what it pinned
    def frame():
        return _tagged(spark.range(100), "cached-before-scope")

    mine = frame().cache()
    try:
        mine.count()
        with cache_scope():
            _util.materialize_once(frame()).count()
        assert mine.storageLevel.useMemory
    finally:
        mine.unpersist()


def _percentile(spark, tag):
    req = WithinRequirement.from_dataframe(
        _tagged(spark.range(100).select(F.col("id").cast("double").alias("v")), tag),
        "pct",
    )
    req.add_numeric_percentile_constraint(
        "v", 50, 49.0, max_absolute_deviation=0
    )
    return req


def _ks_numeric(spark, tag):
    df = _tagged(spark.range(50).select(F.col("id").alias("x")), tag)
    req = BetweenRequirement.from_dataframes(df, df, "ks_a", "ks_b")
    req.add_ks_2sample_constraint("x", "x")
    return req


def _ks_dates(spark, tag):
    df = _tagged(spark.createDataFrame(
        [(dt.date(2024, 1, 1) + dt.timedelta(days=i),) for i in range(30)],
        "d date",
    ), tag)
    req = BetweenRequirement.from_dataframes(df, df, "ksd_a", "ksd_b")
    req.add_ks_2sample_constraint("d", "d")
    return req


def _uniques(spark, tag):
    req = WithinRequirement.from_dataframe(
        _tagged(spark.range(60).select((F.col("id") % 10).alias("k")), tag),
        "uq",
    )
    req.add_uniques_subset_constraint(
        ["k"], list(range(10)), filter_func=lambda xs: xs
    )
    return req


def _functional_dependency(spark, tag):
    req = WithinRequirement.from_dataframe(
        _tagged(spark.range(60).select(
            (F.col("id") % 6).alias("k"), (F.col("id") % 3).alias("v")
        ), tag),
        "fd",
    )
    req.add_functional_dependency_constraint(["k"], ["v"])
    return req


def _cusum(spark, tag):
    rows = [(dt.date(2024, 1, 1) + dt.timedelta(days=i), 100.0) for i in range(40)]
    req = WithinRequirement.from_dataframe(
        _tagged(spark.createDataFrame(rows, "d date, v double"), tag), "cusum"
    )
    req.add_cusum_stability_constraint("d", "v", max_relative=1.0)
    return req


def _decontamination(spark, tag):
    passage = "the quick brown fox jumps over the lazy dog"
    train = _tagged(spark.createDataFrame(
        [(1, "alpha beta gamma " + passage), (2, "one two three four five six")],
        "doc_id long, text string",
    ), tag)
    evals = _tagged(spark.createDataFrame(
        [(10, "prefix " + passage), (11, "zymurgy quixotic jackdaw vexing")],
        "doc_id long, text string",
    ), tag)
    req = BetweenRequirement.from_dataframes(train, evals, "dc_t", "dc_e")
    req.add_winnowing_contamination_constraint(
        "doc_id", "text", "doc_id", "text", max_fraction=0.5
    )
    return req


# name -> (spec factory, whether its constraint pins blocks itself);
# the percentile, uniques and functional-dependency checks pin none
# today, and any they start to pin must be released too
CHECKS = {
    "percentile": (_percentile, False),
    "ks_numeric": (_ks_numeric, True),
    "ks_dates": (_ks_dates, True),
    "uniques": (_uniques, False),
    "functional_dependency": (_functional_dependency, False),
    "cusum": (_cusum, True),
    "decontamination": (_decontamination, True),
}


def _run_requirement(req, spark, pytestconfig):
    return [r.outcome for r in req.test(spark)]


def _run_lone(req, spark, pytestconfig):
    return [constraint.test(spark).outcome for constraint in req]


def _run_collected(req, spark, pytestconfig):
    test_constraint = collect_data_tests([req])
    for constraint in req:
        test_constraint(constraint, spark, pytestconfig)
    return [True] * len(req)


@pytest.mark.parametrize(
    "run", [_run_requirement, _run_lone, _run_collected],
    ids=["requirement", "lone", "collected"],
)
@pytest.mark.parametrize("check", CHECKS.values(), ids=CHECKS.keys())
def test_no_persistent_rdd_survives(
    spark, pytestconfig, monkeypatch, request, check, run
):
    make, pins = check
    assert _util._OPEN_SCOPE.get() is None
    owned = []
    real_owned = _util._owned
    monkeypatch.setattr(
        _util, "_owned", lambda df, release: owned.append(release)
        or real_owned(df, release)
    )
    req = make(spark, request.node.callspec.id)
    resident = _persistent_rdds(spark)
    assert run(req, spark, pytestconfig) == [True]
    assert _persistent_rdds(spark) == resident
    # the check is not vacuous: the constraint did pin blocks of its own
    assert bool(owned) == pins
