"""Concurrent members in ``Requirement.test``.

Members that still run Spark jobs after the fused prefetch run at the
same time (``datajudge_spark._threads``).  These tests pin that this
changes nothing a user can see: results and their order, the error
raised, job attribution by tag and group, the blocks released, the
streaming monitor's verdicts, and the threads left running.
"""

from __future__ import annotations

import contextvars
import re
import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datajudge_spark import (
    BetweenRequirement,
    WithinRequirement,
    _threads,
    filternull_element,
    requirements,
    sources,
)
from datajudge_spark.constraints import base
from datajudge_spark.constraints.base import Constraint
from datajudge_spark.pipeline import _util
from datajudge_spark.pipeline._util import cache_scope, resolve_source
from datajudge_spark.reference import DataReference
from datajudge_spark.streaming import (
    StreamingConstraintMonitor,
    stream_parquet_like,
)

from conftest import count_jobs

_EXPR_ID = re.compile(r"#\d+L?")


@pytest.fixture
def sequential(monkeypatch):
    """Run members and slots one after another, as without pinned
    threads."""

    def apply():
        for module in (requirements, base):
            monkeypatch.setattr(module, "can_overlap", lambda: False)

    return apply


@pytest.fixture
def overlaps(monkeypatch):
    """The number of ``run_overlapped`` calls that started threads."""
    calls = []
    real = _threads.run_overlapped

    def spy(spark, fns):
        calls.append(len(fns))
        return real(spark, fns)

    for module in (requirements, base):
        monkeypatch.setattr(module, "run_overlapped", spy)
    return calls


def _view(result: base.TestResult) -> tuple:
    return (
        result.outcome,
        result.failure_message,
        result.constraint_description,
        _EXPR_ID.sub("", result.logging_message),
    )


def _frame(spark):
    # k determines v except for k = 3; s takes 4 values
    rows = [(k, k % 5 if k != 3 else i, f"s{k % 4}", float(k))
            for i in range(3) for k in range(40)]
    return spark.createDataFrame(rows, "k int, v int, s string, x double")


def _mixed(spark) -> WithinRequirement:
    # three members that run jobs after the prefetch, two fused ones
    req = WithinRequirement.from_dataframe(_frame(spark), "cm")
    req.add_functional_dependency_constraint(["k"], ["v"])
    req.add_n_rows_min_constraint(10)
    req.add_uniques_subset_constraint(
        ["s"], ["s0", "s1", "s2"], filter_func=filternull_element
    )
    req.add_numeric_max_constraint("x", 10.0)
    req.add_numeric_percentile_constraint(
        "x", 50, 19.5, max_absolute_deviation=1.0
    )
    return req


def test_results_keep_member_order(spark, sequential, overlaps):
    threads = threading.active_count()
    got, jobs = count_jobs(spark, "cm-overlap", lambda: _mixed(spark).test(spark))
    assert overlaps == [3]
    assert threading.active_count() == threads
    sequential()
    want, want_jobs = count_jobs(
        spark, "cm-sequential", lambda: _mixed(spark).test(spark)
    )
    assert [_view(r) for r in got] == [_view(r) for r in want]
    assert [r.outcome for r in got] == [False, True, False, False, True]
    # every worker job carries the caller's tag
    assert jobs == want_jobs > 0


def test_worker_jobs_carry_the_callers_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("cm-group", "concurrent members")
    try:
        _, jobs = count_jobs(spark, "cm-group-tag", lambda: _mixed(spark).test(spark))
    finally:
        sc._jsc.clearJobGroup()
    grouped = sc._jsc.sc().statusTracker().getJobIdsForGroup("cm-group")
    assert len(grouped) == jobs > 0


class _Probe(Constraint):
    """Sleeps, logs its start and end, then returns or raises."""

    def __init__(self, ref, log, label, delay=0.0, error=None):
        super().__init__(ref, ref_value=object(), name=label)
        self._log, self._label = log, label
        self._delay, self._error = delay, error

    def test(self, engine):
        self._log.append(("start", self._label))
        time.sleep(self._delay)
        self._log.append(("end", self._label))
        if self._error is not None:
            raise self._error
        return base.TestResult.success()


def test_lowest_index_error_raised_after_every_member(spark):
    req = WithinRequirement.from_dataframe(_frame(spark), "cm-errors")
    log: list = []
    ref = DataReference(req._data_source)
    req.append(_Probe(ref, log, "p0", 0.2, ValueError("first")))
    req.append(_Probe(ref, log, "p1", 0.4))
    req.append(_Probe(ref, log, "p2", 0.0, KeyError("second")))
    # two fused members, so the requirement prefetches
    req.add_n_rows_min_constraint(1)
    req.add_numeric_max_constraint("x", 100.0)
    threads = threading.active_count()
    with pytest.raises(ValueError, match="first"):
        req.test(spark)
    assert {label for what, label in log if what == "end"} == {"p0", "p1", "p2"}
    # the members overlapped: all three started before the slowest ended
    assert log.index(("end", "p1")) > max(
        log.index(("start", p)) for p in ("p0", "p1", "p2")
    )
    assert all(not c._prefetched for c in req)
    assert threading.active_count() == threads


def test_constraint_listed_twice_never_overlaps_itself(spark):
    req = WithinRequirement.from_dataframe(_frame(spark), "cm-twice")
    log: list = []
    ref = DataReference(req._data_source)
    twice = _Probe(ref, log, "twice", 0.2)
    req.append(twice)
    req.append(_Probe(ref, log, "other", 0.2))
    req.append(twice)
    assert [r.outcome for r in req.test(spark)] == [True] * 3
    mine = [what for what, label in log if label == "twice"]
    assert mine == ["start", "end", "start", "end"]


def test_missing_source_raises_from_its_member(spark, sequential):
    def make():
        req = WithinRequirement.from_table("cm_no_such_table")
        req.add_functional_dependency_constraint(["k"], ["v"])
        req.add_uniques_subset_constraint(["s"], ["a"], filter_func=filternull_element)
        return req

    with pytest.raises(Exception) as concurrent:
        make().test(spark)
    sequential()
    with pytest.raises(Exception) as alone:
        make().test(spark)
    assert type(concurrent.value) is type(alone.value)
    assert str(concurrent.value) == str(alone.value)


def test_between_slots_read_at_once(spark, sequential, overlaps):
    left = spark.range(200).select((F.col("id") % 50).alias("a"))
    right = spark.range(200).select((F.col("id") % 45).alias("b"))

    def make():
        req = BetweenRequirement.from_dataframes(left, right, "cm_l", "cm_r")
        req.add_uniques_subset_constraint(
            ["a"], ["b"], filter_func=filternull_element
        )
        return req

    got = make().test(spark)
    assert overlaps == [2]
    sequential()
    assert [_view(r) for r in got] == [_view(r) for r in make().test(spark)]
    assert got[0].outcome is False


def test_no_persistent_rdd_survives_concurrent_members(spark, monkeypatch):
    owned = []
    real_owned = _util._owned
    monkeypatch.setattr(
        _util, "_owned",
        lambda df, release: owned.append(release) or real_owned(df, release),
    )
    df = spark.range(300).select((F.col("id") % 17).cast("double").alias("x"))
    req = BetweenRequirement.from_dataframes(df, df, "cm_ks_a", "cm_ks_b")
    # KS checks persist their per-side digests
    req.add_ks_2sample_constraint("x", "x")
    req.add_ks_2sample_constraint("x", "x", significance_level=0.01)
    jsc = spark.sparkContext._jsc
    resident = jsc.getPersistentRDDs().size()
    assert [r.outcome for r in req.test(spark)] == [True, True]
    assert owned
    assert jsc.getPersistentRDDs().size() == resident


def test_fused_members_start_no_thread(spark, monkeypatch, overlaps):
    started = []
    real_start = threading.Thread.start
    monkeypatch.setattr(
        threading.Thread, "start",
        lambda self: started.append(self.name) or real_start(self),
    )
    req = WithinRequirement.from_dataframe(_frame(spark), "cm-fused")
    req.add_n_rows_min_constraint(10)
    req.add_max_null_fraction_constraint("x", 0.1)
    req.add_numeric_min_constraint("x", 0.0)
    req.add_numeric_max_constraint("x", 100.0)
    req.add_numeric_mean_constraint("x", 19.5, 0.1)
    req.add_numeric_between_constraint("x", 0.0, 50.0, 1.0)
    assert all(r.outcome for r in req.test(spark))
    assert overlaps == []
    assert not any(name.startswith("datajudge-spark") for name in started)


def test_stream_monitor_gives_the_sequential_verdicts(
    spark, tmp_path, sequential, overlaps
):
    events = "/root/testdata/sf0.001/events.parquet"
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    (stream_dir / "part-0.parquet").symlink_to(events)
    like = spark.read.parquet(events)

    def factory(batch_df):
        req = WithinRequirement.from_dataframe(batch_df, "cm_events")
        req.add_functional_dependency_constraint(["user_id"], ["event_type"])
        req.add_uniques_subset_constraint(
            ["event_type"], ["click", "view"], filter_func=filternull_element
        )
        return req

    def verdicts():
        monitor = StreamingConstraintMonitor(factory)
        monitor.run_available(stream_parquet_like(spark, str(stream_dir), like))
        return [
            (batch, [(r.outcome, r.failure_message) for r in results])
            for batch, results in monitor.results
        ]

    got = verdicts()
    assert overlaps and all(n == 2 for n in overlaps)
    sequential()
    assert got == verdicts()


def test_schema_memo_entries_stay_whole_under_threads(spark, tmp_path):
    path = str(tmp_path / "memo.parquet")
    pq.write_table(pa.table({"v": pa.array(range(10))}), path)
    frames = _threads.run_overlapped(
        spark, [lambda: sources.read_parquet(spark, path)] * 8
    )
    assert {tuple(df.columns) for df in frames} == {("v",)}
    key, schema, _ = sources._SCHEMAS[path]
    assert key == sources._schema_key(spark, path)
    assert schema.simpleString() == "struct<v:bigint>"


def test_source_memo_hands_every_thread_one_frame(spark, tmp_path):
    # more threads than cores, switching often: threads that all miss
    # the memo must still read one frame, the one stored first
    path = str(tmp_path / "memo_race.parquet")
    pq.write_table(pa.table({"v": pa.array(range(10))}), path)
    source = sources.ParquetDataSource(path)
    frames = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with cache_scope():
            threads = [
                threading.Thread(
                    target=contextvars.copy_context().run,
                    args=(lambda: frames.append(resolve_source(spark, source)),),
                )
                for _ in range(12)
            ]
            for thread in threads:
                thread.start()
            for thread in threads:
                thread.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(thread.is_alive() for thread in threads)
    assert len(frames) == 12
    assert all(df is frames[0] for df in frames)
