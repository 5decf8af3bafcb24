"""StreamScope: the one availableNow drain.  Every streaming contract
query leaves its caller's session, the cache and the scratch dirs as it
found them; a scope's child session carries the caller's confs plus the
drain's own settings, which never reach the caller."""

from __future__ import annotations

import glob
import os
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from datajudge_spark import WithinRequirement
from datajudge_spark.sources import normalize_event_time
from datajudge_spark.streaming import (
    StreamingConstraintMonitor,
    StreamScope,
    _scratch_base,
    windowed_counts,
)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = entrymod.SF_DEFAULT
EVENTS = f"{SF_DIR}/events.parquet"
STREAMING = sorted(n for n in entrymod.queries() if n.startswith("streaming_"))


def _residue(session):
    """Everything a drain could leave behind for ``session``."""
    return {
        "confs": session.conf.getAll,
        "tables": sorted(t.name for t in session.catalog.listTables()),
        "persisted": session.sparkContext._jsc.getPersistentRDDs().size(),
        "scratch": sorted(os.listdir(_scratch_base())),
        "tmp": sorted(glob.glob(os.path.join(tempfile.gettempdir(), "djs_*"))),
    }


def test_all_streaming_entries_covered():
    assert len(STREAMING) == 17


@pytest.mark.parametrize("name", STREAMING)
def test_streaming_query_leaves_no_residue(spark, name):
    # a fresh session as the caller: no conf set by an earlier test can
    # hide a write (e.g. nanosAsLong)
    caller = spark.newSession()
    before = _residue(caller)
    entrymod.queries()[name](caller, SF_DIR).collect()
    assert _residue(caller) == before


@pytest.mark.parametrize("watermark_flush, n_batches", [(False, 1), (True, 2)])
def test_child_session_owns_the_drain_confs(spark, watermark_flush, n_batches):
    caller = spark.newSession()
    caller.conf.set("spark.sql.session.timeZone", "America/New_York")
    before = caller.conf.getAll
    with StreamScope(
        caller, state_stores=3, watermark_flush=watermark_flush
    ) as scope:
        child = scope.session
        assert child.conf.get("spark.sql.session.timeZone") == "America/New_York"
        ev = normalize_event_time(scope.stream(EVENTS)).withColumn(
            "event_ts", F.col("ts").cast("timestamp")
        )
        out = windowed_counts(
            ev, "event_ts", window_duration="1 day", watermark_delay="1 hour"
        )
        query = scope.drain(out, "update")
        stores = os.listdir(os.path.join(scope.dir, "checkpoint", "state", "0"))
        assert sorted(s for s in stores if s.isdigit()) == ["0", "1", "2"]
        assert len(query.recentProgress) == n_batches
        n_windows = child.table(query.name).count()
        assert [t.name for t in child.catalog.listTables()] == [query.name]
    assert n_windows > 0
    assert child.catalog.listTables() == []
    assert not os.path.exists(scope.dir)
    assert caller.conf.getAll == before


def test_collect_returns_caller_frame_of_the_digest(spark):
    caller = spark.newSession()
    with StreamScope(caller, watermark_flush=False) as scope:
        counts = scope.stream(EVENTS).groupBy("event_type").count()
        got = scope.collect(
            counts, "complete", lambda sink: sink.orderBy("event_type")
        )
        want = (
            scope.session.read.parquet(EVENTS)
            .groupBy("event_type")
            .count()
            .orderBy("event_type")
            .collect()
        )
    # the sink and the child are gone; the rows live in the caller
    assert got.collect() == want
    assert got.sparkSession._jsparkSession.equals(caller._jsparkSession)


def test_monitor_drains_in_a_scope(spark, tmp_path):
    spark.range(10).write.parquet(str(tmp_path / "in"))
    stream = spark.readStream.schema("id long").parquet(str(tmp_path / "in"))

    def factory(batch_df):
        req = WithinRequirement.from_dataframe(batch_df, "ids")
        req.add_n_rows_min_constraint(10)
        return req

    monitor = StreamingConstraintMonitor(factory)
    before = sorted(os.listdir(_scratch_base()))
    query = monitor.run_available(stream)
    assert monitor.all_passed
    assert len(query.recentProgress) == 1
    assert sorted(os.listdir(_scratch_base())) == before
