"""Source resolution and per-check work of the non-scalar constraints.

``Requirement.test`` and a lone ``Constraint.test`` resolve each data
source once (``pipeline._util.resolve_source`` inside their
``cache_scope``), and a parquet read declares the schema memoized by
``sources.read_parquet`` when the files and inference confs are those of
an earlier read: a parquet path pays its footer job once, not once per
``get_selection`` or per test.  The KS check takes its sample sizes from
its own statistic and the uniqueness check counts tuples and rows in one
aggregate.  These tests pin the resolution counts and the Spark jobs per
check, that the schema memo never outlives a rewrite or a conf change,
and that the source memo never serves a frame across tests or mixes the
two sides of a self-comparison.  Plain parquet sources over one path
share one resolution; the percentile's range probe joins the
requirement's shared aggregate, and percentile bands and the weighted
percentile run the same bucketed plan.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datajudge_spark import (
    BetweenRequirement,
    Condition,
    WithinRequirement,
    sources,
)
from datajudge_spark.constraints.stats import KolmogorovSmirnov2Sample
from datajudge_spark.operators.scalars import (
    exact_percentile_df,
    exact_percentiles_df,
    exact_weighted_percentile_df,
)
from datajudge_spark.pipeline._util import cache_scope, resolve_source
from datajudge_spark.reference import DataReference
from datajudge_spark.sources import ParquetDataSource, read_parquet

from conftest import count_jobs


class CountingSource(ParquetDataSource):
    def __init__(self, path: str, name: str | None = None):
        super().__init__(path, name=name)
        self.calls = 0

    def get_df(self, spark):
        self.calls += 1
        return super().get_df(spark)


def _write(path: str, n: int, extra: bool = False) -> None:
    cols = {
        "k": pa.array([i // 2 for i in range(n)], pa.int64()),
        "g": pa.array([i % 3 for i in range(n)], pa.int64()),
        "v": pa.array(
            [None if i % 7 == 0 else float((i * 37) % 101) for i in range(n)],
            pa.float64(),
        ),
    }
    if extra:
        cols["w"] = pa.array([float(i) for i in range(n)], pa.float64())
    pq.write_table(pa.table(cols), path)


@pytest.fixture(scope="module")
def table(tmp_path_factory) -> str:
    path = str(tmp_path_factory.mktemp("memo") / "t.parquet")
    _write(path, 400)
    return path


def _heavy(src) -> WithinRequirement:
    req = WithinRequirement(src)
    req.add_uniqueness_constraint(["k", "g"], max_duplicate_fraction=0.6)
    req.add_functional_dependency_constraint(["k"], ["g"])
    req.add_numeric_percentile_constraint(
        "v", 50, 50.0, max_absolute_deviation=5.0
    )
    return req


def _ks(src1, src2, cond1="g = 0", cond2="g = 1") -> BetweenRequirement:
    req = BetweenRequirement(src1, src2)
    req.add_ks_2sample_constraint(
        "v",
        "v",
        condition1=Condition(raw_string=cond1),
        condition2=Condition(raw_string=cond2),
    )
    return req


def test_requirement_resolves_its_source_once(spark, table):
    src = CountingSource(table)
    results = _heavy(src).test(spark)
    assert len(results) == 3
    assert src.calls == 1


def test_ks_resolves_each_source_once(spark, table):
    src1, src2 = CountingSource(table), CountingSource(table)
    _ks(src1, src2).test(spark)
    assert (src1.calls, src2.calls) == (1, 1)
    alone1, alone2 = CountingSource(table), CountingSource(table)
    (constraint,) = _ks(alone1, alone2)
    constraint.test(spark)
    assert (alone1.calls, alone2.calls) == (1, 1)


def test_ks_check_jobs(spark, table):
    (constraint,) = _ks(ParquetDataSource(table), ParquetDataSource(table))
    _, jobs = count_jobs(spark, "memo-ks", lambda: constraint.test(spark))
    # at most one footer job (both sides read one path), the histogram
    # and its totals probe, the bucket pass; no cross-CDF probes and no
    # separate row-count scans
    assert jobs <= 8, jobs


def test_uniqueness_check_jobs(spark, table):
    req = WithinRequirement(ParquetDataSource(table))
    req.add_uniqueness_constraint(["k", "g"], max_duplicate_fraction=0.6)
    (constraint,) = req
    result, jobs = count_jobs(
        spark, "memo-uniqueness", lambda: constraint.test(spark)
    )
    assert result.outcome
    # at most one footer job and one aggregate: its two shuffles and the
    # result
    assert jobs <= 4, jobs


def test_parquet_sources_over_one_path_resolve_once(spark, table, monkeypatch):
    paths = []
    read = ParquetDataSource.get_df

    def counted(self, engine):
        paths.append(self._path)
        return read(self, engine)

    monkeypatch.setattr(ParquetDataSource, "get_df", counted)
    _ks(ParquetDataSource(table), ParquetDataSource(table)).test(spark)
    assert paths == [table]
    (constraint,) = _ks(ParquetDataSource(table), ParquetDataSource(table))
    constraint.test(spark)
    assert paths == [table, table]


def test_rewritten_path_is_read_fresh_in_the_next_scope(spark, tmp_path):
    path = str(tmp_path / "snap.parquet")
    _write(path, 50)
    with cache_scope():
        first = resolve_source(spark, ParquetDataSource(path))
        assert resolve_source(spark, ParquetDataSource(path)) is first
        assert first.count() == 50
    _write(path, 80, extra=True)
    with cache_scope():
        second = resolve_source(spark, ParquetDataSource(path))
        assert "w" in second.columns and second.count() == 80


def _footer_jobs(spark, path: str, tag: str) -> tuple:
    """``(frame, jobs)`` of resolving a parquet source over ``path`` in a
    fresh ``cache_scope``, as the first check of a test does."""
    with cache_scope():
        return count_jobs(
            spark, tag, lambda: resolve_source(spark, ParquetDataSource(path))
        )


def test_unchanged_path_runs_no_footer_job_in_a_later_scope(spark, tmp_path):
    path = str(tmp_path / "same.parquet")
    _write(path, 50)
    assert _footer_jobs(spark, path, "memo-first")[1] == 1
    df, jobs = _footer_jobs(spark, path, "memo-second")
    assert jobs == 0
    assert df.count() == 50

    def presence():
        req = WithinRequirement.from_parquet(path)
        req.add_column_existence_constraint(["k", "v"])
        return req.test(spark)

    results, jobs = count_jobs(spark, "memo-requirement", presence)
    assert [r.outcome for r in results] == [True] and jobs == 0


def test_rewrite_with_the_same_schema_is_read_fresh(spark, tmp_path):
    path = str(tmp_path / "values.parquet")
    pq.write_table(pa.table({"v": pa.array([1, 2, 3], pa.int64())}), path)
    assert _footer_jobs(spark, path, "memo-values-1")[0].collect()[0][0] == 1
    pq.write_table(pa.table({"v": pa.array([7, 8, 9], pa.int64())}), path)
    df, jobs = _footer_jobs(spark, path, "memo-values-2")
    assert jobs == 1
    assert sorted(r.v for r in df.collect()) == [7, 8, 9]


def test_same_size_rewrite_with_the_old_mtime_is_read_fresh(spark, tmp_path):
    # two files alike in size, one column named "a" and one named "b"
    path, other = str(tmp_path / "inplace.parquet"), str(tmp_path / "b.parquet")
    values = pa.array(range(20), pa.int64())
    pq.write_table(pa.table({"a": values}), path)
    pq.write_table(pa.table({"b": values}), other)
    with open(other, "rb") as fh:
        rewrite = fh.read()
    before = os.stat(path)
    assert before.st_size == len(rewrite)
    assert _footer_jobs(spark, path, "memo-inplace-1")[0].columns == ["a"]
    with open(path, "r+b") as fh:
        fh.write(rewrite)
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = os.stat(path)
    assert (after.st_ino, after.st_size, after.st_mtime_ns) == (
        before.st_ino, before.st_size, before.st_mtime_ns
    )
    df, jobs = _footer_jobs(spark, path, "memo-inplace-2")
    assert jobs == 1 and df.columns == ["b"]


def test_nanos_as_long_toggle_reads_each_settings_schema(spark, tmp_path):
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    path = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path, version="2.6")
    previous = spark.conf.get(conf, None)

    def read(value):
        spark.conf.set(conf, value)
        try:
            return read_parquet(spark, path).schema
        except Exception as exc:  # the setting's own answer may be an error
            return type(exc)

    try:
        seen = [read(v) for v in ("true", "false", "true", "false")]
        spark.conf.set(conf, "false")
        try:
            plain_false = spark.read.parquet(path).schema
        except Exception as exc:
            plain_false = type(exc)
        spark.conf.set(conf, "true")
        plain_true = spark.read.parquet(path).schema
    finally:
        if previous is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, previous)
    assert seen == [plain_true, plain_false, plain_true, plain_false]
    assert seen[0] != seen[1]


def test_partitioned_directory_from_the_memo_matches_a_plain_read(
    spark, tmp_path
):
    root = str(tmp_path / "parts")
    table = pa.table({
        "p": pa.array([i % 3 for i in range(30)], pa.int64()),
        "d": pa.array(["x", "y"] * 15),
        "v": pa.array([float(i) for i in range(30)]),
    })
    pq.write_to_dataset(table, root, partition_cols=["p", "d"])
    assert _footer_jobs(spark, root, "memo-parts-1")[1] >= 1
    memo, jobs = _footer_jobs(spark, root, "memo-parts-2")
    plain = spark.read.parquet(root)
    assert jobs == 0
    assert memo.schema == plain.schema
    assert sorted(memo.collect()) == sorted(plain.collect())


def test_missing_path_raises_as_a_plain_read(spark, tmp_path):
    path = str(tmp_path / "missing.parquet")
    with pytest.raises(Exception) as plain:
        spark.read.parquet(path)
    with pytest.raises(type(plain.value)):
        read_parquet(spark, path)


def test_glob_path_is_read_the_plain_way(spark, tmp_path):
    # Spark expands the pattern to "ta.parquet"; a file named like the
    # pattern itself must not stand in for what it matches
    glob = str(tmp_path / "t[ab].parquet")
    pq.write_table(pa.table({"x": pa.array([1], pa.int64())}), glob)
    matched = str(tmp_path / "ta.parquet")
    for column in ("a", "b"):
        pq.write_table(pa.table({column: pa.array([1], pa.int64())}), matched)
        df, jobs = count_jobs(
            spark, f"memo-glob-{column}", lambda: read_parquet(spark, glob)
        )
        assert jobs == 1 and df.columns == [column]
    assert glob not in sources._SCHEMAS


def test_rewrites_keep_one_entry_per_path(spark, tmp_path):
    path = str(tmp_path / "rewritten.parquet")
    _write(path, 10)
    read_parquet(spark, path)
    entries = len(sources._SCHEMAS)
    for n in range(11, 16):
        _write(path, n, extra=n % 2 == 0)
        assert read_parquet(spark, path).count() == n
    assert len(sources._SCHEMAS) == entries
    assert sum(key == path for key in sources._SCHEMAS) == 1


def _percentile_req(src, with_mean: bool = False) -> WithinRequirement:
    req = WithinRequirement(src)
    if with_mean:
        req.add_numeric_mean_constraint("v", 50.0, 10.0)
    req.add_numeric_percentile_constraint(
        "v", 50, 50.0, max_absolute_deviation=5.0
    )
    return req


def test_lone_percentile_jobs(spark, table):
    (constraint,) = _percentile_req(ParquetDataSource(table))
    result, jobs = count_jobs(
        spark, "memo-percentile", lambda: constraint.test(spark)
    )
    assert result.outcome
    # at most the footer job, then the range probe, the bucket histogram
    # and the target bucket's aggregate: a shuffle map stage and a result
    # each
    assert jobs <= 7, jobs


def test_percentile_probe_joins_the_requirement_aggregate(spark, table):
    req = _percentile_req(ParquetDataSource(table), with_mean=True)
    percentile = req[1]
    own_test, jobs = percentile.test, []

    def counted(engine):
        result, n = count_jobs(
            spark, "memo-percentile-fused", lambda: own_test(engine)
        )
        jobs.append(n)
        return result

    percentile.test = counted
    assert [r.outcome for r in req.test(spark)] == [True, True]
    # the range probe ran in the mean's aggregate: the bucket histogram
    # and the target bucket's aggregate are left
    assert len(jobs) == 1 and jobs[0] <= 4, jobs


def _operator_jobs(spark, table, tag, percentile) -> int:
    with cache_scope():
        df = spark.read.parquet(table)
        return count_jobs(spark, tag, lambda: percentile(df).first())[1]


def test_percentile_bands_jobs(spark, table):
    single = _operator_jobs(
        spark, table, "jobs-single",
        lambda df: exact_percentile_df(df, "v", 50.0),
    )
    bands = _operator_jobs(
        spark, table, "jobs-bands",
        lambda df: exact_percentiles_df(df, "v", [50.0, 90.0, 99.0]),
    )
    # any number of targets shares the probe, the bucket histogram and
    # the final aggregate: no private spread or persist
    assert bands <= single + 1, (bands, single)


def test_weighted_percentile_jobs(spark, table):
    jobs = _operator_jobs(
        spark, table, "jobs-weighted",
        lambda df: exact_weighted_percentile_df(df, "v", "g", 50.0),
    )
    # the range probe and the bucket histogram (a shuffle map stage and
    # a result each), then the target bucket's cumulative window
    assert jobs <= 7, jobs


def test_rewritten_table_is_read_fresh(spark, tmp_path):
    path = str(tmp_path / "snap.parquet")
    _write(path, 50)
    first = WithinRequirement.from_parquet(path)
    first.add_n_rows_equality_constraint(50)
    assert [r.outcome for r in first.test(spark)] == [True]
    _write(path, 80, extra=True)
    second = WithinRequirement.from_parquet(path)
    second.add_column_existence_constraint(["w"])
    second.add_n_rows_equality_constraint(80)
    results = second.test(spark)
    assert [r.outcome for r in results] == [True, True], [
        r.failure_message for r in results
    ]


def test_one_source_on_both_sides(spark, table):
    def build(src1, src2):
        req = BetweenRequirement(src1, src2)
        req.add_row_matching_equality_constraint(
            ["k", "g"], ["k", "g"], ["v"], ["v"], 0.0,
            condition1=Condition(raw_string="g = 0"),
        )
        req.add_row_matching_equality_constraint(
            ["k"], ["k"], ["g"], ["g"], 0.0,
        )
        req.add_ks_2sample_constraint(
            "v", "v",
            condition1=Condition(raw_string="g = 0"),
            condition2=Condition(raw_string="g = 2"),
        )
        return req

    same = ParquetDataSource(table)
    shared = build(same, same).test(spark)
    apart = build(ParquetDataSource(table), ParquetDataSource(table)).test(spark)

    def seen(results):
        return [
            (r.outcome, r.failure_message, r.constraint_description)
            for r in results
        ]

    assert [r.outcome for r in shared][:2] == [True, False]
    assert seen(shared) == seen(apart)


def test_ks_with_nulls(spark, tmp_path):
    # sample 1: 30 rows, 10 NULL; sample 2: 25 rows, 5 NULL
    path = str(tmp_path / "nulls.parquet")
    side = [0] * 30 + [1] * 25
    vals = [None if i % 3 == 0 else float(i % 11) for i in range(30)] + [
        None if i % 5 == 0 else float(i % 7) + 0.5 for i in range(25)
    ]
    pq.write_table(
        pa.table({"side": pa.array(side, pa.int64()),
                  "v": pa.array(vals, pa.float64())}),
        path,
    )
    src = ParquetDataSource(path)
    ref1 = DataReference(src, ["v"], Condition(raw_string="side = 0"))
    ref2 = DataReference(src, ["v"], Condition(raw_string="side = 1"))
    d, _, n, m = KolmogorovSmirnov2Sample._calculate_statistic(
        spark, ref1, ref2
    )
    assert (n, m) == (30, 25)

    x = sorted(v for v in vals[:30] if v is not None)
    y = sorted(v for v in vals[30:] if v is not None)
    expected = max(
        abs(sum(a <= t for a in x) / len(x) - sum(b <= t for b in y) / len(y))
        for t in x + y
    )
    assert d == pytest.approx(expected, abs=1e-12)
    (result,) = _ks(src, src, "side = 0", "side = 1").test(spark)
    assert result.outcome is KolmogorovSmirnov2Sample.check_acceptance(
        d, n, m, 0.05
    )
