"""Shared Spark session + fixture tables.

Fixture data mirrors the reference's handcrafted integration corpus
(FIXTURES.md / reference tests/integration/conftest.py:114-1190) built with
``spark.createDataFrame`` instead of live DB tables.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from datajudge_spark import ExpressionDataSource, WithinRequirement
from datajudge_spark._py4j_cache import install_py4j_name_cache
from datajudge_spark.reference import DataReference
from datajudge_spark.session import WORKER_DAEMON_DIR
from datajudge_spark.sources import DataSource


@pytest.fixture(scope="session")
def spark():
    # the driver-overhead settings of ``get_spark``, which change no
    # result: py4j name resolution once per gateway, no Python call-site
    # capture on every DataFrame/Column call, and a codegen cache that
    # holds the suite's query shapes instead of recompiling them
    install_py4j_name_cache()
    session = (
        SparkSession.builder.appName("datajudge-spark-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        # the Python worker daemon of ``get_spark`` (see its module)
        .config("spark.python.daemon.module", "djs_worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", WORKER_DAEMON_DIR)
        .getOrCreate()
    )
    yield session


@pytest.fixture(scope="session", autouse=True)
def stream_scratch(tmp_path_factory):
    """Streaming scratch of the whole run goes to one pytest tmp dir
    (never ``/dev/shm``); anything left in it at the end fails the run."""
    base = tmp_path_factory.mktemp("stream_scratch")
    patch = pytest.MonkeyPatch()
    patch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(base))
    yield base
    patch.undo()
    left = sorted(os.listdir(base))
    if left:
        pytest.fail(f"streaming scratch left behind in {base}: {left}")


def count_jobs(spark, tag: str, fn):
    """``(fn(), number of Spark jobs fn ran)``.  Jobs are attributed by
    job tag, which adds to whatever job group or description the code
    under test sets instead of replacing it."""
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    # job events reach the status store through the async listener bus
    jsc.listenerBus().waitUntilEmpty(10_000)
    return out, len(jsc.statusTracker().getJobIdsForTag(tag))


# reference conftest fixture names kept; helper builders below.

def make_source(df, name: str) -> DataSource:
    return ExpressionDataSource(df, name)


def make_ref(df, name: str, columns=None, condition=None) -> DataReference:
    return DataReference(make_source(df, name), columns, condition)


def date(day: int, month: int = 1, year: int = 2016) -> dt.datetime:
    return dt.datetime(year, month, day)


@pytest.fixture(scope="session")
def int_table1(spark):
    # col_int: 1..19 (reference conftest.py:114-120)
    return spark.createDataFrame(
        [(i,) for i in range(1, 20)],
        T.StructType([T.StructField("col_int", T.IntegerType())]),
    )


@pytest.fixture(scope="session")
def int_table2(spark):
    return spark.createDataFrame(
        [(i,) for i in range(2, 20)],
        T.StructType([T.StructField("col_int", T.IntegerType())]),
    )


@pytest.fixture(scope="session")
def int_square_table(spark):
    return spark.createDataFrame(
        [(i * i,) for i in range(1, 20)],
        T.StructType([T.StructField("col_int", T.IntegerType())]),
    )


_MIX_SCHEMA = T.StructType(
    [
        T.StructField("col_int", T.IntegerType()),
        T.StructField("col_varchar", T.StringType()),
        T.StructField("col_date", T.TimestampType()),
    ]
)


@pytest.fixture(scope="session")
def mix_table1(spark):
    # (i, "hi{i}", 2016-01-i), i in 1..19 (reference conftest.py:141-158)
    return spark.createDataFrame(
        [(i, f"hi{i}", date(i)) for i in range(1, 20)], _MIX_SCHEMA
    )


@pytest.fixture(scope="session")
def mix_table2(spark):
    # i in 2..19, date 2016-01-(i//2); row index 5 has varchar "ho"
    # (reference conftest.py:161-179)
    rows = []
    for idx, i in enumerate(range(2, 20)):
        varchar = "ho" if idx == 5 else f"hi{i}"
        rows.append((i, varchar, date(i // 2)))
    return spark.createDataFrame(rows, _MIX_SCHEMA)


@pytest.fixture(scope="session")
def date_table1(spark):
    return spark.createDataFrame(
        [(date(i),) for i in range(1, 20)],
        T.StructType([T.StructField("col_date", T.TimestampType())]),
    )


@pytest.fixture(scope="session")
def date_table2(spark):
    return spark.createDataFrame(
        [(date(i),) for i in range(2, 20)],
        T.StructType([T.StructField("col_date", T.TimestampType())]),
    )


_OVERLAP_SCHEMA = T.StructType(
    [
        T.StructField("id1", T.IntegerType()),
        T.StructField("date_start", T.TimestampType()),
        T.StructField("date_end", T.TimestampType()),
    ]
)


@pytest.fixture(scope="session")
def date_table_overlap(spark):
    # per key: 1 single entry / 2 disjoint / 3 overlap / 4 singleton overlap /
    # 5 subset / 6 exact duplicates (reference conftest.py:226-305)
    rows = [
        (1, date(1), date(5)),
        (2, date(1), date(5)), (2, date(10), date(15)),
        (3, date(1), date(10)), (3, date(5), date(15)),
        (4, date(1), date(5)), (4, date(5), date(10)),
        (5, date(1), date(15)), (5, date(5), date(10)),
        (6, date(1), date(5)), (6, date(1), date(5)),
    ]
    return spark.createDataFrame(rows, _OVERLAP_SCHEMA)


_OVERLAP_2D_SCHEMA = T.StructType(
    [
        T.StructField("id1", T.IntegerType()),
        T.StructField("date_start1", T.TimestampType()),
        T.StructField("date_end1", T.TimestampType()),
        T.StructField("date_start2", T.TimestampType()),
        T.StructField("date_end2", T.TimestampType()),
    ]
)


@pytest.fixture(scope="session")
def date_table_overlap_2d(spark):
    # reference conftest.py:309-438: keys 1-4 never violate (overlap must
    # hold in BOTH dimensions), keys 5-8 violate (real / singleton /
    # subset / duplicate rectangle overlap) -> 4 of 8 keys
    rows = [
        (1, date(1), date(10), date(1), date(10)),
    ]
    rows += [
        (2, date(i * 2), date(i * 2 + 1), date(i * 2), date(i * 2 + 1))
        for i in range(1, 5)
    ]
    rows += [
        (3, date(i * 2), date(i * 2 + 1), date(1), date(1))
        for i in range(1, 5)
    ]
    rows += [
        (4, date(i), date(i + 5), date(i * 2), date(i * 2 + 1))
        for i in range(1, 5)
    ]
    rows += [
        (5, date(31, 12, 2015), date(5), date(31, 12, 2016), date(5, 1, 2017)),
        (5, date(1), date(10), date(1, 1, 2017), date(10, 1, 2017)),
        (5, date(11), date(20), date(11, 1, 2017), date(20, 1, 2017)),
    ]
    rows += [
        (6, date(1), date(10), date(1, 1, 2017), date(10, 1, 2017)),
        (6, date(10), date(15), date(10, 1, 2017), date(15, 1, 2017)),
    ]
    rows += [
        (7, date(1), date(10), date(1, 1, 2017), date(10, 1, 2017)),
        (7, date(5), date(7), date(5, 1, 2017), date(7, 1, 2017)),
    ]
    rows += [
        (8, date(1), date(10), date(1, 1, 2017), date(10, 1, 2017)),
        (8, date(1), date(10), date(1, 1, 2017), date(10, 1, 2017)),
    ]
    return spark.createDataFrame(rows, _OVERLAP_2D_SCHEMA)


_INT_OVERLAP_SCHEMA = T.StructType(
    [
        T.StructField("id1", T.IntegerType()),
        T.StructField("range_start", T.IntegerType()),
        T.StructField("range_end", T.IntegerType()),
    ]
)


@pytest.fixture(scope="session")
def integer_table_overlap(spark):
    rows = [
        (1, 1, 5),
        (2, 1, 5), (2, 10, 15),
        (3, 1, 10), (3, 5, 15),
        (4, 1, 5), (4, 5, 10),
        (5, 1, 15), (5, 5, 10),
        (6, 1, 5), (6, 1, 5),
    ]
    return spark.createDataFrame(rows, _INT_OVERLAP_SCHEMA)


@pytest.fixture(scope="session")
def date_table_gap(spark):
    # keys: 1 single / 2 contiguous / 3 overlap / 4 gap / 5 threshold gap
    # (end+1day) (reference conftest.py:524-590)
    rows = [
        (1, date(1), date(5)),
        (2, date(1), date(5)), (2, date(5), date(10)),
        (3, date(1), date(8)), (3, date(5), date(10)),
        (4, date(1), date(5)), (4, date(10), date(15)),
        (5, date(1), date(5)), (5, date(6), date(10)),
    ]
    return spark.createDataFrame(rows, _OVERLAP_SCHEMA)


@pytest.fixture(scope="session")
def integer_table_gap(spark):
    # keys: 1 single / 2 contiguous / 3 overlap / 4 gap
    rows = [
        (1, 1, 5),
        (2, 1, 5), (2, 5, 10),
        (3, 1, 8), (3, 5, 10),
        (4, 1, 5), (4, 10, 15),
    ]
    return spark.createDataFrame(rows, _INT_OVERLAP_SCHEMA)


_UNIQUE_SCHEMA = T.StructType(
    [
        T.StructField("col_int", T.IntegerType()),
        T.StructField("col_varchar", T.StringType()),
    ]
)


@pytest.fixture(scope="session")
def unique_table1(spark):
    # (i//2, "hi{i//3}") for i in 0..59 plus (NULL, NULL) and (NULL, 'hi')
    # (reference conftest.py:758-771)
    rows = [(i // 2, f"hi{i // 3}") for i in range(60)]
    rows.append((None, None))
    rows.append((None, "hi"))
    return spark.createDataFrame(rows, _UNIQUE_SCHEMA)


@pytest.fixture(scope="session")
def unique_table2(spark):
    return spark.createDataFrame(
        [(i // 2, f"hi{i // 3}") for i in range(40)], _UNIQUE_SCHEMA
    )


@pytest.fixture(scope="session")
def distribution_table(spark):
    # (i//10, "hi{i//15}"), i in 0..19 (reference conftest.py:746-755)
    return spark.createDataFrame(
        [(i // 10, f"hi{i // 15}") for i in range(20)], _UNIQUE_SCHEMA
    )


@pytest.fixture(scope="session")
def functional_dependency_table(spark):
    # a -> b holds, a -/-> c (reference conftest.py:835-857)
    rows = [
        (1, 10, 100),
        (1, 10, 101),
        (2, 20, 200),
        (2, 20, 200),
        (3, 30, 300),
        (3, 30, 300),
    ]
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("a", T.IntegerType()),
                T.StructField("b", T.IntegerType()),
                T.StructField("c", T.IntegerType()),
            ]
        ),
    )


@pytest.fixture(scope="session")
def varchar_table1(spark):
    # "qq"*i for i in 1..9 plus one NULL (reference conftest.py:905-916)
    rows = [("qq" * i,) for i in range(1, 10)]
    rows.append((None,))
    return spark.createDataFrame(
        rows, T.StructType([T.StructField("col_varchar", T.StringType())])
    )


@pytest.fixture(scope="session")
def varchar_table_real(spark):
    # 20 ICD-ish codes with known violation structure
    # (reference conftest.py:930-963)
    codes = (
        ["C72.80", "C72.81", "C72.82", "C72.83", "C72.84"]
        + ["R34.45"] * 3
        + ["V73.7Y"] * 3
        + ["A12.34", "B56.78", "D90.12", "E34.56", "F78.90"]
        + ["G11.22", "H33.44", "J55.66", "K77.88"]
    )
    return spark.createDataFrame(
        [(c,) for c in codes],
        T.StructType([T.StructField("col_varchar", T.StringType())]),
    )


_ROW_MATCH_SCHEMA = T.StructType(
    [
        T.StructField("col_match1", T.IntegerType()),
        T.StructField("col_match2", T.IntegerType()),
        T.StructField("col_compare1", T.IntegerType()),
        T.StructField("col_compare2", T.IntegerType()),
    ]
)


@pytest.fixture(scope="session")
def row_match_table1(spark):
    rows = [
        (1, 1, 10, 20),
        (1, 2, 10, 20),
        (1, 3, 10, None),
        (2, 1, 11, 21),
        (2, 2, 11, 21),
        (2, 3, None, None),
        (3, 1, 12, 22),
        (3, 2, 12, 22),
        (3, 3, 12, 22),
    ]
    return spark.createDataFrame(rows, _ROW_MATCH_SCHEMA)


@pytest.fixture(scope="session")
def row_match_table2(spark):
    rows = [
        (1, 1, 10, 20),
        (1, 2, 99, 20),
        (1, 3, 10, None),
        (2, 1, 11, 21),
        (2, 2, 11, 21),
        (2, 3, None, None),
        (3, 1, 12, 22),
        (3, 2, 12, 22),
        (None, 3, 12, 22),
    ]
    return spark.createDataFrame(rows, _ROW_MATCH_SCHEMA)


@pytest.fixture(scope="session")
def groupby_aggregation_table(spark):
    # keyed complete ranges starting at 1 (reference conftest.py:1048-1068)
    rows = []
    for some_id, values in [(1, [1]), (2, list(range(1, 8))), (3, [1]),
                            (4, list(range(1, 9)))]:
        for v in values:
            rows.append((some_id, 0, v))
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("some_id", T.IntegerType()),
                T.StructField("extra_id", T.IntegerType()),
                T.StructField("value", T.IntegerType()),
            ]
        ),
    )


@pytest.fixture(scope="session")
def groupby_aggregation_table_incorrect(spark):
    rows = []
    for some_id, values in [(1, [1]), (2, list(range(1, 8))), (3, [1]),
                            (4, list(range(16, 25)))]:
        for v in values:
            rows.append((some_id, 0, v))
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("some_id", T.IntegerType()),
                T.StructField("extra_id", T.IntegerType()),
                T.StructField("value", T.IntegerType()),
            ]
        ),
    )


@pytest.fixture(scope="session")
def cross_cdf_table1(spark):
    return spark.createDataFrame(
        [(1,), (1,), (3,), (2,)],
        T.StructType([T.StructField("col_int", T.IntegerType())]),
    )


@pytest.fixture(scope="session")
def cross_cdf_table2(spark):
    return spark.createDataFrame(
        [(3,), (5,), (4,), (5,), (8,)],
        T.StructType([T.StructField("col_int", T.IntegerType())]),
    )


def within_req(df, name: str) -> WithinRequirement:
    return WithinRequirement.from_dataframe(df, name)
