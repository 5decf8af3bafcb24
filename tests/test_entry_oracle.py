"""Local replica of the driver's correctness gate: every queries() entry runs
on Spark AND its oracle_sql() runs on DuckDB over the same parquet; row
counts, sorted column names, and order-insensitive values must agree."""

from __future__ import annotations

import datetime as dt
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from datajudge_spark.pipeline._util import cache_scope  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(value):
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return round(value, 6)
    if isinstance(value, dt.datetime):
        return value.replace(tzinfo=None)
    return value


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        [tuple(_norm(row[i]) for i in order) for row in rows],
        key=lambda tup: tuple(str(x) for x in tup),
    )


QUERY_NAMES = sorted(entrymod.queries().keys())


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    resident = _persistent_rdds(spark)
    with cache_scope():
        sdf = q(spark, SF_DIR)
        spark_cols = sdf.columns
        spark_types = dict(sdf.dtypes)
        spark_rows = [tuple(r) for r in sdf.collect()]
    # the query's scope released every block it persisted or checkpointed
    assert _persistent_rdds(spark) == resident, (
        f"{name}: persisted RDDs survived the query's cache scope"
    )
    if sql is None:
        # rows-only check, like the driver's weaker gate
        assert spark_rows is not None
        return
    res = duck.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    # The driver hashes values WITH their physical types, so a DuckDB
    # HUGEINT (arrow decimal128) vs a Spark BIGINT is a red even when the
    # values agree (bit us in round 1 on sample_stratified /
    # stratum_percentile_trim).  Guard: any decimal-typed oracle column must
    # correspond to a decimal-typed Spark column; otherwise the oracle SQL
    # is missing a CAST.
    arrow_schema = duck.execute(sql).arrow().schema
    for field in arrow_schema:
        if str(field.type).startswith("decimal"):
            assert spark_types[field.name].startswith("decimal"), (
                f"{name}: oracle column {field.name} is {field.type} but "
                f"Spark yields {spark_types[field.name]} — add a CAST in "
                "the oracle SQL (driver hash is type-sensitive)"
            )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    norm_spark = _normalize(spark_rows, spark_cols)
    norm_duck = _normalize(duck_rows, duck_cols)
    mismatches = [
        (s, d) for s, d in zip(norm_spark, norm_duck) if s != d
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema is not None
