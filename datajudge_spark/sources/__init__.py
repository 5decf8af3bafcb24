"""Data sources: anything that yields a ``pyspark.sql.DataFrame``.

Re-expression of /root/reference/src/datajudge/data_source.py:11-105 for
Spark. The reference's sources yield SQLAlchemy ``FromClause`` objects whose
schema is reflected from a live database; here a source yields a *lazy*
DataFrame whose schema comes from the catalog / parquet footer — no
reflection round-trip, and Catalyst sees the full plan for pushdown.

Sources declare the scan; most trigger no job.  A parquet source does:
``spark.read.parquet`` runs a job that reads the footers to infer the
schema.  The library resolves each source through
``pipeline._util.resolve_source``, once per test scope (a
``Requirement.test`` or a lone ``Constraint.test``), so that job runs
once per parquet path (per source object for the other sources) and
test.
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession


class DataSource(ABC):
    """Yields a DataFrame given a SparkSession (reference data_source.py:11-16)."""

    @abstractmethod
    def __str__(self) -> str: ...

    @abstractmethod
    def get_df(self, spark: SparkSession) -> DataFrame: ...

    def resolution_key(self) -> object:
        """What ``get_df`` depends on: sources with equal keys share one
        resolution per test scope.  By default the source object's id."""
        return id(self)


class TableDataSource(DataSource):
    """A catalog table (reference TableDataSource, data_source.py:25-53).

    ``db_name``/``schema_name`` map onto Spark catalog/namespace qualifiers;
    either may be ``None`` for session-default resolution. Schema "reflection"
    is the catalog lookup performed lazily by ``spark.table``.
    """

    def __init__(
        self,
        db_name: str | None,
        table_name: str,
        schema_name: str | None = None,
    ):
        self._db_name = db_name
        self._table_name = table_name
        self._schema_name = schema_name

    @property
    def qualified_name(self) -> str:
        parts = [
            part
            for part in (self._db_name, self._schema_name, self._table_name)
            if part
        ]
        return ".".join(parts)

    def __str__(self) -> str:
        if self._schema_name:
            return f"{self._db_name}.{self._schema_name}.{self._table_name}"
        return self._table_name

    def get_df(self, spark: SparkSession) -> DataFrame:
        return spark.table(self.qualified_name)


class ParquetDataSource(DataSource):
    """A parquet file/directory scan — the native "table" of this engine.

    Spark-first extension (no reference analog): reads profit from parquet
    predicate pushdown, column pruning and partition pruning.
    """

    def __init__(self, path: str, name: str | None = None):
        self._path = path
        self._name = name or path.rstrip("/").rsplit("/", 1)[-1].removesuffix(
            ".parquet"
        )

    def __str__(self) -> str:
        return self._name

    def get_df(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._path)

    def resolution_key(self) -> object:
        # the plain read depends on the path alone; a subclass with its
        # own ``get_df`` keeps the object key
        if type(self).get_df is ParquetDataSource.get_df:
            return ("parquet", self._path)
        return id(self)


class ExpressionDataSource(DataSource):
    """A user-supplied DataFrame (reference ExpressionDataSource,
    data_source.py:57-75 — there a SQLAlchemy expression, here the Spark
    logical-plan object itself)."""

    def __init__(self, expression: DataFrame, name: str):
        self._expression = expression
        self.name = name

    def __str__(self) -> str:
        return self.name

    def __repr__(self) -> str:
        return f"{self.__class__.__name__}(name={self.name})"

    def get_df(self, spark: SparkSession) -> DataFrame:
        return self._expression


# Users coming from the reference may look for a DataFrame-flavored name.
DataFrameDataSource = ExpressionDataSource


class RawQueryDataSource(DataSource):
    """A raw Spark-SQL query string (reference RawQueryDataSource,
    data_source.py:79-105). ``columns`` optionally renames the output
    columns positionally, mirroring the reference's declared-columns mode."""

    def __init__(self, query_string: str, name: str, columns: list[str] | None = None):
        self._query_string = query_string
        self.name = name
        self._columns = columns

    def __str__(self) -> str:
        return self.name

    def __repr__(self) -> str:
        return (
            f"{self.__class__.__name__}(query_string={self._query_string}, "
            f"name={self.name}, columns={self._columns})"
        )

    def get_df(self, spark: SparkSession) -> DataFrame:
        df = spark.sql(self._query_string)
        if self._columns:
            df = df.toDF(*self._columns)
        return df


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Return ``df`` with ``col`` as a proper timestamp, whatever the scan
    produced.

    Parquet event-time columns arrive in two shapes depending on the
    writer: TIMESTAMP(MICROS) (Spark reads it as timestamp/timestamp_ntz
    directly) or TIMESTAMP(NANOS) (Spark 4 only reads it with
    ``spark.sql.legacy.parquet.nanosAsLong=true``, yielding epoch-nanos as
    BIGINT). Downstream operators want one shape, so sources normalize
    here instead of every query guessing.

    The nanos branch uses integer ``div`` — float division of epoch-nanos
    (~1.7e18) exceeds a double's 53-bit mantissa and lands up to 1 us off.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(df.schema[col].dataType, LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df
