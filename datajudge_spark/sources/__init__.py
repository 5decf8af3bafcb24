"""Data sources: anything that yields a ``pyspark.sql.DataFrame``.

Re-expression of /root/reference/src/datajudge/data_source.py:11-105 for
Spark. The reference's sources yield SQLAlchemy ``FromClause`` objects whose
schema is reflected from a live database; here a source yields a *lazy*
DataFrame whose schema comes from the catalog / parquet footer — no
reflection round-trip, and Catalyst sees the full plan for pushdown.

Sources declare the scan and trigger no job, with one exception: the
first read of a parquet path runs a job that reads the footers to infer
the schema.  Every parquet read of the library goes through
:func:`read_parquet`, which memoizes the inferred schema by the files'
identity and the session confs that shape inference; a later read of the
unchanged files declares that schema and runs no job.  The memo holds
schemas only, never data.  Paths on a non-local file system always pay
the footer job.  The library resolves each source through
``pipeline._util.resolve_source``, once per test scope (a
``Requirement.test`` or a lone ``Constraint.test``), so each parquet
path (each object for the other sources) is resolved once per test.
"""

from __future__ import annotations

import errno
import os
import stat
import weakref
from abc import ABC, abstractmethod
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession

# the session confs that change the schema a parquet read infers (the
# footer's types, the partition columns' types and names); a hadoop
# ``fs.defaultFS`` set in the session decides what a path without a
# scheme names
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.timestampType",
    "spark.sql.caseSensitive",
    "fs.defaultFS",
)

# path -> (key, the JVM StructType a plain read inferred under that key,
# a JVM reader declaring it in the last session that read the path); a
# read under a new key replaces the path's entry.  Threads may read a
# path at once: each entry is replaced whole, by one assignment of a
# tuple that is never mutated, so a reader sees an old entry or a new
# one; two threads that both missed store equal entries.
_SCHEMAS: dict[str, tuple] = {}
# SparkContext -> its JVM hadoop Configuration (one object per context;
# two threads that both missed store the same one)
_HADOOP_CONFS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, without the footer job when the
    path's files and the inference confs are those of an earlier read.

    The key is every file under ``path`` (relative name, size, mtime,
    ctime and inode) and the values of ``_INFERENCE_CONFS``.  Any write
    or ``utime`` moves a file's ctime, which no user can set back, so a
    rewrite is read fresh unless it keeps size, inode and both times to
    the file system's timestamp resolution.  Only local paths have a key:
    an absolute ``file:`` path, or an absolute path without a scheme
    while ``fs.defaultFS`` is local.  Every other path, a glob pattern,
    and a path whose listing fails are read the plain way each time.
    """
    key = _schema_key(spark, path)
    held = _SCHEMAS.get(path) if key is not None else None
    if held is None or held[0] != key:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMAS[path] = (key, df._jdf.schema(), None)
        return df
    _, schema, reader = held
    # a reader serves every read of its session in one py4j call
    session = spark._jsparkSession
    if reader is None or reader[0] is not session:
        reader = (session, session.read().schema(schema))
        _SCHEMAS[path] = (key, schema, reader)
    return DataFrame(reader[1].parquet(path), spark)


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    url = urlsplit(path)
    # another scheme or host, a path relative to the JVM's working
    # directory, or a pattern Hadoop expands: no key
    if (
        url.scheme not in ("", "file")
        or url.netloc
        or url.query
        or url.fragment
        or not url.path.startswith("/")
        or any(c in url.path for c in "*?[]{}\\%")
    ):
        return None
    # every conf in one py4j call rather than one call per conf
    confs = dict.fromkeys(_INFERENCE_CONFS)
    for line in spark.conf._jconf.getAll().mkString("\n").split("\n"):
        name, _, value = line.partition(" -> ")
        if name in confs:
            confs[name] = value
    if not url.scheme:
        default_fs = confs["fs.defaultFS"]
        if default_fs is None:
            sc = spark.sparkContext
            if sc not in _HADOOP_CONFS:
                _HADOOP_CONFS[sc] = sc._jsc.hadoopConfiguration()
            default_fs = _HADOOP_CONFS[sc].get("fs.defaultFS")
        if default_fs.rstrip("/") != "file:":
            return None
    try:
        files = _file_identity(url.path)
    except OSError:
        return None
    return files, tuple(confs.values()), spark.sparkContext._gateway


def _file_identity(root: str) -> tuple:
    """``(relative name, size, mtime, ctime, inode)`` of every file under
    ``root``, following symlinks as Spark's listing does."""
    top = os.stat(root)
    if not stat.S_ISDIR(top.st_mode):
        return (("", top.st_size, top.st_mtime_ns, top.st_ctime_ns, top.st_ino),)
    files, todo, seen = [], [("", root)], {(top.st_dev, top.st_ino)}
    while todo:
        rel, directory = todo.pop()
        with os.scandir(directory) as entries:
            for entry in entries:
                st = entry.stat()
                name = rel + entry.name
                if not stat.S_ISDIR(st.st_mode):
                    files.append(
                        (name, st.st_size, st.st_mtime_ns, st.st_ctime_ns,
                         st.st_ino)
                    )
                elif (st.st_dev, st.st_ino) in seen:
                    raise OSError(errno.ELOOP, "directory visited twice", entry.path)
                else:
                    seen.add((st.st_dev, st.st_ino))
                    todo.append((name + "/", entry.path))
    return tuple(sorted(files))


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
        return read_parquet(spark, self._path)

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
