"""Schema/metadata operators: column names, column types, primary keys.

Re-expression of /root/reference/src/datajudge/db_access.py:989-1013.

Spark has no primary-key catalog concept; primary keys come from a
declared-constraints sidecar (``declare_primary_keys``), mirroring the
reference's stance on engines without PK metadata (it raises
NotImplementedError on BigQuery, constraints/miscs.py:79-80).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..pipeline._util import resolve_source
from ..reference import DataReference

# name -> [pk columns]; keyed by str(data_source).
_PRIMARY_KEY_REGISTRY: dict[str, list[str]] = {}


def declare_primary_keys(source_name: str, primary_keys: list[str]) -> None:
    """Register sidecar primary-key metadata for a table/source name."""
    _PRIMARY_KEY_REGISTRY[source_name] = list(primary_keys)


def clear_primary_keys() -> None:
    _PRIMARY_KEY_REGISTRY.clear()


def get_primary_keys(
    spark: SparkSession, ref: DataReference
) -> tuple[list[str], None]:
    """Sidecar-declared primary keys (reference db_access.py:1002-1013).

    Any named data source participates (the registry is keyed by
    ``str(data_source)``) — unlike the reference, which restricts PK lookup
    to reflected tables, because here the sidecar IS the catalog.
    """
    name = str(ref.data_source)
    if name in _PRIMARY_KEY_REGISTRY:
        return list(_PRIMARY_KEY_REGISTRY[name]), None
    return [], None


def get_column_names(
    spark: SparkSession, ref: DataReference
) -> tuple[list[str], None]:
    """All columns of the underlying data source (reference db_access.py:989-993)."""
    return resolve_source(spark, ref.data_source).columns, None


def get_column_type(
    spark: SparkSession, ref: DataReference
) -> tuple[T.DataType, None]:
    """Spark DataType of the ref's (single projected) column
    (reference db_access.py:996-999)."""
    df = ref.get_selection(spark)
    return df.schema.fields[0].dataType, None


# User-facing type-name aliases -> Spark simpleString prefixes, mirroring the
# reference's string-prefix matching (constraints/column.py:103-116) for users
# carrying over SQL-ish type names.
_TYPE_NAME_ALIASES = {
    "integer": "int",
    "bigint": "bigint",
    "smallint": "smallint",
    "varchar": "string",
    "text": "string",
    "datetime": "timestamp",
    "datetime2": "timestamp",
    "smalldatetime": "timestamp",
    "bool": "boolean",
    "numeric": "decimal",
}


def normalize_type_name(name: str) -> str:
    lowered = name.lower()
    return _TYPE_NAME_ALIASES.get(lowered, lowered)
