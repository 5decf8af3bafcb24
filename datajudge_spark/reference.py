"""``DataReference``: the universal operand of the metric layer.

Parity with /root/reference/src/datajudge/db_access.py:123-209. A
``DataReference`` bundles a ``DataSource`` with an optional column projection
and an optional ``Condition``; ``get_selection`` produces the filtered,
projected DataFrame every metric-layer operator consumes.

Spark notes: we apply ``where`` *before* ``select`` so the predicate may
reference non-projected columns (matching SQL semantics of
``SELECT cols FROM t WHERE cond``); Catalyst pushes both the filter and the
pruned column set down into the parquet scan regardless of call order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .condition import Condition, merge_conditions  # noqa: F401  (re-export)
from .pipeline._util import resolve_source
from .sources import DataSource


class DataReference:
    def __init__(
        self,
        data_source: DataSource,
        columns: list[str] | None = None,
        condition: Condition | None = None,
    ):
        if columns is not None and not isinstance(columns, list):
            raise TypeError(f"columns must be a list, not {type(columns)}")
        self.data_source = data_source
        self.columns = columns
        self.condition = condition

    def __repr__(self) -> str:
        return (
            f"{self.__class__.__name__}(data_source={self.data_source!r}, "
            f"columns={self.columns!r}, condition={self.condition!r})"
        )

    def get_selection(self, spark: SparkSession) -> DataFrame:
        """Filtered + projected DataFrame (reference db_access.py:140-163);
        the source is resolved once per open ``cache_scope``."""
        return self.select_from(resolve_source(spark, self.data_source))

    def select_from(self, df: DataFrame) -> DataFrame:
        """This reference's selection of ``df``, a frame its source
        already resolved."""
        if self.condition is not None:
            df = df.where(self.condition.to_column())
        if self.columns:
            df = df.select(*self.columns)
        return df

    def get_column(self, spark: SparkSession | None = None) -> str:
        """The single relevant column (reference db_access.py:165-180)."""
        if self.columns is None:
            raise ValueError(
                f"Trying to access column of DataReference {self} yet none is given."
            )
        if len(self.columns) > 1:
            raise ValueError(
                "DataReference was expected to only have a single column but "
                f"had multiple: {self.columns}"
            )
        return self.columns[0]

    def get_columns(self, spark: SparkSession | None = None) -> list[str] | None:
        return self.columns

    def get_column_selection_string(self) -> str:
        if self.columns is None:
            return " * "
        return ", ".join(f"'{col}'" for col in self.columns)

    def _get_clause_string(self, *, return_where: bool = True) -> str:
        where_string = "WHERE " if return_where else ""
        return "" if self.condition is None else where_string + str(self.condition)

    def __str__(self) -> str:
        if self.columns is None:
            return str(self.data_source)
        return f"{self.data_source}'s column(s) {self.get_column_selection_string()}"
