"""Public declarative API: ``WithinRequirement`` and ``BetweenRequirement``.

Parity with /root/reference/src/datajudge/requirements.py:63-2227 — every
``add_*`` factory keeps the reference's name and keyword surface so existing
specifications transliterate 1:1; the execution engine argument is a
``SparkSession``.

Spark-specific additions: ``from_parquet`` / ``from_parquets`` constructors
(parquet paths are this engine's native tables) and ``from_dataframe(s)`` as
the DataFrame-flavored spelling of ``from_expression(s)``.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Collection, MutableSequence, Sequence
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ._threads import can_overlap, run_overlapped
from .condition import Condition
from .operators.uniques import DEFAULT_MAX_UNIQUES
from .constraints import column as column_constraints
from .constraints import date as date_constraints
from .constraints import groupby as groupby_constraints
from .constraints import integrity as integrity_constraints
from .constraints import miscs as miscs_constraints
from .constraints import nrows as nrows_constraints
from .constraints import numeric as numeric_constraints
from .constraints import row as row_constraints
from .constraints import stats as stats_constraints
from .constraints import uniques as uniques_constraints
from .constraints import varchar as varchar_constraints
from .constraints.base import Constraint, TestResult, resolve_sources
from .operators import get_date_growth_rate, run_scalar_aggs
from .pipeline._util import cache_scope, resolve_source
from .reference import DataReference
from .sources import (
    DataSource,
    ExpressionDataSource,
    ParquetDataSource,
    RawQueryDataSource,
    TableDataSource,
)
from .utils import OutputProcessor, output_processor_limit

_T = TypeVar("_T")


class Requirement(MutableSequence[Constraint]):
    """A mutable sequence of constraints over one (Within) or two (Between)
    data sources (reference requirements.py:63-84)."""

    def __init__(self):
        self._constraints: list[Constraint] = []
        self._data_source: DataSource

    def insert(self, index: int, value: Constraint) -> None:
        self._constraints.insert(index, value)

    def __getitem__(self, index):
        return self._constraints[index]

    def __setitem__(self, index, value) -> None:
        self._constraints[index] = value

    def __delitem__(self, index) -> None:
        del self._constraints[index]

    def __len__(self) -> int:
        return len(self._constraints)

    def test(self, engine: SparkSession) -> list[TestResult]:
        """Test every member on ``engine``; the results keep the
        members' order.

        One ``cache_scope`` spans the members, so each source is
        resolved once.  The scalar aggregates they declare are computed
        first, one fused aggregate per source (``_prefetch_scalars``).
        A member that this serves, or whose retrieval slots are cached,
        then runs in the caller's thread.  When at least two members
        still run Spark jobs, those run at the same time on up to
        ``_threads.MAX_THREADS`` threads, the caller's one included
        (``_threads.run_overlapped``).  Their sources are resolved first
        in the caller's thread, and a constraint object listed twice
        runs its occurrences one after the other in one thread.

        Every member runs even if another raises; then the exception of
        the lowest-index member that raised is raised.  Without pinned
        threads the members run one after another and the first
        exception stops them.
        """
        with cache_scope():
            _prefetch_scalars(engine, self._constraints)
            try:
                return _test_members(engine, self._constraints)
            finally:
                # a check that raised before reading its prefetched value
                # must not read it in a later test
                for constraint in self:
                    constraint._prefetched.clear()


def _test_members(
    engine: SparkSession, constraints: list[Constraint]
) -> list[TestResult]:
    # each constraint object once, with the indices it is listed at
    listed: dict[int, list[int]] = {}
    for index, constraint in enumerate(constraints):
        listed.setdefault(id(constraint), []).append(index)
    busy, served = [], []
    for indices in listed.values():
        needs_spark = constraints[indices[0]]._needs_spark(engine)
        (busy if needs_spark else served).append(indices)
    if len(busy) < 2 or not can_overlap():
        return [constraint.test(engine) for constraint in constraints]
    resolve_sources(engine, [constraints[indices[0]] for indices in busy])
    outcomes: list = [None] * len(constraints)

    def run(indices: list[int]) -> None:
        for index in indices:
            try:
                outcomes[index] = (True, constraints[index].test(engine))
            except Exception as exc:
                outcomes[index] = (False, exc)

    for indices in served:
        run(indices)
    run_overlapped(engine, [functools.partial(run, indices) for indices in busy])
    for ok, value in outcomes:
        if not ok:
            raise value
    return [value for _, value in outcomes]


def _prefetch_scalars(engine: SparkSession, constraints: list[Constraint]) -> None:
    """Compute the scalar aggregates the constraints declare with one
    Spark aggregate per data source, and hand each value to its
    constraint's retrieval slot.

    Declarations group by source object (all refs of a requirement side
    share it); the caller's scope resolves each source once.  If a
    group's combined aggregate fails (a missing column or an unparsable
    condition in one member), nothing is prefetched for it: each member
    then runs its own aggregate inside ``test``, and the error is raised
    by the same constraint, with the same type, as when nothing is
    shared.
    """
    groups: dict[int, list] = {}
    for constraint in constraints:
        for ref, agg in constraint._scalar_requests(engine):
            groups.setdefault(id(ref.data_source), []).append(
                (constraint, ref, agg)
            )
    for members in groups.values():
        if len(members) < 2:
            continue
        source = members[0][1].data_source
        try:
            fetched = run_scalar_aggs(
                resolve_source(engine, source), [agg for _, _, agg in members]
            )
        except Exception:
            # any error here is one a member raises alone too; leaving
            # the group unfetched re-raises it from that member's test
            continue
        for (constraint, ref, _), value in zip(members, fetched):
            constraint._prefetched[id(ref)] = value


class WithinRequirement(Requirement):
    """Constraints against a single data source (reference requirements.py:87-1263)."""

    def __init__(self, data_source: DataSource):
        self._data_source = data_source
        super().__init__()
        self._data_source = data_source

    @classmethod
    def from_table(
        cls,
        table_name: str,
        db_name: str | None = None,
        schema_name: str | None = None,
    ) -> "WithinRequirement":
        return cls(
            data_source=TableDataSource(
                db_name=db_name, table_name=table_name, schema_name=schema_name
            )
        )

    @classmethod
    def from_parquet(cls, path: str, name: str | None = None) -> "WithinRequirement":
        return cls(data_source=ParquetDataSource(path, name=name))

    @classmethod
    def from_raw_query(
        cls, query: str, name: str, columns: list[str] | None = None
    ) -> "WithinRequirement":
        return cls(data_source=RawQueryDataSource(query, name, columns=columns))

    @classmethod
    def from_expression(cls, expression: DataFrame, name: str) -> "WithinRequirement":
        return cls(data_source=ExpressionDataSource(expression, name))

    from_dataframe = from_expression

    def add_column_existence_constraint(
        self, columns: list[str], name: str | None = None, cache_size=None
    ) -> None:
        # Note that columns are not meant to be part of the reference.
        ref = DataReference(self._data_source)
        self._constraints.append(
            column_constraints.ColumnExistence(
                ref, columns, name=name, cache_size=cache_size
            )
        )

    def add_primary_key_definition_constraint(
        self, primary_keys: list[str], name: str | None = None, cache_size=None
    ) -> None:
        ref = DataReference(self._data_source)
        self._constraints.append(
            miscs_constraints.PrimaryKeyDefinition(
                ref, primary_keys, name=name, cache_size=cache_size
            )
        )

    def add_uniqueness_constraint(
        self,
        columns: list[str] | None = None,
        max_duplicate_fraction: float = 0,
        condition: Condition | None = None,
        max_absolute_n_duplicates: int = 0,
        infer_pk_columns: bool = False,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, columns, condition)
        self._constraints.append(
            miscs_constraints.Uniqueness(
                ref,
                max_duplicate_fraction=max_duplicate_fraction,
                max_absolute_n_duplicates=max_absolute_n_duplicates,
                infer_pk_columns=infer_pk_columns,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_column_type_constraint(
        self,
        column: str,
        column_type: str | T.DataType,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column])
        self._constraints.append(
            column_constraints.ColumnType(
                ref, column_type=column_type, name=name, cache_size=cache_size
            )
        )

    def add_null_absence_constraint(
        self,
        column: str,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            miscs_constraints.MaxNullFraction(
                ref, max_null_fraction=0, name=name, cache_size=cache_size
            )
        )

    def add_max_null_fraction_constraint(
        self,
        column: str,
        max_null_fraction: float,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            miscs_constraints.MaxNullFraction(
                ref,
                max_null_fraction=max_null_fraction,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_n_rows_equality_constraint(
        self,
        n_rows: int,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, None, condition)
        self._constraints.append(
            nrows_constraints.NRowsEquality(
                ref, n_rows=n_rows, name=name, cache_size=cache_size
            )
        )

    def add_n_rows_min_constraint(
        self,
        n_rows_min: int,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, None, condition)
        self._constraints.append(
            nrows_constraints.NRowsMin(
                ref, n_rows=n_rows_min, name=name, cache_size=cache_size
            )
        )

    def add_n_rows_max_constraint(
        self,
        n_rows_max: int,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, None, condition)
        self._constraints.append(
            nrows_constraints.NRowsMax(
                ref, n_rows=n_rows_max, name=name, cache_size=cache_size
            )
        )

    def add_uniques_equality_constraint(
        self,
        columns: list[str],
        uniques: Collection[_T],
        filter_func: Callable[[list[_T]], list[_T]] | None = None,
        map_func: Callable[[_T], _T] | None = None,
        reduce_func: Callable[[Collection], Collection] | None = None,
        output_processors: OutputProcessor
        | list[OutputProcessor]
        | None = output_processor_limit,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
        max_uniques: int | None = DEFAULT_MAX_UNIQUES,
    ) -> None:
        ref = DataReference(self._data_source, columns, condition)
        self._constraints.append(
            uniques_constraints.UniquesEquality(
                ref,
                uniques=uniques,
                filter_func=filter_func,
                map_func=map_func,
                reduce_func=reduce_func,
                output_processors=output_processors,
                name=name,
                cache_size=cache_size,
                max_uniques=max_uniques,
            )
        )

    def add_uniques_superset_constraint(
        self,
        columns: list[str],
        uniques: Collection[_T],
        max_relative_violations: float = 0,
        filter_func: Callable[[list[_T]], list[_T]] | None = None,
        map_func: Callable[[_T], _T] | None = None,
        reduce_func: Callable[[Collection], Collection] | None = None,
        condition: Condition | None = None,
        name: str | None = None,
        output_processors: OutputProcessor
        | list[OutputProcessor]
        | None = output_processor_limit,
        cache_size=None,
        max_uniques: int | None = DEFAULT_MAX_UNIQUES,
    ) -> None:
        ref = DataReference(self._data_source, columns, condition)
        self._constraints.append(
            uniques_constraints.UniquesSuperset(
                ref,
                uniques=uniques,
                max_relative_violations=max_relative_violations,
                filter_func=filter_func,
                map_func=map_func,
                reduce_func=reduce_func,
                output_processors=output_processors,
                name=name,
                cache_size=cache_size,
                max_uniques=max_uniques,
            )
        )

    def add_uniques_subset_constraint(
        self,
        columns: list[str],
        uniques: Collection[_T],
        max_relative_violations: float = 0,
        filter_func: Callable[[list[_T]], list[_T]] | None = None,
        compare_distinct: bool = False,
        map_func: Callable[[_T], _T] | None = None,
        reduce_func: Callable[[Collection], Collection] | None = None,
        condition: Condition | None = None,
        name: str | None = None,
        output_processors: OutputProcessor
        | list[OutputProcessor]
        | None = output_processor_limit,
        cache_size=None,
        max_uniques: int | None = DEFAULT_MAX_UNIQUES,
    ) -> None:
        ref = DataReference(self._data_source, columns, condition)
        self._constraints.append(
            uniques_constraints.UniquesSubset(
                ref,
                uniques=uniques,
                max_relative_violations=max_relative_violations,
                filter_func=filter_func,
                compare_distinct=compare_distinct,
                map_func=map_func,
                reduce_func=reduce_func,
                output_processors=output_processors,
                name=name,
                cache_size=cache_size,
                max_uniques=max_uniques,
            )
        )

    def add_n_uniques_equality_constraint(
        self,
        columns: list[str] | None,
        n_uniques: int,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, columns, condition)
        self._constraints.append(
            uniques_constraints.NUniquesEquality(
                ref, n_uniques=n_uniques, name=name, cache_size=cache_size
            )
        )

    def add_categorical_bound_constraint(
        self,
        columns: list[str],
        distribution: dict[_T, tuple[float, float]],
        default_bounds: tuple[float, float] = (0, 0),
        max_relative_violations: float = 0,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
        max_uniques: int | None = DEFAULT_MAX_UNIQUES,
    ) -> None:
        ref = DataReference(self._data_source, columns, condition)
        self._constraints.append(
            uniques_constraints.CategoricalBoundConstraint(
                ref,
                distribution=distribution,
                default_bounds=default_bounds,
                max_relative_violations=max_relative_violations,
                name=name,
                cache_size=cache_size,
                max_uniques=max_uniques,
            )
        )

    def add_numeric_min_constraint(
        self,
        column: str,
        min_value: float,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            numeric_constraints.NumericMin(
                ref, min_value=min_value, name=name, cache_size=cache_size
            )
        )

    def add_numeric_max_constraint(
        self,
        column: str,
        max_value: float,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            numeric_constraints.NumericMax(
                ref, max_value=max_value, name=name, cache_size=cache_size
            )
        )

    def add_numeric_between_constraint(
        self,
        column: str,
        lower_bound: float,
        upper_bound: float,
        min_fraction: float,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            numeric_constraints.NumericBetween(
                ref,
                min_fraction,
                lower_bound,
                upper_bound,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_numeric_mean_constraint(
        self,
        column: str,
        mean_value: float,
        max_absolute_deviation: float,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            numeric_constraints.NumericMean(
                ref,
                max_absolute_deviation,
                mean_value=mean_value,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_numeric_percentile_constraint(
        self,
        column: str,
        percentage: float,
        expected_percentile: float,
        max_absolute_deviation: float | None = None,
        max_relative_deviation: float | None = None,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            numeric_constraints.NumericPercentile(
                ref,
                percentage=percentage,
                expected_percentile=expected_percentile,
                max_absolute_deviation=max_absolute_deviation,
                max_relative_deviation=max_relative_deviation,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_date_min_constraint(
        self,
        column: str,
        min_value: str,
        use_lower_bound_reference: bool = True,
        column_type: str = "date",
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            date_constraints.DateMin(
                ref,
                min_value=min_value,
                use_lower_bound_reference=use_lower_bound_reference,
                column_type=column_type,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_date_max_constraint(
        self,
        column: str,
        max_value: str,
        use_upper_bound_reference: bool = True,
        column_type: str = "date",
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            date_constraints.DateMax(
                ref,
                max_value=max_value,
                use_upper_bound_reference=use_upper_bound_reference,
                column_type=column_type,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_date_between_constraint(
        self,
        column: str,
        lower_bound: str,
        upper_bound: str,
        min_fraction: float,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            date_constraints.DateBetween(
                ref,
                min_fraction,
                lower_bound,
                upper_bound,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_date_no_overlap_constraint(
        self,
        start_column: str,
        end_column: str,
        key_columns: list[str] | None = None,
        end_included: bool = True,
        max_relative_n_violations: float = 0,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        relevant_columns = [start_column, end_column] + (
            key_columns if key_columns else []
        )
        ref = DataReference(self._data_source, relevant_columns, condition)
        self._constraints.append(
            date_constraints.DateNoOverlap(
                ref,
                key_columns=key_columns,
                start_columns=[start_column],
                end_columns=[end_column],
                end_included=end_included,
                max_relative_n_violations=max_relative_n_violations,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_date_no_overlap_2d_constraint(
        self,
        start_column1: str,
        end_column1: str,
        start_column2: str,
        end_column2: str,
        key_columns: list[str] | None = None,
        end_included: bool = True,
        max_relative_n_violations: float = 0,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        relevant_columns = [start_column1, end_column1, start_column2, end_column2] + (
            key_columns if key_columns else []
        )
        ref = DataReference(self._data_source, relevant_columns, condition)
        self._constraints.append(
            date_constraints.DateNoOverlap2d(
                ref,
                key_columns=key_columns,
                start_columns=[start_column1, start_column2],
                end_columns=[end_column1, end_column2],
                end_included=end_included,
                max_relative_n_violations=max_relative_n_violations,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_date_no_gap_constraint(
        self,
        start_column: str,
        end_column: str,
        key_columns: list[str] | None = None,
        end_included: bool = True,
        max_relative_n_violations: float = 0,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        relevant_columns = (
            ([start_column, end_column] + key_columns) if key_columns else None
        )
        ref = DataReference(self._data_source, relevant_columns, condition)
        self._constraints.append(
            date_constraints.DateNoGap(
                ref,
                key_columns=key_columns,
                start_columns=[start_column],
                end_columns=[end_column],
                max_relative_n_violations=max_relative_n_violations,
                legitimate_gap_size=1 if end_included else 0,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_functional_dependency_constraint(
        self,
        key_columns: list[str],
        value_columns: list[str],
        condition: Condition | None = None,
        name: str | None = None,
        output_processors: OutputProcessor
        | list[OutputProcessor]
        | None = output_processor_limit,
        cache_size=None,
    ) -> None:
        relevant_columns = key_columns + value_columns
        ref = DataReference(self._data_source, relevant_columns, condition)
        self._constraints.append(
            miscs_constraints.FunctionalDependency(
                ref,
                key_columns=key_columns,
                output_processors=output_processors,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_numeric_no_gap_constraint(
        self,
        start_column: str,
        end_column: str,
        key_columns: list[str] | None = None,
        legitimate_gap_size: float = 0,
        max_relative_n_violations: float = 0,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        relevant_columns = (
            ([start_column, end_column] + key_columns) if key_columns else None
        )
        ref = DataReference(self._data_source, relevant_columns, condition)
        self._constraints.append(
            numeric_constraints.NumericNoGap(
                ref,
                key_columns=key_columns,
                start_columns=[start_column],
                end_columns=[end_column],
                legitimate_gap_size=legitimate_gap_size,
                max_relative_n_violations=max_relative_n_violations,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_numeric_no_overlap_constraint(
        self,
        start_column: str,
        end_column: str,
        key_columns: list[str] | None = None,
        end_included: bool = True,
        max_relative_n_violations: float = 0,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        relevant_columns = [start_column, end_column] + (
            key_columns if key_columns else []
        )
        ref = DataReference(self._data_source, relevant_columns, condition)
        self._constraints.append(
            numeric_constraints.NumericNoOverlap(
                ref,
                key_columns=key_columns,
                start_columns=[start_column],
                end_columns=[end_column],
                end_included=end_included,
                max_relative_n_violations=max_relative_n_violations,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_varchar_regex_constraint(
        self,
        column: str,
        regex: str,
        condition: Condition | None = None,
        name: str | None = None,
        allow_none: bool = False,
        relative_tolerance: float = 0.0,
        aggregated: bool = True,
        n_counterexamples: int = 5,
        cache_size=None,
        max_uniques: int | None = DEFAULT_MAX_UNIQUES,
    ) -> None:
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            varchar_constraints.VarCharRegex(
                ref,
                regex,
                allow_none=allow_none,
                relative_tolerance=relative_tolerance,
                aggregated=aggregated,
                n_counterexamples=n_counterexamples,
                name=name,
                cache_size=cache_size,
                max_uniques=max_uniques,
            )
        )

    def add_varchar_regex_constraint_db(
        self,
        column: str,
        regex: str,
        condition: Condition | None = None,
        name: str | None = None,
        relative_tolerance: float = 0.0,
        aggregated: bool = True,
        n_counterexamples: int = 5,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            varchar_constraints.VarCharRegexDb(
                ref,
                regex=regex,
                relative_tolerance=relative_tolerance,
                aggregated=aggregated,
                n_counterexamples=n_counterexamples,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_varchar_min_length_constraint(
        self,
        column: str,
        min_length: int,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            varchar_constraints.VarCharMinLength(
                ref, min_length=min_length, name=name, cache_size=cache_size
            )
        )

    def add_varchar_max_length_constraint(
        self,
        column: str,
        max_length: int,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            varchar_constraints.VarCharMaxLength(
                ref, max_length=max_length, name=name, cache_size=cache_size
            )
        )

    def add_groupby_aggregation_constraint(
        self,
        columns: Sequence[str],
        aggregation_column: str,
        start_value: int,
        tolerance: float = 0,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, list(columns), condition)
        self._constraints.append(
            groupby_constraints.AggregateNumericRangeEquality(
                ref,
                aggregation_column=aggregation_column,
                tolerance=tolerance,
                start_value=start_value,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_heavy_hitter_share_constraint(
        self,
        columns: list[str],
        max_share_ppm: int,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): fail if any group of
        ``columns`` holds strictly more than ``max_share_ppm``
        parts-per-million of the (conditioned) rows — the key-skew gate
        for join/partition keys and training-mix sources. Integer-exact
        share math in-engine; only violating keys reach the driver."""
        if not columns:
            raise ValueError("At least one key column is required.")
        if not 0 < int(max_share_ppm) <= 1_000_000:
            raise ValueError("max_share_ppm must be in (0, 1e6].")
        ref = DataReference(self._data_source, list(columns), condition)
        self._constraints.append(
            stats_constraints.HeavyHitterShare(
                ref, max_share_ppm, name=name, cache_size=cache_size
            )
        )

    def add_embedding_norm_fraction_constraint(
        self,
        column: str,
        min_fraction: float,
        lo: float = 0.99,
        hi: float = 1.01,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): at least ``min_fraction``
        of the array<float> vectors in ``column`` must have an L2 norm in
        [lo, hi] — the normalization health gate before cosine dedup/ANN.
        Norms fold JVM-side; one digest row reaches the driver."""
        if hi <= lo:
            raise ValueError("Norm range requires hi > lo.")
        if not 0 <= min_fraction <= 1:
            raise ValueError("min_fraction must be within [0, 1].")
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            stats_constraints.EmbeddingNormFraction(
                ref, min_fraction, lo, hi, name=name, cache_size=cache_size
            )
        )

    def add_neardup_recall_constraint(
        self,
        id_column: str,
        text_column: str,
        query_ids: list,
        min_recall: float = 0.95,
        threshold: float = 0.5,
        num_hashes: int = 12,
        shingle_n: int = 3,
        bands: int = 4,
        rows: int = 3,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the micro-averaged
        recall of the banded MinHash near-dup LOOKUP against
        brute-force exact-Jaccard truth (pairs at Jaccard >=
        ``threshold``) over the bounded ``query_ids`` sample must be at
        least ``min_recall`` — "measure the decontamination index's
        recall before trusting it".  ``num_hashes``/``shingle_n``/
        ``bands``/``rows`` must be the parameters of the index actually
        deployed, so the gate measures the configuration it certifies.
        Query shingles broadcast; one bounded-fanout truth shuffle;
        vacuous pass when the sample has no true near-dup."""
        ref = DataReference(
            self._data_source, [id_column, text_column], condition
        )
        self._constraints.append(
            stats_constraints.NeardupRecallMin(
                ref,
                id_column,
                text_column,
                query_ids,
                min_recall=min_recall,
                threshold=threshold,
                num_hashes=num_hashes,
                shingle_n=shingle_n,
                bands=bands,
                rows=rows,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_pool_coverage_constraint(
        self,
        source_column: str,
        text_column: str,
        src_a,
        src_b,
        min_coverage: float = 0.8,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the distinct-document
        union of two capture sources must cover at least
        ``min_coverage`` of the Chapman capture-recapture pool
        estimate — "my two crawls have already seen this share of the
        reachable pool"; low coverage means genuinely new documents
        remain uncaptured.  One fingerprint shuffle, one digest row;
        conservative under dependent captures."""
        ref = DataReference(
            self._data_source, [source_column, text_column], condition
        )
        self._constraints.append(
            stats_constraints.PoolCoverageMin(
                ref,
                source_column,
                text_column,
                src_a,
                src_b,
                min_coverage=min_coverage,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_daily_volume_anomaly_constraint(
        self,
        date_column: str,
        max_anomalies: int = 0,
        window_days: int = 7,
        threshold: float = 3.0,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): at most ``max_anomalies``
        days may have a daily row count deviating more than ``threshold``
        standard deviations from their trailing ``window_days`` window —
        the ingestion-broke/double-fired monitor. Daily aggregate and
        exact-integer-sum z-scores run in-engine; only flagged days reach
        the driver."""
        if window_days < 3:
            raise ValueError(
                "window_days must be >= 3 (z-score needs 3 points)."
            )
        if threshold <= 0:
            raise ValueError("threshold must be positive.")
        ref = DataReference(self._data_source, [date_column], condition)
        self._constraints.append(
            stats_constraints.DailyVolumeAnomaly(
                ref,
                max_anomalies=max_anomalies,
                window_days=window_days,
                threshold=threshold,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_gini_max_constraint(
        self,
        column: str,
        max_gini: float,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the exact Gini
        coefficient of ``column`` may not exceed ``max_gini`` — the
        "is one key dominating this distribution?" concentration gate.
        Rank sums run in-engine via bucket-partitioned cumulative
        windows (no global sort at any cardinality); one digest row
        reaches the driver."""
        if not 0 <= max_gini <= 1:
            raise ValueError("max_gini must be within [0, 1].")
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            stats_constraints.GiniMax(
                ref, max_gini, name=name, cache_size=cache_size
            )
        )

    def add_pareto_frontier_size_constraint(
        self,
        x_column: str,
        y_column: str,
        max_points: int | None = None,
        min_points: int | None = None,
        minimize_x: bool = True,
        maximize_y: bool = True,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the 2-D skyline of
        ``(x_column, y_column)`` — the set of non-dominated tradeoff
        points — must contain between ``min_points`` and ``max_points``
        DISTINCT points.  A 1-point frontier usually means an outlier
        dominates everything (unit error); an exploded frontier means
        the tradeoff curve got noisy.  The sweep runs as a bucketed
        running max (``operators.olap.skyline_2d``) — no global sort;
        only the frontier reaches the driver and only its count is
        judged."""
        ref = DataReference(
            self._data_source, [x_column, y_column], condition
        )
        self._constraints.append(
            stats_constraints.ParetoFrontierSize(
                ref,
                max_points=max_points,
                min_points=min_points,
                minimize_x=minimize_x,
                maximize_y=maximize_y,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_grouped_ks_max_constraint(
        self,
        value_column: str,
        group_column: str,
        max_d: float,
        groups: list | None = None,
        max_groups: int = 100,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): for EVERY group of
        ``group_column``, the KS distance between that group's
        ``value_column`` distribution and the pooled distribution may
        not exceed ``max_d`` — the segment-drift gate, asked for all
        segments in one pass.  One conditional-aggregation histogram
        shuffle covers all groups; every group's CDF comes from a shared
        bucket-partitioned cumulative (never a per-group scan or a
        global window); one row per group reaches the driver.  Pass
        ``groups`` to pin the segment list (no discovery scan);
        otherwise distinct groups are collected, capped at
        ``max_groups``."""
        ref = DataReference(
            self._data_source, [value_column, group_column], condition
        )
        self._constraints.append(
            stats_constraints.GroupedKsMax(
                ref,
                max_d,
                groups=groups,
                max_groups=max_groups,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_seasonality_strength_constraint(
        self,
        date_column: str,
        value_column: str,
        min_strength: float | None = None,
        max_strength: float | None = None,
        period: int = 7,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the weekly-seasonality
        strength (ANOVA R² in [0, 1]) of the daily
        ``sum(value_column)`` series on its day-of-``period`` phase must
        lie within [min_strength, max_strength] — "this metric should
        breathe weekly" (compare like-weekdays when monitoring) or
        "this metric must NOT be weekday-driven".  One daily aggregate
        + one period-row integer-exact aggregate; ≤period rows fold on
        the driver."""
        ref = DataReference(
            self._data_source, [date_column, value_column], condition
        )
        self._constraints.append(
            stats_constraints.SeasonalityStrengthBounds(
                ref,
                min_strength=min_strength,
                max_strength=max_strength,
                period=period,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_cusum_stability_constraint(
        self,
        date_column: str,
        value_column: str,
        max_cusum: float | None = None,
        max_relative: float | None = None,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the CUSUM peak of the
        daily ``sum(value_column)`` series may not exceed ``max_cusum``
        (value units) and/or ``max_relative`` (peak divided by the mean
        absolute daily value — unitless "days of shift").  Catches the
        sustained level change a spike detector misses; the failure
        message names the most likely change day."""
        ref = DataReference(
            self._data_source, [date_column, value_column], condition
        )
        self._constraints.append(
            stats_constraints.CusumStabilityMax(
                ref,
                max_cusum=max_cusum,
                max_relative=max_relative,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_mutual_information_max_constraint(
        self,
        column_a: str,
        column_b: str,
        max_mi: float,
        normalized: bool = False,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the mutual information
        between two columns may not exceed ``max_mi`` nats (with
        ``normalized=True``, the normalized MI in [0, 1]) — the
        dependence-LEAKAGE gate: "the train/val split column must not
        encode the label", "this feature must not leak user identity".
        Complements the chi-squared gate, which detects any dependence;
        this bounds how much.  One cell shuffle; margins and entropies
        aggregate the cells."""
        ref = DataReference(
            self._data_source, [column_a, column_b], condition
        )
        self._constraints.append(
            stats_constraints.MutualInformationMax(
                ref,
                max_mi,
                normalized=normalized,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_quantile_grid_gap_max_constraint(
        self,
        value_column: str,
        group_column: str,
        max_abs_gap: float,
        groups: list | None = None,
        deciles: int = 10,
        max_groups: int = 100,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): at every decile of the
        pooled ``value_column`` distribution, each group's exact
        quantile may not sit more than ``max_abs_gap`` away from the
        pooled quantile — the grid-valued drift gate (WHERE the segment
        moved, complementing the grouped-KS sup).  One conditional-agg
        histogram shuffle covers all groups and all grid points; groups
        x (deciles-1) rows reach the driver.  ``groups`` pins the
        segment list; otherwise distinct groups are collected, capped
        at ``max_groups``."""
        ref = DataReference(
            self._data_source, [value_column, group_column], condition
        )
        self._constraints.append(
            stats_constraints.QuantileGridGapMax(
                ref,
                max_abs_gap,
                groups=groups,
                deciles=deciles,
                max_groups=max_groups,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_grouped_trend_slope_constraint(
        self,
        date_column: str,
        value_column: str,
        group_column: str,
        min_slope: float | None = None,
        max_slope: float | None = None,
        groups: list | None = None,
        max_groups: int = 100,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): each group's Theil-Sen
        slope of the daily ``sum(value_column)`` series over
        ``date_column`` must lie within [min_slope, max_slope] (value
        per day) — the robust per-segment trend gate; single-day
        outliers cannot swing the pairwise median the way they swing an
        OLS fit.  The pair join runs on the grouped DAILY frame
        (calendar-bounded), and every group's median comes from one
        shared conditional slope histogram — no per-group scans or
        windows."""
        ref = DataReference(
            self._data_source,
            [date_column, value_column, group_column],
            condition,
        )
        self._constraints.append(
            stats_constraints.GroupedTrendSlopeBetween(
                ref,
                min_slope=min_slope,
                max_slope=max_slope,
                groups=groups,
                max_groups=max_groups,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_grouped_ols2_slope_constraint(
        self,
        x1_column: str,
        x2_column: str,
        value_column: str,
        group_column: str,
        min_beta1: float | None = None,
        max_beta1: float | None = None,
        min_r2: float | None = None,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): each group's OLS
        coefficient on ``x1_column``, fit jointly with ``x2_column``
        and an intercept (``value ~ b0 + b1·x1 + b2·x2``), must lie
        within [min_beta1, max_beta1]; optionally the fit's R² must
        reach ``min_r2``.  The controlled-trend gate — "is the metric
        still growing once the weekend/promo effect is held out?".
        One decimal-exact sufficient-statistics aggregate per group,
        Cramer's-rule solve in the projection; degenerate (collinear /
        zero-variance) groups fail explicitly.  Regressors and value
        must be integer-valued (day numbers, 0/1 flags, cents)."""
        ref = DataReference(
            self._data_source,
            [x1_column, x2_column, value_column, group_column],
            condition,
        )
        self._constraints.append(
            stats_constraints.GroupedOls2SlopeBetween(
                ref,
                min_beta1=min_beta1,
                max_beta1=max_beta1,
                min_r2=min_r2,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_chi_squared_independence_constraint(
        self,
        column_a: str,
        column_b: str,
        significance_level: float = 0.05,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart; peers the two-sample KS
        constraint for the categorical case): fails when independence of
        the two categorical columns is REJECTED at
        ``significance_level``.  Cell counts are one engine-side
        shuffle; the chi-squared p-value is a stdlib incomplete-gamma
        evaluation on the driver."""
        ref = DataReference(
            self._data_source, [column_a, column_b], condition
        )
        self._constraints.append(
            stats_constraints.ChiSquaredIndependence(
                ref, significance_level, name=name, cache_size=cache_size
            )
        )

    def add_spearman_correlation_constraint(
        self,
        column_a: str,
        column_b: str,
        min_rho: float | None = None,
        max_rho: float | None = None,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the exact tie-averaged
        Spearman rank correlation between two numeric columns must lie
        within ``[min_rho, max_rho]`` — the monotone-association gate
        ("quantity should still drive price"; "latency must not track
        user id").  Ranks are integer-exact in-engine via
        bucket-partitioned cumulatives; one digest row reaches the
        driver."""
        ref = DataReference(
            self._data_source, [column_a, column_b], condition
        )
        self._constraints.append(
            stats_constraints.SpearmanBounds(
                ref, min_rho, max_rho, name=name, cache_size=cache_size
            )
        )

    def add_mad_outlier_fraction_constraint(
        self,
        column: str,
        max_fraction: float,
        k: float = 3.0,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): at most ``max_fraction``
        of non-null values of ``column`` may deviate more than
        ``k * 1.4826 * MAD`` from the exact median — the robust-outlier
        gate a single extreme value cannot inflate. Median/MAD run as
        two-pass range-bucketed exact percentiles in-engine; one digest
        row reaches the driver. Best on integer domains (cents, counts),
        where both medians are engine-exact."""
        if not 0 <= max_fraction <= 1:
            raise ValueError("max_fraction must be within [0, 1].")
        if k <= 0:
            raise ValueError("k must be positive.")
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            stats_constraints.MadOutlierFraction(
                ref, max_fraction, k=k, name=name, cache_size=cache_size
            )
        )


    def add_winsorized_mean_constraint(
        self,
        column: str,
        mean_value: float,
        max_absolute_deviation: float,
        p_lo: float = 1.0,
        p_hi: float = 99.0,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the winsorized mean of
        ``column`` — values clipped at the exact ``p_lo``/``p_hi``
        percentiles before averaging — must sit within
        ``max_absolute_deviation`` of ``mean_value``.  The robust
        companion to ``add_numeric_mean_constraint``: a fat tail or a
        few corrupt extremes cannot drag it.  Both cuts come from one
        shared bucketed-histogram pass; the clipped mean is a
        decimal-exact integer sum over the exact count (best on integer
        domains: cents, counts)."""
        if max_absolute_deviation < 0:
            raise ValueError("max_absolute_deviation must be >= 0.")
        if not (0.0 < p_lo < p_hi < 100.0):
            raise ValueError("need 0 < p_lo < p_hi < 100.")
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            stats_constraints.WinsorizedMeanWithin(
                ref,
                mean_value,
                max_absolute_deviation,
                p_lo=p_lo,
                p_hi=p_hi,
                name=name,
                cache_size=cache_size,
            )
        )


    def add_monotone_trend_constraint(
        self,
        x_column: str,
        y_column: str,
        max_deviation: float = 0.0,
        n_buckets: int = 32,
        decreasing: bool = False,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the bucketed mean of
        ``y_column`` must be monotone in ``x_column`` (nondecreasing by
        default, ``decreasing=True`` for the other direction), up to
        ``max_deviation`` value units measured against the isotonic
        (pool-adjacent-violators) fit — the shape check behind "price
        grows with quantity" / "label grows with score" that no point
        gate expresses.  One partial-aggregated shuffle to the bucket
        frame; the PAVA fit is a relational minimax over bounded
        grids, no iteration."""
        ref = DataReference(
            self._data_source, [x_column, y_column], condition
        )
        self._constraints.append(
            stats_constraints.MonotoneTrend(
                ref,
                max_deviation=max_deviation,
                n_buckets=n_buckets,
                decreasing=decreasing,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_theils_u_min_constraint(
        self,
        dependent_column: str,
        determinant_column: str,
        min_u: float,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): Theil's uncertainty
        coefficient ``U(dependent|determinant)`` — the fraction of the
        dependent column's entropy explained by the determinant — must
        stay >= ``min_u``.  The graded companion to
        ``add_functional_dependency_constraint``: that gate fails on a
        single exception row; this one measures how strongly the
        dependency holds (1.0 = exact FD).  Direction matters."""
        ref = DataReference(
            self._data_source,
            [dependent_column, determinant_column],
            condition,
        )
        self._constraints.append(
            stats_constraints.TheilsUMin(
                ref, min_u=min_u, name=name, cache_size=cache_size
            )
        )

    def add_white_noise_constraint(
        self,
        date_column: str,
        value_column: str,
        max_q: float,
        max_lag: int = 14,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the Ljung-Box
        portmanteau statistic of the daily ``sum(value_column)`` series
        at ``max_lag`` lags must stay <= ``max_q`` (pick the chi-squared
        critical value for your lag count, e.g. 23.7 for 14 lags at
        5%).  The pre-check for every monitor that assumes independent
        days: a failing gate means the series carries autocorrelation
        (trend, weekly cycle) those monitors must model first."""
        ref = DataReference(
            self._data_source, [date_column, value_column], condition
        )
        self._constraints.append(
            stats_constraints.WhiteNoiseLjungBox(
                ref,
                max_q=max_q,
                max_lag=max_lag,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_mann_kendall_constraint(
        self,
        date_column: str,
        value_column: str,
        max_abs_z: float = 1.96,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the Mann-Kendall trend
        statistic of the daily ``sum(value_column)`` series must stay
        within ``|z| <= max_abs_z`` (1.96 = 5% two-sided).  The
        nonparametric "no monotonic drift" gate — catches the slow
        directional creep the white-noise gate reports only as generic
        autocorrelation, and names the direction in the failure."""
        ref = DataReference(
            self._data_source, [date_column, value_column], condition
        )
        self._constraints.append(
            stats_constraints.MannKendallStability(
                ref,
                max_abs_z=max_abs_z,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_jarque_bera_constraint(
        self,
        column: str,
        max_jb: float = 5.99,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the Jarque-Bera
        normality statistic of an integer-valued ``column`` (cents,
        counts) may not exceed ``max_jb`` (χ²(2) under normality;
        5.99 = the 5% critical value) — the "should a sigma rule even
        be used on this column?" pre-check for z-score/3-sigma gates.
        One aggregation scan of DECIMAL-exact power sums."""
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            stats_constraints.JarqueBeraMax(
                ref, max_jb=max_jb, name=name, cache_size=cache_size
            )
        )

    def add_two_proportion_ztest_constraint(
        self,
        population_a: Condition,
        population_b: Condition,
        success: Condition,
        max_abs_z: float = 1.96,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the pooled
        two-proportion z statistic of ``success`` rates between the
        ``population_a`` and ``population_b`` row slices may not exceed
        ``|z| <= max_abs_z`` (1.96 = 5% two-sided) — the A/B
        experimentation gate ("the conversion rate must not have moved
        significantly between these slices").  Exact integer counts
        from ONE conditional-aggregation scan."""
        ref = DataReference(self._data_source, None, condition)
        self._constraints.append(
            stats_constraints.TwoProportionZMax(
                ref,
                population_a,
                population_b,
                success,
                max_abs_z=max_abs_z,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_ratio_ztest_constraint(
        self,
        numerator_column: str,
        denominator_column: str,
        assignment_column: str,
        max_abs_z: float = 1.96,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the delta-method z
        statistic of the ratio-of-sums metric
        ``sum(numerator)/sum(denominator)`` between the two levels of
        ``assignment_column`` must satisfy ``|z| <= max_abs_z`` (1.96 =
        5% two-sided).  The ratio-metric A/B gate (clicks/impressions,
        revenue/sessions) — a ratio-of-sums is not a mean of unit
        ratios, so the naive z variance is wrong; this uses the
        standard delta-method estimator over a ONE-ROW-PER-UNIT frame
        (aggregate first).  DECIMAL-exact sufficient statistics from
        one conditional-aggregation scan."""
        ref = DataReference(
            self._data_source,
            [numerator_column, denominator_column, assignment_column],
            condition,
        )
        self._constraints.append(
            stats_constraints.RatioZMax(
                ref,
                numerator_column,
                denominator_column,
                assignment_column,
                max_abs_z=max_abs_z,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_srm_constraint(
        self,
        assignment_column: str,
        max_chi2: float,
        expected_shares: dict | None = None,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): sample-ratio-mismatch
        gate — the Pearson chi-squared statistic of the observed
        ``assignment_column`` counts against ``expected_shares`` (level
        -> fraction; None = uniform over observed levels) may not
        exceed ``max_chi2``.  The first health check every experiment
        readout depends on: an SRM means the randomizer, logging, or
        bot filtering is biased and every downstream metric is suspect.
        A level observed in the data but missing from a provided map
        RAISES."""
        ref = DataReference(self._data_source, [assignment_column], condition)
        self._constraints.append(
            stats_constraints.SrmChi2Max(
                ref,
                assignment_column,
                max_chi2=max_chi2,
                expected_shares=expected_shares,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_pettitt_constraint(
        self,
        date_column: str,
        value_column: str,
        min_p_value: float = 0.05,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the Pettitt rank-based
        change-point test over the daily ``sum(value_column)`` series
        must NOT reject — its approximate p-value must stay >=
        ``min_p_value``.  The median-shift companion to the CUSUM gate,
        robust to heavy-tailed days; the failure names the most likely
        change day."""
        ref = DataReference(
            self._data_source, [date_column, value_column], condition
        )
        self._constraints.append(
            stats_constraints.PettittStability(
                ref,
                min_p_value=min_p_value,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_dispersion_constraint(
        self,
        count_column: str,
        max_dispersion: float,
        group_column: str | None = None,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the variance-to-mean
        ratio (index of dispersion) of the integer ``count_column`` may
        not exceed ``max_dispersion`` — per ``group_column`` when given
        (the failure names the worst group).  Poisson arrivals sit near
        1; far above means bursty/clumped counts (bots, retry storms,
        duplicate ingestion) and miscalibrated Poisson-assuming
        alerting."""
        cols = [count_column] + ([group_column] if group_column else [])
        ref = DataReference(self._data_source, cols, condition)
        self._constraints.append(
            stats_constraints.DispersionMax(
                ref,
                max_dispersion=max_dispersion,
                group_column=group_column,
                name=name,
                cache_size=cache_size,
            )
        )


    def add_diff_in_diff_constraint(
        self,
        pre_column: str,
        post_column: str,
        assignment_column: str,
        max_abs_z: float = 1.96,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the
        difference-in-differences z statistic of the integer
        post-period metric between the two levels of
        ``assignment_column``, each level baselined by its OWN
        pre-period mean, must satisfy ``|z| <= max_abs_z`` — the
        quasi-experimental gate for non-randomized rollouts (regions,
        platforms; parallel trends assumed).  The table must be ONE ROW
        PER UNIT.  One conditional-aggregation scan, DECIMAL-exact
        delta sufficient statistics."""
        ref = DataReference(
            self._data_source,
            [pre_column, post_column, assignment_column],
            condition,
        )
        self._constraints.append(
            stats_constraints.DidZMax(
                ref,
                pre_column,
                post_column,
                assignment_column,
                max_abs_z=max_abs_z,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_centroid_shift_constraint(
        self,
        vector_column: str,
        group_column: str,
        max_dist: float,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): no pair of embedding
        groups (sources, snapshots, labels) may have centroid distance
        — the linear-kernel Maximum Mean Discrepancy — above
        ``max_dist``.  The first-order embedding-drift gate: a mean
        shift breaks cosine-threshold dedup and ANN recall before any
        higher-order change shows.  One posexplode scan + one partial
        aggregation; the pair fold runs on the bounded groups*dim
        frame."""
        ref = DataReference(
            self._data_source, [vector_column, group_column], condition
        )
        self._constraints.append(
            stats_constraints.CentroidShiftMax(
                ref,
                vector_column,
                group_column,
                max_dist=max_dist,
                name=name,
                cache_size=cache_size,
            )
        )


    def add_welch_ttest_constraint(
        self,
        metric_column: str,
        assignment_column: str,
        max_abs_t: float = 1.96,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the Welch
        unequal-variance t statistic of the integer ``metric_column``
        mean between the two levels of ``assignment_column`` must
        satisfy ``|t| <= max_abs_t`` — the mean A/B gate that stays
        calibrated when the treatment changed the metric's SPREAD
        (where the pooled-variance test is anti-conservative).
        DECIMAL-exact sufficient statistics from one
        conditional-aggregation scan; the failure message carries the
        Welch-Satterthwaite df and a scipy-free p-value."""
        ref = DataReference(
            self._data_source, [metric_column, assignment_column], condition
        )
        self._constraints.append(
            stats_constraints.WelchTMax(
                ref,
                metric_column,
                assignment_column,
                max_abs_t=max_abs_t,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_brown_forsythe_constraint(
        self,
        value_column: str,
        group_column: str,
        max_f: float,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the Brown-Forsythe F
        statistic (Levene's test with the median center — robust to
        heavy tails) of the integer ``value_column`` across the levels
        of ``group_column`` may not exceed ``max_f`` — no segment's
        SPREAD may drift apart from the others, the failure mode every
        mean-based gate is blind to.  Exact per-group interpolated
        medians; DECIMAL-exact scaled deviations."""
        ref = DataReference(
            self._data_source, [value_column, group_column], condition
        )
        self._constraints.append(
            stats_constraints.BrownForsytheFMax(
                ref,
                value_column,
                group_column,
                max_f=max_f,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_cmh_constraint(
        self,
        stratum_column: str,
        exposure: Condition,
        outcome: Condition,
        max_chi2: float = 3.841,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the
        Cochran-Mantel-Haenszel χ² of association between the
        ``exposure`` and ``outcome`` row predicates across the strata
        of ``stratum_column`` may not exceed ``max_chi2`` (3.841 = 5%
        on 1 df) — "conversion must not associate with the variant
        AFTER controlling for the stratum", the gate that catches
        Simpson's-paradox reversals the marginal two-proportion z-test
        hides.  Exact per-stratum 2x2 counts from ONE
        conditional-aggregation scan."""
        ref = DataReference(self._data_source, None, condition)
        self._constraints.append(
            stats_constraints.CMHChi2Max(
                ref,
                stratum_column,
                exposure,
                outcome,
                max_chi2=max_chi2,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_bh_fdr_constraint(
        self,
        group_column: str,
        population_a: Condition,
        population_b: Condition,
        success: Condition,
        q_threshold: float = 0.05,
        max_significant: int = 0,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): after
        Benjamini-Hochberg FDR adjustment across per-``group_column``
        two-proportion z-tests of the ``success`` rate between
        ``population_a`` and ``population_b``, at most
        ``max_significant`` groups may stay significant at
        ``q_threshold`` — the segment-scan gate that does NOT fire ~5%
        of all segments by construction.  One conditional-aggregation
        shuffle; BH runs over the bounded per-group digest."""
        ref = DataReference(self._data_source, None, condition)
        self._constraints.append(
            stats_constraints.BHSignificantMax(
                ref,
                group_column,
                population_a,
                population_b,
                success,
                q_threshold=q_threshold,
                max_significant=max_significant,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_cumulative_hazard_constraint(
        self,
        duration_column: str,
        event_column: str,
        max_hazard: float,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the Nelson-Aalen
        cumulative hazard of the terminal event (``event_column`` 1 =
        observed, 0 = censored at ``duration_column``), evaluated at
        the longest observed duration, may not exceed ``max_hazard`` —
        accumulated churn pressure over the observation window stays
        below this.  One shuffle to the distinct-duration histogram;
        ordered windows over that bounded frame only."""
        ref = DataReference(
            self._data_source, [duration_column, event_column], condition
        )
        self._constraints.append(
            stats_constraints.CumulativeHazardMax(
                ref,
                duration_column,
                event_column,
                max_hazard=max_hazard,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_durbin_watson_constraint(
        self,
        date_column: str,
        value_column: str,
        min_dw: float = 1.5,
        max_dw: float = 2.5,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the Durbin-Watson
        statistic of the OLS fit through the daily ``sum(value_column)``
        series must stay within ``[min_dw, max_dw]`` (2 = the trend
        line left white noise; ≪2 = runs of systematically-missed days
        — drift, seasonality, regime shifts invisible to the slope
        gate).  DECIMAL-exact OLS sufficient statistics; residual folds
        ordered over the calendar-bounded daily frame."""
        ref = DataReference(
            self._data_source, [date_column, value_column], condition
        )
        self._constraints.append(
            stats_constraints.DurbinWatsonWithin(
                ref,
                min_dw=min_dw,
                max_dw=max_dw,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_kruskal_wallis_constraint(
        self,
        value_column: str,
        group_column: str,
        max_h: float,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the tie-corrected
        Kruskal-Wallis H of ``value_column`` ranks across the levels of
        ``group_column`` may not exceed ``max_h`` — no segment's
        distribution may sit systematically higher, the k-group
        rank-based sibling of the Mann-Whitney gate (robust to the
        outliers that drag mean gates).  Tie-block rank sums over the
        bucket-partitioned cumulative; no global window."""
        ref = DataReference(
            self._data_source, [value_column, group_column], condition
        )
        self._constraints.append(
            stats_constraints.KruskalWallisHMax(
                ref,
                value_column,
                group_column,
                max_h=max_h,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_unseen_mass_constraint(
        self,
        column: str,
        max_unseen_mass: float,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the Good-Turing unseen
        probability mass ``f1/n`` of ``column`` (the share of future
        observations expected to carry never-seen values) may not
        exceed ``max_unseen_mass`` — the coverage-saturation gate for
        id/vocabulary spaces that a bare COUNT(DISTINCT) cannot
        express; the failure carries the Chao1 richness lower bound.
        All-integer frequencies of frequencies, two partial-agg
        shuffles."""
        ref = DataReference(self._data_source, [column], condition)
        self._constraints.append(
            uniques_constraints.UnseenMassMax(
                ref,
                column,
                max_unseen_mass=max_unseen_mass,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_rmst_constraint(
        self,
        duration_column: str,
        event_column: str,
        horizon: float,
        min_rmst: float,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the restricted mean
        survival time at ``horizon`` (area under the Kaplan-Meier curve
        — average event-free time per subject within the first
        ``horizon`` units) must be at least ``min_rmst``; the scalar
        survival-value gate that stays meaningful when hazards are
        non-proportional.  Runs on the persisted bounded
        distinct-duration histogram."""
        ref = DataReference(
            self._data_source, [duration_column, event_column], condition
        )
        self._constraints.append(
            stats_constraints.RMSTMin(
                ref,
                duration_column,
                event_column,
                horizon=horizon,
                min_rmst=min_rmst,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_sequence_monotonicity_constraint(
        self,
        key_column: str,
        order_column: str,
        value_column: str,
        max_violation_fraction: float = 0.0,
        strict: bool = False,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): within each
        ``key_column`` sequence ordered by ``order_column``, the
        fraction of adjacent steps where ``value_column`` goes backward
        (or fails to strictly increase with ``strict=True``) may not
        exceed ``max_violation_fraction`` — the sequence-integrity gate
        for "cumulative totals never shrink per account" / "versions
        only grow per entity".  The only window is partitioned by the
        key; the failure names the worst offender keys."""
        ref = DataReference(
            self._data_source,
            [key_column, order_column, value_column],
            condition,
        )
        self._constraints.append(
            row_constraints.SequenceMonotonicityMax(
                ref,
                key_column,
                order_column,
                value_column,
                max_violation_fraction=max_violation_fraction,
                strict=strict,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_fisher_exact_constraint(
        self,
        population_a: Condition,
        population_b: Condition,
        success: Condition,
        min_p_value: float = 0.05,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the two-sided Fisher
        exact p-value of the ``success`` rate between the
        ``population_a`` and ``population_b`` slices must stay >=
        ``min_p_value`` — the EXACT small-sample 2x2 gate (rare
        segments, canary cohorts) where the pooled-z approximation of
        add_two_proportion_ztest_constraint is unreliable.  One
        conditional-aggregation scan ships exact integer cells; the
        hypergeometric tail is evaluated driver-side."""
        ref = DataReference(self._data_source, None, condition)
        self._constraints.append(
            stats_constraints.FisherExactMin(
                ref,
                population_a,
                population_b,
                success,
                min_p_value=min_p_value,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_forecast_backtest_constraint(
        self,
        date_column: str,
        value_column: str,
        max_mase: float = 1.0,
        horizon: int = 14,
        period: int = 7,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the seasonal-naive
        backtest MASE of the daily ``sum(value_column)`` series (last
        ``horizon`` days held out, each predicted from TRAIN ONLY by
        repeating the last in-sample period across the horizon — a
        true holdout even when horizon > period — MAE scaled by the
        in-sample seasonal-naive MAE) may not exceed ``max_mase`` —
        "tomorrow's volume must stay predictable from history"; MASE
        creeping above 1 flags regime change or broken ingestion
        before any absolute threshold fires.  Bounded calendar-frame
        joins only."""
        ref = DataReference(
            self._data_source, [date_column, value_column], condition
        )
        self._constraints.append(
            stats_constraints.ForecastBacktestMax(
                ref,
                max_mase=max_mase,
                horizon=horizon,
                period=period,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_mean_bh_fdr_constraint(
        self,
        group_column: str,
        metric_column: str,
        population_a: Condition,
        population_b: Condition,
        q_threshold: float = 0.05,
        max_significant: int = 0,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): after
        Benjamini-Hochberg FDR adjustment across per-``group_column``
        Welch comparisons of the integer ``metric_column`` mean between
        ``population_a`` and ``population_b``, at most
        ``max_significant`` groups may stay significant at
        ``q_threshold`` — the mean-metric segment sweep (the proportion
        sibling is add_bh_fdr_constraint), calibrated when a treatment
        changes a segment's spread."""
        ref = DataReference(self._data_source, None, condition)
        self._constraints.append(
            stats_constraints.MeanBHSignificantMax(
                ref,
                group_column,
                metric_column,
                population_a,
                population_b,
                q_threshold=q_threshold,
                max_significant=max_significant,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_cuped_diff_constraint(
        self,
        pre_column: str,
        post_column: str,
        assignment_column: str,
        max_abs_diff: float,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the CUPED
        variance-reduced A/B difference (Deng et al. 2013) of the
        integer ``post_column`` metric between the two levels of
        ``assignment_column``, adjusted by the ``pre_column``
        covariate, must satisfy ``|diff| <= max_abs_diff``.  The table
        must be ONE ROW PER UNIT (user/session) — aggregate first.
        Falls back to the raw difference when the pre-period has zero
        variance.  One sufficient-statistics scan, all sums
        DECIMAL-exact."""
        ref = DataReference(
            self._data_source,
            [pre_column, post_column, assignment_column],
            condition,
        )
        self._constraints.append(
            stats_constraints.CupedDiffMax(
                ref,
                pre_column,
                post_column,
                assignment_column,
                max_abs_diff=max_abs_diff,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_logrank_constraint(
        self,
        duration_column: str,
        event_column: str,
        group_column: str,
        max_chi2: float = 3.84,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the two-group log-rank
        chi-squared statistic over a one-row-per-subject frame
        (``duration_column``, ``event_column`` 1=observed/0=censored,
        two-level ``group_column``) may not exceed ``max_chi2``
        (3.84 = 5% on chi-squared(1)) — "the cohorts' survival curves
        must not differ significantly".  Subjects collapse to the
        bounded duration histogram (the Kaplan-Meier plan); a frame
        with no observed events passes vacuously."""
        ref = DataReference(
            self._data_source,
            [duration_column, event_column, group_column],
            condition,
        )
        self._constraints.append(
            stats_constraints.LogrankMax(
                ref,
                duration_column,
                event_column,
                group_column,
                max_chi2=max_chi2,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_cox_score_constraint(
        self,
        duration_column: str,
        event_column: str,
        covariate_column: str,
        max_chi2: float = 3.84,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the Cox
        proportional-hazards SCORE chi-squared for a numeric covariate
        over a one-row-per-subject frame (``duration_column``,
        ``event_column`` 1=observed/0=censored, numeric
        ``covariate_column``) may not exceed ``max_chi2`` (3.84 = 5% on
        chi-squared(1)) — "the hazard must not associate with this
        covariate".  Iteration-free score test at beta = 0; subjects
        collapse to the bounded duration histogram (the Kaplan-Meier
        plan).  No events or a constant covariate passes vacuously;
        feed an integer/cents covariate for bit-stable results."""
        ref = DataReference(
            self._data_source,
            [duration_column, event_column, covariate_column],
            condition,
        )
        self._constraints.append(
            stats_constraints.CoxScoreMax(
                ref,
                duration_column,
                event_column,
                covariate_column,
                max_chi2=max_chi2,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_sequential_ztest_constraint(
        self,
        look_column: str,
        population_a: Condition,
        population_b: Condition,
        success: Condition,
        alpha: float = 0.05,
        critical_value: float | None = None,
        n_looks: int | None = None,
        max_crossed_looks: int = 0,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): monitor the
        ``success`` rate between the ``population_a`` and
        ``population_b`` slices cumulatively at every level of
        ``look_column`` (days, hours) against an
        O'Brien-Fleming-shaped boundary ``z(t) = c/sqrt(t)`` — at most
        ``max_crossed_looks`` looks may cross.  The sequential
        completion of ``add_two_proportion_ztest_constraint``: checking
        a fixed 1.96 gate after every look inflates the false-positive
        rate; the OBF boundary spends the alpha budget across looks.
        Declare the planned schedule via ``n_looks`` to use the EXACT
        published O'Brien-Fleming constant (alpha = 0.05, K <= 10 —
        e.g. c = 2.040 for 5 looks; Jennison & Turnbull 2000, Table
        2.3); otherwise ``c`` defaults to the fixed-horizon critical
        value for ``alpha`` (slightly anti-conservative across
        repeated looks), and an explicit ``critical_value`` overrides
        both.  One grouped conditional-count scan; windows run on the
        bounded look frame."""
        # columns=None: the population/success Conditions reference
        # arbitrary columns, so the selection must keep the full row
        ref = DataReference(self._data_source, None, condition)
        self._constraints.append(
            stats_constraints.ObfCrossingMax(
                ref,
                look_column,
                population_a,
                population_b,
                success,
                alpha=alpha,
                critical_value=critical_value,
                n_looks=n_looks,
                max_crossed_looks=max_crossed_looks,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_always_valid_ztest_constraint(
        self,
        look_column: str,
        population_a: Condition,
        population_b: Condition,
        success: Condition,
        alpha: float = 0.05,
        phi: float | None = None,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the ALWAYS-VALID
        p-value of the ``success``-rate difference between the
        ``population_a`` and ``population_b`` slices, monitored
        cumulatively at every level of ``look_column``, must stay at or
        above ``alpha`` at every look (mixture sequential probability
        ratio — valid under continuous monitoring with NO look
        schedule; the anytime sibling of
        ``add_sequential_ztest_constraint``).  ``phi`` tunes the
        mixture variance (default: the first look's variance).  One
        grouped conditional-count scan; windows on the bounded look
        frame."""
        # columns=None: the population/success Conditions reference
        # arbitrary columns, so the selection must keep the full row
        ref = DataReference(self._data_source, None, condition)
        self._constraints.append(
            stats_constraints.AlwaysValidPMin(
                ref,
                look_column,
                population_a,
                population_b,
                success,
                alpha=alpha,
                phi=phi,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_qte_constraint(
        self,
        value_column: str,
        assignment_column: str,
        max_abs_qte: float,
        deciles: int = 10,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): no decile's quantile
        treatment effect (the difference of the two assignment levels'
        exact quantiles at j/``deciles``) may exceed ``max_abs_qte`` in
        absolute value — "the treatment must not move ANY part of the
        outcome distribution more than this".  Catches top-decile-only
        and spread-compressing effects that mean gates average away.
        One conditional-agg histogram scan + the shared bucketed
        cumulative; a non-two-level assignment fails with a clean
        message."""
        ref = DataReference(
            self._data_source, [value_column, assignment_column], condition
        )
        self._constraints.append(
            stats_constraints.QteMax(
                ref,
                value_column,
                assignment_column,
                max_abs_qte=max_abs_qte,
                deciles=deciles,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_grouped_qte_constraint(
        self,
        value_column: str,
        assignment_column: str,
        group_column: str,
        max_abs_qte: float,
        deciles: int = 10,
        groups: list | None = None,
        max_groups: int = 100,
        require_both_variants: bool = False,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): in EVERY segment of
        ``group_column``, no decile's quantile treatment effect may
        exceed ``max_abs_qte`` in absolute value — the per-segment
        refinement of ``add_qte_constraint`` (a treatment that moves
        one segment's tail dilutes away in the pooled grid).  Segments
        missing one assignment variant carry NULL cells and are
        tolerated unless ``require_both_variants``.  ONE
        conditional-agg histogram scan for all (segment, variant)
        cells + the shared bucketed cumulative."""
        ref = DataReference(
            self._data_source,
            [value_column, assignment_column, group_column],
            condition,
        )
        self._constraints.append(
            stats_constraints.GroupedQteMax(
                ref,
                value_column,
                assignment_column,
                group_column,
                max_abs_qte=max_abs_qte,
                deciles=deciles,
                groups=groups,
                max_groups=max_groups,
                require_both_variants=require_both_variants,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_stratified_diff_constraint(
        self,
        metric_column: str,
        assignment_column: str,
        stratum_column: str,
        max_abs_diff: float,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the post-stratification
        adjusted A/B difference of the integer ``metric_column`` between
        the two levels of ``assignment_column`` — each stratum's
        within-stratum contrast weighted by its pooled share — must
        satisfy ``|diff| <= max_abs_diff``.  The table must be ONE ROW
        PER UNIT.  The categorical-covariate companion to
        ``add_cuped_diff_constraint``; strata observed in only one
        variant are excluded (weights renormalize over comparable
        strata)."""
        ref = DataReference(
            self._data_source,
            [metric_column, assignment_column, stratum_column],
            condition,
        )
        self._constraints.append(
            stats_constraints.StratifiedDiffMax(
                ref,
                metric_column,
                assignment_column,
                stratum_column,
                max_abs_diff=max_abs_diff,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_joint_outlier_constraint(
        self,
        column_x: str,
        column_y: str,
        max_d2: float,
        max_violations: int = 0,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): no distinct
        ``(column_x, column_y)`` value pair may sit further than
        ``max_d2`` (squared Mahalanobis distance) from the pair's own
        covariance structure, tolerating at most ``max_violations``
        offending pairs.  Catches rows every marginal gate accepts but
        that are jointly impossible; collinear columns pass (no joint
        structure — the 1-D gates own that case)."""
        ref = DataReference(
            self._data_source, [column_x, column_y], condition
        )
        self._constraints.append(
            stats_constraints.JointOutlierBound(
                ref,
                max_d2=max_d2,
                max_violations=max_violations,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_bootstrap_mean_ci_constraint(
        self,
        key_column: str,
        value_column: str,
        max_relative_width: float | None = None,
        target_value: float | None = None,
        n_reps: int = 64,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the deterministic
        Poisson-bootstrap confidence interval of ``mean(value_column)``
        must be narrower than ``max_relative_width`` (CI width over
        |point mean|) and/or contain ``target_value``.  The
        uncertainty-aware companion to ``add_numeric_mean_constraint``:
        that gate fails when the mean moves, this one fails when the
        mean stops being a trustworthy number.  All ``n_reps``
        replicates accumulate in one aggregation pass via per-row
        md5-derived Poisson(1) weights keyed on ``key_column`` —
        reproducible run-to-run at any scale."""
        ref = DataReference(
            self._data_source, [key_column, value_column], condition
        )
        self._constraints.append(
            stats_constraints.BootstrapMeanStability(
                ref,
                max_relative_width=max_relative_width,
                target_value=target_value,
                n_reps=n_reps,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_k_anonymity_constraint(
        self,
        quasi_columns: list[str],
        min_k: int,
        max_at_risk_fraction: float = 0.0,
        sensitive_column: str | None = None,
        min_diversity: int | None = None,
        condition: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): every value combination
        of ``quasi_columns`` must cover at least ``min_k`` rows
        (k-anonymity), tolerating at most ``max_at_risk_fraction`` of
        rows in smaller groups; with ``sensitive_column`` /
        ``min_diversity``, each group must additionally carry >= that
        many distinct sensitive values (l-diversity).  The
        re-identification release gate for user-derived training data —
        the inverse of ``add_uniqueness_constraint``, which wants
        quasi-identifier groups small, this wants them large.  One
        partial-aggregated shuffle on the quasi key; failure messages
        name the rarest offending combinations."""
        # the selection must carry the sensitive column alongside the
        # quasi identifiers — get_selection projects to ref.columns
        ref_columns = list(quasi_columns) + (
            [sensitive_column]
            if sensitive_column is not None
            and sensitive_column not in quasi_columns
            else []
        )
        ref = DataReference(self._data_source, ref_columns, condition)
        self._constraints.append(
            miscs_constraints.KAnonymity(
                ref,
                quasi_columns=list(quasi_columns),
                min_k=min_k,
                max_at_risk_fraction=max_at_risk_fraction,
                sensitive_column=sensitive_column,
                min_diversity=min_diversity,
                name=name,
                cache_size=cache_size,
            )
        )


class BetweenRequirement(Requirement):
    """Constraints comparing two data sources (reference requirements.py:1266-2227)."""

    def __init__(
        self,
        data_source: DataSource,
        data_source2: DataSource,
        date_column: str | None = None,
        date_column2: str | None = None,
    ):
        self._data_source = data_source
        self._data_source2 = data_source2
        self._ref = DataReference(self._data_source)
        self._ref2 = DataReference(self._data_source2)
        self._date_column = date_column
        self._date_column2 = date_column2
        super().__init__()
        self._data_source = data_source
        self._data_source2 = data_source2

    @classmethod
    def from_tables(
        cls,
        table_name1: str,
        table_name2: str,
        db_name1: str | None = None,
        db_name2: str | None = None,
        schema_name1: str | None = None,
        schema_name2: str | None = None,
        date_column: str | None = None,
        date_column2: str | None = None,
    ) -> "BetweenRequirement":
        return cls(
            data_source=TableDataSource(
                db_name=db_name1, table_name=table_name1, schema_name=schema_name1
            ),
            data_source2=TableDataSource(
                db_name=db_name2, table_name=table_name2, schema_name=schema_name2
            ),
            date_column=date_column,
            date_column2=date_column2,
        )

    @classmethod
    def from_parquets(
        cls,
        path1: str,
        path2: str,
        name1: str | None = None,
        name2: str | None = None,
        date_column: str | None = None,
        date_column2: str | None = None,
    ) -> "BetweenRequirement":
        return cls(
            data_source=ParquetDataSource(path1, name=name1),
            data_source2=ParquetDataSource(path2, name=name2),
            date_column=date_column,
            date_column2=date_column2,
        )

    @classmethod
    def from_raw_queries(
        cls,
        query1: str,
        query2: str,
        name1: str,
        name2: str,
        columns1: list[str] | None = None,
        columns2: list[str] | None = None,
        date_column: str | None = None,
        date_column2: str | None = None,
    ) -> "BetweenRequirement":
        return cls(
            data_source=RawQueryDataSource(query1, name1, columns=columns1),
            data_source2=RawQueryDataSource(query2, name2, columns=columns2),
            date_column=date_column,
            date_column2=date_column2,
        )

    @classmethod
    def from_expressions(
        cls,
        expression1: DataFrame,
        expression2: DataFrame,
        name1: str,
        name2: str,
        date_column: str | None = None,
        date_column2: str | None = None,
    ) -> "BetweenRequirement":
        return cls(
            data_source=ExpressionDataSource(expression1, name1),
            data_source2=ExpressionDataSource(expression2, name2),
            date_column=date_column,
            date_column2=date_column2,
        )

    from_dataframes = from_expressions

    def get_date_growth_rate(self, engine: SparkSession) -> float:
        if self._date_column is None or self._date_column2 is None:
            raise ValueError("Date growth can't be computed without date column.")
        date_growth_rate, _ = get_date_growth_rate(
            engine, self._ref, self._ref2, self._date_column, self._date_column2
        )
        return date_growth_rate

    def _get_deviation_getter(
        self, fix_value: float | None, deviation: float | None
    ) -> Callable[[SparkSession], float]:
        if fix_value is None and deviation is None:
            raise ValueError("No valid gain/loss/deviation given.")
        if deviation is None:
            assert fix_value is not None
            return lambda engine: fix_value
        if fix_value is None:
            return lambda engine: self.get_date_growth_rate(engine) + deviation
        return lambda engine: max(
            fix_value, self.get_date_growth_rate(engine) + deviation
        )

    def add_n_rows_equality_constraint(
        self,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, condition=condition1)
        ref2 = DataReference(self._data_source2, condition=condition2)
        self._constraints.append(
            nrows_constraints.NRowsEquality(
                ref, ref2=ref2, name=name, cache_size=cache_size
            )
        )

    def add_n_rows_max_gain_constraint(
        self,
        constant_max_relative_gain: float | None = None,
        date_range_gain_deviation: float | None = None,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        max_relative_gain_getter = self._get_deviation_getter(
            constant_max_relative_gain, date_range_gain_deviation
        )
        ref = DataReference(self._data_source, condition=condition1)
        ref2 = DataReference(self._data_source2, condition=condition2)
        self._constraints.append(
            nrows_constraints.NRowsMaxGain(
                ref, ref2, max_relative_gain_getter, name=name, cache_size=cache_size
            )
        )

    def add_n_rows_min_gain_constraint(
        self,
        constant_min_relative_gain: float | None = None,
        date_range_gain_deviation: float | None = None,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        min_relative_gain_getter = self._get_deviation_getter(
            constant_min_relative_gain, date_range_gain_deviation
        )
        ref = DataReference(self._data_source, condition=condition1)
        ref2 = DataReference(self._data_source2, condition=condition2)
        self._constraints.append(
            nrows_constraints.NRowsMinGain(
                ref, ref2, min_relative_gain_getter, name=name, cache_size=cache_size
            )
        )

    def add_n_rows_max_loss_constraint(
        self,
        constant_max_relative_loss: float | None = None,
        date_range_loss_deviation: float | None = None,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        max_relative_loss_getter = self._get_deviation_getter(
            constant_max_relative_loss, date_range_loss_deviation
        )
        ref = DataReference(self._data_source, condition=condition1)
        ref2 = DataReference(self._data_source2, condition=condition2)
        self._constraints.append(
            nrows_constraints.NRowsMaxLoss(
                ref, ref2, max_relative_loss_getter, name=name, cache_size=cache_size
            )
        )

    def add_n_uniques_equality_constraint(
        self,
        columns1: list[str] | None,
        columns2: list[str] | None,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, columns1, condition1)
        ref2 = DataReference(self._data_source2, columns2, condition2)
        self._constraints.append(
            uniques_constraints.NUniquesEquality(
                ref, ref2=ref2, name=name, cache_size=cache_size
            )
        )

    def add_n_uniques_max_gain_constraint(
        self,
        columns1: list[str] | None,
        columns2: list[str] | None,
        constant_max_relative_gain: float | None = None,
        date_range_gain_deviation: float | None = None,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        max_relative_gain_getter = self._get_deviation_getter(
            constant_max_relative_gain, date_range_gain_deviation
        )
        ref = DataReference(self._data_source, columns1, condition1)
        ref2 = DataReference(self._data_source2, columns2, condition2)
        self._constraints.append(
            uniques_constraints.NUniquesMaxGain(
                ref, ref2, max_relative_gain_getter, name=name, cache_size=cache_size
            )
        )

    def add_n_uniques_max_loss_constraint(
        self,
        columns1: list[str] | None,
        columns2: list[str] | None,
        constant_max_relative_loss: float | None = None,
        date_range_loss_deviation: float | None = None,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        max_relative_loss_getter = self._get_deviation_getter(
            constant_max_relative_loss, date_range_loss_deviation
        )
        ref = DataReference(self._data_source, columns1, condition1)
        ref2 = DataReference(self._data_source2, columns2, condition2)
        self._constraints.append(
            uniques_constraints.NUniquesMaxLoss(
                ref, ref2, max_relative_loss_getter, name=name, cache_size=cache_size
            )
        )

    def add_max_null_fraction_constraint(
        self,
        column1: str,
        column2: str,
        max_relative_deviation: float,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column1], condition1)
        ref2 = DataReference(self._data_source2, [column2], condition2)
        self._constraints.append(
            miscs_constraints.MaxNullFraction(
                ref,
                ref2=ref2,
                max_relative_deviation=max_relative_deviation,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_numeric_min_constraint(
        self,
        column1: str,
        column2: str,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column1], condition1)
        ref2 = DataReference(self._data_source2, [column2], condition2)
        self._constraints.append(
            numeric_constraints.NumericMin(
                ref, ref2=ref2, name=name, cache_size=cache_size
            )
        )

    def add_numeric_max_constraint(
        self,
        column1: str,
        column2: str,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column1], condition1)
        ref2 = DataReference(self._data_source2, [column2], condition2)
        self._constraints.append(
            numeric_constraints.NumericMax(
                ref, ref2=ref2, name=name, cache_size=cache_size
            )
        )

    def add_uniques_equality_constraint(
        self,
        columns1: list[str],
        columns2: list[str],
        filter_func: Callable[[list[_T]], list[_T]] | None = None,
        map_func: Callable[[_T], _T] | None = None,
        reduce_func: Callable[[Collection], Collection] | None = None,
        output_processors: OutputProcessor
        | list[OutputProcessor]
        | None = output_processor_limit,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
        max_uniques: int | None = DEFAULT_MAX_UNIQUES,
    ) -> None:
        ref = DataReference(self._data_source, columns1, condition1)
        ref2 = DataReference(self._data_source2, columns2, condition2)
        self._constraints.append(
            uniques_constraints.UniquesEquality(
                ref,
                ref2=ref2,
                filter_func=filter_func,
                map_func=map_func,
                reduce_func=reduce_func,
                output_processors=output_processors,
                name=name,
                cache_size=cache_size,
                max_uniques=max_uniques,
            )
        )

    def add_uniques_superset_constraint(
        self,
        columns1: list[str],
        columns2: list[str],
        max_relative_violations: float = 0,
        filter_func: Callable[[list[_T]], list[_T]] | None = None,
        map_func: Callable[[_T], _T] | None = None,
        reduce_func: Callable[[Collection], Collection] | None = None,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        output_processors: OutputProcessor
        | list[OutputProcessor]
        | None = output_processor_limit,
        cache_size=None,
        max_uniques: int | None = DEFAULT_MAX_UNIQUES,
    ) -> None:
        ref = DataReference(self._data_source, columns1, condition1)
        ref2 = DataReference(self._data_source2, columns2, condition2)
        self._constraints.append(
            uniques_constraints.UniquesSuperset(
                ref,
                ref2=ref2,
                max_relative_violations=max_relative_violations,
                filter_func=filter_func,
                map_func=map_func,
                reduce_func=reduce_func,
                output_processors=output_processors,
                name=name,
                cache_size=cache_size,
                max_uniques=max_uniques,
            )
        )

    def add_uniques_subset_constraint(
        self,
        columns1: list[str],
        columns2: list[str],
        max_relative_violations: float = 0,
        filter_func: Callable[[list[_T]], list[_T]] | None = None,
        compare_distinct: bool = False,
        map_func: Callable[[_T], _T] | None = None,
        reduce_func: Callable[[Collection], Collection] | None = None,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        output_processors: OutputProcessor
        | list[OutputProcessor]
        | None = output_processor_limit,
        cache_size=None,
        max_uniques: int | None = DEFAULT_MAX_UNIQUES,
    ) -> None:
        ref = DataReference(self._data_source, columns1, condition1)
        ref2 = DataReference(self._data_source2, columns2, condition2)
        self._constraints.append(
            uniques_constraints.UniquesSubset(
                ref,
                ref2=ref2,
                max_relative_violations=max_relative_violations,
                compare_distinct=compare_distinct,
                filter_func=filter_func,
                map_func=map_func,
                reduce_func=reduce_func,
                output_processors=output_processors,
                name=name,
                cache_size=cache_size,
                max_uniques=max_uniques,
            )
        )

    def add_numeric_mean_constraint(
        self,
        column1: str,
        column2: str,
        max_absolute_deviation: float,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column1], condition1)
        ref2 = DataReference(self._data_source2, [column2], condition2)
        self._constraints.append(
            numeric_constraints.NumericMean(
                ref,
                max_absolute_deviation,
                ref2=ref2,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_numeric_percentile_constraint(
        self,
        column1: str,
        column2: str,
        percentage: float,
        max_absolute_deviation: float | None = None,
        max_relative_deviation: float | None = None,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column1], condition1)
        ref2 = DataReference(self._data_source2, [column2], condition2)
        self._constraints.append(
            numeric_constraints.NumericPercentile(
                ref,
                percentage=percentage,
                max_absolute_deviation=max_absolute_deviation,
                max_relative_deviation=max_relative_deviation,
                ref2=ref2,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_date_min_constraint(
        self,
        column1: str,
        column2: str,
        use_lower_bound_reference: bool = True,
        column_type: str = "date",
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column1], condition1)
        ref2 = DataReference(self._data_source2, [column2], condition2)
        self._constraints.append(
            date_constraints.DateMin(
                ref,
                ref2=ref2,
                use_lower_bound_reference=use_lower_bound_reference,
                column_type=column_type,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_date_max_constraint(
        self,
        column1: str,
        column2: str,
        use_upper_bound_reference: bool = True,
        column_type: str = "date",
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column1], condition1)
        ref2 = DataReference(self._data_source2, [column2], condition2)
        self._constraints.append(
            date_constraints.DateMax(
                ref,
                ref2=ref2,
                use_upper_bound_reference=use_upper_bound_reference,
                column_type=column_type,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_varchar_min_length_constraint(
        self,
        column1: str,
        column2: str,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column1], condition1)
        ref2 = DataReference(self._data_source2, [column2], condition2)
        self._constraints.append(
            varchar_constraints.VarCharMinLength(
                ref, ref2=ref2, name=name, cache_size=cache_size
            )
        )

    def add_varchar_max_length_constraint(
        self,
        column1: str,
        column2: str,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, [column1], condition1)
        ref2 = DataReference(self._data_source2, [column2], condition2)
        self._constraints.append(
            varchar_constraints.VarCharMaxLength(
                ref, ref2=ref2, name=name, cache_size=cache_size
            )
        )

    def add_column_subset_constraint(
        self, name: str | None = None, cache_size=None
    ) -> None:
        self._constraints.append(
            column_constraints.ColumnSubset(
                self._ref, ref2=self._ref2, name=name, cache_size=cache_size
            )
        )

    def add_column_superset_constraint(
        self, name: str | None = None, cache_size=None
    ) -> None:
        self._constraints.append(
            column_constraints.ColumnSuperset(
                self._ref, ref2=self._ref2, name=name, cache_size=cache_size
            )
        )

    def add_column_type_constraint(
        self,
        column1: str,
        column2: str,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref1 = DataReference(self._data_source, [column1])
        ref2 = DataReference(self._data_source2, [column2])
        self._constraints.append(
            column_constraints.ColumnType(
                ref1, ref2=ref2, name=name, cache_size=cache_size
            )
        )

    def add_row_equality_constraint(
        self,
        columns1: list[str] | None,
        columns2: list[str] | None,
        max_missing_fraction: float,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(self._data_source, columns1, condition1)
        ref2 = DataReference(self._data_source2, columns2, condition2)
        self._constraints.append(
            row_constraints.RowEquality(
                ref,
                ref2,
                lambda engine: max_missing_fraction,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_row_subset_constraint(
        self,
        columns1: list[str] | None,
        columns2: list[str] | None,
        constant_max_missing_fraction: float | None,
        date_range_loss_fraction: float | None = None,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        max_missing_fraction_getter = self._get_deviation_getter(
            constant_max_missing_fraction, date_range_loss_fraction
        )
        ref = DataReference(self._data_source, columns1, condition1)
        ref2 = DataReference(self._data_source2, columns2, condition2)
        self._constraints.append(
            row_constraints.RowSubset(
                ref, ref2, max_missing_fraction_getter, name=name, cache_size=cache_size
            )
        )

    def add_row_superset_constraint(
        self,
        columns1: list[str] | None,
        columns2: list[str] | None,
        constant_max_missing_fraction: float,
        date_range_loss_fraction: float | None = None,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        max_missing_fraction_getter = self._get_deviation_getter(
            constant_max_missing_fraction, date_range_loss_fraction
        )
        ref = DataReference(self._data_source, columns1, condition1)
        ref2 = DataReference(self._data_source2, columns2, condition2)
        self._constraints.append(
            row_constraints.RowSuperset(
                ref, ref2, max_missing_fraction_getter, name=name, cache_size=cache_size
            )
        )

    def add_foreign_key_constraint(
        self,
        columns1: list[str],
        columns2: list[str],
        max_orphan_fraction: float = 0.0,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart; nearest are the row
        subset checks, reference requirements.py:1475-1540 parity rows).
        Every non-NULL ``columns1`` key of the first source must exist in
        ``columns2`` of the second — at most ``max_orphan_fraction`` of
        checked child rows may be orphans. NULL child keys are FK-exempt
        (ANSI MATCH SIMPLE)."""
        ref = DataReference(self._data_source, columns1, condition1)
        ref2 = DataReference(self._data_source2, columns2, condition2)
        self._constraints.append(
            integrity_constraints.ForeignKey(
                ref,
                ref2,
                max_orphan_fraction=max_orphan_fraction,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_row_matching_equality_constraint(
        self,
        matching_columns1: list[str],
        matching_columns2: list[str],
        comparison_columns1: list[str],
        comparison_columns2: list[str],
        max_missing_fraction: float,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        ref = DataReference(
            self._data_source, matching_columns1 + comparison_columns1, condition1
        )
        ref2 = DataReference(
            self._data_source2, matching_columns2 + comparison_columns2, condition2
        )
        self._constraints.append(
            row_constraints.RowMatchingEquality(
                ref,
                ref2,
                matching_columns1,
                matching_columns2,
                comparison_columns1,
                comparison_columns2,
                lambda engine: max_missing_fraction,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_join_cardinality_constraint(
        self,
        key_column1: str,
        key_column2: str,
        max_output_rows: int | None = None,
        max_fanout: int | None = None,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the EXACT inner-join
        cardinality of the two sources on the given keys may not exceed
        ``max_output_rows``, and/or no key's per-key fanout product may
        exceed ``max_fanout`` — the pre-join explosion gate.  Computed
        from per-key count digests (one aggregation per side), never by
        running the join; products DECIMAL-exact."""
        ref = DataReference(
            self._data_source, [key_column1], condition=condition1
        )
        ref2 = DataReference(
            self._data_source2, [key_column2], condition=condition2
        )
        self._constraints.append(
            stats_constraints.JoinFanoutMax(
                ref,
                ref2,
                key_column1,
                key_column2,
                max_output_rows=max_output_rows,
                max_fanout=max_fanout,
                name=name,
                cache_size=cache_size,
            )
        )


    def add_ks_2sample_constraint(
        self,
        column1: str,
        column2: str,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        significance_level: float = 0.05,
        cache_size=None,
    ) -> None:
        if not column1 or not column2:
            raise ValueError(
                "Column names have to be given for this test's functionality."
            )
        if significance_level <= 0.0 or significance_level > 1.0:
            raise ValueError(
                "The requested significance level has to be in ``(0.0, 1.0]``. "
                "Default is 0.05."
            )
        ref = DataReference(self._data_source, [column1], condition=condition1)
        ref2 = DataReference(self._data_source2, [column2], condition=condition2)
        self._constraints.append(
            stats_constraints.KolmogorovSmirnov2Sample(
                ref, ref2, significance_level, name=name, cache_size=cache_size
            )
        )

    def add_mann_whitney_constraint(
        self,
        column1: str,
        column2: str,
        significance_level: float = 0.05,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): two-sample Mann-Whitney
        U (Wilcoxon rank-sum) location-shift test between a column of
        each source; fails when the tie-corrected two-sided p-value
        drops below ``significance_level``.  Ranks are integer-exact
        in-engine (bucket-partitioned cumulative — no global sort);
        one digest row reaches the driver."""
        if not column1 or not column2:
            raise ValueError(
                "Column names have to be given for this test's functionality."
            )
        ref = DataReference(self._data_source, [column1], condition=condition1)
        ref2 = DataReference(
            self._data_source2, [column2], condition=condition2
        )
        self._constraints.append(
            stats_constraints.MannWhitneyU(
                ref, ref2, significance_level, name=name, cache_size=cache_size
            )
        )

    def add_welch_ttest_constraint(
        self,
        column1: str,
        column2: str,
        significance_level: float = 0.05,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): Welch unequal-variance
        t-test between an integer metric column of each source; fails
        when the two-sided p-value (Welch-Satterthwaite df, scipy-free)
        drops below ``significance_level``.  The uncertainty-aware
        Between mean gate: tolerance scales with each sample's own
        variability, calibrated even when the two sources' spreads
        differ.  One conditional-aggregation scan over the tagged
        union; DECIMAL-exact sufficient statistics."""
        if not column1 or not column2:
            raise ValueError(
                "Column names have to be given for this test's functionality."
            )
        ref = DataReference(self._data_source, [column1], condition=condition1)
        ref2 = DataReference(
            self._data_source2, [column2], condition=condition2
        )
        self._constraints.append(
            stats_constraints.WelchTBetween(
                ref, ref2, significance_level, name=name, cache_size=cache_size
            )
        )

    def add_bootstrap_mean_overlap_constraint(
        self,
        key_column1: str,
        value_column1: str,
        key_column2: str,
        value_column2: str,
        max_gap: float = 0.0,
        n_reps: int = 64,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the deterministic
        Poisson-bootstrap confidence intervals of ``mean(value)`` in
        the two sources must overlap (or gap by at most ``max_gap``
        value units) — the uncertainty-aware Between mean comparison:
        it fires only when the means are statistically DISTINGUISHABLE
        given each sample's own variability, not on every noisy
        wobble.  One single-pass bootstrap per source, md5-keyed on the
        given key columns — reproducible run-to-run."""
        ref = DataReference(
            self._data_source,
            [key_column1, value_column1],
            condition=condition1,
        )
        ref2 = DataReference(
            self._data_source2,
            [key_column2, value_column2],
            condition=condition2,
        )
        self._constraints.append(
            stats_constraints.BootstrapMeanOverlap(
                ref,
                ref2,
                max_gap=max_gap,
                n_reps=n_reps,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_wasserstein_max_constraint(
        self,
        column1: str,
        column2: str,
        max_distance: float,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the exact 1-D
        Wasserstein (earth mover's) distance between a column of each
        source may not exceed ``max_distance`` (in the column's units).
        Unlike PSI (binned) and KS (max deviation only), EMD weights
        drift by HOW FAR mass moved.  Computed in-engine with
        bucket-partitioned windows — no global sort; one digest row
        reaches the driver."""
        if not column1 or not column2:
            raise ValueError(
                "Column names have to be given for this test's functionality."
            )
        ref = DataReference(self._data_source, [column1], condition=condition1)
        ref2 = DataReference(
            self._data_source2, [column2], condition=condition2
        )
        self._constraints.append(
            stats_constraints.WassersteinMax(
                ref, ref2, max_distance, name=name, cache_size=cache_size
            )
        )

    def add_anderson_darling_constraint(
        self,
        column1: str,
        column2: str,
        max_ad: float,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the two-sample
        Anderson-Darling A² statistic between ``column1``'s and
        ``column2``'s distributions may not exceed ``max_ad`` — the
        TAIL-weighted companion to the KS constraint (KS reports only
        the max CDF gap; A² weights every gap by 1/(B(N−B)), so tail
        disagreement the sup misses still fires).  One union-histogram
        shuffle + the bucket-partitioned cumulative."""
        if not column1 or not column2:
            raise ValueError(
                "Column names have to be given for this test's functionality."
            )
        ref = DataReference(self._data_source, [column1], condition=condition1)
        ref2 = DataReference(
            self._data_source2, [column2], condition=condition2
        )
        self._constraints.append(
            stats_constraints.Rank2SampleMax(
                ref, ref2, "ad", max_ad, name=name, cache_size=cache_size
            )
        )

    def add_cramer_von_mises_constraint(
        self,
        column1: str,
        column2: str,
        max_cvm: float,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): the tie-weighted
        two-sample Cramér-von Mises T statistic between ``column1``'s
        and ``column2``'s distributions may not exceed ``max_cvm`` —
        the integral-squared (L2) drift gate, sensitive to broad
        low-amplitude CDF displacement that never produces a large sup
        (KS) or tail term (AD).  Same single-shuffle plan as
        ``add_anderson_darling_constraint`` (one operator computes
        both)."""
        if not column1 or not column2:
            raise ValueError(
                "Column names have to be given for this test's functionality."
            )
        ref = DataReference(self._data_source, [column1], condition=condition1)
        ref2 = DataReference(
            self._data_source2, [column2], condition=condition2
        )
        self._constraints.append(
            stats_constraints.Rank2SampleMax(
                ref, ref2, "cvm", max_cvm, name=name, cache_size=cache_size
            )
        )

    def add_psi_constraint(
        self,
        column1: str,
        column2: str,
        max_psi: float,
        lo: float,
        hi: float,
        n_buckets: int = 10,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): bound the population
        stability index between ``column1``'s and ``column2``'s
        distributions over ``n_buckets`` fixed-width buckets spanning
        ``[lo, hi)``. Convention: < 0.1 stable, > 0.25 drifted."""
        if not column1 or not column2:
            raise ValueError(
                "Column names have to be given for this test's functionality."
            )
        if hi <= lo or n_buckets < 2:
            raise ValueError(
                "Bucketing requires hi > lo and at least 2 buckets."
            )
        ref = DataReference(self._data_source, [column1], condition=condition1)
        ref2 = DataReference(self._data_source2, [column2], condition=condition2)
        self._constraints.append(
            stats_constraints.PopulationStabilityIndex(
                ref, ref2, max_psi, lo, hi, n_buckets,
                name=name, cache_size=cache_size,
            )
        )

    def add_js_divergence_constraint(
        self,
        column1: str,
        column2: str,
        max_jsd: float,
        lo: float,
        hi: float,
        n_buckets: int = 10,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): bound the
        Jensen-Shannon divergence (nats) between ``column1``'s and
        ``column2``'s distributions over ``n_buckets`` fixed-width
        buckets spanning ``[lo, hi)`` — the bounded, symmetric drift
        gate (capped at ln 2 and finite on disjoint support, where
        PSI's log-ratio explodes)."""
        if not column1 or not column2:
            raise ValueError(
                "Column names have to be given for this test's functionality."
            )
        if hi <= lo or n_buckets < 2:
            raise ValueError(
                "Bucketing requires hi > lo and at least 2 buckets."
            )
        ref = DataReference(self._data_source, [column1], condition=condition1)
        ref2 = DataReference(self._data_source2, [column2], condition=condition2)
        self._constraints.append(
            stats_constraints.JsDivergenceMax(
                ref, ref2, max_jsd, lo, hi, n_buckets,
                name=name, cache_size=cache_size,
            )
        )

    def add_profile_drift_constraint(
        self,
        columns: list[str],
        mean_rel_tol: float = 0.05,
        null_abs_tol: float = 0.01,
        distinct_rel_tol: float = 0.2,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): fail when any of
        ``columns``'s profile statistics drift beyond tolerance between
        the two data sources — relative mean shift > ``mean_rel_tol``,
        null-fraction shift > ``null_abs_tol``, or relative
        distinct-count shift > ``distinct_rel_tol``.  One profile scan
        per side regardless of column count."""
        if not columns:
            raise ValueError(
                "Column names have to be given for this test's functionality."
            )
        ref = DataReference(self._data_source, list(columns), condition1)
        ref2 = DataReference(self._data_source2, list(columns), condition2)
        self._constraints.append(
            stats_constraints.ProfileDrift(
                ref,
                ref2,
                mean_rel_tol=mean_rel_tol,
                null_abs_tol=null_abs_tol,
                distinct_rel_tol=distinct_rel_tol,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_snapshot_diff_constraint(
        self,
        key_columns: list[str],
        compare_columns: list[str],
        max_added_fraction: float | None = None,
        max_removed_fraction: float | None = None,
        max_changed_fraction: float | None = None,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): bound the fraction of
        added / removed / changed keys between the first (new) and second
        (old) data source — the CDC load audit. ``key_columns`` must
        identify rows in both snapshots; a row counts as changed when ANY
        of ``compare_columns`` differs (null-safe). One full-outer hash
        join on the key in-engine; four counters reach the driver."""
        if not key_columns or not compare_columns:
            raise ValueError(
                "key_columns and compare_columns must be non-empty."
            )
        bounds = (max_added_fraction, max_removed_fraction, max_changed_fraction)
        if all(b is None for b in bounds):
            raise ValueError("At least one fraction bound must be given.")
        if any(b is not None and not 0 <= b <= 1 for b in bounds):
            raise ValueError("Fraction bounds must be within [0, 1].")
        cols = list(key_columns) + list(compare_columns)
        ref = DataReference(self._data_source, cols, condition=condition1)
        ref2 = DataReference(self._data_source2, cols, condition=condition2)
        self._constraints.append(
            stats_constraints.SnapshotDiff(
                ref,
                ref2,
                keys=list(key_columns),
                compare_columns=list(compare_columns),
                max_added_fraction=max_added_fraction,
                max_removed_fraction=max_removed_fraction,
                max_changed_fraction=max_changed_fraction,
                name=name,
                cache_size=cache_size,
            )
        )

    def add_winnowing_contamination_constraint(
        self,
        id_column1: str,
        text_column1: str,
        id_column2: str,
        text_column2: str,
        max_fraction: float,
        k: int = 4,
        w: int = 5,
        min_overlap: float = 0.0,
        condition1: Condition | None = None,
        condition2: Condition | None = None,
        name: str | None = None,
        cache_size=None,
    ) -> None:
        """Extension (no reference counterpart): at most
        ``max_fraction`` of the SECOND source's documents (the eval
        set) may share winnowing-selected fingerprints with the FIRST
        source (the training corpus).  Winnowing guarantees any shared
        verbatim passage of at least ``w + k - 1`` words yields a
        shared fingerprint at ~2/(w+1) index density — the local-match
        contamination gate that n-gram set overlap (fixed exactly-n
        spans, dense index) and MinHash (whole-document similarity)
        both miss.  ``min_overlap`` makes a document count as
        contaminated only above that shared-fingerprint fraction.  The
        train side reduces to its distinct 60-bit fingerprint set; one
        int64 semi-join, text never shuffles."""
        ref = DataReference(
            self._data_source, [id_column1, text_column1], condition1
        )
        ref2 = DataReference(
            self._data_source2, [id_column2, text_column2], condition2
        )
        self._constraints.append(
            stats_constraints.WinnowingContaminationMax(
                ref,
                ref2,
                id_column1,
                text_column1,
                id_column2,
                text_column2,
                max_fraction=max_fraction,
                k=k,
                w=w,
                min_overlap=min_overlap,
                name=name,
                cache_size=cache_size,
            )
        )
