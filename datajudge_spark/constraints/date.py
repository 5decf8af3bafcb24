"""Date column gates: min/max with directional bounds, fraction-in-
range, and the date interval no-gap/no-overlap specializations.

Message wording stays byte-compatible with the reference
(/root/reference/src/datajudge/constraints/date.py); the wording
contract is pinned by ``tests/test_message_parity.py``.  The structure
is the repo's own: one declarative extremum class covers min AND max in
both bound directions, and interval verdicts render through the shared
``interval_violation_verdict`` helper in ``numeric.py``.
"""

from __future__ import annotations

import datetime as dt
from typing import Any

from pyspark.sql import SparkSession

from .. import operators as ops
from ..reference import DataReference
from .base import Constraint, OptionalSelections
from .interval import NoGapConstraint, NoOverlapConstraint
from .interval import interval_violation_verdict

_BOUND_LITERAL_FORMAT = "'%Y-%m-%d'"

_SAY_DATE_EXTREMUM = "{ref} has {kind} {got} {cmp} {prefix} {want}. {cond}"
_SAY_DATE_FRACTION = (
    "{ref} has {got} < {want} of values between {lo} and {hi}. {cond} "
)

_RETRIEVED_VALUE_FORMATS = {
    "date": "%Y-%m-%d",
    "datetime": "%Y-%m-%d %H:%M:%S",
    "datetime2": "%Y-%m-%d %H:%M:%S",
    "smalldatetime": "%Y-%m-%d %H:%M:%S",
    "timestamp": "%Y-%m-%d %H:%M:%S",
}

Date = str | dt.date | dt.datetime


def _get_format_from_column_type(column_type: str) -> str:
    try:
        return _RETRIEVED_VALUE_FORMATS[column_type.lower()]
    except KeyError:
        raise ValueError(f"Illegal date column type: {column_type}") from None


def _convert_to_date(db_result: Date, format: str) -> dt.date:
    # JDBC-ish engines may hand back strings (with fractional seconds);
    # Spark hands back date/datetime objects directly
    if isinstance(db_result, dt.datetime):
        return db_result.date()
    if isinstance(db_result, dt.date):
        return db_result
    if isinstance(db_result, str):
        return dt.datetime.strptime(db_result.split(".")[0], format).date()
    raise TypeError(
        f"Value has type {type(db_result)}; cannot be converted to date."
    )


class _DateExtremum(Constraint):
    """min/max date gate with a directional bound.

    ``_kind`` picks the aggregate.  ``bound_is_floor`` says which side
    of the literal the factual extremum must land on: a min gate with a
    floor bound (``use_lower_bound_reference``) requires min ≥ bound,
    while the same gate with a ceiling bound requires min ≤ bound — and
    symmetrically for max.  The comparison glyph in the verdict always
    shows the VIOLATED direction.
    """

    _kind: str

    def __init__(
        self,
        ref: DataReference,
        bound_is_floor: bool,
        column_type: str,
        name: str | None = None,
        cache_size=None,
        *,
        ref2: DataReference | None = None,
        bound: str | None = None,
    ):
        self._format = _get_format_from_column_type(column_type)
        self._bound_is_floor = bound_is_floor
        parsed: dt.date | None = None
        if bound is not None:
            parsed = dt.datetime.strptime(bound, _BOUND_LITERAL_FORMAT).date()
        super().__init__(
            ref, ref2=ref2, ref_value=parsed, name=name, cache_size=cache_size
        )

    def _scalar_agg(self, ref: DataReference) -> ops.ScalarAgg:
        return ops.ScalarAgg(self._kind, ref)

    def _retrieve(
        self, engine: SparkSession, ref: DataReference
    ) -> tuple[dt.date, OptionalSelections]:
        value, selections = super()._retrieve(engine, ref)
        return _convert_to_date(value, self._format), selections

    def _compare(
        self, value_factual: dt.date, value_target: dt.date
    ) -> tuple[bool, str | None]:
        if self._kind == "min":
            if value_target is None:
                return True, None
            if value_factual is None:
                return value_target == 0, "Empty set."
        else:
            if value_factual is None:
                return True, None
            if value_target is None:
                return value_factual == 0, "Empty reference set."
        if self._bound_is_floor:
            holds = value_factual >= value_target
            glyph = "<"
        else:
            holds = value_factual <= value_target
            glyph = ">"
        verdict = _SAY_DATE_EXTREMUM.format(
            ref=self._ref,
            kind=self._kind,
            got=value_factual,
            cmp=glyph,
            prefix=self._target_prefix,
            want=value_target,
            cond=self._condition_string,
        )
        return holds, verdict


class DateMin(_DateExtremum):
    _kind = "min"

    def __init__(
        self,
        ref: DataReference,
        use_lower_bound_reference: bool,
        column_type: str,
        name: str | None = None,
        cache_size=None,
        *,
        ref2: DataReference | None = None,
        min_value: str | None = None,
    ):
        super().__init__(
            ref,
            use_lower_bound_reference,
            column_type,
            name=name,
            cache_size=cache_size,
            ref2=ref2,
            bound=min_value,
        )
        self._use_lower_bound_reference = use_lower_bound_reference


class DateMax(_DateExtremum):
    _kind = "max"

    def __init__(
        self,
        ref: DataReference,
        use_upper_bound_reference: bool,
        column_type: str,
        name: str | None = None,
        cache_size=None,
        *,
        ref2: DataReference | None = None,
        max_value: str | None = None,
    ):
        # the max gate's natural reading is a CEILING: the flag says
        # "the bound is the upper reference", i.e. bound_is_floor=False
        super().__init__(
            ref,
            not use_upper_bound_reference,
            column_type,
            name=name,
            cache_size=cache_size,
            ref2=ref2,
            bound=max_value,
        )
        self._use_upper_bound_reference = use_upper_bound_reference


class DateBetween(Constraint):
    def __init__(
        self,
        ref: DataReference,
        min_fraction: float,
        lower_bound: str,
        upper_bound: str,
        name: str | None = None,
        cache_size=None,
    ):
        super().__init__(ref, ref_value=min_fraction, name=name, cache_size=cache_size)
        self._lower_bound = lower_bound
        self._upper_bound = upper_bound

    def _scalar_agg(self, ref: DataReference) -> ops.ScalarAgg:
        return ops.ScalarAgg(
            "fraction_between",
            ref,
            lower=self._lower_bound,
            upper=self._upper_bound,
        )

    def _compare(self, value_factual: float, value_target: float) -> tuple[bool, str]:
        verdict = _SAY_DATE_FRACTION.format(
            ref=self._ref,
            got=value_factual,
            want=value_target,
            lo=self._lower_bound,
            hi=self._upper_bound,
            cond=self._condition_string,
        )
        return value_factual >= value_target, verdict


class DateNoOverlap(NoOverlapConstraint):
    _DIMENSIONS = 1

    def _compare(
        self, value_factual: tuple[int, int], value_target: Any
    ) -> tuple[bool, str | None]:
        return interval_violation_verdict(
            self,
            value_factual,
            shape="overlapping date ranges",
            empty_message=None,
        )


class DateNoOverlap2d(NoOverlapConstraint):
    _DIMENSIONS = 2

    def _compare(
        self, value_factual: tuple[int, int], value_target: Any
    ) -> tuple[bool, str | None]:
        return interval_violation_verdict(
            self,
            value_factual,
            shape="overlapping date ranges",
            empty_message=None,
        )


class DateNoGap(NoGapConstraint):
    _DIMENSIONS = 1

    def _select(self, engine: SparkSession, ref: DataReference):
        return ops.get_date_gaps(
            engine,
            ref,
            self._key_columns,
            self._start_columns[0],
            self._end_columns[0],
            self._legitimate_gap_size,
        )

    def _compare(
        self, value_factual: tuple[int, int], value_target: Any
    ) -> tuple[bool, str | None]:
        return interval_violation_verdict(
            self,
            value_factual,
            shape="a gap in the date range",
            empty_message=None,
        )
