"""Numeric column gates: min/max/mean, fraction-in-range, percentile,
and the 1-D interval no-gap/no-overlap specializations.

Message wording stays byte-compatible with the reference
(/root/reference/src/datajudge/constraints/numeric.py); the wording
contract is pinned by ``tests/test_message_parity.py``.  The structure
is the repo's own: one declarative extremum class drives min AND max,
and the interval verdicts render through the family's shared
``interval.interval_violation_verdict`` helper.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession

from .. import operators as ops
from ..reference import DataReference
from .base import Constraint, OptionalSelections, TestResult
from .interval import (
    NoGapConstraint,
    NoOverlapConstraint,
    interval_violation_verdict,
)

_SAY_EXTREMUM = "{ref} has {kind} {got} instead of {prefix}{want}{gap}. {cond}"
_SAY_FRACTION = (
    "{ref} has {got} < {want} of rows between {lo} and {hi}. {cond}"
)
_SAY_MEAN = (
    "{ref} has mean {got}, deviating more than {slack} from "
    "{prefix} {want}. {cond}"
)
_SAY_PERCENTILE = (
    "The {pct}-th percentile of {ref}{pad} was expected to be "
    "{prefix}{want} but was {got}, resulting in {an_article} {how} "
    "difference of {diff}. The maximally allowed {how} deviation "
    "would've been {slack}."
)


class _NumericExtremum(Constraint):
    """min/max gate: declarative direction instead of twin classes.

    ``_kind`` names the aggregate and picks the comparison direction;
    the empty-set handling is asymmetric per the reference (an empty
    scan trivially satisfies a max gate but fails a min gate unless the
    bound is 0).
    """

    _kind: str
    # the reference's min message carries a space before the period
    _trailing_gap: str

    def __init__(
        self,
        ref: DataReference,
        name: str | None = None,
        cache_size=None,
        *,
        ref2: DataReference | None = None,
        bound: float | None = None,
    ):
        super().__init__(
            ref, ref2=ref2, ref_value=bound, name=name, cache_size=cache_size
        )

    def _scalar_agg(self, ref: DataReference) -> ops.ScalarAgg:
        return ops.ScalarAgg(self._kind, ref)

    def _within(self, got: float, want: float) -> bool:
        return got >= want if self._kind == "min" else got <= want

    def _compare(
        self, value_factual: float, value_target: float
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
        verdict = _SAY_EXTREMUM.format(
            ref=self._ref,
            kind=self._kind,
            got=value_factual,
            prefix=self._target_prefix,
            want=value_target,
            gap=self._trailing_gap,
            cond=self._condition_string,
        )
        return self._within(value_factual, value_target), verdict


class NumericMin(_NumericExtremum):
    _kind = "min"
    _trailing_gap = " "

    def __init__(
        self,
        ref: DataReference,
        name: str | None = None,
        cache_size=None,
        *,
        ref2: DataReference | None = None,
        min_value: float | None = None,
    ):
        super().__init__(
            ref, name=name, cache_size=cache_size, ref2=ref2, bound=min_value
        )


class NumericMax(_NumericExtremum):
    _kind = "max"
    _trailing_gap = ""

    def __init__(
        self,
        ref: DataReference,
        name: str | None = None,
        cache_size=None,
        *,
        ref2: DataReference | None = None,
        max_value: float | None = None,
    ):
        super().__init__(
            ref, name=name, cache_size=cache_size, ref2=ref2, bound=max_value
        )


class NumericBetween(Constraint):
    def __init__(
        self,
        ref: DataReference,
        min_fraction: float,
        lower_bound: float,
        upper_bound: float,
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

    def _compare(
        self, value_factual: float, value_target: float
    ) -> tuple[bool, str | None]:
        if value_factual is None:
            return True, "Empty selection."
        verdict = _SAY_FRACTION.format(
            ref=self._ref,
            got=value_factual,
            want=value_target,
            lo=self._lower_bound,
            hi=self._upper_bound,
            cond=self._condition_string,
        )
        return value_factual >= value_target, verdict


class NumericMean(Constraint):
    def __init__(
        self,
        ref: DataReference,
        max_absolute_deviation: float,
        name: str | None = None,
        cache_size=None,
        *,
        ref2: DataReference | None = None,
        mean_value: float | None = None,
    ):
        super().__init__(
            ref, ref2=ref2, ref_value=mean_value, name=name, cache_size=cache_size
        )
        self._max_absolute_deviation = max_absolute_deviation

    _test_reads_only_slots = True

    def _scalar_agg(self, ref: DataReference) -> ops.ScalarAgg:
        return ops.ScalarAgg("mean", ref)

    def test(self, engine: SparkSession) -> TestResult:
        # mean-over-empty needs BOTH sides inspected before comparing,
        # so this overrides test() rather than _compare()
        got = self._get_factual_value(engine)
        want = self._get_target_value(engine)
        if got is None or want is None:
            return TestResult(got is None and want is None, "Mean over empty set.")
        verdict = _SAY_MEAN.format(
            ref=self._ref,
            got=got,
            slack=self._max_absolute_deviation,
            prefix=self._target_prefix,
            want=want,
            cond=self._condition_string,
        )
        return TestResult(abs(got - want) <= self._max_absolute_deviation, verdict)


class NumericPercentile(Constraint):
    def __init__(
        self,
        ref: DataReference,
        percentage: float,
        max_absolute_deviation: float | None = None,
        max_relative_deviation: float | None = None,
        name: str | None = None,
        cache_size=None,
        *,
        ref2: DataReference | None = None,
        expected_percentile: float | None = None,
    ):
        super().__init__(
            ref,
            ref2=ref2,
            ref_value=expected_percentile,
            name=name,
            cache_size=cache_size,
        )
        if not (0 <= percentage <= 100):
            raise ValueError(
                f"Expected percentage to be a value between 0 and 100, "
                f"got {percentage}."
            )
        self.percentage = percentage
        slacks = (max_absolute_deviation, max_relative_deviation)
        if all(s is None for s in slacks):
            raise ValueError(
                "At least one of 'max_absolute_deviation' and "
                "'max_relative_deviation' must be given."
            )
        for label, slack in zip(
            ("max_absolute_deviation", "max_relative_deviation"), slacks
        ):
            if slack is not None and slack < 0:
                raise ValueError(
                    f"{label} must be at least 0 but is {slack}."
                )
        self._max_absolute_deviation = max_absolute_deviation
        self._max_relative_deviation = max_relative_deviation

    # the prefetched range probe only starts the percentile kernel
    _prefetch_is_value = False

    def _scalar_agg(self, ref: DataReference) -> ops.ScalarAgg:
        # the (min, max, count) probe can share the requirement's scan
        # (the numeric percentile reads it); the rest cannot
        return ops.ScalarAgg("range", ref)

    def _retrieve(
        self, engine: SparkSession, ref: DataReference
    ) -> tuple[float, OptionalSelections]:
        # the range probe, when the requirement's aggregate computed it
        prefetched = self._prefetched.pop(id(ref), None)
        probe = prefetched[0] if prefetched else None
        return ops.get_percentile(engine, ref, self.percentage, probe)

    def _blame(self, got, want, how: str, diff, slack) -> str:
        # the reference's relative branch carries a doubled space after
        # the ref and says "a relative" vs "an absolute"
        return _SAY_PERCENTILE.format(
            pct=self.percentage,
            ref=self._ref,
            pad="" if how == "absolute" else " ",
            prefix=self._target_prefix,
            want=want,
            got=got,
            an_article="an" if how == "absolute" else "a",
            how=how,
            diff=diff,
            slack=slack,
        )

    def _compare(
        self, value_factual: float, value_target: float
    ) -> tuple[bool, str | None]:
        abs_diff = abs(value_factual - value_target)
        slack_abs = self._max_absolute_deviation
        if slack_abs is not None and abs_diff > slack_abs:
            return False, self._blame(
                value_factual, value_target, "absolute", abs_diff, slack_abs
            )
        slack_rel = self._max_relative_deviation
        if slack_rel is not None:
            if value_target == 0:
                raise ValueError("Cannot compute relative deviation wrt 0.")
            rel_diff = abs_diff / abs(value_target)
            if rel_diff > slack_rel:
                return False, self._blame(
                    value_factual, value_target, "relative", rel_diff, slack_rel
                )
        return True, None


class NumericNoGap(NoGapConstraint):
    _DIMENSIONS = 1

    def _select(self, engine: SparkSession, ref: DataReference):
        return ops.get_numeric_gaps(
            engine,
            ref,
            self._key_columns,
            self._start_columns[0],
            self._end_columns[0],
            self._legitimate_gap_size,
        )

    def _compare(
        self, value_factual: tuple[int, int], value_target: Any
    ) -> tuple[bool, str]:
        return interval_violation_verdict(
            self, value_factual, shape="a gap in the range"
        )


class NumericNoOverlap(NoOverlapConstraint):
    _DIMENSIONS = 1

    def _compare(
        self, value_factual: tuple[int, int], value_target: Any
    ) -> tuple[bool, str]:
        return interval_violation_verdict(
            self, value_factual, shape="overlapping ranges"
        )
