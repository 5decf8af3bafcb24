"""Row-count gates.

Message wording stays byte-compatible with the reference
(/root/reference/src/datajudge/constraints/nrows.py) so downstream alert
parsing keeps working — the wording contract is pinned by
``tests/test_message_parity.py``.  The implementation below is the
repo's own: verdicts are rendered from module-level templates and the
relative-change family shares one driver, instead of one hand-written
``_compare`` per class.
"""

from __future__ import annotations

import abc

from pyspark.sql import SparkSession

from .. import operators as ops
from ..reference import DataReference
from ..utils import format_difference
from .base import Constraint, TestResult, ToleranceGetter

# Absolute-count verdict templates.  ``got``/``want`` arrive already
# digit-highlighted where the reference highlights them.
_SAY_MIN = "{ref} has {got} < {prefix} {want} rows. {cond}"
_SAY_MAX = "{ref} has {got} > {prefix} {want} rows. {cond}"
_SAY_EQ = "{ref} has {got} row(s) instead of {prefix} {want}. {cond}"

# Relative-change verdict templates (always rendered with percent
# formatting, reference wording).
_SAY_SHRUNK = (
    "The #rows from {ref} have decreased by {change:%} compared to "
    "table {other}. They were expected to decrease by at most "
    "{limit:%}. {cond}"
)
_SAY_GREW_TOO_MUCH = (
    "{ref} has {change:%} gain in #rows compared to {other}. It was "
    "only allowed to increase by {limit:%}. {cond}"
)
_SAY_GREW_TOO_LITTLE = (
    "{ref} has {change:%} gain in #rows compared to {other}. It was "
    "supposed to increase at least by {limit:%}. {cond}"
)


class NRows(Constraint, abc.ABC):
    """Base: the factual/target values are plain row counts.

    ``_count_cap`` opts a subclass into counting capped at the threshold
    (only sound for a lower-bound gate; reference rationale
    nrows.py:41-48).
    """

    _count_cap = False

    def __init__(
        self,
        ref: DataReference,
        *,
        ref2: DataReference | None = None,
        n_rows: int | None = None,
        name: str | None = None,
        cache_size=None,
    ):
        super().__init__(
            ref, ref2=ref2, ref_value=n_rows, name=name, cache_size=cache_size
        )

    def _scalar_agg(self, ref: DataReference) -> ops.ScalarAgg:
        cap = self._ref_value if self._count_cap else None
        return ops.ScalarAgg("count", ref, cap=cap)

    def _speak(self, template: str, **fields) -> str:
        return template.format(
            ref=self._ref,
            prefix=self._target_prefix,
            cond=self._condition_string,
            **fields,
        )


class NRowsMin(NRows):
    _count_cap = True

    def _compare(self, value_factual: int, value_target: int) -> tuple[bool, str]:
        verdict = self._speak(_SAY_MIN, got=value_factual, want=value_target)
        return value_factual >= value_target, verdict


class NRowsMax(NRows):
    def _compare(self, value_factual: int, value_target: int) -> tuple[bool, str]:
        got, want = format_difference(value_factual, value_target)
        return value_factual <= value_target, self._speak(
            _SAY_MAX, got=got, want=want
        )


class NRowsEquality(NRows):
    def _compare(self, value_factual: int, value_target: int) -> tuple[bool, str]:
        got, want = format_difference(value_factual, value_target)
        return value_factual == value_target, self._speak(
            _SAY_EQ, got=got, want=want
        )


class _NRowsRelativeChange(NRows, abc.ABC):
    """Shared driver for the gain/loss family.

    Subclasses declare the measured direction (``_measures_gain``), the
    verdict when the counts moved the OTHER way entirely
    (``_opposite_move_passes`` — a max-loss gate trivially passes on a
    gain, a min-gain gate hard-fails on a loss), and the tolerance
    comparator direction (``_wants_at_least``).  The tolerance itself is
    engine-dependent (it may derive from date ranges), so it resolves at
    test time through the getter.
    """

    _template: str
    _measures_gain: bool
    _opposite_move_passes: bool
    _wants_at_least = False

    def __init__(
        self,
        ref: DataReference,
        ref2: DataReference,
        tolerance_getter: ToleranceGetter,
        name: str | None = None,
        cache_size=None,
    ):
        super().__init__(ref, ref2=ref2, name=name, cache_size=cache_size)
        self._tolerance_getter = tolerance_getter

    def test(self, engine: SparkSession) -> TestResult:
        self._tolerance = self._tolerance_getter(engine)
        return super().test(engine)

    def _compare(self, value_factual: int, value_target: int) -> tuple[bool, str]:
        if value_target == 0:
            return True, "Empty target table."
        moved_up = value_factual > value_target
        moved_down = value_factual < value_target
        if self._measures_gain and moved_down:
            return self._opposite_move_passes, "Row loss."
        if not self._measures_gain and moved_up:
            return self._opposite_move_passes, "Row gain."
        change = abs(value_factual - value_target) / value_target
        within = (
            change >= self._tolerance
            if self._wants_at_least
            else change <= self._tolerance
        )
        verdict = self._template.format(
            ref=self._ref,
            other=self._ref2,
            change=change,
            limit=self._tolerance,
            cond=self._condition_string,
        )
        return within, verdict


class NRowsMaxLoss(_NRowsRelativeChange):
    _template = _SAY_SHRUNK
    _measures_gain = False
    _opposite_move_passes = True


class NRowsMaxGain(_NRowsRelativeChange):
    _template = _SAY_GREW_TOO_MUCH
    _measures_gain = True
    _opposite_move_passes = True


class NRowsMinGain(_NRowsRelativeChange):
    _template = _SAY_GREW_TOO_LITTLE
    _measures_gain = True
    _opposite_move_passes = False
    _wants_at_least = True
