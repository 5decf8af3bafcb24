"""String-column gates: regex conformance (two variants) and length
extremes.

Message wording stays byte-compatible with the reference
(/root/reference/src/datajudge/constraints/varchar.py); pinned by
``tests/test_message_parity.py``.  The two regex variants are
intentionally distinct engines:

- ``VarCharRegexDb`` pushes the pattern to executors via ``rlike``
  (unanchored *search* semantics, like SQL ``regexp_match``) — the
  scale path, nothing but a count and a bounded sample leaves the
  cluster.
- ``VarCharRegex`` collects the distinct values (capped — SURVEY §3.4)
  and applies Python ``re.match`` (*anchored*) on the driver — the
  compatibility path for patterns Spark's regex dialect differs on.
"""

from __future__ import annotations

import itertools
import re
from typing import Any

from pyspark.sql import SparkSession

from .. import operators as ops
from ..operators.uniques import DEFAULT_MAX_UNIQUES
from ..reference import DataReference
from .base import Constraint, OptionalSelections, TestResult

_SAY_REGEX_BROKEN = (
    "{ref} breaks regex '{pattern}' in {ratio} > {slack} of the cases. "
    "In absolute terms, {bad} of the {total} samples violated the "
    "regex. {examples}{cond}"
)
_SAY_EXAMPLES = "Some counterexamples consist of the following: {xs}. "
_SAY_NONE_BLOCKED = (
    "The column contains a None value when it's not allowed. "
    "To ignore None values, please use `allow_none=True` option."
)
_SAY_LENGTH = (
    "{ref} has {kind} length {got} instead of {prefix} {want}. {cond}"
)


def _example_clause(examples: list) -> str:
    return _SAY_EXAMPLES.format(xs=examples) if examples else ""


class VarCharRegexDb(Constraint):
    """Executor-side regex gate: the fraction of values (distinct
    values when ``aggregated``) failing an ``rlike`` search may not
    exceed ``relative_tolerance``."""

    def __init__(
        self,
        ref: DataReference,
        regex: str,
        relative_tolerance: float = 0.0,
        aggregated: bool = True,
        n_counterexamples: int = 5,
        name: str | None = None,
        cache_size=None,
    ):
        super().__init__(
            ref, ref_value=relative_tolerance, name=name, cache_size=cache_size
        )
        self._regex = regex
        self._aggregated = aggregated
        self._n_counterexamples = n_counterexamples

    def _retrieve(
        self, engine: SparkSession, ref: DataReference
    ) -> tuple[Any, OptionalSelections]:
        (bad, examples), bad_selections = ops.get_regex_violations(
            spark=engine,
            ref=ref,
            aggregated=self._aggregated,
            regex=self._regex,
            n_counterexamples=self._n_counterexamples,
        )
        denominator_op = (
            ops.get_unique_count if self._aggregated else ops.get_row_count
        )
        total, total_selections = denominator_op(engine, ref)
        return (bad, total, examples), [*bad_selections, *total_selections]

    def _compare(self, value_factual, value_target) -> tuple[bool, str]:
        bad, total, examples = value_factual
        ratio = bad / total
        verdict = _SAY_REGEX_BROKEN.format(
            ref=self._ref,
            pattern=self._regex,
            ratio=ratio,
            slack=value_target,
            bad=bad,
            total=total,
            examples=_example_clause(examples),
            cond=self._condition_string,
        )
        return ratio <= value_target, verdict


class VarCharRegex(Constraint):
    """Driver-side ANCHORED regex gate over the distinct values.

    Collects O(|distinct|) strings, so the ``max_uniques`` cap fails
    fast on accidental high-cardinality columns instead of flooding the
    driver (SURVEY §3.4; ``None`` restores the reference's unbounded
    behavior)."""

    def __init__(
        self,
        ref: DataReference,
        regex: str,
        allow_none: bool = False,
        relative_tolerance: float = 0.0,
        aggregated: bool = True,
        n_counterexamples: int = 5,
        name: str | None = None,
        cache_size=None,
        max_uniques: int | None = DEFAULT_MAX_UNIQUES,
    ):
        super().__init__(ref, ref_value=regex, name=name, cache_size=cache_size)
        self._allow_none = allow_none
        self._relative_tolerance = relative_tolerance
        self._aggregated = aggregated
        self._n_counterexamples = n_counterexamples
        self._max_uniques = max_uniques

    def test(self, engine: SparkSession) -> TestResult:
        tallies, _selections = ops.get_uniques(
            engine, self._ref, max_uniques=self._max_uniques
        )
        if tallies.get(None):
            if not self._allow_none:
                return TestResult.failure(_SAY_NONE_BLOCKED)
        tallies.pop(None, None)
        if not self._ref_value:
            return TestResult.failure("No regex pattern given")

        matcher = re.compile(self._ref_value).match
        mismatching = {value for value in tallies if not matcher(value)}
        if self._aggregated:
            bad, total = len(mismatching), len(tallies)
        else:
            bad = sum(tallies[value] for value in mismatching)
            total = sum(tallies.values())
        ratio = bad / total
        if ratio <= self._relative_tolerance:
            return TestResult.success()

        keep = (
            None if self._n_counterexamples == -1 else self._n_counterexamples
        )
        examples = list(itertools.islice(mismatching, keep))
        return TestResult.failure(
            _SAY_REGEX_BROKEN.format(
                ref=self._ref,
                pattern=self._ref_value,
                ratio=ratio,
                slack=self._relative_tolerance,
                bad=bad,
                total=total,
                examples=_example_clause(examples),
                cond=self._condition_string,
            )
        )


class _VarCharLengthBound(Constraint):
    """min/max length gate: declarative direction, same asymmetric
    empty-set handling as the numeric extremum family."""

    _kind: str

    def __init__(
        self,
        ref: DataReference,
        *,
        ref2: DataReference | None = None,
        bound: int | None = None,
        name: str | None = None,
        cache_size=None,
    ):
        super().__init__(
            ref, ref2=ref2, ref_value=bound, name=name, cache_size=cache_size
        )

    def _scalar_agg(self, ref: DataReference) -> ops.ScalarAgg:
        return ops.ScalarAgg(f"{self._kind}_length", ref)

    def _compare(
        self, value_factual: int, value_target: int
    ) -> tuple[bool, str | None]:
        if self._kind == "min":
            if value_target is None:
                return True, None
            if value_factual is None:
                return value_target == 0, "Empty set."
            holds = value_factual >= value_target
        else:
            if value_factual is None:
                return True, None
            if value_target is None:
                return value_factual == 0, "Reference value is None."
            holds = value_factual <= value_target
        verdict = _SAY_LENGTH.format(
            ref=self._ref,
            kind=self._kind,
            got=value_factual,
            prefix=self._target_prefix,
            want=value_target,
            cond=self._condition_string,
        )
        return holds, verdict


class VarCharMinLength(_VarCharLengthBound):
    _kind = "min"

    def __init__(
        self,
        ref: DataReference,
        *,
        ref2: DataReference | None = None,
        min_length: int | None = None,
        name: str | None = None,
        cache_size=None,
    ):
        super().__init__(
            ref, ref2=ref2, bound=min_length, name=name, cache_size=cache_size
        )


class VarCharMaxLength(_VarCharLengthBound):
    _kind = "max"

    def __init__(
        self,
        ref: DataReference,
        *,
        ref2: DataReference | None = None,
        max_length: int | None = None,
        name: str | None = None,
        cache_size=None,
    ):
        super().__init__(
            ref, ref2=ref2, bound=max_length, name=name, cache_size=cache_size
        )
