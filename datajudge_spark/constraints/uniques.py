"""Distinct-value set gates: value-set equality/subset/superset with
driver-side hooks, distinct-count bounds, and per-category share bounds.

Message wording stays byte-compatible with the reference
(/root/reference/src/datajudge/constraints/uniques.py); pinned by
``tests/test_message_parity.py``.  The structure is the repo's own:
verdicts render from module templates, the set algebra lives in the
``_excess_of``/``_missing_from`` helpers, and the distinct-count
gain/loss pair shares one relative-change driver.

The collected-uniques path is where a 100 TB caller can hurt
themselves, so ``max_uniques`` (operators.uniques.DEFAULT_MAX_UNIQUES)
caps the driver collect and RAISES on accidental high-cardinality
columns — never a silent truncation.
"""

from __future__ import annotations

import abc
import warnings
from collections import Counter
from collections.abc import Callable, Collection
from itertools import zip_longest
from math import ceil, floor

from pyspark.sql import SparkSession

from .. import operators as ops
from ..operators.uniques import DEFAULT_MAX_UNIQUES
from ..reference import DataReference
from ..utils import OutputProcessor, filternull_element, output_processor_limit
from .base import Constraint, OptionalSelections, TestResult, ToleranceGetter, _T

_SAY_LACKS = (
    "{ref} doesn't have the element(s) '{missing}' when compared with "
    "the reference values. {cond}"
)
_SAY_EXCEEDS = (
    "{ref} has the excess element(s) '{excess}' when compared with the "
    "reference values. {cond}"
)
_SAY_LACKS_AND_EXCEEDS = (
    "{ref} doesn't have the element(s) '{missing}' and has the excess "
    "element(s) '{excess}' when compared with the reference values. "
    "{cond}"
)
_SAY_NOT_CONTAINED = (
    "{ref} has a fraction of {ratio} > {slack} {distinct}values "
    "({bad} / {total}) not being an element of '{allowed}'. It has "
    "excess elements '{excess}' with counts {tallies}.{cond}"
)
_SAY_NOT_COVERING = (
    "{ref} has a fraction of {ratio} > {slack} ({bad} / {total}) "
    "lacking unique values of '{wanted}'. It doesn't have the unique "
    "value(s) '{missing}'.{cond}"
)
_SAY_N_UNIQUES = (
    "{ref} has {got} unique(s) instead of {prefix}{want}. {cond}"
)
_SAY_UNIQUES_LOST = (
    "{ref} has lost {change} of #uniques of table {other}. It was only "
    "allowed to decrease {slack}. {cond}"
)
_SAY_UNIQUES_GAINED = (
    "{ref} has {change} of #uniques of {other}. It was only allowed to "
    "increase {slack} . {cond}"
)


def _missing_from(have: Collection[_T], want: Collection[_T]) -> set[_T]:
    """Reference values absent from the factual set."""
    return set(want) - set(have)


def _excess_of(have: Collection[_T], want: Collection[_T]) -> set[_T]:
    """Factual values outside the reference set."""
    return set(have) - set(want)


def _excess_tallies(
    have: Collection[_T], tallies: list[int], want: Collection[_T]
) -> dict:
    """Per-value frequencies of factual values outside the reference
    set (a missing tally renders as -1, mirroring the reference's
    zip_longest fill)."""
    allowed = set(want)
    return {
        value: tally
        for value, tally in zip_longest(have, tallies, fillvalue=-1)
        if value not in allowed
    }


class Uniques(Constraint, abc.ABC):
    """Shared retrieval for the value-set family: collect the distinct
    values (capped), then run the user's driver-side hooks — NULL
    policy via ``filter_func`` (utils.filternull_*), per-value
    ``map_func``, whole-collection ``reduce_func``."""

    def __init__(
        self,
        ref: DataReference,
        name: str | None = None,
        cache_size=None,
        output_processors: OutputProcessor
        | list[OutputProcessor]
        | None = output_processor_limit,
        *,
        ref2: DataReference | None = None,
        uniques: Collection | None = None,
        filter_func: Callable[[list], list] | None = None,
        map_func: Callable | None = None,
        reduce_func: Callable[[Collection], Collection] | None = None,
        max_relative_violations=0,
        compare_distinct=False,
        max_uniques: int | None = DEFAULT_MAX_UNIQUES,
    ):
        super().__init__(
            ref,
            ref2=ref2,
            ref_value=(uniques, []) if uniques else None,
            name=name,
            cache_size=cache_size,
            output_processors=output_processors,
        )
        if filter_func is None:
            warnings.warn("Using deprecated default null filter function.")
            filter_func = filternull_element
        self._filter_func = filter_func
        self._local_func = map_func
        self._global_func = reduce_func
        self._max_relative_violations = max_relative_violations
        self._compare_distinct = compare_distinct
        self._max_uniques = max_uniques

    def _forbid(self, kwargs: dict, option: str, gate: str) -> None:
        if kwargs.get(option):
            raise RuntimeError(f"{option} is not supported for {gate}.")

    def _retrieve(
        self, engine: SparkSession, ref: DataReference
    ) -> tuple[tuple[list, list[int]], OptionalSelections]:
        tallies, selections = ops.get_uniques(
            engine, ref, max_uniques=self._max_uniques
        )
        values = self._filter_func(list(tallies.keys()))
        # tallies pair with the PRE-map values: map/reduce reshape what
        # is compared, not how often the original values occurred
        counts = [tallies[value] for value in values]
        if self._local_func:
            values = list(map(self._local_func, values))
        if self._global_func:
            values = list(self._global_func(values))
            if not isinstance(values, Collection):
                raise ValueError(
                    "The return value from `reduce_func` is not a Collection."
                )
        return (values, counts), selections


class UniquesEquality(Uniques):
    """The factual and reference value sets must coincide exactly; the
    verdict names what is missing, what is surplus, or both."""

    def __init__(self, args, name: str | None = None, cache_size=None, **kwargs):
        self._forbid(kwargs, "max_relative_violations", "UniquesEquality")
        self._forbid(kwargs, "compare_distinct", "UniquesEquality")
        super().__init__(args, name=name, cache_size=cache_size, **kwargs)

    def _compare(
        self,
        value_factual: tuple[list, list[int]],
        value_target: tuple[Collection, list[int]],
    ) -> tuple[bool, str | None]:
        have, want = set(value_factual[0]), set(value_target[0])
        missing = _missing_from(have, want)
        surplus = _excess_of(have, want)
        if not missing and not surplus:
            return True, None
        if missing and surplus:
            template = _SAY_LACKS_AND_EXCEEDS
        elif missing:
            template = _SAY_LACKS
        else:
            template = _SAY_EXCEEDS
        return False, template.format(
            ref=self._ref,
            missing=self._apply_output_formatting(missing),
            excess=self._apply_output_formatting(surplus),
            cond=self._condition_string,
        )


class UniquesSubset(Uniques):
    """Factual values must (mostly) come from the reference set; the
    violation mass is counted per ROW by default, per DISTINCT value
    with ``compare_distinct``."""

    def _compare(
        self,
        value_factual: tuple[list, list[int]],
        value_target: tuple[Collection, list[int]],
    ) -> tuple[bool, str | None]:
        have, tallies = value_factual
        want = value_target[0]
        offenders = _excess_tallies(have, tallies, want)
        if self._compare_distinct:
            bad, total = len(offenders), len(have)
        else:
            bad, total = sum(offenders.values()), sum(tallies)
        if total == 0:
            return True, None
        ratio = bad / total
        if ratio <= self._max_relative_violations:
            return True, None
        shown_values = list(offenders.keys())
        shown_tallies = list(offenders.values())
        for processor in self._output_processors or []:
            shown_values, shown_tallies = processor(
                shown_values, shown_tallies
            )
        return False, _SAY_NOT_CONTAINED.format(
            ref=self._ref,
            ratio=ratio,
            slack=self._max_relative_violations,
            distinct="DISTINCT " if self._compare_distinct else "",
            bad=bad,
            total=total,
            allowed=self._apply_output_formatting(set(want)),
            excess=shown_values,
            tallies=shown_tallies,
            cond=self._condition_string,
        )


class UniquesSuperset(Uniques):
    """Factual values must (mostly) COVER the reference set; an empty
    selection passes vacuously (there is nothing to judge coverage
    against, per the reference)."""

    def __init__(self, args, name: str | None = None, cache_size=None, **kwargs):
        self._forbid(kwargs, "compare_distinct", "UniquesSuperset")
        super().__init__(args, name=name, cache_size=cache_size, **kwargs)

    def _compare(
        self,
        value_factual: tuple[list, list[int]],
        value_target: tuple[Collection, list[int]],
    ) -> tuple[bool, str | None]:
        have = value_factual[0]
        want = value_target[0]
        if not have:
            return True, None
        missing = _missing_from(have, want)
        ratio = len(missing) / len(want)
        if ratio <= self._max_relative_violations:
            return True, None
        return False, _SAY_NOT_COVERING.format(
            ref=self._ref,
            ratio=ratio,
            slack=self._max_relative_violations,
            bad=len(missing),
            total=len(want),
            wanted=self._apply_output_formatting(set(want)),
            missing=self._apply_output_formatting(list(missing)),
            cond=self._condition_string,
        )


class NUniques(Constraint, abc.ABC):
    """Factual/target values are distinct counts."""

    def __init__(
        self,
        ref: DataReference,
        *,
        ref2: DataReference | None = None,
        n_uniques: int | None = None,
        name: str | None = None,
        cache_size=None,
    ):
        super().__init__(
            ref, ref2=ref2, ref_value=n_uniques, name=name, cache_size=cache_size
        )

    def _retrieve(
        self, engine: SparkSession, ref: DataReference
    ) -> tuple[int, OptionalSelections]:
        return ops.get_unique_count(engine, ref)


class NUniquesEquality(NUniques):
    def _compare(
        self, value_factual: int, value_target: int
    ) -> tuple[bool, str | None]:
        verdict = _SAY_N_UNIQUES.format(
            ref=self._ref,
            got=value_factual,
            prefix=self._target_prefix,
            want=value_target,
            cond=self._condition_string,
        )
        return value_factual == value_target, verdict


class _NUniquesRelativeChange(NUniques, abc.ABC):
    """Shared driver for the distinct-count gain/loss pair (same shape
    as the row-count family, but with the reference's own asymmetric
    degenerate verdicts)."""

    _template: str
    _measures_gain: bool

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

    def _compare(
        self, value_factual: int, value_target: int
    ) -> tuple[bool, str | None]:
        if self._measures_gain:
            if value_target == 0:
                return False, "Target table empty."
            if value_factual < value_target:
                return True, None
        else:
            if value_target == 0 or value_factual > value_target:
                return True, None
        change = abs(value_factual - value_target) / value_target
        verdict = self._template.format(
            ref=self._ref,
            other=self._ref2,
            change=change,
            slack=self._tolerance,
            cond=self._condition_string,
        )
        return change <= self._tolerance, verdict


class NUniquesMaxLoss(_NUniquesRelativeChange):
    _template = _SAY_UNIQUES_LOST
    _measures_gain = False


class NUniquesMaxGain(_NUniquesRelativeChange):
    _template = _SAY_UNIQUES_GAINED
    _measures_gain = True


class CategoricalBoundConstraint(Constraint):
    """Each category's share of rows must fall inside its configured
    [min, max] band (unlisted categories get ``default_bounds``), with
    an overall violation-mass budget.  The verdict details every
    offending category with its observed share and the row counts the
    band translates to."""

    def __init__(
        self,
        ref: DataReference,
        distribution: dict,
        default_bounds: tuple[float, float] = (0, 0),
        name: str | None = None,
        cache_size=None,
        max_relative_violations: float = 0,
        max_uniques: int | None = DEFAULT_MAX_UNIQUES,
        **kwargs,
    ):
        self._default_bounds = default_bounds
        self._max_relative_violations = max_relative_violations
        self._max_uniques = max_uniques
        super().__init__(
            ref, ref_value=distribution, name=name, cache_size=cache_size, **kwargs
        )

    def _retrieve(
        self, engine: SparkSession, ref: DataReference
    ) -> tuple[Counter, OptionalSelections]:
        return ops.get_uniques(engine, ref, max_uniques=self._max_uniques)

    def _band(self, bands: dict, category) -> tuple[float, float]:
        return bands.get(category, self._default_bounds)

    def _compare(
        self, value_factual: Counter, value_target: dict
    ) -> tuple[bool, str | None]:
        total = value_factual.total()
        categories = value_factual.keys() | value_target.keys()
        floors = Counter(
            {c: self._band(value_target, c)[0] * total for c in categories}
        )
        ceilings = Counter(
            {c: self._band(value_target, c)[1] * total for c in categories}
        )
        # Counter arithmetic keeps only positive entries: rows above
        # the ceiling plus rows below the floor = the violation mass
        violations = (value_factual - ceilings) + (floors - value_factual)
        ratio = violations.total() / total
        if ratio <= self._max_relative_violations:
            return True, None
        lines = [
            f"{self._ref} has {ratio * 100}% > "
            f"{self._max_relative_violations * 100}% of element(s) "
            f"violating the bound constraints:\n"
        ]
        for category in violations:
            lo, hi = self._band(value_target, category)
            lines.append(
                f"'{category}' with a share of "
                f"{value_factual[category] / total * 100}% "
                f"({value_factual[category]} out of {total}) "
                f"while a share between {lo * 100}% "
                f"({ceil(floors[category])}) "
                f"and {hi * 100}% ({floor(ceilings[category])}) "
                f"is required\n"
            )
        lines.append(f"{self._condition_string}")
        return False, "".join(lines)


class UnseenMassMax(Constraint):
    """Coverage-saturation gate: the Good-Turing unseen probability
    mass ``f1/n`` of a column (share of the next observations expected
    to carry NEVER-seen values) may not exceed ``max_unseen_mass`` —
    "this id/vocabulary space is sampled to saturation".  The failure
    message carries the Chao1 richness lower bound so the reader sees
    how many uniques the data still hides.  Extension, no reference
    counterpart.

    Engine: ``operators.uniques.chao1_richness`` — two partial-agg'd
    shuffles, all-integer frequencies of frequencies.
    """

    def __init__(
        self,
        ref,
        column: str,
        max_unseen_mass: float,
        name: str | None = None,
        cache_size=None,
    ):
        if not (0 <= max_unseen_mass <= 1):
            raise ValueError("max_unseen_mass must be within [0, 1]")
        self._column = column
        self._max_unseen = max_unseen_mass
        super().__init__(
            ref, ref_value=max_unseen_mass, name=name, cache_size=cache_size
        )

    def test(self, engine) -> TestResult:
        from ..operators.uniques import chao1_richness

        row = chao1_richness(
            self._ref.get_selection(engine), self._column
        ).collect()[0]
        if row["unseen_mass"] is None:
            return TestResult(
                True, "No non-null values; the coverage gate is vacuous."
            )
        if row["unseen_mass"] <= self._max_unseen:
            return TestResult.success()
        assertion_text = (
            f"Unseen-value mass of {self._column} in {self._ref} is "
            f"{row['unseen_mass']} (f1={row['f1']} singletons of "
            f"n={row['n']}; Chao1 richness ≥ {row['chao1']} vs "
            f"{row['d_obs']} observed) — exceeds the maximum "
            f"{self._max_unseen}. {self._condition_string} "
        )
        return TestResult.failure(assertion_text, self.get_description())
