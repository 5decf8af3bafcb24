"""Constraint kernel: ``TestResult`` + the ``Constraint`` ABC.

Behavioral parity with the reference lifecycle (the reference's
constraints/base.py), restructured in this repo's idiom; the externally
visible bytes — validation errors, descriptions, condition strings,
logging-message layout — are pinned in tests/test_message_parity.py.

The lifecycle: a constraint pulls a *factual* value out of ``ref`` and a
*target* value out of either ``ref2`` (a "between" constraint) or the
literal ``ref_value`` (a "within" constraint — exactly one of the two),
then ``_compare``s them.  Retrievals are cached per instance
(``cache_size=0`` disables, ``None`` = unbounded), so a requirement can
re-``test`` without re-running Spark actions.  On failure the optimized
Spark plans that produced the values are rendered into the
``TestResult`` where the reference renders compiled SQL.

A statistic (constraints/stats.py) is the same lifecycle.  Its factual
value is the summary its operator collects (``_retrieve`` also returns
the frames behind it, for the failure plans); ``_compare`` judges it
against bounds the constraint holds.  A two-sample statistic reads both
sides into that one summary, and its target slot reads no data.  When
the data leaves a statistic undefined (an empty side, a constant
column) the verdict is an ``Undefined``: from ``_compare``, or from
``_undefined`` when the operator raises its documented ``ValueError``.
That mapping happens in one place, inside the cached slot, so an
undefined statistic is not recomputed on a re-test either.  Only an
``Undefined`` pass keeps its message (it says why the pass is vacuous);
an ordinary pass drops it, as in the reference.  Argument errors (a
statistic's column count) raise from ``_check_arguments`` before any
retrieval, so they are never mapped.

A constraint whose retrieval is one scalar aggregate declares it
(``_scalar_agg``) instead of running it: ``Requirement.test`` computes
all such declarations on one source in a single Spark aggregate and
hands each value to its constraint's retrieval slot
(``_prefetched``); a lone ``test`` runs the declaration by itself.

Every ``test`` (the base one and each subclass override) runs in its own
``pipeline._util.cache_scope``: frames a test persists are released when
it returns, so no verdict is computed from blocks of an earlier run.
The outermost scope (``Requirement.test`` opens one around all its
members) also resolves each data source once.

Members that still run Spark jobs after the prefetch (``_needs_spark``)
run at the same time in ``Requirement.test``, on up to
``_threads.MAX_THREADS`` threads with the caller's one; the others run
in the caller's thread.  Results keep the members' order, and after
every member finished the exception of the lowest-index member that
raised is raised.  In the base ``test`` a between constraint whose two
slots both still run jobs reads them on two threads (``_read_slots``).
One constraint object never runs in two threads at once: its slot
caches and plan attributes are not thread-safe.
"""

from __future__ import annotations

import abc
import functools
from collections import OrderedDict
from collections.abc import Callable, Collection, Sequence
from dataclasses import dataclass, field
from typing import Any, NamedTuple, TypeVar

from pyspark.sql import DataFrame, SparkSession

from .. import operators as ops
from .._threads import can_overlap, run_overlapped
from ..formatter import Formatter
from ..pipeline._util import cache_scope, resolve_source
from ..plans import render_plans
from ..reference import DataReference
from ..utils import OutputProcessor, output_processor_limit

_T = TypeVar("_T")

_DEFAULT_FORMATTER = Formatter()

# a thunk defers building plans that only a failure message renders
OptionalSelections = (
    Sequence[DataFrame] | Callable[[], list[DataFrame]] | None
)
ToleranceGetter = Callable[[SparkSession], float]

# The two retrieval slots wrapped with per-instance caches; subclasses
# that override either hook keep the caching because the wrap happens on
# the BOUND method at construction time.
_CACHED_HOOKS = ("_get_factual_value", "_get_target_value")


class _SlotCache:
    """LRU cache of one bound retrieval slot, keyed by engine
    (``maxsize=None`` is unbounded).  Unlike ``functools.lru_cache`` it
    answers ``engine in cache``, so ``Requirement.test`` does not
    prefetch a value the slot already holds."""

    def __init__(self, fn: Callable[[SparkSession], Any], maxsize: int | None):
        self._fn = fn
        self._maxsize = maxsize
        self._held: OrderedDict = OrderedDict()

    def __contains__(self, engine: SparkSession) -> bool:
        return engine in self._held

    def __call__(self, engine: SparkSession) -> Any:
        if engine in self._held:
            self._held.move_to_end(engine)
            return self._held[engine]
        value = self._held[engine] = self._fn(engine)
        if self._maxsize is not None and len(self._held) > self._maxsize:
            self._held.popitem(last=False)
        return value


class Undefined(NamedTuple):
    """The verdict on a statistic that its data leaves undefined: an
    empty side, a constant column.  Unlike an ordinary ``(ok, message)``
    verdict, a passing ``Undefined`` keeps its message, which says why
    the pass is vacuous."""

    ok: bool
    message: str


def _in_cache_scope(test: Callable[..., _T]) -> Callable[..., _T]:
    """Run ``test`` inside its own ``cache_scope``: whatever the test
    persists or checkpoints is released when it returns."""

    @functools.wraps(test)
    def scoped_test(*args, **kwargs):
        with cache_scope():
            return test(*args, **kwargs)

    return scoped_test


def uncommon_substrings(string1: str, string2: str) -> tuple[str, str]:
    """Strip the shared leading qualifier off two dotted names — the
    description of a between-constraint reads ``schema1.t1 | schema2.t2``
    rather than repeating the database twice (reference base.py:23-30,
    branch-for-branch including the single-qualifier fallback)."""
    parts1, parts2 = string1.split("."), string2.split(".")
    if parts1[0] != parts2[0]:
        # nothing shared: keep both names whole
        return string1, string2
    if len(parts1) > 1 and parts1[1] != parts2[0]:
        # shared first qualifier only: drop it from each side
        return ".".join(parts1[1:]), ".".join(parts2[1:])
    # degenerate overlap: fall back to the final qualifier
    return parts1[-1], parts2[-1]


def _fmt_or_none(text: str | None, formatter: Formatter) -> str | None:
    return formatter.fmt_str(text) if text else None


@dataclass(frozen=True)
class TestResult:
    """The outcome of one Constraint execution plus its renderings."""

    outcome: bool
    _failure_message: str | None = field(default=None, repr=False)
    _constraint_description: str | None = field(default=None, repr=False)
    _factual_queries: list[str] | None = field(default=None, repr=False)
    _target_queries: list[str] | None = field(default=None, repr=False)

    @classmethod
    def success(cls) -> "TestResult":
        return cls(True)

    @classmethod
    def failure(cls, *args, **kwargs) -> "TestResult":
        return cls(False, *args, **kwargs)

    def formatted_failure_message(self, formatter: Formatter) -> str | None:
        return _fmt_or_none(self._failure_message, formatter)

    def formatted_constraint_description(
        self, formatter: Formatter
    ) -> str | None:
        return _fmt_or_none(self._constraint_description, formatter)

    @property
    def failure_message(self) -> str | None:
        return self.formatted_failure_message(_DEFAULT_FORMATTER)

    @property
    def constraint_description(self) -> str | None:
        return self.formatted_constraint_description(_DEFAULT_FORMATTER)

    @property
    def logging_message(self) -> str:
        # compose the present sections in their fixed order; the exact
        # bytes (headers, comment fences, trailing rule) are golden-
        # pinned — downstream alerting parses them
        sections: list[str] = []
        if self.constraint_description:
            sections.append(f"/*\n\t{self.constraint_description}\n*/")
        if self.failure_message:
            sections.append(
                f"\n\n/*\nFailure message:\n{self.failure_message}\n*/"
            )
        if self._factual_queries is not None:
            joined = "\n".join(self._factual_queries)
            sections.append(f"\n\n --Factual plans: \n {joined}")
        if self._target_queries is not None:
            joined = "\n".join(self._target_queries)
            sections.append(f"\n\n-- Target plans: \n {joined}")
        sections.append("\n --- \n")
        return "".join(sections)


class Constraint(abc.ABC):
    """Compare a factual value from ``ref`` against a target value from
    ``ref2`` (between) or the literal ``ref_value`` (within).

    Subclasses implement ``_retrieve`` (DataReference -> value +
    contributing DataFrames) and ``_compare`` (factual, target ->
    verdict + message).  A statistic's value is the summary its
    operator collects; it may declare ``_undefined`` (the verdict when
    the operator raises its documented ``ValueError``) and
    ``_check_arguments`` (the errors its arguments raise before any
    Spark job), and a two-sample one overrides ``_get_target_value`` to
    read no data.  Twelve constraints outside ``stats.py`` still
    override ``test`` itself.  The execution engine is a
    ``SparkSession``; retrievals trigger Spark actions where the
    reference issues SQL round trips.
    """

    def __init_subclass__(cls, **kwargs):
        # every class's own ``test`` owns a cache scope, so no override
        # can leak the blocks its statistics pin
        super().__init_subclass__(**kwargs)
        if "test" in cls.__dict__:
            cls.test = _in_cache_scope(cls.__dict__["test"])

    def __init__(
        self,
        ref: DataReference,
        *,
        ref2: DataReference | None = None,
        ref_value: Any = None,
        name: str | None = None,
        output_processors: OutputProcessor
        | list[OutputProcessor]
        | None = output_processor_limit,
        cache_size=None,
    ):
        self._check_if_valid_between_or_within(ref2, ref_value)
        self._ref = ref
        self._ref2 = ref2
        self._ref_value = ref_value
        self.name = name
        self._factual_selections: OptionalSelections = None
        self._target_selections: OptionalSelections = None
        self._output_processors = self._as_processor_list(output_processors)
        self._cache_size = cache_size
        # id(ref) -> (value, plans) prefetched from a shared scan by
        # ``Requirement.test``; ``_retrieve`` consumes it
        self._prefetched: dict[int, tuple[Any, OptionalSelections]] = {}
        self._setup_caching()

    @staticmethod
    def _as_processor_list(
        processors: OutputProcessor | list[OutputProcessor] | None,
    ) -> list[OutputProcessor] | None:
        if processors is None or isinstance(processors, list):
            return processors
        return [processors]

    def _setup_caching(self) -> None:
        # Wrap the BOUND retrieval hooks so caches live per instance —
        # a class-level decorator would share one cache across every
        # constraint (and pin instances alive); wrapping here also
        # picks up subclass overrides of either hook.
        if self._cache_size == 0:
            return
        for hook in _CACHED_HOOKS:
            slot = _SlotCache(getattr(self, hook), self._cache_size)
            setattr(self, hook, slot)

    def _check_if_valid_between_or_within(
        self, ref2: DataReference | None, ref_value: Any
    ) -> None:
        given = (ref2 is not None) + (ref_value is not None)
        if given == 1:
            return
        class_name = self.__class__.__name__
        if given == 2:
            raise ValueError(
                "Both table 2 ref and constant given to "
                f"{class_name}. Use either of them, not both."
            )
        raise ValueError(
            "Neither table 2 ref nor constant given to "
            f"{class_name}. Use exactly either of them."
        )

    # -- retrieval slots (cached per instance, overridable) ------------

    def _get_factual_value(self, engine: SparkSession) -> Any:
        value, self._factual_selections = self._read_side(engine, self._ref)
        return value

    def _get_target_value(self, engine: SparkSession) -> Any:
        if self._ref2 is None:
            return self._ref_value
        value, self._target_selections = self._read_side(engine, self._ref2)
        return value

    def _read_side(
        self, engine: SparkSession, ref: DataReference
    ) -> tuple[Any, OptionalSelections]:
        """``_retrieve`` from ``ref``.  The ``ValueError`` an operator
        raises on data that leaves a statistic undefined becomes the
        class's ``_undefined`` verdict, which the slot caches like a
        value; the failure renders the side's selection."""
        try:
            return self._retrieve(engine, ref)
        except ValueError as exc:
            return self._undefined(exc), [ref.get_selection(engine)]

    # -- message building blocks ---------------------------------------

    def get_description(self) -> str:
        if self.name is not None:
            return self.name
        source = str(self._ref.data_source)
        if self._ref2 is not None:
            lhs, rhs = uncommon_substrings(
                source, str(self._ref2.data_source)
            )
            source = f"{lhs} | {rhs}"
        return f"{self.__class__.__name__}::{source}"

    @property
    def _target_prefix(self) -> str:
        return f"{self._ref2}'s " if self._ref2 is not None else ""

    @property
    def _condition_string(self) -> str:
        cond1 = self._ref.condition
        cond2 = self._ref2.condition if self._ref2 is not None else None
        if cond1 is None and cond2 is None:
            return ""
        clause1 = self._ref._get_clause_string()
        if self._ref2 is None:
            # within constraint: single clause, no trailing separator
            return f"Condition: {clause1}"
        clause2 = self._ref2._get_clause_string()
        if cond1 == cond2:
            return f"Condition on both tables: {clause1}; "
        if cond1 is None:
            return f"Condition on second table: {clause2}; "
        if cond2 is None:
            return f"Condition on first table: {clause1}; "
        return (
            f"Condition on first table: {clause1}. "
            f"Condition on second table: {clause2}. "
        )

    # -- fusable scalar retrievals ----------------------------------------

    def _scalar_agg(self, ref: DataReference) -> ops.ScalarAgg | None:
        """The aggregate this constraint reads from ``ref`` when it is
        one that can share a scan; ``None`` (the default) keeps the
        constraint on its own ``_retrieve``."""
        return None

    def _scalar_requests(
        self, engine: SparkSession
    ) -> list[tuple[DataReference, ops.ScalarAgg]]:
        """``(ref, declaration)`` for each retrieval slot that will read
        a fusable aggregate from ``ref`` when this constraint is tested
        on ``engine`` (slots already cached for it are left out)."""
        requests = []
        slots = (
            (self._get_factual_value, self._ref),
            (self._get_target_value, self._ref2),
        )
        for slot, ref in slots:
            if ref is None or (isinstance(slot, _SlotCache) and engine in slot):
                continue
            agg = self._scalar_agg(ref)
            if agg is not None:
                requests.append((ref, agg))
        return requests

    # -- what a test still runs ------------------------------------------

    #: a ``test`` override that reads Spark only through the two
    #: retrieval slots (``NumericMean``'s, which inspects both values)
    _test_reads_only_slots = False
    #: the prefetched declaration is the slot's value; ``False`` when it
    #: only starts a retrieval that runs jobs of its own
    _prefetch_is_value = True

    def _slot_needs_spark(
        self, hook: str, ref: DataReference | None, engine: SparkSession
    ) -> bool:
        slot = getattr(self, hook)
        if isinstance(slot, _SlotCache) and engine in slot:
            return False
        if getattr(type(self), hook) is not getattr(Constraint, hook):
            return True
        if ref is None:
            return False  # a within constraint's literal target
        return not (self._prefetch_is_value and id(ref) in self._prefetched)

    def _needs_spark(self, engine: SparkSession) -> bool:
        """Whether ``test`` on ``engine`` may still run a Spark job, given
        the slots cached for ``engine`` and the values prefetched so far.
        ``True`` unless the test reads only its two retrieval slots and
        each holds its value or reads it from ``_prefetched``."""
        cls = type(self)
        if cls.test is not Constraint.test and not cls._test_reads_only_slots:
            return True
        return self._slot_needs_spark(
            "_get_factual_value", self._ref, engine
        ) or self._slot_needs_spark("_get_target_value", self._ref2, engine)

    def _read_slots(self, engine: SparkSession) -> tuple[Any, Any]:
        """The factual and the target value.  A between constraint whose
        two slots both still run jobs reads them at the same time, each
        side's source resolved first in this thread.  Overridden slots
        may depend on each other, so they are read one after the other."""
        cls = type(self)
        if (
            self._ref2 is not None
            and all(getattr(cls, h) is getattr(Constraint, h)
                    for h in _CACHED_HOOKS)
            and self._slot_needs_spark("_get_factual_value", self._ref, engine)
            and self._slot_needs_spark("_get_target_value", self._ref2, engine)
            and can_overlap()
        ):
            resolve_sources(engine, [self])
            factual, target = run_overlapped(
                engine,
                [
                    functools.partial(self._get_factual_value, engine),
                    functools.partial(self._get_target_value, engine),
                ],
            )
            return factual, target
        return self._get_factual_value(engine), self._get_target_value(engine)

    # -- subclass contract ----------------------------------------------

    def _retrieve(
        self, engine: SparkSession, ref: DataReference
    ) -> tuple[Any, OptionalSelections]:
        # constraints that declare a scalar aggregate read the value
        # prefetched from a shared scan, else run the declaration alone
        if id(ref) in self._prefetched:
            return self._prefetched.pop(id(ref))
        agg = self._scalar_agg(ref)
        if agg is None:
            raise NotImplementedError()
        (fetched,) = ops.run_scalar_aggs(
            resolve_source(engine, ref.data_source), [agg]
        )
        return fetched

    def _compare(
        self, value_factual: Any, value_target: Any
    ) -> tuple[bool, str | None]:
        raise NotImplementedError()

    def _undefined(self, exc: ValueError) -> Undefined:
        """The verdict when ``_retrieve`` raised ``exc``, the documented
        ``ValueError`` of an operator whose statistic the data leaves
        undefined.  By default the error propagates."""
        raise exc

    def _check_arguments(self) -> None:
        """Raise ``ValueError`` for arguments that no data can satisfy
        (the columns a statistic reads), before any retrieval."""

    # -- the lifecycle ----------------------------------------------------

    @_in_cache_scope
    def test(self, engine: SparkSession) -> TestResult:
        self._check_arguments()
        factual, target = self._read_slots(engine)
        undefined = [v for v in (factual, target) if isinstance(v, Undefined)]
        verdict = undefined[0] if undefined else self._compare(factual, target)
        ok, message = verdict
        if ok:
            # only an undefined statistic explains its pass
            return TestResult(
                True, message if isinstance(verdict, Undefined) else None
            )
        return TestResult.failure(
            message,
            self.get_description(),
            render_plans(self._factual_selections),
            render_plans(self._target_selections),
        )

    def _apply_output_formatting(self, values: Collection) -> Collection:
        for processor in self._output_processors or ():
            values, _ = processor(values)
        return values


def resolve_sources(
    engine: SparkSession, constraints: Sequence[Constraint]
) -> None:
    """Resolve the data source of each side of the constraints into the
    open scope's source memo, before threads that read it start.  A
    source that fails here is left out of the memo: its constraint
    raises the same error from its own test."""
    for constraint in constraints:
        for ref in (constraint._ref, constraint._ref2):
            if ref is None:
                continue
            try:
                resolve_source(engine, ref.data_source)
            except Exception:
                pass


def format_sample(sample, ref: DataReference) -> str:
    """Render a sample row as ``col = value`` pairs when the reference
    names columns, else the row's plain repr (reference base.py:302-309)."""
    if ref.columns is None:
        return str(sample)
    return " , ".join(f"{c} = {v}" for c, v in zip(ref.columns, list(sample)))
