"""Identity/structure gates: primary-key declaration, uniqueness,
functional dependency, null budget — plus the k-anonymity extension.

Message wording of the reference-compatible gates stays byte-compatible
(/root/reference/src/datajudge/constraints/miscs.py); pinned by
``tests/test_message_parity.py``.  The structure is the repo's own:
verdicts render from module templates and the set/tolerance logic lives
in small named helpers.
"""

from __future__ import annotations

import warnings

from pyspark.sql import SparkSession

from .. import operators as ops
from ..reference import DataReference
from .base import Constraint, OptionalSelections, TestResult, format_sample

_SAY_PK_EXTRA = "{ref} incorrectly includes {key} as primary key."
_SAY_PK_MISSING = "{ref} doesn't include {key} as primary key."
_SAY_DUPES = (
    "{ref} has {rows} rows > {uniques} uniques. This surpasses the "
    "max_duplicate_fraction of {budget}. An example tuple breaking the "
    "uniqueness condition is: {sample}."
)
_SAY_DEPENDENT = (
    "{ref} has violations of functional dependence (in total {n} rows):\n"
)
_SAY_TOO_NULL = (
    "{got} of {ref} values are NULL while only {prefix}{allowed} were "
    "allowed to be NULL."
)


class PrimaryKeyDefinition(Constraint):
    """The declared PK column set must EXACTLY equal the target set.
    PKs come from the sidecar registry (operators.declare_primary_keys)
    since Spark has no PK catalog; both surplus and missing keys fail,
    and the verdict names one offender from whichever side is wrong
    (missing wins when both are, matching the reference)."""

    def __init__(
        self,
        ref: DataReference,
        primary_keys: list[str],
        name: str | None = None,
        cache_size=None,
    ):
        super().__init__(ref, ref_value=set(primary_keys), name=name)

    def _retrieve(
        self, engine: SparkSession, ref: DataReference
    ) -> tuple[set[str], OptionalSelections]:
        declared, selections = ops.get_primary_keys(engine, self._ref)
        return set(declared), selections

    def _compare(
        self, value_factual: set[str], value_target: set[str]
    ) -> tuple[bool, str | None]:
        verdict = ""
        surplus = value_factual - value_target
        if surplus:
            verdict = _SAY_PK_EXTRA.format(
                ref=self._ref, key=next(iter(surplus))
            )
        absent = value_target - value_factual
        if absent:
            verdict = _SAY_PK_MISSING.format(
                ref=self._ref, key=next(iter(absent))
            )
        return not (surplus or absent), verdict


class Uniqueness(Constraint):
    """#uniques must (almost) equal #rows, with EITHER a relative or an
    absolute duplicate budget (never both)."""

    def __init__(
        self,
        ref: DataReference,
        max_duplicate_fraction: float = 0,
        max_absolute_n_duplicates: int = 0,
        infer_pk_columns: bool = False,
        name: str | None = None,
        cache_size=None,
    ):
        if max_duplicate_fraction != 0 and max_absolute_n_duplicates != 0:
            raise ValueError(
                """Uniqueness constraint was attempted to be constructed
                with both a relative and an absolute tolerance. Only use one
                of both at a time."""
            )
        if max_duplicate_fraction != 0:
            budget = ("relative", max_duplicate_fraction)
        elif max_absolute_n_duplicates != 0:
            budget = ("absolute", max_absolute_n_duplicates)
        else:
            budget = ("relative", 0)
        self.infer_pk_columns = infer_pk_columns
        super().__init__(ref, ref_value=budget, name=name, cache_size=cache_size)

    def _enough_uniques(self, uniques: int, rows: int) -> bool:
        kind, slack = self._ref_value
        floor_by_kind = {
            "relative": rows * (1 - slack),
            "absolute": rows - slack,
        }
        if kind not in floor_by_kind:
            raise ValueError(
                f"Given tolerance is neither relative nor absolute: {kind}."
            )
        return uniques >= floor_by_kind[kind]

    def test(self, engine: SparkSession) -> TestResult:
        if self.infer_pk_columns:
            pk_columns = ops.get_primary_keys(engine, self._ref)[0]
            if pk_columns:
                self._ref.columns = pk_columns
            else:
                warnings.warn(
                    f"""No primary keys found in {self._ref}.
                    Uniqueness will be tested for all columns."""
                )

        (uniques, rows), _ = ops.get_unique_and_row_count(engine, self._ref)
        if rows == 0:
            return TestResult(True, "No occurrences.")
        if self._enough_uniques(uniques, rows):
            return TestResult.success()
        sample, _ = ops.get_duplicate_sample(engine, self._ref)
        return TestResult.failure(
            _SAY_DUPES.format(
                ref=self._ref,
                rows=rows,
                uniques=uniques,
                budget=self._ref_value,
                sample=format_sample(sample, self._ref),
            )
        )


class FunctionalDependency(Constraint):
    """``key_columns`` must functionally determine the remaining
    columns of the reference; the verdict lists the offending rows
    (through the requirement's output processors, so callers can
    cap/sort them)."""

    def __init__(self, ref: DataReference, key_columns: list[str], **kwargs):
        super().__init__(ref, ref_value=object(), **kwargs)
        self.key_columns = key_columns

    def test(self, engine: SparkSession) -> TestResult:
        violations, _ = ops.get_functional_dependency_violations(
            engine, self._ref, self.key_columns
        )
        if not violations:
            return TestResult.success()
        shown = self._apply_output_formatting(
            [tuple(row) for row in violations]
        )
        listing = "\n".join(str(row) for row in shown)
        return TestResult.failure(
            _SAY_DEPENDENT.format(ref=self._ref, n=len(violations)) + listing
        )


class MaxNullFraction(Constraint):
    """NULL share of a column must stay under a threshold — literal, or
    derived from ``ref2``'s own NULL share times
    ``1 + max_relative_deviation``."""

    def __init__(
        self,
        ref: DataReference,
        *,
        ref2: DataReference | None = None,
        max_null_fraction: float | None = None,
        max_relative_deviation: float = 0,
        name: str | None = None,
        cache_size=None,
    ):
        super().__init__(
            ref,
            ref2=ref2,
            ref_value=max_null_fraction,
            name=name,
            cache_size=cache_size,
        )
        if max_null_fraction is not None and not (0 <= max_null_fraction <= 1):
            raise ValueError(
                f"max_null_fraction was expected to lie within [0, 1] but is "
                f"{max_null_fraction}."
            )
        if max_relative_deviation < 0:
            raise ValueError(
                f"{max_relative_deviation} is negative even though it needs "
                f"to be positive."
            )
        self.max_relative_deviation = max_relative_deviation

    def _scalar_agg(self, ref: DataReference) -> ops.ScalarAgg:
        return ops.ScalarAgg("missing_fraction", ref)

    def _compare(
        self, value_factual: float, value_target: float
    ) -> tuple[bool, str | None]:
        allowed = value_target * (1 + self.max_relative_deviation)
        verdict = _SAY_TOO_NULL.format(
            got=value_factual,
            ref=self._ref,
            prefix=self._target_prefix,
            allowed=allowed,
        )
        return value_factual <= allowed, verdict


class KAnonymity(Constraint):
    """Re-identification gate: every quasi-identifier group must have
    >= min_k rows (k-anonymity), optionally with >= min_diversity
    distinct sensitive values per group (l-diversity).  Extension — no
    reference counterpart; the inverse of Uniqueness (reference
    miscs.py:50-121), which wants groups small, this wants them large.

    ``max_at_risk_fraction`` tolerates a share of rows in small groups
    (0 = strict k-anonymity).  Empty selections pass vacuously.  The
    failure message names the rarest offending combinations via a
    capped TopK sample.
    """

    def __init__(
        self,
        ref: DataReference,
        quasi_columns: list[str],
        min_k: int,
        max_at_risk_fraction: float = 0.0,
        sensitive_column: str | None = None,
        min_diversity: int | None = None,
        name: str | None = None,
        cache_size=None,
    ):
        if min_k < 1:
            raise ValueError("min_k must be a positive group size.")
        if not quasi_columns:
            raise ValueError("quasi_columns must name at least one column.")
        if not (0.0 <= max_at_risk_fraction <= 1.0):
            raise ValueError("max_at_risk_fraction must lie within [0, 1].")
        if min_diversity is not None and sensitive_column is None:
            raise ValueError("min_diversity requires sensitive_column.")
        self.quasi_columns = list(quasi_columns)
        self.min_k = min_k
        self.max_at_risk_fraction = max_at_risk_fraction
        self.sensitive_column = sensitive_column
        self.min_diversity = min_diversity
        super().__init__(
            ref,
            ref_value=(min_k, max_at_risk_fraction, min_diversity),
            name=name,
            cache_size=cache_size,
        )

    def test(self, engine: SparkSession) -> TestResult:
        from ..operators.privacy import k_anonymity, k_anonymity_violations

        df = self._ref.get_selection(engine)
        row = k_anonymity(
            df,
            self.quasi_columns,
            self.min_k,
            sensitive_col=self.sensitive_column,
            min_l=self.min_diversity,
        ).collect()[0]
        if row["n_rows"] == 0:
            return TestResult(True, "No rows; k-anonymity holds vacuously.")
        problems = []
        # Gate on the EXACT integer counts, not the digest's 6dp-rounded
        # fraction: 3 at-risk rows among 10M rounds to 0.0 and would slip
        # past a strict (0.0) gate — the fraction column is for display.
        exact_fraction = row["n_at_risk_rows"] / row["n_rows"]
        if exact_fraction > self.max_at_risk_fraction:
            sample = k_anonymity_violations(
                df, self.quasi_columns, self.min_k, limit=5
            ).collect()
            sample_str = ", ".join(
                "("
                + ", ".join(f"{c}={r[c]}" for c in self.quasi_columns)
                + f") x{r['group_size']}"
                for r in sample
            )
            problems.append(
                f"{row['n_small_groups']} quasi-identifier group(s) of "
                f"{self.quasi_columns} have fewer than {self.min_k} rows, "
                f"putting {row['n_at_risk_rows']} of {row['n_rows']} rows "
                f"({exact_fraction:.3g}) at re-identification risk "
                f"(allowed fraction {self.max_at_risk_fraction}). "
                f"Rarest combinations: {sample_str}."
            )
        if (
            self.sensitive_column is not None
            and self.min_diversity is not None
            and row["n_low_diversity_groups"] > 0
        ):
            problems.append(
                f"{row['n_low_diversity_groups']} group(s) carry fewer than "
                f"{self.min_diversity} distinct {self.sensitive_column!r} "
                f"values (minimum observed: {row['min_diversity']})."
            )
        if problems:
            return TestResult.failure(f"{self._ref}: " + " ".join(problems))
        return TestResult.success()
