"""Referential-integrity constraints — extension.

The reference's nearest surfaces are the row/uniques set comparisons
(reference row.py, uniques.py); a foreign-key gate differs in that key
columns may be named differently on the two sides, NULL child keys are
exempt (ANSI MATCH SIMPLE), and the verdict is a fraction of *child
rows*, not of distinct values. See operators/integrity.py for the
engine-side plan.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..reference import DataReference
from .base import Constraint, TestResult


class ForeignKey(Constraint):
    """At most ``max_orphan_fraction`` of non-NULL-keyed child rows may
    lack a parent match. Default 0.0: a strict FK.

    Engine side is one LEFT ANTI join against the de-duplicated parent
    key projection (operators.integrity.fk_orphan_stats); two scalar
    counts cross to the driver.
    """

    def __init__(
        self,
        ref: DataReference,
        ref2: DataReference,
        max_orphan_fraction: float = 0.0,
        name: str | None = None,
        cache_size=None,
    ):
        self._max_orphan_fraction = max_orphan_fraction
        super().__init__(ref, ref2=ref2, name=name, cache_size=cache_size)

    def test(self, engine: SparkSession) -> TestResult:
        from ..operators.integrity import fk_orphan_stats

        child = self._ref.get_selection(engine)
        parent = self._ref2.get_selection(engine)
        child_cols = self._ref.get_columns(engine)
        parent_cols = self._ref2.get_columns(engine)
        if not child_cols or not parent_cols:
            raise ValueError("ForeignKey requires explicit key column lists.")
        row = fk_orphan_stats(child, child_cols, parent, parent_cols).collect()[0]
        n_checked, n_orphans = row["n_checked"], row["n_orphans"]
        if n_checked == 0:
            return TestResult.success()
        fraction = n_orphans / n_checked
        if fraction <= self._max_orphan_fraction:
            return TestResult.success()
        assertion_text = (
            f"{fraction} of rows of {self._ref} "
            f"({n_orphans} of {n_checked} non-NULL-keyed rows) have no "
            f"matching key in {self._ref2}, exceeding the maximum orphan "
            f"fraction {self._max_orphan_fraction}. "
            f"{self._condition_string} "
        )
        return TestResult.failure(assertion_text, self.get_description())
