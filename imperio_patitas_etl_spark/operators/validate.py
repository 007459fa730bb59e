"""Declarative validate-filter-project operator (F1-F4, SURVEY.md §2.3).

The reference validates row-by-row in Python, dropping bad rows with a
logged reason (etl_service.py:20-201, catch-and-skip loops at :525-531,
:626-633, :677-701). Here the same semantics are a single declarative spec
compiled to ``filter(...).select(...)`` — Catalyst pushes the predicates
into the scan and prunes unused columns, and the whole thing stays inside
whole-stage codegen. The "logged reason" becomes a first-class rejects
DataFrame (reason column included), replacing log-grepping with a queryable
data-quality output. Both outputs are filters over one tagged frame (the
input plus ``reject_reason``), so a caller that persists it evaluates the
source and the rules once for the accepted rows, the rejects and the counts.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """One drop-predicate with its reason tag.

    ``predicate`` is the ACCEPT condition; a row failing it is rejected with
    ``reason``. NULL predicate results count as reject (reference drops on
    missing fields, e.g. etl_service.py:23-26).
    """

    name: str
    predicate: Column


@dataclass
class EntitySpec:
    """predicates (drop rules) + warnings (flag-only) + projection.

    Mirrors one ``validate_*`` function of the reference:
      - rules      → hard drops (DataValidationError, etl_service.py:11-13)
      - warnings   → tolerance checks that flag but keep (etl_service.py:138-141)
      - projection → rename/cast/derive map (English source → warehouse cols)
    """

    name: str
    rules: list[Rule] = field(default_factory=list)
    warnings: dict[str, Column] = field(default_factory=dict)
    projection: dict[str, Column] = field(default_factory=dict)

    def accept_predicate(self) -> Column:
        """AND of all rules, NULL-safe: NULL → reject."""
        pred = F.lit(True)
        for r in self.rules:
            pred = pred & F.coalesce(r.predicate, F.lit(False))
        return pred

    def reject_reason(self) -> Column:
        """Name of the first failing rule, NULL when every rule passes.
        First failing rule wins, as the reference logs the first
        DataValidationError raised (etl_service.py:525-531)."""
        reason = F.lit(None).cast("string")
        for r in reversed(self.rules):
            reason = F.when(~F.coalesce(r.predicate, F.lit(False)), F.lit(r.name)).otherwise(
                reason
            )
        return reason

    def apply(self, df: DataFrame) -> "ValidationResult":
        """Validate once: tag every input row with its ``reject_reason``
        (NULL = accepted) and derive both outputs from that one frame.

        ``accepted`` filters with the AND-form ``accept_predicate()``, not
        ``reject_reason IS NULL``: the AND of plain column predicates
        pushes through the tagging projection into the scan
        (``PushedFilters``), the CASE chain would not. Both forms select
        the same rows, and a persisted ``tagged`` frame still serves the
        accepted plan, since the cache matches on the analyzed plan.
        """
        tagged = df.withColumn("reject_reason", self.reject_reason())
        accepted = tagged.filter(self.accept_predicate()).select(
            *[expr.alias(name) for name, expr in self.projection.items()],
            *[
                F.coalesce(expr, F.lit(False)).alias(f"warn_{wname}")
                for wname, expr in self.warnings.items()
            ],
        )
        rejected = tagged.filter(F.col("reject_reason").isNotNull())
        return ValidationResult(tagged=tagged, accepted=accepted, rejected=rejected)


@dataclass
class ValidationResult:
    #: the input plus ``reject_reason`` (NULL = accepted); the one frame a
    #: caller persists to evaluate the validation once
    tagged: DataFrame
    accepted: DataFrame
    rejected: DataFrame

    def _tally(self) -> DataFrame:
        rr = F.col("reject_reason")
        return self.tagged.agg(
            F.count_if(rr.isNull()).alias("valid"),
            F.count_if(rr.isNotNull()).alias("invalid"),
        )

    def valid_invalid(self) -> tuple[int, int]:
        """(valid, invalid) from one aggregate over the tagged frame."""
        row = self._tally().first()
        return row["valid"], row["invalid"]

    def counts(self) -> DataFrame:
        """A3: valid/invalid counters as a DataFrame (etl_service.py:522-533),
        one aggregate over the tagged frame."""
        return self._tally().selectExpr(
            "stack(2, 'valid', valid, 'invalid', invalid) AS (status, count)"
        )
