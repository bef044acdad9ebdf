"""Row-level constraint DSL.

Maps the reference's filter/predicate surface (SURVEY.md §2.2 F1-F8:
``%in%`` whitelists at ``/root/reference/PRIME_App/server.R:788``,
NOT-IN blacklists at ``:785,1931-1932``, regex predicates at ``:979``,
not-null gates at ``:1015``) onto declarative checks.  Each check is a
single boolean Column, so:

  * its violation COUNT folds into the suite's fused aggregation as
    ``sum(cast(violated as long))`` — zero extra scans;
  * its violation ROWS come from the suite's ONE filter + projection
    shared by every row-local check, pushed into the parquet/Iceberg scan.
"""

from __future__ import annotations

from typing import Any, Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from anomalydetection_spark.checks.base import Check, verdict


class PredicateCheck(Check):
    """Generic: rows where ``predicate`` is FALSE/NULL are violations.

    ``max_violation_rate``: allowed fraction of violating rows (0.0 =
    hard constraint). ``keys``: columns projected into the violations
    sink (defaults to all — callers should narrow for wide tables).
    """

    def __init__(
        self,
        name: str,
        predicate: Column | Callable[[], Column] | None,
        column: str = "",
        max_violation_rate: float = 0.0,
        keys: Sequence[str] | None = None,
        violation: Callable[[], Column] | None = None,
    ):
        self.name = name
        self._pred = predicate
        # positive violation form, replacing the predicate: `NOT coalesce(
        # pred, false)` is opaque to parquet/Iceberg filter pushdown; a
        # subclass that can state the violation as pushable atoms (IsNull,
        # <, >, ...) supplies it so violation scans skip row groups
        self._violation = violation
        self.column = column
        self.max_violation_rate = max_violation_rate
        self.keys = list(keys) if keys else None
        self._slug = name.replace(":", "_").replace(".", "_")

    def violated(self) -> Column:
        if self._violation is not None:
            return self._violation()
        p = self._pred() if callable(self._pred) else self._pred
        # NULL predicate result counts as a violation (matches SQL WHERE
        # semantics inverted: row not provably valid => flagged).
        return ~F.coalesce(p, F.lit(False))

    def stats_exprs(self) -> list[Column]:
        bad = self.violated().cast("long")
        return [
            F.sum(bad).alias(f"{self._slug}__violations"),
            F.count(F.lit(1)).alias(f"{self._slug}__rows"),
        ]

    def verdicts(self, stats: dict[str, Any]) -> list[dict[str, Any]]:
        bad = stats.get(f"{self._slug}__violations") or 0
        rows = stats.get(f"{self._slug}__rows") or 0
        rate = (bad / rows) if rows else 0.0
        return [
            verdict(self.name, self.column, "violation_rate", rate, None, self.max_violation_rate)
        ]

    def row_violation(self, df: DataFrame) -> tuple[Column, None]:
        return self.violated(), None


class RowCountCheck(Check):
    """Cardinality gate (reference: the "≥100 observations" / "≥3
    indicators" asserts at ``PRIME_App/server.R:1040-1081``). Emits the
    ``row_count`` metric the checkpoint ledger uses for per-unit lineage;
    folds into the fused pass — no extra scan."""

    def __init__(self, min_rows: int | None = None, max_rows: int | None = None):
        self.name = "row_count"
        self.min_rows = min_rows
        self.max_rows = max_rows

    def stats_exprs(self) -> list[Column]:
        return [F.count(F.lit(1)).alias("row_count__rows")]

    def verdicts(self, stats: dict[str, Any]) -> list[dict[str, Any]]:
        n = stats.get("row_count__rows")
        return [
            verdict(
                self.name, "", "row_count",
                None if n is None else float(n),
                None if self.min_rows is None else float(self.min_rows),
                None if self.max_rows is None else float(self.max_rows),
            )
        ]


class NotNullCheck(PredicateCheck):
    """Null-rate constraint (reference: most-recent-quarter gate
    ``sum(is.na(qtr4))/nrow < .5`` at ``PRIME_App/server.R:832-867``)."""

    def __init__(self, column: str, max_null_rate: float = 0.0, keys=None):
        super().__init__(
            name=f"not_null:{column}",
            predicate=None,
            column=column,
            max_violation_rate=max_null_rate,
            keys=keys,
            violation=lambda: F.col(column).isNull(),  # pushes as IsNull
        )


class InSetCheck(PredicateCheck):
    """Domain whitelist (F1: ``indicator %in% quarterly_indicators``)."""

    def __init__(self, column: str, allowed: Sequence, max_violation_rate=0.0, keys=None):
        allowed = list(allowed)
        super().__init__(
            name=f"in_set:{column}",
            predicate=lambda: F.col(column).isin(allowed),
            column=column,
            max_violation_rate=max_violation_rate,
            keys=keys,
        )


class NotInSetCheck(PredicateCheck):
    """Blacklist (F2: drop Dedup/TBD partners etc.)."""

    def __init__(self, column: str, banned: Sequence, max_violation_rate=0.0, keys=None):
        banned = list(banned)
        super().__init__(
            name=f"not_in_set:{column}",
            predicate=lambda: ~F.coalesce(F.col(column).isin(banned), F.lit(False)),
            column=column,
            max_violation_rate=max_violation_rate,
            keys=keys,
        )


class RlikeCheck(PredicateCheck):
    """Regex constraint (F5 analog). ``must_match=False`` bans the pattern."""

    def __init__(self, column: str, pattern: str, must_match: bool = True,
                 max_violation_rate=0.0, keys=None):
        def pred():
            m = F.col(column).rlike(pattern)
            return m if must_match else ~F.coalesce(m, F.lit(False))

        super().__init__(
            name=f"rlike:{column}:{pattern}",
            predicate=pred,
            column=column,
            max_violation_rate=max_violation_rate,
            keys=keys,
        )


class RangeCheck(PredicateCheck):
    """Closed-interval value constraint."""

    def __init__(self, column: str, lo=None, hi=None, max_violation_rate=0.0, keys=None):
        def violation():  # IsNull/LessThan/GreaterThan — all pushable
            v = F.col(column).isNull()
            if lo is not None:
                v = v | (F.col(column) < F.lit(lo))
            if hi is not None:
                v = v | (F.col(column) > F.lit(hi))
            return v

        super().__init__(
            name=f"range:{column}",
            predicate=None,
            column=column,
            max_violation_rate=max_violation_rate,
            keys=keys,
            violation=violation,
        )


class PiiCheck(PredicateCheck):
    """Rows whose ``column`` carries regex-detectable PII (email /
    phone / SSN / IPv4 by default — ``functions.text.PII_PATTERNS``,
    the Java∩RE2 subset) are violations: the scrub-before-training gate
    as a suite check over the caption/text column.

    The violation COUNT rides the fused aggregation as ONE ``rlike`` on
    the combined alternation — a single regex pass per row, not one per
    category; run ``functions.text.pii_scan`` on the violation rows when
    the per-category breakdown or the redacted copy is needed for
    remediation. NULL text is NOT a PII violation (NotNullCheck owns
    NULLs), mirroring pii_scan's zero-counts-for-NULL rule."""

    def __init__(self, column: str, patterns=None,
                 max_violation_rate: float = 0.0, keys=None):
        from anomalydetection_spark.functions.text import PII_PATTERNS

        pats = list(patterns or PII_PATTERNS)
        combined = "|".join(f"({p})" for _, p in pats)

        def pred():
            c = F.col(column)
            return c.isNull() | ~c.rlike(combined)

        super().__init__(
            name=f"pii:{column}",
            predicate=pred,
            column=column,
            max_violation_rate=max_violation_rate,
            keys=keys,
        )
