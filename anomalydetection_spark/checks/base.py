"""Check protocol + shared schemas.

The reference enforced correctness with a hand-rolled pile of runtime
asserts (``/root/reference/PRIME_App/server.R:1040-1081``, required-column
and cardinality gates) evaluated eagerly on a materialized data.frame.
Here every check is a declarative object that contributes:

  1. ``stats_exprs()``  — Column expressions folded into the suite's ONE
     fused aggregation pass (SURVEY.md §4.2.1: the whole table is scanned
     once for all stats-class checks; Spark's partial+final hash agg gives
     the Welford/merge combine for free).
  2. ``verdicts(stats)`` — pure-python evaluation over the collected
     (tiny) stats row, one verdict dict per constraint.
  3. ``row_violation(df)`` — row-local checks return their violation
     predicate (and an optional severity Column); the suite ORs them into
     ONE filter and ONE projection, so N such checks scan the input once.
     Checks needing their own frame (grouped uniqueness, anti-join,
     decode) return None and override ``violations(df)`` instead.
  4. ``run_extra(df)``  — for checks that genuinely need their own job
     (grouped uniqueness, referential anti-join, drift histograms).

Verdict rows mirror the reference's per-scenario outlier tables
(``PRIME_App/utils.R:308-407``) reshaped as a constraint ledger.
"""

from __future__ import annotations

import abc
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# One row per (partition, check, metric). `partition` is the string-ified
# value of the suite's partition_by columns ("" for the global slice).
VERDICT_SCHEMA = (
    "table string, partition string, check string, column string, "
    "metric string, value double, lo double, hi double, passed boolean"
)

# Violations are key-column projections + a literal check name.
VIOLATION_KEY_COL = "_check"


def verdict(
    check: str,
    column: str,
    metric: str,
    value: float | None,
    lo: float | None = None,
    hi: float | None = None,
) -> dict[str, Any]:
    """Build one verdict dict; ``passed`` derives from [lo, hi] bounds."""
    passed = True
    if value is None:
        passed = False
    else:
        if lo is not None and value < lo:
            passed = False
        if hi is not None and value > hi:
            passed = False
    return {
        "check": check,
        "column": column,
        "metric": metric,
        "value": None if value is None else float(value),
        "lo": lo,
        "hi": hi,
        "passed": passed,
    }


class Check(abc.ABC):
    """A single declarative constraint."""

    name: str

    #: number of fused post-aggregation rounds this check participates in
    #: (round r can use anything learned from the fused pass + rounds < r;
    #: e.g. robust-z needs round 0 for MAD-given-median and round 1 for the
    #: violation count given MAD). The suite runs ONE agg per round shared
    #: by every check, so total scan count is O(max rounds), not O(checks).
    n_post_rounds: int = 0

    #: Set by ``ValidationSuite.run`` on its per-run copy to the run's
    #: ``with_violations`` flag BEFORE any check job runs. Checks whose
    #: aggregate and violation frames can share one expensive pass (the
    #: decode check) persist that intermediate only when a violations
    #: consumer exists — a verdicts-only run must not pay the cache-build
    #: cost.
    cache_intermediates: bool = True

    #: True → ``row_violation`` reads this run's fitted model, so the
    #: suite rebuilds it every run instead of once per suite.
    fitted: bool = False
    keys: list[str] | None = None  # violation-row columns (None → all)

    def reset(self) -> None:
        """Forget fitted state (model moments, cached result frames).
        ``ValidationSuite.run`` fits a shallow copy of each check and
        calls this on the copy first, so a model fitted by a standalone
        ``violations(df)`` on the suite's own check never scores a run.
        Never frees storage: the copy shares the frames it forgets with
        the check it was copied from, which still owns them
        (``release``)."""
        return None

    def release(self) -> None:
        """Free any persisted intermediate frames this check holds (e.g.
        the decode-result cache). Called by ``SuiteResult.release`` on
        the run's copies once the caller has consumed the run's
        violation frames; safe to call repeatedly. Distinct from
        ``reset``: release only frees storage — a released check can
        still serve its lazy DataFrames (they recompute)."""
        return None

    def stats_exprs(self) -> list[Column]:
        """Aggregate expressions to fold into the suite's ONE fused pass."""
        return []

    def verdicts(self, stats: dict[str, Any]) -> list[dict[str, Any]]:
        """Evaluate constraint(s) against the collected stats row."""
        return []

    def post_exprs(self, rnd: int) -> list[Column]:
        """Aggregate expressions for fused post-round ``rnd`` (global
        slice; models fitted from the fused pass are available)."""
        return []

    def post_verdicts(self, rnd: int, stats: dict[str, Any]) -> list[dict[str, Any]]:
        """Evaluate post-round ``rnd`` results."""
        return []

    def row_violation(self, df: DataFrame) -> tuple[Column, Column | None] | None:
        """(violation predicate, severity or None) over ``df``'s own rows,
        or None when the check is not row-local."""
        return None

    def violations(self, df: DataFrame) -> DataFrame | None:
        """Lazy DataFrame of violating rows: key columns, ``severity``
        (when the check grades its rows) and ``_check``; or None."""
        if (rv := self.row_violation(df)) is None:
            return None
        sev = [] if rv[1] is None else [rv[1].alias("severity")]
        return df.filter(rv[0]).select(*(self.keys or df.columns), *sev,
                                       F.lit(self.name).alias(VIOLATION_KEY_COL))

    def run_extra(self, df: DataFrame, stats: dict[str, Any] | None = None) -> list[dict[str, Any]]:
        """Verdicts that genuinely need their own Spark job shape
        (grouped uniqueness, anti-join referential, drift histograms).

        Called once per suite run; ``stats`` is the collected global fused
        row so checks can reuse counts without re-scanning. Checks that
        support per-partition verdicts do their own groupBy internally so
        the job count stays O(1) per check, not O(partitions).
        """
        return []
