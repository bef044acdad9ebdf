"""Uniqueness checks: HLL prefilter + exact grouped count.

The reference dedups by group-by-sum to the observation grain
(``/root/reference/PRIME_App/server.R:1011-1017``) and gates on
``n_distinct`` (``:1078``).  At 10^12 rows we do it in two tiers
(SURVEY.md §7 step 3):

  1. **HLL tier (free)** — ``approx_count_distinct(key)`` rides the fused
     single-pass agg; compared against exact row count it bounds the
     duplicate mass to ~2% HLL error without any shuffle beyond the one
     stats pass.  If the HLL says the key is plausibly unique AND the
     caller allows it, the exact tier can be skipped.
  2. **Exact tier** — ``groupBy(keys).count().filter(count > 1)``.  Note
     on skew: Spark's hash aggregate does map-side partial counts, so even
     a heavy-hitter key ships at most one partial row per map partition —
     pre-salting a COUNT aggregation is redundant (salting is reserved for
     non-combinable aggs and joins; see checks/referential.py and
     functions/skew.py).
"""

from __future__ import annotations

from typing import Any, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from anomalydetection_spark.checks.base import Check, VIOLATION_KEY_COL, verdict


class UniquenessCheck(Check):
    """Keys must identify rows uniquely (e.g. image_id, phash).

    ``max_duplicate_rate``: allowed fraction of rows that belong to a
    duplicated key group (0.0 = strict primary key).
    ``hll_only``: stop at the approximate tier (for exploratory profiling
    runs where the extra shuffle isn't worth it).
    """

    def __init__(
        self,
        keys: Sequence[str],
        max_duplicate_rate: float = 0.0,
        hll_rsd: float = 0.02,
        hll_only: bool = False,
    ):
        self.keys = list(keys)
        self.max_duplicate_rate = max_duplicate_rate
        self.hll_rsd = hll_rsd
        self.hll_only = hll_only
        self.name = f"unique:{','.join(self.keys)}"
        self._slug = "unique_" + "_".join(self.keys)

    def _key_col(self) -> Column:
        if len(self.keys) == 1:
            return F.col(self.keys[0])
        return F.struct(*[F.col(k) for k in self.keys])

    def stats_exprs(self) -> list[Column]:
        return [
            F.approx_count_distinct(self._key_col(), rsd=self.hll_rsd).alias(
                f"{self._slug}__hll"
            ),
            F.count(F.lit(1)).alias(f"{self._slug}__rows"),
        ]

    def verdicts(self, stats: dict[str, Any]) -> list[dict[str, Any]]:
        hll = stats.get(f"{self._slug}__hll") or 0
        rows = stats.get(f"{self._slug}__rows") or 0
        # approximate duplicate rate, clamped: HLL can overshoot rows
        approx_dup = max(0.0, (rows - hll) / rows) if rows else 0.0
        col = ",".join(self.keys)
        # HLL tier is advisory: pass/fail uses error-inflated bound so a
        # unique key never fails on estimator noise alone
        slack = 3 * self.hll_rsd
        return [
            verdict(
                self.name, col, "approx_duplicate_rate", approx_dup,
                None, self.max_duplicate_rate + slack,
            )
        ]

    def run_extra(self, df: DataFrame, stats: dict[str, Any] | None = None) -> list[dict[str, Any]]:
        if self.hll_only:
            return []
        dup = (
            df.groupBy(*self.keys)
            .count()
            .filter(F.col("count") > 1)
            .agg(
                F.coalesce(F.sum("count"), F.lit(0)).alias("dup_rows"),
                F.count(F.lit(1)).alias("dup_keys"),
            )
            .first()
        )
        # total row count comes from the fused pass — no extra scan
        key = f"{self._slug}__rows"
        total = stats[key] if stats and key in stats else df.count()
        rate = (dup["dup_rows"] / total) if total else 0.0
        col = ",".join(self.keys)
        return [
            verdict(self.name, col, "duplicate_row_rate", rate, None, self.max_duplicate_rate),
            verdict(self.name, col, "duplicate_key_count", float(dup["dup_keys"])),
        ]

    def violations(self, df: DataFrame) -> DataFrame | None:
        if self.hll_only:
            return None
        dup_keys = df.groupBy(*self.keys).count().filter(F.col("count") > 1).drop("count")
        # duplicated-key groups are (by definition) a small fraction in a
        # healthy table; let AQE pick broadcast when they are
        return (df.join(dup_keys, on=self.keys, how="left_semi")
                .select(*self.keys, F.lit(self.name).alias(VIOLATION_KEY_COL)))
