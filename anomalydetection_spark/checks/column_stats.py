"""Single-pass per-column statistics check.

Re-expresses the reference's per-column presence/variance/mean screens
(``/root/reference/PRIME_App/utils.R:111,119,186-190`` — sparse means as
``sum(na.rm)/count``; ``App/utils.R:619-657`` runChecks) as ONE DataFrame
aggregation: count, null count, mean, sample variance, min, max per
column.  Spark's partial+final hash aggregation IS the merge-based
(Welford-equivalent) single pass the north star asks for — every executor
computes partial moments and the reducer merges them; no second scan.

NULL semantics match R ``na.rm=TRUE``: ``avg``/``var_samp`` skip NULLs,
``count(col)`` counts non-NULL, so "indicator not reported" sparsity is
preserved (SURVEY.md §1.2).
"""

from __future__ import annotations

from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import Column

from anomalydetection_spark.checks.base import Check, verdict


def stats_exprs_for(col: str, numeric: bool = True) -> list[Column]:
    """The fused-agg expression bundle for one column."""
    exprs = [
        F.count(F.col(col)).alias(f"{col}__count"),
        F.sum(F.col(col).isNull().cast("long")).alias(f"{col}__nulls"),
    ]
    if numeric:
        exprs += [
            F.avg(col).alias(f"{col}__mean"),
            F.var_samp(col).alias(f"{col}__var"),
            F.min(col).alias(f"{col}__min"),
            F.max(col).alias(f"{col}__max"),
        ]
    return exprs


class ColumnStatsCheck(Check):
    """Bounds on per-column moments + null rate, all from the fused pass.

    ``constraints`` maps metric name -> (lo, hi); metrics: ``count,
    null_rate, mean, var, min, max``.  A column with no constraints still
    emits metric rows (the engine's metrics sink wants the profile either
    way, mirroring the reference's unconditional obs-count/mean pass).
    """

    def __init__(
        self,
        column: str,
        numeric: bool = True,
        constraints: dict[str, tuple[float | None, float | None]] | None = None,
    ):
        self.column = column
        self.numeric = numeric
        self.constraints = constraints or {}
        self.name = f"column_stats:{column}"

    def stats_exprs(self) -> list[Column]:
        return stats_exprs_for(self.column, self.numeric)

    def verdicts(self, stats: dict[str, Any]) -> list[dict[str, Any]]:
        c = self.column
        cnt = stats.get(f"{c}__count") or 0
        nulls = stats.get(f"{c}__nulls") or 0
        total = cnt + nulls
        metrics: dict[str, float | None] = {
            "count": float(cnt),
            "null_rate": (nulls / total) if total else None,
        }
        if self.numeric:
            for m in ("mean", "var", "min", "max"):
                v = stats.get(f"{c}__{m}")
                metrics[m] = None if v is None else float(v)
        out = []
        for metric, value in metrics.items():
            lo, hi = self.constraints.get(metric, (None, None))
            if metric in self.constraints or value is not None:
                out.append(verdict(self.name, c, metric, value, lo, hi))
        return out
