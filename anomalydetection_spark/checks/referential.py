"""Referential-integrity checks via broadcast anti-join.

The reference's membership logic is ``%in%`` whitelists against constant
vectors (``/root/reference/PRIME_App/server.R:785-788,1926-1932``) — i.e.
semi/anti joins against tiny dimensions (SURVEY.md §2.3 J3/J4).  At scale
the dimension (fmt domain, allowed sources, …) stays small, so we force a
**broadcast hash anti-join**: no shuffle of the fact table at all, which
also neutralizes fmt-skew (a sort-merge join on 80%-jpeg data would put
80% of rows in one task; a broadcast join keeps the fact side's
partitioning untouched).
"""

from __future__ import annotations

from typing import Any, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from anomalydetection_spark.checks.base import Check, VIOLATION_KEY_COL, verdict


class ReferentialCheck(Check):
    """Every fact ``fk`` value must exist in ``dim[pk]``.

    ``dim`` may be a DataFrame (broadcast) or an in-memory list (compiled
    to ``isin`` — even cheaper: pure scan-side predicate, no join).
    """

    def __init__(
        self,
        fk: str,
        dim: DataFrame | Sequence,
        pk: str | None = None,
        max_violation_rate: float = 0.0,
        keys: Sequence[str] | None = None,
    ):
        self.fk = fk
        self.dim = dim
        self.pk = pk or fk
        self.max_violation_rate = max_violation_rate
        self.keys = list(keys) if keys else [fk]
        self.name = f"referential:{fk}"
        self._slug = f"ref_{fk}"

    def _orphans(self, df: DataFrame) -> DataFrame:
        dim = self.dim.select(F.col(self.pk).alias(self.fk)).distinct()
        return df.join(F.broadcast(dim), on=self.fk, how="left_anti")

    # constant-list dimension → pure scan-side predicate: the orphan count
    # folds into the fused pass, the orphan rows into the shared projection
    def row_violation(self, df: DataFrame) -> tuple[Column, None] | None:
        if isinstance(self.dim, DataFrame):
            return None
        return ~F.coalesce(F.col(self.fk).isin(list(self.dim)), F.lit(False)), None

    def stats_exprs(self) -> list[Column]:
        # both arms read the row total here; the list arm (it reads no
        # input frame) also counts its orphans
        rows = [F.count(F.lit(1)).alias(f"{self._slug}__rows")]
        if (rv := self.row_violation(None)) is None:
            return rows
        return [F.sum(rv[0].cast("long")).alias(f"{self._slug}__orphans"), *rows]

    def _verdicts(self, orphans: int, total: int) -> list[dict[str, Any]]:
        rate = (orphans / total) if total else 0.0
        return [
            verdict(self.name, self.fk, "orphan_rate", rate, None, self.max_violation_rate),
            verdict(self.name, self.fk, "orphan_count", float(orphans)),
        ]

    def verdicts(self, stats: dict[str, Any]) -> list[dict[str, Any]]:
        if isinstance(self.dim, DataFrame):
            return []
        return self._verdicts(stats.get(f"{self._slug}__orphans") or 0,
                              stats.get(f"{self._slug}__rows") or 0)

    def run_extra(self, df: DataFrame, stats: dict[str, Any] | None = None) -> list[dict[str, Any]]:
        if not isinstance(self.dim, DataFrame):
            return []  # folded into the fused pass
        key = f"{self._slug}__rows"  # the fused pass counted the rows
        total = stats[key] if stats and key in stats else df.count()
        return self._verdicts(self._orphans(df).count(), total)

    def violations(self, df: DataFrame) -> DataFrame | None:
        if not isinstance(self.dim, DataFrame):
            return super().violations(df)
        return self._orphans(df).select(*self.keys, F.lit(self.name).alias(VIOLATION_KEY_COL))
