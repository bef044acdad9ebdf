"""ValidationSuite — plans and runs a set of checks with minimal scans.

Lifecycle (SURVEY.md §3.4): build checks → ONE fused aggregation job
computes every stats-class metric (optionally grouped by partition
columns for per-partition verdicts) → driver evaluates thresholds on the
tiny collected stats → join/group-class checks run their own O(1) jobs →
verdicts / violations / metrics come back as DataFrames for the caller to
write to its sink tables.

The verdicts frame is built on the driver, from rows the driver already
holds, as a local relation (``session.local_frame``): collecting it runs
no Spark job, and writing it starts no Python worker.

The reference's equivalent is the reactive graph of eager data.frames and
shinyalert asserts (``/root/reference/PRIME_App/server.R:951-1092``); the
scan-count discipline here (SURVEY.md §4.2.1) is what makes the same
semantics viable at 10^12 rows.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from functools import reduce
from typing import Any, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from anomalydetection_spark.checks.base import Check, VERDICT_SCHEMA
from anomalydetection_spark.session import local_frame


@dataclass
class SuiteResult:
    """One run's outputs. ``verdicts`` is a driver-local relation (one row
    per partition, check and metric): ``collect()`` on it, or ``passed``,
    is free — no Spark job. ``violations`` is a lazy frame over the input
    and costs a scan when written or collected."""

    verdicts: DataFrame      # one row per (partition, check, metric)
    violations: DataFrame | None  # offending rows, tagged with check name
    metrics: dict[str, Any]  # raw collected stats (global slice)
    elapsed_sec: float
    suite: "ValidationSuite | None" = None  # owner, for release()

    @property
    def passed(self) -> bool:
        return not self.verdicts.filter(~F.col("passed")).take(1)

    def release(self) -> None:
        """Free check-held persisted intermediates (the decode verdict
        cache) once ``violations`` has been written/collected. Required
        when the suite instance is throwaway (``run_image_validation``
        builds one per call) — otherwise the cache outlives the run."""
        if self.suite is not None:
            self.suite.release()


class ValidationSuite:
    def __init__(
        self,
        checks: Sequence[Check],
        table_name: str = "",
        partition_by: Sequence[str] = (),
    ):
        self.checks = list(checks)
        self.table_name = table_name
        self.partition_by = list(partition_by)

    # ------------------------------------------------------------------
    def _fused_stats(self, df: DataFrame) -> tuple[dict, list[tuple[str, dict]]]:
        """Run the single fused agg. Returns (global_stats, per_partition)."""
        exprs = []
        seen: set[str] = set()
        for c in self.checks:
            for e in c.stats_exprs():
                # dedupe identical aliases contributed by multiple checks
                # (str(Column) renders "Column<'expr AS alias'>" on both
                # classic and Connect backends)
                alias = str(e).rsplit(" AS ", 1)[-1].rstrip("'>`").lstrip("`")
                if alias not in seen:
                    seen.add(alias)
                    exprs.append(e)
        if not exprs:
            return {}, []
        if self.partition_by:
            # ONE scan for both the per-partition slices and the global
            # row: rollup computes every aggregate per group AND merged
            # across groups (all our aggregates — counts, moments,
            # percentile/HLL sketches — are merge-combinable, which is
            # exactly what rollup's partial-merge tree exploits).
            # grouping_id separates the grand-total row (all bits set)
            # from real groups (0) and, for multi-column partition_by,
            # skips the intermediate prefix levels.
            full = (1 << len(self.partition_by)) - 1
            rows = (
                df.rollup(*self.partition_by)
                .agg(*exprs, F.grouping_id(*self.partition_by).alias("__gid"))
                .collect()
            )
            g: dict = {}
            per_part = []
            for r in rows:
                d = r.asDict()
                gid = d.pop("__gid")
                if gid == full:
                    for p in self.partition_by:
                        d.pop(p)
                    g = d
                elif gid == 0:
                    key = "/".join(str(d.pop(p)) for p in self.partition_by)
                    per_part.append((key, d))
            per_part.sort(key=lambda kv: kv[0])
            return g, per_part
        g = df.agg(*exprs).first().asDict()
        return g, []

    # ------------------------------------------------------------------
    def _stats_frame(self, df: DataFrame) -> DataFrame:
        """Narrow projection feeding every stats/post/extra job.

        Payload columns (``bytes``!) are read only by map-only
        ``use_original`` checks, so the stats, post and extra jobs scan
        ~50 B/row of metadata instead of ~100 KB/row of pixels."""
        needed: set[str] = set(self.partition_by)
        for c in self.checks:
            if c.use_original:
                continue
            rc = c.required_columns()
            if rc is None:
                return df  # a check with unknown column needs → no pruning
            needed.update(rc)
        existing = [c for c in df.columns if c in needed]
        return df.select(*existing) if existing else df

    def run(
        self,
        df: DataFrame,
        spark: SparkSession | None = None,
        with_violations: bool = True,
    ) -> SuiteResult:
        # the stats frame is never cached: the fused design already keeps
        # the suite to ~4 narrow scans + 1 shuffle, re-scanning a pruned
        # parquet/Iceberg projection (vectorized, pushed-down) is usually
        # cheaper than materializing a columnar cache, and at 10^12 rows
        # caching is not an option at all
        spark = spark or df.sparkSession
        t0 = time.time()
        for c in self.checks:
            c.reset()  # drop models/caches fitted by a previous run()
            # verdicts-only runs skip shared-pass caches (decode results):
            # nothing will re-read them, so building the cache is pure cost
            c.cache_intermediates = with_violations
        stats_df = self._stats_frame(df)
        try:
            global_stats, per_part = self._fused_stats(stats_df)

            verdict_rows: list[dict[str, Any]] = []
            for c in self.checks:
                for v in c.verdicts(global_stats):
                    v.update(table=self.table_name, partition="")
                    verdict_rows.append(v)
                for part_key, stats in per_part:
                    for v in c.verdicts(stats):
                        v.update(table=self.table_name, partition=part_key)
                        verdict_rows.append(v)

            # fused post rounds: ONE agg per round shared by all checks
            # (robust-z MAD → violation counts, Mahalanobis flag counts, …)
            max_rounds = max((c.n_post_rounds for c in self.checks), default=0)
            for rnd in range(max_rounds):
                exprs = []
                for c in self.checks:
                    if c.n_post_rounds > rnd:
                        exprs.extend(c.post_exprs(rnd))
                if not exprs:
                    continue
                post_stats = stats_df.agg(*exprs).first().asDict()
                for c in self.checks:
                    if c.n_post_rounds > rnd:
                        for v in c.post_verdicts(rnd, post_stats):
                            v.update(table=self.table_name, partition="")
                            verdict_rows.append(v)

            for c in self.checks:
                target = df if c.use_original else stats_df
                for v in c.run_extra(target, global_stats):
                    v.update(table=self.table_name, partition="")
                    verdict_rows.append(v)

            verdicts = local_frame(
                spark,
                [
                    (
                        r["table"], r["partition"], r["check"], r["column"],
                        r["metric"], r["value"], r["lo"], r["hi"], r["passed"],
                    )
                    for r in verdict_rows
                ],
                VERDICT_SCHEMA,
            )

            violations = None
            if with_violations:
                vdfs = []
                for c in self.checks:
                    v = c.violations(df)
                    if v is not None:
                        vdfs.append(v)
                if vdfs:
                    violations = reduce(
                        lambda a, b: a.unionByName(b, allowMissingColumns=True), vdfs
                    )
            return SuiteResult(
                verdicts=verdicts,
                violations=violations,
                metrics=global_stats,
                elapsed_sec=time.time() - t0,
                suite=self,
            )
        finally:
            if not with_violations:
                # nothing downstream will re-read check-held intermediates
                # (decode-result caches etc.) — free them now; otherwise
                # they stay persisted so the returned lazy violations
                # frame shares the run's single decode pass (call
                # ``release()`` after consuming it).
                self.release()

    def release(self) -> None:
        """Free persisted intermediates held by checks (e.g. the decode
        verdict cache). Call after the returned violation frames have
        been written/collected; the next ``run()`` also frees them via
        ``reset()``."""
        for c in self.checks:
            c.release()


def quarantine_split(
    df: DataFrame, violations: DataFrame, keys: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """Partition ``df`` into (clean, quarantined) by the violation keys —
    the standard downstream move after a run: train on ``clean``, route
    ``quarantined`` to triage. A row violating several checks appears in
    ``violations`` once per check, so keys are deduped first; both sides
    are key-only joins (semi/anti), so the violation frame's payload
    never joins wide, and a small violation set broadcasts."""
    vk = violations.select(*keys).distinct()
    return (
        df.join(vk, list(keys), "left_anti"),
        df.join(vk, list(keys), "left_semi"),
    )
