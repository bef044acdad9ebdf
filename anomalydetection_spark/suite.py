"""ValidationSuite — plans and runs a set of checks with minimal scans.

Lifecycle (SURVEY.md §3.4): build checks → ONE fused aggregation job
computes every stats-class metric (optionally grouped by partition
columns for per-partition verdicts) → driver evaluates thresholds on the
tiny collected stats → join/group-class checks run their own O(1) jobs →
verdicts / violations / metrics come back as DataFrames for the caller to
write to its sink tables. The violations frame is ONE filter + projection
over the input for every row-local check (one scan whatever their number),
plus the frames of the checks that need a join or the decode pass.

The verdicts frame is built on the driver, from rows the driver already
holds, as a local relation (``session.local_frame``): collecting it runs
no Spark job, and writing it starts no Python worker.

The reference's equivalent is the reactive graph of eager data.frames and
shinyalert asserts (``/root/reference/PRIME_App/server.R:951-1092``); the
scan-count discipline here (SURVEY.md §4.2.1) is what makes the same
semantics viable at 10^12 rows.
"""

from __future__ import annotations

import operator
import time
from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable, Sequence

import pyspark.sql.functions as F
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession

from anomalydetection_spark.checks.base import Check, VERDICT_SCHEMA, VIOLATION_KEY_COL
from anomalydetection_spark.session import local_frame


@dataclass
class SuiteResult:
    """One run's outputs. ``verdicts`` is a driver-local relation (one row
    per partition, check and metric): ``collect()`` on it, or ``passed``,
    is free — no Spark job. ``violations`` is a lazy frame over the input:
    writing or collecting it scans the input once for all row-local
    checks, plus the join/decode checks' own frames."""

    verdicts: DataFrame      # one row per (partition, check, metric)
    violations: DataFrame | None  # (keys…, severity, _check) per violation
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
        names = [c.name for c in self.checks]
        if clash := sorted({n for n in names if names.count(n) > 1}):
            # a name keys its check's fused aggregates and violation rows
            raise ValueError(f"check names must be unique; repeated: {clash}")
        self.table_name = table_name
        self.partition_by = list(partition_by)
        self._memo_sc: Any = None
        self._memo: dict = {}

    # ------------------------------------------------------------------
    def _once(self, key: Any, build: Callable[[], Any]) -> Any:
        """Columns that do not change between runs, built once per suite
        and SparkContext (a classic Column is a handle into one JVM)."""
        sc = SparkContext._active_spark_context
        if self._memo_sc is not sc:
            self._memo_sc, self._memo = sc, {}
        if key not in self._memo:
            self._memo[key] = build()
        return self._memo[key]

    def _stats_exprs(self) -> list[Column]:
        # dedupe identical expressions contributed by multiple checks
        # (str(Column) renders "Column<'expr AS alias'>" on classic and
        # Connect backends); one alias bound to two expressions is a clash
        by_alias: dict[str, Column] = {}
        for e in (e for c in self.checks for e in c.stats_exprs()):
            alias = str(e).rsplit(" AS ", 1)[-1].rstrip("'>`").lstrip("`")
            if str(by_alias.setdefault(alias, e)) != str(e):
                raise ValueError(f"fused aggregate {alias!r} is bound to two different "
                                 f"expressions: {by_alias[alias]} and {e}")
        return list(by_alias.values())

    def _fused_stats(self, df: DataFrame) -> tuple[dict, list[tuple[str, dict]]]:
        """Run the single fused agg. Returns (global_stats, per_partition)."""
        exprs = self._once("stats", self._stats_exprs)
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
            if rows:
                return g, per_part
            # an empty input has no rollup row, not even the total; the
            # global row of no rows needs no second scan: Catalyst plans
            # limit(0) as an empty local relation
            df = df.limit(0)
        return df.agg(*exprs).first().asDict(), []

    def run(
        self,
        df: DataFrame,
        spark: SparkSession | None = None,
        with_violations: bool = True,
    ) -> SuiteResult:
        spark = spark or df.sparkSession
        t0 = time.time()
        for c in self.checks:
            c.reset()  # drop models/caches fitted by a previous run()
            # verdicts-only runs skip shared-pass caches (decode results):
            # nothing will re-read them, so building the cache is pure cost
            c.cache_intermediates = with_violations
        rows: list[tuple] = []

        def add(vs: list[dict[str, Any]], partition: str = "") -> None:
            rows.extend((self.table_name, partition, v["check"], v["column"],
                         v["metric"], v["value"], v["lo"], v["hi"], v["passed"])
                        for v in vs)

        try:
            global_stats, per_part = self._fused_stats(df)
            for c in self.checks:
                add(c.verdicts(global_stats))
                for part_key, stats in per_part:
                    add(c.verdicts(stats), part_key)

            # fused post rounds: ONE agg per round shared by all checks
            # (robust-z MAD → violation counts, Mahalanobis flag counts, …)
            max_rounds = max((c.n_post_rounds for c in self.checks), default=0)
            for rnd in range(max_rounds):
                live = [c for c in self.checks if c.n_post_rounds > rnd]
                exprs = [e for c in live for e in c.post_exprs(rnd)]
                if exprs:
                    post_stats = df.agg(*exprs).first().asDict()
                    for c in live:
                        add(c.post_verdicts(rnd, post_stats))

            for c in self.checks:
                add(c.run_extra(df, global_stats))

            return SuiteResult(
                verdicts=local_frame(spark, rows, VERDICT_SCHEMA),
                violations=self._violations(df) if with_violations else None,
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

    def _violations(self, df: DataFrame) -> DataFrame | None:
        """All violation rows, typed and ordered as the per-check frames'
        ``unionByName(allowMissingColumns=True)``: ONE filter on the OR of
        the row-local predicates (pushable atoms reach the scan), ONE
        projection inlining a ``(keys…, severity, _check)`` struct per
        violated check, then the frame-building checks' frames."""
        local, frames, order = [], [], []
        for i, c in enumerate(self.checks):
            rv = (c.row_violation(df) if c.fitted
                  else self._once(("rv", i), lambda: c.row_violation(df)))
            if rv is not None:
                sev = ["severity"] if rv[1] is not None else []
                cols = [*(c.keys or df.columns), *sev, VIOLATION_KEY_COL]
                local.append((i, c, *rv, cols))
            elif (v := c.violations(df)) is not None:
                frames.append(v)
                cols = v.columns
            else:
                continue
            order += [x for x in cols if x not in order]
        if local:
            shared = tuple(x for x in order if any(x in l[-1] for l in local))

            def element(i, c, pred, sev, cols):
                # a key this check does not project: NULL, typed by array()
                fields = self._once(("fields", i, shared, tuple(cols)), lambda: [
                    F.lit(c.name).alias(x) if x == VIOLATION_KEY_COL
                    else F.col(x) if x in cols else F.lit(None).alias(x)
                    for x in shared])
                if sev is not None:
                    fields = [sev.alias(x) if x == "severity" else f
                              for f, x in zip(fields, shared)]
                return F.when(pred, F.struct(*fields))

            elems = [element(*l) if l[1].fitted
                     else self._once(("el", l[0], shared), lambda: element(*l))
                     for l in local]
            preds = [l[2] for l in local if l[1].fitted]
            fixed = [l[2] for l in local if not l[1].fitted]
            if fixed:
                preds.append(self._once("any", lambda: reduce(operator.or_, fixed)))
            frames.insert(0, df.filter(reduce(operator.or_, preds)).select(
                F.inline(F.array_compact(F.array(*elems)))))
        if not frames:
            return None
        out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
        return out.select(*order) if local and len(frames) > 1 else out

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
