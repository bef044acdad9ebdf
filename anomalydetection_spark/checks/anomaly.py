"""Anomaly-score checks: robust z-score (1-D) and Mahalanobis (k-D).

Distributed re-expression of the reference's recommender kernel
(``/root/reference/PRIME_App/utils.R:101-296``, SURVEY.md §2.11 K1):

  * moments come from ONE DataFrame aggregation (sums, counts, pairwise
    cross-products — Spark's partial+final hash agg is the merge pass);
  * the k×k matrix math (inverse) is driver-side numpy on the collected
    k×k result — k is tiny, the table is not;
  * per-row scoring is a pure Column expression
    ``Σ_ij Sinv[i][j]·(x_i−μ_i)·(x_j−μ_j)`` — whole-stage-codegen'd
    JVM arithmetic, no Python in the hot path (the reference loops rows
    in interpreted R at ``utils.R:207-272``);
  * the χ² cutoff is a driver-side constant (``qchisq(.95, k)`` analog
    via functions/stats_math.py).

The reference's *sparse* variant (NULL-pattern Mahalanobis via
``modi::MDmiss`` + conditional-expectation estimates) lives in
kernels/recommender.py in compat mode; this module is the dense
full-scale path for the image feature vector (w, h, byte_length, …).
"""

from __future__ import annotations

from typing import Any, Sequence

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from anomalydetection_spark.checks.base import Check, verdict
from anomalydetection_spark.functions.stats_math import chi2_ppf


class RobustZScoreCheck(Check):
    """Flag rows where |x − median| / (1.4826·MAD) > threshold.

    Median/MAD via ``percentile_approx`` (mergeable KLL-style sketch —
    single pass each, no sort). The median rides the suite's fused pass;
    the MAD (needs the median) and the violation count (needs the MAD)
    ride fused post-rounds 0 and 1 shared with every other check — this
    check adds ZERO scans of its own to a suite run.
    """

    n_post_rounds = 2
    fitted = True

    def __init__(self, column: str, threshold: float = 3.5,
                 max_violation_rate: float = 0.01,
                 keys: Sequence[str] | None = None, accuracy: int = 1000):
        # accuracy=1000 (KLL rel-err ~1e-3) measured 6x faster than 1e4 at
        # 32 cores: sketch FINAL-merge is per-group serial, so oversized
        # sketches become the suite's Amdahl term (32M rows: 7.9s -> 1.3s)
        self.column = column
        self.threshold = threshold
        self.max_violation_rate = max_violation_rate
        self.keys = list(keys) if keys else [column]
        self.accuracy = accuracy
        self.name = f"robust_z:{column}"
        self._slug = f"rz_{column}"
        self.reset()

    def reset(self) -> None:
        self._median: float | None = None
        self._mad: float | None = None
        self._sev: tuple[float, float] | None = None  # (q80, q90) of |z|
        self._z: Column | None = None  # |x − median| / (1.4826·MAD), once per fit

    # fused pass: median sketch (per-partition slices get their own rows)
    def stats_exprs(self) -> list[Column]:
        return [
            F.percentile_approx(self.column, 0.5, self.accuracy).alias(
                f"{self._slug}__median"
            )
        ]

    def verdicts(self, stats: dict[str, Any]) -> list[dict[str, Any]]:
        med = stats.get(f"{self._slug}__median")
        if med is not None and self._median is None:
            self._median = float(med)  # first (global) row is the model
        return [verdict(self.name, self.column, "median",
                        None if med is None else float(med))]

    # post round 0: MAD + S7 severity cutoffs from ONE sketch of |x−med|
    # (utils.R:769-770's 80th/90th deviation percentiles — the z deviation
    # is monotone in |x−med|, so all three quantiles query the same KLL
    # sketch; a second sketch pass would re-pay the serial final-merge)
    # · post round 1: flag count given MAD
    def post_exprs(self, rnd: int) -> list[Column]:
        if rnd == 0:
            return [
                F.percentile_approx(
                    F.abs(F.col(self.column) - F.lit(self._median or 0.0)),
                    F.array(F.lit(0.5), F.lit(0.8), F.lit(0.9)), self.accuracy,
                ).alias(f"{self._slug}__madq")
            ]
        return [
            F.sum((self._z > self.threshold).cast("long")).alias(f"{self._slug}__bad"),
            F.count(self.column).alias(f"{self._slug}__n"),
        ]

    def post_verdicts(self, rnd: int, stats: dict[str, Any]) -> list[dict[str, Any]]:
        if rnd == 0:
            q = stats.get(f"{self._slug}__madq")
            self._mad = None if q is None else float(q[0])
            scale = 1.4826 * (self._mad if self._mad else 1e-12)
            if q is not None:
                self._sev = (float(q[1]) / scale, float(q[2]) / scale)
            # an empty input leaves the median NULL: z is NULL, nothing flags
            self._z = F.abs(F.col(self.column) - F.lit(self._median)) / F.lit(scale)
            return [verdict(self.name, self.column, "mad", self._mad)]
        bad = stats.get(f"{self._slug}__bad") or 0
        n = stats.get(f"{self._slug}__n") or 0
        rate = (bad / n) if n else 0.0
        return [
            verdict(self.name, self.column, "outlier_rate", rate, None, self.max_violation_rate)
        ]

    def row_violation(self, df: DataFrame) -> tuple[Column, Column]:
        if self._z is None:
            _fit_alone(self, df)
        return self._z > self.threshold, severity_expr(self._z, self._sev)


def _fit_alone(check: Check, df: DataFrame) -> None:
    """Fit outside a suite run: the check's fused-pass and post-round-0
    aggregates over ``df`` (standalone ``violations(df)``)."""
    check.verdicts(df.agg(*check.stats_exprs()).first().asDict())
    if exprs := check.post_exprs(0):
        check.post_verdicts(0, df.agg(*exprs).first().asDict())


def severity_expr(deviation: Column | None, cutoffs: tuple[float, float] | None) -> Column:
    """S7 severity tier (``PRIME_App/utils.R:769-820``): the reference
    colors a reported cell red when its deviation exceeds the 90th
    percentile of ALL deviation values and light-red above the 80th —
    here the triage tier becomes an explicit column on violation rows."""
    if cutoffs is None:
        return F.lit(None).cast("string")
    q80, q90 = cutoffs
    return (
        F.when(deviation > F.lit(q90), F.lit("high"))
        .when(deviation > F.lit(q80), F.lit("medium"))
        .otherwise(F.lit("low"))
    )


class MahalanobisCheck(Check):
    """Dense Mahalanobis distance over ``cols`` with χ²(alpha, k) cutoff.

    Mirrors ``PRIME_App/utils.R:228-232`` (MD + qchisq flag) but with a
    proper covariance (centered, n−1) and df = k. The reference's
    degrees-of-freedom quirk (SURVEY.md §2.11 K1 stage 7) is reproduced
    only by the K1 kernel, ``run_rec_analysis``.
    """

    fitted = True

    def __init__(
        self,
        cols: Sequence[str],
        alpha: float = 0.95,
        max_violation_rate: float = 0.01,
        keys: Sequence[str] | None = None,
    ):
        self.cols = list(cols)
        self.alpha = alpha
        self.max_violation_rate = max_violation_rate
        self.keys = list(keys) if keys else list(cols)
        self.name = f"mahalanobis:{','.join(self.cols)}"
        self._slug = "md_" + "_".join(self.cols)
        self.cutoff = chi2_ppf(alpha, len(self.cols))
        self.reset()

    def reset(self) -> None:
        self._solved = False
        self._md2: Column | None = None  # None: fewer than 2 rows, no model
        self._sev: tuple[float, float] | None = None  # (q80, q90) of MD²

    # ---- fused-pass moment expressions -------------------------------
    def stats_exprs(self) -> list[Column]:
        exprs: list[Column] = [F.count(F.lit(1)).alias(f"{self._slug}__n")]
        for i, ci in enumerate(self.cols):
            exprs.append(F.sum(F.col(ci).cast("double")).alias(f"{self._slug}__s_{i}"))
            for j in range(i, len(self.cols)):
                exprs.append(F.sum((F.col(ci) * F.col(self.cols[j])).cast("double"))
                             .alias(f"{self._slug}__ss_{i}_{j}"))
        return exprs

    def _solve(self, stats: dict[str, Any]) -> None:
        k = len(self.cols)
        n = stats[f"{self._slug}__n"]
        if n is None or n < 2:
            return
        s = np.array([stats[f"{self._slug}__s_{i}"] for i in range(k)], dtype=float)
        mu = s / n
        cov = np.zeros((k, k))
        for i in range(k):
            for j in range(i, k):
                ss = stats[f"{self._slug}__ss_{i}_{j}"]
                cij = (ss - n * mu[i] * mu[j]) / (n - 1)
                cov[i, j] = cov[j, i] = cij
        # ridge for numerically singular covariance (reference handles
        # collinearity by noise injection, PRIME_App/utils.R:131-154; a
        # deterministic ridge is the principled equivalent)
        try:
            sinv = np.linalg.inv(cov)
        except np.linalg.LinAlgError:
            # degenerate slice (constant columns / tiny partitions): ridge
            # by trace if any, else absolute epsilon; pinv as last resort
            ridge = 1e-9 * np.trace(cov) or 1e-9
            try:
                sinv = np.linalg.inv(cov + np.eye(k) * ridge)
            except np.linalg.LinAlgError:
                sinv = np.linalg.pinv(cov)
        self._md2 = md2_expr(self.cols, mu, sinv)

    def verdicts(self, stats: dict[str, Any]) -> list[dict[str, Any]]:
        # the suite evaluates the GLOBAL stats row first, then per-partition
        # slices; the first (global) fit is the scoring model, so violation
        # rows use table-level moments, not the last partition's
        if not self._solved:
            self._solved = True
            self._solve(stats)
        return [verdict(self.name, ",".join(self.cols), "chi2_cutoff", self.cutoff)]

    # post round 0: flag count via the shared fused post-agg (model was
    # solved from the fused-pass moments — this check adds zero scans)
    n_post_rounds = 1

    def post_exprs(self, rnd: int) -> list[Column]:
        if self._md2 is None:
            return []
        return [
            F.sum((self._md2 > self.cutoff).cast("long")).alias(f"{self._slug}__bad"),
            F.count(F.lit(1)).alias(f"{self._slug}__nn"),
            F.percentile_approx(self._md2, F.array(F.lit(0.8), F.lit(0.9)),
                                1000).alias(f"{self._slug}__sq"),
        ]

    def post_verdicts(self, rnd: int, stats: dict[str, Any]) -> list[dict[str, Any]]:
        if self._md2 is None:
            return []
        sq = stats.get(f"{self._slug}__sq")
        if sq is not None and self._sev is None:
            self._sev = (float(sq[0]), float(sq[1]))
        bad = stats.get(f"{self._slug}__bad") or 0
        n = stats.get(f"{self._slug}__nn") or 0
        rate = (bad / n) if n else 0.0
        return [verdict(self.name, ",".join(self.cols), "outlier_rate",
                        rate, None, self.max_violation_rate)]

    def row_violation(self, df: DataFrame) -> tuple[Column, Column]:
        if not self._solved:
            _fit_alone(self, df)
        md2 = self._md2
        return (F.lit(False) if md2 is None else md2 > self.cutoff), severity_expr(md2, self._sev)


def md2_expr(cols: Sequence[str], mu: np.ndarray, sinv: np.ndarray) -> Column:
    """Squared Mahalanobis distance as ONE parsed SQL string, not ~6k² Column
    ops over py4j; left-associative + gives their tree ((t_00 + t_01) + …),
    t_ij = (d_i·d_j)·Sinv_ij, d_i = double(x_i) − μ_i; repr round-trips."""
    def num(x) -> str:
        x = float(x)
        return f"({x!r}D)" if np.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"

    d = [f"(CAST(`{c.replace('`', '``')}` AS DOUBLE) - {num(m)})" for c, m in zip(cols, mu)]
    k = len(cols)
    terms = [f"(({d[i]} * {d[j]}) * {num(sinv[i, j])})" for i in range(k) for j in range(k)]
    return F.expr(" + ".join(terms))
