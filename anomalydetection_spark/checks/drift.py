"""Distribution-drift detection: fixed-bin histograms → PSI + binned KS.

Re-expression of the reference's time-series drift flags — "latest value
outside the 99% forecast band" per series
(``/root/reference/PRIME_App/utils.R:474-547``) — as snapshot-to-snapshot
distribution comparison (SURVEY.md §2.11 K2 analog, §7 step 6): per
(group, feature) we histogram with FIXED bin edges (so two runs/snapshots
bin identically), then compute

  * **PSI**  = Σ (p_i − q_i) · ln(p_i / q_i)   (ε-smoothed)
  * **binned KS** = max_i |CDF_p(i) − CDF_q(i)|

Exact KS needs a global sort; the binned version is one ``groupBy`` over
a flat bucket id — a single shuffle of (#groups × #bins) rows regardless
of table size — with error bounded by the max per-bin mass (documented in
SURVEY.md §4.2.4).
"""

from __future__ import annotations

import math
from typing import Any, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from anomalydetection_spark.checks.base import Check, verdict

EPS = 1e-6


def bucket_expr(col: str | Column, lo: float, hi: float, nbins: int) -> Column:
    """Fixed-width bucket id in [0, nbins-1]; out-of-range values clamp to
    the edge bins so drifted tails stay visible rather than vanishing."""
    c = F.col(col) if isinstance(col, str) else col
    width = (hi - lo) / nbins
    raw = F.floor((c - F.lit(lo)) / F.lit(width)).cast("int")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1))


def histogram(
    df: DataFrame,
    col: str | Column,
    lo: float,
    hi: float,
    nbins: int = 64,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """(group..., bin, n) counts with fixed-width bins. One shuffle of at
    most #groups × nbins rows after map-side partial aggregation. ``col``
    may be a derived Column expression (e.g. ``F.length('bytes')``)."""
    c = F.col(col) if isinstance(col, str) else col
    out = (
        df.filter(c.isNotNull())
        .withColumn("bin", bucket_expr(c, lo, hi, nbins))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return out


def _normalize(counts: dict[int, int], nbins: int) -> list[float]:
    total = sum(counts.values()) or 1
    return [(counts.get(i, 0) / total) for i in range(nbins)]


def psi_from_histograms(p: list[float], q: list[float]) -> float:
    """Population Stability Index with ε smoothing (driver-side: the
    histograms are tiny once aggregated)."""
    s = 0.0
    for pi, qi in zip(p, q):
        pi = max(pi, EPS)
        qi = max(qi, EPS)
        s += (pi - qi) * math.log(pi / qi)
    return s


def ks_from_histograms(p: list[float], q: list[float]) -> float:
    """Binned two-sample KS statistic: max CDF gap over bin boundaries."""
    cp = cq = 0.0
    best = 0.0
    for pi, qi in zip(p, q):
        cp += pi
        cq += qi
        best = max(best, abs(cp - cq))
    return best


def emd_from_histograms(p: list[float], q: list[float],
                        bin_width: float = 1.0) -> float:
    """Binned 1-Wasserstein (earth-mover's) distance: Σ|CDF gap|·width.
    Complements PSI (sensitive to density ratio) and KS (max gap only)
    with a location-aware magnitude — a mean shifted by 2 bins scores 2×
    a shift of 1 bin, which KS cannot distinguish once saturated."""
    cp = cq = 0.0
    s = 0.0
    for pi, qi in zip(p, q):
        cp += pi
        cq += qi
        s += abs(cp - cq)
    return s * bin_width


class DriftCheck(Check):
    """Compare ``column``'s distribution against a baseline histogram,
    optionally per group (e.g. per fmt / per snapshot partition).

    ``baseline``: dict mapping group-key-tuple (or () for global) to a
    bin-count list, produced by a previous run's ``histogram`` (the
    engine's baseline-stats table, FIXTURES.md §3).  Bin EDGES are part of
    the check config so every snapshot bins identically.

    ``expr``: histogram a DERIVED value instead of a raw column (e.g.
    ``F.length('bytes')`` for byte-length drift — north-star feature
    set: w/h/byte-length histograms). The histogram stage is map-only:
    ``bytes`` becomes a bin index before the shuffle, so only (group,
    bin) count partials ever move.
    """

    def __init__(
        self,
        column: str,
        lo: float,
        hi: float,
        nbins: int,
        baseline: dict[tuple, list[int]],
        group_cols: Sequence[str] = (),
        max_psi: float = 0.2,
        max_ks: float = 0.15,
        max_emd_bins: float | None = None,
        expr: Column | None = None,
    ):
        self.column = column
        self.lo, self.hi, self.nbins = lo, hi, nbins
        self.baseline = baseline
        self.group_cols = list(group_cols)
        self.max_psi = max_psi
        self.max_ks = max_ks
        # EMD threshold expressed in BIN units (scale-free across configs)
        self.max_emd_bins = max_emd_bins
        self.expr = expr
        self.name = f"drift:{column}"

    def run_extra(self, df: DataFrame, stats: dict[str, Any] | None = None) -> list[dict[str, Any]]:
        target = self.expr if self.expr is not None else self.column
        hist = histogram(df, target, self.lo, self.hi, self.nbins, self.group_cols)
        rows = hist.collect()
        by_group: dict[tuple, dict[int, int]] = {}
        for r in rows:
            key = tuple(r[g] for g in self.group_cols)
            by_group.setdefault(key, {})[r["bin"]] = r["n"]
        out: list[dict[str, Any]] = []
        for key, counts in sorted(by_group.items()):
            base = self.baseline.get(key)
            label = self.column if not key else f"{self.column}@{'/'.join(map(str, key))}"
            if base is None:
                out.append(verdict(self.name, label, "baseline_missing", None))
                continue
            p = _normalize(counts, self.nbins)
            q = _normalize({i: c for i, c in enumerate(base)}, self.nbins)
            out.append(verdict(self.name, label, "psi", psi_from_histograms(p, q), None, self.max_psi))
            out.append(verdict(self.name, label, "ks", ks_from_histograms(p, q), None, self.max_ks))
            if self.max_emd_bins is not None:
                out.append(verdict(self.name, label, "emd_bins",
                                   emd_from_histograms(p, q), None, self.max_emd_bins))
        return out
