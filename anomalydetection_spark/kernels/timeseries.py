"""Per-series forecast-band outlier kernel — reference-compat re-expression.

Distributed re-implementation of ``runTimeSeries``
(``/root/reference/PRIME_App/utils.R:426-724``; SURVEY.md §2.11 K2): per
(series keys) quarterly series, regularize the time grid, impute interior
gaps, fit three forecasters on the history excluding the final period,
and flag that final observation when it falls outside the 99% prediction
interval AND deviates more than ``min_thresh``.

Stage map (R nested split() loops → ONE grouped-map pandas UDF):

  1. calendar-shell left join (expand.grid + merge, utils.R:437-466)
     → in-kernel reindex over the [min_period, analysis_period] grid
  2. na.trim(sides='left') + na_interpolation(linear) (:469-471)
  3. three h=1 forecasts with 99% PIs (:474-532). The reference fits
     stlf-ARIMA / stlf-ETS / auto.arima from the `forecast` package;
     the container has no statsmodels/scipy, so this engine ships
     dependency-free deterministic analogs with the reference's exact
     decomposition STRUCTURE — ``stlf`` = decompose, forecast the
     seasonally-adjusted series, re-add the seasonal component:
       * ``stl_arima`` — classical additive decomposition (centered
         2×m MA trend, per-season detrended means), AICc-selected
         AR(p ≤ 2)-with-drift on the DIFFERENCED adjusted series
         (stlf's d=1/max.p=2 shape); PI from one-step in-sample
         residuals of the adjusted fit
       * ``stl_ets``   — same decomposition, Holt's linear (additive
         ETS(A,A,N)) with SSE-grid-optimized smoothing on the
         adjusted series (ets()'s ML-fit shape)
       * ``arima``     — auto.arima analog: AR(1)+drift on the
         seasonal difference (seasonal=TRUE counterpart)
     Forecaster fidelity vs a loess-STL + AICc-optimized reference is
     MEASURED in tests/test_k2_fidelity.py and documented in
     BASELINE.md (flag agreement ≥ 0.97 per stlf model on the fixture
     battery).
     ``compat_pred_reuse=True`` reproduces the reference bug where the
     ARIMA branch reports a stale point estimate: the second ``stlf``
     call OVERWRITES ``stlf_arima_forecast`` (utils.R:503), so the
     arima branch's ``pred`` (:535) is the stl-ETS mean — the bands
     stay arima's own.
  4. outlier iff actual present ∧ outside [lo99, hi99] ∧ |actual−pred| >
     min_thresh (:493-497); deviation = gap/(hi−lo) (:581-588)
  5. eligibility gate: ≥``min_recent`` of the last 12 periods present
     (server.R:2128-2137)

Scale design: each series is packed to ONE row (Spark groupBy sum →
collect_list of (period, value) structs — partial-aggregated map-side),
then ``mapInPandas`` scores a whole Arrow batch of series per Python
call. With millions of tiny series, per-group pandas construction is the
dominant cost of the naive grouped ``applyInPandas``; packing makes the
Python overhead per-batch instead of per-series (measured 3× on 7.5k
series). One shuffle total; zero Python in any other stage.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

Z99 = 2.5758293035489004  # qnorm(.995) — 99% two-sided interval


def _interp(y: np.ndarray) -> np.ndarray:
    """Left-trim is handled by caller; linear-interpolate interior NaNs
    (imputeTS::na_interpolation analog)."""
    idx = np.arange(len(y))
    ok = ~np.isnan(y)
    return np.interp(idx, idx[ok], y[ok])


def _sd_floor(pred: float, sd: float) -> float:
    """Forecast sds never collapse to zero (a perfectly regular history
    still has estimation uncertainty; a zero-width band would flag every
    continuation of an exact pattern)."""
    return max(sd, 1e-9, 1e-6 * max(1.0, abs(pred)))


def _snaive(y: np.ndarray, m: int) -> tuple[float, float]:
    """Seasonal-naive-with-drift point forecast + residual sd (the
    stlf-style trend+seasonal structure: one seasonal lag plus the mean
    seasonal change)."""
    if len(y) <= m:
        pred = float(y[-1])
        sd = float(np.std(np.diff(y), ddof=1)) if len(y) > 2 else 0.0
        return pred, _sd_floor(pred, sd)
    sdiff = y[m:] - y[:-m]
    drift = float(np.mean(sdiff))
    pred = float(y[-m] + drift)
    resid = sdiff - drift
    sd = float(np.std(resid, ddof=1)) if len(resid) > 1 else 0.0
    return pred, _sd_floor(pred, sd)


def _ar1_drift(y: np.ndarray, m: int) -> tuple[float, float]:
    """AR(1)+drift on the seasonal-difference (auto.arima-lite)."""
    if len(y) <= m + 2:
        return _snaive(y, m)
    d = y[m:] - y[:-m]  # seasonal difference
    if len(d) < 3 or np.allclose(d[:-1].var(), 0):
        pred_d, sd = float(np.mean(d)), float(np.std(d, ddof=1) if len(d) > 1 else 0)
    else:
        x, yy = d[:-1], d[1:]
        phi = float(np.cov(x, yy, ddof=1)[0, 1] / np.var(x, ddof=1)) if np.var(x, ddof=1) else 0.0
        phi = max(min(phi, 0.99), -0.99)
        c = float(np.mean(yy) - phi * np.mean(x))
        resid = yy - (c + phi * x)
        pred_d = c + phi * d[-1]
        sd = float(np.std(resid, ddof=1)) if len(resid) > 1 else 0.0
    pred = float(y[-m] + pred_d)
    return pred, _sd_floor(pred, sd)


def _stl_decompose(y: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray]:
    """Classical additive decomposition (the deterministic skeleton of
    STL): centered 2×m moving-average trend, seasonal indices as the
    per-season means of the detrended series normalized to sum 0.
    Returns (seasonal_index[m], seasonally_adjusted_series)."""
    n = len(y)
    w = np.full(m + 1, 1.0 / m)
    w[0] = w[-1] = 0.5 / m
    trend = np.convolve(y, w, mode="valid")          # length n - m
    off = m // 2                                      # trend[i] ~ y[i + off]
    detr = y[off:off + len(trend)] - trend
    seas = np.array([
        np.mean(detr[(np.arange(len(detr)) + off) % m == s])
        if np.any((np.arange(len(detr)) + off) % m == s) else 0.0
        for s in range(m)
    ])
    seas -= seas.mean()
    return seas, y - seas[np.arange(n) % m]


def _aicc(sse: float, n: int, k: int) -> float:
    if n - k - 1 <= 0:
        return np.inf
    return n * np.log(max(sse, 1e-12) / n) + 2 * k * n / (n - k - 1)


def _ar_aicc_diff(adj: np.ndarray) -> tuple[float, float]:
    """stlf-ARIMA-branch forecaster: AICc-selected AR(p ∈ {0,1,2}) with
    drift, fit by OLS on the FIRST DIFFERENCE of the seasonally-adjusted
    series (forecast::stlf's ARIMA picks d=1 on trending adjusted series;
    max.p=2 matches the reference's auto.arima bound, utils.R:525). The
    round-3 fidelity study measured this at 0.975 flag agreement / 0.981
    flagged-set recall vs the loess-STL + AICc reference — the previous
    AR(1)-on-levels fit sat at 0.900 / 0.830 (tests/test_k2_fidelity.py).
    Returns (level h=1 prediction, residual sd)."""
    d = np.diff(adj)
    n = len(d)
    if n < 3:
        pred = float(np.mean(d)) if n else 0.0
        sd = float(np.std(d, ddof=1)) if n > 1 else 0.0
        return float(adj[-1] + pred), sd
    best = (np.inf, float(np.mean(d)),
            float(np.std(d, ddof=1)) if n > 1 else 0.0)
    for p in range(0, 3):
        if n - p < p + 3:
            continue
        if p == 0:
            resid = d - np.mean(d)
            pred_d, k = float(np.mean(d)), 1
        else:
            X = np.vstack([np.ones(n - p)]
                          + [d[p - j - 1:n - j - 1] for j in range(p)]).T
            yv = d[p:]
            beta, *_ = np.linalg.lstsq(X, yv, rcond=None)
            resid = yv - X @ beta
            pred_d = float(np.concatenate([[1.0], d[::-1][:p]]) @ beta)
            k = p + 1
        sse = float(resid @ resid)
        score = _aicc(sse, len(resid), k)
        sd = float(np.sqrt(sse / max(len(resid) - k, 1)))
        if score < best[0]:
            best = (score, pred_d, sd)
    return float(adj[-1] + best[1]), best[2]


def _holt_once(a: np.ndarray, alpha: float, beta: float) -> tuple[float, np.ndarray]:
    level, trend = float(a[0]), float(a[1] - a[0])
    resid = np.empty(len(a) - 1)
    for t in range(1, len(a)):
        pred = level + trend
        resid[t - 1] = a[t] - pred
        new_level = alpha * a[t] + (1 - alpha) * pred
        trend = beta * (new_level - level) + (1 - beta) * trend
        level = new_level
    return level + trend, resid


_HOLT_GRID = [round(0.05 + 0.1 * i, 2) for i in range(10)]  # 0.05 .. 0.95
# Grid cells in scan order (β=0 SES-with-trend row first, then β ≤ α),
# pre-broadcast as vectors so ONE recursion pass scores every cell.
_HOLT_CELLS = [(al, be) for al in _HOLT_GRID
               for be in [0.0] + [b for b in _HOLT_GRID if b <= al]]
_HOLT_AL = np.array([c[0] for c in _HOLT_CELLS])
_HOLT_BE = np.array([c[1] for c in _HOLT_CELLS])


def _holt_grid(a: np.ndarray) -> tuple[float, np.ndarray]:
    """Score every (α, β) grid cell in one vectorized recursion.

    Elementwise-identical to calling ``_holt_once`` per cell (same double
    ops broadcast over the cell axis; each residual row is contiguous, so
    the per-cell ``r @ r`` SSE and the scan-order selection with the
    sequential search's exact tie rule — ``sse < best - 1e-12`` keeps the
    EARLIER grid cell on near-ties — reproduce it bit-for-bit, asserted
    in ``tests/test_kernels.py``) but ~65× fewer Python
    loop iterations: the t-loop runs once over |grid| lanes instead of
    once per cell. Measured 12.0s → 0.35s on 7,500 24-point series."""
    G = len(_HOLT_AL)
    level = np.full(G, float(a[0]))
    trend = np.full(G, float(a[1] - a[0]))
    R = np.empty((G, len(a) - 1))
    for t in range(1, len(a)):
        pred = level + trend
        R[:, t - 1] = a[t] - pred
        new_level = _HOLT_AL * a[t] + (1 - _HOLT_AL) * pred
        trend = _HOLT_BE * (new_level - level) + (1 - _HOLT_BE) * trend
        level = new_level
    preds = level + trend
    best_sse = np.inf
    pred_best, resid_best = float(a[-1]), np.array([])
    for i in range(G):
        r = R[i]
        sse = float(r @ r)
        if sse < best_sse - 1e-12:
            best_sse, pred_best, resid_best = sse, float(preds[i]), r
    return pred_best, resid_best


def _holt_linear(a: np.ndarray, alpha: float | None = None,
                 beta: float | None = None) -> tuple[float, float]:
    """Holt's linear trend (additive ETS(A,A,N)) h=1 forecast + one-step
    residual sd. With ``alpha``/``beta`` unset, the smoothing parameters
    are chosen by one-step SSE over a deterministic grid (β ≤ α, plus the
    β=0 SES-with-trend row) — the shape of ``ets()``'s maximum-likelihood
    fit. The round-3 fidelity study (tests/test_k2_fidelity.py) measured
    the fixed (0.3, 0.1) analog inflating residual sd up to ~2.2× vs an
    optimized reference on trending series, which cost 2-4σ anomaly
    recall; grid cost is O(|grid|²·n/2) numpy flops per series —
    negligible inside the packed-series kernel."""
    if len(a) < 3:
        return float(a[-1]), (float(np.std(np.diff(a), ddof=1))
                              if len(a) > 2 else 0.0)
    if alpha is not None:
        pred, resid = _holt_once(a, alpha, beta if beta is not None else 0.1)
    else:
        pred, resid = _holt_grid(a)
    # ddof=3 (~level0/trend0/smoothing dof): SSE-optimized residuals are
    # biased low, so the naive ddof=1 sd would under-cover
    sd = (float(np.sqrt(resid @ resid / max(len(resid) - 3, 1)))
          if len(resid) > 1 else 0.0)
    return float(pred), sd


def _stl_forecast(y: np.ndarray, m: int, method: str) -> tuple[float, float]:
    """stlf analog (utils.R:474-511): decompose, forecast the adjusted
    series with ``method`` ('arima' → AR(1)+drift, 'ets' → Holt linear),
    re-add the target period's seasonal index."""
    if len(y) < 2 * m + 1:
        return _snaive(y, m)  # too short to estimate a seasonal pattern
    seas, adj = _stl_decompose(y, m)
    pred_a, sd = _ar_aicc_diff(adj) if method == "arima" else _holt_linear(adj)
    pred = float(pred_a + seas[len(y) % m])
    return pred, _sd_floor(pred, sd)


MODELS = ("stl_arima", "stl_ets", "arima")


def run_time_series(
    df: DataFrame,
    keys: list[str],
    period_col: str,
    value_col: str,
    season: int = 4,
    min_thresh: float = 0.0,
    min_recent: int = 10,
    recent_window: int = 12,
    compat_pred_reuse: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Flag the latest period per series when outside all-model 99% bands.

    Output: keys + (model, period, actual, pred, lo99, hi99, outlier,
    deviation); one row per (series, model)."""
    analysis_period = df.agg(F.max(period_col)).first()[0]
    key_types = dict(df.dtypes)
    out_cols = list(keys) + ["model", "period", "actual", "pred",
                             "lo99", "hi99", "outlier", "deviation"]
    out_schema = (
        ", ".join(f"`{c}` {key_types[c]}" for c in keys)
        + ", model string, period int, actual double, pred double, "
        + "lo99 double, hi99 double, outlier int, deviation double"
    )

    def score_series(periods_arr: np.ndarray, values: np.ndarray,
                     keyvals: dict) -> list[dict]:
        s = pd.Series(values, index=periods_arr).reindex(
            range(int(periods_arr.min()), analysis_period + 1)
        )
        y_full = s.to_numpy(dtype=float)
        periods = s.index.to_numpy()
        # eligibility: ≥min_recent of the last recent_window periods
        recent = y_full[-recent_window:]
        if np.sum(~np.isnan(recent)) < min_recent:
            return []
        actual = y_full[-1]
        hist = y_full[:-1]
        ok = np.where(~np.isnan(hist))[0]
        hist = hist[ok[0]:]  # na.trim left
        hist = _interp(hist)
        fits = {
            "stl_arima": _stl_forecast(hist, season, "arima"),
            "stl_ets": _stl_forecast(hist, season, "ets"),
            "arima": _ar1_drift(hist, season),
        }
        if compat_pred_reuse:
            # utils.R:535 — the arima branch reads the overwritten
            # stlf_arima_forecast variable, i.e. the stl-ETS mean
            fits["arima"] = (fits["stl_ets"][0], fits["arima"][1])
        rows = []
        for model in MODELS:
            pred, sd = fits[model]
            lo, hi = pred - Z99 * sd, pred + Z99 * sd
            if np.isnan(actual):
                outlier, dev = 0, np.nan
            else:
                outside = actual < lo or actual > hi
                outlier = int(outside and abs(actual - pred) > min_thresh)
                width = (hi - lo) or np.nan
                gap = max(lo - actual, actual - hi, 0.0)
                dev = gap / width if width == width else np.nan
            rows.append({**keyvals, "model": model, "period": int(periods[-1]),
                         "actual": None if np.isnan(actual) else float(actual),
                         "pred": float(pred), "lo99": float(lo), "hi99": float(hi),
                         "outlier": outlier,
                         "deviation": None if dev != dev else float(dev)})
        return rows

    def fit_batches(batches):
        for pdf in batches:
            rows: list[dict] = []
            for i in range(len(pdf)):
                series = pdf["__series"].iloc[i]
                p = np.fromiter((e["p"] for e in series), dtype=np.int64,
                                count=len(series))
                v = np.array([e["v"] for e in series], dtype=float)
                keyvals = {c: pdf[c].iloc[i] for c in keys}
                rows.extend(score_series(p, v, keyvals))
            yield pd.DataFrame(rows, columns=out_cols)

    # Pack each series into ONE row before any Python: the per-period sum
    # is a partial-aggregating Spark groupBy (duplicate (key, period) rows
    # collapse map-side), and collect_list ships each series as a single
    # Arrow struct array. mapInPandas then scores a whole batch of series
    # per call — per-GROUP pandas/Arrow overhead (the cost that dominates
    # grouped applyInPandas with tiny groups) becomes per-BATCH.
    packed = (
        df.groupBy(*keys, F.col(period_col).cast("int").alias("__p"))
        .agg(F.sum(F.col(value_col).cast("double")).alias("__v"))
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list(
            F.struct(F.col("__p").alias("p"), F.col("__v").alias("v"))
        )).alias("__series"))
    )
    # AQE coalesces the packed shuffle by BYTES — a few thousand packed
    # series is <1 MB, so it collapses to ~1 partition and the CPU-bound
    # scoring stage runs on one core (measured: 1 partition / 3.5s python
    # on a 32-core box). The stage's cost is flops per series, not bytes:
    # spread it explicitly. Explicit repartition(N) is exempt from AQE
    # coalescing; the extra shuffle moves only ~100 B/series.
    # (df.rdd.getNumPartitions() would be a better scale hint but forces
    # AQE query-stage execution on conversion — defaultParallelism keeps
    # every core busy locally; clusters pass num_partitions explicitly.)
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return packed.repartition(n_parts).mapInPandas(fit_batches, out_schema)


def scorecard(outliers: DataFrame, entity_cols: list[str],
              indicator_col: str, count_col: str = "Outliers") -> DataFrame:
    """K3 ``createScoreCard`` re-expression (PRIME_App/utils.R:381-407):
    entity × indicator outlier-count matrix via pivot, zero-filled, with
    a ``Total`` column (row-wise sum, A9) and an appended ``Total`` row
    (column sums, A8/U4). One pivot aggregation + a one-row global agg —
    the reference's rowSums/colSums/rbind sequence collapses into plan
    nodes."""
    base = (
        outliers.groupBy(*entity_cols)
        .pivot(indicator_col)
        .sum(count_col)
        .fillna(0)
    )
    ind_cols = [c for c in base.columns if c not in entity_cols]
    with_total = base.withColumn(
        "Total", sum(F.col(c) for c in ind_cols)
    )
    totals = with_total.agg(
        *[F.sum(c).alias(c) for c in ind_cols + ["Total"]]
    )
    for e in entity_cols:
        totals = totals.withColumn(e, F.lit("Total"))
    return with_total.unionByName(totals.select(*with_total.columns))


def model_agreement(scored: DataFrame, keys: list[str]) -> DataFrame:
    """3-way model agreement per series (the reference's full-outer join
    of ARIMA/ETS/STL outlier tables, utils.R:636-651 — here a pivot)."""
    return (
        scored.groupBy(*keys)
        .pivot("model", list(MODELS))
        .agg(F.first("outlier"))
        .fillna(0, subset=list(MODELS))
        .withColumn("Outliers", sum(F.col(m) for m in MODELS))
    )
