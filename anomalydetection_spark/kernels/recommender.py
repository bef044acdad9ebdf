"""Sparse-Mahalanobis recommender kernel — reference-compat re-expression.

Distributed re-implementation of ``runRecAnalysis``
(``/root/reference/PRIME_App/utils.R:101-296``; SURVEY.md §2.11 K1): score
each row of a sparse wide observation matrix, flag outliers, and estimate
what each observed cell "should have been" via Gaussian conditional means.

Stage map (R loop → Spark):

  1-2. column screens (presence <``min_presence``, zero variance)
       — from ONE fused aggregation               (utils.R:111-122)
  4.   row screen: ≥``min_row_obs`` observed cells — scan predicate (:178-181)
  5.   sparse moments: μ_j = Σx_j/N_j; pairwise-complete cross-products
       S_ij = Σ x_i·x_j over co-observed rows, R_ij = S_ij/√(N_i·N_j)
       — one aggregation of k(k+1)/2 sums + counts   (:186-223)
       COMPAT NOTE (reproduced exactly): R is *uncentered about the
       sparse μ within the products* the way the R code accumulates
       (y−μ) products pairwise-complete then normalizes by √(N_i N_j),
       i.e. S_ij = Σ_co-observed (x_i−μ_i)(x_j−μ_j), R_ij = S_ij/√(N_i N_j)
       — NOT an (n−1)-divisor covariance.
  6.   MD per row = modi::MDmiss semantics: quadratic form on the
       OBSERVED coordinates only (subset μ, R), rescaled by p/p_obs (:228)
  7.   flag: MD > qchisq(alpha, df). ``compat_df_quirk`` reproduces the
       reference bug where df = n_keys + k + 1 (the MD column itself
       counted) minus 1, instead of k                  (:231-232)
  8.   estimates for flagged rows: E[x_j|y] = R_jy R_yy⁻¹ (y−μ_y) + μ_j
       over the OTHER observed cells y; rows grouped by missingness
       pattern inside each batch, one inverse per pattern (:240-272)
  9.   D_j = |E_j − x_j| / R_jj; output keys + x + E_ + D_ + MD +
       outlier_sp, sorted worst-first                  (:283-292, :38-39)

Scale design: moments are one DataFrame agg (k≈20 → ~210 pair sums).
A row's score depends only on the row and the driver-fitted μ and R, so
scoring/estimation is one Arrow-batched ``mapInPandas`` with no shuffle.
Spark tags each row with its missingness-pattern bitmask; inside a batch
the kernel groups rows by it, so per-pattern numpy is vectorized over the
batch's rows sharing the pattern and R_yy⁻¹ is computed once per pattern
per batch (at most 2^k), not per row.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from anomalydetection_spark.functions.similarity import _fold
from anomalydetection_spark.functions.stats_math import chi2_ppf


def sparse_moments(df: DataFrame, cols: list[str]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(mu, R, N) from one aggregation: sparse means, the reference's
    count-normalized pairwise-complete second-moment matrix, and per-pair
    presence counts (diagonal = per-column presence)."""
    k = len(cols)
    aggs = []
    for i, ci in enumerate(cols):
        aggs.append(F.sum(F.col(ci).cast("double")).alias(f"s_{i}"))
        aggs.append(F.count(F.col(ci)).alias(f"n_{i}"))
    row = df.agg(*aggs).first()
    mu = np.array([
        (row[f"s_{i}"] or 0.0) / row[f"n_{i}"] if row[f"n_{i}"] else np.nan
        for i in range(k)
    ])

    paggs = []
    for i, ci in enumerate(cols):
        di = F.col(ci).cast("double") - F.lit(float(mu[i]))
        for j in range(i, k):
            dj = F.col(cols[j]).cast("double") - F.lit(float(mu[j]))
            both = F.col(ci).isNotNull() & F.col(cols[j]).isNotNull()
            paggs.append(F.sum(F.when(both, di * dj)).alias(f"ss_{i}_{j}"))
            paggs.append(F.sum(both.cast("long")).alias(f"np_{i}_{j}"))
    prow = df.agg(*paggs).first()
    S = np.zeros((k, k))
    N = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k):
            S[i, j] = S[j, i] = prow[f"ss_{i}_{j}"] or 0.0
            N[i, j] = N[j, i] = prow[f"np_{i}_{j}"] or 0
    with np.errstate(divide="ignore", invalid="ignore"):
        R = S / np.sqrt(np.outer(np.diag(N), np.diag(N)))
    return mu, R, N


def _screen_aggs(cols: list[str]) -> list:
    """Aggregation expressions for the stage 1-2 column screens — split
    out so ``run_rec_analysis`` can fuse them with its other per-column
    stats into ONE job."""
    aggs = [F.count(F.lit(1)).alias("scr_rows")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"scr_n_{c}"))
        aggs.append(F.var_samp(F.col(c).cast("double")).alias(f"scr_v_{c}"))
    return aggs


def _screened_from_row(row, cols: list[str], min_presence: float) -> list[str]:
    total = row["scr_rows"] or 1
    return [c for c in cols
            if (row[f"scr_n_{c}"] or 0) / total > min_presence
            and (row[f"scr_v_{c}"] is None or row[f"scr_v_{c}"] != 0)]


def screen_columns(df: DataFrame, cols: list[str],
                   min_presence: float = 0.10) -> list[str]:
    """Stages 1-2: drop sparse and zero-variance columns (utils.R:111-122)
    — one fused aggregation. Exact R semantics: presence must be STRICTLY
    greater than ``min_presence`` (``count_present > nrow*.10``), and a
    single-observation column (``var`` = NA in R, NULL here) is KEPT —
    R's ``var_inds == 0`` comparison is NA for it, and ``names[NA] %in%``
    matches nothing, so the reference never drops it."""
    row = df.agg(*_screen_aggs(cols)).first()
    return _screened_from_row(row, cols, min_presence)


def _pairwise_corr_aggs(cols: list[str]) -> list:
    """Aggregation expressions for the pairwise-complete correlation
    matrix — split out so callers can fuse them with other per-column
    stats into ONE job."""
    aggs = []
    for i, ci in enumerate(cols):
        xi = F.col(ci).cast("double")
        for j in range(i, len(cols)):
            xj = F.col(cols[j]).cast("double")
            both = F.col(ci).isNotNull() & F.col(cols[j]).isNotNull()
            aggs += [
                F.sum(both.cast("long")).alias(f"n_{i}_{j}"),
                F.sum(F.when(both, xi)).alias(f"si_{i}_{j}"),
                F.sum(F.when(both, xj)).alias(f"sj_{i}_{j}"),
                F.sum(F.when(both, xi * xi)).alias(f"sii_{i}_{j}"),
                F.sum(F.when(both, xj * xj)).alias(f"sjj_{i}_{j}"),
                F.sum(F.when(both, xi * xj)).alias(f"sij_{i}_{j}"),
            ]
    return aggs


def _corr_from_row(row, k: int) -> np.ndarray:
    C = np.full((k, k), np.nan)
    for i in range(k):
        for j in range(i, k):
            n = row[f"n_{i}_{j}"] or 0
            if n < 2:
                continue
            si, sj = row[f"si_{i}_{j}"], row[f"sj_{i}_{j}"]
            sii, sjj, sij = row[f"sii_{i}_{j}"], row[f"sjj_{i}_{j}"], row[f"sij_{i}_{j}"]
            den = (n * sii - si * si) * (n * sjj - sj * sj)
            if den > 0:
                C[i, j] = C[j, i] = (n * sij - si * sj) / np.sqrt(den)
    return C


def pairwise_correlations(df: DataFrame, cols: list[str]) -> np.ndarray:
    """Pairwise-complete Pearson correlation matrix (R ``cor(...,
    use='pairwise.complete.obs')``) from ONE aggregation of per-pair
    co-observed moments."""
    row = df.agg(*_pairwise_corr_aggs(cols)).first()
    return _corr_from_row(row, len(cols))


def screen_collinear_drop(df: DataFrame, cols: list[str],
                          cutoff: float = 0.95,
                          C: np.ndarray | None = None) -> list[str]:
    """K1 stage 3, App variant (``App/utils.R:131-146``), exact
    semantics: while any UPPER-TRIANGLE pairwise-complete correlation
    exceeds ``cutoff`` (SIGNED — only positive correlations trigger, as
    in the reference's ``max(value) > 0.95``), drop the ``Var1`` (row
    variable) of the FIRST violating pair in column-major melt order.
    Dropping a column never changes the remaining pairwise-complete
    correlations, so ONE aggregation suffices — the reference's per-drop
    recompute is replayed driver-side on the same matrix. Pass ``C`` (a
    precomputed pairwise matrix for exactly ``cols``) to skip the job."""
    if C is None:
        C = pairwise_correlations(df, cols)
    keep = list(range(len(cols)))
    while True:
        first = None
        for cpos in range(1, len(keep)):          # column-major upper tri
            for rpos in range(cpos):
                r = C[keep[rpos], keep[cpos]]
                if not np.isnan(r) and r > cutoff:
                    first = rpos
                    break
            if first is not None:
                break
        if first is None:
            return [cols[i] for i in keep]
        keep.pop(first)


def flag_collinear_prime(df: DataFrame, cols: list[str],
                         cutoff: float = 0.99,
                         C: np.ndarray | None = None) -> list[str]:
    """K1 stage 3, PRIME variant's detection step
    (``PRIME_App/utils.R:131-137``): columns flagged by
    ``caret::findCorrelation(cutoff)`` — for each |r|>cutoff pair, flag
    the member with the larger mean absolute correlation (caret's
    heuristic)."""
    if C is None:
        C = pairwise_correlations(df, cols)
    k = len(cols)
    absC = np.abs(C)
    mean_abs = np.array([np.nanmean(np.delete(absC[i], i)) if k > 1 else 0.0
                         for i in range(k)])
    flagged: set[int] = set()
    for i in range(k):
        for j in range(i + 1, k):
            if not np.isnan(absC[i, j]) and absC[i, j] > cutoff:
                flagged.add(i if mean_abs[i] >= mean_abs[j] else j)
    return [cols[i] for i in sorted(flagged)]


def inject_noise(df: DataFrame, keys: list[str], noisy_cols: list[str],
                 sds: dict[str, float], scale: float = 0.01,
                 seed: str = "123") -> DataFrame:
    """PRIME stage-3 noise injection (``PRIME_App/utils.R:138-154``):
    add N(0, scale·sd(col)) to the flagged columns. The reference uses
    R's ``set.seed(123)`` stream — not reproducible outside R — so the
    noise here is a seeded-hash Box-Muller over the row's key values:
    deterministic AND partitioning-invariant (``F.randn`` is neither)."""
    key_str = F.concat_ws("", *[F.col(k).cast("string") for k in keys])

    def unit(c: str, tag: str):
        h = F.conv(F.substring(F.md5(F.concat_ws("_", F.lit(seed), key_str,
                                                 F.lit(c), F.lit(tag))), 1, 8), 16, 10)
        return (h.cast("double") + 1.0) / float(16 ** 8 + 1)  # (0, 1]

    out = df
    for c in noisy_cols:
        u1, u2 = unit(c, "a"), unit(c, "b")
        z = F.sqrt(-2.0 * F.log(u1)) * F.cos(2.0 * float(np.pi) * u2)
        out = out.withColumn(
            c, F.when(F.col(c).isNotNull(),
                      F.col(c).cast("double") + z * F.lit(scale * sds[c]))
        )
    return out


# past this, 6*k(k+1)/2 fused pairwise sums bloat the codegen'd plan
# (janino 64KB method fallback) more than a second survivors-only job costs
_FUSE_PAIRWISE_MAX_COLS = 64


def run_rec_analysis(
    df: DataFrame,
    keys: list[str],
    indicator_cols: list[str],
    alpha: float = 0.95,
    min_presence: float = 0.10,
    min_row_obs: int = 4,
    compat_df_quirk: bool = True,
    estimates_for_flagged_only: bool = True,
    collinearity: str | None = "drop",
    collinear_cutoff: float | None = None,
) -> DataFrame:
    """Full K1 pipeline. Returns keys + x + E_/D_ + MD + outlier_sp.

    ``collinearity``: stage-3 handling — ``'drop'`` (App variant,
    iterative signed-r>cutoff drop, default 0.95), ``'noise'`` (PRIME
    variant, seeded noise into findCorrelation-flagged columns, default
    cutoff 0.99), or None to skip.

    Pass discipline: the input matrix is persisted for the kernel's
    lifetime and every screen statistic (presence, variance, stddev,
    pairwise correlation moments) comes from ONE fused aggregation —
    pairwise-complete correlations don't change when other columns are
    screened out, so the full matrix is computed once and subset
    driver-side. The scored frame is persisted and materialized before
    the final sort: the global sort's range partitioner first samples
    its input, and without the persist that sampling pass runs the
    scoring kernel a second time. The input cache is released once the
    scored frame is materialized; on error both are.

    Measured on a 2k-row × 4-indicator input at local[4] (4-core host,
    12 warm passes each): persisted 1.38–1.83 s a pass, unpersisted
    1.69–2.29 s, ``localCheckpoint()`` 1.26–1.78 s. The persist stays
    rather than a local checkpoint because ``unpersist()`` frees it when
    asked; a checkpoint's blocks live until the JVM collects its RDD.

    The scored cache backs the RETURNED frame, so it cannot be freed
    here — the previous call's cache is released on the next call, and
    ``release_rec_analysis()`` frees the last one explicitly (long-lived
    drivers)."""
    global _SCORED_CACHE
    release_rec_analysis()
    # cache only what the kernel reads — keys + indicators; the caller's
    # frame may be hundreds of columns wide
    narrow = list(dict.fromkeys([*keys, *indicator_cols]))
    df = cached_input = df.select(*narrow).persist()
    scored = None
    try:
        aggs = _screen_aggs(indicator_cols) + [
            F.stddev_samp(F.col(c).cast("double")).alias(f"scr_sd_{c}")
            for c in indicator_cols]
        # the O(k^2) pairwise moments (6 sums/pair) ride the SAME job only
        # when the collinearity stage will consume them AND the column
        # count keeps the fused expression set codegen-friendly; past the
        # threshold (or with collinearity=None) they are skipped here —
        # pairwise-complete correlations are unaffected by screening, so a
        # deferred survivors-only pass (one extra job) is exactly equivalent
        fuse_pairwise = (collinearity is not None
                         and len(indicator_cols) <= _FUSE_PAIRWISE_MAX_COLS)
        if fuse_pairwise:
            aggs += _pairwise_corr_aggs(indicator_cols)
        srow = df.agg(*aggs).first()
        cols = _screened_from_row(srow, indicator_cols, min_presence)
        if fuse_pairwise:
            C_full = _corr_from_row(srow, len(indicator_cols))
            idx = [indicator_cols.index(c) for c in cols]
            C_sub = C_full[np.ix_(idx, idx)]
        elif collinearity is not None and len(cols) > 1:
            C_sub = pairwise_correlations(df, cols)
        else:
            C_sub = None
        if collinearity == "drop" and len(cols) > 1:
            cols = screen_collinear_drop(df, cols, collinear_cutoff or 0.95,
                                         C=C_sub)
        elif collinearity == "noise" and len(cols) > 1:
            noisy = flag_collinear_prime(df, cols, collinear_cutoff or 0.99,
                                         C=C_sub)
            if noisy:
                df = inject_noise(df, keys, noisy,
                                  {c: float(srow[f"scr_sd_{c}"] or 0.0)
                                   for c in noisy})
        k = len(cols)
        if k == 0:
            raise ValueError("no indicator columns survive the screens")

        # stage 4 row screen — pure scan predicate
        obs_count = sum(F.col(c).isNotNull().cast("int") for c in cols)
        base = df.filter(obs_count >= min_row_obs).select(*keys, *cols)

        mu, R, _N = sparse_moments(base, cols)

        # df quirk: reference passes ncol(frame-with-keys-and-MD) - 1
        dof = (len(keys) + k + 1) - 1 if compat_df_quirk else k
        cutoff = chi2_ppf(alpha, dof)

        # pattern bitmask: which indicator cells are observed — computed
        # in Spark, where a NaN value is non-null and so counts as observed
        # (in pandas it would look missing)
        pattern = sum(
            F.col(c).isNotNull().cast("long") * F.lit(1 << i)
            for i, c in enumerate(cols)
        )
        tagged = base.withColumn("__pattern", pattern)

        out_schema = (
            ", ".join(f"`{c}` {t}" for c, t in
                      [(kcol, dict(base.dtypes)[kcol]) for kcol in keys])
            + ", " + ", ".join(f"`{c}` double" for c in cols)
            + ", " + ", ".join(f"`E_{c}` double" for c in cols)
            + ", " + ", ".join(f"`D_{c}` double" for c in cols)
            + ", MD double, outlier_sp int"
        )

        mu_b = mu.copy()
        R_b = R.copy()
        kk = k
        flagged_only = estimates_for_flagged_only

        def score(pdf: pd.DataFrame) -> pd.DataFrame:
            """One missingness pattern's rows of a batch: vectorized
            MDmiss + conditional means. R_yy⁻¹ computed ONCE per pattern
            (utils.R computes per row)."""
            pat = int(pdf["__pattern"].iloc[0])
            obs = [i for i in range(kk) if pat & (1 << i)]
            X = pdf[cols].to_numpy(dtype=float)
            Xo = X[:, obs]
            mo = mu_b[obs]
            Ro = R_b[np.ix_(obs, obs)]
            p_obs = len(obs)
            try:
                Rinv = np.linalg.inv(Ro)
            except np.linalg.LinAlgError:
                Rinv = np.linalg.pinv(Ro)
            d = Xo - mo
            md = np.einsum("ij,jk,ik->i", d, Rinv, d) * (kk / max(p_obs, 1))
            flag = (md > cutoff).astype(int)

            E = np.full_like(X, np.nan)
            D = np.full_like(X, np.nan)
            rows_to_estimate = np.where(flag == 1)[0] if flagged_only else np.arange(len(X))
            for j_pos, j in enumerate(obs):
                others = [o for o in obs if o != j]
                if not others or not rows_to_estimate.size:
                    continue
                o_pos = [obs.index(o) for o in others]
                Ryy = R_b[np.ix_(others, others)]
                Rjy = R_b[j, others]
                try:
                    Ryy_inv = np.linalg.inv(Ryy)
                except np.linalg.LinAlgError:
                    Ryy_inv = np.linalg.pinv(Ryy)
                w = Rjy @ Ryy_inv
                # one vectorized fold per (pattern, j) — not a Python loop
                # per row (flagged rows can be O(rows) at alpha→0). The
                # index-order fold, not BLAS `Y @ w`: BLAS picks its
                # summation order by the row count, so a pattern split
                # across Arrow batches would differ in the last bit.
                Y = Xo[np.ix_(rows_to_estimate, o_pos)] - mu_b[others]
                E[rows_to_estimate, j] = _fold(Y, w) + mu_b[j]
                denom = R_b[j, j] if R_b[j, j] else np.nan
                D[rows_to_estimate, j] = (
                    np.abs(E[rows_to_estimate, j] - X[rows_to_estimate, j]) / denom
                )

            out = pdf[keys].copy()
            for i, c in enumerate(cols):
                out[c] = X[:, i]
            for i, c in enumerate(cols):
                out[f"E_{c}"] = E[:, i]
            for i, c in enumerate(cols):
                out[f"D_{c}"] = D[:, i]
            out["MD"] = md
            out["outlier_sp"] = flag
            return out

        def score_batches(batches):
            for pdf in batches:
                yield pd.concat([score(g) for _, g in
                                 pdf.groupby("__pattern", sort=False)],
                                ignore_index=True)

        # one UDF execution serves both the sort's sampling pass and the sort
        scored = tagged.mapInPandas(score_batches, out_schema).persist()
        scored.count()
    except BaseException:
        cached_input.unpersist(blocking=False)
        if scored is not None:
            scored.unpersist(blocking=False)
        raise
    cached_input.unpersist()
    with _CACHE_LOCK:
        _SCORED_CACHE = scored
    return scored.orderBy(F.desc("outlier_sp"), F.desc("MD"))


_SCORED_CACHE = None
_CACHE_LOCK = threading.Lock()


def release_rec_analysis() -> None:
    """Unpersist the scored-frame cache left by the most recent
    ``run_rec_analysis`` call (it backs the returned DataFrame, so the
    kernel cannot free it before returning). Called automatically on the
    NEXT run — an earlier run's returned frame stays CORRECT afterwards,
    it just recomputes its scoring stage if re-executed."""
    global _SCORED_CACHE
    with _CACHE_LOCK:
        cache, _SCORED_CACHE = _SCORED_CACHE, None
    if cache is not None:
        cache.unpersist(blocking=False)


def deviation_severity_cells(scored: DataFrame, keys: list[str],
                             cols: list[str]) -> DataFrame:
    """S7 cell-level severity (``PRIME_App/utils.R:762-827``): the
    reference conditionally formats each reported indicator cell by its
    deviation ``D_<c>`` against the 80th/90th percentile of ALL deviation
    values (one melted distribution across every D_ column — utils.R:769),
    with a no-fill override when the estimate ``E_<c>`` is below 10
    (utils.R:822-826, "small estimates are noise").

    Re-expressed as data, not formatting: unpivot (reported, E_, D_) cell
    triples, compute the two global cutoffs with exact ``percentile``
    (linear interpolation — R default type-7 ``quantile``), and tag each
    cell ``none`` (masked) / ``high`` (> q90) / ``medium`` (> q80) /
    ``low``. The reference's Excel rule-priority quirk (all three
    conditionalFormatting rules can match one cell) is resolved to the
    documented intent: mask first, then the higher tier wins."""
    stack = ", ".join(f"'{c}', `{c}`, `E_{c}`, `D_{c}`" for c in cols)
    melted = scored.selectExpr(
        *keys,
        f"stack({len(cols)}, {stack}) as (indicator, reported, estimate, deviation)",
    )
    q = melted.agg(
        F.percentile("deviation", F.array(F.lit(0.8), F.lit(0.9))).alias("q")
    ).first()["q"]
    if q is None or q[0] is None:
        sev = F.lit(None).cast("string")
    else:
        sev = (
            F.when(F.col("estimate") < 10, F.lit("none"))
            .when(F.col("deviation") > F.lit(float(q[1])), F.lit("high"))
            .when(F.col("deviation") > F.lit(float(q[0])), F.lit("medium"))
            .otherwise(F.lit("low"))
        )
    return melted.withColumn("severity", sev)
