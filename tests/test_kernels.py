"""Reference-math golden tests for the K1 (sparse Mahalanobis recommender)
and K2 (forecast-band) kernels — formulas recomputed independently in the
test, reproducing PRIME_App/utils.R semantics (SURVEY.md §5.2)."""

import numpy as np
import pandas as pd
import pytest

from anomalydetection_spark.functions.stats_math import chi2_ppf
from anomalydetection_spark.kernels.recommender import run_rec_analysis, sparse_moments
from anomalydetection_spark.kernels.timeseries import model_agreement, run_time_series


def _ref_moments(X: np.ndarray):
    """Independent R-semantics moments: sparse means, pairwise-complete
    centered cross products normalized by sqrt(N_i*N_j)."""
    k = X.shape[1]
    mu = np.nanmean(X, axis=0)
    S = np.zeros((k, k))
    N = np.zeros((k, k))
    for i in range(k):
        for j in range(k):
            both = ~np.isnan(X[:, i]) & ~np.isnan(X[:, j])
            N[i, j] = both.sum()
            S[i, j] = np.sum((X[both, i] - mu[i]) * (X[both, j] - mu[j]))
    Ni = np.array([(~np.isnan(X[:, i])).sum() for i in range(k)])
    R = S / np.sqrt(np.outer(Ni, Ni))
    return mu, R


@pytest.fixture(scope="module")
def rec_data():
    rng = np.random.default_rng(11)
    n = 200
    base = rng.normal(0, 1, n)
    X = np.column_stack([
        50 + 10 * base + rng.normal(0, 2, n),
        30 + 6 * base + rng.normal(0, 1.5, n),
        10 + 2 * base + rng.normal(0, 1, n),
        rng.normal(100, 5, n),
    ])
    X[0] = [50 + 80, 30 - 40, 10, 100]     # planted gross outlier
    X[5, 2] = np.nan                        # sparse row (3 of 4 observed)
    return X


def _to_df(spark, X):
    pdf = pd.DataFrame(X, columns=["i1", "i2", "i3", "i4"])
    pdf.insert(0, "site", [f"s{i}" for i in range(len(X))])
    return spark.createDataFrame(pdf)


def test_sparse_moments_match_reference_formula(spark, rec_data):
    df = _to_df(spark, rec_data)
    mu, R, _ = sparse_moments(df, ["i1", "i2", "i3", "i4"])
    mu_ref, R_ref = _ref_moments(rec_data)
    np.testing.assert_allclose(mu, mu_ref, rtol=1e-10)
    np.testing.assert_allclose(R, R_ref, rtol=1e-10)


def test_rec_analysis_flags_planted_outlier_first(spark, rec_data):
    df = _to_df(spark, rec_data)
    out = run_rec_analysis(df, ["site"], ["i1", "i2", "i3", "i4"],
                           alpha=0.95, min_row_obs=3).toPandas()
    assert out.iloc[0]["site"] == "s0"            # worst-first ordering
    assert out.iloc[0]["outlier_sp"] == 1
    assert out["outlier_sp"].sum() < len(out) * 0.2


def test_mdmiss_semantics_and_df_quirk(spark, rec_data):
    X = rec_data
    df = _to_df(spark, X)
    cols = ["i1", "i2", "i3", "i4"]
    out = run_rec_analysis(df, ["site"], cols, alpha=0.95,
                           min_row_obs=3).toPandas().set_index("site")
    mu_ref, R_ref = _ref_moments(X)
    Rinv = np.linalg.inv(R_ref)
    # dense row MD: classic quadratic form, scale k/p_obs = 1
    d = X[1] - mu_ref
    np.testing.assert_allclose(out.loc["s1", "MD"], d @ Rinv @ d, rtol=1e-8)
    # sparse row (i3 missing): observed-coords form scaled by 4/3
    obs = [0, 1, 3]
    ds = X[5, obs] - mu_ref[obs]
    md_sparse = ds @ np.linalg.inv(R_ref[np.ix_(obs, obs)]) @ ds * (4 / 3)
    np.testing.assert_allclose(out.loc["s5", "MD"], md_sparse, rtol=1e-8)
    # compat df quirk: cutoff = chi2(.95, n_keys + k + 1 - 1) = chi2(.95, 5)
    cutoff = chi2_ppf(0.95, 5)
    flagged = out[out["MD"] > cutoff]
    assert (out["outlier_sp"] == 1).sum() == len(flagged)


def test_conditional_estimates_match_reference_formula(spark, rec_data):
    X = rec_data
    df = _to_df(spark, X)
    cols = ["i1", "i2", "i3", "i4"]
    out = run_rec_analysis(df, ["site"], cols, alpha=0.95,
                           min_row_obs=3).toPandas().set_index("site")
    mu_ref, R_ref = _ref_moments(X)
    # E[i1 | others] for the flagged row s0: R_jy R_yy^-1 (y - mu_y) + mu_j
    j, others = 0, [1, 2, 3]
    w = R_ref[j, others] @ np.linalg.inv(R_ref[np.ix_(others, others)])
    e = w @ (X[0, others] - mu_ref[others]) + mu_ref[j]
    np.testing.assert_allclose(out.loc["s0", "E_i1"], e, rtol=1e-8)
    d = abs(e - X[0, 0]) / R_ref[j, j]
    np.testing.assert_allclose(out.loc["s0", "D_i1"], d, rtol=1e-8)
    # unflagged rows got no estimates (PRIME behavior, utils.R:235)
    assert np.isnan(out.loc["s1", "E_i1"])


@pytest.fixture(scope="module")
def ts_data(spark):
    rows = []
    # series A: clean seasonal pattern, final value = massive spike
    for p in range(20):
        val = 100 + 10 * (p % 4) + 0.5 * p
        if p == 19:
            val = 500.0
        rows.append(("facA", "ind1", p, val))
    # series B: same pattern, final value in-pattern
    for p in range(20):
        rows.append(("facB", "ind1", p, 100 + 10 * (p % 4) + 0.5 * p))
    # series C: too sparse (only 5 of last 12 periods)
    for p in [9, 11, 13, 15, 17]:
        rows.append(("facC", "ind1", p, 50.0))
    return spark.createDataFrame(
        rows, "facility string, indicator string, period int, value double"
    )


def test_band_kernel_flags_spike_not_normal(spark, ts_data):
    out = run_time_series(
        ts_data, ["facility", "indicator"], "period", "value", season=4
    ).toPandas()
    a = out[out["facility"] == "facA"]
    b = out[out["facility"] == "facB"]
    assert len(a) == 3 and len(b) == 3          # one row per model
    assert a["outlier"].sum() == 3               # spike outside every band
    assert b["outlier"].sum() == 0               # in-pattern value inside bands
    assert (a["deviation"].dropna() > 0).all()
    assert "facC" not in set(out["facility"])    # eligibility gate


def test_band_bounds_contain_prediction(spark, ts_data):
    out = run_time_series(
        ts_data, ["facility", "indicator"], "period", "value", season=4
    ).toPandas()
    assert (out["lo99"] <= out["pred"]).all() and (out["pred"] <= out["hi99"]).all()


def test_model_agreement_pivot(spark, ts_data):
    scored = run_time_series(
        ts_data, ["facility", "indicator"], "period", "value", season=4
    )
    agg = model_agreement(scored, ["facility", "indicator"]).toPandas()
    agg = agg.set_index("facility")
    assert agg.loc["facA", "Outliers"] == 3
    assert agg.loc["facB", "Outliers"] == 0


def test_compat_pred_reuse_quirk(spark, ts_data):
    out = run_time_series(
        ts_data, ["facility", "indicator"], "period", "value", season=4,
        compat_pred_reuse=True,
    ).toPandas()
    a = out[out["facility"] == "facA"].set_index("model")
    # utils.R:503 overwrites stlf_arima_forecast with the ets fit, so the
    # arima branch's pred (:535) is the stl-ETS mean
    assert a.loc["arima", "pred"] == a.loc["stl_ets", "pred"]


def test_collinearity_drop_variant(spark):
    from anomalydetection_spark.kernels.recommender import (
        pairwise_correlations,
        screen_collinear_drop,
    )

    rows = []
    rng = __import__("numpy").random.default_rng(5)
    for i in range(60):
        a = float(rng.normal(100, 20))
        b = 2.0 * a + 1.0            # exactly collinear with a (r = +1)
        c = float(rng.normal(50, 10))
        d = -a                        # r = -1 with a: NEGATIVE, must NOT trigger
        rows.append((f"s{i}", a, b, c, d))
    df = spark.createDataFrame(rows, "site string, a double, b double, c double, d double")

    C = pairwise_correlations(df, ["a", "b", "c", "d"])
    assert abs(C[0, 1] - 1.0) < 1e-9 and abs(C[0, 3] + 1.0) < 1e-9
    kept = screen_collinear_drop(df, ["a", "b", "c", "d"], cutoff=0.95)
    # first violating pair in column-major upper-tri order is (a, b):
    # Var1 = a is dropped; the NEGATIVE perfect correlation (a, d) is
    # reference behavior — signed r, never triggers
    assert kept == ["b", "c", "d"]


def test_collinearity_noise_variant_decorrelates(spark):
    import numpy as np

    from anomalydetection_spark.kernels.recommender import (
        flag_collinear_prime,
        inject_noise,
        pairwise_correlations,
    )

    rng = np.random.default_rng(9)
    rows = [(f"s{i}", float(v), 3.0 * float(v), float(rng.normal(0, 1)))
            for i, v in enumerate(rng.normal(10, 4, 80))]
    df = spark.createDataFrame(rows, "site string, a double, b double, c double")
    noisy = flag_collinear_prime(df, ["a", "b", "c"], cutoff=0.99)
    assert set(noisy) and set(noisy) <= {"a", "b"}
    sds = {c: 4.0 * (3.0 if c == "b" else 1.0) for c in noisy}
    out = inject_noise(df, ["site"], noisy, sds)
    C = pairwise_correlations(out, ["a", "b", "c"])
    assert C[0, 1] < 1.0 - 1e-9  # no longer perfectly collinear
    # deterministic: same seed → identical values
    again = inject_noise(df, ["site"], noisy, sds)
    assert out.orderBy("site").collect() == again.orderBy("site").collect()


def test_scorecard_matrix_with_totals(spark):
    from anomalydetection_spark.kernels.timeseries import scorecard

    rows = [
        ("fac1", "indA", 2), ("fac1", "indB", 1),
        ("fac2", "indA", 0), ("fac2", "indB", 3),
    ]
    df = spark.createDataFrame(rows, "facility string, indicator string, Outliers int")
    out = {r["facility"]: r for r in
           scorecard(df, ["facility"], "indicator").collect()}
    assert out["fac1"]["indA"] == 2 and out["fac1"]["Total"] == 3
    assert out["fac2"]["indB"] == 3 and out["fac2"]["Total"] == 3
    t = out["Total"]
    assert (t["indA"], t["indB"], t["Total"]) == (2, 4, 6)


def test_screen_columns_r_boundary_semantics(spark):
    """Exact utils.R:111-122 boundaries: presence must be STRICTLY > 10%
    (a column present in exactly 10% of rows is dropped), and a
    single-observation column (var = NA in R) is KEPT -- names[NA] %in%
    matches nothing, so the reference never drops it."""
    from anomalydetection_spark.kernels.recommender import screen_columns

    # n=10: 'b' present in exactly 10% of rows -> strict > drops it
    df10 = spark.createDataFrame(
        [(float(i), 1.0 if i < 1 else None) for i in range(10)],
        "a double, b double",
    )
    assert screen_columns(df10, ["a", "b"]) == ["a"]

    # n=9: 'd' has one observation (11% > 10% presence, var = NULL) -> kept;
    # 'c' has two identical values (22% presence, var = 0) -> dropped
    df9 = spark.createDataFrame(
        [
            (float(i), 5.0 if i < 2 else None, 3.0 if i == 0 else None)
            for i in range(9)
        ],
        "a double, c double, d double",
    )
    assert screen_columns(df9, ["a", "c", "d"]) == ["a", "d"]


def test_rec_scoring_dense_single_pattern_matches_numpy_reference(spark, rec_data):
    """Dense data is ONE missingness pattern spread over every batch:
    MDmiss (scale k/p_obs = 1), the flags and the flagged rows'
    conditional estimates must match numpy on sparse_moments' mu and R."""
    X = rec_data.copy()
    X[5, 2] = 0.0  # remove the sparse row -> a fully dense single pattern
    df = _to_df(spark, X)
    cols = ["i1", "i2", "i3", "i4"]
    out = run_rec_analysis(df, ["site"], cols, alpha=0.95,
                           min_row_obs=3).toPandas().set_index("site")
    out = out.loc[[f"s{i}" for i in range(len(X))]]
    assert all(c in out.columns for c in cols)

    mu, R, _ = sparse_moments(df, cols)
    d = X - mu
    md = np.einsum("ij,jk,ik->i", d, np.linalg.inv(R), d)
    np.testing.assert_allclose(out["MD"], md, rtol=1e-9)
    flag = md > chi2_ppf(0.95, 5)
    assert flag.any() and not flag.all()
    np.testing.assert_array_equal(out["outlier_sp"], flag.astype(int))

    for j, c in enumerate(cols):
        others = [o for o in range(4) if o != j]
        w = R[j, others] @ np.linalg.inv(R[np.ix_(others, others)])
        e = (X[:, others] - mu[others]) @ w + mu[j]
        np.testing.assert_allclose(out[f"E_{c}"][flag], e[flag], rtol=1e-9)
        np.testing.assert_allclose(out[f"D_{c}"][flag],
                                   np.abs(e - X[:, j])[flag] / R[j, j],
                                   rtol=1e-9)
        assert out[f"E_{c}"][~flag].isna().all()
        assert out[f"D_{c}"][~flag].isna().all()


def test_rec_scoring_independent_of_arrow_batch_split(spark):
    """Scoring groups rows by pattern inside each Arrow batch, so a
    pattern's rows split across batches must score exactly as when one
    batch holds them all."""
    rng = np.random.default_rng(5)
    n = 300
    base = rng.normal(0, 1, n)
    X = np.column_stack([50 + 10 * base + rng.normal(0, 6, n),
                         30 + 3 * base + rng.normal(0, 3, n),
                         rng.normal(10, 2, n), rng.normal(100, 5, n)])
    X[rng.random((n, 4)) < 0.4] = np.nan
    X[:16] = np.where((np.arange(16)[:, None] >> np.arange(4)) & 1,
                      X[:16], np.nan)  # every pattern occurs
    assert len({tuple(r) for r in ~np.isnan(X)}) == 16
    df = _to_df(spark, X)
    cols = ["i1", "i2", "i3", "i4"]

    def scored():
        out = run_rec_analysis(df, ["site"], cols, alpha=0.9, min_row_obs=0,
                               estimates_for_flagged_only=False).toPandas()
        return out.sort_values("site").reset_index(drop=True)

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf)
    default = scored()
    spark.conf.set(conf, "7")
    try:
        split = scored()
    finally:
        spark.conf.set(conf, before)
    assert all(c in default.columns for c in cols)
    pd.testing.assert_frame_equal(split, default, check_exact=True)


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_rec_analysis_cache_lifecycle(spark, rec_data):
    """One call leaves exactly one cache, the scored frame behind the
    returned DataFrame: the narrowed input cache is gone.
    ``release_rec_analysis()`` frees it, and a call that raises leaves
    nothing cached."""
    from anomalydetection_spark.kernels import recommender

    df = _to_df(spark, rec_data)
    cols = ["i1", "i2", "i3", "i4"]
    recommender.release_rec_analysis()
    before = _persisted_rdds(spark)

    out = run_rec_analysis(df, ["site"], cols, alpha=0.95, min_row_obs=3)
    assert len(_persisted_rdds(spark) - before) == 1
    assert recommender._SCORED_CACHE.storageLevel.useMemory
    assert out.count() == len(rec_data)

    recommender.release_rec_analysis()
    assert recommender._SCORED_CACHE is None
    assert _persisted_rdds(spark) == before

    # presence must be strictly above min_presence: no column survives
    with pytest.raises(ValueError, match="no indicator columns survive"):
        run_rec_analysis(df, ["site"], cols, min_presence=1.0)
    assert recommender._SCORED_CACHE is None
    assert _persisted_rdds(spark) == before


def test_stl_forecast_recovers_exact_seasonal_line():
    """Analytic golden: y[t] = a + b*t + s[t % 4] (noise-free). The
    centered 2x4 MA of a linear trend is the trend itself, so classical
    decomposition recovers s exactly, the adjusted series is an exact
    line, and both stlf analogs must predict the true continuation."""
    import numpy as np

    from anomalydetection_spark.kernels.timeseries import _stl_forecast

    a0, b, s = 100.0, 0.5, np.array([6.0, -2.0, -10.0, 6.0])
    t = np.arange(24)
    y = a0 + b * t + s[t % 4]
    truth = a0 + b * 24 + s[24 % 4]
    for method in ("arima", "ets"):
        pred, sd = _stl_forecast(y, 4, method)
        np.testing.assert_allclose(pred, truth, rtol=1e-6)
        assert sd < 1e-3  # bands collapse to the floor on an exact pattern


def test_stl_band_width_from_known_noise():
    """Band sd on a seasonal line with aperiodic ~N(0, e) innovations
    (a PERIODIC perturbation would be absorbed into the seasonal
    component): one-step residuals of the adjusted fit inherit the
    innovation scale, so the 99% band must be O(e) — neither collapsed
    nor inflated."""
    import numpy as np

    from anomalydetection_spark.kernels.timeseries import _stl_forecast

    e = 2.0
    rng = np.random.default_rng(42)
    t = np.arange(48)
    y = 50.0 + 1.0 * t + np.array([8.0, 0.0, -8.0, 0.0])[t % 4] \
        + rng.normal(0.0, e, len(t))
    for method in ("arima", "ets"):
        _, sd = _stl_forecast(y, 4, method)
        assert 0.4 * e < sd < 3 * e, (method, sd)


def test_holt_grid_matches_sequential_search_exactly():
    """The vectorized (alpha, beta) grid must reproduce the sequential
    per-cell search bit-for-bit: same prediction, same residual vector,
    same first-min tie rule (sse < best - 1e-12 keeps the earlier cell)."""
    from anomalydetection_spark.kernels.timeseries import (
        _HOLT_GRID, _holt_grid, _holt_once)

    rng = np.random.default_rng(11)
    for n in (4, 8, 17, 24, 60):
        for _ in range(20):
            a = rng.normal(50, 15, n)
            if rng.random() < 0.3:
                a = np.round(a)      # plateaued series -> SSE ties
            best_sse, pred, resid = np.inf, float(a[-1]), np.array([])
            for al in _HOLT_GRID:
                for be in [0.0] + [b for b in _HOLT_GRID if b <= al]:
                    p, r = _holt_once(a, al, be)
                    sse = float(r @ r)
                    if sse < best_sse - 1e-12:
                        best_sse, pred, resid = sse, p, r
            gp, gr = _holt_grid(a)
            assert gp == pred
            assert np.array_equal(gr, resid)
