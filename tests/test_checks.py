"""Planted-violation tests for every check family (SURVEY.md §5.2):
deterministic synthetic frames with known-bad rows; assert the check
flags exactly those and nothing else."""

from __future__ import annotations

import collections

import pyspark.sql.functions as F
import pytest

from anomalydetection_spark import ValidationSuite
from anomalydetection_spark.checks import (
    ColumnStatsCheck,
    DriftCheck,
    InSetCheck,
    MahalanobisCheck,
    NotNullCheck,
    NotInSetCheck,
    PredicateCheck,
    RangeCheck,
    ReferentialCheck,
    RlikeCheck,
    RobustZScoreCheck,
    UniquenessCheck,
)
from anomalydetection_spark.checks.base import Check, verdict
from anomalydetection_spark.checks.drift import histogram, ks_from_histograms, psi_from_histograms


@pytest.fixture(scope="module")
def images(spark):
    """Tiny image-metadata-shaped table with planted violations
    (FIXTURES.md §1 shape): dup ids, unknown fmt, null captions, one
    extreme (w, h) outlier."""
    rows = []
    for i in range(200):
        rows.append((f"img_{i:04d}", 100 + (i % 7), 100 + (i % 5), "jpeg" if i % 5 else "png",
                     f"caption {i}", i * 7919 % 1000))
    rows.append(("img_0000", 101, 102, "jpeg", "dup id", 1))          # dup image_id
    rows.append(("img_9998", 103, 104, "bmp", "bad fmt", 2))          # fmt orphan
    rows.append(("img_9999", 105, 106, "jpeg", None, 3))              # null caption
    rows.append(("img_9997", 5000, 5000, "jpeg", "outlier", 4))       # w/h outlier
    return spark.createDataFrame(
        rows, "image_id string, w int, h int, fmt string, caption string, phash long"
    ).cache()


def _violation_ids(result, check_prefix):
    v = result.violations.filter(F.col("_check").startswith(check_prefix))
    return {r["image_id"] for r in v.select("image_id").collect()}


def test_not_null(spark, images):
    res = ValidationSuite([NotNullCheck("caption", keys=["image_id"])], "images").run(images)
    assert _violation_ids(res, "not_null") == {"img_9999"}
    row = res.verdicts.filter("metric = 'violation_rate'").first()
    assert not row["passed"] and row["value"] == pytest.approx(1 / 204)


def test_in_set(spark, images):
    res = ValidationSuite([InSetCheck("fmt", ["jpeg", "png", "webp"], keys=["image_id"])], "images").run(images)
    assert _violation_ids(res, "in_set") == {"img_9998"}


def test_not_in_set(spark, images):
    res = ValidationSuite([NotInSetCheck("fmt", ["bmp"], keys=["image_id"])], "images").run(images)
    assert _violation_ids(res, "not_in_set") == {"img_9998"}


def test_rlike(spark, images):
    res = ValidationSuite(
        [RlikeCheck("image_id", r"^img_\d{4}$", must_match=True, keys=["image_id"])], "images"
    ).run(images)
    assert _violation_ids(res, "rlike") == set()


def test_range(spark, images):
    res = ValidationSuite([RangeCheck("w", 16, 4096, keys=["image_id"])], "images").run(images)
    assert _violation_ids(res, "range") == {"img_9997"}


def test_uniqueness(spark, images):
    res = ValidationSuite([UniquenessCheck(["image_id"])], "images").run(images)
    ids = _violation_ids(res, "unique")
    assert ids == {"img_0000"}
    dup_rate = res.verdicts.filter("metric = 'duplicate_row_rate'").first()
    assert dup_rate["value"] == pytest.approx(2 / 204)
    assert not dup_rate["passed"]
    # HLL tier must not false-positive on the unique phash-free slice
    res2 = ValidationSuite([UniquenessCheck(["image_id", "caption"])], "images").run(
        images.filter("caption is not null")
    )
    hll = res2.verdicts.filter("metric = 'approx_duplicate_rate'").first()
    assert hll["passed"]


def test_referential(spark, images):
    dim = spark.createDataFrame([("jpeg",), ("png",), ("webp",)], "fmt string")
    res = ValidationSuite(
        [ReferentialCheck("fmt", dim, keys=["image_id", "fmt"])], "images"
    ).run(images)
    assert _violation_ids(res, "referential") == {"img_9998"}
    # list-backed dimension compiles to isin (no join)
    res2 = ValidationSuite(
        [ReferentialCheck("fmt", ["jpeg", "png", "webp"], keys=["image_id"])], "images"
    ).run(images)
    assert _violation_ids(res2, "referential") == {"img_9998"}


def test_robust_zscore(spark, images):
    res = ValidationSuite(
        [RobustZScoreCheck("w", threshold=10.0, keys=["image_id"])], "images"
    ).run(images)
    assert _violation_ids(res, "robust_z") == {"img_9997"}


def test_mahalanobis(spark, images):
    res = ValidationSuite(
        [MahalanobisCheck(["w", "h"], alpha=0.999, keys=["image_id"])], "images"
    ).run(images)
    assert "img_9997" in _violation_ids(res, "mahalanobis")
    cut = res.verdicts.filter("metric = 'chi2_cutoff'").first()
    assert cut["value"] == pytest.approx(13.815510557964274)  # qchisq(.999, 2)


def test_column_stats_constraints(spark, images):
    res = ValidationSuite(
        [ColumnStatsCheck("w", constraints={"max": (None, 4096.0), "null_rate": (None, 0.0)})],
        "images",
    ).run(images)
    bad = {r["metric"] for r in res.verdicts.filter("passed = false").collect()}
    assert bad == {"max"}


def test_drift_detects_shift(spark):
    base = spark.range(0, 4000).select((F.col("id") % 100).cast("double").alias("x"))
    shifted = spark.range(0, 4000).select(((F.col("id") % 100) + 40).cast("double").alias("x"))
    hb = {r["bin"]: r["n"] for r in histogram(base, "x", 0, 200, 20).collect()}
    baseline = {(): [hb.get(i, 0) for i in range(20)]}
    check = DriftCheck("x", 0, 200, 20, baseline, max_psi=0.1, max_ks=0.1)
    same = check.run_extra(base)
    assert all(v["passed"] for v in same)
    drifted = check.run_extra(shifted)
    assert any(not v["passed"] for v in drifted)


def test_psi_ks_math():
    p = [0.25, 0.25, 0.25, 0.25]
    assert psi_from_histograms(p, p) == pytest.approx(0.0)
    assert ks_from_histograms(p, p) == pytest.approx(0.0)
    q = [0.4, 0.3, 0.2, 0.1]
    assert ks_from_histograms(p, q) == pytest.approx(0.2)  # |0.25-0.4|, |0.5-0.7|=0.2 max
    assert psi_from_histograms(p, q) > 0


def test_per_partition_verdicts(spark, images):
    res = ValidationSuite(
        [NotNullCheck("caption", keys=["image_id"])], "images", partition_by=["fmt"]
    ).run(images)
    parts = {r["partition"]: r["passed"] for r in
             res.verdicts.filter("metric = 'violation_rate'").collect()}
    assert parts[""] is False          # global slice sees the null
    assert parts["jpeg"] is False      # the null caption is a jpeg row
    assert parts["png"] is True
    assert parts["bmp"] is True


def test_schema_check_and_reconcile(spark):
    from anomalydetection_spark.checks import SchemaCheck, reconcile_schema

    df = spark.createDataFrame([(1, "a", 2.0)], "id long, name string, score double")

    ok = SchemaCheck({"id": "bigint", "name": "string"}).run_extra(df)
    assert all(v["passed"] for v in ok)

    bad = SchemaCheck({"id": "int", "missing": None}).run_extra(df)
    by_col = {(v["column"], v["metric"].split("(")[0]): v for v in bad}
    assert not by_col[("id", "type_match")]["passed"]       # bigint != int
    assert by_col[("id", "present")]["passed"]
    assert not by_col[("missing", "present")]["passed"]

    strict = SchemaCheck({"id": "bigint"}, strict=True).run_extra(df)
    extra = [v for v in strict if v["metric"].startswith("unexpected_columns")]
    assert extra and not extra[0]["passed"] and extra[0]["value"] == 2.0

    # P2 rename reconciliation: historical name -> canonical, no clobber
    renamed = reconcile_schema(df, {"name": "label", "absent": "x", "id": "score"})
    assert set(renamed.columns) == {"id", "label", "score"}


def test_csv_source_with_normalization_and_limit(spark, tmp_path):
    from anomalydetection_spark.sources.tables import load_csv

    p = tmp_path / "in.csv"
    p.write_text("id,name,score\n1,alpha,3\n2,,5\n3,gamma,\n4,delta,9\n")
    df = load_csv(spark, str(p), schema="id int, name string, score string",
                  normalize_empty=("name", "score"))
    rows = {r["id"]: r for r in df.collect()}
    assert rows[2]["name"] is None and rows[3]["score"] is None
    assert rows[1]["name"] == "alpha"
    assert load_csv(spark, str(p), schema="id int, name string, score string",
                    n_rows=2).count() == 2

    tsv = tmp_path / "in.tsv"
    tsv.write_text("id\tname\n7\tzeta\n")
    t = load_csv(spark, str(tsv), schema="id int, name string", delimiter="\t")
    assert t.first()["name"] == "zeta"


def test_asof_join_edges(spark):
    from datetime import datetime

    from anomalydetection_spark.functions.relational import asof_join

    left = spark.createDataFrame(
        [(1, "u", datetime(2024, 1, 1, 10)), (2, "u", datetime(2024, 1, 1, 12)),
         (3, "v", datetime(2024, 1, 1, 9))],
        "event_id long, user string, ts timestamp")
    right = spark.createDataFrame(
        [("u", datetime(2024, 1, 1, 10), 100.0),   # tied ts counts as before
         ("u", datetime(2024, 1, 1, 11), 200.0)],
        "user string, ts timestamp, val double")
    out = {r["event_id"]: r["val"] for r in
           asof_join(left, right, on="ts", by=["user"], right_cols=["val"]).collect()}
    assert out[1] == 100.0      # tie at 10:00 → at-or-before
    assert out[2] == 200.0      # latest prior
    assert out[3] is None       # no prior right row for v


def test_sessionize_gap_boundary(spark):
    from datetime import datetime, timedelta

    from anomalydetection_spark.functions.relational import sessionize

    t0 = datetime(2024, 1, 1)
    rows = [("u", 1, t0), ("u", 2, t0 + timedelta(seconds=3600)),      # == gap
            ("u", 3, t0 + timedelta(seconds=7200, microseconds=1))]    # > gap
    df = spark.createDataFrame(rows, "user string, event_id long, ts timestamp")
    out = {r["event_id"]: r["session_id"] for r in
           sessionize(df, ["user"], "ts", 3600, order_tiebreak="event_id").collect()}
    assert out[1] == 1 and out[2] == 1  # exactly-at-gap stays in session
    assert out[3] == 2                  # strictly beyond gap starts a new one


def test_asof_join_attaches_whole_right_row(spark):
    """A right row with a NULL in one attached column must NOT have that
    column backfilled from an older right row: all attached values come
    from the single matched right row (struct-packed window)."""
    from datetime import datetime

    from anomalydetection_spark.functions.relational import asof_join

    left = spark.createDataFrame(
        [(1, "u", datetime(2024, 1, 1, 12))], "event_id long, user string, ts timestamp")
    right = spark.createDataFrame(
        [("u", datetime(2024, 1, 1, 10), 100.0, "old"),
         ("u", datetime(2024, 1, 1, 11), None, "new")],   # latest row, NULL val
        "user string, ts timestamp, val double, tag string")
    row = asof_join(left, right, on="ts", by=["user"],
                    right_cols=["val", "tag"]).first()
    assert row["tag"] == "new"
    assert row["val"] is None   # genuine NULL from the matched row survives

    # ADVICE r02: empty right_cols would build a zero-field struct —
    # must raise a clear error instead
    import pytest as _pytest
    with _pytest.raises(ValueError, match="right_cols"):
        asof_join(left, right, on="ts", by=["user"], right_cols=[])


def test_suite_reuse_refits_model_per_run(spark):
    """One suite instance over two units: the second run's robust-z /
    Mahalanobis verdicts must reflect the SECOND unit's data, not unit
    1's fitted model (checks reset() at the start of every run)."""
    suite = ValidationSuite(
        [RobustZScoreCheck("x", threshold=3.5, keys=["x"]),
         MahalanobisCheck(["x", "y"], alpha=0.999, keys=["x"])], "t")
    a = spark.createDataFrame([(float(i % 10), float(i % 7)) for i in range(500)],
                              "x double, y double")
    b = spark.createDataFrame([(1000.0 + (i % 10), 500.0 + (i % 7)) for i in range(500)],
                              "x double, y double")
    suite.run(a)
    res_b = suite.run(b)
    med_b = res_b.verdicts.filter("metric = 'median'").first()["value"]
    assert med_b > 900  # unit B's own median, not unit A's ~4.5
    # with a refit model, unit B (same shape as A, shifted) has no outliers
    rates = {r["check"]: r["value"]
             for r in res_b.verdicts.filter("metric = 'outlier_rate'").collect()}
    assert all(v == 0.0 for v in rates.values())


def test_one_suite_scores_two_slices_at_once(spark):
    """A run fits and caches on its own copies of the suite's checks, so
    one suite instance scoring two slices from two threads at once gives
    the verdicts and violations of two runs one after the other, and its
    own checks hold no fitted state afterwards."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from anomalydetection_spark.image_udfs import DecodeCheck
    from anomalydetection_spark.plans.image_suite import drift_baseline_histograms
    from anomalydetection_spark.synth import generate_pandas, to_spark

    pdf, _ = generate_pandas(300, with_payload=True)
    df = to_spark(spark, pdf).cache()
    # two slices with different models: below and above the median width
    med = float(pdf["w"].median())
    slices = [df.filter(F.col("w") < med), df.filter(F.col("w") >= med)]
    rz = RobustZScoreCheck("w", keys=["image_id"])
    md = MahalanobisCheck(["w", "h"], alpha=0.99, keys=["image_id"])
    dec = DecodeCheck(max_violation_rate=1.0, max_caption_mismatch_rate=1.0)
    suite = ValidationSuite([
        rz, md, UniquenessCheck(["image_id"]),
        DriftCheck("w", lo=16, hi=2048, nbins=64, group_cols=["fmt"],
                   baseline=drift_baseline_histograms(df, ["w"])["w"]),
        dec,
    ], "images")

    def score(part):
        res = suite.run(part, spark)
        try:
            return (sorted(map(repr, res.verdicts.collect())),
                    sorted(map(repr, res.violations.collect())))
        finally:
            res.release()

    sequential = [score(part) for part in slices]
    assert sequential[0] != sequential[1]
    both = threading.Barrier(2)

    def at_once(part):
        both.wait()
        return score(part)

    with ThreadPoolExecutor(2) as pool:
        assert list(pool.map(at_once, slices)) == sequential
    assert rz._median is None and md._solved is False and dec._results is None
    df.unpersist()


def test_decode_check_reset_clears_cached_results():
    from anomalydetection_spark.image_udfs import DecodeCheck

    class FakeFrame:
        unpersisted = False

        def unpersist(self, blocking=False):
            self.unpersisted = True

    c = DecodeCheck()
    fake = FakeFrame()
    c._results = fake
    c.reset()
    assert c._results is None
    # reset only forgets: a suite run's copy shares the frame with the
    # check it was copied from, which frees it with release()
    assert not fake.unpersisted
    c._results = fake
    c.release()
    assert fake.unpersisted


def test_violations_carry_severity_tier(spark, images):
    """S7 (utils.R:769-820): robust-z / Mahalanobis violation rows ship
    with a severity triage column from the 80th/90th-percentile deviation
    cutoffs; cutoffs ride the fused post rounds (no extra scan)."""
    res = ValidationSuite(
        [RobustZScoreCheck("w", threshold=10.0, keys=["image_id"]),
         MahalanobisCheck(["w", "h"], alpha=0.999, keys=["image_id"])], "images"
    ).run(images)
    v = res.violations.toPandas()
    assert "severity" in v.columns
    flagged = v[v["_check"].str.startswith("robust_z")]
    assert len(flagged) and set(flagged["severity"]) <= {"high", "medium", "low"}
    # the planted extreme outlier sits far beyond the 90th pct of |z|
    assert flagged[flagged["image_id"] == "img_9997"]["severity"].iloc[0] == "high"


def test_k1_cell_severity_tiers_and_estimate_mask(spark):
    import numpy as np
    import pandas as pd

    from anomalydetection_spark.kernels.recommender import (
        deviation_severity_cells,
        run_rec_analysis,
    )

    rng = np.random.default_rng(3)
    n = 120
    base = rng.normal(0, 1, n)
    # D_<c> = |E-x| / R_jj inflates small-variance indicators, so the
    # masked (estimate < 10) indicator gets LARGE variance and an
    # unmasked one a tight scale — high tiers must land on unmasked cells
    X = np.column_stack([
        50 + 10 * base + rng.normal(0, 2, n),
        30 + 0.5 * base + rng.normal(0, 0.3, n),
        5 + 8 * rng.normal(0, 1, n),             # small-estimate indicator
    ])
    X[0] = [130, 25, 5]  # gross outlier in i2's tight scale
    pdf = pd.DataFrame(X, columns=["i1", "i2", "i3"])
    pdf.insert(0, "site", [f"s{i}" for i in range(n)])
    scored = run_rec_analysis(
        spark.createDataFrame(pdf), ["site"], ["i1", "i2", "i3"],
        alpha=0.95, min_row_obs=2, estimates_for_flagged_only=False,
    )
    cells = deviation_severity_cells(scored, ["site"], ["i1", "i2", "i3"]).toPandas()
    assert set(cells.columns) == {"site", "indicator", "reported", "estimate",
                                  "deviation", "severity"}
    by_sev = cells.groupby("severity").size().to_dict()
    assert by_sev.get("high", 0) > 0 and by_sev.get("low", 0) > 0
    # estimate < 10 masks the cell regardless of deviation (utils.R:822)
    masked = cells[cells["estimate"] < 10]
    assert len(masked) and (masked["severity"] == "none").all()
    # ~top decile of deviations is 'high' (global melt cutoffs)
    dev = cells["deviation"].dropna()
    hi = cells[cells["severity"] == "high"]["deviation"]
    assert (hi > dev.quantile(0.9) - 1e-9).all()


def test_sessionize_matches_structured_streaming_session_window(spark):
    """Batch sessionize is the twin of F.session_window: identical
    session membership for events away from the exact-gap boundary (the
    two differ only in whether a gap of EXACTLY gap_seconds merges)."""
    from datetime import datetime, timedelta

    from anomalydetection_spark.functions.relational import sessionize

    t0 = datetime(2024, 3, 1)
    rows, t = [], t0
    for i, step in enumerate([100, 200, 4000, 50, 3900, 10, 10, 5000]):
        t = t + timedelta(seconds=step)
        rows.append(("u", i, t))
    df = spark.createDataFrame(rows, "user string, event_id long, ts timestamp")

    batch = sessionize(df, ["user"], "ts", 3600, order_tiebreak="event_id")
    batch_sessions = {
        tuple(sorted(r["ids"]))
        for r in batch.groupBy("user", "session_id")
        .agg(F.collect_list("event_id").alias("ids")).collect()
    }
    sw = (
        df.groupBy("user", F.session_window("ts", "3600 seconds"))
        .agg(F.collect_list("event_id").alias("ids"))
    )
    sw_sessions = {tuple(sorted(r["ids"])) for r in sw.collect()}
    assert batch_sessions == sw_sessions


def _hand_xlsx(path, with_second_sheet=False):
    """Hand-assembled minimal xlsx (zip of raw XML strings — NOT built
    by any engine code, so the stdlib parser isn't tested against
    itself): shared strings incl. a rich-text run, an inline string, a
    boolean, numerics, a skipped cell and an empty string."""
    import zipfile

    M = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    R = ('xmlns="http://schemas.openxmlformats.org/package/2006/'
         'relationships"')
    O = ('xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
         'relationships"')
    sheets = '<sheet name="data" sheetId="1" r:id="rId1"/>'
    rels = ('<Relationship Id="rId1" Type="t" '
            'Target="worksheets/sheet1.xml"/>')
    if with_second_sheet:
        sheets += '<sheet name="extra" sheetId="2" r:id="rId2"/>'
        rels += ('<Relationship Id="rId2" Type="t" '
                 'Target="worksheets/sheet2.xml"/>')
    files = {
        "xl/workbook.xml":
            f'<workbook {M} {O}><sheets>{sheets}</sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            f'<Relationships {R}>{rels}</Relationships>',
        "xl/sharedStrings.xml":
            f'<sst {M}><si><t>id</t></si><si><t>name</t></si>'
            f'<si><t>score</t></si><si><r><t>al</t></r><r><t>ice</t></r>'
            f'</si><si><t>bob</t></si></sst>',
        "xl/worksheets/sheet1.xml": (
            f'<worksheet {M}><sheetData>'
            '<row r="1"><c r="A1" t="s"><v>0</v></c>'
            '<c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c>'
            '<c r="D1" t="inlineStr"><is><t>ok</t></is></c></row>'
            '<row r="2"><c r="A2"><v>1</v></c><c r="B2" t="s"><v>3</v></c>'
            '<c r="C2"><v>0.5</v></c><c r="D2" t="b"><v>1</v></c></row>'
            '<row r="3"><c r="A3"><v>2</v></c><c r="B3" t="s"><v>4</v></c>'
            '<c r="D3" t="b"><v>0</v></c></row>'
            '<row r="4"><c r="A4"><v>3</v></c>'
            '<c r="B4" t="inlineStr"><is><t></t></is></c>'
            '<c r="C4"><v>9</v></c><c r="D4" t="b"><v>1</v></c></row>'
            '</sheetData></worksheet>'),
    }
    if with_second_sheet:
        files["xl/worksheets/sheet2.xml"] = (
            f'<worksheet {M}><sheetData>'
            '<row r="1"><c r="A1" t="inlineStr"><is><t>only</t></is></c>'
            '</row></sheetData></worksheet>')
    with zipfile.ZipFile(path, "w") as z:
        for name, content in files.items():
            z.writestr(name, content)


def test_xlsx_source_tier(spark, tmp_path):
    """S4 xlsx tier (VERDICT r04 missing #2): stdlib parse on the
    driver, all-strings contract, S5 empty->NULL normalization, S6 row
    limit, sheet selection, and the loud size bound."""
    from anomalydetection_spark.sources.tables import load_xlsx

    p = tmp_path / "book.xlsx"
    _hand_xlsx(str(p), with_second_sheet=True)
    df = load_xlsx(spark, str(p), normalize_empty=["name"])
    assert df.columns == ["id", "name", "score", "ok"]
    rows = {r["id"]: r for r in df.collect()}
    assert rows["1"]["name"] == "alice" and rows["1"]["score"] == "0.5"
    assert rows["1"]["ok"] == "TRUE"
    assert rows["2"]["name"] == "bob" and rows["2"]["score"] is None  # gap
    assert rows["2"]["ok"] == "FALSE"
    assert rows["3"]["name"] is None  # '' normalized to NULL (S5)
    assert load_xlsx(spark, str(p), n_rows=2).count() == 2  # S6
    extra = load_xlsx(spark, str(p), sheet="extra", header=False)
    assert [r["_c0"] for r in extra.collect()] == ["only"]
    with pytest.raises(ValueError, match="max_bytes"):
        load_xlsx(spark, str(p), max_bytes=10)
    with pytest.raises(ValueError, match="not in workbook"):
        load_xlsx(spark, str(p), sheet="nope")
    # the all-strings frame feeds the normal check machinery
    from anomalydetection_spark.checks import NotNullCheck
    from anomalydetection_spark.suite import ValidationSuite

    res = ValidationSuite([NotNullCheck("name")], "xlsx").run(
        load_xlsx(spark, str(p), normalize_empty=["name"]), spark,
        with_violations=False)
    v = {r["metric"]: r for r in res.verdicts.collect()}
    assert v["violation_rate"]["value"] == pytest.approx(1 / 3)


def test_xlsx_optional_r_attributes_and_row_gaps(spark, tmp_path):
    """Review r05: both `r` attributes are OPTIONAL per ECMA-376 — a
    minimal writer emits neither. Cells without refs land sequentially
    (not discarded at ci=-1), and a writer-omitted empty row survives as
    an all-NULL row instead of shifting the data up."""
    import zipfile

    from anomalydetection_spark.sources.tables import load_xlsx

    M = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    R = ('xmlns="http://schemas.openxmlformats.org/package/2006/'
         'relationships"')
    O = ('xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
         'relationships"')
    files = {
        "xl/workbook.xml":
            f'<workbook {M} {O}><sheets>'
            '<sheet name="data" sheetId="1" r:id="rId1"/>'
            '</sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            f'<Relationships {R}><Relationship Id="rId1" Type="t" '
            'Target="worksheets/sheet1.xml"/></Relationships>',
        # no refs anywhere; row 3 is omitted by the writer (row r jumps
        # from implied 2 to explicit 4)
        "xl/worksheets/sheet1.xml": (
            f'<worksheet {M}><sheetData>'
            '<row><c t="inlineStr"><is><t>id</t></is></c>'
            '<c t="inlineStr"><is><t>name</t></is></c></row>'
            '<row><c><v>1</v></c>'
            '<c t="inlineStr"><is><t>first</t></is></c></row>'
            '<row r="4"><c><v>2</v></c>'
            '<c t="inlineStr"><is><t>after-gap</t></is></c></row>'
            '</sheetData></worksheet>'),
    }
    p = tmp_path / "minimal.xlsx"
    with zipfile.ZipFile(str(p), "w") as z:
        for name, content in files.items():
            z.writestr(name, content)
    df = load_xlsx(spark, str(p))
    assert df.columns == ["id", "name"]
    got = [(r["id"], r["name"]) for r in df.collect()]
    assert got == [("1", "first"), (None, None), ("2", "after-gap")]


@pytest.mark.parametrize("partition_by", [[], ["fmt"]])
@pytest.mark.parametrize("n_rows", [0, 1])
def test_anomaly_checks_on_empty_and_one_row_inputs(spark, n_rows, partition_by):
    """No model fits on 0 rows (median, moments) or on 1 row (covariance):
    the unfitted checks flag no row, keep their verdicts, and neither the
    suite run, its violations nor a standalone ``violations(df)`` fails."""
    df = spark.createDataFrame([("img_0", 100, 120, "jpeg")][:n_rows],
                               "image_id string, w int, h int, fmt string")
    suite = ValidationSuite([
        RangeCheck("w", 16, 8192, keys=["image_id"]),
        RobustZScoreCheck("w", keys=["image_id"]),
        MahalanobisCheck(["w", "h"], keys=["image_id"]),
    ], "images", partition_by=partition_by)
    res = suite.run(df)
    assert res.violations.collect() == []
    assert res.violations.columns == ["image_id", "_check", "severity"]
    got = {(r["check"], r["metric"]): r["value"]
           for r in res.verdicts.filter("partition = ''").collect()}
    assert got[("robust_z:w", "outlier_rate")] == 0.0
    assert got[("robust_z:w", "median")] == (100.0 if n_rows else None)
    assert ("mahalanobis:w,h", "chi2_cutoff") in got
    assert ("mahalanobis:w,h", "outlier_rate") not in got  # no model, no rate
    for check in (RobustZScoreCheck("w"), MahalanobisCheck(["w", "h"])):
        assert check.violations(df).collect() == []


def test_unit_invariant_columns_built_once_per_suite(spark, images, monkeypatch):
    """A second run of the same suite (the next checkpointed unit) builds
    no fused-pass expression and no static violation predicate again;
    only the fitted checks rebuild theirs, once per run."""
    suite = ValidationSuite([
        NotNullCheck("caption", keys=["image_id"]),
        RangeCheck("w", 16, 8192, keys=["image_id"]),
        ReferentialCheck("fmt", ["jpeg", "png"], keys=["image_id"]),
        UniquenessCheck(["image_id"]),
        RobustZScoreCheck("w", keys=["image_id"]),
        MahalanobisCheck(["w", "h"], keys=["image_id"]),
    ], "images", partition_by=["fmt"])
    calls = collections.Counter()

    # counted on the classes, per check name: a run scores copies of the
    # suite's checks, so a wrapper bound to one instance would be copied
    # along with it and call back into the (unfitted) original. Every
    # original is read before any is patched, so a subclass of a patched
    # class never wraps its wrapper.
    def counted(method, inner):
        def wrapped(self, *args):
            calls[self.name, method] += 1
            return inner(self, *args)
        return wrapped

    originals = [(cls, m, getattr(cls, m)) for cls in {type(c) for c in suite.checks}
                 for m in ("stats_exprs", "row_violation")]
    for cls, method, inner in originals:
        monkeypatch.setattr(cls, method, counted(method, inner))
    first = sorted(map(repr, suite.run(images).violations.collect()))
    after_first = calls.copy()
    assert sorted(map(repr, suite.run(images).violations.collect())) == first
    for c in suite.checks:
        assert calls[c.name, "stats_exprs"] == 1, c.name
        rebuilt = calls[c.name, "row_violation"] - after_first[c.name, "row_violation"]
        assert rebuilt == (1 if c.fitted else 0), c.name


class _RowTotal(Check):
    """Reads the input's row total under a fused alias it shares."""

    def __init__(self, name):
        self.name = name

    def stats_exprs(self):
        return [F.count(F.lit(1)).alias("shared__rows")]

    def verdicts(self, stats):
        return [verdict(self.name, "", "rows", stats["shared__rows"])]


def test_clashing_check_names_and_aggregates_fail_before_any_job(spark, images):
    """A check's name keys its fused aggregates and its violation rows:
    two checks under one name would share one count (the stricter range
    would report the looser one's rate and pass). The suite refuses them
    when built, and refuses two names whose fused aliases collide before
    its first job. Identical aggregates are still computed once."""
    sc = spark.sparkContext
    sc.setJobGroup("clashing_checks", "clashing checks job count")
    try:
        with pytest.raises(ValueError, match="range:w"):
            ValidationSuite([RangeCheck("w", 0, 1000),
                             RangeCheck("w", 0, 10, max_violation_rate=0.5)]).run(images)
        with pytest.raises(ValueError, match="in_set:fmt"):
            ValidationSuite([InSetCheck("fmt", ["jpeg", "png"]), InSetCheck("fmt", ["jpeg"])])
        same_slug = ValidationSuite([PredicateCheck("w:ok", F.col("w") < 1000),
                                     PredicateCheck("w.ok", F.col("w") < 10)])
        with pytest.raises(ValueError, match="w_ok__violations"):
            same_slug.run(images)
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not sc._jsc.sc().statusTracker().getJobIdsForGroup("clashing_checks")

    res = ValidationSuite([_RowTotal("a"), _RowTotal("b")]).run(images)
    assert [r["value"] for r in res.verdicts.collect()] == [204.0, 204.0]
