"""Resumable checkpoint ledger (north_rule: resumable from checkpoint with
per-partition lineage + metrics rows)."""

import json
import os
import time

import pytest

from pyspark.sql.types import StructType

from anomalydetection_spark.checkpoint import (
    LINEAGE_SCHEMA,
    CheckpointedRunner,
    input_fingerprint,
)
from anomalydetection_spark.checks import (
    ColumnStatsCheck,
    InSetCheck,
    NotNullCheck,
    UniquenessCheck,
)
from anomalydetection_spark.suite import ValidationSuite
from anomalydetection_spark.synth import generate_pandas, to_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def image_table(spark, tmp_path_factory):
    pdf, _man = generate_pandas(2000, with_payload=False)
    path = str(tmp_path_factory.mktemp("ckpt") / "images")
    to_spark(spark, pdf).repartition(8).write.mode("overwrite").parquet(path)
    return path


def _suite():
    return ValidationSuite(
        checks=[
            ColumnStatsCheck("w", constraints={"null_rate": (None, 0.0)}),
            NotNullCheck("caption", max_null_rate=0.05, keys=["image_id"]),
            InSetCheck("fmt", ["jpeg", "png", "webp"], max_violation_rate=0.01,
                       keys=["image_id", "fmt"]),
            UniquenessCheck(["image_id"], max_duplicate_rate=0.01),
        ],
        table_name="images",
    )


def test_run_commits_every_unit_and_resume_skips(spark, image_table, tmp_path):
    out = str(tmp_path / "out")
    runner = CheckpointedRunner(_suite(), out, bucket_key="image_id", n_buckets=4)
    r1 = runner.run(spark.read.parquet(image_table), input_path=image_table)
    assert r1.completed == 4 and r1.resumed == 0

    # every unit has a ledger entry, verdicts parquet, and a lineage row
    ledger = sorted(os.listdir(os.path.join(out, "_ledger")))
    assert ledger == [f"bucket={i:04d}.json" for i in range(4)]
    rec = json.load(open(os.path.join(out, "_ledger", ledger[0])))
    assert rec["rows"] > 0 and rec["snapshot"].startswith("parquet:")

    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert lineage.count() == 4
    assert sum(r["rows"] for r in lineage.collect()) == 2000  # buckets partition the table

    # resume: all units skipped, nothing recomputed, no duplicate lineage
    r2 = CheckpointedRunner(_suite(), out, bucket_key="image_id", n_buckets=4).run(
        spark.read.parquet(image_table), input_path=image_table
    )
    assert r2.resumed == 4 and r2.completed == 0
    assert spark.read.parquet(os.path.join(out, "lineage")).count() == 4


def test_partial_resume_runs_only_missing_units(spark, image_table, tmp_path):
    out = str(tmp_path / "out")
    runner = CheckpointedRunner(_suite(), out, bucket_key="image_id", n_buckets=4)
    df = spark.read.parquet(image_table)
    r1 = runner.run(df, input_path=image_table)
    # simulate crash after 3 of 4 units: drop one manifest
    os.remove(os.path.join(out, "_ledger", "bucket=0002.json"))
    r2 = CheckpointedRunner(_suite(), out, bucket_key="image_id", n_buckets=4).run(
        df, input_path=image_table
    )
    assert r2.resumed == 3 and r2.completed == 1
    assert [u.unit for u in r2.units if not u.skipped] == ["bucket=0002"]
    # replayed unit's verdict partition was overwritten idempotently:
    # totals across buckets still cover the whole table exactly once
    rows = {u.unit: u.rows for u in r2.units}
    assert sum(rows.values()) == 2000
    # the fresh run and the resumed run both appended lineage rows, and
    # the appended parquet keeps the declared schema
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert lineage.schema == StructType.fromDDL(LINEAGE_SCHEMA)
    assert lineage.count() == 5


def test_staged_bucket_mode_matches_unstaged_and_prunes(spark, image_table, tmp_path):
    """stage_buckets=True (VERDICT r02 #7): one staging write partitioned
    by the computed bucket replaces the n_buckets× full-input scans of
    plain bucket mode; results are identical, unit reads partition-prune,
    and a resume reuses the staging copy."""
    df = spark.read.parquet(image_table)
    out_a = str(tmp_path / "plain")
    out_b = str(tmp_path / "staged")
    r_plain = CheckpointedRunner(
        _suite(), out_a, bucket_key="image_id", n_buckets=4
    ).run(df, input_path=image_table)
    runner = CheckpointedRunner(
        _suite(), out_b, bucket_key="image_id", n_buckets=4, stage_buckets=True
    )
    r_staged = runner.run(df, input_path=image_table)

    assert r_staged.completed == 4
    # same unit partitioning and per-unit row counts as the unstaged mode
    assert {u.unit: u.rows for u in r_staged.units} == \
           {u.unit: u.rows for u in r_plain.units}
    assert sum(u.rows for u in r_staged.units) == 2000
    # identical verdict outcomes per unit (values up to float partial-
    # aggregation merge order — staging changes the partition layout)
    for i in range(4):
        a = spark.read.parquet(os.path.join(out_a, "verdicts", f"unit=bucket={i:04d}"))
        b = spark.read.parquet(os.path.join(out_b, "verdicts", f"unit=bucket={i:04d}"))
        key = lambda r: (r["check"], r["column"], r["metric"], r["partition"])
        va = {key(r): (r["value"], r["passed"]) for r in a.collect()}
        vb = {key(r): (r["value"], r["passed"]) for r in b.collect()}
        assert va.keys() == vb.keys()
        for k in va:
            assert va[k][1] == vb[k][1], k
            assert va[k][0] == pytest.approx(vb[k][0], rel=1e-9, abs=1e-12), k

    # staging exists exactly once and unit reads prune to one partition dir
    staging_root = os.path.join(out_b, "_staging")
    tags = os.listdir(staging_root)
    assert len(tags) == 1
    units = runner._units(df, r_staged.snapshot)
    plan = units[2][1]._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__bucket" in plan

    # resume skips everything and does not restage
    mtime = os.path.getmtime(os.path.join(staging_root, tags[0], "_SUCCESS"))
    r2 = CheckpointedRunner(
        _suite(), out_b, bucket_key="image_id", n_buckets=4, stage_buckets=True
    ).run(df, input_path=image_table)
    assert r2.resumed == 4 and r2.completed == 0
    assert os.path.getmtime(os.path.join(staging_root, tags[0], "_SUCCESS")) == mtime


def test_snapshot_change_is_refused_then_allowed(spark, image_table, tmp_path):
    out = str(tmp_path / "out")
    df = spark.read.parquet(image_table)
    CheckpointedRunner(_suite(), out, bucket_key="image_id", n_buckets=2).run(
        df, input_path=image_table
    )
    with pytest.raises(RuntimeError, match="snapshot"):
        CheckpointedRunner(_suite(), out, bucket_key="image_id", n_buckets=2).run(
            df, snapshot="parquet:deadbeef"
        )
    r = CheckpointedRunner(
        _suite(), out, bucket_key="image_id", n_buckets=2, allow_snapshot_change=True
    ).run(df, snapshot="parquet:deadbeef")
    assert r.completed == 2  # stale units re-ran against the new snapshot


def test_unit_col_mode_prunes_by_partition_value(spark, image_table, tmp_path):
    out = str(tmp_path / "out")
    df = spark.read.parquet(image_table)
    r = CheckpointedRunner(_suite(), out, unit_col="fmt").run(
        df, input_path=image_table
    )
    units = sorted(u.unit for u in r.units)
    assert units == sorted(
        f"fmt={v[0]}" for v in df.select("fmt").distinct().collect()
    )
    assert sum(u.rows for u in r.units) == 2000


def test_fingerprint_tracks_content(tmp_path, spark, image_table):
    f1 = input_fingerprint(spark, image_table)
    assert f1 == input_fingerprint(spark, image_table)  # stable
    other = str(tmp_path / "other")
    os.makedirs(other)
    open(os.path.join(other, "part-0.parquet"), "wb").write(b"x")
    assert input_fingerprint(spark, other) != f1


def test_cli_run_and_resume_subprocess(spark, image_table, tmp_path):
    """spark-submit-style entry (scripts/run_validation.py) end-to-end:
    first run commits every unit; an identical relaunch resumes from the
    ledger and runs nothing. A run SIGKILLed after its first commit
    resumes the committed units, completes the rest, and lands the same
    verdict rows as the uninterrupted run."""
    import glob
    import signal
    import subprocess
    import sys

    def cmd(out):
        return [
            sys.executable, os.path.join(REPO, "scripts", "run_validation.py"),
            "--input", image_table, "--output", out,
            "--n-buckets", "8", "--no-decode",
        ]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")

    def run(out):
        p = subprocess.run(cmd(out), env=env, capture_output=True, text=True, timeout=300)
        assert p.returncode == 0, p.stderr[-2000:]
        body = p.stdout[p.stdout.index("{"):]
        return json.loads(body[:body.rindex("}") + 1])

    def verdict_rows(out):
        return sorted(map(tuple, spark.read.parquet(f"{out}/verdicts").collect()))

    out = str(tmp_path / "cli_out")
    first = run(out)
    assert first["units_completed"] == 8 and first["units_resumed"] == 0
    assert all(not u["skipped"] for u in first["units"])
    assert os.path.isdir(f"{out}/verdicts") and os.path.isdir(f"{out}/_ledger")

    second = run(out)
    assert second["units_resumed"] == 8
    assert all(u["skipped"] for u in second["units"])

    killed = str(tmp_path / "cli_killed")
    ledger = f"{killed}/_ledger/*.json"
    # own process group: the SIGKILL takes the CLI process and its JVM at once
    p = subprocess.Popen(cmd(killed), env=env, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL, start_new_session=True)
    try:
        deadline = time.time() + 300
        while not glob.glob(ledger) and p.poll() is None and time.time() < deadline:
            time.sleep(0.05)
    finally:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait(timeout=60)
    committed = len(glob.glob(ledger))
    assert 0 < committed < 8, committed

    resumed = run(killed)
    assert resumed["units_resumed"] == committed
    assert resumed["units_completed"] == 8 - committed
    assert len(glob.glob(ledger)) == 8
    assert verdict_rows(killed) == verdict_rows(out)


def test_unit_col_nulls_and_typed_values(spark, tmp_path):
    """NULL unit values get their own unit (isNull filter — col == lit(None)
    matches nothing) and non-string unit columns filter on the typed
    value, so every row is validated by exactly one unit."""
    out = str(tmp_path / "out")
    df = spark.createDataFrame(
        [(i, i % 3 if i % 10 else None) for i in range(300)],
        "image_id long, shard int",
    )
    r = CheckpointedRunner(
        ValidationSuite([ColumnStatsCheck("image_id")], "t"), out, unit_col="shard"
    ).run(df)
    units = {u.unit: u.rows for u in r.units}
    assert "shard=None" in units
    assert units["shard=None"] == 30          # the i % 10 == 0 rows
    assert sum(units.values()) == 300          # full partition of the input


def test_fingerprint_refuses_empty_input(tmp_path, spark):
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    with pytest.raises(ValueError, match="no data files"):
        input_fingerprint(spark, empty)


def test_sink_violations_carry_severity_column(spark, image_table, tmp_path):
    """S7: the checkpointed violations sink ships the severity triage
    tier for anomaly-score checks."""
    from anomalydetection_spark.checks import RobustZScoreCheck

    out = str(tmp_path / "out")
    suite = ValidationSuite(
        [RobustZScoreCheck("w", threshold=3.0, keys=["image_id"])], "images"
    )
    CheckpointedRunner(suite, out, bucket_key="image_id", n_buckets=2).run(
        spark.read.parquet(image_table), input_path=image_table
    )
    v = spark.read.parquet(os.path.join(out, "violations"))
    assert "severity" in v.columns
    vals = {r["severity"] for r in v.select("severity").distinct().collect()}
    assert vals and vals <= {"high", "medium", "low", None}


def test_staged_runner_commits_empty_and_one_row_units(spark, tmp_path):
    """More hash buckets than rows: some units are empty or hold one row,
    where no anomaly model can be fitted. Every unit still runs the image
    suite (robust z, Mahalanobis, per-fmt partitions) and commits."""
    from anomalydetection_spark.plans.image_suite import build_image_suite

    pdf, _man = generate_pandas(6, with_payload=False)
    path = str(tmp_path / "images")
    to_spark(spark, pdf).write.parquet(path)
    out = str(tmp_path / "out")
    suite = build_image_suite(["jpeg", "png", "webp"], with_decode=False)
    report = CheckpointedRunner(suite, out, bucket_key="image_id", n_buckets=8,
                                stage_buckets=True).run(
        spark.read.parquet(path), input_path=path)
    assert report.completed == 8 and report.resumed == 0
    rows = sorted(u.rows for u in report.units)
    assert rows[0] == 0 and sum(rows) == 6
    assert len(os.listdir(os.path.join(out, "_ledger"))) == 8


def test_staging_gc_spares_concurrently_live_tags(spark, image_table, tmp_path):
    """GC of stale staging copies is scoped by the _IN_USE liveness
    marker (ADVICE r03/r04): the marker is a SIBLING file
    (root/<tag>._IN_USE) touched before the staged write begins, so a
    concurrent runner's copy is protected from the moment its write
    starts (not just after _SUCCESS lands); once the marker ages past
    staging_gc_ttl_sec the copy is reclaimed."""
    df = spark.read.parquet(image_table)
    out = str(tmp_path / "staged")
    CheckpointedRunner(
        _suite(), out, bucket_key="image_id", n_buckets=4, stage_buckets=True
    ).run(df, input_path=image_table)
    root = os.path.join(out, "_staging")
    (n4_tag,) = os.listdir(root)
    # simulate a concurrent runner mid-run on the n4 copy: fresh sibling
    # marker present (as _staged_units writes before its own write/GC)
    with open(os.path.join(root, f"{n4_tag}._IN_USE"), "w"):
        pass
    CheckpointedRunner(
        _suite(), out, bucket_key="image_id", n_buckets=8, stage_buckets=True
    ).run(df, input_path=image_table)
    tags = set(os.listdir(root))
    assert n4_tag in tags and any(
        "n8" in t and not t.endswith("._IN_USE") for t in tags
    )  # both live
    # the n8 runner released its own marker at run end
    n8_tag = next(
        t for t in tags if "n8" in t and not t.endswith("._IN_USE")
    )
    assert not os.path.exists(os.path.join(root, f"{n8_tag}._IN_USE"))
    # an aged-out marker no longer protects the copy
    r = CheckpointedRunner(
        _suite(), out, bucket_key="image_id", n_buckets=6, stage_buckets=True,
        staging_gc_ttl_sec=0.0,
    ).run(df, input_path=image_table)
    assert sum(u.rows for u in r.units) == 2000
    tags = os.listdir(root)
    assert len(tags) == 1 and "n6" in tags[0]


def test_staging_gc_spares_in_progress_write_without_success(
    spark, image_table, tmp_path
):
    """ADVICE r04 (medium): a tag dir mid-write has NO _SUCCESS yet; only
    its sibling _IN_USE marker (written before the write starts) protects
    it. A concurrent restage must leave such a copy alone — rmtree'ing a
    racing write can leave _SUCCESS with missing part files that later
    runs silently reuse."""
    df = spark.read.parquet(image_table)
    out = str(tmp_path / "staged")
    root = os.path.join(out, "_staging")
    os.makedirs(root)
    # fabricate an in-progress foreign write: partial data, no _SUCCESS,
    # fresh sibling marker (exactly what _staged_units leaves mid-write)
    wip = "parquet_v2_feedface__image_id__n16"
    os.makedirs(os.path.join(root, wip))
    with open(os.path.join(root, wip, "part-00000.parquet"), "w") as fh:
        fh.write("partial")
    with open(os.path.join(root, f"{wip}._IN_USE"), "w"):
        pass
    CheckpointedRunner(
        _suite(), out, bucket_key="image_id", n_buckets=4, stage_buckets=True
    ).run(df, input_path=image_table)
    assert os.path.isdir(os.path.join(root, wip))
    assert os.path.exists(os.path.join(root, wip, "part-00000.parquet"))


def test_staging_gc_reclaims_orphaned_markers(spark, image_table, tmp_path):
    """Review r05: a crash between rmtree(dir) and remove(marker) leaves
    root/<tag>._IN_USE with no tag dir — no dir branch can reclaim it, so
    the marker pass must TTL-expire it itself or markers accumulate
    forever. A fresh orphan is left alone (its writer may be about to
    create the dir)."""
    df = spark.read.parquet(image_table)
    out = str(tmp_path / "staged")
    root = os.path.join(out, "_staging")
    os.makedirs(root)
    with open(os.path.join(root, "dead_tag__image_id__n2._IN_USE"), "w"):
        pass
    # fresh orphan + default TTL: spared
    CheckpointedRunner(
        _suite(), out, bucket_key="image_id", n_buckets=4, stage_buckets=True
    ).run(df, input_path=image_table)
    assert os.path.exists(
        os.path.join(root, "dead_tag__image_id__n2._IN_USE"))
    # aged past TTL: reclaimed (n_buckets change forces a restage, which
    # is the only moment GC runs)
    CheckpointedRunner(
        _suite(), out, bucket_key="image_id", n_buckets=2, stage_buckets=True,
        staging_gc_ttl_sec=0.0,
    ).run(df, input_path=image_table)
    assert not os.path.exists(
        os.path.join(root, "dead_tag__image_id__n2._IN_USE"))


def test_fingerprint_ms_granularity_same_second_overwrite(tmp_path, spark):
    """ADVICE r03 (medium): a same-length file overwritten within the
    same wall-clock second must change the fingerprint — second-level
    mtimes made the runner silently resume against changed data."""
    import shutil

    d = tmp_path / "data"
    d.mkdir()
    src = "/root/testdata/sf0.001/region.parquet"
    shutil.copy(src, d / "part-0.parquet")
    f1 = input_fingerprint(spark, str(d))
    time.sleep(0.005)  # well inside one second, beyond one millisecond
    shutil.copy(src, d / "part-0.parquet")  # same bytes, same length
    f2 = input_fingerprint(spark, str(d))
    assert f1 != f2


def test_staged_bucket_restages_on_config_change(spark, image_table, tmp_path):
    """The staging copy is keyed by (snapshot, bucket_key, n_buckets): a
    rerun with a different bucket count must restage, not partition-prune
    against the stale 4-bucket layout (which would validate zero rows for
    buckets 4-7)."""
    df = spark.read.parquet(image_table)
    out = str(tmp_path / "staged")
    CheckpointedRunner(
        _suite(), out, bucket_key="image_id", n_buckets=4, stage_buckets=True
    ).run(df, input_path=image_table)
    r8 = CheckpointedRunner(
        _suite(), out, bucket_key="image_id", n_buckets=8, stage_buckets=True
    ).run(df, input_path=image_table)
    assert sum(u.rows for u in r8.units) == 2000  # every row revalidated
    # the stale 4-bucket staging copy (input-sized, unreachable by any
    # resume) is garbage-collected when the new one is staged
    tags = os.listdir(os.path.join(out, "_staging"))
    assert len(tags) == 1 and "n8" in tags[0]


def test_scorecard_artifacts_rendered_next_to_sinks(spark, image_table, tmp_path):
    """VERDICT r04 #7: the runner writes a reviewer-facing scorecard
    (CSV + HTML) beside the parquet sinks — the (unit × check) failure
    matrix with a TOTAL row/column, columns ordered by total failures
    (the reference's column-by-total O6 ordering), covering resumed
    units too."""
    import csv

    df = spark.read.parquet(image_table)
    out = str(tmp_path / "out")
    runner = CheckpointedRunner(_suite(), out, bucket_key="image_id",
                                n_buckets=2)
    runner.run(df, input_path=image_table)
    for ext in ("csv", "html"):
        assert os.path.exists(os.path.join(out, f"scorecard.{ext}"))
    with open(os.path.join(out, "scorecard.csv")) as f:
        rows = list(csv.reader(f))
    header, body = rows[0], rows[1:]
    assert header[0] == "unit" and header[-1] == "TOTAL"
    assert body[-1][0] == "TOTAL"
    # column totals ordered non-increasing (column-by-total ordering)
    totals = [int(x) for x in body[-1][1:-1]]
    assert totals == sorted(totals, reverse=True)
    # matrix is consistent: grand total == sum of row totals
    assert int(body[-1][-1]) == sum(int(r[-1]) for r in body[:-1])
    # every unit appears as a row
    unit_rows = {r[0] for r in body[:-1]}
    assert {"bucket=0000", "bucket=0001"} <= unit_rows
    html_text = open(os.path.join(out, "scorecard.html")).read()
    assert "TOTAL" in html_text and "<table>" in html_text

    # a fully-RESUMED run re-renders the same scorecard from the ledger
    os.remove(os.path.join(out, "scorecard.csv"))
    r2 = CheckpointedRunner(_suite(), out, bucket_key="image_id",
                            n_buckets=2).run(df, input_path=image_table)
    assert r2.resumed == 2
    with open(os.path.join(out, "scorecard.csv")) as f:
        rows2 = list(csv.reader(f))
    assert rows2 == rows


def test_resume_fails_loudly_when_committed_verdicts_are_gone(
    spark, image_table, tmp_path
):
    """A resumed unit's verdicts were committed; if they cannot be read
    back the run raises instead of rendering a scorecard without them."""
    import shutil

    from pyspark.errors import AnalysisException

    df = spark.read.parquet(image_table)
    out = str(tmp_path / "out")
    CheckpointedRunner(_suite(), out, bucket_key="image_id",
                       n_buckets=2).run(df, input_path=image_table)
    shutil.rmtree(os.path.join(out, "verdicts"))
    os.remove(os.path.join(out, "scorecard.csv"))
    with pytest.raises(AnalysisException):
        CheckpointedRunner(_suite(), out, bucket_key="image_id",
                           n_buckets=2).run(df, input_path=image_table)
    assert not os.path.exists(os.path.join(out, "scorecard.csv"))


def test_scorecard_csv_quotes_commas_in_labels(tmp_path):
    """Review r05: partition values / check names containing commas must
    be quoted (csv.writer), not shift every column in the row."""
    import csv

    from anomalydetection_spark.report import render_scorecard

    rows = [
        {"row_key": "region=US, East", "check": 'w "px" check',
         "passed": False},
        {"row_key": "region=EU", "check": 'w "px" check', "passed": True},
    ]
    csv_path, _ = render_scorecard(rows, str(tmp_path), row_label="unit")
    with open(csv_path) as f:
        parsed = list(csv.reader(f))
    assert parsed[0] == ["unit", 'w "px" check', "TOTAL"]
    by_label = {r[0]: r for r in parsed[1:]}
    assert by_label["region=US, East"] == ["region=US, East", "1", "1"]
    assert by_label["region=EU"] == ["region=EU", "0", "0"]
    assert by_label["TOTAL"] == ["TOTAL", "1", "1"]
