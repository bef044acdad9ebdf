"""Session factory and driver-local frames."""

import os
import subprocess
import sys

import pytest

from anomalydetection_spark.session import local_frame

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_memory_override_sets_the_initial_heap_too():
    """``extra_conf`` driver memory below ``$SPARK_DRIVER_MEM`` must size
    -Xms as well; an -Xms above -Xmx stops the JVM gateway at launch."""
    code = (
        "from anomalydetection_spark import get_spark\n"
        "s = get_spark('heap', master='local[1]',"
        " extra_conf={'spark.driver.memory': '1g'})\n"
        "assert s.range(1).count() == 1\n"
        "assert s.conf.get('spark.driver.memory') == '1g'\n"
        "assert '-Xms1g ' in s.conf.get('spark.driver.extraJavaOptions')\n"
        "s.stop()\n"
    )
    env = dict(os.environ, SPARK_DRIVER_MEM="2g",
               PYTHONPATH=os.pathsep.join(
                   p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    p = subprocess.run([sys.executable, "-c", code], env=env, cwd=REPO,
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]


def test_local_frame_rejects_rows_of_the_wrong_width(spark):
    """A row shorter or longer than the schema raises before any job,
    instead of being truncated to the narrowest row."""
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2.0), (3,)], "k int, v double")
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2.0, "extra")], "k int, v double")


def test_worker_keeps_the_pyspark_zip_directory_between_tasks(spark):
    """Inside a Python worker, importing the engine (as every kernel's
    pickled function does) guards ``zipimporter.invalidate_caches``: the
    per-task ``importlib.invalidate_caches()`` no longer re-reads an
    unchanged pyspark.zip."""

    def probe(batches):
        import importlib
        import zipimport

        import anomalydetection_spark.session as session

        zips = [a for a in zipimport._zip_directory_cache
                if os.path.basename(a) == "pyspark.zip"]
        importlib.invalidate_caches()
        before = [zipimport._zip_directory_cache[a] for a in zips]
        importlib.invalidate_caches()
        kept = all(zipimport._zip_directory_cache[a] is d
                   for a, d in zip(zips, before))
        guarded = (zipimport.zipimporter.invalidate_caches
                   is getattr(session, "_invalidate_if_changed", None))
        for b in batches:
            yield b.assign(zips=len(zips), kept=kept, guarded=guarded)

    df = spark.range(0, 40, numPartitions=4)
    out = df.mapInPandas(
        probe, "id long, zips int, kept boolean, guarded boolean"
    ).collect()
    assert sorted(r["id"] for r in out) == list(range(40))
    assert {(r["zips"], r["kept"], r["guarded"]) for r in out} == {(1, True, True)}


def test_rewritten_zip_archive_is_still_reread(tmp_path, monkeypatch):
    """The guard skips only an unchanged archive: a zip rewritten with a new
    module is re-read by ``importlib.invalidate_caches()``."""
    import importlib
    import zipfile
    import zipimport

    import anomalydetection_spark.session  # noqa: F401  (installs the guard)

    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zguard_old.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zguard_old").X == 1
        importlib.invalidate_caches()
        files = zipimport._zip_directory_cache[str(archive)]
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[str(archive)] is files

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zguard_old.py", "X = 1\n")
            z.writestr("zguard_new.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert importlib.import_module("zguard_new").Y == 2
    finally:
        sys.modules.pop("zguard_old", None)
        sys.modules.pop("zguard_new", None)


def test_session_turns_off_per_call_origin_capture(spark, monkeypatch):
    """``get_spark`` turns off PySpark's per-call DataFrame call-site
    capture. PySpark caches the answer at the first wrapped call, so the
    cache is cleared to read this session's setting."""
    from pyspark.errors import utils

    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    assert utils.is_debugging_enabled() is False


def test_missing_column_raises_before_any_job(spark):
    """Without the call-site capture, a missing column still fails at
    analysis, before a job runs."""
    from pyspark.errors import AnalysisException

    sc = spark.sparkContext
    df = spark.range(3)
    sc.setJobGroup("missing_column", "missing column job count")
    try:
        with pytest.raises(AnalysisException, match="no_such_col"):
            df.select("no_such_col").collect()
        jobs = sc.statusTracker().getJobIdsForGroup("missing_column")
    finally:
        sc.setJobGroup(None, None)
    assert jobs == []


def test_k1_run_stays_within_its_py4j_budget(spark, monkeypatch):
    """One K1 ``run_rec_analysis`` over a 4-indicator frame sends at most
    2,000 py4j commands from the calling thread (about 1,420 measured on a
    4-core host; with the per-call call-site capture on, about 5,400).
    py4j's finalizer thread sends the detach commands of collected
    JavaObjects on its own schedule, so they are not counted."""
    import threading

    import numpy as np
    from py4j.clientserver import ClientServerConnection
    from pyspark.errors import utils

    from anomalydetection_spark.kernels.recommender import run_rec_analysis

    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    rng = np.random.default_rng(3)
    base = rng.normal(0, 1, 400)
    X = np.column_stack([50 + 10 * base, 30 + 6 * base, 10 + 2 * base,
                         rng.normal(100, 5, 400)]) + rng.normal(0, 1, (400, 4))
    X[rng.random(X.shape) < 0.1] = np.nan
    X[0] = [130.0, -10.0, 10.0, 100.0]  # planted gross outlier
    cols = ["i1", "i2", "i3", "i4"]
    df = local_frame(
        spark, [(f"s{i}", *(None if np.isnan(v) else float(v) for v in r))
                for i, r in enumerate(X)],
        "site string, " + ", ".join(f"{c} double" for c in cols))

    caller, sent = threading.get_ident(), [0]
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        sent[0] += threading.get_ident() == caller
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    out = run_rec_analysis(df, ["site"], cols, alpha=0.95, min_row_obs=3)
    flagged = out.filter("outlier_sp = 1").select("site").collect()
    monkeypatch.undo()
    assert ("s0",) in [tuple(r) for r in flagged]
    assert sent[0] <= 2000, sent[0]
