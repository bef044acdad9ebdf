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
