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
