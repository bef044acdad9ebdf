"""SparkSession factory tuned for the validation engine.

Defaults assume local[N] testing but every setting is the one we would
ship on a 1000-executor cluster: AQE on (runtime re-plan + skew-join
splitting), Arrow on (all pandas-UDF traffic is Arrow batches), UTC
session timezone (bit-stable vs external oracles), and shuffle
partitions sized to the parallelism at hand rather than the 200 default.

``local_frame`` is the one way engine code turns rows the driver already
holds (verdicts, lineage, offsets, parsed XLSX cells) into a DataFrame.
"""

from __future__ import annotations

import os
from typing import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "anomalydetection-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback all
    cores).  On a real cluster the caller passes master via spark-submit and
    this function leaves it untouched.

    The driver heap is one value: ``extra_conf["spark.driver.memory"]`` if
    given, else ``$SPARK_DRIVER_MEM`` (default 12g). It sets both
    ``spark.driver.memory`` (-Xmx) and -Xms; an -Xms above -Xmx would stop
    the JVM at launch.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[6:-1]
            shuffle_partitions = os.cpu_count() if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200

    driver_mem = (extra_conf or {}).get("spark.driver.memory") or os.environ.get(
        "SPARK_DRIVER_MEM", "12g"
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # binary image payloads: keep scan partitions bounded so a batch of
        # bytes columns fits comfortably in executor memory at any SF
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", driver_mem)
        # Fixed, pre-touched heap. Lazily-faulted guest memory (micro-VM /
        # overcommitted hosts) makes first-touch page faults exit to the
        # hypervisor: a growing heap then burns 40-75% SYSTEM time and
        # run-to-run variance is 5-10x (measured here: 4M-row suite
        # 20-106s without pre-touch, 5-7s with). Paying the fault cost
        # once at JVM startup is also standard practice for executor JVMs
        # on real clusters.
        # 512m code cache: the default 240m fills after ~60 warmed
        # codegen-heavy plans in one JVM (wide fused aggs, 64-term bit
        # sums); once full the JIT stops compiling and every LATER query
        # runs partially interpreted — measured here as a uniform
        # 15-50% bench inflation that vanished in isolated runs.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch "
            "-XX:ReservedCodeCacheSize=512m "
            + os.environ.get("SPARK_DRIVER_JAVA_OPTS", ""),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: str | StructType
) -> DataFrame:
    """Driver-held rows -> a DataFrame planned as a ``LocalRelation``.

    ``schema`` is a DDL string or a ``StructType``. The rows go to the JVM
    as one Arrow table typed by the schema, so writing or collecting the
    frame needs no Python worker, and ``collect()`` runs no Spark job. A
    list passed to ``createDataFrame`` instead becomes a Python RDD that
    starts Python-worker tasks on every action. The pandas path is avoided
    too: its null mask reads a float NaN as NULL, while ``pa.array`` keeps
    ``float("nan")`` and ``None`` apart."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows, strict=True)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type)
         for c, f in zip(columns, arrow_schema, strict=True)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
