"""Seeded benchmark inputs, generated once and cached as parquet.

The seed picks one of ``WINDOWS`` disjoint row-id windows; every input is a
pure function of its window, kind and size, so the cache key is
(kind, window, size). Image tables come from the engine's own ``synth``
generator; the planted-violation manifest is derived on the executors in
the same pass and cached beside the table. The program under test only
ever reads the parquet.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Callable, Iterable, Iterator

import pandas as pd

WINDOWS = 4
WINDOW_STRIDE = 10_000_000
# drift baselines come from a disjoint id range inside the same window
BASELINE_OFFSET = WINDOW_STRIDE // 2
GEN_PARTITIONS = 8

IMAGE_COLUMNS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
DUP = "unique:image_id"

# model-kernel inputs: indicator columns, planted-anomaly strides
# 4 indicators: the fused screen aggregation plans ~50 expressions where 8
# plan ~190, which doubled the kernel's warm wall
K1_COLS = [f"i{j}" for j in range(4)]
K1_PLANT_EVERY = 199
K2_PLANT_EVERY = 101
K2_PERIODS = 24
ANN_DIM = 256
ANN_CENTROIDS = 4096


def window_base(seed: int) -> int:
    """First row id of the seed's window."""
    return (seed % WINDOWS + 1) * WINDOW_STRIDE


def planted(i: int, lo: int, violations: Iterable[str]) -> list[str]:
    """The violations planted in row ``i`` that a correct engine can see
    in a table whose ids start at ``lo``. A duplicated id copies row
    ``i - 1``'s id, so it is a duplicate only when that row is in the
    table and kept its own id."""
    from anomalydetection_spark import synth

    out = list(violations)
    if DUP in out and (i - 1 < lo
                       or DUP in synth._row(i - 1, False)["_violations"]):
        out.remove(DUP)
    return out


def recall(found: set[tuple[str, str]], manifest: Iterable[tuple[str, str]],
           families: Iterable[str]) -> float:
    """Share of planted (image_id, check) pairs in ``families`` that the
    engine reported in ``found``."""
    fam = set(families)
    rows = [(iid, chk) for iid, chk in manifest if chk in fam]
    if not rows:
        raise ValueError(f"no planted rows in families {sorted(fam)}")
    return sum((iid, chk) in found for iid, chk in rows) / len(rows)


def cached(root: str, key: str, build: Callable[[str], None]) -> float:
    """Build ``root/key`` once; return the seconds spent (0 on a hit)."""
    path = os.path.join(root, key)
    if os.path.exists(os.path.join(path, "_DONE")):
        return 0.0
    t0 = time.perf_counter()
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return time.perf_counter() - t0


def _image_rows(lo: int, with_payload: bool):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from anomalydetection_spark import synth

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                r = synth._row(int(i), with_payload)
                r["_planted"] = planted(int(i), lo, r.pop("_violations"))
                rows.append(r)
            yield pd.DataFrame(rows, columns=IMAGE_COLUMNS + ["_planted"])
    return gen


def build_images(spark, lo: int, n: int, with_payload: bool) -> Callable[[str], None]:
    """Builder for ``<dir>/images`` (the engine's input shape) and
    ``<dir>/manifest`` (image_id, check) over ids [lo, lo + n)."""
    from pyspark import StorageLevel
    import pyspark.sql.functions as F
    from anomalydetection_spark.synth import IMAGES_SCHEMA

    def build(path: str) -> None:
        gen = (
            spark.range(lo, lo + n, 1, GEN_PARTITIONS)
            .mapInPandas(_image_rows(lo, with_payload),
                         IMAGES_SCHEMA + ", _planted array<string>")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            gen.select(*IMAGE_COLUMNS).write.parquet(f"{path}/images")
            (gen.select("image_id", F.explode("_planted").alias("check"))
             .coalesce(1).write.parquet(f"{path}/manifest"))
        finally:
            gen.unpersist()
    return build


def build_kernel_inputs(spark, base: int, k1_rows: int, k2_series: int,
                        ann_vectors: int) -> Callable[[str], None]:
    """Builder for the model-kernel inputs, all pure expressions of the id:

    * ``k1``: ``site`` + ``len(K1_COLS)`` correlated indicators, at most one NULL per row;
      every ``K1_PLANT_EVERY``-th site is a gross outlier.
    * ``k2``: ``K2_PERIODS`` seasonal periods per series; every
      ``K2_PLANT_EVERY``-th series spikes in its last period.
    * ``emb`` / ``centroids``: dim-256 vectors; C=4096 centroids."""
    import pyspark.sql.functions as F

    def build(path: str) -> None:
        sid = F.col("id")
        latent = F.sin(sid * 0.37)
        plant = (sid % K1_PLANT_EVERY) == 0
        k1_cols = []
        for j, c in enumerate(K1_COLS):
            v = (latent * (3.0 + j) + F.sin(sid * (j + 2) * 1.7 + j) * 2.0
                 + F.when(plant, F.lit(25.0 * (-1) ** j)).otherwise(0.0))
            null = F.pmod(sid * 7 + j * 13, F.lit(17)) == 0
            k1_cols.append(F.when(null, None).otherwise(v).alias(c))
        spark.range(base, base + k1_rows, 1, GEN_PARTITIONS) \
            .select(sid.alias("site"), *k1_cols) \
            .write.parquet(f"{path}/k1")

        cell = F.col("id")
        series = base + cell % k2_series
        period = (cell / k2_series).cast("int")
        value = (50.0 + F.sin(series * 0.7 + period * 1.5707963) * 10.0
                 + F.pmod(series * 31 + period * 17, F.lit(7)).cast("double")
                 + F.when((series % K2_PLANT_EVERY == 0)
                          & (period == K2_PERIODS - 1), 200.0).otherwise(0.0))
        spark.range(0, k2_series * K2_PERIODS, 1, GEN_PARTITIONS) \
            .select(series.alias("sid"), period.alias("period"),
                    value.alias("value")) \
            .write.parquet(f"{path}/k2")

        def vectors(ids, scale):
            return F.transform(
                F.sequence(F.lit(0), F.lit(ANN_DIM - 1)),
                lambda p: F.sin((ids * 131 + p.cast("long")).cast("double")
                                * scale))
        spark.range(base, base + ann_vectors, 1, GEN_PARTITIONS) \
            .select(F.col("id").alias("vec_id"),
                    vectors(F.col("id"), 0.618).alias("embedding")) \
            .write.parquet(f"{path}/emb")
        spark.range(0, ANN_CENTROIDS, 1, GEN_PARTITIONS) \
            .select(F.col("id").alias("vec_id"),
                    vectors(F.col("id") + base, 0.377).alias("embedding")) \
            .write.parquet(f"{path}/centroids")
    return build
