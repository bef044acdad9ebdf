"""The flagship plan: full validation suite for the image/caption table.

This is the engine's production entry — the complete re-expression of the
reference's per-record scoring pipeline (SURVEY.md table in the header)
over the authoritative input shape ``(image_id, bytes, w, h, fmt,
caption, phash)``:

  schema gate → single-pass column stats → row constraints → uniqueness
  (image_id, phash) → referential (fmt) → robust-z / Mahalanobis on the
  metadata feature vector → drift vs baseline histograms → decode/PSNR.

Job count is O(#check-families), not O(#checks): stats-class checks share
ONE fused aggregation; the bytes column is touched only by the map-only
decode stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anomalydetection_spark.checks import (
    ColumnStatsCheck,
    DriftCheck,
    InSetCheck,
    MahalanobisCheck,
    NotNullCheck,
    RangeCheck,
    ReferentialCheck,
    RlikeCheck,
    RobustZScoreCheck,
    SchemaCheck,
    UniquenessCheck,
)
from anomalydetection_spark.suite import SuiteResult, ValidationSuite

EXPECTED_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)

KEYS = ["image_id"]


def image_schema_check() -> SchemaCheck:
    """Programmatic schema gate (replaces the reference's required-column
    shinyalerts, /root/reference/PRIME_App/server.R:1040-1081): one
    SchemaCheck over the authoritative column/type spec — zero scans."""
    return SchemaCheck(
        {f.name: f.dataType.simpleString() for f in EXPECTED_SCHEMA.fields}
    )


# North-star drift feature set: w / h / byte-length histograms. The
# byte-length feature histograms length(bytes) map-only over the scan:
# payload bytes never cross a shuffle, only (group, bin) count partials
# move.
DRIFT_FEATURES: dict[str, dict] = {
    "w": dict(lo=16, hi=2048, nbins=64),
    "h": dict(lo=16, hi=2048, nbins=64),
    "byte_length": dict(
        lo=0, hi=65536, nbins=64,
        # thunk: building a Column needs an active session (classic backend)
        expr=lambda: F.length("bytes"),
    ),
}


def drift_baseline_histograms(
    images: DataFrame,
    features: list[str] = ("w", "h", "byte_length"),
    group_cols: list[str] = ("fmt",),
) -> dict[str, dict[tuple, list[int]]]:
    """Baseline histograms from a reference snapshot, one entry per drift
    feature, keyed by group tuple — feed to ``build_image_suite``'s
    ``drift_baselines``. One histogram job per feature (each a map-side
    partial count; at most #groups × nbins rows shuffle)."""
    from anomalydetection_spark.checks.drift import histogram

    out: dict[str, dict[tuple, list[int]]] = {}
    for feat in features:
        cfg = DRIFT_FEATURES[feat]
        target = cfg["expr"]() if "expr" in cfg else feat
        rows = histogram(
            images, target, cfg["lo"], cfg["hi"], cfg["nbins"], list(group_cols)
        ).collect()
        by_group: dict[tuple, list[int]] = {}
        for r in rows:
            key = tuple(r[g] for g in group_cols)
            by_group.setdefault(key, [0] * cfg["nbins"])[r["bin"]] = r["n"]
        out[feat] = by_group
    return out


def build_image_suite(
    fmt_dim: DataFrame | list,
    with_decode: bool = True,
    partition_by: list[str] = ("fmt",),
    drift_baselines: dict[str, dict] | None = None,
    max_phash_mismatch_rate: float | None = None,
) -> ValidationSuite:
    checks = [
        image_schema_check(),
        ColumnStatsCheck("w", constraints={"null_rate": (None, 0.0), "min": (16.0, None), "max": (None, 8192.0)}),
        ColumnStatsCheck("h", constraints={"null_rate": (None, 0.0), "min": (16.0, None), "max": (None, 8192.0)}),
        ColumnStatsCheck("phash", constraints={"null_rate": (None, 0.0)}),
        NotNullCheck("image_id", keys=KEYS),
        NotNullCheck("caption", max_null_rate=0.001, keys=KEYS),
        RlikeCheck("image_id", r"^img_\d+$", must_match=True, keys=KEYS),
        InSetCheck("fmt", ["jpeg", "png", "webp"], max_violation_rate=0.0005, keys=KEYS),
        RangeCheck("w", 16, 8192, keys=KEYS),
        RangeCheck("h", 16, 8192, keys=KEYS),
        UniquenessCheck(["image_id"], max_duplicate_rate=0.0005),
        UniquenessCheck(["phash"], max_duplicate_rate=0.05, hll_only=True),
        ReferentialCheck("fmt", fmt_dim, "fmt", max_violation_rate=0.0005, keys=KEYS + ["fmt"]),
        RobustZScoreCheck("w", threshold=6.0, max_violation_rate=0.01, keys=KEYS),
        MahalanobisCheck(["w", "h"], alpha=0.999, max_violation_rate=0.01, keys=KEYS),
    ]
    for feat, base in (drift_baselines or {}).items():
        cfg = DRIFT_FEATURES[feat]
        checks.append(
            DriftCheck(
                feat, lo=cfg["lo"], hi=cfg["hi"], nbins=cfg["nbins"],
                baseline=base, group_cols=["fmt"],
                max_psi=0.2, max_ks=0.15,
                expr=cfg["expr"]() if "expr" in cfg else None,
            )
        )
    if with_decode:
        from anomalydetection_spark.image_udfs import DecodeCheck

        checks.append(DecodeCheck(
            max_violation_rate=0.001,
            max_phash_mismatch_rate=max_phash_mismatch_rate))
    return ValidationSuite(checks, table_name="images", partition_by=list(partition_by))


def run_image_validation(
    spark: SparkSession,
    images: DataFrame,
    fmt_dim: DataFrame | list | None = None,
    with_decode: bool = True,
    drift_baselines: dict[str, dict] | None = None,
    with_violations: bool = True,
) -> SuiteResult:
    if fmt_dim is None:
        fmt_dim = ["jpeg", "png", "webp"]
    suite = build_image_suite(fmt_dim, with_decode,
                              drift_baselines=drift_baselines)
    return suite.run(images, spark, with_violations=with_violations)
