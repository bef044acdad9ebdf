"""Image decode/validation — Arrow-batched, never per-row Python.

The per-row invariant (BASELINE.json:15): decoded pixels must match the
reference decode — exactly for lossless formats, PSNR ≥ 40 dB for lossy —
and captions must equal the source strings.  The reference's analog is
its per-record scoring loop; ours is a ``mapInPandas`` iterator UDF so
(a) payload bytes cross the JVM↔Python boundary as Arrow record batches,
(b) codec state is initialized once per task, not per row, and
(c) the UDF's output is a narrow verdict frame — the binary column never
travels further than the task that decoded it (critical at 10^12 rows:
shuffling image bytes is the #1 scale killer, so all decode checks are
shuffle-free map-only stages).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from anomalydetection_spark.checks.base import Check, VIOLATION_KEY_COL, verdict
from anomalydetection_spark.functions.png import decode_image, psnr
from anomalydetection_spark.synth import pattern_pixels

DECODE_RESULT_SCHEMA = (
    "image_id string, fmt string, decode_ok boolean, width int, height int, "
    "psnr_db double, pixels_match boolean, caption_match boolean, "
    "phash_hamming int, phash_ok boolean"
)

PSNR_MIN_LOSSY = 40.0
LOSSLESS_FMTS = {"png"}
# stored-phash consistency: the recomputed perceptual hash of the decoded
# pixels must equal the table's phash column bit-for-bit on lossless
# payloads; the lossy quantizer flips mean-threshold bits that sit near
# the mean — measured ≤3 of 64 bits over the codec's step, enforced at 2×
PHASH_MAX_HAMMING_LOSSY = 6


def _reference_pixels(image_id: str, w: int, h: int) -> np.ndarray | None:
    """Re-derive the procedural reference image from the row identity
    (stands in for 'fetch the reference decode' in production)."""
    try:
        idx = int(image_id.split("_")[-1])
    except ValueError:
        return None
    return pattern_pixels(w, h, idx)


def decode_validate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (image_id, bytes, fmt, caption) → decode +
    caption-equality verdicts (both per-row invariants from
    BASELINE.json input_hint, one Arrow pass)."""
    from anomalydetection_spark.synth import phash_of, reference_caption

    for pdf in batches:
        out = {k: [] for k in
               ("image_id", "fmt", "decode_ok", "width", "height", "psnr_db",
                "pixels_match", "caption_match", "phash_hamming", "phash_ok")}
        captions = pdf["caption"] if "caption" in pdf.columns else [None] * len(pdf)
        # phash arrives as a STRING column (see decode_results): a
        # nullable int64 batch would be promoted to float64 by Arrow→
        # pandas, and phash magnitudes (~2^63) exceed float64's exact
        # range — int() would round and flag consistent rows
        phashes = pdf["phash"] if "phash" in pdf.columns else [None] * len(pdf)
        for image_id, data, fmt, caption, stored_ph in zip(
            pdf["image_id"], pdf["bytes"], pdf["fmt"], captions, phashes
        ):
            ok, w = True, None
            h = None
            p_db = None
            match = None
            ph_dist = None
            ph_ok = None
            try:
                px = decode_image(bytes(data), fmt)
                h, w = int(px.shape[0]), int(px.shape[1])
                if stored_ph is not None and not pd.isna(stored_ph):
                    ph_dist = int(bin(
                        (phash_of(px) ^ int(stored_ph)) & ((1 << 64) - 1)
                    ).count("1"))
                    ph_ok = ph_dist == 0 if fmt in LOSSLESS_FMTS \
                        else ph_dist <= PHASH_MAX_HAMMING_LOSSY
                ref = _reference_pixels(image_id, w, h)
                if ref is not None and ref.shape == px.shape:
                    p_db = psnr(ref, px)
                    if fmt in LOSSLESS_FMTS:
                        match = bool(np.array_equal(ref, px))
                    else:
                        match = bool(p_db >= PSNR_MIN_LOSSY)
                    if np.isinf(p_db):
                        p_db = 999.0
                else:
                    match = False
            except Exception:
                ok = False
                match = False
            try:
                idx = int(image_id.split("_")[-1])
                cap_ok = caption == reference_caption(idx)
            except (ValueError, AttributeError):
                cap_ok = False
            out["image_id"].append(image_id)
            out["fmt"].append(fmt)
            out["decode_ok"].append(ok)
            out["width"].append(w)
            out["height"].append(h)
            out["psnr_db"].append(p_db)
            out["pixels_match"].append(match)
            out["caption_match"].append(bool(cap_ok))
            out["phash_hamming"].append(ph_dist)
            out["phash_ok"].append(ph_ok)
        yield pd.DataFrame(out)


def decode_results(images: DataFrame) -> DataFrame:
    """Narrow → decode → verdict frame. Map-only: no shuffle of bytes."""
    cols = [F.col("image_id"), F.col("bytes"), F.col("fmt")]
    if "caption" in images.columns:
        cols.append(F.col("caption"))
    if "phash" in images.columns:
        # string-cast: exact for any int64 and null-safe through Arrow
        # (a nullable long column would reach pandas as float64 and
        # round 2^63-magnitude hashes)
        cols.append(F.col("phash").cast("string").alias("phash"))
    return images.select(*cols).mapInPandas(
        decode_validate, DECODE_RESULT_SCHEMA
    )


class DecodeCheck(Check):
    """Decodability + pixel-invariant check over the bytes column. Its
    jobs are map-only over the input scan: bytes never cross a shuffle."""

    def __init__(self, max_violation_rate: float = 0.0,
                 max_caption_mismatch_rate: float = 0.01,
                 max_phash_mismatch_rate: float | None = None):
        self.max_violation_rate = max_violation_rate
        # planted null/empty captions and dup-id rows legitimately fail
        # caption equality; default tolerance covers the synth plant rates
        self.max_caption_mismatch_rate = max_caption_mismatch_rate
        # stored-phash consistency (phash column vs the hash recomputed
        # from decoded pixels) is opt-in: None computes the per-row
        # columns but emits no verdict. Hot-key rows whose phash was
        # overwritten upstream genuinely mismatch, so real tables set a
        # tolerance at their known hot-row rate.
        self.max_phash_mismatch_rate = max_phash_mismatch_rate
        self.name = "decode:bytes"
        self._results: DataFrame | None = None

    def reset(self) -> None:
        # forget, never unpersist: a run's copy shares the frame with the
        # check it was copied from
        self._results = None

    def release(self) -> None:
        if self._results is not None:
            self._results.unpersist(blocking=False)

    def _res(self, df: DataFrame) -> DataFrame:
        """ONE decode pass per run: the narrow verdict frame (~50 B/row —
        never the bytes) is persisted so the aggregate in ``run_extra``
        AND the ``violations()`` filter share a single ``mapInPandas``
        decode execution. Decode is the engine's most expensive per-row
        stage (~20k rows/s vs ~600k for metadata); without the persist,
        materializing violations re-decoded every image (VERDICT r02
        What's-wrong #2). MEMORY_AND_DISK: at 10^12 rows the verdict
        frame spills instead of evicting — still ≪ a second decode.
        Freed by ``release()`` (``SuiteResult.release``, once
        violations are consumed)."""
        if self._results is None:
            res = decode_results(df)
            if self.cache_intermediates:
                from pyspark import StorageLevel

                res = res.persist(StorageLevel.MEMORY_AND_DISK)
            self._results = res
        return self._results

    def run_extra(self, df: DataFrame, stats: dict | None = None) -> list[dict]:
        agg = self._res(df).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~F.col("decode_ok")).cast("long")).alias("bad_decode"),
            F.sum((~F.coalesce(F.col("pixels_match"), F.lit(False))).cast("long")).alias("bad_pixels"),
            F.sum((~F.col("caption_match")).cast("long")).alias("bad_captions"),
            F.sum((F.col("phash_ok") == F.lit(False)).cast("long")).alias("bad_phash"),
            F.sum(F.col("phash_ok").isNotNull().cast("long")).alias("n_phash"),
            F.min("psnr_db").alias("min_psnr"),
        ).first()
        n = agg["n"] or 1
        extra = []
        if self.max_phash_mismatch_rate is not None:
            # rate over rows actually COMPARED (decoded + stored phash
            # present); zero compared rows -> value None -> verdict fails
            # rather than vacuously passing on a phash-less table
            checked = agg["n_phash"] or 0
            extra.append(verdict(
                self.name, "phash", "phash_mismatch_rate",
                (agg["bad_phash"] or 0) / checked if checked else None,
                None, self.max_phash_mismatch_rate))
        return extra + [
            verdict(self.name, "bytes", "decode_failure_rate",
                    (agg["bad_decode"] or 0) / n, None, self.max_violation_rate),
            verdict(self.name, "bytes", "pixel_mismatch_rate",
                    (agg["bad_pixels"] or 0) / n, None, self.max_violation_rate),
            verdict(self.name, "caption", "caption_mismatch_rate",
                    (agg["bad_captions"] or 0) / n, None, self.max_caption_mismatch_rate),
            verdict(self.name, "bytes", "min_psnr_db",
                    agg["min_psnr"], PSNR_MIN_LOSSY, None),
        ]

    def violations(self, df: DataFrame) -> DataFrame | None:
        pred = (
            ~F.col("decode_ok")
            | ~F.coalesce(F.col("pixels_match"), F.lit(False))
            | ~F.col("caption_match")
        )
        if self.max_phash_mismatch_rate is not None:
            pred = pred | (F.col("phash_ok") == F.lit(False))
        return (
            self._res(df)
            .filter(pred)
            .select("image_id", "fmt", "psnr_db", "phash_hamming")
            .withColumn(VIOLATION_KEY_COL, F.lit(self.name))
        )
