"""Deterministic synthetic image/caption table (SURVEY.md §7 step 0).

Produces the engine's authoritative input shape (BASELINE.json
``input_hint``): ``(image_id string, bytes binary, w int, h int,
fmt string, caption string, phash long)`` with planted violations and a
ground-truth manifest, mirroring FIXTURES.md §1:

  * ~0.1%  duplicated image_ids           → uniqueness violations
  * ~0.1%  fmt='bmp' (not in dimension)   → referential violations
  * ~0.2%  null + ~0.1% empty captions    → null-rate violations
  * ~0.05% corrupted payloads             → decode violations
  * ~1%    heavy-hitter phash             → skew + duplicate-phash
  * one "partition" (bucket 7) gets w,h shifted +3σ → drift violations

Two generation paths, same per-row math (keyed on row index + seed):

  * ``generate_pandas(n)`` — driver-side with REAL payloads (PNG /
    quantized-lossy stand-ins) for decode/PSNR tests.
  * ``generate_distributed(spark, n)`` — ``spark.range(n).mapInPandas``;
    each executor generates its own partition (no driver bottleneck, no
    shuffle), scaling to hundreds of millions of rows for throughput and
    scaling benches.  Payloads optional (they dominate cost).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from anomalydetection_spark.functions.png import encode_lossy, encode_png
from anomalydetection_spark.session import local_frame

SEED = 42
FMTS = ("jpeg", "png", "webp")          # skewed: jpeg ~80%
FMT_CUM = (0.80, 0.90, 1.00)
HOT_PHASH = 0x5A5A5A5A5A5A5A5A
N_BUCKETS = 16
DRIFT_BUCKET = 7

CAPTION_WORDS = (
    "a the of on photo image picture closeup view scene cat dog tree car "
    "mountain river city street person building sky ocean sunset forest "
    "bridge flower bird window table light shadow red blue green"
).split()


def _rng(i: int) -> np.random.Generator:
    return np.random.default_rng(SEED * 1_000_003 + i)


def pattern_pixels(w: int, h: int, i: int) -> np.ndarray:
    """Deterministic procedural image: gradient + sinusoid + a seeded
    4×4 coarse block layer (so phash is content-diverse, not degenerate).
    This is the 'reference decode' — validation re-derives it from
    image_id to verify decoded pixels (PSNR invariant)."""
    yy, xx = np.mgrid[0:h, 0:w]
    g_blocks = np.random.default_rng(SEED * 7_777_777 + i).integers(
        0, 256, (4, 4), dtype=np.uint8
    )
    blocks = g_blocks[(yy * 4) // max(h, 1), (xx * 4) // max(w, 1)]
    r = (((xx * 255) // max(w - 1, 1) + blocks) % 256).astype(np.uint8)
    g = (((yy * 255) // max(h - 1, 1)) ^ blocks).astype(np.uint8)
    b = ((128 + 127 * np.sin((xx + yy + i % 251) / 11.0))).astype(np.uint8)
    return np.dstack([r, g, b])


def phash_of(pixels: np.ndarray) -> int:
    """8×8 mean-threshold perceptual hash → signed int64. Grayscale is
    taken at the 64 sample points only — bit-identical to graying the
    full image first (channel mean is pointwise), O(64) not O(w·h)."""
    h, w, _ = pixels.shape
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(8) * w) // 8
    small = pixels[np.ix_(ys, xs)].mean(axis=2)
    bits = (small > small.mean()).flatten()
    v = int.from_bytes(np.packbits(bits).tobytes(), "big")
    return v - (1 << 64) if v >= (1 << 63) else v


def _identity_draws(g: np.random.Generator, i: int):
    """The deterministic per-row draws shared by generation AND the
    caption-equality invariant (reference_caption): one RNG consumption
    order, so re-derivation can never drift from generation."""
    u = g.random()
    fmt = FMTS[int(np.searchsorted(FMT_CUM, u, side="left"))]
    bucket = i % N_BUCKETS
    mu_w = 5.8 if bucket != DRIFT_BUCKET else 6.4      # planted drift
    w = int(np.clip(np.exp(g.normal(mu_w, 0.35)), 16, 2048))
    aspect = g.choice([1.0, 4 / 3, 3 / 4, 16 / 9])
    h = int(np.clip(w / aspect, 16, 2048))
    cap_len = max(2, int(g.normal(8, 3)))
    caption = " ".join(g.choice(CAPTION_WORDS, size=cap_len))
    return fmt, w, h, caption


def reference_caption(i: int) -> str:
    """Re-derive row ``i``'s source-of-truth caption (stands in for 'join
    the upstream caption table' in production — the per-row caption-
    equality invariant from BASELINE.json input_hint)."""
    return _identity_draws(_rng(i), i)[3]


def _row(i: int, with_payload: bool) -> dict:
    g = _rng(i)
    fmt, w, h, caption = _identity_draws(g, i)
    image_id = f"img_{i:010d}"
    violations: list[str] = []

    r = g.random()
    pattern_idx = i
    if r < 0.001:
        pattern_idx = max(0, i - 1)                     # duplicate id:
        image_id = f"img_{pattern_idx:010d}"            # content matches the
        violations.append("unique:image_id")            # claimed id
    if 0.001 <= r < 0.002:
        fmt = "bmp"                                     # referential orphan
        violations.append("referential:fmt")
    if 0.002 <= r < 0.004:
        caption = None                                  # null caption
        violations.append("not_null:caption")
    elif 0.004 <= r < 0.005:
        caption = ""
        violations.append("empty:caption")
    hot = g.random() < 0.01

    bytes_ = None
    corrupt = 0.005 <= r < 0.0055
    if with_payload:
        # small payload dims (payload cost ∝ pixels; metadata w/h stay
        # full-range so the stats checks see the real distribution)
        pw, ph = max(16, w // 32), max(16, h // 32)
        px = pattern_pixels(pw, ph, pattern_idx)
        if fmt == "png" or fmt == "bmp":
            bytes_ = encode_png(px)
        else:
            bytes_ = encode_lossy(px, fmt)
        if corrupt:
            bytes_ = b"\x00CORRUPT" + bytes_[8:]
            violations.append("decode:bytes")
        ph64 = phash_of(px)
    else:
        if corrupt:
            violations.append("decode:bytes")
        ph64 = int(g.integers(-(1 << 62), 1 << 62))
    if hot:
        ph64 = HOT_PHASH                                # skewed hot key
    return {
        "image_id": image_id,
        "bytes": bytes_,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption,
        "phash": ph64,
        "_violations": violations,
    }


def generate_pandas(n: int, with_payload: bool = True) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(images, manifest) — manifest rows: (image_id, row_idx, check)."""
    rows, manifest = [], []
    for i in range(n):
        r = _row(i, with_payload)
        viols = r.pop("_violations")
        rows.append(r)
        for v in viols:
            manifest.append({"image_id": r["image_id"], "row_idx": i, "check": v})
    images = pd.DataFrame(rows)
    man = pd.DataFrame(manifest, columns=["image_id", "row_idx", "check"])
    return images, man


IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


def to_spark(spark, pdf: pd.DataFrame):
    """pandas → Spark with the canonical input schema (pandas int64 would
    otherwise infer bigint for w/h and trip the schema gate)."""
    return spark.createDataFrame(pdf, schema=IMAGES_SCHEMA)


def generate_distributed(spark, n: int, with_payload: bool = False,
                         partitions: int | None = None):
    """Executor-side generation via mapInPandas over spark.range —
    embarrassingly parallel, deterministic in row id, no shuffle."""
    base = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["id"]:
                r = _row(int(i), with_payload)
                r.pop("_violations")
                out.append(r)
            yield pd.DataFrame(out)

    return base.mapInPandas(gen, IMAGES_SCHEMA)


def fmt_dimension(spark):
    return local_frame(
        spark, [("jpeg", True), ("png", False), ("webp", True)],
        "fmt string, lossy boolean",
    )
