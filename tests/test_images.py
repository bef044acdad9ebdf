"""Image-payload path: codec roundtrips, synth determinism + planted
violations, decode UDF invariants, and the flagship image suite
end-to-end against the generator's ground-truth manifest."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from anomalydetection_spark.functions.png import (
    decode_image,
    decode_png,
    encode_lossy,
    encode_png,
    psnr,
)
from anomalydetection_spark.image_udfs import DecodeCheck, decode_results
from anomalydetection_spark.plans.image_suite import run_image_validation
from anomalydetection_spark.synth import (
    fmt_dimension,
    generate_distributed,
    generate_pandas,
    pattern_pixels,
    phash_of,
)

N = 1200


@pytest.fixture(scope="module")
def images_pd():
    return generate_pandas(N, with_payload=True)


@pytest.fixture(scope="module")
def images_df(spark, images_pd):
    from anomalydetection_spark.synth import to_spark

    pdf, _ = images_pd
    return to_spark(spark, pdf).cache()


def test_png_roundtrip_and_filters():
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (21, 33, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(px)), px)


def test_lossy_psnr_above_threshold():
    px = pattern_pixels(64, 48, 3)
    for fmt in ("jpeg", "webp"):
        rec = decode_image(encode_lossy(px, fmt), fmt)
        assert psnr(px, rec) >= 40.0


def test_synth_deterministic():
    a, ma = generate_pandas(300)
    b, mb = generate_pandas(300)
    assert a.drop(columns=["bytes"]).equals(b.drop(columns=["bytes"]))
    assert all(x == y for x, y in zip(a["bytes"], b["bytes"]))
    assert ma.equals(mb)


def test_synth_plants_all_violation_kinds():
    _, man = generate_pandas(20_000, with_payload=False)
    kinds = set(man["check"])
    assert {"unique:image_id", "referential:fmt", "not_null:caption", "decode:bytes"} <= kinds


def test_phash_locality():
    a = pattern_pixels(64, 64, 10)
    assert phash_of(a) == phash_of(a)
    b = pattern_pixels(64, 64, 163)  # far-apart phase → different image
    assert phash_of(a) != phash_of(b)


def test_decode_results_invariants(spark, images_pd, images_df):
    pdf, man = images_pd
    res = decode_results(images_df).toPandas().set_index("image_id")
    planted_bad = set(man[man["check"] == "decode:bytes"]["image_id"])
    flagged = set(res[~res["decode_ok"]].index)
    assert flagged == planted_bad
    good = res[res["decode_ok"]]
    # lossless rows decode exactly; lossy rows ≥ 40 dB
    assert bool(good["pixels_match"].all())
    lossy = good[good["fmt"].isin(["jpeg", "webp"])]
    assert float(lossy["psnr_db"].min()) >= 40.0


def test_phash_consistency_invariant(spark, images_pd, images_df):
    """Stored-phash consistency: the hash recomputed from decoded pixels
    must match the phash column (exactly for lossless, ≤6/64 bits through
    the lossy quantizer). The planted hot-key rows — whose stored phash
    was overwritten with the skew constant — are exactly the mismatches;
    dup-id rows copy content AND phash from their source row, so they
    stay consistent."""
    from anomalydetection_spark.synth import HOT_PHASH

    pdf, man = images_pd
    res = decode_results(images_df).toPandas()
    corrupt = set(man[man["check"] == "decode:bytes"]["image_id"])
    expected = set(
        pdf[(pdf["phash"] == HOT_PHASH) & ~pdf["image_id"].isin(corrupt)]
        ["image_id"])
    flagged = set(res[res["phash_ok"] == False]["image_id"])  # noqa: E712
    assert flagged == expected and len(expected) > 0
    # consistent rows: lossless exact, lossy within the measured envelope
    ok = res[res["phash_ok"] == True]  # noqa: E712
    assert int(ok[ok["fmt"] == "png"]["phash_hamming"].max()) == 0
    assert int(ok["phash_hamming"].max()) <= 6
    # opt-in verdict: tolerance at the hot-row rate passes, 0 bites
    chk = DecodeCheck(max_phash_mismatch_rate=0.05)
    v = {r["metric"]: r for r in chk.run_extra(images_df)}
    assert v["phash_mismatch_rate"]["passed"]
    n_checked = int(res["phash_ok"].notna().sum())
    assert v["phash_mismatch_rate"]["value"] == len(
        res[res["phash_ok"] == False]) / n_checked  # noqa: E712
    # a phash-less table must FAIL the gate (nothing was compared), not
    # vacuously pass
    nocol = DecodeCheck(max_phash_mismatch_rate=0.0)
    nv = {r["metric"]: r for r in nocol.run_extra(
        images_df.drop("phash"))}
    assert nv["phash_mismatch_rate"]["value"] is None
    assert not nv["phash_mismatch_rate"]["passed"]
    nocol.release()
    chk.release()
    strict = DecodeCheck(max_phash_mismatch_rate=0.0)
    sv = {r["metric"]: r for r in strict.run_extra(images_df)}
    assert not sv["phash_mismatch_rate"]["passed"]
    bad = strict.violations(images_df).toPandas()
    assert expected <= set(bad["image_id"])
    strict.release()


def test_phash_exact_through_arrow_with_nulls(spark, images_pd):
    """A nullable phash column must not cost exactness: Arrow→pandas
    promotes nullable int64 to float64, whose 2^53 exact range cannot
    hold 2^63-magnitude hashes — the kernel therefore receives phash as
    a string. Planting one NULL per batch, every non-null lossless row
    must still verify at hamming distance exactly 0."""
    from anomalydetection_spark.synth import to_spark

    pdf, _ = images_pd
    png = pdf[(pdf["fmt"] == "png")].head(50).copy()
    assert len(png) >= 20
    # object dtype FIRST: assigning None into an int64 column would
    # promote it to float64 and round the fixture itself
    png["phash"] = png["phash"].astype("object")
    png.loc[png.index[::7], "phash"] = None   # NULLs sprinkled through
    df = to_spark(spark, png)
    from anomalydetection_spark.synth import HOT_PHASH

    res = decode_results(df).toPandas()
    checked = res[res["phash_hamming"].notna()]
    assert len(checked) == len(png) - len(png.index[::7])
    hot_ids = set(png[png["phash"] == HOT_PHASH]["image_id"])
    clean = checked[~checked["image_id"].isin(hot_ids)]
    assert int(clean["phash_hamming"].max()) == 0  # exact through Arrow
    assert bool(clean["phash_ok"].all())
    hot = checked[checked["image_id"].isin(hot_ids)]
    assert bool((hot["phash_hamming"] > 0).all())  # plants still caught


def test_image_suite_end_to_end(spark, images_pd, images_df):
    pdf, man = images_pd
    res = run_image_validation(spark, images_df, fmt_dimension(spark))
    schema_rows = res.verdicts.filter("check = 'schema'").collect()
    assert len(schema_rows) == 14  # present + type_match per column
    assert all(r["passed"] for r in schema_rows)  # every column present+typed
    # and the gate actually bites: break the type, expect a failure
    bad = run_image_validation(
        spark, images_df.withColumn("w", F.col("w").cast("long")), with_decode=False
    )
    assert bad.verdicts.filter("check = 'schema' and passed = false").count() == 1
    # planted dup ids must be caught exactly
    viol = res.violations.toPandas()
    dup_ids = set(man[man["check"] == "unique:image_id"]["image_id"])
    got_dups = set(viol[viol["_check"] == "unique:image_id"]["image_id"])
    assert dup_ids <= got_dups
    # planted fmt orphans caught
    orphan_ids = set(man[man["check"] == "referential:fmt"]["image_id"])
    got_orphans = set(viol[viol["_check"] == "referential:fmt"]["image_id"])
    assert orphan_ids == got_orphans
    # planted nulls caught
    null_ids = set(man[man["check"] == "not_null:caption"]["image_id"])
    got_nulls = set(viol[viol["_check"] == "not_null:caption"]["image_id"])
    assert null_ids == got_nulls
    # decode violations caught (corrupt payloads)
    bad_ids = set(man[man["check"] == "decode:bytes"]["image_id"])
    got_bad = set(viol[viol["_check"] == "decode:bytes"]["image_id"])
    assert bad_ids <= got_bad


def test_distributed_generator_matches_pandas(spark):
    ddf = generate_distributed(spark, 200, with_payload=False, partitions=4)
    d = ddf.orderBy("image_id").toPandas()
    p, _ = generate_pandas(200, with_payload=False)
    p = p.sort_values("image_id").reset_index(drop=True)
    assert list(d["image_id"]) == list(p["image_id"])
    assert list(d["w"]) == list(p["w"])
    assert list(d["fmt"]) == list(p["fmt"])
    assert list(d["phash"]) == list(p["phash"])


def test_repartition_invariance(spark, images_df):
    """Distributed-correctness property the R reference never needed:
    verdicts identical under any repartitioning (SURVEY.md §5.2)."""
    a = run_image_validation(spark, images_df, with_decode=False)
    b = run_image_validation(spark, images_df.repartition(13), with_decode=False)
    pa = a.verdicts.orderBy("check", "column", "metric", "partition").toPandas()
    pb = b.verdicts.orderBy("check", "column", "metric", "partition").toPandas()
    num = pa["value"].astype(float).fillna(-1).to_numpy()
    numb = pb["value"].astype(float).fillna(-1).to_numpy()
    assert np.allclose(num, numb, rtol=1e-9, atol=1e-12)
    assert list(pa["passed"]) == list(pb["passed"])


def test_image_features_match_direct_numpy(spark):
    from anomalydetection_spark.functions.image_ops import _features_of, image_features
    from anomalydetection_spark.functions.png import decode_image
    from anomalydetection_spark.synth import generate_pandas, to_spark

    pdf, _ = generate_pandas(40, with_payload=True)
    df = to_spark(spark, pdf)
    rows = image_features(df).collect()
    assert len(rows) == 40  # synth plants dup image_ids — count rows, not keys
    got = {r["image_id"]: r for r in rows}
    checked = 0
    dup_ids = set(pdf["image_id"][pdf["image_id"].duplicated(keep=False)])
    for _, row in pdf.iterrows():
        if row["image_id"] in dup_ids:
            continue  # planted dup ids carry different payloads per row
        r = got[row["image_id"]]
        if not r["decode_ok"]:
            continue  # synth plants corrupt payloads on purpose
        exp = _features_of(decode_image(bytes(row["bytes"]), row["fmt"]))
        for k, v in exp.items():
            assert abs(r[k] - v) < 1e-9, (row["image_id"], k)
        checked += 1
    assert checked >= 30


def test_resize_images_nearest_neighbor_roundtrip(spark):
    from anomalydetection_spark.functions.image_ops import nn_resize, resize_images
    from anomalydetection_spark.functions.png import decode_image, decode_png
    from anomalydetection_spark.synth import generate_pandas, to_spark

    pdf, _ = generate_pandas(20, with_payload=True)
    df = to_spark(spark, pdf)
    out = {r["image_id"]: r for r in resize_images(df, 16, 12).collect()}
    assert out, "some rows must survive"
    for r in out.values():
        assert (r["w"], r["h"], r["fmt"]) == (16, 12, "png")
        px = decode_png(bytes(r["bytes"]))
        assert px.shape == (12, 16, 3)
    # exact nearest-neighbor semantics vs a driver-side resample
    row = pdf[pdf["image_id"].isin(list(out))].iloc[0]
    ref = nn_resize(decode_image(bytes(row["bytes"]), row["fmt"]), 16, 12)
    got = decode_png(bytes(out[row["image_id"]]["bytes"]))
    assert (ref == got).all()


def test_caption_equality_invariant(spark):
    from anomalydetection_spark.image_udfs import decode_results
    from anomalydetection_spark.synth import generate_pandas, reference_caption, to_spark

    pdf, man = generate_pandas(400, with_payload=True)
    # re-derivation matches generation for every clean row
    planted = set(man["image_id"])
    for _, row in pdf.iterrows():
        if row["image_id"] not in planted and row["caption"] is not None:
            idx = int(row["image_id"].split("_")[-1])
            assert row["caption"] == reference_caption(idx)

    res = decode_results(to_spark(spark, pdf)).toPandas()
    bad = set(res[~res["caption_match"]]["image_id"])
    null_or_empty = set(
        man[man["check"].isin(["not_null:caption", "empty:caption"])]["image_id"]
    )
    dup_ids = set(man[man["check"] == "unique:image_id"]["image_id"])
    # every planted caption violation fails equality; dup-id rows carry a
    # caption drawn for a different identity so they fail too
    assert null_or_empty <= bad
    assert bad <= null_or_empty | dup_ids


def test_multifeature_drift_with_byte_length(spark):
    """North-star drift set: w/h/byte-length histograms. Baselines from a
    reference snapshot; a snapshot with inflated payloads must flag
    byte_length drift while w/h stay clean — and the byte-length
    histogram must run map-only over the raw scan (bytes never cached)."""
    import pyspark.sql.functions as F2

    from anomalydetection_spark.plans.image_suite import (
        build_image_suite,
        drift_baseline_histograms,
    )
    from anomalydetection_spark.synth import generate_pandas, to_spark

    pdf, _ = generate_pandas(400, with_payload=True)
    base_df = to_spark(spark, pdf).cache()
    baselines = drift_baseline_histograms(base_df)
    assert set(baselines) == {"w", "h", "byte_length"}

    # same metadata, payloads padded 3x -> only byte_length drifts
    shifted = base_df.withColumn(
        "bytes", F2.concat("bytes", "bytes", "bytes")
    )
    suite = build_image_suite(["jpeg", "png", "webp"], with_decode=False,
                              drift_baselines=baselines)
    res = suite.run(shifted, spark)
    v = res.verdicts.filter("check like 'drift:%'").toPandas()
    bl = v[(v["check"] == "drift:byte_length") & (v["metric"] == "psi")]
    assert len(bl) and not bl["passed"].all()
    w = v[(v["check"] == "drift:w") & (v["metric"].isin(["psi", "ks"]))]
    assert len(w) and w["passed"].all()

    # self-comparison is clean for every feature
    res_same = build_image_suite(["jpeg", "png", "webp"], with_decode=False,
                                 drift_baselines=baselines).run(base_df, spark)
    vs = res_same.verdicts.filter("check like 'drift:%'").toPandas()
    flagged = vs[(~vs["passed"]) & vs["metric"].isin(["psi", "ks"])]
    assert flagged.empty


@pytest.mark.parametrize("with_decode", [False, True])
@pytest.mark.parametrize("dim", ["list", "frame"])
def test_suite_violations_equal_union_of_per_check_frames(spark, images_df,
                                                          with_decode, dim):
    """The suite's one shared projection yields the rows, columns, column
    order and types of the union of each check's own ``violations(df)``
    frame, which is the reference."""
    from functools import reduce

    from anomalydetection_spark.plans.image_suite import build_image_suite

    fmt_dim = ["jpeg", "png", "webp"] if dim == "list" else fmt_dimension(spark)
    suite = build_image_suite(fmt_dim, with_decode=with_decode)
    res = suite.run(images_df, spark)
    try:
        ref = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [v for c in suite.checks if (v := c.violations(images_df)) is not None])
        assert res.violations.schema == ref.schema
        got = sorted(map(repr, res.violations.collect()))
        assert got and got == sorted(map(repr, ref.collect()))
    finally:
        res.release()
