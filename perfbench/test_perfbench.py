"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import pytest

from inputs import planted, recall
from tracing import (Job, Span, account_spans, attribute, call_site_layer,
                     layer_totals, ran_s, union_length)

ENGINE = "/ckout/anomalydetection_spark"
JVM_WRITE = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"


def test_call_site_maps_engine_modules_to_layers():
    assert call_site_layer(f"collect at {ENGINE}/suite.py:90") == "suite"
    assert call_site_layer(f"first at {ENGINE}/checks/uniqueness.py:97") == "checks"
    assert call_site_layer(f"first at {ENGINE}/image_udfs.py:197") == "image_udfs"
    assert call_site_layer(
        f"first at {ENGINE}/kernels/recommender.py:337") == "kernels.recommender"
    assert call_site_layer(
        f"collect at {ENGINE}/functions/similarity.py:70") == "similarity"
    assert call_site_layer(f"parquet at {ENGINE}/checkpoint.py:425") == "checkpoint"


def test_call_site_outside_the_engine_has_no_layer():
    assert call_site_layer(JVM_WRITE) is None
    assert call_site_layer("parquet at NativeMethodAccessorImpl.java:0") is None
    assert call_site_layer("collect at /ckout/perfbench/workloads.py:120") is None
    # an engine module outside the layer map (e.g. report.py) is no layer
    assert call_site_layer(f"collect at {ENGINE}/report.py:10") is None


def test_jvm_write_job_goes_to_its_enclosing_span():
    spans = [Span("suite", 100.0, 110.0), Span("checkpoint", 110.0, 112.0)]
    jobs = [
        Job(1, f"collect at {ENGINE}/suite.py:90", 101.0, 102.0),
        Job(2, JVM_WRITE, 110.5, 111.5),
        # a call site inside the engine wins over the enclosing span
        Job(3, f"first at {ENGINE}/checks/uniqueness.py:97", 111.6, 111.8),
        Job(4, JVM_WRITE, 90.0, 91.0),  # before the run: not attributed
    ]
    owner = attribute(jobs, spans)
    assert owner == {1: (0, "suite"), 2: (1, "checkpoint"), 3: (1, "checks")}


@pytest.mark.parametrize("intervals, expected", [
    ([], 0.0),
    ([(0, 1)], 1.0),
    ([(0, 1), (2, 4)], 3.0),          # disjoint
    ([(0, 3), (1, 2)], 3.0),          # nested
    ([(2, 5), (0, 3), (4, 6)], 6.0),  # overlapping chain, unsorted
    ([(0, 1), (1, 2)], 2.0),          # touching
])
def test_union_length(intervals, expected):
    assert union_length(intervals) == pytest.approx(expected)


def test_layer_walls_plus_driver_gap_account_for_the_span():
    span = Span("checkpoint", 0.0, 10.0)
    jobs = [
        Job(1, f"collect at {ENGINE}/suite.py:90", 1.0, 2.0),
        Job(2, f"first at {ENGINE}/checks/uniqueness.py:97", 2.0, 4.0),
        Job(3, JVM_WRITE, 6.0, 7.5),
        Job(4, f"collect at {ENGINE}/suite.py:174", 8.0, 8.5),
    ]
    [row] = account_spans(jobs, [span])
    assert row["layers_wall_s"] == pytest.approx(
        {"suite": 1.5, "checks": 2.0, "checkpoint": 1.5})
    assert row["driver_gap_s"] == pytest.approx(5.0)
    assert row["residual_s"] == pytest.approx(0.0)


def test_overlapping_layers_show_as_residual():
    span = Span("suite", 0.0, 10.0)
    jobs = [Job(1, f"collect at {ENGINE}/suite.py:90", 1.0, 4.0),
            Job(2, f"first at {ENGINE}/checks/drift.py:60", 3.0, 5.0)]
    [row] = account_spans(jobs, [span])
    assert row["driver_gap_s"] == pytest.approx(6.0)  # covered: [1, 5]
    assert row["residual_s"] == pytest.approx(-1.0)   # [3, 4] counted twice


@pytest.mark.parametrize("before, after, expected", [
    ((100, 0), (400, 100), 7.5),  # a quarter of the wanted CPU was stolen
    ((100, 5), (500, 5), 10.0),   # no steal in the interval
    ((100, 5), (100, 5), 10.0),   # no ticks at all
])
def test_ran_s_takes_the_steal_share_out_of_the_wall(before, after, expected):
    assert ran_s(10.0, before, after) == pytest.approx(expected)


def _stage(status="COMPLETE", tasks=4, cpu_ns=2e9, shuffle=0, spill=0,
           input_bytes=0, input_rows=0):
    return {"status": status, "numCompleteTasks": tasks,
            "executorCpuTime": cpu_ns, "shuffleWriteBytes": shuffle,
            "diskBytesSpilled": spill, "inputBytes": input_bytes,
            "inputRecords": input_rows}


def test_layer_totals_count_each_stage_once():
    spans = [Span("suite", 0.0, 4.0), Span("checkpoint", 4.0, 6.0)]
    jobs = [
        Job(1, f"collect at {ENGINE}/suite.py:90", 0.5, 1.5, [10, 11]),
        # reuses stage 11's shuffle output (skipped there)
        Job(2, f"first at {ENGINE}/checks/uniqueness.py:97", 2.0, 3.0,
            [11, 12]),
        Job(3, JVM_WRITE, 4.5, 5.0, [13]),
    ]
    stages = {
        10: _stage(input_bytes=3 << 20, input_rows=1000),
        11: _stage(shuffle=1 << 20),
        12: _stage(tasks=2, cpu_ns=1e9),
        13: _stage(status="SKIPPED"),
    }
    t = layer_totals(jobs, stages, spans)
    assert (t["suite.jobs"], t["checks.jobs"], t["checkpoint.jobs"]) == (1, 1, 1)
    assert t["suite.tasks"] == 8 and t["suite.cpu_s"] == pytest.approx(4.0)
    assert t["suite.shuffle_write_mb"] == pytest.approx(1.0)
    assert t["checks.tasks"] == 2 and t["checks.cpu_s"] == pytest.approx(1.0)
    assert t["checkpoint.tasks"] == 0
    assert t["scan.input_mb"] == pytest.approx(3.0)
    assert t["scan.input_rows"] == 1000
    assert t["suite.wall_s"] == pytest.approx(1.0)
    assert t["driver.gap_s"] == pytest.approx(6.0 - 1.0 - 1.0 - 0.5)


@pytest.fixture(scope="module")
def tiny_table():
    from anomalydetection_spark.synth import generate_pandas

    images, manifest = generate_pandas(3000, with_payload=False)
    rows = [(r.image_id, r.check) for r in manifest.itertuples()
            if planted(r.row_idx, 0, [r.check])]
    return images, rows


def _detected(images):
    """Independent pandas detection of three planted families."""
    found = set()
    dup = images[images["image_id"].duplicated(keep=False)]
    found |= {(i, "unique:image_id") for i in dup["image_id"]}
    found |= {(i, "not_null:caption")
              for i in images.loc[images["caption"].isna(), "image_id"]}
    orphan = ~images["fmt"].isin(["jpeg", "png", "webp"])
    found |= {(i, "referential:fmt") for i in images.loc[orphan, "image_id"]}
    return found


FAMILIES = ["unique:image_id", "not_null:caption", "referential:fmt"]


def test_recall_on_a_tiny_generated_table(tiny_table):
    images, manifest = tiny_table
    found = _detected(images)
    assert recall(found, manifest, FAMILIES) == 1.0
    # a missed planted row lowers recall by exactly one planted row
    planted_rows = [m for m in manifest if m[1] in FAMILIES]
    missed = found - {planted_rows[0]}
    assert recall(missed, manifest, FAMILIES) == pytest.approx(
        (len(planted_rows) - 1) / len(planted_rows))
    # families the suite does not cover stay out of the denominator
    assert any(chk == "empty:caption" for _, chk in manifest)
    assert recall(found, manifest, FAMILIES + ["nonexistent"]) == 1.0


def test_recall_needs_planted_rows(tiny_table):
    _, manifest = tiny_table
    with pytest.raises(ValueError):
        recall(set(), manifest, ["nonexistent"])


def test_duplicate_is_planted_only_when_its_source_row_is_present():
    from anomalydetection_spark import synth

    dup_rows = [i for i in range(1, 5000)
                if "unique:image_id" in synth._row(i, False)["_violations"]]
    i = dup_rows[0]
    assert planted(i, 0, ["unique:image_id"]) == ["unique:image_id"]
    # the table starts at row i: the copied row i - 1 is not in it
    assert planted(i, i, ["unique:image_id", "not_null:caption"]) == [
        "not_null:caption"]
