"""Physical-plan discipline: the properties that make the engine viable
at 10^12 rows, asserted on `.explain` output so regressions are caught.

- predicate pushdown + column pruning reach the parquet scan
- small dimensions broadcast (no shuffle of the fact side)
- the bytes column never crosses a shuffle (decode is map-only)
- K1 scoring is map-only (no shuffle below the kernel)
- skew helpers produce the two-level plan they promise
- driver-built result frames are local relations (no job, no Python RDD)
"""

import math
import re

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import StructType

from anomalydetection_spark.checks import (
    InSetCheck,
    NotNullCheck,
    PredicateCheck,
    RangeCheck,
    ReferentialCheck,
    UniquenessCheck,
)
from anomalydetection_spark.checks.base import VERDICT_SCHEMA, Check, verdict
from anomalydetection_spark.functions.skew import heavy_hitters, salted_group_count
from anomalydetection_spark.image_udfs import decode_results
from anomalydetection_spark.suite import ValidationSuite
from anomalydetection_spark.synth import generate_pandas, to_spark


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def images_path(spark, tmp_path_factory):
    pdf, _ = generate_pandas(500, with_payload=True)
    path = str(tmp_path_factory.mktemp("plans") / "images")
    to_spark(spark, pdf).write.mode("overwrite").parquet(path)
    return path


def test_violation_filter_pushes_down_to_scan(spark, images_path):
    df = spark.read.parquet(images_path)
    check = RangeCheck("w", 16, 2048, keys=["image_id"])
    plan = plan_of(check.violations(df))
    assert "PushedFilters:" in plan
    # the range predicate reaches the parquet reader (negated form may
    # normalize; the column must appear in pushed filters)
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    assert "w" in pushed
    # column pruning: ReadSchema carries only image_id + w, never bytes
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert "bytes" not in schema and "caption" not in schema

    # the suite's shared violations scan pushes the OR of every check's atoms
    suite = ValidationSuite([check, NotNullCheck("h", keys=["image_id"])])
    plan = plan_of(suite.run(df, spark).violations)
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    assert pushed.startswith("Or("), pushed
    for atom in ("IsNull(w)", "LessThan(w,16)", "GreaterThan(w,2048)", "IsNull(h)"):
        assert atom in pushed, pushed
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert "bytes" not in schema and "caption" not in schema


def test_row_local_violations_scan_once_whatever_the_check_count(spark, images_path):
    """N row-local checks cost one scan of the input for their violation
    rows, not N: suites of 3 and of 30 checks run the same number of jobs
    and plan their violations over exactly one parquet scan."""
    df = spark.read.parquet(images_path)
    sc = spark.sparkContext
    jobs = {}
    for n in (3, 30):
        suite = ValidationSuite([
            PredicateCheck(f"w_below_{i}", F.col("w") < 2048 - i, column="w",
                           keys=["image_id"])
            for i in range(n)
        ])
        group = f"row_local_{n}"
        sc.setJobGroup(group, "suite run job count")
        try:
            res = suite.run(df, spark)
        finally:
            sc.setJobGroup(None, None)
        jobs[n] = len(sc._jsc.sc().statusTracker().getJobIdsForGroup(group))
        executed = res.violations._jdf.queryExecution().executedPlan().toString()
        assert executed.count("FileScan parquet") == 1, (n, executed)
    assert jobs[3] == jobs[30], jobs


def jobs_in_group(spark, group, action):
    """Number of Spark jobs ``action()`` runs, counted per job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job count")
    try:
        action()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc._jsc.sc().statusTracker().getJobIdsForGroup(group))


def executed_plans(spark, action):
    """Physical plan of every SQL execution ``action()`` runs, read from
    the SQL status store (it records executions with the UI off)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def newest_first():  # executionsList() is ordered by execution id
        lst = store.executionsList()
        return (lst.apply(i) for i in range(lst.size() - 1, -1, -1))

    bus.waitUntilEmpty()
    last = next((e.executionId() for e in newest_first()), -1)
    action()
    bus.waitUntilEmpty()
    return [e.physicalPlanDescription() for e in newest_first()
            if e.executionId() > last][::-1]


def test_suite_jobs_never_scan_payload_bytes(spark, images_path):
    """The suite hands every stats, post-round, extra and violations job
    the input frame itself; Catalyst prunes each scan to the columns its
    query references, so the metadata image suite (drift on, decode off)
    never reads the payload ``bytes``."""
    from anomalydetection_spark.plans.image_suite import (
        build_image_suite,
        drift_baseline_histograms,
    )

    df = spark.read.parquet(images_path)
    suite = build_image_suite(
        ["jpeg", "png", "webp"], with_decode=False,
        drift_baselines=drift_baseline_histograms(df, features=["w", "h"]))
    plans = executed_plans(spark, lambda: suite.run(df, spark).violations.collect())
    # fused rollup, 2 post rounds, uniqueness, 2 drift histograms, violations
    assert len(plans) >= 7, len(plans)
    schemas = [s for p in plans for s in re.findall(r"ReadSchema: struct<([^>]*)>", p)]
    assert len(schemas) >= len(plans)
    assert not [s for s in schemas if "bytes" in s], schemas


def test_extra_jobs_take_row_totals_from_the_fused_pass(spark, images_path):
    """A DataFrame-dimension referential check adds only its anti-join's
    jobs to a suite, and uniqueness on an empty input runs no count job:
    both read the input's row total from the fused pass."""
    df = spark.read.parquet(images_path)
    dim = spark.createDataFrame([("jpeg",), ("png",)], "fmt string")
    base = [RangeCheck("w", 16, 2048), NotNullCheck("h")]
    check = ReferentialCheck("fmt", dim)
    without = jobs_in_group(spark, "ref_without",
                            lambda: ValidationSuite(base).run(df, spark, with_violations=False))
    with_ref = jobs_in_group(spark, "ref_with", lambda: ValidationSuite(
        [*base, check]).run(df, spark, with_violations=False))
    anti_join = jobs_in_group(spark, "ref_anti_join", lambda: check._orphans(df).count())
    assert with_ref - without == anti_join, (without, with_ref, anti_join)

    empty = df.filter(F.col("w") < 0)
    suite = ValidationSuite([UniquenessCheck(["image_id"])])
    plans = executed_plans(spark, lambda: suite.run(empty, spark, with_violations=False))
    # the fused pass and the exact tier's grouped count; no bare count(1)
    assert len(plans) == 2, plans
    dup = {r["metric"]: r["value"] for r in suite.run(empty, spark).verdicts.collect()}
    assert dup["duplicate_row_rate"] == 0.0 and dup["duplicate_key_count"] == 0.0


def test_empty_partitioned_input_is_scanned_once(spark, tmp_path):
    """On an empty input the fused rollup returns no row, not even the
    grand total; the global row then comes from an aggregate over
    ``limit(0)``, which Catalyst plans as an empty local relation, so
    the input is scanned once. Verdicts equal the unpartitioned
    suite's."""
    path = str(tmp_path / "empty")
    spark.createDataFrame([], "w long, fmt string").write.parquet(path)
    empty = spark.read.parquet(path)

    def verdicts(suite):
        return sorted(str(tuple(r)) for r in suite.run(empty, spark).verdicts.collect())

    suite = ValidationSuite([RangeCheck("w", 0, 10)], partition_by=["fmt"])
    plans = executed_plans(spark, lambda: suite.run(empty, spark))
    assert len([p for p in plans if "Scan parquet" in p]) == 1, plans
    assert verdicts(suite) == verdicts(ValidationSuite([RangeCheck("w", 0, 10)]))


def test_referential_uses_broadcast_join(spark, images_path):
    df = spark.read.parquet(images_path)
    dim = spark.createDataFrame([("jpeg",), ("png",), ("webp",)], "fmt string")
    check = ReferentialCheck("fmt", dim, keys=["image_id", "fmt"])
    plan = plan_of(check.violations(df))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan, "fact side must not shuffle for a tiny dim"


def test_list_dim_referential_is_pure_scan_predicate(spark, images_path):
    df = spark.read.parquet(images_path)
    check = InSetCheck("fmt", ["jpeg", "png", "webp"], keys=["image_id"])
    plan = plan_of(check.violations(df))
    assert "Join" not in plan, "constant whitelist must compile to a predicate"


def test_decode_path_is_map_only(spark, images_path):
    df = spark.read.parquet(images_path)
    plan = plan_of(decode_results(df))
    assert "Exchange" not in plan, "bytes must never cross a shuffle"
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    # narrow projection: bytes + the invariant inputs (caption, phash —
    # 8 B/row), never the unused metadata columns
    cols = {c.split(":")[0] for c in schema.split(",")}
    assert "bytes" in cols and "w" not in cols and "h" not in cols


def test_decode_runs_once_per_suite_run(spark, images_path):
    """VERDICT r02 #2: the aggregate in run_extra and the violations()
    filter must share ONE mapInPandas decode execution — the narrow
    verdict frame is persisted for the run, so the violations plan reads
    the in-memory cache instead of re-decoding every image."""
    from anomalydetection_spark.image_udfs import DecodeCheck
    from anomalydetection_spark.suite import ValidationSuite

    df = spark.read.parquet(images_path)
    suite = ValidationSuite(
        [DecodeCheck(max_violation_rate=1.0, max_caption_mismatch_rate=1.0)],
        table_name="imgs")
    res = suite.run(df, spark)
    (check,) = res.checks  # the run's own copy holds the decode cache
    try:
        # the decode-result frame was materialized (cached) by run_extra
        assert check._results is not None
        assert check._results.storageLevel.useMemory
        # violations re-read the cache — no second decode stage
        viol_plan = check.violations(df)._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in viol_plan
        assert res.violations.count() >= 0  # materializes via the cache
    finally:
        res.release()
    assert not check._results.storageLevel.useMemory  # released


def test_suite_run_leaves_the_checks_own_decode_cache(spark, images_path):
    """A run's copy of a check shares the frames the suite's own check
    holds. The run forgets them on its copy and never frees them: a
    decode cache built by a standalone call on the suite's own check
    stays persisted through a run on another slice and its release().
    (Spark keys caches by plan, so a run over the very frame the
    standalone call decoded would reuse, and release, that one cache.)"""
    from anomalydetection_spark.image_udfs import DecodeCheck

    df = spark.read.parquet(images_path)
    dec = DecodeCheck(max_violation_rate=1.0, max_caption_mismatch_rate=1.0)
    dec.run_extra(df)  # standalone: caches on the suite's own check
    own = dec._results
    try:
        res = ValidationSuite([dec], table_name="imgs").run(
            df.filter(F.col("fmt") == "png"), spark)
        (run_copy,) = res.checks
        assert run_copy._results is not own
        assert run_copy._results.storageLevel.useMemory
        res.release()
        assert dec._results is own and own.storageLevel.useMemory
    finally:
        dec.release()


def test_salted_count_matches_plain_and_has_two_levels(spark, images_path):
    df = spark.read.parquet(images_path)
    plain = {tuple(r)[:-1]: r["count"]
             for r in df.groupBy("fmt").count().collect()}
    salted = {tuple(r)[:-1]: r["count"]
              for r in salted_group_count(df, ["fmt"], n_salt=8).collect()}
    assert plain == salted
    plan = plan_of(salted_group_count(df, ["fmt"], n_salt=8))
    assert plan.count("Exchange") >= 2  # level-1 (keys+salt) and level-2 (keys)


def test_heavy_hitters_finds_hot_phash(spark, images_path):
    from anomalydetection_spark.synth import HOT_PHASH

    df = spark.read.parquet(images_path)
    hot = heavy_hitters(df, "phash", min_share=0.005, sample_fraction=1.0)
    vals = {r["phash"] for r in hot.collect()}
    assert HOT_PHASH in vals  # the planted ~1% hot key is detected

    # one pre-pass job only (VERDICT r02 #8): building the plan runs the
    # metadata-only df.count() and nothing else — no second sample scan
    sc = spark.sparkContext
    sc.setJobGroup("hh_prepass", "heavy_hitters pre-pass job count")
    try:
        heavy_hitters(df, "phash", min_share=0.005)  # plan only, no collect
    finally:
        sc.setJobGroup(None, None)
    jobs = sc._jsc.sc().statusTracker().getJobIdsForGroup("hh_prepass")
    # the metadata-only count() costs ≤2 jobs under AQE; the old second
    # pre-pass (a full sample scan + count) would add ≥2 more
    assert len(list(jobs)) <= 2, list(jobs)


def test_tfidf_with_supplied_n_docs_runs_zero_jobs_at_plan_time(spark):
    """tfidf_top_terms(n_docs=...) must not run the hidden eager
    distinct-count (the heavy_hitters total_rows escape hatch): building
    the plan with the count supplied launches ZERO jobs, so an expensive
    upstream lineage is never executed twice."""
    from anomalydetection_spark.functions.text import tfidf_top_terms

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sc = spark.sparkContext
    sc.setJobGroup("tfidf_plan", "tfidf plan-time job count")
    try:
        tfidf_top_terms(docs, k=3, n_docs=500)  # plan only, no action
    finally:
        sc.setJobGroup(None, None)
    jobs = sc._jsc.sc().statusTracker().getJobIdsForGroup("tfidf_plan")
    assert len(list(jobs)) == 0, list(jobs)


def test_near_dup_pair_stage_broadcasts_and_never_shuffles_embeddings(spark):
    from anomalydetection_spark.functions.similarity import cosine_near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = plan_of(cosine_near_dup_pairs(emb, 0.35))
    # block kernel: one map-only pass over the corpus; the O(n^2) pair
    # set lives inside the Arrow batch, never as plan rows — so the plan
    # has no join and no shuffle of embeddings at all
    assert "MapInPandas" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan


def test_ivf_probe_join_broadcasts_query_side(spark):
    import pyspark.sql.functions as F2

    from anomalydetection_spark.functions.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = emb.filter(F2.col("vec_id") < 4)
    plan = plan_of(ivf_topk(emb, centroids, lambda v: v < 8, k=3))
    assert "BroadcastExchange" in plan  # query side is broadcast by construction


def test_ivf_topk_and_cosine_pairs_plan_with_one_job(spark, tmp_path):
    """Building the ``ivf_topk`` and ``cosine_near_dup_pairs`` plans runs
    exactly one job each: the centroid collect and the rerank-side
    collect. No array-length probe runs first — under AQE that
    aggregate costs two more jobs."""
    import numpy as np
    import pyspark.sql.functions as F2

    from anomalydetection_spark.functions.similarity import (
        cosine_near_dup_pairs,
        ivf_topk,
    )

    rng = np.random.default_rng(5)
    # one file, one split: the rerank side's limit-collect then needs no
    # second job to scan further partitions
    spark.createDataFrame(
        [(i, rng.normal(size=16).astype(float).tolist()) for i in range(64)],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.parquet(str(tmp_path / "emb"))
    emb = spark.read.parquet(str(tmp_path / "emb"))
    centroids = emb.filter(F2.col("vec_id") < 4)
    builds = {
        "plan_ivf_topk": lambda: ivf_topk(emb, centroids, lambda v: v < 8, k=3),
        "plan_cosine_pairs": lambda: cosine_near_dup_pairs(emb, 0.35),
    }
    sc = spark.sparkContext
    for group, build in builds.items():
        sc.setJobGroup(group, "plan-time job count")
        try:
            build()  # plan only, no action
        finally:
            sc.setJobGroup(None, None)
        jobs = list(sc._jsc.sc().statusTracker().getJobIdsForGroup(group))
        assert len(jobs) == 1, (group, jobs)


def test_ivf_assignment_is_map_side_no_exchange(spark):
    """Centroid assignment must not shuffle the n×C pair set: scoring and
    the top-1/top-p pick are a projection over the corpus scan (centroids
    inlined as a literal), so the whole plan is Exchange-free."""
    import pyspark.sql.functions as F2

    from anomalydetection_spark.functions.similarity import (
        ivf_assign,
        ivf_probe_buckets,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = emb.filter(F2.col("vec_id") < 4)
    for df in (ivf_assign(emb, centroids), ivf_probe_buckets(emb, centroids, 2)):
        plan = plan_of(df)
        assert "Exchange" not in plan
        assert "Window" not in plan


def test_centroid_and_pq_kernel_plans_are_map_only_and_c_independent(spark):
    """Plan guard for the centroid / PQ scorers: a MapInPandas pass —
    no Exchange, no Window — whose C·dim centroid (m·K·d codebook)
    floats ride the kernel closure, not the plan. The plan string must
    not grow with C: built at C=4 and C=64 over the same input it is
    identical once expression ids (and the lambda-variable counters
    Spark numbers per session) are masked."""
    import re

    import pyspark.sql.functions as F2

    from anomalydetection_spark.functions.similarity import (
        ivf_assign,
        pq_encode,
    )

    def masked(df):
        return re.sub(r"(?:_\d+)?#\d+", "#", plan_of(df))

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plans = {}
    for c in (4, 64):
        centroids = emb.filter(F2.col("vec_id") < c)
        plans[c] = (masked(ivf_assign(emb, centroids)),
                    masked(pq_encode(emb, m=8, n_codes=c)))
    for plan in plans[4]:
        assert "MapInPandas" in plan
        assert "Exchange" not in plan and "Window" not in plan
    assert plans[64] == plans[4]


def test_ivf_layout_probe_scan_prunes_partitions_and_matches_unpruned(spark, tmp_path):
    """VERDICT r03 #2: over a write_ivf_layout-materialized corpus the
    IVF probe filter must be REAL partition pruning — the scan's
    PartitionFilters carries the bucket predicate (only n_probe of the
    n_buckets directories are listed/read), the pruned scan never reads
    the float embedding column, and the results are identical to the
    unpruned ivf_pq_topk on the same corpus and params."""
    from anomalydetection_spark.functions.similarity import (
        _query_vector,
        ivf_pq_topk,
        ivf_pq_topk_pruned,
        pq_codebooks,
        write_ivf_layout,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding")
    codebooks = pq_codebooks(emb, m=8, n_codes=8)
    path = str(tmp_path / "ivf_layout")
    write_ivf_layout(emb, centroids, path, m=8, n_codes=8, codebooks=codebooks)

    q = _query_vector(emb, 10)
    pruned = ivf_pq_topk_pruned(spark, path, centroids, codebooks, q,
                                k=10, n_probe=2)
    plan = plan_of(pruned)
    seg = plan[plan.index("PartitionFilters"):]
    seg = seg[:seg.index("\n")]
    assert "bucket" in seg and ("IN" in seg or "in" in seg), seg
    # codes-only serving scan: the float vectors never leave storage
    rs = plan[plan.index("ReadSchema"):]
    rs = rs[:rs.index("\n")]
    assert "codes" in rs and "embedding" not in rs, rs

    base = ivf_pq_topk(emb, query_id=10, k=10, n_buckets=8, n_probe=2)
    assert [tuple(r) for r in pruned.collect()] == \
           [tuple(r) for r in base.collect()]


def test_routed_partition_scan_prunes_partitions(spark):
    """S2 routed scan: the event_type routing predicate must reach the
    scan as a PartitionFilter (only the routed directories are read)."""
    import __spark_entry__ as E

    df = E.q_routed_partition_scan(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    seg = plan[plan.index("PartitionFilters"):]
    seg = seg[:seg.index("\n")]
    assert "click" in seg and "purchase" in seg


def test_packed_series_kernel_spreads_python_stage(spark):
    """The K2 packed-series frame is byte-small, so AQE's size-based
    coalescing would collapse it to one task and serialize the CPU-bound
    scoring UDF. The kernel must carry an explicit (AQE-exempt)
    round-robin repartition between the pack and the Python stage."""
    from anomalydetection_spark.kernels.timeseries import run_time_series

    df = spark.range(2000).select(
        (F.col("id") % 100).alias("sid"),
        (F.col("id") / 100).cast("int").alias("period"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    out = run_time_series(df, ["sid"], "period", "value",
                          season=4, min_recent=8)
    plan = plan_of(out)
    pos_rr = plan.find("RoundRobinPartitioning")
    pos_py = plan.find("MapInPandas")
    assert pos_rr != -1, plan
    assert pos_py != -1, plan
    # explicit knob is honored too
    out4 = run_time_series(df, ["sid"], "period", "value",
                           season=4, min_recent=8, num_partitions=4)
    assert "RoundRobinPartitioning(4" in plan_of(out4)


def test_repetition_signals_plan_two_level_aggs_no_cross_product(spark):
    """repetition_signals' scale contract: line and n-gram metrics are
    keyed aggregations with map-side partial combine (the tfidf shuffle
    shape) and the doc-level joins never degenerate into a cross
    product — at 10^12 docs a NestedLoop/Cartesian here is fatal."""
    from anomalydetection_spark.functions.text import repetition_signals

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(repetition_signals(docs))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # two-level aggregation: partial_count before the exchange for both
    # the (id, line) and (id, n, gram) groupings
    assert plan.count("partial_count") >= 2


class _ConstVerdicts(Check):
    """Emits fixed verdicts: a NaN value and a NULL value."""

    name = "const"

    def verdicts(self, stats):
        return [verdict("nan_value", "c", "m", float("nan")),
                verdict("null_value", "c", "m", None)]


def _job_ids(sc) -> set[int]:
    return set(sc.statusTracker().getJobIdsForGroup())


def test_verdicts_are_a_local_relation_collected_without_a_job(spark, images_path):
    """The verdicts frame holds rows the driver built: it must plan as a
    LocalRelation (not a Python-RDD LogicalRDD), and collecting it — or
    asking ``passed`` — must start no Spark job."""
    df = spark.read.parquet(images_path)
    suite = ValidationSuite(
        [RangeCheck("w", 16, 2048, keys=["image_id"]), _ConstVerdicts()],
        table_name="images",
    )
    res = suite.run(df, spark, with_violations=False)
    optimized = res.verdicts._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in optimized and "LogicalRDD" not in optimized, optimized

    sc = spark.sparkContext
    before = _job_ids(sc)
    rows = res.verdicts.collect()
    assert not res.passed  # the NULL verdict fails
    assert _job_ids(sc) == before
    # control: the tracker does see jobs started on this thread
    spark.range(3).count()
    assert _job_ids(sc) != before

    # NaN and NULL stay apart through the driver-to-JVM transfer
    by_check = {r["check"]: r for r in rows}
    assert math.isnan(by_check["nan_value"]["value"])
    assert by_check["null_value"]["value"] is None
    assert len(by_check) > 2  # the range check's verdicts are there too


def test_empty_verdict_list_yields_empty_frame_with_verdict_schema(spark, images_path):
    res = ValidationSuite([]).run(spark.read.parquet(images_path), spark,
                                  with_violations=False)
    assert res.verdicts.schema == StructType.fromDDL(VERDICT_SCHEMA)
    assert res.verdicts.collect() == []
    assert res.passed


def test_rec_scoring_is_a_map_kernel_with_no_shuffle_below(spark):
    """K1 scores each row from the driver-fitted mu and R alone: the
    scored plan is one MapInPandas, not a grouped map, and no Exchange
    feeds it (the final sort's Exchange sits above the scored cache)."""
    import numpy as np
    import pandas as pd

    from anomalydetection_spark.kernels import recommender

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(rng.normal(0, 1, (64, 3)), columns=["a", "b", "c"])
    pdf.loc[::5, "b"] = np.nan
    pdf.insert(0, "k", range(64))
    out = recommender.run_rec_analysis(spark.createDataFrame(pdf), ["k"],
                                       ["a", "b", "c"], min_row_obs=2)
    try:
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
        assert "FlatMapGroupsInPandas" not in plan
        assert "Exchange" not in plan[plan.index("MapInPandas"):]
    finally:
        recommender.release_rec_analysis()
