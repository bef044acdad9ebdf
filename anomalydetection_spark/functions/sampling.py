"""Deterministic corpus splitting/sampling for training pipelines.

Engine ADDITION beyond the reference — the train/val/test assignment and
reproducible-downsampling step every training-data pipeline needs at the
front of the corpus DAG.

Why hash-bucket assignment and not ``df.sample``/``rand()``:

* **Stable under growth** — a document's bucket depends only on its id,
  so re-running the split on a grown corpus keeps every existing row's
  assignment (no train/val leakage when the pipeline is incremental);
* **Engine/cluster independent** — md5 is identical everywhere; `rand()`
  depends on partition layout and seed plumbing, so N and 4N executors
  would disagree;
* **Map-only** — the assignment is a scan-side projection; at 10^12 rows
  nothing shuffles and the split column is computable during ingest.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from anomalydetection_spark.session import local_frame

#: bucket space; 10^6 gives ppm-granular fractions while keeping the
#: boundary arithmetic exact in int64
_BUCKETS = 1_000_000


def split_bucket(id_col: str = "doc_id", salt: str = "split") -> Column:
    """Deterministic bucket in [0, 10^6): first 15 md5 hex digits of
    ``salt || '_' || id`` as int64, mod 10^6. 15 digits (60 bits) keep
    ``conv`` exact; the same value is reproducible in any engine with
    md5 (DuckDB: positional hex fold — see the gate oracle)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}_"), F.col(id_col).cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("bigint")
    return F.pmod(h, F.lit(_BUCKETS))


def deterministic_split(df: DataFrame, splits: dict[str, float],
                        id_col: str = "doc_id",
                        salt: str = "split") -> DataFrame:
    """Append a ``split`` column assigning each row to one of ``splits``
    (name → fraction, summing to ~1; the LAST split absorbs rounding
    remainder so the assignment is total). Fractions are honored to
    1/10^6. Map-only and idempotent: same (id, salt) → same split,
    forever, on any engine or cluster size. NULL ids hash to a NULL
    bucket and land in the LAST split (the CASE remainder) — malformed
    rows belong to no fraction; flag them upstream with NotNullCheck."""
    fracs = list(splits.values())
    if min(fracs) < 0 or not 0.999 <= sum(fracs) <= 1.001:
        raise ValueError(f"split fractions must be >=0 and sum to ~1: {splits}")
    for name, frac in list(splits.items())[:-1]:
        if frac > 0 and int(round(frac * _BUCKETS)) == 0:
            raise ValueError(
                f"split {name!r} fraction {frac} is below the 1/{_BUCKETS} "
                f"bucket granularity — it would be silently empty")
    b = split_bucket(id_col, salt)
    expr = None
    acc = 0.0
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name]
        bound = int(round(acc * _BUCKETS))
        cond = b < F.lit(bound)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    return df.withColumn(
        "split", last if expr is None else expr.otherwise(last)
    )


def deterministic_sample(df: DataFrame, fraction: float,
                         id_col: str = "doc_id",
                         salt: str = "sample") -> DataFrame:
    """Reproducible ``fraction`` downsample by the same hash-bucket rule:
    keeps exactly the rows whose bucket < fraction·10^6. Unlike
    ``df.sample`` the kept set is a pure function of (id, salt) — stable
    across runs, engines, partitionings, and corpus growth, and the
    predicate is scan-side (map-only). NULL ids are never kept (NULL
    compares unknown) — mirror of deterministic_split's remainder rule."""
    if not 0 < fraction <= 1:
        raise ValueError("fraction must be in (0, 1]")
    bound = int(round(fraction * _BUCKETS))
    return df.filter(split_bucket(id_col, salt) < F.lit(bound))


def packed_shards(df: DataFrame, budget: int,
                  weight_col: str = "n_chars", id_col: str = "doc_id",
                  partitions: int | None = None) -> DataFrame:
    """(id, weight, cum_before, shard): assign documents, in id order,
    to contiguous fixed-budget shards — the sequence-packing / shard-
    assignment step of training-data prep (fill each output shard with
    ~``budget`` units of text, deterministically, preserving order).
    ``shard = cum_before // budget`` where ``cum_before`` is the global
    exclusive prefix sum of ``weight_col``.

    Why not the one-line window form: ``SUM(w) OVER (ORDER BY id)`` has
    no PARTITION BY, so Spark's WindowExec ships the ENTIRE corpus into
    ONE task — the classic global-window scale-killer. This is the
    two-pass distributed prefix sum instead:

    1. range BOUNDARIES of the id domain from one approx-quantile pass,
       collected and baked into the plan as LITERALS; ``pid`` = count of
       boundaries below the row's id — a pure function of (id, literals),
       so every execution of any derived plan assigns the same pid
       (repartitionByRange + spark_partition_id would NOT give that:
       RangePartitioner re-samples per execution, so the offsets could
       be keyed to a different pid→range mapping than the rows they
       join back to unless the frame were pinned in cache forever);
    2. per-pid totals: one map-side-combined agg, ≤ #partitions rows,
       cumulated into per-pid EXCLUSIVE offsets on the driver (bounded
       collect, same tier as centroid sets), broadcast back as literal
       data;
    3. within-pid running sum via a window PARTITIONED BY pid
       (parallel — one shuffle clusters each contiguous id range);
       global cum_before = offset + running_sum − weight.

    Every arithmetic step is int64-exact (weights cast to bigint; the
    shard cut is integer division, never double FLOOR — exact past
    2^53 where a double quotient silently rounds). Boundary skew only
    affects load balance, never values. The input is scanned twice
    (quantiles+totals, then the window pass) — persist upstream if the
    lineage is expensive; correctness never depends on caching. NULL
    ids are dropped (an ordered packing is undefined for them — NotNull
    Check owns flagging); NULL weights count 0. Ids must be UNIQUE:
    they define the packing order, and duplicate ids would make every
    duplicate's prefix sum tie-order-dependent (UniquenessCheck owns
    enforcing that upstream)."""
    if budget <= 0:
        raise ValueError(f"budget must be positive: {budget}")
    if partitions is not None and partitions <= 0:
        raise ValueError(f"partitions must be positive: {partitions}")
    spark = df.sparkSession
    n = partitions if partitions is not None else \
        spark.sparkContext.defaultParallelism
    base = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        F.coalesce(F.col(weight_col).cast("bigint"), F.lit(0))
        .alias("weight"),
    )
    if n > 1:
        probs = [i / n for i in range(1, n)]
        bounds_row = base.agg(
            F.percentile_approx(id_col, probs, 10_000).alias("b")).first()
        bounds = sorted(set(bounds_row["b"] or []))
    else:
        bounds = []
    if bounds:
        # pid = #boundaries strictly below id — monotone in id, so pid
        # ranges are contiguous; a literal-array HOF, O(n) comparisons
        # per row (n = target parallelism, hundreds at most)
        barr = F.array(*[F.lit(b) for b in bounds])
        pid = F.size(F.filter(barr, lambda b: b < F.col(id_col)))
    else:
        pid = F.lit(0)
    base = base.withColumn("pid", pid.cast("int"))
    totals = base.groupBy("pid").agg(F.sum("weight").alias("t")).collect()
    acc = 0
    offsets = []
    for r in sorted(totals, key=lambda r: r["pid"]):
        offsets.append((r["pid"], acc))
        acc += r["t"]
    offsets_df = local_frame(spark, offsets, "pid int, off bigint")
    from pyspark.sql import Window

    w_in = Window.partitionBy("pid").orderBy(id_col)
    running = F.sum("weight").over(w_in)
    return (
        base.join(F.broadcast(offsets_df), "pid")
        .withColumn(
            "cum_before",
            (F.col("off") + running - F.col("weight")).cast("bigint"),
        )
        .withColumn(
            "shard",
            F.expr(f"CAST(cum_before DIV {int(budget)} AS BIGINT)"),
        )
        .select(id_col, "weight", "cum_before", "shard")
    )


def stratified_sample_exact(df: DataFrame, k: int, strata_cols: list[str],
                            id_col: str = "doc_id",
                            salt: str = "strat") -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, chosen by md5-hash
    order — the exact-allocation eval-set / per-class-balanced sampler
    (deterministic_sample keeps a FRACTION and is growth-stable; this
    keeps an exact COUNT per group and trades growth-stability away: a
    new row with a smaller hash evicts the current k-th. Pick by which
    contract the downstream consumer needs).

    Selection hash = md5(salt || '_' || id): uniform, engine-identical
    (hex-string ordering), independent of any data column — so the
    sample is unbiased w.r.t. every attribute. Ties (md5 collisions —
    practically never) break by id so the cut is total either way.

    Plan shape at scale: one shuffle on the strata key; the rank<=k
    filter is pushed INTO the window as a group-limit (Spark's
    WindowGroupLimit rewrite inserts per-partition top-k heaps BEFORE
    the exchange, so a hot stratum ships ~k rows per map task, not its
    whole membership — plan-guarded in tests/test_plans.py). NULL ids
    are never sampled (their hash is NULL, which sorts but cannot be
    audited for uniformity); NULL strata values form their own stratum,
    as GROUP BY would."""
    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    if not strata_cols:
        # Window.partitionBy() with no columns is the global single-task
        # window — refuse instead of silently de-parallelizing
        raise ValueError("strata_cols must be non-empty (for a global "
                         "top-k use orderBy+limit, which Spark executes "
                         "as per-partition heaps)")
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(f"{salt}_"), F.col(id_col).cast("string")))
    w = Window.partitionBy(*strata_cols).orderBy(
        h.asc(), F.col(id_col).asc())
    return (
        df.filter(F.col(id_col).isNotNull())
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )
