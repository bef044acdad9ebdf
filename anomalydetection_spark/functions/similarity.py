"""Embedding similarity search: brute-force cosine and IVF-bucketed ANN.

Engine ADDITION beyond the reference (which has no embedding/ANN path) —
part of the training-data-pipeline operator set from the build brief.

The corpus-scale problem: top-k neighbors over an ``array<float>`` column.
Brute force is a cross join — O(n·q) dot products; fine for rerank sets,
fatal at 10^12 rows. The scale path here is **IVF (inverted file)**:
assign every vector to its nearest of C coarse centroids (one map-only
pass with the C-row centroid matrix broadcast in the kernel closure — no
shuffle of the corpus), then answer a query only within its centroid's
bucket (equi-join on ``bucket``), cutting the candidate set ~C× per
probe. Recall/cost trades by probing the p nearest buckets instead of 1.

Three cross-engine-reproducible dot-product forms are used, chosen by
plan shape:

* **order-deterministic float fold** (``_fold_dot``): a sequential
  ``F.aggregate(zip_with(...))`` over co-located arrays — bit-identical
  to DuckDB's ``list_dot_product`` (same order, same IEEE arithmetic),
  zero shuffle, used for pairwise scoring inside the JVM;
* **index-order numpy accumulation** in Arrow-batched ``mapInPandas``
  kernels: one vectorized pass per element position, the same IEEE
  sequence as the fold — used for centroid scoring
  (``nearest_centroids``), PQ encoding (``pq_encode``) and the block
  cosine audit path, where one side is a small collected matrix;
* **order-insensitive exact-decimal sums** over ``posexplode`` elements
  (``_dot``): used when values must survive a grouped aggregation whose
  partial-merge order Spark does not fix (e.g. SRP projections).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _flat(df: DataFrame, id_alias: str, vec_alias: str,
          extra: dict[str, str] | None = None) -> DataFrame:
    """(id, pos, v) flattened embedding elements as exact doubles."""
    cols = [F.col("vec_id").alias(id_alias)]
    for src, dst in (extra or {}).items():
        cols.append(F.col(src).alias(dst))
    return df.select(*cols, F.posexplode("embedding").alias("pos", vec_alias))


def _dot(df: DataFrame, group_cols: list[str], a: str, b: str, alias: str) -> DataFrame:
    """Exact (order-insensitive) decimal-sum dot product."""
    return df.groupBy(*group_cols).agg(
        F.sum((F.col(a).cast("double") * F.col(b).cast("double")).cast("decimal(28,12)"))
        .cast("double").alias(alias)
    )


def _collect_centroids(centroids: DataFrame) -> list:
    """[(cid, [float, ...], nb2)] sorted by cid — ONE tiny collect. Norms
    are driver-side sequential folds (``_seq_dot``), bit-identical to the
    JVM ``F.aggregate`` fold that computes the corpus-side norms
    (cumsum == sequential fold == DuckDB list_dot_product)."""
    rows = centroids.select("vec_id", "embedding").collect()
    out = []
    for r in sorted(rows, key=lambda r: r["vec_id"]):
        if r["embedding"] is None:
            raise ValueError(
                f"centroid vec_id={r['vec_id']} has a NULL embedding")
        e = [float(x) for x in r["embedding"]]
        nb2 = _seq_dot(e, e)
        if nb2 == 0.0:
            # cosine to a zero vector is undefined for every scored row —
            # fail loudly and early instead of emitting NaN assignments
            raise ValueError(
                f"centroid vec_id={r['vec_id']} has zero norm — cosine "
                "scoring is undefined; drop or re-seed it")
        out.append((r["vec_id"], e, nb2))
    if not out:
        # an empty centroid frame is always a caller bug (the kernel would
        # crash on an empty (0,) centroid matrix) — fail like the
        # zero-norm case: loudly, before any job runs
        raise ValueError("centroids is empty — nothing to score against")
    return out


def _round8_spark_repr(x: float) -> float:
    """Spark's ROUND(double, 8): BigDecimal.valueOf(d) wraps
    Double.toString — the SHORTEST decimal repr — then setScale(8,
    HALF_UP). Python's repr() is the same shortest round-trip decimal,
    so Decimal(repr(x)).quantize(1e-8, HALF_UP) reproduces Spark's
    rounding bit-for-bit (including the repr-tie cases where the exact
    binary value would round the other way)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-8"), ROUND_HALF_UP))


def nearest_centroids(v: DataFrame, centroids: DataFrame, nprobe: int = 1,
                      dot_mode: str = "exact") -> DataFrame:
    """Map-side centroid assignment: returns ``v``'s columns plus
    (``__cid`` long, ``__cos`` double) for each of the row's ``nprobe``
    best centroids (cosine DESC, cid ASC; one output row per probe).
    ``v`` must carry ``ea`` (vector) and ``na2`` (norm², JVM-folded).

    Plan shape: one Arrow-batched ``mapInPandas`` over the corpus. The
    C×dim centroid matrix rides the serialized kernel closure (one copy
    per executor — broadcast semantics), so the plan does not grow with
    C: no Exchange, no n×C row explosion, and production IVF sizes
    (C=4096, dim=768) score the same way as the oracle gates.

    Oracle parity (DuckDB ``ROUND(list_dot_product(..) / SQRT(..), 8)``
    then ``ORDER BY cos DESC, cid ASC``): dots accumulate in array-INDEX
    order (one vectorized pass per element position == the sequential
    JVM fold == DuckDB list_dot_product); ranking runs on RAW doubles
    first — rounding is monotone, so order can only differ inside a
    ±1e-8 boundary — and only candidates within 2e-8 of the rank-nprobe
    raw score are exact-rounded (``_round8_spark_repr``) and re-ranked
    by (cos DESC, cid ASC), reproducing the round-then-sort total order
    including tie-breaks.

    ``dot_mode="gemm"`` is the production-throughput variant: one BLAS
    matmul per chunk instead of dim element-order passes (10.1× the
    exact mode on the ann_assign scaling cell at local[32]; the element-
    order accumulation is memory-bandwidth-bound — it materializes an
    n×C temporary per element). BLAS sums in a different (pairwise/
    blocked) order, so raw cosines may differ from the fold by ~1
    ulp·dim; ranking still runs raw-then-exact-rounded inside the same
    ±2e-8 band, so assignments can diverge from the exact mode only when
    two centroids' true cosines are within ~1e-15 of each other AND
    straddle a repr-tie — assert-identical on every test fixture.
    Default stays "exact": it is the oracle-parity mode; opt into "gemm"
    for bulk assignment at scale.

    Rows with a NULL or zero-norm vector are filtered (cosine is
    undefined for them; NotNullCheck / vector-quality checks own
    flagging). NULL or zero-norm CENTROIDS raise at collect
    time, as does an empty centroid frame. Vectors carrying NaN elements
    pass the filter (NaN > 0 in Spark's ordering), rank every centroid
    LAST with cid-ASC ties, and surface their undefined cosine as NULL."""
    import numpy as np
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    if dot_mode not in ("exact", "gemm"):
        raise ValueError(f"dot_mode must be 'exact' or 'gemm', got {dot_mode!r}")
    v = v.filter(F.col("ea").isNotNull() & (F.col("na2") > 0))
    crows = _collect_centroids(centroids)
    cids = np.array([c[0] for c in crows], dtype=np.int64)  # cid-ascending
    Cm = np.array([c[1] for c in crows], dtype=np.float64)
    nb2 = np.array([c[2] for c in crows], dtype=np.float64)
    p_eff = min(nprobe, len(crows))
    out_schema = StructType(
        list(v.schema.fields)
        + [StructField("__cid", LongType()), StructField("__cos", DoubleType())]
    )

    # cap the chunk's score-matrix footprint at ~2^22 doubles (~32 MB):
    # an Arrow batch of 10k rows × C=4096 would otherwise allocate a
    # 330 MB accumulator (plus an equal-sized temporary per element
    # pass) in EVERY concurrent task — the exact OOM shape this kernel
    # exists to avoid at production C
    chunk_rows = max(1, (1 << 22) // max(1, len(crows)))

    def kernel(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), chunk_rows):
                sub = pdf.iloc[lo:lo + chunk_rows]
                n = len(sub)
                if n == 0:
                    continue
                A = np.vstack(sub["ea"].to_numpy()).astype(np.float64)
                na2 = sub["na2"].to_numpy(dtype=np.float64)
                if dot_mode == "gemm":
                    acc = A @ Cm.T                 # BLAS order, ~1 ulp·dim
                else:
                    acc = np.zeros((n, len(cids)))
                    for d0 in range(A.shape[1]):  # index order == seq. fold
                        acc += A[:, d0][:, None] * Cm[:, d0][None, :]
                cos = acc / np.sqrt(na2[:, None] * nb2[None, :])
                order = np.argsort(-cos, axis=1, kind="stable")  # ties → cid ASC
                take_cid = np.empty((n, p_eff), dtype=np.int64)
                take_cos = np.empty((n, p_eff))
                for i in range(n):
                    oi = order[i]
                    # NaN cosines (NaN vector elements) rank LAST with
                    # cid-ASC ties: np.argsort places NaN last (stable →
                    # cid ASC), so the finite head is padded with NaN
                    # columns in oi order instead of indexing into an
                    # empty candidate set; the serializer emits NaN as
                    # NULL.
                    nan_row = np.isnan(cos[i, oi])
                    finite = oi[~nan_row]
                    ranked = []
                    if len(finite):
                        f_eff = min(p_eff, len(finite))
                        kth = cos[i, finite[f_eff - 1]]
                        cand = finite[cos[i, finite] >= kth - 2e-8]
                        ranked = sorted(
                            (-_round8_spark_repr(float(cos[i, j])),
                             int(cids[j]))
                            for j in cand
                        )[:f_eff]
                    if len(ranked) < p_eff:
                        ranked += [
                            (float("nan"), int(cids[j]))
                            for j in oi[nan_row][: p_eff - len(ranked)]
                        ]
                    for p in range(p_eff):
                        take_cid[i, p] = ranked[p][1]
                        take_cos[i, p] = -ranked[p][0]
                out = sub.iloc[np.repeat(np.arange(n), p_eff)].reset_index(drop=True)
                out["__cid"] = take_cid.reshape(-1)
                out["__cos"] = take_cos.reshape(-1)
                yield out

    return v.mapInPandas(kernel, out_schema)


def ivf_assign(emb: DataFrame, centroids: DataFrame,
               dot_mode: str = "exact") -> DataFrame:
    """(vec_id, bucket, cos_to_centroid): nearest centroid by cosine.

    ``centroids``: (vec_id, embedding) — tiny (C rows). Scoring and the
    top-1 pick are both map-side (see ``nearest_centroids``): the corpus
    is never shuffled and never row-multiplied ×C. Ties break on the
    smaller centroid id, matching the oracle's ``ORDER BY cos DESC, cid
    ASC``. ``dot_mode="gemm"`` opts bulk assignment into the BLAS-matmul
    variant (throughput mode, not the oracle-parity mode)."""
    v = _with_norm(emb, "a", "ea", "na2")
    out = nearest_centroids(v, centroids, 1, dot_mode)
    return out.select(
        F.col("a").alias("vec_id"),
        F.col("__cid").alias("bucket"),
        F.col("__cos").alias("cos_to_centroid"),
    )


def _fold_dot(x, y):
    """Sequential float64 dot product over two array columns.

    Unlike the grouped decimal sums above (order-INSENSITIVE, for values
    that cross a shuffle), this runs in array-index order inside one JVM
    expression — deterministic, so it is bit-identical to DuckDB's
    ``list_dot_product`` (also a sequential fold). Use it when the pair of
    arrays is already co-located on one row: no explode, no shuffle.

    Unrolling the fold into a 64-term left-chained codegen sum was
    MEASURED 3× SLOWER than the HOF fold here (giant expression trees fall
    out of JIT-able codegen and re-evaluate per consumer), so the fold
    stays the fast deterministic form."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def embedding_dim(emb: DataFrame) -> int:
    """Array length for fixed-width embedding columns (one tiny job)."""
    return emb.select(F.max(F.size("embedding"))).first()[0]


def _with_norm(emb: DataFrame, id_alias: str, vec_alias: str,
               n_alias: str) -> DataFrame:
    """(id, embedding, norm2) — norm folded ONCE per vector, not per pair
    (higher-order-function folds are interpreted, so fold count dominates
    the O(n²) stage's cost)."""
    return emb.select(
        F.col("vec_id").alias(id_alias),
        F.col("embedding").alias(vec_alias),
        _fold_dot(F.col("embedding"), F.col("embedding")).alias(n_alias),
    )


def _dot_seq_kernel(ea, eb):
    """Arrow-batched sequential dot product: float64 ``cumsum`` along the
    element axis takes the LAST prefix — cumsum is inherently left-to-
    right, so the result is bit-identical to the interpreted JVM fold and
    to DuckDB's ``list_dot_product`` (verified pairwise on testdata), at
    vectorized-C speed (~10× the HOF fold on O(n²) pair volumes)."""
    import numpy as np
    import pandas as pd

    if len(ea) == 0:
        return pd.Series([], dtype="float64")
    A = np.vstack(ea.to_numpy()).astype(np.float64)
    B = np.vstack(eb.to_numpy()).astype(np.float64)
    return pd.Series(np.cumsum(A * B, axis=1)[:, -1])


def _pair_cosine(pairs: DataFrame, threshold: float) -> DataFrame:
    """(a, b, ea, eb, na2, nb2) → (a, b, cosine >= threshold)."""
    from pyspark.sql.functions import pandas_udf

    dot = pandas_udf(_dot_seq_kernel, "double")(F.col("ea"), F.col("eb"))
    cos = F.round(dot / F.sqrt(F.col("na2") * F.col("nb2")), 8)
    return (
        pairs.select("a", "b", cos.alias("cosine"))
        .filter(F.col("cosine") >= F.lit(threshold))
    )


#: cosine_near_dup_pairs refuses rerank sides beyond this many vectors —
#: the audit path's "collect one side" contract is only valid for
#: bounded candidate/rerank sets (at 64 float64 dims this cap is ~100 MB
#: of driver/closure memory). Corpus-size inputs must route through
#: cosine_near_dup_lsh (banded candidates) or IVF bucketing instead of
#: silently OOM-ing the driver.
MAX_RERANK_ROWS = 200_000


def cosine_near_dup_pairs(emb: DataFrame, threshold: float,
                          max_rerank_rows: int = MAX_RERANK_ROWS) -> DataFrame:
    """Exact all-pairs embedding near-dup: (a, b, cosine) with a < b and
    cosine >= threshold.

    Plan shape: the rerank side (id, vector, norm) is collected once and
    captured as a numpy matrix in a ``mapInPandas`` closure — the same
    "must fit in one task" memory contract as broadcasting it, which the
    previous crossJoin form already required. Each corpus batch then
    computes its n_batch × n_B dot-product block in C and returns ONLY
    the surviving pairs, so the O(n²) pair set never materializes as
    rows and never crosses Arrow (measured: the old broadcast-crossJoin
    + per-pair Arrow verify shipped ~2 GB of vector pairs at n=2000 and
    cost 4-7s; the block kernel is <1s). Map-only: no shuffle, no
    explode. O(n²·d) compute: the audit path for rerank sets /
    per-bucket candidates, never the raw corpus. The corpus-scale path
    is :func:`cosine_near_dup_lsh`, which feeds ONLY its LSH candidate
    pairs through the same fold semantics, so its output is a subset of
    this one (precision 1.0 by construction).

    Value parity: the block accumulates in array-index order (one
    vectorized pass per element position), so every pair's dot is the
    IEEE-754 sequence ((0+x₀)+x₁)+… — bit-identical to ``_fold_dot``,
    ``_dot_seq_kernel`` and DuckDB's ``list_dot_product``. The final
    cosine (divide, sqrt, ROUND 8) is computed JVM-side from the raw
    dot exactly as before; the kernel pre-filters with a 1e-7 margin so
    half-up rounding can never drop a qualifying pair."""
    import numpy as np

    b_rows = _with_norm(emb, "b", "eb", "nb2").limit(
        max_rerank_rows + 1
    ).collect()
    if len(b_rows) > max_rerank_rows:
        raise ValueError(
            f"cosine_near_dup_pairs is the bounded audit/rerank path: the "
            f"input exceeds max_rerank_rows={max_rerank_rows}; use "
            f"cosine_near_dup_lsh (or IVF bucketing) for corpus-scale "
            f"near-dup detection."
        )
    bid = np.array([r["b"] for r in b_rows], dtype=np.int64)
    Bm = np.array([r["eb"] for r in b_rows], dtype=np.float64)
    nb2 = np.array([r["nb2"] for r in b_rows], dtype=np.float64)
    a = _with_norm(emb, "a", "ea", "na2")

    def blocks(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.vstack(pdf["ea"].to_numpy()).astype(np.float64)
            na2 = pdf["na2"].to_numpy(dtype=np.float64)
            aid = pdf["a"].to_numpy(dtype=np.int64)
            acc = np.zeros((A.shape[0], Bm.shape[0]))
            for d0 in range(A.shape[1]):  # index order == sequential fold
                acc += A[:, d0][:, None] * Bm[:, d0][None, :]
            keep = (acc / np.sqrt(na2[:, None] * nb2[None, :])) >= (threshold - 1e-7)
            keep &= aid[:, None] < bid[None, :]
            ii, jj = np.nonzero(keep)
            yield pd.DataFrame({
                "a": aid[ii], "b": bid[jj], "dot": acc[ii, jj],
                "na2": na2[ii], "nb2": nb2[jj],
            })

    out = a.mapInPandas(blocks, "a long, b long, dot double, na2 double, nb2 double")
    cos = F.round(F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2")), 8)
    return (
        out.select("a", "b", cos.alias("cosine"))
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def hyperplanes(spark, dim: int, bits: int, seed: str = "rp") -> DataFrame:
    """(bit, pos, h): deterministic pseudo-random hyperplane entries in
    [-1, 1], derived from md5 so any engine reproduces them. Tiny
    (bits × dim rows) — always broadcast."""
    return (
        spark.range(bits).select(F.col("id").alias("bit"))
        .crossJoin(spark.range(dim).select(F.col("id").alias("pos")))
        .withColumn(
            "h",
            F.conv(F.substring(F.md5(F.concat_ws("_", F.lit(seed), "bit", "pos")), 1, 8), 16, 10)
            .cast("double") / F.lit(float(16**8 - 1)) * 2 - 1,
        )
    )


def rp_band_signatures(emb: DataFrame, planes: DataFrame,
                       rows_per_band: int = 2) -> DataFrame:
    """(vec_id, band, sig): banded random-hyperplane (SRP) signatures.

    sign(v·h_bit) per bit; bits grouped into bands of ``rows_per_band``
    and concatenated into a band signature string. Collision probability
    per bit is 1 − θ/π (θ = angle), so banding tunes recall exactly like
    MinHash LSH. One narrow shuffle of (vec_id, bit) partial sums — the
    embedding column itself never re-shuffles."""
    f = _flat(emb, "vec_id", "v")
    proj = (
        f.join(F.broadcast(planes), "pos")
        .groupBy("vec_id", "bit")
        .agg(
            F.sum((F.col("v").cast("double") * F.col("h")).cast("decimal(28,12)"))
            .cast("double").alias("proj")
        )
        .withColumn("s", F.when(F.col("proj") > 0, F.lit("1")).otherwise(F.lit("0")))
        .withColumn("band", (F.col("bit") / F.lit(rows_per_band)).cast("long"))
    )
    bits_in_band = F.sort_array(F.collect_list(F.struct("bit", "s")))
    return proj.groupBy("vec_id", "band").agg(
        F.array_join(F.transform(bits_in_band, lambda x: x["s"]), "").alias("sig")
    )


def cosine_near_dup_lsh(emb: DataFrame, spark, threshold: float,
                        bits: int = 16, rows_per_band: int = 2,
                        seed: str = "rp") -> DataFrame:
    """Corpus-scale embedding near-dup: SRP-LSH candidate generation +
    exact cosine verification. Returns (a, b, cosine), a < b, cosine >=
    threshold, candidates only — recall < 1 is possible and tunable via
    (bits, rows_per_band); every emitted pair is exact (precision 1.0).

    Scale shape: the corpus is shuffled once by (band, sig) — a key whose
    cardinality grows with n, so AQE splits hot buckets; candidate pairs
    (the quadratic term) exist only within a bucket."""
    dim = embedding_dim(emb)
    sigs = rp_band_signatures(emb, hyperplanes(spark, dim, bits, seed), rows_per_band)
    left = sigs.select(F.col("vec_id").alias("a"), "band", "sig")
    right = sigs.select(F.col("vec_id").alias("b"), "band", "sig")
    cand = (
        left.join(right, ["band", "sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b").distinct()
    )
    ea = _with_norm(emb, "a", "ea", "na2")
    eb = _with_norm(emb, "b", "eb", "nb2")
    # same verifier as cosine_near_dup_pairs => identical values per pair
    return _pair_cosine(cand.join(ea, "a").join(eb, "b"), threshold)


def ivf_probe_buckets(emb: DataFrame, centroids: DataFrame,
                      nprobe: int,
                      dot_mode: str = "exact") -> DataFrame:
    """(vec_id, bucket) — each vector's ``nprobe`` nearest centroid
    buckets (probe list). nprobe=1 degenerates to ivf_assign's bucket.

    Map-side like ``ivf_assign``: a narrow ≤nprobe-row fan-out per
    vector, not a shuffle of n×C scored pairs; BLAS variant via
    ``dot_mode="gemm"``."""
    v = _with_norm(emb, "a", "ea", "na2")
    out = nearest_centroids(v, centroids, nprobe, dot_mode)
    return out.select(
        F.col("a").alias("vec_id"), F.col("__cid").alias("bucket")
    )


def ivf_topk(emb: DataFrame, centroids: DataFrame, query_pred,
             k: int = 5, nprobe: int = 1) -> DataFrame:
    """Top-k cosine neighbors per query, searched within the query's
    ``nprobe`` nearest IVF buckets (corpus vectors stay single-bucket —
    probing widens the QUERY's candidate set, the standard IVF
    recall/cost dial). Returns (qid, cid, cosine, rk, bucket)."""
    assign = ivf_assign(emb, centroids).select("vec_id", "bucket")
    tagged = emb.join(assign, "vec_id")
    probes = (
        ivf_probe_buckets(emb, centroids, nprobe) if nprobe > 1 else assign
    )
    q = (
        emb.join(probes, "vec_id")
        .filter(query_pred(F.col("vec_id")))
        .select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"),
                F.col("bucket"))
        .withColumn("na2", _fold_dot(F.col("ea"), F.col("ea")))
    )
    c = (
        tagged.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"),
                      F.col("bucket"))
        .withColumn("nb2", _fold_dot(F.col("eb"), F.col("eb")))
    )
    # query set is small by construction — broadcast it; the corpus stays
    # where it is and only same-bucket candidates pay the fold
    pairs = c.join(F.broadcast(q), "bucket").filter(F.col("a") != F.col("b"))
    cos = F.round(
        _fold_dot(F.col("ea"), F.col("eb")) / F.sqrt(F.col("na2") * F.col("nb2")), 8
    )
    scored = pairs.select(
        F.col("a").alias("qid"), F.col("b").alias("cid"),
        cos.alias("cosine"), F.col("bucket"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "cid", "cosine", "rk", "bucket")
    )


def ivf_centroid_update(emb: DataFrame, centroids: DataFrame,
                        melted: bool = False) -> DataFrame:
    """One Lloyd iteration of IVF centroid training: assign every vector
    to its nearest current centroid (MAP-SIDE — see ``nearest_centroids``;
    the corpus is neither joined nor row-multiplied), then each bucket's
    new centroid is the element-wise mean of its members.

    The only shuffle is the (bucket, pos) partial-aggregated element sum
    — n·d narrow rows that combine map-side to ≤ C·d partials per task.
    Sums are exact decimals (order-insensitive across the shuffle merge),
    so any engine reproduces the means bit-for-bit. Iterate k-means by
    feeding the packed result straight back as ``centroids``: the
    centroid frame may carry its id as either ``vec_id`` or ``bucket``
    (the packed output uses ``bucket``; it is renamed internally).

    Precondition: embedding elements must be dense (no NULL element —
    ``F.count`` skips NULLs, which would make ``n`` and the per-position
    means inconsistent within a bucket). Assert/filter upstream if the
    corpus can carry ragged vectors.

    Returns (bucket, embedding array<double>, n). Buckets that attracted
    ZERO vectors this iteration keep their OLD centroid with n = 0 (a
    left join back to the input centroid ids) — dropping them would
    silently shrink C across Lloyd iterations. With ``melted=True``,
    returns the raw flat (bucket, pos, mean, n) aggregation instead
    (non-empty buckets only — the cross-engine-gated form)."""
    if "vec_id" not in centroids.columns and "bucket" in centroids.columns:
        centroids = centroids.withColumnRenamed("bucket", "vec_id")
    v = _with_norm(emb, "vec_id", "ea", "na2")
    tagged = nearest_centroids(v, centroids).select(
        F.col("__cid").alias("bucket"), F.col("ea").alias("emb")
    )
    means = (
        tagged.select("bucket", F.posexplode("emb").alias("pos", "val"))
        .groupBy("bucket", "pos")
        .agg(
            F.sum(F.col("val").cast("double").cast("decimal(28,12)"))
            .cast("double").alias("s"),
            F.count("val").alias("n"),
        )
        .select(
            "bucket", "pos",
            F.round(F.col("s") / F.col("n"), 8).alias("mean"), "n",
        )
    )
    if melted:
        return means
    packed = F.sort_array(F.collect_list(F.struct("pos", "mean")))
    updated = means.groupBy("bucket").agg(
        F.transform(packed, lambda x: x["mean"]).alias("new_emb"),
        F.max("n").alias("n"),
    )
    old = centroids.select(
        F.col("vec_id").alias("bucket"),
        F.transform("embedding", lambda x: x.cast("double")).alias("old_emb"),
    )
    # both sides are ≤C rows here, but the centroid frame often comes from
    # a source without stats (createDataFrame / filter of a big table), so
    # force the broadcast — a sort-merge join would shuffle both tiny sides
    return (
        old.join(F.broadcast(updated), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("new_emb", "old_emb").alias("embedding"),
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )


def hamming_near_pairs(df: DataFrame, id_col: str, sig_col: str,
                       bits: int = 64, max_hamming: int = 2) -> DataFrame:
    """(id_a, id_b, hamming) pairs of rows whose integer signatures differ
    in ≤ ``max_hamming`` of ``bits`` bits — the image-table twin of the
    text SimHash dedup, built for the ``phash`` column of the
    authoritative input shape (perceptual near-duplicate detection).

    Pigeonhole candidate generation (exact, recall 1.0): the signature is
    split into ``max_hamming + 1`` disjoint bit segments; a pair within k
    flips agrees exactly on ≥1 segment, so candidates come from an
    equi-self-join on (segment, value) — never an O(n²) cross join. True
    duplicate CLUSTERS are inherently quadratic in pair count (a planted
    hot phash with m copies yields m(m−1)/2 pairs); dedup at corpus scale
    should therefore use :func:`hamming_near_dup_clusters`, which groups
    hamming-0 keys to one exemplar BEFORE this join and never
    materializes identical-signature pairs. Hot (segment, value) buckets
    are plain shuffle keys — AQE skew-join splits them."""
    s = df.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sig"))
    nseg = max_hamming + 1
    bounds = [bits * j // nseg for j in range(nseg + 1)]
    def seg_val(j):
        width = bounds[j + 1] - bounds[j]
        shifted = F.shiftrightunsigned("sig", bounds[j])
        if width >= 64:  # full-width segment (k=0): mask is a no-op and
            return shifted  # (1<<64)-1 overflows a Java long
        return shifted.bitwiseAND((1 << width) - 1)

    segs = F.array(*[
        F.struct(F.lit(j).alias("seg"), seg_val(j).alias("val"))
        for j in range(nseg)
    ])
    e = s.select("id", "sig", F.explode(segs).alias("sv")).select(
        "id", "sig", F.col("sv.seg").alias("seg"), F.col("sv.val").alias("val")
    )
    a = e.select(F.col("id").alias("id_a"), F.col("sig").alias("ha"), "seg", "val")
    b = e.select(F.col("id").alias("id_b"), F.col("sig").alias("hb"), "seg", "val")
    return (
        a.join(b, ["seg", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("ha ^ hb")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def hamming_near_dup_clusters(df: DataFrame, id_col: str, sig_col: str,
                              bits: int = 64, max_hamming: int = 2,
                              max_rounds: int = 50) -> DataFrame:
    """Skew-proof hamming dedup end-to-end: (doc_id, cluster,
    cluster_size, is_keeper) — identical output to
    ``near_dup_clusters(hamming_near_pairs(df))`` (tested), WITHOUT ever
    materializing identical-signature pairs (VERDICT r03 #4).

    Identical signatures are pre-grouped to one EXEMPLAR (the min id per
    distinct signature): a boilerplate-heavy corpus where m rows share a
    signature contributes ONE row to the pigeonhole join instead of
    m(m−1)/2 hamming-0 pairs — the quadratic term drops to the distinct-
    signature pair graph, and members rejoin linearly through their
    signature at labeling time.

    Equivalence argument: rows with equal signatures are mutually
    hamming-0, so a cluster's member set is a union of whole signature
    groups; rep(x)=min-id(sig) means the min id over a connected set of
    reps IS the min id over all their members — the same canonical
    keeper ``near_dup_clusters`` elects. Edges survive grouping because
    hamming(x, y) depends only on the signatures.

    Scale shape: one groupBy(sig) (narrow — combines map-side), the
    pigeonhole equi-join over DISTINCT signatures only, component
    labeling over the (much smaller) rep graph, then one sig-keyed join
    to fan labels back out to members."""
    from anomalydetection_spark.functions.graph import min_label_components

    s = df.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sig"))
    ex = s.groupBy("sig").agg(F.min("id").alias("rep"))
    reps = ex.select(F.col("rep").alias("id"), "sig")
    rep_pairs = hamming_near_pairs(reps, "id", "sig", bits, max_hamming)
    labels = min_label_components(rep_pairs, "id_a", "id_b", max_rounds)
    # reps untouched by any cross-signature pair label themselves
    rep_lab = (
        ex.join(labels, ex["rep"] == labels["node"], "left")
        .select("sig", F.coalesce("label", "rep").alias("cluster"))
    )
    members = s.join(rep_lab, "sig").select(
        F.col("id").alias("doc_id"), "cluster")
    sizes = members.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return members.join(sizes, "cluster").select(
        "doc_id", "cluster", "cluster_size",
        (F.col("doc_id") == F.col("cluster")).alias("is_keeper"),
    )


def quantize_embeddings(emb: DataFrame, levels: int = 127) -> DataFrame:
    """Symmetric per-vector int8-style quantization: ``scale`` =
    max|v|/levels, ``qvec[i]`` = round(v[i]/scale) ∈ [−levels, levels]
    (the max element maps to ±levels exactly, so no clip is needed).
    Map-only — at 10^12 vectors this is the storage/bandwidth path for
    ANN: 4× smaller than float32, dequantize with ``qvec[i]·scale``.
    All arithmetic is plain double expressions, so an independent engine
    reproduces the quantized values and reconstruction errors exactly."""
    amax = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    with_scale = emb.withColumn(
        "scale",
        F.when(amax > 0, amax / F.lit(float(levels))).otherwise(F.lit(1.0)),
    )
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") / F.col("scale"), 0).cast("int"),
    )
    return with_scale.withColumn("qvec", q)


def dequantize_expr() -> "F.Column":
    """Reconstruction array for a frame produced by quantize_embeddings."""
    return F.transform(F.col("qvec"), lambda x: x.cast("double") * F.col("scale"))


def _seq_dot(a, b) -> float:
    """Driver-side sequential float64 dot product: ``cumsum`` is left-to-
    right, so the value is bit-identical to the JVM ``F.aggregate`` fold
    and to DuckDB ``list_dot_product`` (np.dot's pairwise/SIMD order is
    NOT)."""
    import numpy as np

    prod = np.asarray(a, dtype=np.float64) * np.asarray(b, dtype=np.float64)
    return float(np.cumsum(prod)[-1])


def pq_codebooks(emb: DataFrame, m: int, n_codes: int = 8) -> list:
    """``[m][n_codes][d]`` product-quantization codebooks: the vectors
    with ``vec_id < n_codes`` (code c == vec_id c), sliced per subspace —
    the deterministic trainer analog (a production trainer Lloyd-iterates
    per subspace exactly as ``ivf_centroid_update`` does on full vectors,
    and this seeding is its canonical k-means init). One tiny collect.
    Raises if ids 0..n_codes-1 are not all present: a gap would silently
    shrink K and desynchronize dense code numbering from the id-coded
    cross-engine oracle."""
    dim = embedding_dim(emb)
    d = dim // m
    rows = sorted(
        emb.filter(F.col("vec_id") < n_codes).collect(),
        key=lambda r: r["vec_id"],
    )
    if [int(r["vec_id"]) for r in rows] != list(range(n_codes)):
        raise ValueError(
            f"pq_codebooks needs vec_ids 0..{n_codes - 1} present exactly "
            f"once; got {[int(r['vec_id']) for r in rows]}")
    return [
        [[float(x) for x in r["embedding"][s * d:(s + 1) * d]] for r in rows]
        for s in range(m)
    ]


def pq_encode(emb: DataFrame, m: int = 8, n_codes: int = 8,
              codebooks: list | None = None) -> DataFrame:
    """Product-quantization encoding: (vec_id, codes array<int>,
    dist2s array<double>) — per subspace ``s``, ``codes[s]`` is the
    L2-nearest codebook entry for the vector's ``s``-th subvector and
    ``dist2s[s]`` the (rounded) squared distance.

    This is the storage path that makes trillion-scale ANN affordable:
    m bytes per vector instead of 4·dim (here 8 codes for a 64-dim
    float — 32×), scored without decompression via ADC lookup tables
    (``pq_adc_topk``). IVF partitions the corpus; PQ compresses what's
    inside each partition — together they are the canonical IVF-PQ
    layout.

    Plan shape: MAP-ONLY, one Arrow-batched ``mapInPandas``; the m×K×d
    codebook floats ride the kernel closure, so the plan does not grow
    with K (production K=256 at dim 768 scores the same way).
    Cross-engine exactness: dist² = ROUND(xx − 2·xc + cc, 8) where xx
    is the float64 cumsum fold over the subvector slice and xc
    accumulates in element-index order (both bit-identical to DuckDB
    ``list_dot_product`` on the same slice), cc is the driver-side
    sequential fold of the codebook entry (``_seq_dot``), and d2 keeps
    the oracle expression's association order. The argmin runs on RAW
    d2 (np.argmin → first index = code ASC on exact ties); only
    candidates within 2e-8 of the raw best are exact-rounded
    (``_round8_spark_repr``) and re-ranked by (d2 ASC, code ASC).
    Rows with a NULL embedding are filtered (unencodable)."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, StructField, StructType,
    )

    if codebooks is not None:
        # dim is implied — no extra job over the (possibly expensively
        # derived) input just to measure array width
        d = len(codebooks[0][0])
    else:
        dim = embedding_dim(emb)
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        d = dim // m
        codebooks = pq_codebooks(emb, m, n_codes)
    emb = emb.filter(F.col("embedding").isNotNull())
    Cbs = np.array(codebooks, dtype=np.float64)          # [m, K, d]
    ccs = np.array([[_seq_dot(cv, cv) for cv in codebooks[s]]
                    for s in range(m)], dtype=np.float64)  # [m, K]
    K = Cbs.shape[1]
    out_schema = StructType(
        list(emb.schema.fields)
        + [StructField("codes", ArrayType(IntegerType())),
           StructField("dist2s", ArrayType(DoubleType()))]
    )

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            A = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            codes = np.empty((n, m), dtype=np.int32)
            d2s = np.empty((n, m))
            for s in range(m):
                Xs = A[:, s * d:(s + 1) * d]
                xx = np.cumsum(Xs * Xs, axis=1)[:, -1]  # == _fold_dot(slice)
                xc = np.zeros((n, K))
                for d0 in range(d):  # index order == sequential fold
                    xc += Xs[:, d0][:, None] * Cbs[s][:, d0][None, :]
                d2 = (xx[:, None] - 2.0 * xc) + ccs[s][None, :]
                for i in range(n):
                    # NaN distances (NaN vector elements) rank LAST;
                    # np.argmin would return the first NaN index
                    # instead. Rank among finite codes; an all-NaN
                    # subspace degrades to (code 0, NaN) — all ties,
                    # code ASC — and the serializer emits NaN as NULL.
                    row = d2[i]
                    fin = np.nonzero(~np.isnan(row))[0]
                    if len(fin) == 0:
                        d2s[i, s] = float("nan")
                        codes[i, s] = 0
                        continue
                    best_raw = row[fin[np.argmin(row[fin])]]
                    cand = fin[row[fin] <= best_raw + 2e-8]
                    r8, code = min(
                        (_round8_spark_repr(float(row[j])), int(j))
                        for j in cand
                    )
                    d2s[i, s] = r8
                    codes[i, s] = code
            out = pdf.copy()
            out["codes"] = list(codes)
            out["dist2s"] = list(d2s)
            yield out

    return emb.mapInPandas(kernel, out_schema)


def pq_train(emb: DataFrame, m: int = 8, n_codes: int = 8,
             n_iter: int = 2, codebooks: list | None = None,
             melted: bool = False):
    """Per-subspace Lloyd training of the PQ codebooks (VERDICT r03 #3):
    ``pq_codebooks`` is only the canonical k-means seed (first-K init);
    a production product quantizer Lloyd-iterates EACH subspace — this
    composes the same assign/mean machinery as ``ivf_centroid_update``
    over the m subvector slices, all subspaces in ONE pass per
    iteration.

    Per iteration: assignment is ``pq_encode`` (map-only kernel, no
    shuffle); the update is one narrow (subspace, code, pos) shuffle
    of n·dim decimal partial sums that combine map-side to ≤ m·K·d
    partials per task — the trained codebooks (m·K·d floats, driver-tiny)
    feed the next iteration's encoder. Codes that attract zero
    vectors keep their previous entry (same C-preservation rule as
    ``ivf_centroid_update``). Means are exact-decimal sums / counts,
    ROUND 8 — bit-reproducible on any engine.

    Returns the trained ``[m][K][d]`` codebooks; with ``melted=True``
    returns the FINAL iteration's (subspace, code, spos, mean, n) frame
    instead (non-empty codes only — the cross-engine-gated form)."""
    dim = embedding_dim(emb)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    if codebooks is None:
        codebooks = pq_codebooks(emb, m, n_codes)
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    for it in range(n_iter):
        enc = pq_encode(emb, m, n_codes, codebooks)
        s_of = (F.col("pos") / F.lit(d)).cast("int")
        flat = enc.select(
            "codes", F.posexplode("embedding").alias("pos", "val")
        ).select(
            s_of.alias("subspace"),
            F.pmod(F.col("pos"), F.lit(d)).alias("spos"),
            F.element_at(F.col("codes"), s_of + 1).alias("code"),
            F.col("val"),
        )
        agg = (
            flat.groupBy("subspace", "code", "spos")
            .agg(
                F.sum(F.col("val").cast("double").cast("decimal(28,12)"))
                .cast("double").alias("s"),
                F.count("val").alias("n"),
            )
            .select(
                "subspace", "code", "spos",
                F.round(F.col("s") / F.col("n"), 8).alias("mean"), "n",
            )
        )
        if melted and it == n_iter - 1:
            return agg
        # m·K·d rows — driver-tiny; empty codes carry their old entry
        new = [[list(codebooks[s][c]) for c in range(n_codes)]
               for s in range(m)]
        for r in agg.collect():
            new[int(r["subspace"])][int(r["code"])][int(r["spos"])] = \
                float(r["mean"])
        codebooks = new
    return codebooks


def pq_quantization_error(emb: DataFrame, m: int = 8, n_codes: int = 8,
                          codebooks: list | None = None) -> float:
    """Mean total squared quantization error Σ_s dist²(x_s, c_codes[s])
    per vector — the objective Lloyd minimizes; one map-only pass +
    a scalar agg."""
    enc = pq_encode(emb, m, n_codes, codebooks)
    return float(
        enc.select(
            F.avg(F.aggregate("dist2s", F.lit(0.0), lambda a, v: a + v))
        ).first()[0]
    )


def pq_adc_topk(emb: DataFrame, query_id: int, k: int = 10, m: int = 8,
                n_codes: int = 8) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: (vec_id, adc_score) of
    the ``k`` corpus vectors whose RECONSTRUCTED inner product with the
    query is highest — score(v) = Σ_s lut[s][codes_v[s]] with
    lut[s][c] = q_s · centroid_{s,c}.

    The trillion-row ANN read path: the scan touches only the m-byte
    code column (never the float vectors), the m×K LUT is computed once
    per query and inlined, scoring is a pure projection, and the only
    non-map stage is the global top-k. Cross-engine exactness: LUT
    entries are sequential folds (``_seq_dot`` == DuckDB
    ``list_dot_product``); each looked-up term is ROUND(·, 8) then
    summed as exact DECIMAL(20,8) — order-insensitive, so engines agree
    bit-for-bit."""
    codebooks = pq_codebooks(emb, m, n_codes)
    q = _query_vector(emb, query_id)
    enc = pq_encode(emb, m, n_codes, codebooks)
    score = _adc_score(q, codebooks, m)
    return (
        enc.select("vec_id", score.cast("double").alias("adc_score"))
        .orderBy(F.desc("adc_score"), F.asc("vec_id"))
        .limit(k)
    )


def _query_vector(emb: DataFrame, query_id: int) -> list:
    qrow = emb.filter(F.col("vec_id") == query_id).first()
    if qrow is None:
        raise ValueError(f"query vec_id {query_id} not found")
    return [float(x) for x in qrow["embedding"]]


def _adc_score(q: list, codebooks: list, m: int):
    """Decimal ADC score column over a frame carrying ``codes``:
    Σ_s ROUND(lut[s][codes[s]], 8) summed as exact DECIMAL(20,8) —
    order-insensitive, so DuckDB's grouped SUM matches the expression
    chain bit-for-bit."""
    d = len(q) // m
    score = None
    for s in range(m):
        lut = F.array(*[
            F.lit(_seq_dot(q[s * d:(s + 1) * d], code_vec))
            for code_vec in codebooks[s]
        ])
        term = F.round(
            F.element_at(lut, F.element_at(F.col("codes"), s + 1) + 1), 8
        ).cast("decimal(20,8)")
        score = term if score is None else score + term
    return score


def _probe_ids(centroids: DataFrame, q: list, n_probe: int) -> list[int]:
    """The query's ``n_probe`` nearest centroid ids by cosine (DESC, id
    ASC ties), computed driver-side over the ≤C collected centroids with
    the SAME rounding as the engine expressions: Decimal(v) quantized
    HALF_UP at 8dp is the exact-binary-value round that Spark's
    BigDecimal(double).setScale(8, HALF_UP) and DuckDB ROUND apply, so
    every engine reproduces the probe set."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    qq = _seq_dot(q, q)

    def r8(v: float) -> float:
        return float(Decimal(v).quantize(Decimal("1e-8"), ROUND_HALF_UP))

    ranked = []
    for r in sorted(centroids.collect(), key=lambda r: r["vec_id"]):
        c = [float(x) for x in r["embedding"]]
        cos = r8(_seq_dot(q, c) / math.sqrt(qq * _seq_dot(c, c)))
        ranked.append((-cos, int(r["vec_id"])))
    return [cid for _, cid in sorted(ranked)[:n_probe]]


def write_ivf_layout(emb: DataFrame, centroids: DataFrame, path: str,
                     m: int | None = None, n_codes: int = 8,
                     codebooks: list | None = None) -> None:
    """Persist the corpus PARTITIONED BY its assigned IVF bucket — the
    storage layout that turns the IVF probe filter into real partition
    pruning. On raw (unpartitioned) parquet, ``ivf_pq_topk``'s
    ``bucket IN (probes)`` is a post-scan filter: every query still
    reads and centroid-scores the full corpus. Over this layout the
    same predicate is a PartitionFilter — the scan itself shrinks to
    n_probe/n_buckets of the table (plan-guarded in tests/test_plans.py),
    which at 10^12 rows is the difference between an ANN query and a
    table scan. The Iceberg analog is a table partitioned by
    ``bucket`` (identity transform on the assigned centroid id).

    Bucket assignment is the same map-side centroid kernel as
    ``ivf_assign``/``ivf_pq_topk`` — writing the layout is ONE pass over
    the corpus, no shuffle except the write's own file distribution.
    With ``m`` set, PQ codes (``pq_encode``) are materialized alongside,
    so the serving scan can read the m-byte ``codes`` column and skip
    the float vectors entirely. Reuses the staged-bucket write pattern
    of checkpoint.py (stage once, prune every read)."""
    base = emb.select(
        "vec_id", "embedding",
        F.col("embedding").alias("ea"),
        _fold_dot(F.col("embedding"), F.col("embedding")).alias("na2"),
    )
    out = nearest_centroids(base, centroids).select(
        "vec_id", "embedding", F.col("__cid").alias("bucket")
    )
    if m is not None:
        if codebooks is None:
            codebooks = pq_codebooks(emb, m, n_codes)
        out = pq_encode(out, m, n_codes, codebooks)
    out.write.mode("overwrite").partitionBy("bucket").parquet(path)


def ivf_pq_topk_pruned(spark, layout_path: str, centroids: DataFrame,
                       codebooks: list, query_vec: list,
                       k: int = 10, n_probe: int = 2,
                       m: int = 8) -> DataFrame:
    """The IVF-PQ read path over a MATERIALIZED bucket layout
    (``write_ivf_layout``): probe the query's ``n_probe`` nearest
    centroids, then scan ONLY those bucket partitions — the probe
    predicate prunes at the file-listing level (PartitionFilters), so
    the job never touches the other n_buckets − n_probe directories —
    and ADC-score the stored PQ codes. Identical results to
    ``ivf_pq_topk`` on the same corpus/params (asserted in tests); the
    scan reads the m-byte ``codes`` column, never the float vectors."""
    layout = spark.read.parquet(layout_path)
    if "codes" not in layout.columns:
        raise ValueError(
            "layout has no PQ codes — write it with write_ivf_layout(m=...)")
    probe = _probe_ids(centroids, query_vec, n_probe)
    score = _adc_score(query_vec, codebooks, m)
    return (
        layout.filter(F.col("bucket").isin([int(p) for p in probe]))
        # partition-column type is directory-inferred (int) — cast back
        # to the centroid id's type for parity with ivf_pq_topk
        .select("vec_id", F.col("bucket").cast("long").alias("bucket"),
                score.cast("double").alias("adc_score"))
        .orderBy(F.desc("adc_score"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_pq_topk(emb: DataFrame, query_id: int, k: int = 10,
                n_buckets: int = 8, n_probe: int = 2, m: int = 8,
                n_codes: int = 8) -> DataFrame:
    """The COMPOSED trillion-scale ANN read path — IVF partition pruning
    over PQ-compressed codes: assign every vector to its nearest IVF
    centroid, probe the query's ``n_probe`` nearest buckets, ADC-score
    only the vectors inside them.

    Plan shape: ONE map-only pass computes the bucket (the centroid
    kernel, as ``ivf_assign``) AND the PQ codes; the probe
    filter is a plain scan predicate (on bucket-partitioned storage it
    becomes partition pruning — the scan itself shrinks to
    n_probe/n_buckets of the table); ADC scoring is a projection; the
    only non-map stage is the global top-k. Returns (vec_id, bucket,
    adc_score).

    Probe selection happens driver-side over the C centroids with the
    SAME rounding as the engine expressions (HALF_UP at 8dp on
    sequential-fold cosines), so an independent engine reproduces the
    probe set, the candidate set, and every score bit-for-bit."""
    centroids = emb.filter(F.col("vec_id") < n_buckets) \
        .select("vec_id", "embedding")
    codebooks = pq_codebooks(emb, m, n_codes)
    q = _query_vector(emb, query_id)
    probe = _probe_ids(centroids, q, n_probe)

    base = emb.select(
        "vec_id", "embedding",
        F.col("embedding").alias("ea"),
        _fold_dot(F.col("embedding"), F.col("embedding")).alias("na2"),
    )
    pruned = (
        nearest_centroids(base, centroids)
        .select("vec_id", "embedding", F.col("__cid").alias("bucket"))
        .filter(F.col("bucket").isin([int(p) for p in probe]))
    )
    enc = pq_encode(pruned, m, n_codes, codebooks)
    score = _adc_score(q, codebooks, m)
    return (
        enc.select("vec_id", "bucket", score.cast("double").alias("adc_score"))
        .orderBy(F.desc("adc_score"), F.asc("vec_id"))
        .limit(k)
    )
