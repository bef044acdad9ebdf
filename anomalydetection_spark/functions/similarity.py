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

Two cross-engine-reproducible dot-product forms are used, chosen by
plan shape:

* **order-deterministic float fold** (``_fold_dot``): a sequential
  ``F.aggregate(zip_with(...))`` over co-located arrays — bit-identical
  to DuckDB's ``list_dot_product`` (same order, same IEEE arithmetic),
  zero shuffle, used for pairwise scoring inside the JVM;
* **screen + fold** in Arrow-batched ``mapInPandas`` kernels, where one
  side is a small collected matrix — centroid scoring
  (``nearest_centroids``), PQ encoding (``pq_encode``) and the block
  cosine audit path (``cosine_near_dup_pairs``): one BLAS matmul screens
  every candidate, then the same index-order fold, in numpy (``_fold``),
  scores only the candidates inside a provable tie band, so every output
  is the fold's value.

Values that must survive a grouped aggregation whose partial-merge order
Spark does not fix (SRP projections, centroid and codebook means) are
summed inline as exact decimals instead.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _collect_vectors(df: DataFrame, id_col: str, vec_col: str, what: str,
                     *extra: str) -> tuple:
    """(ids, n×dim float64 matrix, *extra columns) of a small frame, rows
    sorted by id (stable) — ONE Arrow collect, reshaped from the flat list
    values, not a numpy array built from pickled ``Row`` lists. A NULL id,
    a NULL vector or vectors of unequal length raise here, before any
    kernel job: a flat reshape would silently mis-shape ragged input
    whenever its total length happens to divide evenly."""
    import numpy as np

    t = df.toArrow()
    ids, vec = (t.column(c).combine_chunks() for c in (id_col, vec_col))
    if ids.null_count:
        raise ValueError(f"{what} has a NULL {id_col}")
    ids = ids.to_numpy()
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    null = vec.is_null().to_numpy(zero_copy_only=False)[order]
    if null.any():
        raise ValueError(
            f"{what} {id_col}={ids[null.argmax()]} has a NULL embedding")
    lens = vec.value_lengths().to_numpy()[order]
    dim = int(lens[0]) if len(lens) else 0
    if (lens != dim).any():
        i = (lens != dim).argmax()
        raise ValueError(
            f"{what} {id_col}={ids[i]} has {lens[i]} elements, "
            f"{id_col}={ids[0]} has {dim}: vectors must share one length")
    M = (vec.flatten().to_numpy(zero_copy_only=False)
         .astype(np.float64).reshape(len(ids), dim)[order])
    return (ids, M, *(t.column(c).to_numpy()[order] for c in extra))


def _collect_centroids(centroids: DataFrame) -> tuple:
    """(cids, C×dim matrix, norms²) sorted by cid — ONE tiny collect.
    Norms are index-order folds (``_fold``), bit-identical to the JVM
    ``F.aggregate`` fold that computes the corpus-side norms."""
    import numpy as np

    cids, Cm = _collect_vectors(
        centroids.select("vec_id", "embedding"), "vec_id", "embedding",
        "centroid")
    if not len(cids):
        # an empty centroid frame is always a caller bug (the kernel would
        # crash on an empty (0,) centroid matrix) — fail like the
        # zero-norm case: loudly, before any job runs
        raise ValueError("centroids is empty — nothing to score against")
    nb2 = _fold(Cm, Cm)
    for i in np.nonzero(nb2 == 0.0)[0][:1]:
        # cosine to a zero vector is undefined for every scored row —
        # fail loudly and early instead of emitting NaN assignments
        raise ValueError(
            f"centroid vec_id={cids[i]} has zero norm — cosine "
            "scoring is undefined; drop or re-seed it")
    return cids, Cm, nb2


def _round8_spark_repr(x: float) -> float:
    """Spark's ROUND(double, 8): BigDecimal.valueOf(d) wraps
    Double.toString — the SHORTEST decimal repr — then setScale(8,
    HALF_UP). Python's repr() is the same shortest round-trip decimal,
    so Decimal(repr(x)).quantize(1e-8, HALF_UP) reproduces Spark's
    rounding bit-for-bit (including the repr-tie cases where the exact
    binary value would round the other way). NaN and ±inf pass through,
    as in Spark, and so does every |x| ≥ 2⁵² (no fractional bits)."""
    from decimal import ROUND_HALF_UP, Decimal

    x = float(x)
    if not abs(x) < 2.0 ** 52:
        return x
    return float(Decimal(repr(x)).quantize(Decimal("1e-8"), ROUND_HALF_UP))


def _fold(a, b):
    """Index-order float64 dot product along the last axis,
    ``((0.0 + a₀b₀) + a₁b₁) + …``: the sequence of the JVM fold
    (``_fold_dot``) and of DuckDB ``list_dot_product``. ``cumsum`` adds
    left to right; ``+ 0.0`` turns an all-``-0.0`` sum into ``+0.0``, as
    the zero-initialised fold does. BLAS (``@``) sums in a blocked order
    and is not bit-identical, so the kernels use it only as a screen.

    Screen bound: in any summation order a float64 dot of n terms is
    within γₙ‖a‖‖b‖ of the exact value, γₙ = n·u/(1 − n·u), u = 2⁻⁵³
    (Higham, *Accuracy and Stability of Numerical Algorithms*, §3.1),
    plus n·2⁻¹⁰⁷⁵ where products underflow; a BLAS dot and the fold
    differ by at most twice that. Hence a BLAS cosine is within 4γₙ of
    the fold's (same divisor, its rounding included) while both norms²
    lie in [2⁻⁵⁰⁰, 2⁵⁰⁰], and a PQ distance (‖x‖² − 2x·c) + ‖c‖² within
    8γ_d(‖x‖ + ‖c‖)² + d·2⁻¹⁰⁷⁰ while (‖x‖ + ‖c‖)² ≤ 2¹⁰⁰⁰. Entries
    outside these ranges, or with a non-finite screen value, are folded
    outright."""
    import numpy as np

    return np.cumsum(np.multiply(a, b, dtype=np.float64), axis=-1)[..., -1] + 0.0


def _fold_pairs(A, B, i, j):
    """``_fold(A[i], B[j])`` in slices, so the vectors gathered for a
    large band stay within 4096·dim doubles per operand."""
    import numpy as np

    return np.concatenate([np.empty(0)] + [
        _fold(A[i[k:k + 4096]], B[j[k:k + 4096]]) for k in range(0, len(i), 4096)])


def _gamma(n: int) -> float:
    """γₙ of the ``_fold`` screen bound."""
    return n * 2.0 ** -53 / (1 - n * 2.0 ** -53)


def _cosines(A, na2, B, nb2):
    """BLAS screen of the cosines between the rows of ``A`` and ``B``
    (norms² from the fold); NaN where the ``_fold`` bound does not hold."""
    import numpy as np

    V = A @ B.T
    V /= np.sqrt(na2[:, None] * nb2[None, :])
    V[~((na2 >= 2.0 ** -500) & (na2 <= 2.0 ** 500))] = np.nan
    V[:, ~((nb2 >= 2.0 ** -500) & (nb2 <= 2.0 ** 500))] = np.nan
    return V


def _settle(V, exact, p: int, delta):
    """The ``p`` best columns of every row of a score matrix by the rule
    the oracle gates fix: exact scores ranked by ROUND(score, 8) DESC
    (``_round8_spark_repr``), ties by column ASC, NaN scores last in
    column order. Returns (cols (n, p), rounded scores (n, p)).

    ``V`` (overwritten) is a screen within ``delta`` (scalar or per row)
    of the exact score wherever it is finite; ``exact(ii, jj)`` returns
    exact scores at index arrays. Rounding is monotone, so the rule only
    rounds exact scores within 2e-8 of the row's p-th best; those lie in
    the band V ≥ (p-th best V) − 2e-8 − 2·delta, and only the band is
    folded."""
    import numpy as np

    n, C = V.shape
    rows = np.arange(n)
    wild = ~np.isfinite(V)
    wi, wj = np.nonzero(wild)
    V[wi, wj] = exact(wi, wj)
    nan = np.isnan(V)
    f = np.minimum(p, C - nan.sum(axis=1))  # columns ranked ahead of NaN
    top = np.sort(
        np.partition(np.where(nan, np.inf, -V), p - 1, axis=1)[:, :p], axis=1)
    kth = -top[rows, np.maximum(f, 1) - 1]
    ii, jj = np.nonzero(V >= (kth - (2e-8 + 2 * delta))[:, None])
    E = V[ii, jj]
    fold = ~wild[ii, jj]
    E[fold] = exact(ii[fold], jj[fold])

    # the rule on the band: the f-th best exact score, the candidates
    # within 2e-8 of it ranked on their ROUND-8 values, then NaN columns
    o = np.lexsort((-E, ii))
    ii, jj, E = ii[o], jj[o], E[o]
    kth = np.full(n, np.nan)
    kth[f > 0] = E[np.searchsorted(ii, rows[f > 0]) + f[f > 0] - 1]
    c = E >= kth[ii] - 2e-8
    ni, nj = np.nonzero(nan)
    ii, jj = np.concatenate([ii[c], ni]), np.concatenate([jj[c], nj])
    R = np.array([_round8_spark_repr(x) for x in E[c]] + [np.nan] * len(ni))
    o = np.lexsort((jj, -R, ii))
    ii, jj, R = ii[o], jj[o], R[o]
    rank = np.arange(len(ii)) - np.searchsorted(ii, ii)
    keep = rank < p
    cols = np.empty((n, p), dtype=np.int64)
    vals = np.empty((n, p))
    cols[ii[keep], rank[keep]] = jj[keep]
    vals[ii[keep], rank[keep]] = R[keep]
    return cols, vals


def nearest_centroids(v: DataFrame, centroids: DataFrame,
                      nprobe: int = 1) -> DataFrame:
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
    then ``ORDER BY cos DESC, cid ASC``): one BLAS matmul per chunk
    screens every centroid; the candidates within a provable band of the
    rank-nprobe score (``_fold``, ``_settle``) are re-scored by the
    array-INDEX-order fold (== the sequential JVM fold == DuckDB
    list_dot_product), exact-rounded (``_round8_spark_repr``) and ranked
    by (cos DESC, cid ASC) — the round-then-sort total order, tie-breaks
    included.

    Rows with a NULL or zero-norm vector are filtered (cosine is
    undefined for them; NotNullCheck / vector-quality checks own
    flagging). NULL or zero-norm CENTROIDS raise at collect
    time, as does an empty centroid frame. Vectors carrying NaN elements
    pass the filter (NaN > 0 in Spark's ordering), rank every centroid
    LAST with cid-ASC ties, and surface their undefined cosine as NULL."""
    import numpy as np
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    v = v.filter(F.col("ea").isNotNull() & (F.col("na2") > 0))
    cids, Cm, nb2 = _collect_centroids(centroids)  # cid-ascending
    p_eff = min(nprobe, len(cids))
    out_schema = StructType(
        list(v.schema.fields)
        + [StructField("__cid", LongType()), StructField("__cos", DoubleType())]
    )

    # cap the chunk's score-matrix footprint at ~2^22 doubles (~32 MB):
    # an Arrow batch of 10k rows × C=4096 would otherwise allocate a
    # 330 MB screen (plus its temporaries) in EVERY concurrent task —
    # the exact OOM shape this kernel exists to avoid at production C
    chunk_rows = max(1, (1 << 22) // len(cids))

    def kernel(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), chunk_rows):
                sub = pdf.iloc[lo:lo + chunk_rows]
                A = np.vstack(sub["ea"].to_numpy()).astype(np.float64)
                na2 = sub["na2"].to_numpy(dtype=np.float64)
                cols, cos = _settle(
                    _cosines(A, na2, Cm, nb2),
                    lambda i, j: _fold_pairs(A, Cm, i, j) / np.sqrt(na2[i] * nb2[j]),
                    p_eff, 4 * _gamma(A.shape[1]))
                out = sub.iloc[np.repeat(np.arange(len(sub)), p_eff)].reset_index(drop=True)
                out["__cid"] = cids[cols].reshape(-1)
                out["__cos"] = cos.reshape(-1)  # NaN is emitted as NULL
                yield out

    return v.mapInPandas(kernel, out_schema)


def ivf_assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, bucket, cos_to_centroid): nearest centroid by cosine.

    ``centroids``: (vec_id, embedding) — tiny (C rows). Scoring and the
    top-1 pick are both map-side (see ``nearest_centroids``): the corpus
    is never shuffled and never row-multiplied ×C. Ties break on the
    smaller centroid id, matching the oracle's ``ORDER BY cos DESC, cid
    ASC``."""
    v = _with_norm(emb, "a", "ea", "na2")
    out = nearest_centroids(v, centroids, 1)
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


def _pair_cosine(pairs: DataFrame, threshold: float) -> DataFrame:
    """(a, b, ea, eb, na2, nb2) → (a, b, cosine >= threshold). The dot is
    an Arrow-batched ``_fold`` — bit-identical to the JVM fold at
    vectorized-C speed (~10× the HOF fold on O(n²) pair volumes)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def dot(ea, eb):
        if len(ea) == 0:
            return pd.Series([], dtype="float64")
        return pd.Series(_fold(np.vstack(ea.to_numpy()), np.vstack(eb.to_numpy())))

    d = pandas_udf(dot, "double")(F.col("ea"), F.col("eb"))
    cos = F.round(d / F.sqrt(F.col("na2") * F.col("nb2")), 8)
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
    screens its dot-product block against the rerank side in row chunks
    of at most 2^22 scores and returns ONLY the surviving pairs, so the
    O(n²) pair set never materializes as rows and never crosses Arrow
    (measured: the old broadcast-crossJoin + per-pair Arrow verify
    shipped ~2 GB of vector pairs at n=2000 and cost 4-7s; the block
    kernel is <1s). Map-only: no shuffle, no explode. O(n²·d) compute:
    the audit path for rerank sets / per-bucket candidates, never the raw
    corpus. The corpus-scale path is :func:`cosine_near_dup_lsh`, which
    feeds ONLY its LSH candidate pairs through the same fold semantics,
    so its output is a subset of this one (precision 1.0 by construction).

    Value parity: a BLAS matmul screens the block with the bound of
    ``_fold``; every pair it cannot rule out is re-scored by the
    index-order fold, so each emitted dot is the IEEE-754 sequence
    ((0+x₀)+x₁)+… — bit-identical to ``_fold_dot`` and DuckDB's
    ``list_dot_product``. The final cosine (divide, sqrt, ROUND 8) is
    computed JVM-side from that dot; the kernel pre-filters with a 1e-7
    margin so half-up rounding can never drop a qualifying pair."""
    import numpy as np

    b_side = _with_norm(emb, "b", "eb", "nb2").limit(max_rerank_rows + 1)
    bid, Bm, nb2 = _collect_vectors(b_side, "b", "eb", "rerank row", "nb2")
    if len(bid) > max_rerank_rows:
        raise ValueError(
            f"cosine_near_dup_pairs is the bounded audit/rerank path: the "
            f"input exceeds max_rerank_rows={max_rerank_rows}; use "
            f"cosine_near_dup_lsh (or IVF bucketing) for corpus-scale "
            f"near-dup detection."
        )
    a = _with_norm(emb, "a", "ea", "na2")
    chunk_rows = max(1, (1 << 22) // max(1, len(bid)))  # as nearest_centroids

    def blocks(batches):
        import pandas as pd

        for pdf in batches:
            for lo in range(0, len(pdf), chunk_rows):
                sub = pdf.iloc[lo:lo + chunk_rows]
                A = np.vstack(sub["ea"].to_numpy()).astype(np.float64)
                na2 = sub["na2"].to_numpy(dtype=np.float64)
                aid = sub["a"].to_numpy(dtype=np.int64)
                V = _cosines(A, na2, Bm, nb2)
                screen = threshold - 1e-7 - 4 * _gamma(A.shape[1])
                ii, jj = np.nonzero(~(V < screen) & (aid[:, None] < bid[None, :]))
                dot = _fold_pairs(A, Bm, ii, jj)
                keep = dot / np.sqrt(na2[ii] * nb2[jj]) >= threshold - 1e-7
                ii, jj = ii[keep], jj[keep]
                yield pd.DataFrame({
                    "a": aid[ii], "b": bid[jj], "dot": dot[keep],
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
    f = emb.select("vec_id", F.posexplode("embedding").alias("pos", "v"))
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
                      nprobe: int) -> DataFrame:
    """(vec_id, bucket) — each vector's ``nprobe`` nearest centroid
    buckets (probe list). nprobe=1 degenerates to ivf_assign's bucket.

    Map-side like ``ivf_assign``: a narrow ≤nprobe-row fan-out per
    vector, not a shuffle of n×C scored pairs."""
    v = _with_norm(emb, "a", "ea", "na2")
    out = nearest_centroids(v, centroids, nprobe)
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


def _pq_nearest(X, Cb, cc):
    """(code, ROUND-8 dist²) of the L2-nearest row of the codebook ``Cb``
    (norms² ``cc``) for every row of ``X``: ``_settle`` over −dist²."""
    import numpy as np

    xx, d = _fold(X, X), X.shape[1]
    tame = cc <= 2.0 ** 500
    reach = (np.sqrt(xx) + np.sqrt(cc[tame].max(initial=0.0))) ** 2
    V = -((xx[:, None] - 2.0 * (X @ Cb.T)) + cc[None, :])
    V[:, ~tame] = np.nan
    V[~(reach <= 2.0 ** 1000)] = np.nan  # folded outright
    delta = 8 * _gamma(d) * np.fmin(reach, 2.0 ** 1000) + d * 2.0 ** -1070
    cols, vals = _settle(
        V, lambda i, j: -((xx[i] - 2.0 * _fold_pairs(X, Cb, i, j)) + cc[j]),
        1, delta)
    return cols[:, 0], -vals[:, 0]


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
    Cross-engine exactness: dist² = ROUND(xx − 2·xc + cc, 8) where xx,
    xc and cc are index-order folds (``_fold``, bit-identical to DuckDB
    ``list_dot_product`` on the same slices) and d2 keeps the oracle
    expression's association order. Per subspace one BLAS matmul screens
    every code; only the codes within a provable band of the best
    (``_settle``) get the exact xc, and those within 2e-8 of the exact
    best are exact-rounded (``_round8_spark_repr``) and ranked by (d2
    ASC, code ASC). NaN distances rank last; an all-NaN subspace gives
    (code 0, NULL). Rows with a NULL embedding are filtered
    (unencodable)."""
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
    ccs = _fold(Cbs, Cbs)                                # [m, K]
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
                codes[:, s], d2s[:, s] = _pq_nearest(
                    A[:, s * d:(s + 1) * d], Cbs[s], ccs[s])
            out = pdf.copy()
            out["codes"] = list(codes)
            out["dist2s"] = list(d2s)  # NaN is emitted as NULL
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
    entries are index-order folds (``_fold`` == DuckDB
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
            F.lit(float(_fold(q[s * d:(s + 1) * d], code_vec)))
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
    the SAME arithmetic as the engine expressions: index-order folds
    (``_fold``) and Spark's ROUND(x, 8) (``_round8_spark_repr``: HALF_UP
    on the shortest decimal repr, as DuckDB ROUND also rounds), so every
    engine reproduces the probe set."""
    import numpy as np

    cids, Cm, nb2 = _collect_centroids(centroids)
    cos = _fold(q, Cm) / np.sqrt(_fold(q, q) * nb2)
    ranked = sorted((-_round8_spark_repr(c), int(i)) for c, i in zip(cos, cids))
    return [cid for _, cid in ranked[:n_probe]]


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
