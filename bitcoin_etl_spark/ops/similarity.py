"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; the scale path is
random-hyperplane LSH bucketing so the candidate join is an equi-join on
bucket signature (shuffle O(n), not O(n²)). Hyperplanes are derived
deterministically from md5 so results are reproducible and
oracle-checkable."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F


def _dbl(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_to_query_udf(query: list[float]):
    """Arrow-vectorized cosine against one query vector — the PRODUCTION
    scoring path. Catalyst's higher-order `aggregate`/`zip_with` lambdas
    are interpreted per element (~0.4 ms/row per core at 768 dims), which
    makes the brute-force scan compute-bound long before shuffle matters;
    one numpy matmul per Arrow batch moves the bottleneck to Arrow
    transfer of the vectors. Measured 200k × 768-dim rows, 8 cores:
    exact 9.95 s (49.8 us/row) vs this path 1.66 s (8.3 us/row) — 6x
    end-to-end, and the gap widens with dim since transfer is O(dim)
    with a far smaller constant than an interpreted-lambda multiply-add.
    Kept OUT of the oracle-checked queries: numpy's pairwise summation
    can differ from a sequential SQL fold in the last ulp, and the hash
    gate is exact — `cosine()` above stays the engine-portable
    reference, and `test_cosine_fast_matches_exact` pins this path to
    it within 1e-9."""
    from pyspark.sql.functions import pandas_udf

    qv = np.asarray(query, dtype=np.float64)
    qn = float(np.sqrt((qv * qv).sum()))

    @pandas_udf("double")
    def cos(col: pd.Series) -> pd.Series:
        m = np.stack(col.to_numpy())  # (batch, dim) float
        m = m.astype(np.float64, copy=False)
        num = m @ qv
        den = np.sqrt((m * m).sum(axis=1)) * qn
        return pd.Series(num / den)

    return cos


def cosine_topk_fast(df: DataFrame, query: list[float], k: int = 10,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """`cosine_topk` with the Arrow-vectorized scorer — same distributed
    TakeOrdered top-k, ~100x cheaper scan. Use this at corpus scale;
    use `cosine_topk` where bit-exact SQL portability matters."""
    cos = cosine_to_query_udf(query)
    scored = df.select(F.col(id_col), cos(F.col(vec_col)).alias("cos"))
    return ranked_topk(scored, k, "cos", id_col)


MAX_RANKED_TOPK = 100_000
"""Upper bound on ``ranked_topk``'s k: the ≤k survivors are collected to
the driver for rank stamping, so an unbounded k would turn a top-k probe
into a driver-side materialization of the corpus."""


def ranked_topk(scored: DataFrame, k: int, order_col: str = "cos",
                id_col: str = "vec_id") -> DataFrame:
    """Distributed top-k with a ``rank`` column.

    EAGER: calling this runs the scan job immediately (the TakeOrdered
    result — ≤k rows — is collected once for driver-side rank stamping)
    and returns a small driver-local DataFrame, unlike the engine's
    otherwise-lazy ops. ``k`` is bounded by ``MAX_RANKED_TOPK`` so the
    driver collect stays k-sized, never corpus-sized.

    ``orderBy(...).limit(k)`` plans as TakeOrderedAndProject — each task
    keeps its local top-k and the driver merges k×partitions rows — so
    no scored row funnels through a single-partition global sort (the
    ``WindowExec: No Partition Defined`` anti-pattern this replaces; a
    global window can't be used even on the survivors without
    re-triggering it, since Catalyst folds constant partition keys away).
    The ≤k survivors are collected ONCE and ranks stamped driver-side
    (they arrive already in (order_col desc, id asc) total order, so
    rank = position). k rows on the driver is exactly what TakeOrdered
    produces anyway; the earlier broadcast-self-join variant planned the
    TakeOrdered subtree twice and re-ran the full upstream scan for the
    rank join — 2× the scan cost for zero extra information."""
    from pyspark.sql import types as T

    if not 0 < k <= MAX_RANKED_TOPK:
        raise ValueError(
            f"ranked_topk k={k} outside (0, {MAX_RANKED_TOPK}]: the top-k "
            "survivors are collected driver-side for rank stamping"
        )
    order = [F.desc(order_col), F.asc(id_col)]
    top = scored.orderBy(*order).limit(k)
    rows = top.collect()
    schema = T.StructType(
        list(top.schema.fields) + [T.StructField("rank", T.IntegerType(), False)]
    )
    data = [tuple(r) + (i + 1,) for i, r in enumerate(rows)]
    return scored.sparkSession.createDataFrame(data, schema)


def cosine_topk(df: DataFrame, query: list[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Brute-force top-k vs one query vector: broadcast the query as a
    literal array, score in one scan, distributed TakeOrdered top-k."""
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = df.select(
        F.col(id_col), cosine(_dbl(F.col(vec_col)), q).alias("cos")
    )
    return ranked_topk(scored, k, "cos", id_col)


def _hyperplanes(dim: int, n_planes: int, seed: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random ±1 hyperplanes from md5 bits."""
    planes = []
    for p in range(n_planes):
        bits = []
        need = dim
        ctr = 0
        while len(bits) < need:
            h = hashlib.md5(f"{seed}:{p}:{ctr}".encode()).digest()
            for byte in h:
                for i in range(8):
                    bits.append(1.0 if (byte >> i) & 1 else -1.0)
            ctr += 1
        planes.append(bits[:dim])
    return planes


def lsh_bucket(vec_col: Column, dim: int, n_planes: int = 8,
               seed: int = 0) -> Column:
    """Random-hyperplane signature: bit p = sign(v · h_p). Returns a
    long bucket id in [0, 2^n_planes)."""
    v = _dbl(vec_col)
    sig = F.lit(0).cast("long")
    for p, plane in enumerate(_hyperplanes(dim, n_planes, seed)):
        h = F.array(*[F.lit(x) for x in plane])
        bit = (dot(v, h) >= 0).cast("long")
        sig = sig + F.shiftleft(bit, p)
    return sig


def ivf_assign(df: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding",
               cent_id: str = "centroid_id",
               cent_vec: str = "centroid") -> DataFrame:
    """IVF coarse quantization: assign every vector to its max-cosine
    centroid. Centroid set is small → broadcast; the assignment is a
    narrow map over the data (K cosines per row), and downstream
    candidate search becomes an equi-join on centroid_id — the
    inverted-file property that caps shuffle at O(n), never O(n²).

    The argmax is a map-side-partial ``max_by`` aggregate (ties broken
    toward the LOWER centroid_id via a (cos, -id) sort key), not a
    per-key window: the n×K scored rows collapse to n on the map side
    before the one hash shuffle, instead of shuffling all n×K rows into
    window partitions."""
    # hinted: K centroid rows, a bound Spark cannot see in a filter
    j = df.crossJoin(F.broadcast(centroids))
    scored = j.select(
        id_col, vec_col, cent_id,
        cosine(_dbl(F.col(vec_col)), _dbl(F.col(cent_vec))).alias("_cos"),
    )
    best = F.max_by(
        F.col(cent_id),
        F.struct(F.col("_cos"), (-F.col(cent_id)).alias("_nid")),
    )
    return (
        scored.groupBy(id_col, vec_col)
        .agg(best.alias(cent_id))
        .select(id_col, vec_col, cent_id)
    )


def embedding_near_dup_pairs(df: DataFrame, dim: int,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             n_planes: int = 8,
                             min_cosine: float = 0.95,
                             n_tables: int = 2) -> DataFrame:
    """Embedding-cosine near-dup: candidates from ``n_tables``
    independent LSH bucketings, verified by exact cosine.
    Shuffle = O(n × tables) bucket rows + candidate verification.

    Shape (r06): every table's bucket is computed ONCE per row in a
    single spread + barriered projection (the former per-table union
    self-join re-evaluated the 8-hyperplane interpreted dot products
    once per join SIDE per table); the band self-join carries ONLY
    (id, bucket columns) — never the vectors — and emits each
    qualifying pair only from its FIRST agreeing table (the per-row
    bucket columns make "no earlier table agreed" a cheap join
    condition), so the former wide (id, va, vb) dropDuplicates shuffle
    is gone; the candidate id pairs are re-spread (the small join
    output AQE-coalesces to one partition, which would single-task the
    million-candidate cosine verify) and vectors are attached by two
    id equi-joins only for verification. Result set identical. Building
    the frame runs a job: a batch input's buckets are
    ``localCheckpoint``ed eagerly."""
    from .dedup import _spread

    # spread before the interpreted hyperplane dot products: a single
    # embeddings file otherwise pins the whole bucket computation to
    # its scan-task count
    bcols = _spread(df, id_col).select(
        F.col(id_col), F.col(vec_col),
        *[
            lsh_bucket(F.col(vec_col), dim, n_planes, seed=t)
            .alias(f"_bk{t}")
            for t in range(n_tables)
        ],
    )
    streaming = df.isStreaming
    # barrier: bcols feeds the band self-join and both vector attaches;
    # without it sf0.1 ann_embedding_near_dup plans 30 stages, not 17
    if not streaming:
        bcols = bcols.localCheckpoint()
    tab_arr = F.array(*[
        F.struct(F.lit(t).alias("tab"), F.col(f"_bk{t}").alias("bucket"))
        for t in range(n_tables)
    ])
    bk = [f"_bk{t}" for t in range(n_tables)]
    slim = bcols.select(
        F.col(id_col), *bk, F.explode(tab_arr).alias("_tb")
    ).select(id_col, *bk, "_tb.tab", "_tb.bucket")
    a_, b_ = slim.alias("a"), slim.alias("b")
    first_tab = None
    for t in range(n_tables):
        no_earlier = F.lit(True)
        for s in range(t):
            no_earlier = no_earlier & (
                F.col(f"a._bk{s}") != F.col(f"b._bk{s}")
            )
        branch = (F.col("a.tab") == t) & no_earlier
        first_tab = branch if first_tab is None else (first_tab | branch)
    cand = (
        a_.join(
            b_,
            (F.col("a.tab") == F.col("b.tab"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & first_tab,
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
    )
    va = bcols.select(F.col(id_col).alias("id_a"),
                      F.col(vec_col).alias("va"))
    vb = bcols.select(F.col(id_col).alias("id_b"),
                      F.col(vec_col).alias("vb"))
    if not streaming:
        # single consumer: a plain repartition (no checkpoint) spreads
        # the verify — the small band-join output otherwise AQE-
        # coalesces to one partition and single-tasks the
        # million-candidate cosine evaluation
        par = df.sparkSession.sparkContext.defaultParallelism
        cand = cand.repartition(par)
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cos", cosine(_dbl(F.col("va")), _dbl(F.col("vb"))))
        .filter(F.col("cos") >= min_cosine)
        .select("id_a", "id_b", "cos")
    )


def pq_centroids(dim: int, m: int = 4, k: int = 4,
                 seed: int = 0) -> list[list[list[float]]]:
    """Deterministic PQ codebook: ``m`` subspaces × ``k`` centroids of
    ``dim//m`` components each, one-decimal values in [-0.9, 0.9]
    derived from md5 bits — exactly representable as the SAME double in
    any engine that parses the literal, so the full quantizer is
    reproducible in a SQL oracle (a trained k-means codebook drops in
    with no code change; see ann_kmeans_step for the training step)."""
    sub = dim // m
    books = []
    for j in range(m):
        cents = []
        for c in range(k):
            vals = []
            ctr = 0
            while len(vals) < sub:
                h = hashlib.md5(f"pq:{seed}:{j}:{c}:{ctr}".encode()).digest()
                for byte in h:
                    vals.append(((byte % 19) - 9) / 10.0)
                ctr += 1
            cents.append(vals[:sub])
        books.append(cents)
    return books


def pq_encode(df: DataFrame, vec_col: str = "embedding",
              id_col: str = "vec_id", dim: int = 64, m: int = 4,
              k: int = 4, seed: int = 0,
              keep: tuple[str, ...] = ()) -> DataFrame:
    """Product-quantization encode: split each vector into ``m``
    subvectors and replace each with the id of its nearest codebook
    centroid (squared L2, first-minimum tie-break) — the memory-scale
    path for billion-vector ANN (codes are m bytes instead of dim
    floats; IVF-PQ = ivf_assign coarse cells + these codes).

    Plan shape: pure Column arithmetic over the scan — the per-subspace
    distances are explicit left-associated term chains (identical
    evaluation order to the generated SQL oracle, so the doubles are
    bit-reproducible), argmin is a CASE cascade; no UDF, no shuffle, no
    join. O(dim × k) flops per row, all inside whole-stage codegen."""
    books = pq_centroids(dim, m, k, seed)
    sub = dim // m
    v = _dbl(F.col(vec_col))
    out_cols = [F.col(id_col)] + [F.col(c) for c in keep]
    for j, cents in enumerate(books):
        dists = []
        for cvals in cents:
            terms = None
            for i, cv in enumerate(cvals):
                e = F.element_at(v, j * sub + i + 1) - F.lit(cv)
                t = e * e
                terms = t if terms is None else terms + t
            dists.append(terms)
        code = None
        cases = []
        for c in range(k - 1):
            cond = None
            for o in range(c + 1, k):
                le = dists[c] <= dists[o]
                cond = le if cond is None else cond & le
            cases.append((cond, c))
        code = F.when(cases[0][0], F.lit(0))
        for cond, c in cases[1:]:
            code = code.when(cond, F.lit(c))
        code = code.otherwise(F.lit(k - 1))
        out_cols.append(code.cast("int").alias(f"code_{j}"))
    return df.select(*out_cols)
