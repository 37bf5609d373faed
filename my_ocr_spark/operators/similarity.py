"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exact baseline: broadcast the (small)
  query set against the corpus, dot product as an explicit left-to-right
  double fold (bit-identical to the DuckDB oracle's list fold)
* LSH-bucketed ANN — the scale path: random-hyperplane sign buckets
  (fixed seed) shrink the candidate set; exact rescoring within buckets

At 100 TB the corpus side stays partitioned and is scanned once; only the
query set is broadcast. The LSH variant replaces the full scan per query
with a bucket equi-join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F, types as T

from my_ocr_spark.session import map_batches, map_groups, spread_small_scan


def _dot(a, b):
    """Explicit left-to-right fold — deterministic summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y:
                   x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("_norm", F.sqrt(_dot(F.col(vec_col),
                                              F.col(vec_col))))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine: broadcast queries × scan corpus once.

    Output: (query_id, neighbor_id, rank, cos). Ties broken by
    neighbor_id ascending (stable, engine-independent).

    The per-pair cosine is a vectorized d-major numpy fold inside one
    Arrow-batched stage: for every pair the dot/norm additions happen
    in the SAME left-to-right dimension order as the ``_dot`` Catalyst
    fold (one column multiply + add per dimension, no FMA, no
    reassociation), so results are bit-identical to the JVM form and
    the DuckDB oracle — verified byte-equal. The JVM form evaluated an
    interpreted zip_with+aggregate expression tree per pair (HOFs are
    outside codegen): measured 1.9-2.0 s vs 1.05 s at sf1.0 for the
    20k x 10 pair sweep."""
    c = spread_small_scan(corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec")))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("_qvec"))
    j = (c.crossJoin(F.broadcast(q))
         .filter(F.col("neighbor_id") != F.col("query_id")))

    def cosine_scores(neighbor_id, cvec, query_id, qvec):
        cm = np.stack([np.asarray(v, np.float64) for v in cvec])
        qm = np.stack([np.asarray(v, np.float64) for v in qvec])
        n, dim = cm.shape
        dot = np.zeros(n)
        cn = np.zeros(n)
        qn = np.zeros(n)
        for d in range(dim):
            x = cm[:, d]
            y = qm[:, d]
            dot += x * y
            cn += x * x
            qn += y * y
        return query_id, neighbor_id, dot / (np.sqrt(cn) * np.sqrt(qn))

    sc = map_batches(j, cosine_scores,
                     "query_id bigint, neighbor_id bigint, cos double")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("neighbor_id"))
    return (sc.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= k)
              .select("query_id", "neighbor_id",
                      F.col("rank").cast("int").alias("rank"), "cos"))


_BUCKET_SCHEMA = T.StructType([
    T.StructField("vid", T.LongType(), False),
    T.StructField("bucket", T.IntegerType(), False),
])


def _hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    rng = np.random.RandomState(42)  # fixed seed → same planes everywhere
    return rng.randn(n_planes, dim).astype(np.float64)


def lsh_buckets(df: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding", dim: int = 64,
                n_planes: int = 8) -> DataFrame:
    """Random-hyperplane sign bucket per vector (vectorized numpy batch)."""
    planes = _hyperplanes(dim, n_planes)

    def hyperplane_buckets(ids, vecs):
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        # explicit left-to-right fold over dims (vectorized over rows)
        # instead of BLAS matmul: BLAS blocks/reorders the summation, so
        # a dot product within rounding error of zero could bucket
        # differently from any other evaluation order. This order is
        # the one the DuckDB oracle reproduces — bucket assignment
        # becomes a pure deterministic function.
        dots = np.zeros((len(mat), n_planes))
        for d in range(mat.shape[1]):
            dots += mat[:, d:d + 1] * planes.T[d:d + 1, :]
        return ids, (dots > 0).dot(1 << np.arange(n_planes))

    return map_batches(df.select(id_col, vec_col), hyperplane_buckets,
                       _BUCKET_SCHEMA)


_PAIR_EDGE_SCHEMA = T.StructType([
    T.StructField("src", T.LongType(), False),
    T.StructField("dst", T.LongType(), False),
])


def cell_cosine_edges(nv: DataFrame, threshold: float,
                      id_col: str = "vec_id", vec_col: str = "v",
                      bucket_col: str = "bucket",
                      norm_col: str = "nrm") -> DataFrame:
    """All-pairs exact-cosine duplicate edges WITHIN each cell — the
    SemDeDup pair-verify as one grouped map, replacing
    [bucket self-join -> Catalyst fold filter]. Two wins that both
    grow with scale: each vector crosses Arrow ONCE instead of once
    per candidate pair (the join shipped O(sum per-cell²) fat vector
    pairs — measured ~195 MB vs ~1.3 MB at sf0.1), and the cosine is a
    vectorized numpy accumulation instead of an interpreted expression
    tree per pair.

    Bit-exact vs the Catalyst formulation by construction: the per-pair
    dot accumulates in the SAME per-dimension left-to-right order as
    ``_dot``'s ``acc + x`` fold (per-dim outer products, loop over
    dims — the lsh_buckets pattern), and ``dot / (nrm_i * nrm_j)``
    matches the expression op-for-op, so swapping implementations
    changes no output and no oracle.

    Compute stays sum-of-per-cell² (the SemDeDup contract — cells are
    bounded by the codebook size); ids sorted per cell so emitted
    (src, dst) always has src < dst. Cells of < 2 vectors emit
    nothing."""
    def cell_pairs(cell, ids, vecs, nrm):
        n = len(ids)
        if n < 2:
            return (), ()
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        # Row-blocked upper triangle, d-major accumulation. For every
        # pair the additions are the SAME IEEE ops in the SAME order as
        # the _dot fold (multiply into a preallocated buffer, add into
        # the accumulator, d sequential — no FMA, no reassociation), so
        # bit-exactness is preserved by construction; blocking only
        # restricts which (i, j) rectangles are materialized. vs the
        # previous full-n² rank-1 form: ~half the flops (j >= block
        # start only) and no 64 transient n² allocations — measured
        # 2.4 s -> 1.3 s for the sf1.0 16-cell verify. (A BLAS matmul
        # measured bit-identical here but its k-loop order/FMA use is
        # an implementation detail of the local BLAS — rejected to keep
        # cross-engine parity provable, not empirical.)
        D = mat.shape[1]
        B = 512
        tmp = np.empty((min(B, n), n))
        srcs, dsts = [], []
        for b0 in range(0, n - 1, B):
            b1 = min(b0 + B, n)
            nb = b1 - b0
            sub = mat[b0:b1]
            rest = mat[b0:]
            acc = np.zeros((nb, n - b0))
            t = tmp[:nb, :n - b0]
            for d in range(D):
                np.multiply(sub[:, d][:, None], rest[:, d][None, :],
                            out=t)
                np.add(acc, t, out=acc)
            cos = acc / (nrm[b0:b1][:, None] * nrm[b0:][None, :])
            iu, ju = np.nonzero(cos >= threshold)
            keep = ju > iu  # strict upper triangle in global indexing
            srcs.append(ids[b0 + iu[keep]])
            dsts.append(ids[b0 + ju[keep]])
        return np.concatenate(srcs), np.concatenate(dsts)

    return map_groups(nv.select(bucket_col, id_col, vec_col, norm_col),
                      bucket_col, cell_pairs, _PAIR_EDGE_SCHEMA,
                      order=[id_col])


def ivf_assign(df: DataFrame, centroids, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse quantizer).

    ``centroids``: small int64 numpy array (n_centroids, dim) from
    ``train_centroids_kmeans``, broadcast into the UDF closure — the
    codebook stays driver-side and tiny; the corpus is scanned once,
    never shuffled. Distances are exact integers on quantized vectors
    (see IVF_SCALE), so assignment is order-independent and
    cross-engine reproducible; ties go to the lowest cell (argmin)."""
    cent = np.asarray(centroids, dtype=np.int64)

    def nearest_cell(ids, vecs):
        return ids, _cell_distances(vecs, cent).argmin(axis=1)

    return map_batches(df.select(id_col, vec_col), nearest_cell,
                       _BUCKET_SCHEMA)


def _cell_distances(vecs, cent):
    """Exact int64 squared-L2 distance of each quantized vector (an
    object array of float arrays) to each centroid: (n, n_centroids)."""
    q = quantize_vecs(np.stack([np.asarray(v, dtype=np.float64)
                                for v in vecs]))
    return ((q[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)


# Quantization scale for the IVF coarse quantizer: cell geometry lives in
# exact integer space so Lloyd iterations / assignments are bit-free of
# float summation order (the rescoring stage still uses the original
# float vectors). 256 keeps ~2 decimal digits of the unit-ish embeddings.
IVF_SCALE = 256


def quantize_vecs(mat):
    """floor(x*SCALE + 0.5) — same double ops as the SQL twin, exact."""
    return np.floor(np.asarray(mat, dtype=np.float64) * IVF_SCALE
                    + 0.5).astype(np.int64)


def train_centroids_kmeans(df: DataFrame, n_centroids: int = 16,
                           n_iter: int = 5, sample_n: int = 2048,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding"):
    """Deterministic quantized mini k-means for the IVF codebook: the
    sample is the ``sample_n`` vectors with the LOWEST md5(id) (ties →
    lower id), seed centroids its first ``n_centroids`` rows in that
    order — no RNG, and (unlike an ``id < n`` head) independent of the
    id space, so sparse-hash ids on a real corpus still yield a full,
    unskewed sample. md5 rather than xxhash64 keeps the rule replayable
    in the DuckDB oracle (hex strings compare identically in both
    engines). At scale the sample is a bounded top-n (TakeOrdered, no
    full sort) — codebook training never touches the full corpus.

    All Lloyd arithmetic is exact int64 on quantized vectors (squared-L2
    distances, floor-div means, empty cells keep their centroid), so the
    codebook is a pure function of the sample — reproducible in SQL —
    rather than depending on float summation order."""
    rows = (df.select(F.col(id_col).alias("_id"),
                      F.col(vec_col).alias("_v"))
              .withColumn("_h", F.md5(F.col("_id").cast("string")))
              .orderBy("_h", "_id").limit(sample_n).collect())
    if not rows:
        raise ValueError("train_centroids_kmeans: empty input corpus")
    # re-sort driver-side so the codebook never depends on plan quirks
    rows.sort(key=lambda r: (r["_h"], r["_id"]))
    x = quantize_vecs(np.stack([np.asarray(r["_v"], dtype=np.float64)
                                for r in rows]))
    cent = x[:n_centroids].copy()
    for _ in range(n_iter):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(n_centroids):
            m = x[assign == c]
            if len(m):
                cent[c] = np.floor_divide(m.sum(axis=0), len(m))
    return cent


def ivf_ann_topk(corpus: DataFrame, queries: DataFrame, centroids,
                 k: int = 3, n_probe: int = 2, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """IVF ANN: corpus partitioned into centroid cells, each query probes
    its ``n_probe`` nearest cells, exact cosine rescoring within cells.
    Approximate (recall dial = n_probe); at scale this is a bucket
    equi-join instead of a full scan per query. Cell choice uses the
    same exact-integer metric as assignment (ties → lower cell)."""
    cent = np.asarray(centroids, dtype=np.int64)

    cb = ivf_assign(corpus, cent, id_col, vec_col)
    c = (corpus.join(cb, corpus[id_col] == cb.vid)
               .select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("_cvec"), "bucket"))

    def probe_cells(ids, vecs):
        # stable sort: equal distances probe the lower cell first
        order = np.argsort(_cell_distances(vecs, cent), axis=1,
                           kind="stable")[:, :n_probe]
        return np.repeat(ids, order.shape[1]), order.reshape(-1)

    qb = map_batches(queries.select(id_col, vec_col), probe_cells,
                     _BUCKET_SCHEMA)
    q = (queries.join(qb, queries[id_col] == qb.vid)
                .select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("_qvec"), "bucket"))
    c = c.withColumn("_cnorm", F.sqrt(_dot("_cvec", "_cvec")))
    q = q.withColumn("_qnorm", F.sqrt(_dot("_qvec", "_qvec")))
    j = (c.join(F.broadcast(q), "bucket")
         .filter(F.col("neighbor_id") != F.col("query_id"))
         .withColumn("cos", _dot("_cvec", "_qvec")
                     / (F.col("_cnorm") * F.col("_qnorm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("neighbor_id"))
    return (j.withColumn("rank", F.row_number().over(w))
             .filter(F.col("rank") <= k)
             .select("query_id", "neighbor_id",
                     F.col("rank").cast("int").alias("rank"), "cos")
             .distinct())


def lsh_ann_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 dim: int = 64, n_planes: int = 8) -> DataFrame:
    """ANN top-k: bucket equi-join then exact cosine rescoring.

    Approximate (a true neighbor in another bucket is missed — the
    recall/cost dial is n_planes); at scale this turns a full-corpus scan
    per query into a bucket-local join."""
    cb = lsh_buckets(corpus, id_col, vec_col, dim, n_planes)
    qb = lsh_buckets(queries, id_col, vec_col, dim, n_planes)
    c = (corpus.join(cb, corpus[id_col] == cb.vid)
               .select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("_cvec"), "bucket"))
    q = (queries.join(qb, queries[id_col] == qb.vid)
                .select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("_qvec"), "bucket"))
    c = c.withColumn("_cnorm", F.sqrt(_dot("_cvec", "_cvec")))
    q = q.withColumn("_qnorm", F.sqrt(_dot("_qvec", "_qvec")))
    j = (c.join(F.broadcast(q), "bucket")
         .filter(F.col("neighbor_id") != F.col("query_id"))
         .withColumn("cos", _dot("_cvec", "_qvec")
                     / (F.col("_cnorm") * F.col("_qnorm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("neighbor_id"))
    return (j.withColumn("rank", F.row_number().over(w))
             .filter(F.col("rank") <= k)
             .select("query_id", "neighbor_id",
                     F.col("rank").cast("int").alias("rank"), "cos"))
