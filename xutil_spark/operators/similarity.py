"""Similarity search over embedding columns (array<float>).

* ``cosine_topk_brute``  — exact baseline: cross join query×corpus with
  the dot product as a builtin higher-order expression (zip_with +
  aggregate, JVM-side, no Python), window top-k.
* ``cosine_topk_lsh``    — scale path: random-hyperplane LSH buckets
  (sign bits of h deterministic projections) shrink the candidate set;
  exact re-scoring inside buckets.  Probes neighbor buckets by flipping
  one bit to recover near-boundary misses.
* ``embedding_near_dup_pairs`` — all pairs with cosine ≥ τ (bucketed).

Scores are computed in float64 and rounded to 6 dp before ranking so
results are stable across engines (oracle comparison) and partitionings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xutil_spark.plans.layout import spread


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_score(a, b) -> Column:
    """cos(a, b) in float64 (builtin expressions, codegen'd)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk_brute(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: broadcast the corpus and rank per query.
    The ``q_id != nn_id`` join is a non-equi join, so the broadcast
    corpus is what keeps it a broadcast nested-loop join.

    Output: (q_id, c_id aliased nn_id, score, rank)."""
    # spread the query side so a small scan does not serialize the
    # q×corpus dot products
    q = spread(queries.select(F.col(q_id).alias("q_id"), F.col(q_vec).alias("_qv")))
    c = F.broadcast(corpus.select(F.col(c_id).alias("nn_id"), F.col(c_vec).alias("_cv")))
    scored = (
        q.join(c, F.col("q_id") != F.col("nn_id"), "inner")
        .withColumn("score", F.round(cosine_score(F.col("_qv"), F.col("_cv")), 6))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "nn_id", "score", "rank")
    )


def _hyperplanes(dim: int, n_bits: int, seed: int = 42) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (no RNG state: splitmix64
    expanded to uniform floats)."""
    from xutil_spark.data.synth import splitmix64

    idx = np.arange(dim * n_bits, dtype=np.int64) + seed * 1_000_003
    u = (splitmix64(idx).astype(np.uint64) >> np.uint64(11)).astype(np.float64)
    u = u / float(1 << 53) - 0.5
    return u.reshape(n_bits, dim)


def lsh_bucket_udf(dim: int, n_bits: int = 12, seed: int = 42):
    """pandas UDF: embedding → LSH bucket id (sign bits of projections),
    one matmul per Arrow batch."""
    from pyspark.sql.functions import pandas_udf

    planes = _hyperplanes(dim, n_bits, seed)

    def f(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (mat @ planes.T) > 0
        weights = (1 << np.arange(n_bits, dtype=np.int64))
        return pd.Series(bits @ weights)

    f.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return pandas_udf(f, "long")


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_bits: int = 8,
    n_tables: int = 4,
    probe_bits: int = 1,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH.

    Both sides are bucketed in ``n_tables`` independent tables of
    ``n_bits`` sign bits; queries additionally multiprobe hamming-1
    buckets; union of bucket joins, exact cosine re-score, top-k.

    At 10^12 scale the bucket join replaces the cross join.  Recall
    depends on data geometry: high for clustered/near-dup embeddings
    (the real workload — tested ≥0.9 on planted clusters), inherently
    low for uniform-random vectors where no locality exists."""
    c = corpus.select(F.col(c_id).alias("nn_id"), F.col(c_vec).alias("_cv"))
    q0 = queries.select(F.col(q_id).alias("q_id"), F.col(q_vec).alias("_qv"))
    scored_parts = []
    for t in range(n_tables):
        bucket = lsh_bucket_udf(dim, n_bits, seed=42 + t)
        ct = c.withColumn("bucket", bucket(F.col("_cv")))
        qt = q0.withColumn("_b0", bucket(F.col("_qv")))
        flips = [F.col("_b0")]
        if probe_bits:
            flips += [F.col("_b0").bitwiseXOR(F.lit(1 << b)) for b in range(n_bits)]
        qt = qt.withColumn("bucket", F.explode(F.array(*flips))).drop("_b0")
        scored_parts.append(
            qt.join(ct, on="bucket", how="inner").select("q_id", "nn_id", "_qv", "_cv")
        )
    cand = scored_parts[0]
    for p in scored_parts[1:]:
        cand = cand.unionByName(p)
    scored = (
        cand.filter(F.col("q_id") != F.col("nn_id"))
        .dropDuplicates(["q_id", "nn_id"])
        .withColumn("score", F.round(cosine_score(F.col("_qv"), F.col("_cv")), 6))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "nn_id", "score", "rank")
    )


def ivf_train_centroids(
    corpus: DataFrame, dim: int, n_lists: int = 16, iters: int = 5,
    c_vec: str = "embedding", sample: int = 100_000,
) -> np.ndarray:
    """Deterministic spherical k-means coarse quantizer for IVF.

    Trains on a bounded corpus sample collected to the driver (the
    standard IVF recipe — the quantizer is dim-scale even when the
    corpus is not): init = splitmix-derived unit vectors, ``iters``
    Lloyd rounds with max-dot assignment, empty lists re-seeded
    deterministically.  Returns (n_lists, dim) unit rows."""
    from xutil_spark.data.synth import splitmix64

    pdf = corpus.select(c_vec).limit(sample).toPandas()
    x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[c_vec]])
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    idx = np.arange(n_lists * dim, dtype=np.int64) + 777
    cent = (splitmix64(idx).astype(np.float64) / 2**63 - 1.0).reshape(n_lists, dim)
    cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    for _ in range(iters):
        assign = (x @ cent.T).argmax(axis=1)
        for j in range(n_lists):
            m = assign == j
            if m.any():
                c = x[m].sum(axis=0)
                n = np.linalg.norm(c)
                if n > 1e-12:
                    cent[j] = c / n
            else:  # re-seed an empty list from a deterministic member
                cent[j] = x[(j * 2654435761) % len(x)]
    return cent


def _ivf_assign_udf(cent: np.ndarray, nprobe: int):
    """pandas UDF: embedding → its ``nprobe`` nearest-centroid list ids
    (one matmul + argpartition per Arrow batch)."""
    from pyspark.sql.functions import pandas_udf

    def f(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        d = mat @ cent.T
        if nprobe >= cent.shape[0]:
            lists = np.tile(np.arange(cent.shape[0]), (len(mat), 1))
        else:
            sel = np.argpartition(-d, nprobe - 1, axis=1)[:, :nprobe]
            lists = np.take_along_axis(
                sel, np.argsort(-np.take_along_axis(d, sel, axis=1), axis=1),
                axis=1,
            )
        return pd.Series([r.astype("int32").tolist() for r in lists])

    f.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return pandas_udf(f, "array<int>")


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: coarse-quantizer inverted lists.

    Corpus vectors bucket to their single nearest centroid; queries
    probe their ``nprobe`` nearest lists; the list-id equi-join replaces
    the cross join; exact cosine re-score + window top-k.  At 10^12
    scale the corpus shuffles ONCE on list id (or is bucketed-by-list at
    rest) and each query touches nprobe/n_lists of it.

    ``nprobe >= n_lists`` probes every list — exact, equal to the brute
    path (oracle-tested); smaller nprobe trades recall for the scan
    fraction (recall pinned on clustered embeddings in pytest)."""
    cent = ivf_train_centroids(corpus, dim, n_lists, c_vec=c_vec)
    c_assign = _ivf_assign_udf(cent, 1)
    q_assign = _ivf_assign_udf(cent, nprobe)
    c = corpus.select(F.col(c_id).alias("nn_id"), F.col(c_vec).alias("_cv"))
    c = c.withColumn("list_id", F.element_at(c_assign(F.col("_cv")), 1))
    q = queries.select(F.col(q_id).alias("q_id"), F.col(q_vec).alias("_qv"))
    q = q.withColumn("list_id", F.explode(q_assign(F.col("_qv"))))
    scored = (
        q.join(c, on="list_id", how="inner")
        .filter(F.col("q_id") != F.col("nn_id"))
        .withColumn("score", F.round(cosine_score(F.col("_qv"), F.col("_cv")), 6))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "nn_id", "score", "rank")
    )


def _allpairs_cosine_np(
    df: DataFrame, threshold: float, id_col: str, vec_col: str
) -> DataFrame:
    """Exact cosine ≥ τ pairs by blocked matmul (see caller docstring).

    Scores are float64, rounded to 6 dp before the threshold filter —
    bit-identical to the expression path for every non-boundary value
    (differences are last-ulp summation-order artifacts ~1e-15)."""
    spark = df.sparkSession
    src = df.select(F.col(id_col), F.col(vec_col))
    pdf = src.toPandas()
    ids = pdf[id_col].to_numpy()
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    id_ddl = [f.dataType.simpleString() for f in src.schema.fields
              if f.name == id_col][0]

    def gen(batches):
        all_ids, all_mat = b_ids.value, b_mat.value
        for batch in batches:
            if not len(batch):
                continue
            q = np.stack([np.asarray(v, dtype=np.float64) for v in batch[vec_col]])
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            scores = np.round(q @ all_mat.T, 6)
            qids = batch[id_col].to_numpy()
            # a < b keeps each unordered pair once (and drops self-pairs)
            keep = (scores >= threshold) & (qids[:, None] < all_ids[None, :])
            qi, ci = np.nonzero(keep)
            yield pd.DataFrame({
                "a": qids[qi], "b": all_ids[ci], "score": scores[qi, ci],
            })

    return src.repartition(max(2, spark.sparkContext.defaultParallelism)).mapInPandas(
        gen, schema=f"a {id_ddl}, b {id_ddl}, score double"
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
) -> DataFrame:
    """All pairs with cosine ≥ threshold, via LSH buckets + exact score.
    High-cosine pairs collide with high probability at few bits; for an
    exact variant use n_bits=0 (brute force).

    Exact path: blocked matmul — the corpus is L2-normalized once,
    shipped to every partition as a broadcast numpy matrix, and each
    Arrow batch computes ``batch @ corpusᵀ`` (one BLAS call per batch)
    instead of a nested-loop pair join with per-element expressions.
    O(n²) work either way, but distributed O(n²/p) per task with the
    constant factor of a matmul; the broadcast side must be dim-table
    sized (an exact all-pairs over a fact table is a non-goal — that is
    what the LSH path is for)."""
    if n_bits == 0:
        return _allpairs_cosine_np(df, threshold, id_col, vec_col)
    else:
        bucket = lsh_bucket_udf(dim, n_bits)
        sides = df.select(F.col(id_col), F.col(vec_col)).withColumn(
            "bucket", bucket(F.col(vec_col))
        )
        v = sides.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va"), "bucket")
        w_ = sides.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"), "bucket")
        cand = v.join(w_, on="bucket").filter(F.col("a") < F.col("b"))
    return (
        cand.withColumn("score", F.round(cosine_score(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("score") >= threshold)
        .select("a", "b", "score")
        .distinct()
    )
