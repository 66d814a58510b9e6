"""Product quantization ANN (operators/pq.py)."""

import numpy as np
from pyspark.sql import functions as F

from xutil_spark.operators import pq
from xutil_spark.operators.pq import pq_topk, pq_train


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")


def test_partition_invariance(spark):
    """Integer partial sums make training independent of the input
    partitioning — the whole point of quantize-before-reduce."""
    emb = _emb(spark)
    c1 = pq_train(emb, iters=3)
    c2 = pq_train(emb.repartition(13), iters=3)
    assert np.array_equal(c1, c2)
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    r1 = sorted(map(tuple, pq_topk(emb, qs, c1, topk=3).collect()))
    r2 = sorted(map(tuple, pq_topk(emb.repartition(7), qs, c1,
                                   topk=3).collect()))
    assert r1 == r2


def test_recall_against_exact_l2(spark):
    emb = _emb(spark)
    rows = sorted((r.vec_id, np.asarray(r.embedding, dtype=np.float64))
                  for r in emb.collect())
    ids = np.array([r[0] for r in rows])
    x = np.stack([r[1] for r in rows])
    cent = pq_train(emb, m=16, k=64)
    qs = emb.filter(F.col("vec_id") % 25 == 0)
    got = {}
    for r in pq_topk(emb, qs, cent, topk=5).collect():
        got.setdefault(r.qid, set()).add(r.vec_id)
    hits = total = 0
    for qid in got:
        qi = int(np.nonzero(ids == qid)[0][0])
        d = ((x - x[qi]) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))
        true5 = [int(ids[j]) for j in order if ids[j] != qid][:5]
        hits += len(got[qid] & set(true5))
        total += 5
    # 16 subspaces × 64 centroids on 64-dim unstructured synthetic
    # vectors: distances concentrate, so recall is far above the ~0.01
    # random baseline but not near 1 (measured ≈ 0.51)
    assert hits / total >= 0.4, hits / total


def test_dim_not_divisible_raises(spark):
    import pandas as pd
    import pytest

    df = spark.createDataFrame(pd.DataFrame(
        {"vec_id": [1], "embedding": [[0.1] * 10]}))
    with pytest.raises(ValueError):
        pq_train(df, m=8)


def test_topk_query_gate_and_chunked_fallback(spark, monkeypatch):
    """The driver-collect gate (_MAX_QUERY_ROWS) and its distributed
    slice-broadcast fallback: above the gate the hash-sliced path must
    reproduce the broadcast path bit-exactly."""
    emb = _emb(spark)
    cent = pq_train(emb, iters=2)
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    nq = qs.count()
    assert nq > 3  # the tiny gate below must actually force slicing

    base = sorted(map(tuple, pq_topk(emb, qs, cent, topk=3).collect()))
    monkeypatch.setattr(pq, "_MAX_QUERY_ROWS", 3)
    chunk = sorted(map(tuple, pq_topk(emb, qs, cent, topk=3).collect()))
    assert base == chunk


def test_topk_sliced_path_destroys_its_broadcasts(spark, monkeypatch):
    """Every broadcast a sliced pq_topk call creates (the codebook for
    the encode, one ADC table per slice) is destroyed by the time the
    call returns — the candidates are checkpointed, so none is needed
    afterwards."""
    from pyspark import SparkContext

    emb = _emb(spark)
    cent = pq_train(emb, iters=1)
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    made = []
    real = SparkContext.broadcast

    def recording(self, value):
        bc = real(self, value)
        made.append(bc)
        return bc

    monkeypatch.setattr(pq, "_MAX_QUERY_ROWS", 3)
    monkeypatch.setattr(SparkContext, "broadcast", recording)
    out = pq_topk(emb, qs, cent, topk=3)
    monkeypatch.undo()
    assert len(made) >= 3  # the codebook + at least two slices
    assert [bc._jbroadcast.isValid() for bc in made] == [False] * len(made)
    assert out.count() > 0


def test_topk_empty_queries_and_duplicate_id_guard(spark, monkeypatch):
    import pytest
    from pyspark.sql import functions as F

    emb = _emb(spark)
    cent = pq_train(emb, iters=1)
    # empty query set: empty result with the output schema
    none = emb.filter(F.col("vec_id") < 0)
    out = pq_topk(emb, none, cent, topk=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "qid", "vec_id", "rank", "adc_dist"]
    # duplicate ids pile into one hash slice past the 2x hard bound:
    # the sliced path must refuse before collecting it
    one = emb.limit(1)
    dups = one
    for _ in range(7):
        dups = dups.unionByName(one)
    monkeypatch.setattr(pq, "_MAX_QUERY_ROWS", 3)
    with pytest.raises(ValueError, match="non-distinct"):
        pq_topk(emb, dups, cent, topk=3)
