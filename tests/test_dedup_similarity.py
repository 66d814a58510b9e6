"""Dedup + similarity operators vs pandas/numpy oracles on the
driver-provided documents/embeddings tables (sf0.001)."""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xutil_spark.operators import dedup as D
from xutil_spark.operators import similarity as S

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def docs_pd(docs):
    return docs.toPandas()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def emb_pd(emb):
    return emb.toPandas()


def test_exact_dedup(docs, docs_pd):
    got = D.exact_dedup(docs).toPandas()
    exp = (
        docs_pd.assign(_d=docs_pd["text"].map(lambda t: hashlib.md5(t.encode()).hexdigest()))
        .groupby("_d")["doc_id"]
        .agg(["min", "count"])
    )
    assert len(got) == len(exp)
    got_map = dict(zip(got["_digest"], zip(got["doc_id"], got["dup_count"])))
    for d, row in exp.iterrows():
        assert got_map[d] == (row["min"], row["count"])


def test_shingles_expr(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": ["abcdefgh", "abc", ""]}))
    got = df.select(D.shingles("text", k=4).alias("s")).toPandas()
    assert list(got["s"][0]) == ["abcd", "bcde", "cdef", "defg", "efgh"]
    assert list(got["s"][1]) == []
    assert list(got["s"][2]) == []


def _py_minhash(text, band, k=8, rows=2):
    """Mirror of minhash_signatures: chunk-min banding — hash index
    i = band*rows + r selects chunk i%4 of digest md5((i//4)|shingle)."""
    n = len(text) - k + 1
    if n <= 0:
        return None
    sig = ""
    for r in range(rows):
        i = band * rows + r
        j, c = i // 4, i % 4
        sig += min(
            hashlib.md5(f"{j}|{text[p:p+k]}".encode()).hexdigest()[8 * c:8 * c + 8]
            for p in range(n)
        )
    return sig


def test_minhash_signatures_match_python(docs, docs_pd):
    got = D.minhash_signatures(docs, k=8, bands=2, rows=2).toPandas()
    sample = docs_pd.head(20)
    gmap = {(r["doc_id"], r["band"]): r["sig"] for _, r in got.iterrows()}
    for _, r in sample.iterrows():
        for b in range(2):
            assert gmap[(r["doc_id"], b)] == _py_minhash(r["text"], b)


def test_minhash_lsh_finds_planted_dup(spark, docs_pd):
    base = docs_pd.head(50)[["doc_id", "text"]].copy()
    clone = base.head(5).copy()
    clone["doc_id"] = clone["doc_id"] + 100000  # planted exact dups
    df = spark.createDataFrame(pd.concat([base, clone]))
    pairs = D.minhash_lsh_pairs(df, k=8, bands=4).toPandas()
    got = set(zip(pairs["a"], pairs["b"]))
    for i in range(5):
        a = int(base.iloc[i]["doc_id"])
        assert (a, a + 100000) in got


def test_ngram_jaccard(spark):
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["the quick brown fox jumps", "the quick brown fox leaps",
                 "completely different text here"],
    })
    df = spark.createDataFrame(pdf)
    pairs = spark.createDataFrame(pd.DataFrame({"a": [1, 1], "b": [2, 3]}))
    got = D.ngram_jaccard_pairs(df, pairs, k=4, threshold=None).toPandas()
    jmap = dict(zip(zip(got["a"], got["b"]), got["jaccard"]))

    def py_j(s1, s2, k=4):
        a = {s1[i:i+k] for i in range(len(s1) - k + 1)}
        b = {s2[i:i+k] for i in range(len(s2) - k + 1)}
        return len(a & b) / len(a | b)

    assert jmap[(1, 2)] == pytest.approx(py_j(pdf["text"][0], pdf["text"][1]))
    assert jmap[(1, 3)] == pytest.approx(py_j(pdf["text"][0], pdf["text"][2]))
    assert jmap[(1, 2)] > 0.5 > jmap[(1, 3)]


def test_simhash_near_dups(spark):
    """bands=8 → 8-bit bands → pigeonhole-guaranteed recall for any
    pair with hamming ≤ 7: the 1-of-40-token edit (hamming 4 under the
    xxhash64 token hash) MUST surface, the unrelated doc must not."""
    base = [f"tok{i}" for i in range(40)]
    texts = [" ".join(base)] * 2 + [
        " ".join(base[:-1] + ["zzz"]),  # 1 of 40 tokens differs
        " ".join(f"q{i}" for i in range(40)),  # unrelated
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": texts})
    )
    pairs = D.simhash_near_dup_pairs(df, max_hamming=7, bands=8).toPandas()
    got = set(zip(pairs["a"], pairs["b"]))
    assert (1, 2) in got  # identical → hamming 0
    assert (1, 3) in got and (2, 3) in got  # near dup, guaranteed recall
    hmap = dict(zip(zip(pairs["a"], pairs["b"]), pairs["hamming"]))
    assert hmap[(1, 2)] == 0
    assert 0 < hmap[(1, 3)] <= 7
    assert not any(4 in p for p in got)  # unrelated doc excluded


def test_cosine_topk_brute_vs_numpy(emb, emb_pd):
    got = S.cosine_topk_brute(emb.limit(30), emb, k=5).toPandas()
    mat = np.stack(emb_pd["embedding"].map(np.asarray)).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    ids = emb_pd["vec_id"].to_numpy()
    for qi in range(30):
        q = mat[ids == emb_pd["vec_id"][qi]][0] if False else mat[qi]
        scores = np.round(mat @ q / (norms * norms[qi]), 6)
        order = sorted(
            [(-(s), int(i)) for s, i in zip(scores, ids) if i != int(emb_pd["vec_id"][qi])]
        )[:5]
        exp = [i for _, i in order]
        grp = got[got["q_id"] == emb_pd["vec_id"][qi]].sort_values("rank")
        assert list(grp["nn_id"]) == exp, qi


def test_cosine_topk_lsh_recall_on_clustered(spark):
    """LSH recall is meaningful on clustered embeddings (the real
    near-dup workload) — planted clusters: 40 centroids × 10 members
    with small noise → true neighbors have cosine ≈ 0.98."""
    from xutil_spark.data.synth import splitmix64

    rng_idx = np.arange(40 * 16, dtype=np.int64)
    cents = (splitmix64(rng_idx).astype(np.float64) / 2**63).reshape(40, 16)
    rows = []
    for ci in range(40):
        for m in range(10):
            noise = (
                splitmix64(np.arange(16, dtype=np.int64) + ci * 1000 + m * 31 + 7)
                .astype(np.float64) / 2**63 * 0.1
            )
            v = cents[ci] + noise
            rows.append((ci * 10 + m, (v / np.linalg.norm(v)).astype(np.float32).tolist()))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    df = spark.createDataFrame(pdf).cache()
    exact = S.cosine_topk_brute(df.limit(60), df, k=5).toPandas()
    approx = S.cosine_topk_lsh(df.limit(60), df, dim=16, k=5,
                               n_bits=8, n_tables=4).toPandas()
    e = set(zip(exact["q_id"], exact["nn_id"]))
    a = set(zip(approx["q_id"], approx["nn_id"]))
    recall = len(e & a) / len(e)
    assert recall >= 0.9, recall


def test_embedding_near_dup_exact_bruteforce(spark):
    base = np.eye(8)[: 4]
    vecs = np.vstack([base, base[0] * 0.999 + 0.001])  # near-dup of row 0
    pdf = pd.DataFrame({
        "vec_id": list(range(5)),
        "embedding": [v.astype(np.float32).tolist() for v in vecs],
    })
    df = spark.createDataFrame(pdf)
    got = S.embedding_near_dup_pairs(df, dim=8, threshold=0.99, n_bits=0).toPandas()
    assert set(zip(got["a"], got["b"])) == {(0, 4)}


def _jaccard_both_paths(df, pairs, monkeypatch):
    """ngram_jaccard_pairs on the broadcast verify path and on the
    shuffle join path, each forced by monkeypatching the byte gate; the
    plan is checked to be the forced one."""
    out = []
    for max_bytes, verify in ((float("inf"), True), (0, False)):
        monkeypatch.setattr(D, "_SETS_BROADCAST_MAX_BYTES", max_bytes)
        res = D.ngram_jaccard_pairs(df, pairs, k=4, threshold=None)
        plan = res._jdf.queryExecution().analyzed().toString()
        assert ("MapInPandas" in plan) == verify
        out.append(res.toPandas())
    return out


def test_ngram_jaccard_broadcast_paths_equal(spark, monkeypatch):
    """The vectorized broadcast verify (CSR + group searchsorted) must
    return exactly the join path's rows — same pairs, same jaccard.
    Each path is forced through the byte gate."""
    pdf = pd.DataFrame({
        "doc_id": range(8),
        "text": [f"the quick brown fox jumps over dog {i % 3}" for i in range(8)],
    })
    df = spark.createDataFrame(pdf)
    pairs = spark.createDataFrame(
        pd.DataFrame({"a": [0, 0, 1, 2, 5], "b": [3, 6, 4, 5, 7]})
    )
    fast, slow = _jaccard_both_paths(df, pairs, monkeypatch)
    f = fast.sort_values(["a", "b"]).reset_index(drop=True)
    s = slow.sort_values(["a", "b"]).reset_index(drop=True)
    assert f["a"].tolist() == s["a"].tolist()
    assert f["b"].tolist() == s["b"].tolist()
    assert np.allclose(f["jaccard"], s["jaccard"])


def test_ngram_jaccard_missing_pair_ids_drop(spark, monkeypatch):
    """ADVICE regression: candidate pairs referencing a doc id ABSENT
    from the doc table must DROP in the broadcast verify path (matching
    the shuffle path's inner join) — not IndexError on ids beyond the
    max or silently score against a neighboring doc."""
    pdf = pd.DataFrame({
        "doc_id": [0, 2, 4],
        "text": ["the quick brown fox jumps", "the quick brown fox leaps",
                 "something else entirely here"],
    })
    df = spark.createDataFrame(pdf)
    pairs = spark.createDataFrame(pd.DataFrame({
        "a": [0, 0, 1, 99],   # 1 absent (interior), 99 absent (beyond max)
        "b": [2, 3, 2, 4],    # 3 absent
    }))
    fast, slow = _jaccard_both_paths(df, pairs, monkeypatch)
    assert sorted(zip(fast["a"], fast["b"])) == [(0, 2)]
    assert sorted(zip(slow["a"], slow["b"])) == [(0, 2)]
    assert np.allclose(fast["jaccard"], slow["jaccard"])


def test_ngram_jaccard_auto_gate_is_byte_based(spark):
    """ngram_jaccard_pairs must pick the SHUFFLE path when the
    estimated set-block bytes (rows × avg text length × 8) exceed
    100 MB, even at a tiny row count — the gate is bytes, not rows."""
    import pandas as _pd

    small = spark.createDataFrame(_pd.DataFrame({
        "doc_id": [0, 1], "text": ["abcdefgh xyz", "abcdefgh uvw"]}))
    # 200 rows × 70_000 chars × 8 B ≈ 112 MB estimated → shuffle path
    big = spark.createDataFrame(
        _pd.DataFrame({"doc_id": range(200), "text": ["x" * 70_000] * 200}))
    pairs = spark.createDataFrame(_pd.DataFrame({"a": [0], "b": [1]}))

    def plan_of(df):
        out = D.ngram_jaccard_pairs(df, pairs, k=4, threshold=None)
        return out._jdf.queryExecution().analyzed().toString()

    assert "MapInPandas" in plan_of(small)      # dim-sized → broadcast verify
    assert "MapInPandas" not in plan_of(big)    # byte gate → shuffle join


def test_connected_components_vs_networkless_oracle(spark, monkeypatch):
    """CC over hand-built edges: chains, cliques, self-pairs, and a
    long path — BOTH strategies (driver union-find under the edge
    gate; iterative pointer jumping forced with gate=0) must produce
    the identical min-label result."""
    edges = pd.DataFrame({
        "a": [1, 2, 10, 11, 20, 30, 31, 32, 33],
        "b": [2, 3, 11, 12, 21, 31, 32, 33, 34],
    })
    expect = {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
        30: 30, 31: 30, 32: 30, 33: 30, 34: 30,  # path of length 5
    }
    got_uf = D.connected_components(spark.createDataFrame(edges)).toPandas()
    assert dict(zip(got_uf["id"], got_uf["cluster_id"])) == expect
    monkeypatch.setattr(D, "_CC_DRIVER_EDGE_GATE", 0)
    got_it = D.connected_components(spark.createDataFrame(edges)).toPandas()
    assert dict(zip(got_it["id"], got_it["cluster_id"])) == expect


def test_connected_components_long_chain_log_rounds(spark, monkeypatch):
    """The ITERATIVE path (gate=0) must label a 64-node PATH within
    O(log D) rounds with NO per-round driver count: the fixed round
    budget is ⌈log₂(64)⌉+1 = 7 plus one fixed-point check, and 12
    rounds would be nowhere near enough for plain O(diameter)
    min-label propagation (63 rounds), so this pins the jump step AND
    the budget-based termination.  Label rounds are counted through
    ``_ckpt``, which materializes each round's labels."""
    calls = []
    real = D._ckpt

    def counting(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(D, "_CC_DRIVER_EDGE_GATE", 0)
    monkeypatch.setattr(D, "_ckpt", counting)
    edges = pd.DataFrame({"a": list(range(63)), "b": list(range(1, 64))})
    got = D.connected_components(spark.createDataFrame(edges)).toPandas()
    assert len(got) == 64
    assert set(got["cluster_id"]) == {0}
    rounds = len(calls) - 3  # the edge, both-direction and seed-label checkpoints
    assert 1 <= rounds <= 12


def test_dedup_by_clusters_keeps_min_per_component(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 7, 9],
        "text": ["a", "a", "a", "b", "c"],
    }))
    pairs = spark.createDataFrame(pd.DataFrame({"a": [1, 2], "b": [2, 3]}))
    kept = D.dedup_by_clusters(df, pairs).toPandas()
    assert sorted(kept["doc_id"]) == [1, 7, 9]


def test_dedup_by_fingerprint_equals_pairwise_path(spark):
    """The fingerprint-collapsed dedup must keep EXACTLY the rows the
    row-pair path keeps: same-print rows collapse to one node (clique
    edges never materialize) yet stay one component, cross-print edges
    are the same hamming test.  Corpus mixes an identical-print clique,
    a hamming-1 chain across prints, and unpaired singletons."""
    fps = [0, 0, 0, 1, 1 << 63, 255, 254, 1 << 40]
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(len(fps))),
        "fp": np.array(fps, dtype=np.uint64).astype(np.int64),
    }))
    pairs = D.hamming_near_dup_pairs(df, "fp", "doc_id",
                                     max_hamming=3, bands=4)
    want = sorted(
        D.dedup_by_clusters(df, pairs, id_col="doc_id")
        .toPandas()["doc_id"])
    got = sorted(
        D.dedup_by_fingerprint(df, "fp", id_col="doc_id",
                               max_hamming=3, bands=4)
        .toPandas()["doc_id"])
    assert got == want


def test_dedup_by_fingerprint_expected_survivors(spark):
    # 0,0,0,1: identical-print clique + hamming-1 neighbor;
    # 255/254: hamming-1 pair; 0xFFFF and 0xFFFF0000 are ≥16 bits
    # from everything else — genuinely unpaired singletons
    fps = [0, 0, 0, 1, 0xFFFF, 255, 254, 0xFFFF0000]
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(len(fps))),
        "fp": np.array(fps, dtype=np.int64),
    }))
    got = sorted(
        D.dedup_by_fingerprint(df, "fp", id_col="doc_id",
                               max_hamming=3, bands=4)
        .toPandas()["doc_id"])
    # {0,1,2,3} one cluster -> 0; {5,6} -> 5; 4 and 7 unpaired
    assert got == [0, 4, 5, 7]


def test_cosine_topk_ivf_exact_mode_equals_brute(emb, emb_pd):
    """nprobe = n_lists probes every inverted list — must equal the
    brute path exactly (ranks, scores, tie order)."""
    exact = S.cosine_topk_brute(emb.limit(30), emb, k=5).toPandas()
    ivf = S.cosine_topk_ivf(emb.limit(30), emb, dim=64, k=5,
                            n_lists=8, nprobe=8).toPandas()
    e = exact.sort_values(["q_id", "rank"]).reset_index(drop=True)
    i = ivf.sort_values(["q_id", "rank"]).reset_index(drop=True)
    assert e["nn_id"].tolist() == i["nn_id"].tolist()
    assert np.allclose(e["score"], i["score"])


def test_cosine_topk_ivf_recall_on_clustered(spark):
    """Partial probe (nprobe=2 of 8): members of a planted cluster land
    in the same inverted list, so recall stays high while each query
    scans ~1/4 of the corpus."""
    from xutil_spark.data.synth import splitmix64

    rng_idx = np.arange(40 * 16, dtype=np.int64)
    cents = (splitmix64(rng_idx).astype(np.float64) / 2**63).reshape(40, 16)
    rows = []
    for ci in range(40):
        for m in range(10):
            noise = (
                splitmix64(np.arange(16, dtype=np.int64) + ci * 1000 + m * 31 + 7)
                .astype(np.float64) / 2**63 * 0.1
            )
            v = cents[ci] + noise
            rows.append((ci * 10 + m, (v / np.linalg.norm(v)).astype(np.float32).tolist()))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    df = spark.createDataFrame(pdf).cache()
    exact = S.cosine_topk_brute(df.limit(60), df, k=5).toPandas()
    approx = S.cosine_topk_ivf(df.limit(60), df, dim=16, k=5,
                               n_lists=8, nprobe=2).toPandas()
    e = set(zip(exact["q_id"], exact["nn_id"]))
    a = set(zip(approx["q_id"], approx["nn_id"]))
    recall = len(e & a) / len(e)
    assert recall >= 0.9, recall
