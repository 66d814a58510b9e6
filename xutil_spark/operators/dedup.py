"""Deduplication operators for large-scale training-data pipelines.

Exact, MinHash-LSH, SimHash, n-gram Jaccard, and embedding-cosine
near-dup — each expressed Spark-first:

* exact       — hash-groupBy (map-side combined), keeps first doc per digest
* minhash-LSH — shingle → banded min-hash signature (bands × rows, the
  classic S-curve construction) → bucket self-join; the signature /
  bucket stages are pure builtin expressions (explode + md5 +
  groupBy(min)) so they scale shuffle-bound, not Python-bound.  Each
  min-hash is an 8-hex-char md5 chunk: the *lexicographic min* over
  fixed-length hex equals the 32-bit integer min.
* simhash     — 64-bit token-hash bit-vote fingerprint (vectorized numpy
  UDF), near-dups = hamming distance ≤ t via band-exact buckets
* ngram-jaccard — exact Jaccard on shingle sets for candidate pairs
* embedding near-dup — cosine ≥ τ pairs via the similarity module

At 10^12-document scale: every stage is a narrow projection + one
shuffle (groupBy or self-join on bucket key); no driver materialization.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xutil_spark.plans.layout import spread


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct text (min id wins — deterministic)."""
    digest = F.md5(F.col(text_col))
    keep = (
        df.withColumn("_digest", digest)
        .groupBy("_digest")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )
    return keep


def _shingles_sql(col: str, k: int) -> str:
    """SQL text of the char-k-shingle array (for use inside lambdas)."""
    return (
        f"CASE WHEN length({col}) >= {k} THEN"
        f" transform(sequence(1, length({col}) - {k - 1}), i -> substr({col}, i, {k}))"
        f" ELSE array() END"
    )


def shingles(col: str, k: int = 8) -> Column:
    """Character k-shingles as an array column (builtin sequence + substr
    — JVM-side, no Python).  ``col`` is a column name (the lambda-based
    substr needs SQL form).  Spark's sequence(1, 0) would count DOWN, so
    texts shorter than k need the explicit empty branch."""
    return F.expr(_shingles_sql(col, k))


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 8, bands: int = 8, rows: int = 2,
) -> DataFrame:
    """Banded min-hash signatures: ``bands`` bands × ``rows`` min-hashes
    per band (classic LSH banding, P[candidate] = 1−(1−J^rows)^bands).

    rows=1 degenerates to P ≈ bands·J — near-uniform corpora then emit
    a constant fraction of ALL pairs as candidates (measured 11% of
    n²/2 on the synthetic docs), which no verification stage survives
    at 10^12 docs.  rows=2 keeps recall ≥0.9 for J ≥ 0.5 at bands=8
    while cutting candidates by ~J per band.

    Each min-hash is an 8-hex-char (32-bit) chunk of an md5 digest —
    ⌈bands·rows/4⌉ digests per shingle yield 4 independent chunks each,
    so the md5 work is ¼ of one-digest-per-hash; lexicographic min over
    fixed-length hex chunks == numeric min, so plain MIN() aggregates
    work and the construction mirrors 1:1 into ANSI SQL (the DuckDB
    oracle).  A band's sig is the concat of its ``rows`` chunk-mins.

    Plan shape: explode shingles → one projection computing all digests
    (whole-stage codegen) → groupBy(doc).agg(bands·rows mins) with
    map-side partial aggregation (shuffle = one row per doc) →
    posexplode to (id, band, sig).  Docs shorter than k vanish (no
    shingles), as in the set-based definition."""
    n = bands * rows
    n_md5 = (n + 3) // 4
    # the digest work is ~k·(n/4) md5s per input row
    src = spread(df.select(F.col(id_col), F.col(text_col)))
    ex = src.select(F.col(id_col), F.explode(shingles(text_col, k)).alias("_s"))
    digs = [F.md5(F.concat(F.lit(f"{j}|"), F.col("_s"))) for j in range(n_md5)]
    vals = [F.substring(digs[i // 4], 1 + 8 * (i % 4), 8) for i in range(n)]
    agg = ex.groupBy(id_col).agg(
        *[F.min(vals[i]).alias(f"_m{i}") for i in range(n)]
    )
    sigs = [
        F.concat(*[F.col(f"_m{b * rows + r}") for r in range(rows)])
        for b in range(bands)
    ]
    return agg.select(
        F.col(id_col), F.posexplode(F.array(*sigs)).alias("band", "sig")
    )


def minhash_lsh_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 8, bands: int = 8, rows: int = 2,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any (band, sig) bucket.
    Self-join on the bucket key; a < b ordering dedups the pair set.

    The signature table is localCheckpoint'ed first: both join sides
    read the SAME materialized signatures instead of re-executing the
    expensive explode+md5+groupBy stage twice (measured ~2× on the
    signature stage)."""
    sig = minhash_signatures(df, text_col, id_col, k, bands, rows).localCheckpoint()
    a = sig.select(F.col(id_col).alias("a"), "band", "sig")
    b = sig.select(F.col(id_col).alias("b"), "band", "sig")
    return (
        a.join(b, on=["band", "sig"], how="inner")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


# ngram_jaccard_pairs broadcasts the per-doc set table only when it is
# provably dim-sized: at most this many docs and this many estimated bytes
_SETS_BROADCAST_MAX_ROWS = 1_000_000
_SETS_BROADCAST_MAX_BYTES = 100 * 1024 * 1024


def ngram_jaccard_pairs(
    df: DataFrame, pairs: DataFrame, text_col: str = "text",
    id_col: str = "doc_id", k: int = 8, threshold: float = 0.7,
) -> DataFrame:
    """Exact Jaccard over char-k-shingle SETS for the candidate pairs.

    The shingle sets are carried as DISTINCT xxhash64 values (8 bytes vs
    ~30 per string shingle — the hash is engine-internal, the Jaccard
    value is identical to the string-set version absent 64-bit
    collisions).  The path comes from the doc table's size: when the
    set block is provably dim-sized BY BYTES (≤ 1 M docs and rows ×
    avg-shingle-count × 8 ≤ 100 MB; shingle count ≤ text length, so one
    cheap count+avg(length) agg bounds it above — a row-only gate would
    let 1M docs × ~300 hashes ≈ 2.4 GB through the driver), the per-doc
    set table is broadcast so the — much larger — candidate-pair table
    never shuffles; otherwise a shuffle (sort-merge) join, the only
    safe plan when the doc table itself is fact-sized (10^12 docs would
    OOM a broadcast).  |A∪B| = |A| + |B| − |A∩B| saves the second
    array traversal."""
    st = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.length(text_col)).alias("alen"),
    ).first()
    n_docs = st["n"] or 0
    est_bytes = n_docs * float(st["alen"] or 0.0) * 8
    hashed = F.array_distinct(
        F.expr(f"transform({_shingles_sql(text_col, k)}, s -> xxhash64(s))")
    )
    sets = df.select(F.col(id_col), hashed.alias("_set"))
    if n_docs <= _SETS_BROADCAST_MAX_ROWS and est_bytes <= _SETS_BROADCAST_MAX_BYTES:
        return _jaccard_verify_np(sets, pairs, id_col, threshold)
    sa = sets.select(F.col(id_col).alias("a"), F.col("_set").alias("_sa"))
    sb = sets.select(F.col(id_col).alias("b"), F.col("_set").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    out = (
        pairs
        .join(sa, on="a")
        .join(sb, on="b")
        .withColumn(
            "jaccard",
            inter / (F.size("_sa") + F.size("_sb") - inter),
        )
        .select("a", "b", "jaccard")
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold is not None else out


def _jaccard_verify_np(sets: DataFrame, pairs: DataFrame, id_col: str,
                       threshold: float | None) -> DataFrame:
    """Broadcast verify path: the per-doc shingle-set table collects to
    one CSR block (flat hash array + offsets) shipped per executor via
    ``sc.broadcast``; candidate pairs stream through ``mapInPandas``.

    Versus the join formulation this never materializes the two set
    arrays PER PAIR (at 40 candidate pairs per doc that was ~80× the
    set bytes through the join).  Per batch: pairs group by their `a`
    doc, each group's partner hashes gather in one CSR expansion and
    membership-test against the (pre-sorted) `a` set via one
    ``searchsorted`` + ``add.reduceat`` — the only Python loop is per
    DISTINCT LEFT DOC in the batch (dim-scale), never per pair or per
    hash.  A global (pair, hash) lexsort was 60× slower — sort of the
    full gathered volume vs log-factor probes into 300-element sets.
    """
    import pandas as pd

    spark = sets.sparkSession
    pdf = sets.toPandas()
    ids = pdf[id_col].to_numpy()
    order = np.argsort(ids, kind="stable")
    ids_s = ids[order]
    arrs = [np.sort(np.asarray(a, dtype=np.int64))
            for a in pdf["_set"].to_numpy()[order]]
    lens = np.array([len(a) for a in arrs], dtype=np.int64)
    flat = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
    offs = np.concatenate(([0], np.cumsum(lens)))[:-1]
    bc = spark.sparkContext.broadcast((ids_s, flat, offs, lens))

    a_t = dict(pairs.dtypes)["a"]

    def verify(batches):
        ids_b, flat_b, offs_b, lens_b = bc.value
        for b in batches:
            if not len(b):
                continue
            a_v, b_v = b["a"].to_numpy(), b["b"].to_numpy()
            ai = np.searchsorted(ids_b, a_v)
            bi = np.searchsorted(ids_b, b_v)
            # validate the lookups: a pair id absent from the doc table
            # must DROP (matching the shuffle path's inner join), not
            # index out of range or silently score against a neighbor
            if len(ids_b) == 0:
                continue
            ok = (
                (np.minimum(ai, len(ids_b) - 1) == ai)
                & (ids_b[np.minimum(ai, len(ids_b) - 1)] == a_v)
                & (np.minimum(bi, len(ids_b) - 1) == bi)
                & (ids_b[np.minimum(bi, len(ids_b) - 1)] == b_v)
            )
            if not ok.all():
                b = b[ok].reset_index(drop=True)
                ai, bi = ai[ok], bi[ok]
                if not len(b):
                    continue
            po = np.argsort(ai, kind="stable")
            ai_s, bi_s = ai[po], bi[po]
            m = np.zeros(len(b), dtype=np.int64)
            starts = np.flatnonzero(
                np.concatenate(([True], ai_s[1:] != ai_s[:-1]))
            )
            ends = np.concatenate((starts[1:], [len(ai_s)]))
            for s, e in zip(starts, ends):
                i0 = ai_s[s]
                A = flat_b[offs_b[i0]: offs_b[i0] + lens_b[i0]]
                part = bi_s[s:e]
                ln = lens_b[part]
                tot = int(ln.sum())
                if tot == 0 or len(A) == 0:
                    continue
                seg0 = np.concatenate(([0], np.cumsum(ln)))[:-1]
                pos = np.repeat(offs_b[part], ln) + (
                    np.arange(tot) - np.repeat(seg0, ln)
                )
                hb = flat_b[pos]
                idx = np.searchsorted(A, hb)
                idx[idx >= len(A)] = len(A) - 1
                hit = (A[idx] == hb).astype(np.int64)
                m[po[s:e]] = np.add.reduceat(hit, seg0)
            union = lens_b[ai] + lens_b[bi] - m
            with np.errstate(invalid="ignore"):
                j = np.where(union > 0, m / union, np.nan)
            out = pd.DataFrame({"a": b["a"], "b": b["b"], "jaccard": j})
            if threshold is not None:
                out = out[out["jaccard"] >= threshold]
            yield out

    schema = f"a {a_t}, b {a_t}, jaccard double"
    src = pairs.select("a", "b")
    # the candidate-pair table often arrives AQE-coalesced to 1-2
    # partitions (byte-targeted coalescing vs a compute-heavy Python
    # stage) — spread it UNCONDITIONALLY: probing
    # ``src.rdd.getNumPartitions()`` first would force AQE to
    # materialize every upstream stage (re-running the whole candidate
    # join) just to count partitions, while the repartition itself is
    # one shuffle of skinny pair rows
    par = spark.sparkContext.defaultParallelism
    return src.repartition(par).mapInPandas(verify, schema=schema)


def _unionfind_driver(spark, edges_pd: pd.DataFrame, id_type: str) -> DataFrame:
    """Driver-side union-find over a dim-scale edge list (path-halving
    find, union-by-min so the root IS the smallest member).  One pass
    over the edges + one find per node — O(E α(E)); used only below the
    edge gate in ``connected_components``."""
    parent: dict = {}

    def find(x):
        while True:
            p = parent.get(x, x)
            if p == x:
                return x
            gp = parent.get(p, p)
            parent[x] = gp  # path halving
            x = gp

    for a, b in zip(edges_pd["src"].tolist(), edges_pd["dst"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = sorted({*edges_pd["src"].tolist(), *edges_pd["dst"].tolist()})
    out = pd.DataFrame({"id": nodes, "cluster_id": [find(n) for n in nodes]})
    return spark.createDataFrame(out, schema=f"id {id_type}, cluster_id {id_type}")


def _ckpt(df: DataFrame) -> DataFrame:
    """Flat-lineage materialization for iterative algorithms: reliable
    ``checkpoint()`` when the context has a checkpoint dir (survives
    executor loss — required for 10^12-edge jobs), else
    ``localCheckpoint`` (executor-local; fine in local mode / tests)."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()


# connected_components runs driver union-find at or below this many
# distinct edges (≈ 32 MB of int64 pairs)
_CC_DRIVER_EDGE_GATE = 2_000_000


def connected_components(pairs: DataFrame) -> DataFrame:
    """Duplicate-CLUSTER resolution: connected components over the
    near-dup pair edges → ``(id, cluster_id)`` where cluster_id is the
    smallest member id of the component (the canonical survivor).

    Two strategies behind one API (same result, pytest-pinned):

    * **driver union-find** when the (deduped) edge list is dim-scale
      (≤ 2 M edges ≈ 32 MB of int64 pairs — the same
      byte-gating idea as the jaccard-verify broadcast path): collect
      once, path-halving union-find, one createDataFrame back.  Near-dup
      edge sets are almost always dim-scale even for huge corpora
      (edges ∝ duplicates, not documents), and the iterative path's
      per-round fixed cost (a Spark job per round) dwarfs the actual
      work there — this cut the bench `image_dedup` from 13.9s to ~2s.

    * **min-label propagation WITH pointer jumping** (the classic
      PRAM/Pregel technique) above the gate: each round every node
      takes the min of its own and its neighbors' labels (one
      groupBy-min along the edges), then replaces its label with its
      label's label (one self-join).  Propagation alone needs
      O(diameter) rounds; the jump step halves label-chain length every
      round → O(log diameter) for any graph shape.

    Iterative termination: rounds run in fixed budgets of
    ⌈log₂(n_nodes)⌉ + 1 — the pointer-jumping bound — with NO per-round
    driver count; after each budget ONE fixed-point check runs (any
    edge whose endpoints disagree?) and the loop exits when none do.
    There is no round cap, so the labels returned are always the
    converged ones; the loop still terminates, because labels only
    decrease and any crossing edge lowers one of them in the next
    round.  Labels materialize per round via ``_ckpt``: reliable
    ``checkpoint()`` when a checkpoint dir is set (executor loss mid-CC
    recovers instead of killing a 10^12-edge job), else localCheckpoint.

    At 10^12 docs each round is two shuffles on the node id — same cost
    class as the LSH bucket join that produced the edges."""
    import math

    spark = pairs.sparkSession
    id_type = [f.dataType.simpleString() for f in pairs.schema.fields
               if f.name == "a"][0]
    und = pairs.select("a", "b").distinct()
    # gate probe and driver fetch in ONE job: limit(gate+1) returns the
    # complete distinct edge set whenever it fits the gate (a limit
    # larger than the data is a full scan), and exactly gate+1 rows —
    # dropped, never used — when it does not; the old count() + full
    # toPandas() pair cost two extra passes over the edge lineage
    head = und.limit(_CC_DRIVER_EDGE_GATE + 1).toPandas()
    if len(head) <= _CC_DRIVER_EDGE_GATE:
        return _unionfind_driver(
            spark, head.rename(columns={"a": "src", "b": "dst"}), id_type
        )
    und = _ckpt(und)

    edges = _ckpt(
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    )
    labels = _ckpt(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    n_nodes = labels.count()
    budget = max(1, math.ceil(math.log2(max(2, n_nodes))) + 1)
    while True:
        for _ in range(budget):
            # 1. propagate: min over self + neighbor labels (pre-aggregated
            #    map-side before the join output shuffles)
            nbr_min = (
                edges.join(labels, edges["dst"] == labels["id"], "inner")
                .groupBy(F.col("src").alias("id"))
                .agg(F.min("cluster_id").alias("_nbr"))
            )
            prop = labels.join(nbr_min, on="id", how="left").select(
                "id",
                F.least(F.col("cluster_id"), F.coalesce("_nbr", "cluster_id"))
                .alias("cluster_id"),
            )
            # 2. jump: label ← label(label).  Every label is a node id,
            #    so the inner self-join keeps all rows.
            tgt = labels.select(
                F.col("id").alias("_tid"), F.col("cluster_id").alias("_tlabel")
            )
            labels = _ckpt(
                prop.join(tgt, prop["cluster_id"] == tgt["_tid"], "inner")
                .select(
                    "id",
                    F.least(F.col("cluster_id"), F.col("_tlabel"))
                    .alias("cluster_id"),
                )
            )
        # fixed point ⇔ no edge crosses two labels (labels only
        # decrease, so agreement on every edge means per-component min)
        lab_s = labels.select(F.col("id").alias("src"),
                              F.col("cluster_id").alias("_ls"))
        lab_d = labels.select(F.col("id").alias("dst"),
                              F.col("cluster_id").alias("_ld"))
        viol = (
            edges.join(lab_s, on="src").join(lab_d, on="dst")
            .filter(F.col("_ls") != F.col("_ld")).limit(1).count()
        )
        if viol == 0:
            break
    return labels


def dedup_by_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
) -> DataFrame:
    """Keep ONE row per duplicate cluster (the min-id member) and every
    row that appears in no near-dup pair — the final stage of the
    LSH → verify → cluster dedup pipeline."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def dedup_by_fingerprint(
    df: DataFrame, fp_col: str, id_col: str = "doc_id",
    max_hamming: int = 3, bands: int = 4,
) -> DataFrame:
    """``hamming_near_dup_pairs`` + ``dedup_by_clusters`` fused for the
    case where the pair predicate is a function of the 64-bit
    fingerprint alone — with the pair graph built over **DISTINCT
    fingerprint values**, never over rows.

    Why: real corpora contain large cliques of byte-identical prints
    (c copies of one print ⇒ c·(c−1)/2 row-level pairs — the quadratic
    blow-up that makes emit-pairs-then-cluster collapse at 10^12
    rows), yet every row sharing a print is connected by definition.
    Collapsing first bounds the graph by DISTINCT prints: c identical
    prints contribute 1 node and 0 edges.  Row-level reachability is
    preserved exactly — same-print rows share every band bucket, so
    they were one clique in the row graph; cross-print edges are the
    same hamming test either way — hence the survivor set (min row id
    per component, every unpaired row kept) is identical to
    ``dedup_by_clusters(df, hamming_near_dup_pairs(df, ...))``
    (pytest-pinned).

    Plan: one distinct at print cardinality, the banded bucket join
    over prints, CC at print cardinality, one fact-side equi-join on
    the print + one min-per-cluster aggregation."""
    prints = (
        df.select(F.col(fp_col).alias("_fp")).distinct()
        .withColumn("_nid", F.col("_fp"))
    )
    fp_pairs = hamming_near_dup_pairs(
        prints, "_fp", "_nid", max_hamming=max_hamming, bands=bands)
    comp = connected_components(fp_pairs)
    lab = (
        prints.join(comp, prints["_nid"] == comp["id"], "left")
        .select("_fp", F.coalesce("cluster_id", "_fp").alias("_lbl"))
    )
    survivors = (
        df.select(F.col(id_col), F.col(fp_col).alias("_fp"))
        .join(lab, on="_fp")
        .groupBy("_lbl").agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(survivors, on=id_col, how="left_semi")


# ------------------------------------------------------------------ simhash


def _simhash_vote(harrs: pd.Series) -> pd.Series:
    """Bit-vote stage of SimHash over per-doc token-hash arrays.

    Fully vectorized: one flat uint64 vector of every token hash in the
    batch, 64 shift-and-mask passes with np.add.reduceat segment sums
    (O(64·total_tokens) numpy ops; the only per-doc work is one
    np.asarray per row).  Bit b of the fingerprint is set iff more than
    half the doc's token hashes have bit b set (strict majority)."""
    n = len(harrs)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return pd.Series(out)
    arrs = [np.asarray(a if a is not None else [], dtype=np.int64) for a in harrs]
    lens = np.array([len(a) for a in arrs], dtype=np.int64)
    nz = np.flatnonzero(lens > 0)
    if len(nz) == 0:
        return pd.Series(out)
    flat = np.concatenate([arrs[i] for i in nz]).view(np.uint64)
    nzlens = lens[nz]
    seg = np.concatenate(([0], np.cumsum(nzlens)))[:-1]
    fp = np.zeros(len(nz), dtype=np.uint64)
    for j in range(64):
        bitj = ((flat >> np.uint64(j)) & np.uint64(1)).astype(np.int64)
        votes = np.add.reduceat(bitj, seg)
        fp |= (2 * votes > nzlens).astype(np.uint64) << np.uint64(j)
    out[nz] = fp.view(np.int64)
    return pd.Series(out)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash fingerprints.  Tokenization and per-token hashing
    stay JVM-side (split + transform/xxhash64 — whole-stage codegen);
    only the bit-vote crosses into a vectorized pandas UDF.  No per-row
    or per-token Python anywhere."""
    from pyspark.sql.functions import pandas_udf

    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != ""
    )
    token_hashes = F.transform(toks, lambda t: F.xxhash64(t))
    f = _simhash_vote
    f.__annotations__ = {"harrs": pd.Series, "return": pd.Series}
    udf = pandas_udf(f, "long")
    return df.select(F.col(id_col), udf(token_hashes).alias("simhash"))


def hamming_near_dup_pairs(
    fp: DataFrame, fp_col: str, id_col: str,
    max_hamming: int = 3, bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by hamming distance over ANY 64-bit fingerprint
    column (SimHash text prints, image dHash, …): split the print into
    ``bands`` equal bit bands; by pigeonhole any pair within hamming ≤
    bands-1 shares at least one exact band → banded bucket self-join,
    then exact hamming filter via bit_count(xor).  EXACT (not
    approximate) for ``max_hamming ≤ bands - 1``.

    Plan: one union of ``bands`` narrow projections over the (already
    materialized) fingerprint table, one shuffle on (band, bkey), the
    xor/bit_count filter inside codegen.  At 10^12 rows the bucket join
    is the classic LSH shape — no cross join anywhere.  A pair sharing
    k bands would surface k times from the bucket join; the
    first-matching-band filter (codegen: "some EARLIER band also
    matches → skip") makes each pair surface EXACTLY once, so there is
    no distinct/aggregation shuffle over the pair set at all — on a
    near-dup-heavy corpus that removes a bands-times-inflated exchange
    (measured 4.4s → 2.5s cold on the image_dhash corpus, 988k → 247k
    joined rows)."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"banded join is only exact for max_hamming <= bands-1 "
            f"(got t={max_hamming}, bands={bands})"
        )
    width = 64 // bands
    mask = (1 << width) - 1

    def band_key(col: str, b: int) -> Column:
        return F.shiftrightunsigned(col, b * width).bitwiseAND(
            F.lit(mask).cast("long")
        )

    parts = []
    for b in range(bands):
        parts.append(
            fp.select(
                F.col(id_col),
                F.col(fp_col),
                F.lit(b).alias("band"),
                band_key(fp_col, b).alias("bkey"),
            )
        )
    bands_df = parts[0]
    for p in parts[1:]:
        bands_df = bands_df.unionByName(p)
    a = bands_df.select(F.col(id_col).alias("a"), F.col(fp_col).alias("_ha"), "band", "bkey")
    b_ = bands_df.select(F.col(id_col).alias("b"), F.col(fp_col).alias("_hb"), "band", "bkey")
    # emit each pair from its FIRST matching band only: for the row
    # joined on band b, every band b' < b must DIFFER between the two
    # prints (pure bit expressions — stays in codegen)
    first_match = F.lit(True)
    for b in range(1, bands):
        earlier_differs = F.lit(True)
        for bp in range(b):
            earlier_differs = earlier_differs & (
                band_key("_ha", bp) != band_key("_hb", bp)
            )
        first_match = F.when(F.col("band") == b, earlier_differs).otherwise(first_match)
    return (
        a.join(b_, on=["band", "bkey"], how="inner")
        .filter(F.col("a") < F.col("b"))
        .filter(first_match)
        .withColumn("hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def simhash_near_dup_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3, bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming ≤ t (see
    ``hamming_near_dup_pairs`` for the banded-join shape)."""
    # materialize once: the band branches AND both self-join sides
    # otherwise each re-execute the fingerprint UDF stage
    sh = simhash(df, text_col, id_col).localCheckpoint()
    return hamming_near_dup_pairs(sh, "simhash", id_col, max_hamming, bands)


def fingerprint_containment(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    tau: float = 0.5, window: int = 16, keep: int = 8,
    max_df: int | None = None,
) -> DataFrame:
    """Containment near-dup pairs from winnowing bottom-k sketches —
    the asymmetric twin of the Jaccard/SimHash detectors: catches doc A
    quoted or wrapped inside doc B, which resemblance metrics dilute.

    Broder's bottom-k estimators on the rolling-fingerprint sketch
    (``textops.rolling_fingerprints``, unsigned-order k smallest):
    with S = k unsigned-smallest of sketch(A) ∪ sketch(B),

      contain_ab = |S ∩ A ∩ B| / |S ∩ A|   (≈ |A∩B| / |A|)
      contain_ba = |S ∩ A ∩ B| / |S ∩ B|
      jaccard    = |S ∩ A ∩ B| / |S|

    Pairs with max(contain_ab, contain_ba) ≥ ``tau`` are emitted; a
    positive estimator requires a shared print, so the shared-print
    equi-join candidate stage is COMPLETE for every tau > 0.

    Scale shape (10^12 docs): the sketch is one Arrow pandas_udf pass;
    candidates are one explode (k rows/doc) + one self-equi-join on the
    64-bit print + one pair distinct; ``max_df`` drops prints occurring
    in more than that many docs BEFORE the self-join (boilerplate
    prints otherwise square: a print shared by c docs yields c(c−1)/2
    candidate rows) — one extra print-cardinality count shuffle, the
    same gate as the jaccard candidate stage.  The estimators
    themselves are pure JVM array expressions on the two k-length
    sketches (unsigned order via the sign-bit XOR trick), no Python.
    """
    from xutil_spark.operators.textops import rolling_fingerprints

    fp = rolling_fingerprints(df, text_col, id_col, window, keep)
    fp = fp.filter(F.size("fingerprint") > 0).localCheckpoint()

    ex = fp.select(F.col(id_col), F.explode("fingerprint").alias("print"))
    if max_df is not None:
        hot = (ex.groupBy("print").agg(F.count(F.lit(1)).alias("df_"))
               .filter(F.col("df_") > max_df).select("print"))
        ex = ex.join(hot, "print", "left_anti")
    a = ex.select(F.col(id_col).alias("a"), "print")
    b = ex.select(F.col(id_col).alias("b"), "print")
    cand = (a.join(b, "print").filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct())

    fa = fp.select(F.col(id_col).alias("a"), F.col("fingerprint").alias("_fa"))
    fb = fp.select(F.col(id_col).alias("b"), F.col("fingerprint").alias("_fb"))
    pairs = cand.join(fa, "a").join(fb, "b")

    sign = F.lit(-9223372036854775808).cast("long")
    ua = F.transform("_fa", lambda x: x.bitwiseXOR(sign))
    ub = F.transform("_fb", lambda x: x.bitwiseXOR(sign))
    s = F.slice(F.array_sort(F.array_union(ua, ub)), 1, keep)
    inter = F.array_intersect(ua, ub)
    num = F.size(F.array_intersect(s, inter)).cast("double")
    den_a = F.size(F.array_intersect(s, ua)).cast("double")
    den_b = F.size(F.array_intersect(s, ub)).cast("double")
    out = pairs.select(
        "a", "b",
        F.round(num / den_a, 9).alias("contain_ab"),
        F.round(num / den_b, 9).alias("contain_ba"),
        F.round(num / F.size(s).cast("double"), 9).alias("jaccard_est"),
    )
    return out.filter(F.greatest("contain_ab", "contain_ba") >= F.lit(tau))
