"""Product quantization for embedding search at 10^12-vector scale —
the compression path next to the IVF and hyperplane-LSH ANN variants
(similarity.py): vectors become M small codebook indices (here 8 bytes
for a 64-dim float vector, a 32× shrink), and queries scan codes with
per-subspace lookup tables (ADC — Jégou et al. 2011, public TPAMI
paper) instead of touching raw floats.

Exactness design: embeddings quantize ONCE to integers
(``floor(x·qscale + 0.5)``), and everything after — k-means
assignment, centroid updates, code assignment, ADC distances — is
EXACT integer arithmetic:

* assignment: nearest centroid by integer L2², ties → lowest index;
* centroid update: elementwise round-half-up integer mean
  ``(2·s + c) div (2c)`` (floor division; exact for either sign);
  empty clusters keep their previous centroid;
* init: the quantized subvectors of K evenly-spaced vectors (by
  position) within the SEED POOL = the first ``min(n, k*1000)`` rows
  in ``vec_id`` order.  The pool cap is pinned semantics, not an
  implementation accident: it keeps seeding a distributed
  orderBy+limit (top-k scan) instead of a global row_number over
  10^12 rows, and the oracle replay mirrors the same cap;
* ADC: distance table entries are integer L2²; a vector's approximate
  distance is an integer sum of M table entries; top-k orders by
  ``(dist, vec_id)``.

So a fixed (iters, M, K) run is platform-exact and digit-for-digit
replayable by any correct implementation — the engine's partitioned
passes and the oracle's flat numpy replay agree exactly.

Scale shape (10^12 vectors): training is ``iters`` passes, each ONE
``mapInPandas`` computing per-partition partial sums (map-side
combine) with only (partitions × M × K) tiny rows collected; encoding
is one pass; queries broadcast their ADC tables, each partition emits
its local top-k per query, and one (query, k·partitions)-sized window
reduce finishes — the raw vectors are never shuffled, never
broadcast.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _quant(a: np.ndarray, qscale: int) -> np.ndarray:
    return np.floor(a * float(qscale) + 0.5).astype(np.int64)


def _assign(x: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """x (N, sub), cent (K, sub) int64 → nearest centroid index (N,),
    first (lowest) index on ties."""
    d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    return np.argmin(d, axis=1)


def pq_train(
    df: DataFrame, vec: str = "embedding", id_col: str = "vec_id",
    m: int = 8, k: int = 16, iters: int = 5, qscale: int = 1024,
) -> np.ndarray:
    """(m, k, dim/m) int64 codebooks via deterministic integer k-means
    (see module doc).  Each iteration is one distributed pass emitting
    per-partition integer partials; the driver reduces (m·k) rows.

    Seeds: K evenly-spaced positions within the first ``min(n,
    k*1000)`` ids (the pinned seed-pool cap — see module doc)."""
    dim = len(df.select(vec).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    seed_ids = [r[0] for r in
                df.select(id_col).orderBy(id_col).limit(k * 1000).collect()]
    seed_ids = seed_ids[:: max(1, len(seed_ids) // k)][:k]
    seeds = (df.filter(F.col(id_col).isin(seed_ids))
             .orderBy(id_col).select(vec).collect())
    cent = np.stack([
        _quant(np.asarray(s[0], dtype=np.float64), qscale).reshape(m, sub)
        for s in seeds
    ])  # (k, m, sub)
    cent = np.transpose(cent, (1, 0, 2)).copy()  # (m, k, sub)

    spark = df.sparkSession
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cent)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = bc.value
            sums = np.zeros((m, k, sub), dtype=np.int64)
            cnts = np.zeros((m, k), dtype=np.int64)
            for b in batches:
                x = _quant(np.stack(
                    [np.asarray(v, dtype=np.float64) for v in b[vec]]),
                    qscale).reshape(len(b), m, sub)
                for mi in range(m):
                    a = _assign(x[:, mi, :], c[mi])
                    np.add.at(sums[mi], a, x[:, mi, :])
                    np.add.at(cnts[mi], a, 1)
            rows = [(mi, ki, [int(v) for v in sums[mi, ki]],
                     int(cnts[mi, ki]))
                    for mi in range(m) for ki in range(k)]
            yield pd.DataFrame(rows, columns=["m", "k", "s", "c"])

        part = df.select(vec).mapInPandas(
            partials, "m int, k int, s array<long>, c long")
        agg = (part.groupBy("m", "k")
               .agg(F.aggregate(F.collect_list("s"),
                                F.array(*[F.lit(0).cast("long")] * sub),
                                lambda acc, s: F.zip_with(
                                    acc, s, lambda a, b: a + b)).alias("s"),
                    F.sum("c").alias("c"))
               .collect())
        new = cent.copy()
        for r in agg:
            if r["c"] > 0:
                s = np.asarray(r["s"], dtype=np.int64)
                new[r["m"], r["k"]] = (2 * s + r["c"]) // (2 * r["c"])
        cent = new
        bc.destroy()
    return cent


def pq_encode(
    df: DataFrame, cent: np.ndarray, vec: str = "embedding",
    id_col: str = "vec_id", qscale: int = 1024,
) -> tuple[DataFrame, Broadcast]:
    """(id, code array<int>) — one pass, codes are M small indices —
    and the codebook broadcast it reads, for a caller that materializes
    the codes to destroy."""
    m, _, sub = cent.shape
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(cent)

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for b in batches:
            x = _quant(np.stack(
                [np.asarray(v, dtype=np.float64) for v in b[vec]]),
                qscale).reshape(len(b), m, sub)
            codes = np.stack(
                [_assign(x[:, mi, :], c[mi]) for mi in range(m)], axis=1)
            yield pd.DataFrame({
                id_col: b[id_col],
                "code": [[int(v) for v in row] for row in codes]})

    return df.select(id_col, vec).mapInPandas(
        enc, f"{id_col} long, code array<int>"), bc


def _adc_candidates(
    codes: DataFrame, qrows: list, cent: np.ndarray, topk: int,
    id_col: str, qscale: int,
) -> tuple[DataFrame, Broadcast]:
    """Scan ``codes`` against one collected+broadcast query slice
    (list of (id, vector) rows) — per-partition integer ADC with a
    batch-local (dist, vec_id) top-(k+1) cut.  Returns the candidate
    frame and its ADC-table broadcast."""
    m, k, sub = cent.shape
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qx = _quant(np.stack(
        [np.asarray(r[1], dtype=np.float64) for r in qrows]),
        qscale).reshape(len(qrows), m, sub)
    # tables[qi, mi, ki] = integer L2² between query subvector and centroid
    tables = ((qx[:, :, None, :] - cent[None, :, :, :]) ** 2).sum(axis=3)
    bc = codes.sparkSession.sparkContext.broadcast((qids, tables))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qi, tab = bc.value
        nq = len(qi)
        for b in batches:
            if not len(b):
                continue
            code = np.stack([np.asarray(c, dtype=np.int64)
                             for c in b["code"]])  # (B, m)
            vids = b[id_col].to_numpy()
            # dist (nq, B): gather each subspace's table column by code
            dist = np.zeros((nq, len(b)), dtype=np.int64)
            for mi in range(m):
                dist += tab[:, mi, :][:, code[:, mi]]
            rows = {"qid": [], "vec_id": [], "adc_dist": []}
            kk = min(topk, len(b))
            for qj in range(nq):
                d = dist[qj]
                # batch-local order must MATCH the global window's
                # (dist, vec_id) tie-break, or boundary ties could drop
                # the globally-ranked candidate
                keep = np.lexsort((vids, d))[:kk + 1]
                for bi in keep:
                    if vids[bi] == qi[qj]:
                        continue
                    rows["qid"].append(int(qi[qj]))
                    rows["vec_id"].append(int(vids[bi]))
                    rows["adc_dist"].append(int(d[bi]))
            yield pd.DataFrame(rows)

    return codes.mapInPandas(scan, "qid long, vec_id long, adc_dist long"), bc


# pq_topk collects at most this many query rows on the driver at once
_MAX_QUERY_ROWS = 65536


def pq_topk(
    df: DataFrame, queries: DataFrame, cent: np.ndarray, topk: int = 5,
    vec: str = "embedding", id_col: str = "vec_id", qscale: int = 1024,
) -> DataFrame:
    """ADC top-k: for each query row, the ``topk`` nearest codes by
    integer asymmetric distance (self-matches excluded).

    The query set is collected with ``limit(_MAX_QUERY_ROWS + 1)`` (64 k
    rows) — one job that is both the driver-memory gate and the collect:

    * at most ``_MAX_QUERY_ROWS`` rows — the queries, sorted by id on
      the driver, broadcast their ADC tables in one scan;
    * more — the scale path: queries hash-split (xxhash64 mod, NO
      global sort — an ntile window would pull the whole query table
      through one task) into enough slices that the expected slice size
      is 80% of the gate.  Slice sizes are then VERIFIED with one
      aggregate (hash slicing only bounds them in expectation —
      duplicate ids all land in one slice) and any slice over 2× the
      gate raises before a collect can OOM the driver.  Each slice is
      collected, broadcast, and scanned against the once-encoded,
      persisted codes; candidates checkpoint eagerly, then the code and
      slice caches are unpersisted and every slice's broadcast is
      destroyed before returning.  Exact same output — the per-slice
      candidate cut uses the identical (dist, vec_id) tie-break, and
      the final window reduces across slices.

    Query ids must be distinct (duplicate qids would merge their
    candidate lists in the final per-qid window on either path).
    """
    q = queries.select(id_col, vec).limit(_MAX_QUERY_ROWS + 1).collect()
    if not q:
        return queries.sparkSession.createDataFrame(
            [], "qid long, vec_id long, rank int, adc_dist long")
    if len(q) <= _MAX_QUERY_ROWS:
        q.sort(key=lambda r: r[0])
        codes = pq_encode(df, cent, vec, id_col, qscale)[0]
        cand = _adc_candidates(codes, q, cent, topk, id_col, qscale)[0]
    else:
        # hash-sliced, not ntile: a partitionBy-less window is itself
        # a one-task bottleneck at 10^8 queries.  Slice count targets
        # 80% of the gate per slice in expectation; xxhash64 keys are
        # deterministic, so re-runs slice identically.
        n_q = queries.count()
        per_slice = max(1, int(_MAX_QUERY_ROWS * 0.8))
        n_slices = max(2, -(-n_q // per_slice))
        # ONE pass over the query table: slice ids computed once and
        # persisted, so the per-slice collects below filter the cached
        # slices instead of rescanning the input n_slices times
        sliced = queries.select(
            id_col, vec,
            F.pmod(F.xxhash64(id_col), F.lit(n_slices)).alias("_sl"),
        ).persist()
        # hard bound check BEFORE any collect: expectation is not a
        # cap — duplicate ids hash identically and pile into one slice
        sizes = {r["_sl"]: r["n"] for r in
                 sliced.groupBy("_sl").agg(F.count("*").alias("n"))
                 .collect()}
        oversized = {sl: n for sl, n in sizes.items()
                     if n > 2 * _MAX_QUERY_ROWS}
        if oversized:
            sliced.unpersist()
            raise ValueError(
                f"hash slices exceed 2x _MAX_QUERY_ROWS={_MAX_QUERY_ROWS}: "
                f"{oversized} — query ids are likely non-distinct "
                "(duplicate qids are unsupported)")
        codes, enc_bc = pq_encode(df, cent, vec, id_col, qscale)
        codes = codes.persist()
        parts, bcs = [], [enc_bc]
        for sl in sorted(sizes):
            q = (sliced.filter(F.col("_sl") == sl)
                 .select(id_col, vec).orderBy(id_col).collect())
            if q:
                part, bc = _adc_candidates(codes, q, cent, topk, id_col, qscale)
                parts.append(part)
                bcs.append(bc)
        cand = parts[0]
        for p in parts[1:]:
            cand = cand.unionByName(p)
        # materialize candidates (bounded: ≤ (topk+1)·partitions per
        # query) so the caches and broadcasts don't leak past the call
        cand = cand.localCheckpoint()
        codes.unpersist()
        sliced.unpersist()
        for bc in bcs:
            bc.destroy()
    w = Window.partitionBy("qid").orderBy("adc_dist", "vec_id")
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= topk)
            .select("qid", "vec_id", "rank", "adc_dist"))
