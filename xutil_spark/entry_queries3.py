"""Driver-contract queries, batch 3: training-data dedup/similarity
completion (n-gram Jaccard, embedding near-dup exact + LSH ANN), the
ID-card decode pipeline (idcard.go:92-134), Baidu Mercator/tile chain
(gis.go:285-341), TimeSplit, and the remaining set operators.  Same
oracle-parity rules as entry_queries (identical aliases, rounded
floats, integer-deterministic inputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xutil_spark.entry_queries import (
    _PTS_SQL, _await_stream, _points, _read, _utc, o_lsh_dup_pairs, o_wgs2gcj,
)
from xutil_spark.functions import native

# ===================================================== dedup / similarity


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-8-gram Jaccard over the MinHash-LSH candidate pairs —
    the full two-stage near-dup pipeline (candidates via bucket join,
    verification via array_intersect/array_union, all JVM-side)."""
    _utc(spark)
    from xutil_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    cand = minhash_lsh_pairs(docs, k=8, bands=8, rows=2)
    out = ngram_jaccard_pairs(docs, cand, k=8, threshold=0.5)
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def o_ngram_jaccard() -> str:
    sh = (
        "CASE WHEN length(text) >= 8 THEN list_distinct(list_transform("
        "range(1, length(text) - 6), i -> substr(text, CAST(i AS INT), 8)))"
        " ELSE [] END"
    )
    jac = (
        "ROUND(CAST(len(list_intersect(sa.st, sb.st)) AS DOUBLE)"
        " / len(list_distinct(list_concat(sa.st, sb.st))), 6)"
    )
    return f"""
WITH pairs AS ({o_lsh_dup_pairs()}),
sets AS (SELECT doc_id, {sh} AS st FROM documents)
SELECT * FROM (
  SELECT p.a, p.b, {jac} AS jaccard
  FROM pairs p
  JOIN sets sa ON sa.doc_id = p.a
  JOIN sets sb ON sb.doc_id = p.b
) WHERE jaccard >= 0.5
"""


# same float expressions as the (matching) cosine_top5 oracle
_DOT = (
    "list_sum(list_transform(range(1, 65),"
    " i -> CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)"
    " * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)))"
)
_NA = "sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
_NB = "sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (score ≥ τ), exact
    variant (n_bits=0 ⇒ single bucket = full pair join) — the oracle
    baseline for the LSH-bucketed scale path below.  τ=0.3: the synth
    embeddings are near-uniform (max pairwise cosine ≈0.51 at sf0.01),
    so a production-style 0.9 threshold would be vacuously empty."""
    _utc(spark)
    from xutil_spark.operators.similarity import embedding_near_dup_pairs

    emb = _read(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, dim=64, threshold=0.3, n_bits=0)


def o_embedding_near_dup() -> str:
    return f"""
SELECT * FROM (
  SELECT a.vec_id AS a, b.vec_id AS b,
         ROUND({_DOT} / ({_NA} * {_NB}), 6) AS score
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
) WHERE score >= 0.3
"""


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-dup pairs (the 10^12-scale path: bucket join
    instead of pair join).  Approximate but fully DETERMINISTIC — the
    splitmix64 hyperplanes fix every bucket, so the exact output is
    oracle-checkable: kernels/lsh_py.py re-derives planes (bit-equal
    big-int scalar path), buckets (sequential dots; numpy matmul signs
    agree with margin ≥5e-5 on the gate input), candidate pairs and
    rounded cosines independently of the numpy engine path.  Recall vs
    the exact variant additionally pytest-pinned."""
    _utc(spark)
    from xutil_spark.operators.similarity import embedding_near_dup_pairs

    emb = _read(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, dim=64, threshold=0.3, n_bits=8)


def _sf001_embeddings():
    """(ids, vecs) of the driver-gate input (sf0.01), exact float32→
    float64 widening — used by the two LSH computed-VALUES oracles."""
    import pyarrow.parquet as pq

    t = pq.read_table("/root/testdata/sf0.01/embeddings.parquet")
    ids = t.column("vec_id").to_pylist()
    vecs = [[float(x) for x in v] for v in t.column("embedding").to_pylist()]
    return ids, vecs


def o_embedding_near_dup_lsh() -> str:
    """Computed-VALUES golden from the independent scalar LSH path
    (kernels/lsh_py.near_dup_pairs_py) over the sf0.01 gate input."""
    from xutil_spark.kernels.lsh_py import near_dup_pairs_py

    ids, vecs = _sf001_embeddings()
    pairs = near_dup_pairs_py(ids, vecs, threshold=0.3, n_bits=8)
    vals = ",".join(f"({a},{b},{s!r})" for a, b, s in pairs)
    return f"""
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(score AS DOUBLE) AS score
FROM (VALUES {vals}) AS t(a, b, score)
"""


def q_cosine_top5_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via multi-table random-hyperplane LSH with hamming-1
    multiprobe — the scale path twin of cosine_top5.  Approximate but
    deterministic (fixed splitmix64 hyperplanes), so exact-output
    oracle-checkable via the independent scalar path in
    kernels/lsh_py.py; recall additionally pytest-pinned on planted
    clusters."""
    _utc(spark)
    from xutil_spark.operators.similarity import cosine_topk_lsh

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 50)
    return cosine_topk_lsh(q, emb, dim=64, k=5)


def o_cosine_top5_lsh() -> str:
    """Computed-VALUES golden from kernels/lsh_py.topk_lsh_py (same
    tables/probes/tie-break: score DESC, nn_id ASC)."""
    from xutil_spark.kernels.lsh_py import topk_lsh_py

    ids, vecs = _sf001_embeddings()
    q_ids = sorted(i for i in ids if i < 50)
    rows = topk_lsh_py(q_ids, ids, vecs, k=5, n_bits=8, n_tables=4)
    vals = ",".join(f"({q},{nn},{s!r},{r})" for q, nn, s, r in rows)
    return f"""
SELECT CAST(q_id AS BIGINT) AS q_id, CAST(nn_id AS BIGINT) AS nn_id,
       CAST(score AS DOUBLE) AS score, CAST(rank AS INT) AS rank
FROM (VALUES {vals}) AS t(q_id, nn_id, score, rank)
"""


# ============================================================== id cards

# full-cardinality synthetic admin-region dim (~3.4k rows, the
# ChinaAddr.json shape at real size — see data/synth.region_rows);
# loaded in the query through load_region_dim's JSON path so the
# reference's idcard.go:40-53 loading route is driver-exercised too
from xutil_spark.data.synth import region_rows as _region_rows

_REGIONS = _region_rows()
# ID region codes cycle ~110 district codes spread across the dim,
# plus three probes the 3-level join must NULL correctly: 110199
# (district absent, city+province present), 320499 (same, other
# province), 830101 (province absent entirely → all three levels null)
_CODE6 = [c for c, _ in _REGIONS if c[4:6] != "00"][::29] + [
    "110199", "320499", "830101",
]
_WI = [7, 9, 10, 5, 8, 4, 2, 1, 6, 3, 7, 9, 10, 5, 8, 4, 2]
_Y11 = "10X98765432"


def _id17_spark(custkey) -> F.Column:
    """Deterministic 17-digit prefix from the customer key (mirrored in
    SQL by _id17_sql): region code cycles the dim, birthdate
    1950-1999 / month 1-12 / day 1-28, 3-digit sequence."""
    k = custkey if isinstance(custkey, F.Column) else F.col(custkey)
    code6 = F.element_at(
        F.array(*[F.lit(c) for c in _CODE6]), (k % len(_CODE6) + 1).cast("int")
    )
    return F.concat(
        code6,
        (F.lit(1950) + k % 50).cast("string"),
        F.lpad((F.lit(1) + k % 12).cast("string"), 2, "0"),
        F.lpad((F.lit(1) + k % 28).cast("string"), 2, "0"),
        F.lpad((k % 1000).cast("string"), 3, "0"),
    )


def _id17_sql() -> str:
    cases = " ".join(
        f"WHEN {i} THEN '{c}'" for i, c in enumerate(_CODE6)
    )
    return (
        f"(CASE c_custkey % {len(_CODE6)} {cases} END)"
        " || CAST(1950 + c_custkey % 50 AS VARCHAR)"
        " || lpad(CAST(1 + c_custkey % 12 AS VARCHAR), 2, '0')"
        " || lpad(CAST(1 + c_custkey % 28 AS VARCHAR), 2, '0')"
        " || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')"
    )


def q_idcard_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NewIDCard (idcard.go:92-134): build deterministic 18-digit IDs
    from customer keys (1-in-7 given a corrupt check digit), then
    checksum-validate (IDsumY weighted mod-11), parse birthdate /
    gender / age (as-of 2026-01-01), and decode the 3-level region via
    broadcast joins."""
    _utc(spark)
    import pandas as pd

    from xutil_spark.operators.relational import id_card_pipeline, id_checksum_udf

    cust = _read(spark, sf_dir, "customer").select("c_custkey")
    id17 = _id17_spark("c_custkey")
    check = id_checksum_udf()(id17)
    # keep the builder's check digit and hand it to the pipeline: the
    # checksum UDF then runs ONCE per row instead of build + validate
    ids = cust.withColumn("_ck", check).withColumn(
        "id",
        F.when(F.col("c_custkey") % 7 == 0, F.concat(id17, F.lit("0")))
        .otherwise(F.concat(id17, F.col("_ck"))),
    )
    # write the dim as JSON and load through load_region_dim — the
    # reference's ChinaAddr.json route (idcard.go:40-53) at full
    # cardinality, not a toy in-memory frame
    import hashlib
    import json
    import os
    import tempfile

    # key the cache file by content hash: a bare exists() check would
    # silently reuse a stale dim written by an older code version (or
    # another process on shared /tmp) after _REGIONS changes, making
    # the join diverge from the in-memory oracle
    payload = json.dumps(dict(_REGIONS), sort_keys=True)
    digest = hashlib.md5(payload.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(),
                        f"xutil_region_dim_{digest}.json")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(payload)
        os.replace(tmp, path)  # atomic: concurrent query runs see whole files
    from xutil_spark.operators.relational import load_region_dim

    dim = load_region_dim(spark, path)
    out = id_card_pipeline(ids, dim, id_col="id", as_of="2026-01-01",
                           check_col="_ck")
    return out.select(
        "c_custkey", "id",
        F.col("_ok_check").alias("valid"),
        F.col("birthdate").cast("string").alias("birthdate"),
        "gender", "age", "province", "city", "district",
    )


def o_idcard_pipeline() -> str:
    digsum = " + ".join(
        f"CAST(substr(id17, {i + 1}, 1) AS INT) * {w}" for i, w in enumerate(_WI)
    )
    ymap = " ".join(f"WHEN {i} THEN '{ch}'" for i, ch in enumerate(_Y11))
    dimrows = ", ".join(f"('{c}', '{n}')" for c, n in _REGIONS)
    return f"""
WITH base AS (
  SELECT c_custkey, {_id17_sql()} AS id17 FROM customer
),
chk AS (
  SELECT c_custkey, id17,
         (CASE ({digsum}) % 11 {ymap} END) AS ck
  FROM base
),
ids AS (
  SELECT c_custkey,
         id17 || CASE WHEN c_custkey % 7 = 0 THEN '0' ELSE ck END AS id,
         ck
  FROM chk
),
dim(code, name) AS (VALUES {dimrows}),
parsed AS (
  SELECT c_custkey, id, (substr(id, 18, 1) = ck) AS valid,
         CAST(strptime(substr(id, 7, 8), '%Y%m%d') AS DATE) AS bd,
         CASE WHEN CAST(substr(id, 17, 1) AS INT) % 2 = 0 THEN 'F' ELSE 'M' END AS gender,
         substr(id, 1, 6) AS c6,
         substr(id, 1, 4) || '00' AS c4,
         substr(id, 1, 2) || '0000' AS c2
  FROM ids
)
SELECT p.c_custkey, p.id, p.valid,
       CAST(p.bd AS VARCHAR) AS birthdate, p.gender,
       2026 - year(p.bd) - (CASE WHEN month(p.bd) > 1 OR (month(p.bd) = 1 AND day(p.bd) > 1)
                                 THEN 1 ELSE 0 END) AS age,
       dp.name AS province, dc.name AS city, dd.name AS district
FROM parsed p
LEFT JOIN dim dd ON dd.code = p.c6
LEFT JOIN dim dc ON dc.code = p.c4
LEFT JOIN dim dp ON dp.code = p.c2
"""


# ======================================================== Baidu Mercator


def q_baidu_mercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bd09ToMercator + Bd09ToTile z12 (gis.go:285-341): 6-band
    polynomial projection (vectorized numpy UDF) and the meters-based
    Baidu tile pyramid.  Derived points lie in [73.5,134.5]×[18.2,53.5]
    so the lng-wrap and ±74 lat clamp are no-ops (pytest covers them);
    the oracle transcribes the banded polynomial with the kernel's
    exact float64 association."""
    _utc(spark)
    from xutil_spark.functions import geo_udfs

    pts = _points(spark, sf_dir).filter(F.col("pid") % 17 == 3)
    m = geo_udfs.bd09_to_mercator(F.col("lon"), F.col("lat"))
    t = geo_udfs.bd09_tile(F.col("lon"), F.col("lat"), F.lit(12))
    return pts.select(
        "pid",
        F.round(m.getField("x"), 6).alias("mx"),
        F.round(m.getField("y"), 6).alias("my"),
        t.getField("x").alias("btx"),
        t.getField("y").alias("bty"),
    )


def o_baidu_mercator() -> str:
    from xutil_spark.kernels.baidu import _LL2MC

    band = (
        "CASE WHEN lat >= 75 THEN 0 WHEN lat >= 60 THEN 1 WHEN lat >= 45 THEN 2"
        " WHEN lat >= 30 THEN 3 WHEN lat >= 15 THEN 4 ELSE 5 END"
    )
    ce_cases = []
    for j in range(10):
        arms = " ".join(
            f"WHEN {i} THEN {float(_LL2MC[i][j])!r}" for i in range(6)
        )
        ce_cases.append(f"(CASE band {arms} END) AS ce{j}")
    ce_sql = ", ".join(ce_cases)
    # same association as kernels.baidu._yr (square-chained powers)
    return f"""
WITH pts AS ({_PTS_SQL}),
sel AS (SELECT pid, lon, lat, {band} AS band FROM pts WHERE pid % 17 = 3),
co AS (SELECT pid, lon, lat, {ce_sql} FROM sel),
e1 AS (SELECT *, ce0 + ce1 * abs(lon) AS xt, abs(lat) / ce9 AS cc FROM co),
e2 AS (SELECT *, cc * cc AS cc2 FROM e1),
e3 AS (SELECT *, cc2 * cc AS cc3, cc2 * cc2 AS cc4 FROM e2),
e4 AS (SELECT *, cc4 * cc AS cc5, cc4 * cc2 AS cc6 FROM e3),
e5 AS (SELECT pid, lon, lat, xt,
              ce2 + ce3 * cc + ce4 * cc2 + ce5 * cc3 + ce6 * cc4
                  + ce7 * cc5 + ce8 * cc6 AS yt
       FROM e4),
m AS (SELECT pid,
             CASE WHEN lon < 0 THEN -xt ELSE xt END AS x,
             CASE WHEN lat < 0 THEN -yt ELSE yt END AS y
      FROM e5)
SELECT pid, ROUND(x, 6) AS mx, ROUND(y, 6) AS my,
       CAST(floor(x / 16384.0) AS BIGINT) AS btx,
       CAST(floor(y / 16384.0) AS BIGINT) AS bty
FROM m
"""


# ============================================================ time / sets


def q_time_split_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimeSplit (time.go:134-139): half-open [day, day+1) hourly split
    of each sampled event's day → 24 rows per event."""
    _utc(spark)
    from xutil_spark.operators.relational import time_split

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") % 199 == 0)
    day = F.date_trunc("day", F.col("ts"))
    seq = time_split(day, day + F.expr("interval 1 day"), 3600)
    return ev.select(
        "event_id", F.explode(seq).alias("hour_ts")
    ).select("event_id", F.col("hour_ts").cast("string").alias("hour_ts"))


def o_time_split_hourly() -> str:
    return """
SELECT event_id,
       CAST(unnest(range(date_trunc('day', ts),
                         date_trunc('day', ts) + INTERVAL 1 DAY,
                         INTERVAL 1 HOUR)) AS VARCHAR) AS hour_ts
FROM events WHERE event_id % 199 = 0
"""


def q_union_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringsUnion (strings.go:79-95): deduped union of two customer
    segments' names."""
    _utc(spark)
    from xutil_spark.operators.relational import strings_union

    c = _read(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING")
    b = c.filter(F.col("c_mktsegment") == "MACHINERY")
    return strings_union(a.select("c_name"), b.select("c_name"), on="c_name")


def o_union_names() -> str:
    return """
SELECT DISTINCT c_name FROM customer
WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
"""


def q_uniq_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringsUniq (strings.go:114-124): stable dedup — first event (by
    id order) of each event_type."""
    _utc(spark)
    from xutil_spark.operators.relational import strings_uniq

    ev = _read(spark, sf_dir, "events").select("event_type", "event_id")
    return strings_uniq(ev, on="event_type", order_col="event_id")


def o_uniq_first_event() -> str:
    return """
SELECT event_type, MIN(event_id) AS event_id FROM events GROUP BY event_type
"""


# ============================================================== raster


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → nearest-neighbor resize to 8×8 → re-encode raw → digest
    (the multimodal transform pipeline shape; binary codec → rows-only,
    pixel exactness pytest-pinned)."""
    _utc(spark)
    from xutil_spark.data.synth import images_table
    from xutil_spark.raster.images import resize

    img = images_table(spark, 2000)
    out = resize(img, out_w=8, out_h=8)
    return out.select(
        "image_id", "w", "h", "fmt", F.md5(F.col("bytes")).alias("px_md5"), "caption"
    )


# ======================================================= hashes / time


def q_hash_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash.MD5 (crypto.go:24-29) + Hash.SHA1 (crypto.go:31-35) + SHA-2
    digest of document text — builtin JVM expressions (FileHash/FileMD5
    map to the same columns over binaryFile content)."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("md5_hex"),
        F.sha1(F.col("text")).alias("sha1_hex"),
        F.sha2(F.col("text"), 256).alias("sha256_hex"),
    )


def o_hash_digests() -> str:
    """md5/sha256 are native DuckDB; SHA-1 is NOT (DuckDB 1.0 ships no
    sha1 function), so the sha1 column joins a VALUES table computed
    with Python ``hashlib`` — a genuinely INDEPENDENT implementation
    from the JVM's MessageDigest, i.e. still a real cross-check.  The
    literals derive from the sf0.01 documents table because the driver
    gate runs at sf=0.01."""
    import hashlib as _hl

    import duckdb as _dd

    rows = _dd.sql(
        "SELECT doc_id, text FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet') "
        "WHERE doc_id % 3 = 0 ORDER BY doc_id"
    ).fetchall()
    vals = ",".join(
        f"({i},'{_hl.sha1(t.encode()).hexdigest()}')" for i, t in rows
    )
    return f"""
SELECT d.doc_id, md5(d.text) AS md5_hex, s.sha1_hex,
       sha256(d.text) AS sha256_hex
FROM documents d
JOIN (VALUES {vals}) AS s(doc_id, sha1_hex) ON d.doc_id = s.doc_id
WHERE d.doc_id % 3 = 0
"""


def q_day_last_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DayLastRange (time.go:61-82): previous Sunday-week / previous
    month / yesterday as exploded yyyymmdd rows, per sampled event date
    (as_of = the event's day; reference uses wall-clock now)."""
    _utc(spark)
    from xutil_spark.operators.relational import day_last_range

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") % 503 == 7)
    parts = []
    for kind in ("week", "month", "day"):
        parts.append(
            ev.select(
                "event_id",
                F.lit(kind).alias("kind"),
                F.explode(day_last_range(F.col("ts"), kind)).alias("yyyymmdd"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def o_day_last_range() -> str:
    return """
WITH ev AS (
  SELECT event_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events WHERE event_id % 503 = 7
),
w AS (SELECT event_id, d, d - to_days(CAST(dayofweek(d) AS INT)) AS we FROM ev),
ranges AS (
  SELECT event_id, 'week' AS kind, we - to_days(7) AS b, we AS e FROM w
  UNION ALL
  SELECT event_id, 'month', CAST(date_trunc('month', d) - INTERVAL 1 MONTH AS DATE),
         CAST(date_trunc('month', d) AS DATE) FROM ev
  UNION ALL
  SELECT event_id, 'day', d - to_days(1), d FROM ev
)
SELECT event_id, kind,
       strftime(CAST(unnest(range(CAST(b AS TIMESTAMP), CAST(e AS TIMESTAMP),
                                  INTERVAL 1 DAY)) AS DATE), '%Y%m%d') AS yyyymmdd
FROM ranges
"""


def q_time_trunc_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimeTrunc (time.go:9-28) across month/day/hour/minute for
    sampled events (week covered by events_weekly_sunday)."""
    _utc(spark)
    from xutil_spark.operators.relational import time_trunc

    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") % 101 == 5)
    return ev.select(
        "event_id",
        *[
            time_trunc(F.col("ts"), u).cast("string").alias(f"t_{u}")
            for u in ("month", "day", "hour", "minute")
        ],
    )


def o_time_trunc_units() -> str:
    # DuckDB's month/day trunc yields DATE — route through TIMESTAMP so
    # the string form matches Spark's "yyyy-MM-dd HH:mm:ss"
    cols = ", ".join(
        f"CAST(CAST(date_trunc('{u}', ts) AS TIMESTAMP) AS VARCHAR) AS t_{u}"
        for u in ("month", "day", "hour", "minute")
    )
    return f"""
SELECT event_id, {cols} FROM events WHERE event_id % 101 = 5
"""


# =================================================== skew / dest / resume


def q_salted_tile_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit skew handling end-to-end (north rule): histogram the
    z10 cell key, salt hot cells, explode the dim side, join on the
    composite [cell, _salt] key, aggregate.  The oracle is the PLAIN
    equi-join — proving salted ≡ unsalted against an independent
    engine."""
    _utc(spark)
    from xutil_spark.data.synth import tiles_table
    from xutil_spark.operators.spatial_join import salt_hot_cells, with_cell

    pts = with_cell(_points(spark, sf_dir).select("pid", "lon", "lat"), zoom=10)
    tiles = tiles_table(spark, zoom=10)
    s_pts, s_dim, _hot = salt_hot_cells(pts, tiles, salt=8, id_col="pid")
    j = s_pts.join(
        s_dim.select("cell", "_salt", "tile_id"), on=["cell", "_salt"], how="inner"
    )
    return j.groupBy("tile_id").agg(F.count(F.lit(1)).alias("n_points"))


def o_salted_tile_join() -> str:
    # plain join: tile_id string is z10x{x}y{y} of the point's own cell
    # (the synthetic z10 tile dim covers the full point bbox)
    x = "CAST(floor((lon + 180.0) / 360.0 * 1024) AS BIGINT)"
    y = ("CAST(floor((1.0 - ln(tan(lat * pi() / 180.0) + 1.0 /"
         " cos(lat * pi() / 180.0)) / pi()) / 2.0 * 1024) AS BIGINT)")
    return f"""
WITH pts AS ({_PTS_SQL})
SELECT 'z10x' || {x} || 'y' || {y} AS tile_id, COUNT(*) AS n_points
FROM pts GROUP BY 1
"""


def q_point_at_dest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PointAt (gis.go:222-249): destination from (origin, dist,
    bearing) with the reference's quirks — A=6378245 normalizing radius
    and [0, 2π) longitude wrap — transcribed into the SQL oracle."""
    _utc(spark)
    from xutil_spark.functions import geo_udfs

    pts = _points(spark, sf_dir).filter(F.col("pid") % 23 == 11)
    dist = (F.lit(1000.0) + (F.col("pid") % 100).cast("double") * 500.0)
    az = (F.col("pid") % 360).cast("double")
    d = geo_udfs.point_at(F.col("lon"), F.col("lat"), dist, az)
    return pts.select(
        "pid",
        F.round(d.getField("lon"), 8).alias("dlon"),
        F.round(d.getField("lat"), 8).alias("dlat"),
    )


def o_point_at_dest() -> str:
    rad = "(pi() / 180.0)"
    return f"""
WITH pts AS ({_PTS_SQL}),
inp AS (
  SELECT pid, lat * {rad} AS p1, lon * {rad} AS l1,
         (CAST(pid % 360 AS DOUBLE)) * {rad} AS theta,
         (1000.0 + CAST(pid % 100 AS DOUBLE) * 500.0) / 6378245.0 AS delta
  FROM pts WHERE pid % 23 = 11
),
p2t AS (
  SELECT pid, l1, theta, delta, p1,
         asin(sin(p1) * cos(delta) + cos(p1) * sin(delta) * cos(theta)) AS p2
  FROM inp
),
l2t AS (
  SELECT pid, p2,
         l1 + atan2(sin(theta) * sin(delta) * cos(p1),
                    cos(delta) - sin(p1) * sin(p2)) AS l2
  FROM p2t
)
SELECT pid,
       ROUND((CASE WHEN l2 < 0 THEN l2 + 2.0 * pi() ELSE l2 END) / {rad}, 8) AS dlon,
       ROUND(p2 / {rad}, 8) AS dlat
FROM l2t
"""


def q_snapshot_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resumable-pipeline contract demo (north rule): two stages commit
    atomic snapshots to a fresh store; the pipeline then RE-RUNS and
    must skip both stages (resume-from-checkpoint), returning identical
    committed data plus per-stage executed/skipped flags.  The oracle
    recomputes the z10 cell histogram in SQL and asserts the exact
    executed/skipped literals — a stage that re-executes on the resume
    run (or commits wrong data through the snapshot round-trip) hash-
    mismatches."""
    _utc(spark)
    import tempfile

    from xutil_spark.plans.snapshot import ResumablePipeline, SnapshotStore

    root = tempfile.mkdtemp(prefix="xutil_snap_")
    pts = _points(spark, sf_dir).select("pid", "lon", "lat")

    def run():
        pipe = ResumablePipeline(SnapshotStore(spark, root))
        cells = pipe.stage(
            "cells",
            lambda: pts.withColumn("cell", native.cell("lon", "lat", 10)),
            fingerprint="z10",
        )
        agg = pipe.stage(
            "agg",
            lambda: cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n")),
            fingerprint="z10",
        )
        return pipe, agg

    p1, _ = run()          # cold: executes both stages
    p2, agg2 = run()       # resume: must skip both
    return agg2.withColumn(
        "first_run_executed", F.lit(",".join(p1.executed))
    ).withColumn("resume_skipped", F.lit(",".join(p2.skipped)))


def o_snapshot_resume() -> str:
    """z10 cell histogram over the (dup-preserving) point derivation,
    plus the exact stage-ledger literals: 'cells,agg' executed on the
    cold run AND 'cells,agg' skipped on the resume run."""
    x = "CAST(floor((lon + 180.0) / 360.0 * 1024) AS BIGINT)"
    y = ("CAST(floor((1.0 - ln(tan(lat * pi() / 180.0) + 1.0 /"
         " cos(lat * pi() / 180.0)) / pi()) / 2.0 * 1024) AS BIGINT)")
    return f"""
WITH pts AS ({_PTS_SQL})
SELECT 10 * 288230376151711744 + {x} * 536870912 + {y} AS cell,
       COUNT(*) AS n,
       'cells,agg' AS first_run_executed,
       'cells,agg' AS resume_skipped
FROM pts
GROUP BY 1
"""


def q_wgs2bd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WGS-84 → BD-09 composition (gis.go:134-138): Wgs2gcj rounds to
    8 dp BEFORE Gcj2bd's polar distortion (also 8 dp) — the oracle
    replicates the intermediate rounding."""
    _utc(spark)
    from xutil_spark.functions import geo_udfs

    pts = _points(spark, sf_dir).filter(F.col("pid") % 7 == 2)
    b = geo_udfs.wgs2bd(F.col("lon"), F.col("lat"))
    return pts.select(
        "pid",
        b.getField("lon").alias("blon"),
        b.getField("lat").alias("blat"),
    )


def o_wgs2bd() -> str:
    xpi = "(pi() * 3000.0 / 180.0)"
    return f"""
WITH gcj AS ({o_wgs2gcj()}),
g AS (SELECT pid, glon AS x, glat AS y FROM gcj WHERE pid % 7 = 2),
p AS (
  SELECT pid, x, y,
         sqrt(x*x + y*y) + 0.00002 * sin(y * {xpi}) AS z,
         atan2(y, x) + 0.000003 * cos(x * {xpi}) AS theta
  FROM g
)
SELECT pid,
       ROUND(z * cos(theta) + 0.0065, 8) AS blon,
       ROUND(z * sin(theta) + 0.006, 8) AS blat
FROM p
"""


def q_snapshot_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition lineage surface (north rule): commit one snapshot
    of the z10 cell table (4 hash partitions) into a fresh store and
    return its metrics table — one row per committed file with its row
    count, plus the manifest's stage/rows/files accounting.  File names
    are uuid-random → project the deterministic columns (ordinal by
    ascending rows).  Oracle: literal VALUES (Spark hash partitioning
    is not SQL-expressible but IS deterministic — see
    o_snapshot_lineage)."""
    _utc(spark)
    import tempfile

    from pyspark.sql.window import Window

    from xutil_spark.plans.snapshot import SnapshotStore

    root = tempfile.mkdtemp(prefix="xutil_lineage_")
    store = SnapshotStore(spark, root)
    cells = (
        _points(spark, sf_dir)
        .select("pid", "lon", "lat")
        .withColumn("cell", native.cell("lon", "lat", 10))
        .repartition(4, "cell")
    )
    entry = store.commit(cells, stage="cells", fingerprint="z10p4")
    m = store.metrics(entry)
    w = Window.orderBy(F.asc("rows"), F.asc("file"))
    return m.select(
        F.row_number().over(w).alias("file_ordinal"),
        "rows",
        F.lit(entry["stage"]).alias("stage"),
        F.lit(entry["rows"]).alias("total_rows"),
        F.lit(entry["files"]).alias("n_files"),
    )


def o_snapshot_lineage() -> str:
    """Literal VALUES oracle: Spark's murmur3 hash partitioning of the
    sf0.01 point table (60000 rows) into 4 partitions by z10 cell is
    deterministic for a fixed Spark version, so the per-file row counts
    pin both the lineage bookkeeping AND the partition layout.  The
    driver gate runs at sf=0.01 (these literals are SF-specific)."""
    return """
SELECT * FROM (VALUES
(1, 14674, 'cells', 60000, 4),
(2, 14723, 'cells', 60000, 4),
(3, 15034, 'cells', 60000, 4),
(4, 15569, 'cells', 60000, 4)
) AS t(file_ordinal, rows, stage, total_rows, n_files)
"""


_EV_LON = "73.5 + CAST(event_id * 2654435761 % 1048576 AS DOUBLE) / 1048576.0 * 61.0"
_EV_LAT = "18.2 + CAST(event_id * 1597334677 % 1048576 AS DOUBLE) / 1048576.0 * 35.3"


def q_streaming_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end (SURVEY §2.10): the events table
    replayed as a file stream → deterministic event_id-derived location
    → watermarked 10-minute tumbling windows of per-z10-cell counts
    (streaming/windows.py — the same native cell expression as batch) →
    memory sink, Trigger.AvailableNow.  Deterministic, so the oracle is
    the equivalent batch SQL (epoch floor-to-600s bucketing)."""
    _utc(spark)
    import uuid

    from xutil_spark.streaming.windows import streaming_cell_counts

    import shutil
    import tempfile

    path = f"{sf_dir}/events.parquet"
    # the file source needs a DIRECTORY to watch — stage the table file
    # into one (this is exactly how a landing zone feeds the stream)
    land = tempfile.mkdtemp(prefix="xutil_stream_land_")
    shutil.copy(path, f"{land}/events.parquet")
    schema = spark.read.parquet(path).schema
    src = spark.readStream.schema(schema).parquet(land)
    located = src.select(
        # parquet NTZ → TIMESTAMP (session is UTC, matching epoch())
        F.col("ts").cast("timestamp").alias("ts"),
        (F.lit(73.5) + (F.col("event_id") * 2654435761 % 1048576).cast("double")
         / 1048576.0 * 61.0).alias("lon"),
        (F.lit(18.2) + (F.col("event_id") * 1597334677 % 1048576).cast("double")
         / 1048576.0 * 35.3).alias("lat"),
    )
    agg = streaming_cell_counts(located, zoom=10, window="10 minutes",
                                watermark="5 minutes")
    name = f"stream_cells_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    _await_stream(q)
    return spark.table(name).select(
        F.col("window_start").cast("long").alias("win_start_epoch"),
        "cell",
        "n_events",
    )


def o_streaming_cell_counts() -> str:
    x = "CAST(floor((lon + 180.0) / 360.0 * 1024) AS BIGINT)"
    y = ("CAST(floor((1.0 - ln(tan(lat * pi() / 180.0) + 1.0 /"
         " cos(lat * pi() / 180.0)) / pi()) / 2.0 * 1024) AS BIGINT)")
    return f"""
WITH located AS (
  SELECT ts, {_EV_LON} AS lon, {_EV_LAT} AS lat FROM events
)
SELECT CAST(floor(epoch(ts) / 600.0) * 600 AS BIGINT) AS win_start_epoch,
       10 * 288230376151711744 + {x} * 536870912 + {y} AS cell,
       COUNT(*) AS n_events
FROM located
GROUP BY 1, 2
"""


CONTRACT = {
    "ngram_jaccard": (q_ngram_jaccard, o_ngram_jaccard),
    "embedding_near_dup": (q_embedding_near_dup, o_embedding_near_dup),
    "embedding_near_dup_lsh":
        (q_embedding_near_dup_lsh, o_embedding_near_dup_lsh),
    "cosine_top5_lsh": (q_cosine_top5_lsh, o_cosine_top5_lsh),
    "idcard_pipeline": (q_idcard_pipeline, o_idcard_pipeline),
    "baidu_mercator": (q_baidu_mercator, o_baidu_mercator),
    "time_split_hourly": (q_time_split_hourly, o_time_split_hourly),
    "union_names": (q_union_names, o_union_names),
    "uniq_first_event": (q_uniq_first_event, o_uniq_first_event),
    "hash_digests": (q_hash_digests, o_hash_digests),
    "day_last_range": (q_day_last_range, o_day_last_range),
    "time_trunc_units": (q_time_trunc_units, o_time_trunc_units),
    "salted_tile_join": (q_salted_tile_join, o_salted_tile_join),
    "point_at_dest": (q_point_at_dest, o_point_at_dest),
    "snapshot_resume": (q_snapshot_resume, o_snapshot_resume),
    "snapshot_lineage": (q_snapshot_lineage, o_snapshot_lineage),
    "wgs2bd": (q_wgs2bd, o_wgs2bd),
    "streaming_cell_counts":
        (q_streaming_cell_counts, o_streaming_cell_counts),
}
