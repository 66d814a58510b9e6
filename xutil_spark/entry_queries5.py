"""Round-3 contract queries: S2 cell encoding.

Engine addition beyond the reference (north rule: "batched H3/S2 cell
encoding of image capture locations") — the reference's only cells are
slippy-map tiles (gis.go:238-283).  Oracle strategy mirrors the other
computed-VALUES pairs (sha1, simhash, winnowing): an independently
coded scalar implementation (`kernels/s2.cell_id_py`, math.* trig and
big-int bit walk) generates golden literals over the sf0.01 gate
input, cross-checking the engine's vectorized numpy path end-to-end
through Spark.

Output levels are 16/12 (cells ~600 m / ~10 km): coarse enough that a
<=4-ulp trig difference between numpy and libm cannot flip a cell
(flip probability per point ~2^16 * 4 * 2^-52), fine enough to prove
the full face/Hilbert pipeline.  Leaf-level (30) parity is pinned in
tests/test_s2.py on literal inputs where both sides see identical
doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xutil_spark.entry_queries import _points, _read, _utc

def q_s2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled points -> leaf S2 encode (one vectorized UDF) -> level-16
    and level-12 keys derived JVM-side by the bit-mask parent (no
    re-encode), plus the canonical hex token."""
    from xutil_spark.operators.s2cells import cell_encode_s2, s2_parent, s2_token

    _utc(spark)

    pts = (
        _points(spark, sf_dir)
        .filter(F.col("pid") % 97 == 0)
        .select("pid", "lon", "lat")
        .distinct()  # lineitem carries exact duplicate rows at every SF
    )
    enc = cell_encode_s2(pts, level=30, out_col="s2_leaf")
    return enc.select(
        "pid",
        s2_parent("s2_leaf", 16).alias("s2_16"),
        s2_parent("s2_leaf", 12).alias("s2_12"),
        s2_token(s2_parent("s2_leaf", 12)).alias("tok_12"),
    )


def o_s2_cells() -> str:
    """Golden VALUES oracle: scalar cell_id_py at levels 16/12 directly
    (not via the leaf mask — so the JVM parent mask is cross-checked
    against direct coarse encoding too)."""
    import duckdb as _dd

    from xutil_spark.kernels.s2 import cell_id_py, token_py

    # inlined copy of entry_queries._PTS_SQL over the sf0.01 parquet
    # (the VALUES are computed here, before any view exists); any drift
    # from the Spark-side _points shows up as a hash mismatch
    pts_sql = """
SELECT l_orderkey * 10 + l_linenumber AS pid,
       73.5 + ((l_orderkey * 2654435761 + l_linenumber * 40503) % 1048576) / 1048576.0 * 61.0 AS lon,
       18.2 + ((l_orderkey * 1597334677 + l_linenumber * 69697) % 1048576) / 1048576.0 * 35.3 AS lat
FROM read_parquet('/root/testdata/sf0.01/lineitem.parquet')
"""
    rows = _dd.sql(
        f"SELECT DISTINCT pid, lon, lat FROM ({pts_sql}) "
        "WHERE pid % 97 = 0 ORDER BY pid"
    ).fetchall()
    vals = ",".join(
        f"({p},{cell_id_py(lo, la, 16)},{cell_id_py(lo, la, 12)},"
        f"'{token_py(cell_id_py(lo, la, 12))}')"
        for p, lo, la in rows
    )
    return f"""
SELECT CAST(pid AS BIGINT) AS pid, CAST(s2_16 AS BIGINT) AS s2_16,
       CAST(s2_12 AS BIGINT) AS s2_12, tok_12
FROM (VALUES {vals}) AS s(pid, s2_16, s2_12, tok_12)
"""


def q_rep_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style n-gram repetition filter over the documents table:
    per-doc duplicate-trigram fraction, top word-bigram + the char
    fraction it covers, and the keep verdict at the default
    thresholds.  The line-based half (`line_repetition_features`) is
    pinned by pytest on a multi-line corpus (this corpus is
    single-line, so its metrics are degenerate here)."""
    from xutil_spark.operators.textops import repetition_features

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    out = repetition_features(docs)
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "dup_trigram_frac", "top_bigram", "top_bigram_char_frac", "keep",
    )


def o_rep_filter() -> str:
    """Independent DuckDB formulation: list comprehensions for the
    n-gram arrays, unnest + QUALIFY row_number for the per-doc top
    bigram (vs the engine's min_by-on-struct two-level aggregation)."""
    return r"""
WITH d AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS w
  FROM documents
), base AS (
  SELECT doc_id,
         len(w) AS n_words,
         CASE WHEN len(w) >= 3 THEN
           list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         ELSE []::VARCHAR[] END AS tri,
         CASE WHEN len(w) >= 2 THEN
           list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
         ELSE []::VARCHAR[] END AS big,
         length(regexp_replace(lower(trim(text)), '\s+', '', 'g')) AS nschars
  FROM d
), tris AS (
  SELECT doc_id, n_words, nschars, big,
         CASE WHEN len(tri) > 0
              THEN round(1.0 - len(list_distinct(tri))::DOUBLE / len(tri), 6)
              ELSE 0.0 END AS dup_trigram_frac
  FROM base
), cnts AS (
  SELECT doc_id, bgm, count(*) AS cnt
  FROM (SELECT doc_id, unnest(big) AS bgm FROM base)
  GROUP BY 1, 2
), top AS (
  SELECT doc_id, bgm, cnt FROM cnts
  QUALIFY row_number() OVER (PARTITION BY doc_id
                             ORDER BY cnt DESC, bgm ASC) = 1
)
SELECT t.doc_id, CAST(t.n_words AS BIGINT) AS n_words, t.dup_trigram_frac,
       COALESCE(p.bgm, '') AS top_bigram,
       round(COALESCE(p.cnt, 0) * length(replace(COALESCE(p.bgm, ''), ' ', ''))
             / greatest(t.nschars, 1), 6) AS top_bigram_char_frac,
       (t.dup_trigram_frac <= 0.3
        AND round(COALESCE(p.cnt, 0) * length(replace(COALESCE(p.bgm, ''), ' ', ''))
                  / greatest(t.nschars, 1), 6) <= 0.18) AS keep
FROM tris t LEFT JOIN top p USING (doc_id)
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style PII scrubbing.  The corpus itself carries no PII, so the
    query first injects one deterministic email / phone / IPv4 literal
    per doc (pure string building from doc_id+lang, reproduced verbatim
    in the oracle SQL) — the regexes are then exercised on real
    matches, not vacuously."""
    from xutil_spark.operators.textops import pii_scrub

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" user"), F.col("doc_id").cast("string"),
            F.lit("@mail-"), F.col("lang"), F.lit(".org call +86 138 "),
            F.col("doc_id").cast("string"),
            F.lit(" at 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    return pii_scrub(seeded)


def o_pii_scrub() -> str:
    from xutil_spark.operators.textops import PII_PATTERNS

    em, ph, ip = (PII_PATTERNS[k] for k in ("email", "phone", "ipv4"))
    return f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' user' || doc_id || '@mail-' || lang ||
         '.org call +86 138 ' || doc_id || ' at 10.0.' ||
         (doc_id % 256) || '.7' AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{em}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '{ph}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(t, '{ip}')) AS BIGINT) AS n_ipv4,
       regexp_replace(
         regexp_replace(
           regexp_replace(t, '{em}', '<EMAIL>', 'g'),
           '{ph}', '<PHONE>', 'g'),
         '{ip}', '<IPV4>', 'g') AS scrubbed
FROM seeded
"""


CONTRACT = {
    "s2_cells": (q_s2_cells, o_s2_cells),
    "rep_filter": (q_rep_filter, o_rep_filter),
    "pii_scrub": (q_pii_scrub, o_pii_scrub),
}
