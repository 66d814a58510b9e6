"""Contract queries, round-4 batch: deterministic sampling / mixture
operators (operators/sampling.py) — the training-data "mixing" stage.

Same conventions as entry_queries*.py: every q_* takes (spark, sf_dir)
and returns a DataFrame; every o_* returns ANSI SQL DuckDB runs on the
same inputs.  The md5-rank design makes these EXACTLY SQL-expressible:
Spark's ``conv(substr(md5(x), 1, 15), 16, 10)`` is DuckDB's
``('0x' || substr(md5(x), 1, 15))::BIGINT``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xutil_spark.entry_queries import _read, _utc

_RANK_SQL = (
    "('0x' || substr(md5(concat_ws('|', doc_id, '{salt}')), 1, 15))::BIGINT"
)
_SPAN = float(1 << 60)


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly min(20, |stratum|) docs per language, smallest hash
    ranks first — deterministic stratified top-n (one window over the
    stratum shuffle; retries/speculation cannot change the pick)."""
    from xutil_spark.operators.sampling import sample_stratified_n

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    out = sample_stratified_n(docs, "lang", 20, "doc_id")
    return out.select("doc_id", "lang", "source")


def o_sample_stratified() -> str:
    rank = _RANK_SQL.format(salt=0)
    return f"""
SELECT doc_id, lang, source
FROM documents
QUALIFY ROW_NUMBER() OVER (PARTITION BY lang ORDER BY {rank}, doc_id) <= 20
"""


def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture resampling to target weights (en ×2.5, zh ×0.25, de ×1,
    everything else default ×1): copies = floor(w) + [rank < frac(w)·
    2^60], rows explode by copies with a 1-based copy_id — the exact
    deterministic realization of the expected mixture."""
    from xutil_spark.operators.sampling import mixture_resample

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    out = mixture_resample(
        docs, "lang", {"en": 2.5, "zh": 0.25, "de": 1.0}, "doc_id", salt=3
    )
    return out.select("doc_id", "lang", "copy_id")


def o_sample_mixture() -> str:
    rank = _RANK_SQL.format(salt=3)
    thr_en = int(0.5 * _SPAN)
    thr_zh = int(0.25 * _SPAN)
    return f"""
WITH c AS (
  SELECT doc_id, lang,
         CASE lang WHEN 'en' THEN 2 WHEN 'zh' THEN 0 ELSE 1 END
         + CASE WHEN {rank} < (CASE lang WHEN 'en' THEN {thr_en}
                               WHEN 'zh' THEN {thr_zh} ELSE 0 END)
                THEN 1 ELSE 0 END AS copies
  FROM documents
)
SELECT doc_id, lang, CAST(u.copy_id AS INT) AS copy_id
FROM c, LATERAL unnest(generate_series(1, c.copies)) AS u(copy_id)
WHERE c.copies > 0
"""


def q_sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum hash-threshold sampling (en 50%, zh 10%, default
    25%) — the shuffle-free 10^12-row mixing path: broadcast threshold
    dim + one stateless codegen'd filter."""
    from xutil_spark.operators.sampling import sample_stratified_fraction

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    out = sample_stratified_fraction(
        docs, "lang", {"en": 0.5, "zh": 0.1}, "doc_id", default=0.25, salt=7
    )
    return out.select("doc_id", "lang", "n_chars")


def o_sample_fraction() -> str:
    rank = _RANK_SQL.format(salt=7)
    thr_en = int(0.5 * _SPAN)
    thr_zh = int(0.1 * _SPAN)
    thr_def = int(0.25 * _SPAN)
    return f"""
SELECT doc_id, lang, n_chars
FROM documents
WHERE {rank} < (CASE lang WHEN 'en' THEN {thr_en} WHEN 'zh' THEN {thr_zh}
                ELSE {thr_def} END)
"""


CONTRACT = {
    "sample_stratified": (q_sample_stratified, o_sample_stratified),
    "sample_mixture": (q_sample_mixture, o_sample_mixture),
    "sample_fraction": (q_sample_fraction, o_sample_fraction),
}
