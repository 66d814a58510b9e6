"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting.

All heuristics are deterministic and built from builtin column
expressions (codegen'd, SQL-oracle-friendly); only the rolling-hash
fingerprint drops to a vectorized pandas UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xutil_spark.plans.layout import spread

# tiny per-language stopword lists for the n-gram/stopword heuristic —
# deliberately small and fixed so the oracle SQL can embed them verbatim
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in"],
    "es": ["el", "la", "de", "que", "los", "es"],
    "fr": ["le", "la", "les", "de", "et", "est"],
    "de": ["der", "die", "und", "das", "ist", "von"],
}


def tokens(col) -> Column:
    """Whitespace tokenization of lowercased text (empty-safe)."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != "")


def token_count(col) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_ish_token_count(col) -> Column:
    """BPE-ish subword estimate: word-chunks + digits + punctuation each
    count; long words count ceil(len/4) pieces (a common ~4-chars/token
    heuristic)."""
    c = col if isinstance(col, Column) else F.col(col)
    words = tokens(c)
    return F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("long"),
    )


def stopword_hits(col, lang: str) -> Column:
    """How many tokens are stopwords of ``lang``."""
    sw = LANG_STOPWORDS[lang]
    return F.size(F.filter(tokens(col), lambda t: t.isin(*sw)))


def lang_id(col) -> Column:
    """Deterministic stopword-ratio language ID over LANG_STOPWORDS;
    ties and zero-hit rows resolve to 'und'."""
    hits = [(lang, stopword_hits(col, lang)) for lang in LANG_STOPWORDS]
    best_score = F.greatest(*[h for _, h in hits])
    out = F.lit("und")
    # later langs win ties in reverse build order; iterate reversed so
    # the alphabetically-first language wins (deterministic, documented)
    for lang, h in reversed(hits):
        out = F.when((best_score > 0) & (h == best_score), lang).otherwise(out)
    return out


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / repetition features + a 0-1
    quality score (fixed weights, deterministic)."""
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tokens = token_count(c)
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(c, r"[A-Z]", ""))
    sw_total = sum((stopword_hits(c, lang) for lang in LANG_STOPWORDS), F.lit(0))
    uniq_ratio = F.size(F.array_distinct(tokens(c))) / F.greatest(n_tokens, F.lit(1))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    upper_ratio = n_upper / F.greatest(n_chars, F.lit(1))
    stop_ratio = sw_total / F.greatest(n_tokens, F.lit(1))
    mean_word_len = (
        F.length(F.regexp_replace(c, r"\s+", "")) / F.greatest(n_tokens, F.lit(1))
    )
    score = (
        F.when(n_tokens >= 5, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((punct_ratio > 0.001) & (punct_ratio < 0.2), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(uniq_ratio > 0.5, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((mean_word_len > 2.0) & (mean_word_len < 12.0), F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return df.select(
        "*",
        n_chars.alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(upper_ratio, 6).alias("upper_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(uniq_ratio, 6).alias("uniq_token_ratio"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(score, 2).alias("quality_score"),
    )


def rolling_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    window: int = 16, keep: int = 8,
) -> DataFrame:
    """Winnowing-style document fingerprint: polynomial rolling hash over
    char windows, keep the ``keep`` smallest hashes (a robust order-
    invariant sketch).  Fully vectorized: one sliding_window_view matmul
    per Arrow batch (uint64 wraparound = mod 2^64), no per-char Python."""
    from pyspark.sql.functions import pandas_udf

    B = np.uint64(1000003)
    # weights B^(w-1-j) mod 2^64 so hash(i) = sum data[i+j]*W[j]
    W = np.ones(window, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(window - 2, -1, -1):
            W[j] = W[j + 1] * B
    def fp(texts: pd.Series) -> pd.Series:
        bufs = [(t or "").encode("utf-8") for t in texts]
        lens = np.array([len(b) for b in bufs], dtype=np.int64)
        if len(bufs) == 0:
            return pd.Series([], dtype=object)
        # one concatenated buffer, window-1 zero-pad between docs so a
        # single sliding-window pass covers every doc without crossing
        data = np.frombuffer(
            (b"\x00" * (window - 1)).join(bufs), dtype=np.uint8
        ) if len(bufs) > 1 else np.frombuffer(bufs[0], dtype=np.uint8)
        starts = np.concatenate(
            ([0], np.cumsum(lens[:-1] + (window - 1)))
        )
        out = []
        if len(data) < window:
            return pd.Series([[] for _ in bufs])
        # accumulate over the `window` offsets (16 vectorized passes,
        # O(n) memory) instead of materializing an (n, window) matrix
        n_win = len(data) - window + 1
        h = np.zeros(n_win, dtype=np.uint64)
        d64 = data.astype(np.uint64)
        with np.errstate(over="ignore"):  # uint64 wrap == mod 2^64
            for j in range(window):
                h += d64[j : j + n_win] * W[j]
        for s, n in zip(starts, lens):
            if n < window:
                out.append([])
                continue
            smallest = np.unique(h[s : s + n - window + 1])[:keep]
            out.append([int(x.astype(np.int64)) for x in smallest])
        return pd.Series(out)

    fp.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    udf = pandas_udf(fp, "array<long>")
    return df.select(F.col(id_col), udf(F.col(text_col)).alias("fingerprint"))


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_dup_trigram_frac: float = 0.3,
    max_top_bigram_char_frac: float = 0.18,
) -> DataFrame:
    """Gopher/C4-style n-gram repetition filters (public heuristics from
    the Gopher paper's repetition-removal rules, re-specified exactly
    here): per document,

    * ``dup_trigram_frac`` — fraction of word-3-gram occurrences that
      are repeats of an earlier 3-gram (1 − distinct/total; 0 when the
      doc has fewer than 3 words);
    * ``top_bigram`` / ``top_bigram_char_frac`` — the most frequent
      word-2-gram (ties → lexicographically smallest) and the fraction
      of the doc's non-space characters its occurrences cover
      (count × non-space chars of the bigram / doc non-space chars);
    * ``keep`` — both fractions within the thresholds.

    Shape at scale: the n-gram arrays and the trigram fraction are pure
    codegen'd array expressions (zero shuffles); the per-doc top bigram
    is explode → two-level partial aggregation (``count`` then
    ``min_by`` on a (−count, bigram) struct key — max count, lexical
    tie-break, no window sort).  Tokenization matches ``tokens()``
    (lowercase, ``\\s+`` split), so the oracle SQL can reproduce every
    value exactly; fractions are emitted at 6 dp on both sides.
    """
    d = df.select(F.col(id_col), F.col(text_col)).withColumn("_w", tokens(text_col))
    n = F.size("_w")
    # NB: Spark's sequence(1, 0) DESCENDS to [1, 0] instead of being
    # empty, so short docs need the explicit size guard
    tri = F.expr(
        "case when size(_w) >= 3 then"
        " transform(sequence(1, size(_w) - 2),"
        " i -> concat_ws(' ', _w[i-1], _w[i], _w[i+1]))"
        " else cast(array() as array<string>) end"
    )
    big = F.expr(
        "case when size(_w) >= 2 then"
        " transform(sequence(1, size(_w) - 1),"
        " i -> concat_ws(' ', _w[i-1], _w[i]))"
        " else cast(array() as array<string>) end"
    )
    nonspace = F.length(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", ""))
    base = d.select(
        F.col(id_col),
        n.alias("n_words"),
        F.when(
            F.size(tri) > 0,
            F.lit(1.0) - F.size(F.array_distinct(tri)) / F.size(tri),
        ).otherwise(F.lit(0.0)).alias("_dup_tri"),
        nonspace.alias("_nschars"),
        big.alias("_big"),
    )
    counts = (
        base.select(id_col, F.explode("_big").alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.groupBy(id_col).agg(
        F.min_by(
            F.struct(F.col("bg"), F.col("cnt")),
            F.struct((-F.col("cnt")).alias("nc"), F.col("bg")),
        ).alias("_t")
    )
    out = (
        base.drop("_big")
        .join(top, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.col("n_words"),
            F.round("_dup_tri", 6).alias("dup_trigram_frac"),
            F.coalesce(F.col("_t.bg"), F.lit("")).alias("top_bigram"),
            F.round(
                F.coalesce(F.col("_t.cnt"), F.lit(0))
                * F.length(F.regexp_replace(F.coalesce(F.col("_t.bg"), F.lit("")), " ", ""))
                / F.greatest(F.col("_nschars"), F.lit(1)),
                6,
            ).alias("top_bigram_char_frac"),
        )
        .withColumn(
            "keep",
            (F.col("dup_trigram_frac") <= F.lit(max_dup_trigram_frac))
            & (F.col("top_bigram_char_frac") <= F.lit(max_top_bigram_char_frac)),
        )
    )
    return out


def line_repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate-LINE repetition metrics (the line-based half of the
    Gopher rules): fraction of non-empty lines that repeat an earlier
    line, and the fraction of line characters sitting in those repeat
    occurrences (total line chars − chars of the distinct line set,
    over total line chars).  Pure array expressions — zero shuffles;
    meaningful only for multi-line corpora (single-line docs score 0)."""
    c = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(c, "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    d = df.select(F.col(id_col), lines.alias("_l"))
    n = F.size("_l")
    nd = F.size(F.array_distinct("_l"))
    chars = F.aggregate(
        "_l", F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    )
    dchars = F.aggregate(
        F.array_distinct("_l"), F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    )
    return d.select(
        F.col(id_col),
        n.alias("n_lines"),
        F.round(
            F.when(n > 0, F.lit(1.0) - nd / n).otherwise(F.lit(0.0)), 6
        ).alias("dup_line_frac"),
        F.round(
            F.when(chars > 0, (chars - dchars) / chars).otherwise(F.lit(0.0)), 6
        ).alias("dup_line_char_frac"),
    )


# Fixed, documented PII patterns (C4-style scrubbing).  Kept to syntax
# valid in BOTH Java regex (Spark) and RE2 (DuckDB) — no lookaround,
# no backrefs — so the oracle SQL can run the identical patterns.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+[0-9][0-9 -]{7,14}[0-9]",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """C4-style PII scrubbing: replace emails / international phone
    numbers / IPv4 literals with typed placeholder tokens and emit the
    per-kind match counts.  Pure codegen'd regexp expressions (one
    projection, zero shuffles, no Python); patterns are the fixed
    ``PII_PATTERNS`` table, replacement order email → phone → ipv4 (an
    email's domain can never contain '<', so later passes cannot touch
    earlier placeholders)."""
    c = F.col(text_col)
    out = df.select(F.col(id_col), c.alias("_t"))
    counts = []
    scrubbed = F.col("_t")
    for kind, pat in PII_PATTERNS.items():
        counts.append(
            F.size(F.regexp_extract_all("_t", F.lit(pat), F.lit(0)))
            .cast("long").alias(f"n_{kind}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{kind.upper()}>")
    return out.select(
        F.col(id_col), *counts, scrubbed.alias("scrubbed")
    )


def word_ngrams(col, n: int = 13) -> Column:
    """Word-level n-grams (space-joined) over ``tokens()``; documents
    with fewer than ``n`` tokens yield an empty array.  One projection,
    no shuffle (higher-order transform + slice — interpreted eval, but
    the per-row cost is a handful of array slices)."""
    t = tokens(col)
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing
    at least one word-level ``n``-gram with a benchmark/eval corpus
    (the standard 13-gram overlap rule used by public LM training
    pipelines; see the GPT-3 paper's appendix-C dedup procedure).

    Output: one row per input doc — (id, contaminated: boolean,
    n_hits: count of DISTINCT overlapping n-grams).

    Scale shape (10^12-doc training fact vs ~1e3-1e6-doc benchmark):
    the benchmark side reduces to a DISTINCT n-gram-hash dim —
    dim-sized next to the fact — and is always broadcast, so the fact
    side never shuffles for the probe; n-grams are carried as xxhash64
    values (8 bytes vs ~100-char strings) and the per-doc hit count is
    one map-side-combined aggregation on ``id``."""
    bench = F.broadcast(
        benchmark.select(F.explode(word_ngrams(text_col, n)).alias("_g"))
        .select(F.xxhash64("_g").alias("_h"))
        .distinct()
    )
    # the n-gram build is ~dl array slices + hashes per row
    grams = spread(docs).select(
        F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("_g")
    ).select(F.col(id_col), F.xxhash64("_g").alias("_h"))
    hits = (
        grams.join(bench, on="_h", how="inner")
        .groupBy(id_col)
        .agg(F.count_distinct("_h").alias("n_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.col("n_hits").isNotNull().alias("contaminated"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )


def bigram_pmi(
    docs: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs across the
    corpus (Church & Hanks 1990): PMI(x,y) = ln((c_xy/M) / ((c_x/N)·
    (c_y/N))) with N = total token instances, M = total bigram
    instances — the standard collocation / tokenizer-vocab statistic.

    Output: (w1, w2, n_pair, pmi rounded to 4 dp) for pairs seen at
    least ``min_count`` times.

    Scale shape: two map-side-combined counts (unigrams, bigrams) —
    each one shuffle at vocab/bigram-vocab cardinality, dim-sized next
    to a 10^12-doc fact; the unigram dim always joins back broadcast,
    and the two corpus totals ride along as 1-row broadcast frames.  No
    fact-sized shuffle anywhere."""
    toks = spread(docs).select(tokens(text_col).alias("_t"))
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    )
    big = (
        toks.select(
            F.explode(
                F.when(
                    F.size("_t") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("_t") - F.lit(1)),
                        lambda i: F.struct(
                            F.element_at("_t", i).alias("w1"),
                            F.element_at("_t", i + F.lit(1)).alias("w2"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            ).alias("_b")
        )
        .select("_b.w1", "_b.w2")
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    )
    n_tok = uni.agg(F.sum("c_w").alias("_n"))
    # M = ALL bigram instances (standard PMI denominator), summed
    # before the min_count output filter
    m_big = big.agg(F.sum("n_pair").alias("_m"))
    big = big.filter(F.col("n_pair") >= min_count)
    u1 = F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c_w").alias("_c1")))
    u2 = F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c_w").alias("_c2")))
    # mirror the oracle token-for-token: ln((n_pair / m) / ((c1 / n) * (c2 / n)))
    pmi = F.log(
        (F.col("n_pair") / F.col("_m"))
        / ((F.col("_c1") / F.col("_n")) * (F.col("_c2") / F.col("_n")))
    )
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(m_big))
        # + 0.0 normalizes IEEE -0.0 to +0.0 (mirrored in the oracle:
        # DuckDB ROUND keeps the sign of a tiny negative, F.round's
        # BigDecimal path never emits -0.0)
        .select("w1", "w2", "n_pair",
                (F.round(pmi, 4) + F.lit(0.0)).alias("pmi"))
    )


def token_kl_drift(
    docs: DataFrame,
    slice_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-slice token-distribution drift: KL(P_slice ‖ P_corpus) =
    Σ_w (c_sw/n_s)·ln((c_sw/n_s)/(c_w/n)) over the slice's vocabulary —
    the divergence statistic behind data-mixing / domain-reweighting
    decisions (a slice's support is a subset of the corpus's, so every
    q_w > 0 and the sum is the standard ≥ 0 KL).

    Output: (slice_col, n_tokens, kl rounded to 4 dp), one row per
    slice.

    Scale shape: the only fact-sized stage is the explode feeding the
    (slice, word) count, and partial (map-side) aggregation collapses
    it to |slices|×vocab partial rows before the one shuffle; corpus
    and per-slice totals reduce from that dim table, always join back
    broadcast, and the grand total rides as a 1-row broadcast frame."""
    toks = docs.select(
        F.col(slice_col), F.explode(tokens(text_col)).alias("w")
    )
    cw = toks.groupBy(slice_col, "w").agg(F.count(F.lit(1)).alias("c_sw"))
    corpus = cw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    ns = cw.groupBy(slice_col).agg(F.sum("c_sw").alias("n_s"))
    n_tot = corpus.agg(F.sum("c_w").alias("_n"))
    # mirror the oracle token-for-token:
    # (c_sw / n_s) * ln((c_sw / n_s) / (c_w / n))
    term = (F.col("c_sw") / F.col("n_s")) * F.log(
        (F.col("c_sw") / F.col("n_s")) / (F.col("c_w") / F.col("_n"))
    )
    return (
        cw.join(F.broadcast(corpus), "w")
        .join(F.broadcast(ns), slice_col)
        .crossJoin(F.broadcast(n_tot))
        .groupBy(slice_col, "n_s")
        # + 0.0 normalizes IEEE -0.0 (same convention as bigram_pmi)
        .agg((F.round(F.sum(term), 4) + F.lit(0.0)).alias("kl"))
        .select(F.col(slice_col), F.col("n_s").alias("n_tokens"), "kl")
    )


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed term set
    (Robertson/Spärck Jones, the public BM25 formula with the standard
    k1=1.2, b=0.75 defaults and the +1-smoothed idf
    ``ln(1 + (N − df + 0.5)/(df + 0.5))``).

    Output: (id, bm25 rounded to 4 dp) for docs with bm25 > 0.

    Plan shape: pass 1 computes the corpus stats (N, avgdl, per-term
    df) as ONE map-side-combined aggregation; the 1-row stats frame is
    cross-joined back (broadcast of one row — Spark plans it as a
    BroadcastNestedLoopJoin over a single-row side) so the scoring
    pass is a stateless codegen'd projection.  Two scans of the fact
    total, zero wide shuffles — the classic two-pass scoring shape
    that survives 10^12 docs."""
    toks = tokens(text_col)

    def _eq(term: str):
        # a 2-arg lambda would be called as (element, index) by
        # F.filter — bind the term via a real closure instead
        return lambda x: x == F.lit(term)

    # tokenization + per-term filters are interpreted higher-order exprs
    per_doc = spread(docs).select(
        F.col(id_col),
        F.size(toks).alias("_dl"),
        *[
            F.size(F.filter(toks, _eq(t))).alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    # formula text mirrors the DuckDB oracle token-for-token so the
    # float64 operation order is identical on both sides
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"_tf{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n") - F.col(f"_df{i}") + F.lit(0.5))
            / (F.col(f"_df{i}") + F.lit(0.5))
        )
        score = score + idf * (
            (tf * F.lit(k1 + 1.0))
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("_dl") / F.col("_avgdl"))))
        )
    return (
        scored.select(F.col(id_col), F.round(score, 4).alias("bm25"))
        .filter(F.col("bm25") > 0)
    )


def bigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document add-one-smoothed bigram language-model score — the
    classic perplexity-style quality filter for training-data curation
    (low average log-likelihood ⇒ unnatural token sequences: boilerplate,
    gibberish, OCR noise).

    Model, trained on the corpus itself: ``P(w2|w1) = (c(w1 w2) + 1) /
    (c(w1) + V)`` with ``c`` corpus-wide counts over the whitespace
    tokens (same tokenizer as every textops operator) and ``V`` the
    corpus vocabulary size.  Per doc: ``avg_ll = (Σ over its bigram
    instances of ln P) / n_bigrams``.

    Determinism contract: each distinct bigram's ``ln P`` is quantized
    to integer MICRO-NATS (``round(ln P · 1e6)`` as int64) before the
    per-doc reduce, so the sum is an exact order-independent integer —
    the one float-summation hazard is gone, and the DuckDB oracle
    mirrors the float tree token-for-token up to the quantization.

    Scale shape: two map-side-combined counts (per-doc bigram usage at
    (doc, w1, w2) cardinality; global bigram counts reduced FROM that —
    the fact table is read once), one unigram count, and a join of the
    per-doc usage against the two model dims, always broadcast.  V and
    nothing else rides along as a 1-row broadcast frame.  Docs with < 2
    tokens have no bigrams and drop out.
    """
    toks = spread(docs).select(F.col(id_col), tokens(text_col).alias("_t"))
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("_v"))
    # per-doc bigram usage: one explode + one shuffle at
    # (doc, w1, w2) cardinality; the global model is a reduce of it
    usage = (
        toks.select(
            F.col(id_col),
            F.explode(
                F.when(
                    F.size("_t") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("_t") - F.lit(1)),
                        lambda i: F.struct(
                            F.element_at("_t", i).alias("w1"),
                            F.element_at("_t", i + F.lit(1)).alias("w2"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            ).alias("_b"),
        )
        .select(id_col, "_b.w1", "_b.w2")
        .groupBy(id_col, "w1", "w2").agg(F.count(F.lit(1)).alias("m"))
    )
    big = F.broadcast(usage.groupBy("w1", "w2").agg(F.sum("m").alias("n_pair")))
    u1 = F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c_w").alias("_c1")))
    # mirror the oracle token-for-token:
    #   ln(CAST(n_pair + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE))
    lp = F.log(
        (F.col("n_pair") + F.lit(1)).cast("double")
        / (F.col("_c1") + F.col("_v")).cast("double")
    )
    ll_q = F.round(lp * F.lit(1000000.0), 0).cast("long")
    return (
        usage.join(big, ["w1", "w2"])
        .join(u1, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn("_llq", ll_q)
        .groupBy(id_col)
        .agg(
            F.sum("m").alias("n_bigrams"),
            F.sum(F.col("m") * F.col("_llq")).alias("_s"),
        )
        .select(
            id_col, "n_bigrams",
            F.round(
                F.col("_s").cast("double") / F.col("n_bigrams") / F.lit(1000000.0),
                6,
            ).alias("avg_ll"),
        )
    )


def _span_hashes(text_col: str, n: int):
    """(tokens, array of md5 hex per n-token span) column pair."""
    toks = tokens(text_col)
    # sequence(1, stop) DESCENDS when stop < 1 — short docs must give
    # an empty index list, not [1, 0]
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    spans = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, n))))
    return toks, spans


def dup_token_spans(
    docs: DataFrame, n: int = 20, text_col: str = "text",
    id_col: str = "doc_id", min_occ: int = 2,
) -> DataFrame:
    """Exact duplicate token-span detection — the exact-substring dedup
    signal for LLM training corpora (the Lee et al. 2022 observation:
    verbatim ≥50-token repeats dominate memorization; near-dup sketches
    miss them when the surrounding documents differ).  Every n-token
    window of every document is hashed (md5 of the space-joined
    lowercase tokens — both engines agree byte-for-byte on md5 hex, so
    the oracle is PURE SQL); spans occurring ``min_occ``+ times across
    the corpus are reported with occurrence/document counts.

    Scale shape (10^12 tokens): the explode is one row per token (the
    honest cost — same as any token-level statistic); the single
    aggregation map-side-combines to the duplicated-hash dim, which is
    tiny by Zipf.  No joins, no Python.
    """
    # the span build is ~dl slices + md5s per row
    docs = spread(docs)
    toks, spans = _span_hashes(text_col, n)
    ex = docs.select(
        F.col(id_col), F.posexplode(spans).alias("pos", "span_hash"))
    return (
        ex.groupBy("span_hash")
        .agg(F.count(F.lit(1)).alias("n_occ"),
             F.countDistinct(id_col).alias("n_docs"),
             F.min(id_col).alias("min_doc"),
             F.max(id_col).alias("max_doc"))
        .filter(F.col("n_occ") >= min_occ)
    )


def dup_span_coverage(
    docs: DataFrame, n: int = 20, text_col: str = "text",
    id_col: str = "doc_id", min_occ: int = 2,
) -> DataFrame:
    """Per-document duplicated-span coverage — the curation-ready form
    of ``dup_token_spans``: what fraction of each document's tokens sit
    inside some corpus-duplicated n-token span (docs above a coverage
    threshold get dropped or span-deduplicated).

    Covered-token counting is the classic interval-union done as exact
    integer arithmetic: per doc in span-position order, each hit
    contributes ``max(0, (pos+n) − max(pos, runmax_prev))`` where
    ``runmax_prev`` is the running max of previous span ends — the sum
    telescopes to the union length, order-deterministic, no floats
    until the final ratio.

    Scale shape: the token-level explode + ONE count shuffle to the
    duplicated-hash dim, one semi-join of hits against it (AQE
    broadcasts the dim), one per-doc window — the same per-entity
    layout every track/doc stage shares.
    """
    from pyspark.sql.window import Window

    docs = spread(docs)
    toks, spans = _span_hashes(text_col, n)
    base = docs.select(
        F.col(id_col), F.size(toks).alias("n_tokens"),
        F.posexplode_outer(spans).alias("pos", "span_hash"))
    dup = (base.groupBy("span_hash")
           .agg(F.count(F.lit(1)).alias("_c"))
           .filter(F.col("_c") >= min_occ)
           .filter(F.col("span_hash").isNotNull())
           .select("span_hash"))
    hits = base.join(dup, "span_hash").select(id_col, "n_tokens", "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    inc = F.greatest(
        F.lit(0),
        (F.col("pos") + n) - F.greatest(
            F.col("pos"),
            F.coalesce(F.max(F.col("pos") + n).over(wprev), F.lit(0))),
    )
    cov = (
        hits.withColumn("_inc", inc)
        .groupBy(id_col, "n_tokens")
        .agg(F.count(F.lit(1)).alias("n_dup_spans"),
             F.sum("_inc").alias("covered_tokens"))
    )
    # docs with no duplicated span still report 0 coverage; computed
    # straight from the doc row — no third pass over the span explode
    alln = docs.select(F.col(id_col), F.size(toks).alias("n_tokens"))
    out = alln.join(cov, [id_col, "n_tokens"], "left")
    return out.select(
        F.col(id_col), "n_tokens",
        F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
        F.when(F.col("n_tokens") > 0,
               F.round(F.coalesce("covered_tokens", F.lit(0))
                       .cast("double") / F.col("n_tokens"), 9) + F.lit(0.0))
        .otherwise(F.lit(0.0)).alias("coverage"),
    )


# cleaning patterns: the Java∩RE2 subset (no backrefs, no lookaround),
# so Spark (java.util.regex) and DuckDB (RE2) agree byte-for-byte —
# the PII_PATTERNS convention
CLEAN_TAG = r"<[a-zA-Z/][^>]*>"                      # HTML/XML tags
CLEAN_ENTITY = r"&(amp|lt|gt|quot|nbsp|#[0-9]{1,6});"  # common entities
CLEAN_CTRL = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"     # control chars
CLEAN_WS = r"[ \t\r\n]+"                             # whitespace runs


def clean_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """C4/CCNet-style pre-dedup text normalization: strip HTML/XML
    tags, decode the frequent entities to spaces (a placeholder
    neutralization, not full entity decoding — the corpus-stats
    downstream only need the markup GONE), drop control characters,
    collapse whitespace runs and trim.  One codegen'd projection, zero
    shuffles, zero Python; every pattern is in the Java∩RE2 subset so
    a DuckDB oracle replays the exact pipeline.

    Emits per-doc accounting (raw/clean lengths, tag + entity counts)
    alongside ``clean`` — curation filters typically threshold on the
    markup ratio before spending any downstream compute.
    """
    c = F.col(text_col)
    tags = F.size(F.regexp_extract_all(c, F.lit(CLEAN_TAG), F.lit(0)))
    ents = F.size(F.regexp_extract_all(c, F.lit(CLEAN_ENTITY), F.lit(0)))
    cleaned = F.regexp_replace(c, CLEAN_TAG, " ")
    cleaned = F.regexp_replace(cleaned, CLEAN_ENTITY, " ")
    cleaned = F.regexp_replace(cleaned, CLEAN_CTRL, "")
    cleaned = F.trim(F.regexp_replace(cleaned, CLEAN_WS, " "))
    return df.select(
        F.col(id_col),
        F.length(c).alias("raw_len"),
        tags.cast("long").alias("n_tags"),
        ents.cast("long").alias("n_entities"),
        cleaned.alias("clean"),
        F.length(cleaned).alias("clean_len"),
        F.round(
            F.when(F.length(c) > 0,
                   (F.length(c) - F.length(cleaned)).cast("double")
                   / F.length(c)).otherwise(F.lit(0.0)), 9,
        ).alias("markup_ratio"),
    )
