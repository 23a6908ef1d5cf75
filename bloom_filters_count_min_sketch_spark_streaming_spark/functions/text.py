"""Text-analysis functions for training-data pipelines (SURVEY §2.D D4).

All metrics are pure Catalyst expressions (regexp/length/split families) —
JVM-side, whole-stage-codegen'd, no Python in the hot path — so they run at
scan speed over 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A tiny high-frequency English stopword set; marker-word language ID is a
# deterministic heuristic (and SQL-expressible for the oracle).
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]

# BPE-ish token pattern: letter runs, digit runs, single punctuation.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def word_tokens(text: Column) -> Column:
    """Space-delimited tokens, lowercased, empties removed.

    Splits on a literal single space — the same tokenization the DuckDB
    oracles (string_split(text, ' ')) and operators/dedup.py use, so every
    module sees one consistent token stream for a given document.
    """
    return F.filter(F.split(F.lower(text), " "), lambda w: w != "")


def token_count_whitespace(text: Column) -> Column:
    return F.size(word_tokens(text))


def token_count_bpeish(text: Column) -> Column:
    """Count of BPE-ish regex tokens (letters / digits / punct singles)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation-ish (non-alnum, non-space)."""
    stripped = F.regexp_replace(text, r"[A-Za-z0-9\s]", "")
    return F.length(stripped).cast("double") / F.length(text).cast("double")


def stopword_ratio(text: Column) -> Column:
    """Fraction of whitespace tokens that are English stopwords."""
    ws = word_tokens(text)
    stops = F.filter(ws, lambda w: w.isin(EN_STOPWORDS))
    return F.size(stops).cast("double") / F.size(ws).cast("double")


def avg_token_len(text: Column) -> Column:
    ws = word_tokens(text)
    total = F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w))
    return total.cast("double") / F.size(ws).cast("double")


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0,1]: rewards stopword presence
    and moderate token length, penalizes punctuation soup. (The standard
    shape of Gopher/C4-style quality filters, SQL-expressible.)"""
    score = (
        F.lit(0.5)
        + F.least(stopword_ratio(text), F.lit(0.3))
        - F.least(punct_ratio(text) * 2, F.lit(0.4))
        + F.when((avg_token_len(text) >= 3) & (avg_token_len(text) <= 10), 0.1).otherwise(-0.1)
    )
    return F.greatest(F.least(score, F.lit(1.0)), F.lit(0.0))


def bm25_doc_scores(docs, terms, k1: float = 1.2, b: float = 0.75):
    """BM25 (Robertson-Sparck Jones) document scores for a fixed term set:
    (doc_id, score), score = per-term-ROUNDed contributions summed as
    DECIMAL (addition-order-proof — see bm25_ranked_search's oracle).

    Scale shape: the token explode feeds document lengths (one aggregate)
    and, filtered to the query's terms FIRST, the tf/df tables — the joins
    run on |docs x terms|, not |tokens|; df broadcasts. The two corpus
    scalars (n_docs, avgdl) are 1-row aggregates fused into the plan via
    crossJoin(broadcast(...)) — no .collect() at build time, so the whole
    score is ONE lazy plan (the r3 version forced an extra scan-job during
    construction).
    """
    from pyspark.sql import functions as F

    toks = docs.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    # 1-row scalar aggregates, broadcast-fused (not collected):
    stats = F.broadcast(
        docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs")).crossJoin(
            dl.agg(F.avg("dl").alias("avgdl"))
        )
    )
    qt = toks.filter(F.col("term").isin(list(terms)))
    tf = qt.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = qt.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    per_term = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(stats)
        .select("doc_id", F.round(idf * F.col("tf") * (k1 + 1) / denom, 6).alias("s"))
    )
    return per_term.groupBy("doc_id").agg(
        F.sum(F.col("s").cast("decimal(28,6)")).cast("double").alias("score")
    )


def logistic_quality_linear(text: Column) -> Column:
    """Fixed-weight linear score under the logistic quality gate (shared by
    quality_logistic_score and score_threshold_sweep): one codegen'd
    expression, bit-identical cross-engine because the textual operation
    order matches the oracle SQL."""
    toks = word_tokens(text)
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda w: w.isin(EN_STOPWORDS)))
    n_punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    n_chars = F.length(text)
    return (
        F.lit(-1.5)
        + F.lit(4.0) * (n_stop * F.lit(1.0) / n_tok)
        - F.lit(6.0) * (n_punct * F.lit(1.0) / n_chars)
        + F.lit(0.004) * n_tok
    )
