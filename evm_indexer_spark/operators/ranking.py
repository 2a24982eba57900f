"""Lexical relevance ranking: TF-IDF and BM25 over a document corpus.

The retrieval side of a training-data pipeline: score documents against
a query term set for corpus curation (topic filtering, quality-weighted
sampling) or eval-set retrieval. Everything is native Column math over
an exploded posting list — no UDFs, and every step has an exact ANSI
twin so the DuckDB oracle hash-checks the full formula.

Scale shape: tokenize → explode to (doc, term) postings → filter to the
query terms FIRST (the selectivity is |query| / vocab, so the explode's
shuffle carries only matching postings) → per-doc tf agg + a tiny
per-term df agg that broadcasts back. Corpus constants (N, avgdl) ride
along as a broadcast scalar. The per-doc length table is one narrow
(id, double) row per document — O(corpus), so it is *never* broadcast;
it shuffle-joins on id (AQE downgrades to broadcast when genuinely
small). The posting explode itself is map-side only.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX


def _postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term) rows, lowercased whitespace tokens (TX.tokens split)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(TX.tokens(F.lower(F.col(text_col)))).alias("term"),
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int | None = None,
    digits: int = 4,
) -> DataFrame:
    """Okapi BM25: Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).

    dl is whitespace token count, avgdl its corpus mean. Only documents
    containing ≥1 query term appear. Output: (id, score) rounded to
    *digits*, ordered by (score desc, id) when *top_k* is set — the id
    tie-break keeps top-k deterministic across engines.
    """
    terms = [t.lower() for t in query_terms]
    # corpus constants: one tiny agg, broadcast via crossJoin
    dl = df.select(
        F.col(id_col).alias("id"),
        TX.token_count(F.col(text_col)).cast("double").alias("dl"),
    )
    const = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )

    post = _postings(df, id_col, text_col).filter(F.col("term").isin(terms))
    tf = post.groupBy("id", "term").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "id")
        .crossJoin(F.broadcast(const))
    )
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    contrib = idf * F.col("tf") * (k1 + 1.0) / norm
    out = (
        scored.groupBy("id")
        .agg(F.round(F.sum(contrib), digits).alias("score"))
    )
    if top_k is not None:
        out = out.orderBy(F.col("score").desc(), F.col("id")).limit(top_k)
    return out


def tfidf_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    digits: int = 4,
) -> DataFrame:
    """Classic tf-idf sum: Σ_t tf(t,d) · ln(N / df(t)). Same posting
    shape as BM25 without the length normalization."""
    terms = [t.lower() for t in query_terms]
    n_docs = df.select(F.count(F.lit(1)).cast("double").alias("n_docs"))
    post = _postings(df, id_col, text_col).filter(F.col("term").isin(terms))
    tf = post.groupBy("id", "term").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("id")
        .agg(
            F.round(
                F.sum(F.col("tf") * F.log(F.col("n_docs") / F.col("df"))), digits
            ).alias("score")
        )
    )


def unigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus-fit quality score: per-document sum of unigram
    log-probabilities under the corpus's own maximum-likelihood unigram
    LM — the cheap, engine-exact stand-in for the KenLM-perplexity
    filters used by CCNet-style pretraining pipelines (a document whose
    tokens are globally rare scores low; boilerplate scores high).
    Returns (id, n_tokens, logprob) with logprob = Σ ln(c(t)/N) rounded
    to 4 places.

    Scale shape: one tokenize+explode (map-side), one vocabulary agg
    (map-side-combined — vocab ≪ corpus), one (term)-keyed join the
    optimizer broadcasts when the vocabulary is small, one per-doc agg.
    No UDFs anywhere; the whole plan is whole-stage-codegen Column
    math, and the same formula is expressible in ANSI SQL for the
    oracle twin (q71)."""
    tok = _postings(df, id_col, text_col).filter(F.col("term") != "")
    counts = tok.groupBy("term").agg(
        F.count("*").cast("double").alias("c")
    )
    total = counts.agg(F.sum("c").alias("n"))
    return (
        tok.join(counts, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum(F.log(F.col("c") / F.col("n"))), 4).alias(
                "logprob"
            ),
        )
    )


def dsir_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    broadcast_vocab: bool = False,
) -> DataFrame:
    """Data-selection importance score (the DSIR recipe): per-document
    Σ over tokens of ln p_target(t) − ln p_source(t), where the target
    LM is the MLE unigram model of the rows *target* selects (a
    boolean Column over *df*) and the source LM is the whole corpus's,
    both add-one smoothed over the shared vocabulary. Documents that
    look like the target slice score high — the standard
    importance-resampling signal for domain-weighted pretraining
    mixes. Returns (id, n_tokens, dsir_score) with the score rounded
    to 4 places.

    Scale shape: ONE tokenize+explode and ONE vocabulary agg computes
    both models (the target count is a conditional sum in the same
    map-side-combined pass — no second corpus scan), one (term)-keyed
    join the optimizer broadcasts when the vocabulary is small, one
    1-row totals broadcast, one per-doc agg. No UDFs; Column math
    end-to-end, with an exact ANSI-SQL twin (q74).

    ``broadcast_vocab=True`` pins the (term) join's build side to the
    VOCAB aggregate. Left to estimates, the static planner broadcasts
    the raw token stream (its post-explode size estimate is the tiny
    pre-explode scan), which is strictly larger than the distinct-term
    table it joins — a driver hazard at scale and measurably slower
    at sf0.1 (0.835s → 0.542s noop median with the hint). Callers
    gate the hint on corpus byte bounds (vocabulary ≤ total text
    bytes, so a footer byte cap on the text column bounds the
    broadcast); ``False`` pins a shuffled hash join built on the
    vocab instead, so the token stream is never broadcast."""
    tok = df.select(
        F.col(id_col).alias("id"),
        target.cast("int").alias("tgt"),
        F.explode(TX.tokens(F.lower(F.col(text_col)))).alias("term"),
    ).filter(F.col("term") != "")
    vocab = tok.groupBy("term").agg(
        F.count("*").cast("double").alias("cs"),
        F.sum("tgt").cast("double").alias("ct"),
    )
    totals = vocab.agg(
        F.sum("cs").alias("ns"),
        F.sum("ct").alias("nt"),
        F.count("*").cast("double").alias("v"),
    )
    return (
        tok.join(
            F.broadcast(vocab) if broadcast_vocab
            else vocab.hint("shuffle_hash"),
            "term",
        )
        .crossJoin(F.broadcast(totals))
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            (
                F.round(
                    F.sum(
                        F.log((F.col("ct") + 1) / (F.col("nt") + F.col("v")))
                        - F.log((F.col("cs") + 1) / (F.col("ns") + F.col("v")))
                    ),
                    4,
                )
                # + 0.0 canonicalizes IEEE negative zero (a score that
                # rounds to zero came out -0.0 in DuckDB and 0.0 here;
                # exact identity for every other value)
                + F.lit(0.0)
            ).alias("dsir_score"),
        )
    )
