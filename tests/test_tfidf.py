"""Unit tests for the inverted index / TF-IDF / BM25 module (llm/tfidf.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tally_database_loader_spark.llm.tfidf import (bm25_table, doc_freq,
                                                   postings, tfidf_table)


def _docs(spark):
    return spark.createDataFrame(
        [(1, "spark shuffle spark join"),
         (2, "spark table"),
         (3, "table scan table scan table"),
         (4, "")],
        "doc_id long, text string")


def test_postings_and_doc_freq(spark):
    p = postings(_docs(spark), "doc_id", "text")
    got = {(r["term"], r["doc_id"]): r["tf"] for r in p.collect()}
    assert got[("spark", 1)] == 2 and got[("spark", 2)] == 1
    assert got[("table", 3)] == 3 and ("spark", 3) not in got
    # empty doc contributes no postings
    assert not any(d == 4 for _, d in got)
    dfq = {r["term"]: r["df"] for r in doc_freq(p).collect()}
    assert dfq == {"spark": 2, "shuffle": 1, "join": 1, "table": 2, "scan": 1}


def test_tfidf_values_and_rare_term_dominance(spark):
    t = {(r["doc_id"], r["term"]): r for r in
         tfidf_table(_docs(spark), "doc_id", "text").collect()}
    n = 4
    r = t[(1, "shuffle")]
    assert math.isclose(r["tfidf"], 1 * math.log(n / 1), rel_tol=1e-12)
    # a corpus-wide common term scores below an equally-frequent rare one
    assert t[(2, "spark")]["tfidf"] < t[(1, "shuffle")]["tfidf"]


def test_bm25_monotone_in_tf_and_bounded(spark):
    b = {(r["doc_id"], r["term"]): r["bm25"] for r in
         bm25_table(_docs(spark), "doc_id", "text").collect()}
    # same term, higher tf (same-ish dl) -> higher score
    assert b[(1, "spark")] > b[(2, "spark")] > 0
    # saturation: tf=3 scores less than 3x the tf=1 score
    one_scan = math.log(1 + (4 - 1 + 0.5) / (1 + 0.5))
    assert b[(3, "table")] < 3 * b[(2, "table")] + 1e-9
    assert all(v > 0 for v in b.values())


def test_postings_plan_is_partially_aggregated(spark):
    plan = (postings(_docs(spark), "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString())
    # partial agg before the exchange: two HashAggregates around one shuffle
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_postings_staged_tokens_col_matches_inline(spark):
    """Round-12 staging: postings over a pre-staged token-array column
    must return exactly the inline-tokenize result (the tfidf/bm25
    internals now route through _staged)."""
    from tally_database_loader_spark.llm.text import tokens

    d = _docs(spark)
    staged = d.select("doc_id", F.expr(tokens("text")).alias("__toks"))
    a = {(r["term"], r["doc_id"]): r["tf"]
         for r in postings(d, "doc_id", "text").collect()}
    b = {(r["term"], r["doc_id"]): r["tf"]
         for r in postings(staged, "doc_id", "text",
                           tokens_col="__toks").collect()}
    assert a == b


def test_lm_scorers_staged_tokens_col_match_inline(spark):
    """unigram/bigram/dsir with tokens_col= must be value-identical to
    the inline-tokenize path (lm_score_suite's one-pass staging)."""
    from tally_database_loader_spark.llm.lm import (bigram_logprob,
                                                    dsir_importance,
                                                    unigram_logprob)
    from tally_database_loader_spark.llm.text import tokens

    d = spark.createDataFrame(
        [(1, "spark shuffle spark join", "en"),
         (2, "spark table", "en"),
         (3, "la la table scan", "es"),
         (4, "", "en")],
        "doc_id long, text string, lang string")
    staged = d.select("doc_id", "lang", F.expr(tokens("text")).alias("__toks"))

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(unigram_logprob(d)) == rows(
        unigram_logprob(staged, tokens_col="__toks"))
    assert rows(bigram_logprob(d)) == rows(
        bigram_logprob(staged, tokens_col="__toks"))
    assert rows(dsir_importance(d, F.col("lang") == "en")) == rows(
        dsir_importance(staged, F.col("lang") == "en",
                        tokens_col="__toks"))
