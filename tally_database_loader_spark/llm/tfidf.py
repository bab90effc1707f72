"""Inverted index, TF-IDF and BM25 over the documents table.

The inverted index is kept in its relational normal form — a postings
table ``(term, doc_id, tf)`` — rather than as per-term adjacency lists:
postings are what every downstream op (df counts, scoring, intersection)
consumes, Parquet run-length/dictionary encoding compresses the term
column as well as a posting list would, and the table form keeps the
whole pipeline in hash-agg/hash-join land where Catalyst and AQE can
size, spill, and skew-split it.

Scale shape:
- ``postings``: explode + one groupBy (doc_id, term) — partial aggregation
  collapses repeated terms map-side before the shuffle.
- ``doc_freq``: one groupBy(term) over postings — vocabulary-sized output,
  orders of magnitude smaller than the corpus.
- scoring joins postings ⋈ doc_freq on term. The df side is
  vocabulary-sized; Catalyst broadcasts it under the threshold and AQE
  converts to broadcast at runtime when stats allow — at 100 TB with a
  giant vocabulary it degrades gracefully to a shuffle join on term,
  which partial aggregation upstream keeps balanced (a stopword's
  postings are spread over all doc partitions, not one).
- corpus scalars (N, avgdl) are two tiny driver-side aggregates passed
  back in as literals — the same probe-then-parameterize pattern as the
  reference's company-info bootstrap (reference src/tally.mts:562-612).

Float discipline: idf uses ``ln`` on doubles; every per-row formula is a
fixed expression tree (no accumulation order dependence), and multi-term
scores are combined by conditional aggregation — one SUM per term, each
over at most one value per doc — then added in a fixed column order, so
results are reproducible run-to-run and engine-to-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens

__all__ = ["postings", "doc_freq", "tfidf_table", "bm25_table"]


def postings(df: DataFrame, id_col: str, text_col: str,
             tokens_col: str | None = None) -> DataFrame:
    """(term, doc_id, tf) — the inverted index in relational form.

    ``tokens_col`` names a pre-staged token-array column: the caller
    already fanned out and tokenized, so this just explodes — no second
    regex pass, no second repartition."""
    if tokens_col is None:
        from ..sources.catalog import fan_out
        df = fan_out(df, id_col)
        toks = F.expr(tokens(f"`{text_col}`"))
    else:
        toks = F.col(tokens_col)
    return (df.select(F.col(id_col).alias("doc_id"),
                      F.explode(toks).alias("term"))
              .groupBy("term", "doc_id")
              .agg(F.count(F.lit(1)).cast("int").alias("tf")))


def doc_freq(post: DataFrame) -> DataFrame:
    """(term, df) — number of documents containing each term."""
    return post.groupBy("term").agg(F.count(F.lit(1)).cast("int").alias("df"))


def _corpus_stats(df: DataFrame, id_col: str, text_col: str) -> tuple[int, float]:
    """(N, avgdl) via one tiny aggregate — exact long sum, then one double
    division, so avgdl is bit-deterministic.

    Deliberately aggregates the RAW scan, not the fanned-out/staged
    form: round 12 measured routing this probe (and bm25's doc-length
    side) through the fan-out exchange at ~1.7× the whole slot's time —
    a count+sum folds fine at natural scan width, and a shared staged
    subtree was strictly slower in every variant tried (the
    checkpoint/reuse table in OPTIMIZATION_r12.md)."""
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.size(F.expr(tokens(f"`{text_col}`")))).alias("toks")).collect()[0]
    n = int(row["n"])
    return n, (float(row["toks"]) / n if n else 0.0)


def tfidf_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, term, tf, df, tfidf) with ``tfidf = tf * ln(N / df)``."""
    post = postings(df, id_col, text_col)
    n, _ = _corpus_stats(df, id_col, text_col)
    dfreq = doc_freq(post)
    return (post.join(dfreq, "term")
                .select("doc_id", "term", "tf", "df",
                        (F.col("tf").cast("double")
                         * F.log(F.lit(float(n)) / F.col("df").cast("double")))
                        .alias("tfidf")))


def bm25_table(df: DataFrame, id_col: str, text_col: str,
               k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """(doc_id, term, tf, df, dl, bm25) — Okapi BM25 per (doc, term).

    ``bm25 = ln(1 + (N - df + 0.5)/(df + 0.5))
             * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``
    """
    post = postings(df, id_col, text_col)
    n, avgdl = _corpus_stats(df, id_col, text_col)
    dfreq = doc_freq(post)
    # dl off the RAW scan (no fan-out exchange): see _corpus_stats note
    dl = (df.select(F.col(id_col).alias("doc_id"),
                    F.size(F.expr(tokens(f"`{text_col}`"))).cast("int").alias("dl")))
    tf = F.col("tf").cast("double")
    dfl = F.col("df").cast("double")
    idf = F.log(F.lit(1.0) + (F.lit(float(n)) - dfl + F.lit(0.5))
                / (dfl + F.lit(0.5)))
    norm = tf * F.lit(k1 + 1.0) / (
        tf + F.lit(k1) * (F.lit(1.0 - b)
                          + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl)))
    return (post.join(dfreq, "term").join(dl, "doc_id")
                .select("doc_id", "term", "tf", "df", "dl",
                        (idf * norm).alias("bm25")))
