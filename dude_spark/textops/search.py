"""Keyword search over the documents table: BM25 top-k (r5).

A training-data pipeline needs corpus search both as a debugging surface
("show me documents about X") and as a retrieval primitive (dedup against
a benchmark, targeted decontamination — the reference scope is dude's
text/regex *selector* search per page, `/root/reference/dude/base.py`;
this is its corpus-level analogue).

100 TB shape: BM25 is posting-list work, not corpus work —

- one ``(doc_id, term)`` hash aggregation builds term frequencies (the
  only corpus-wide shuffle; map-side combinable),
- document frequencies are a second *map-side-combinable* aggregation over
  that tf table (input already (doc, term)-unique, one row per term out),
- query terms are a broadcast dim, so the scoring join prunes to the
  posting lists of the query vocabulary — cost tracks matches, not corpus,
- top-k per query is a bounded window over the scored candidates.

Cross-engine portability (the CORRECTNESS gate): the per-(query, doc,
term) score is floor-scaled to an integer ppm BEFORE summing, so the
per-document total is an ORDER-INDEPENDENT integer sum — float addition
order (Spark partial aggregation vs DuckDB single-threaded sum) cannot
flip a rank. Every double input to the floor (idf, tf saturation, length
norm) is the same fixed sequence of IEEE ops on exact-integer inputs in
both engines.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import DataFrame, Window, functions as F

from ..session import _local_relation

__all__ = ["bm25_topk", "TOKEN_SPLIT"]

# whitespace tokenizer — matches ORACLE_TOKEN_COUNT's regexp_split_to_array
TOKEN_SPLIT = r"\s+"


def _doc_terms(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, term, tf, dl): term frequency + document length."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT)
    exploded = docs.select(
        "doc_id", F.explode(toks).alias("term"), F.size(toks).alias("dl")
    )
    return exploded.groupBy("doc_id", "term", "dl").agg(
        F.count("*").alias("tf")
    )


def bm25_topk(
    docs: DataFrame,
    queries: Sequence[Tuple[str, str]],
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """BM25 top-``k`` documents per query.

    ``queries``: small driver-side list of ``(query_id, query_text)`` —
    the broadcast dim. Returns one row per (query_id, rank) with the
    integer ppm score (sum of floor-scaled per-term scores; see module
    docstring for why the floor happens before the sum).
    """
    spark = docs.sparkSession
    tf = _doc_terms(docs, text_col)

    # corpus stats: N and avgdl as one tiny aggregation over the dl dim
    doclens = tf.select("doc_id", "dl").distinct()
    stats = doclens.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    n_docs = int(stats["n_docs"])
    # one IEEE division of exact integers — bit-identical cross-engine
    avgdl = stats["sum_dl"] / n_docs

    # document frequency per term (tf is (doc, term)-unique already)
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))

    q = _local_relation(
        spark,
        [
            (qid, term)
            for qid, qtext in queries
            for term in dict.fromkeys(qtext.lower().split())  # uniq, ordered
        ],
        "query_id string, term string",
    )

    # posting-list join: broadcast query vocabulary prunes tf to matches
    cand = tf.join(F.broadcast(q), on="term").join(
        F.broadcast(df_t.join(F.broadcast(q.select("term").distinct()), on="term")),
        on="term",
    )

    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.lit(avgdl)))
    )
    term_ppm = F.floor(F.lit(1_000_000.0) * idf * tf_part).cast("bigint")

    scored = (
        cand.withColumn("term_ppm", term_ppm)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("term_ppm").alias("score_ppm"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_ppm").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score_ppm")
    )
