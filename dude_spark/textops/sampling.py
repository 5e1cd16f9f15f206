"""Training-data sampling operators (r5): deterministic stratified
sampling and DSIR-style importance weights.

Both are pure column-expression pipelines (no UDF, no randomness source):
a 100 TB run is reproducible from the code alone, resumable mid-job, and
the CORRECTNESS oracle can replay every decision in DuckDB.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, functions as F

from . import portable_hash32

__all__ = ["stratified_sample", "dsir_importance", "KNUTH32", "MOD32"]

# Knuth multiplicative hash: maps the doc_id key space to a well-mixed
# 32-bit bucket with ONE integer multiply — exact (no floats) in Spark,
# DuckDB, and Python, so the sampling decision is engine-independent.
KNUTH32 = 2654435761
MOD32 = 1 << 32


def stratified_sample(
    docs: DataFrame,
    fractions: Mapping[str, float],
    stratum_col: str = "lang",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum subsample: keep a row iff
    ``(key * KNUTH32) mod 2^32 < floor(frac * 2^32)`` for its stratum's
    fraction (strata absent from ``fractions`` are dropped).

    The training-pipeline rebalance step (e.g. downsample English to 30%,
    keep low-resource languages whole). 100 TB shape: a map-side integer
    filter — no shuffle, no sampling pass, pushdown-friendly; the same
    row set comes back on every run and on every resume, and the keep
    decision of any single document is auditable by hand.
    """
    bucket = F.pmod(F.col(key_col).cast("bigint") * F.lit(KNUTH32), F.lit(MOD32))
    thresholds = [
        (F.col(stratum_col) == s, F.lit(int(frac * MOD32)))
        for s, frac in sorted(fractions.items())
    ]
    thr = None
    for cond, lit in thresholds:
        thr = F.when(cond, lit) if thr is None else thr.when(cond, lit)
    thr = thr.otherwise(F.lit(0))
    return docs.withColumn("sample_bucket", bucket).filter(
        F.col("sample_bucket") < thr
    )


def dsir_importance(
    docs: DataFrame,
    target_col,
    n_buckets: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weight per document (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    arXiv:2302.03169): hashed-bigram bag-of-ngrams likelihood ratio
    between a target distribution and the raw corpus.

    ``target_col``: boolean Column marking the target-domain rows (e.g.
    ``F.col("lang") == "en"``). For each hashed-bigram bucket ``b``::

        ratio_ppm(b) = floor(1e6 * ln( p_target(b) / p_raw(b) ))

    with add-one smoothing, and the document weight is the sum of
    ``ratio_ppm`` over its bigram OCCURRENCES. The floor runs per bucket
    BEFORE the per-document sum, so the weight is an order-independent
    integer sum — Spark partial aggregation and DuckDB's serial sum agree
    exactly (same pattern as quality_score's ppm twins).

    100 TB shape: one bigram explode; bucket counts are ONE map-side-
    combinable aggregation producing ≤ ``n_buckets`` rows (raw and target
    counted together via a conditional sum — no second corpus pass); the
    bucket→ratio dim broadcasts back onto the per-document bucket bag; one
    final per-document integer sum. Bigram hashing is portable_hash32
    (md5-derived) so the oracle reproduces bucket assignment bit-exactly.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    occ = docs.select(
        "doc_id",
        target_col.alias("is_target"),
        F.explode(bigrams).alias("bigram"),
    ).withColumn(
        "bucket", F.pmod(portable_hash32(F.col("bigram")), F.lit(n_buckets))
    )

    counts = occ.groupBy("bucket").agg(
        F.count("*").alias("c_raw"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("c_tgt"),
    )
    totals = counts.agg(
        F.sum("c_raw").alias("t_raw"), F.sum("c_tgt").alias("t_tgt")
    ).collect()[0]
    t_raw, t_tgt = int(totals["t_raw"]), int(totals["t_tgt"])

    # add-one smoothing; all inputs exact integers → the double chain is
    # the same fixed op sequence in both engines
    p_tgt = (F.col("c_tgt") + F.lit(1.0)) / F.lit(float(t_tgt + n_buckets))
    p_raw = (F.col("c_raw") + F.lit(1.0)) / F.lit(float(t_raw + n_buckets))
    ratios = counts.select(
        "bucket",
        F.floor(F.lit(1_000_000.0) * F.log(p_tgt / p_raw)).cast("bigint").alias(
            "ratio_ppm"
        ),
    )

    return (
        occ.join(F.broadcast(ratios), on="bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("ratio_ppm").alias("weight_ppm"),
            F.count("*").alias("n_bigrams"),
        )
    )
