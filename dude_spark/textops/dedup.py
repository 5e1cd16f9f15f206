"""Deduplication operators over a document table (doc_id, text, ...).

All variants are single-pass column pipelines + one hash aggregate — the
shapes that survive a 100 TB corpus. Every n-gram operator tokenizes a
document ONCE and slices its grams out of that one token array.

- **exact**: md5 of normalized text, groupBy hash. One shuffle on a 32-byte
  key; map-side partial agg free from Catalyst.
- **MinHash + LSH**: ONE portable 32-bit hash per distinct word shingle →
  K min-hashes over the permutations ``(a_i·h + b_i) mod p`` of that hash
  array (Broder's MinHash; no explode), banded into B buckets; candidate
  pairs only materialize per bucket (self-join within tiny buckets).
- **SimHash**: per-token 32-bit hashes, bit-majority vote computed as 32
  conditional aggregates in ONE groupBy — no per-bit row explosion.
- **n-gram Jaccard**: exact verification — behind LSH, ``array_intersect``
  of each candidate pair's shingle arrays; standalone, a distinct
  (doc, shingle) explode + equi-join on shingle within buckets.

Hashes are md5-derived (portable_hash32) and the permutations are bigint
math, so DuckDB oracles reproduce every value.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, functions as F

from . import portable_hash32

DEFAULT_K = 16        # minhash signature length
DEFAULT_BANDS = 4     # LSH bands (rows per band = K / BANDS)

# MinHash permutations h -> (a*h + b) mod p of a 32-bit shingle hash h:
# p is the least prime above 2^32 and a < 2^31, so a*h + b < 2^63 — exact
# bigint math with no overflow (ANSI-safe) that DuckDB reproduces.
MINHASH_PRIME = 4294967311
_MINHASH_SEED = 0x5EED


def minhash_permutations(k: int) -> list:
    """The first ``k`` ``(a_i, b_i)`` pairs of one fixed seeded table."""
    rng = random.Random(_MINHASH_SEED)
    return [
        (rng.randrange(1, 2**31), rng.randrange(MINHASH_PRIME)) for _ in range(k)
    ]


def _perm(a: int, b: int, p: int):
    # a factory, not ``lambda x, a=a: ...``: F.transform counts a defaulted
    # parameter as the element index and would bind it to a Column
    return lambda x: (x * a + b) % p


def _let(value: Column, body) -> Column:
    """``body(v)`` with ``value`` evaluated ONCE per row: Spark re-evaluates
    an expression referenced inside a lambda for every element, so arrays
    read per element (tokens, shingle hashes) are bound here."""
    return F.transform(F.array(value), body)[0]


def _grams(t: Column, n: int) -> Column:
    """Word ``n``-grams of the token array ``t``, one slice per position.
    ``sequence(1, x)`` is descending for x < 1 in Spark, so the when-guard
    (not ``greatest``) is what gives docs shorter than ``n`` no grams."""
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))


def normalize_text(col: Column) -> Column:
    """lower + collapse whitespace + trim (shared by all dedupe variants)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    return F.split(normalize_text(col), " ")


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (array<string>).
    Docs shorter than ``n`` tokens (None and "" included) yield an EMPTY
    array."""
    return _let(tokens(col), lambda t: F.array_distinct(_grams(t, n)))


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedupe: groups of byte-identical (normalized) texts.

    Returns (content_hash, n_docs, min_doc_id) for groups with n_docs > 1.
    """
    return (
        docs.select(
            F.col("doc_id"), F.md5(normalize_text(F.col(text_col))).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def latest_snapshot(
    pages: DataFrame,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "snap_id",
) -> DataFrame:
    """URL-version dedupe over a Common-Crawl-style capture table
    (BASELINE.json input_hint shape — ``url``, ``warc_ts``): of the N
    captures of one canonical URL, keep the newest ``warc_ts``.

    Returns one row per key: (key, n_snapshots, latest_<id_col>). Ties on
    ``ts_col`` break toward the larger id (``max_by`` struct ordering).

    100 TB shape: a single hash aggregate on the URL key — map-side partial
    aggregation collapses each input partition to its local per-URL max
    before the one shuffle, so reduce-side volume is O(distinct urls), not
    O(captures). No window, no sort, no driver state.
    """
    # max_by via struct-max: (ts, id) lexicographic → deterministic ties
    best = F.max(F.struct(F.col(ts_col), F.col(id_col)))
    return pages.groupBy(key_col).agg(
        F.count("*").alias("n_snapshots"),
        best.getField(id_col).alias(f"latest_{id_col}"),
    )


def minhash_signature(
    docs: DataFrame, text_col: str = "text", k: int = DEFAULT_K, shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, sig array<bigint>[k]) — Broder's MinHash of the shingle set.

    Each distinct shingle is hashed ONCE (``portable_hash32``); value i is
    ``min over shingles of (a_i·h + b_i) mod MINHASH_PRIME`` with the
    ``minhash_permutations`` table. One projection over the hash array, no
    explode, no shuffle. A doc with no shingles gets an all-NULL signature.
    """
    hashes = F.transform(
        word_shingles(F.col(text_col), shingle_n), lambda s: portable_hash32(s)
    )
    sig = _let(hashes, lambda hs: F.array(*[
        F.array_min(F.transform(hs, _perm(a, b, MINHASH_PRIME)))
        for a, b in minhash_permutations(k)
    ]))
    return docs.select("doc_id", sig.alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH on the minhash signature.

    Output (doc_a, doc_b, n_bands_matched), doc_a < doc_b. The signature
    table is scanned once: each (band, key) bucket is grouped into its
    sorted id list, which emits its i<j pairs in place (``transform``), and
    one aggregate counts the bands each pair matched in. A self-join on the
    bucket would plan the signature pipeline on both join sides.
    Docs without shingles never pair: their all-NULL signatures would give
    every one of them the same empty band key.
    """
    sig = minhash_signature(docs, text_col, k, shingle_n).filter(
        F.col("sig")[0].isNotNull()
    )
    rows = k // bands
    band_cols = [
        F.struct(F.lit(b).alias("band"), F.concat_ws(
            "_", F.slice("sig", b * rows + 1, rows).cast("array<string>")
        ).alias("key"))
        for b in range(bands)
    ]
    buckets = (
        sig.select("doc_id", F.inline(F.array(*band_cols)))
        .groupBy("band", "key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
    )
    ids = F.col("ids")
    pairs = F.flatten(F.transform(ids, lambda a, i: F.transform(
        F.slice(ids, i + 2, F.size(ids) - i - 1),
        lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
    )))
    return (
        buckets.select(F.inline(pairs))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_bands_matched"))
    )


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """(doc_id, simhash bigint): bit-majority of per-token 32-bit hashes.

    Computed as ``bits`` conditional sums inside one hash aggregate over the
    exploded token stream — one shuffle on doc_id, no bit-explosion.
    """
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", portable_hash32(F.col("tok")))
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"c{b}")
        for b in range(bits)
    ]
    per_doc = toks.groupBy("doc_id").agg(*aggs)
    sim = None
    for b in range(bits):
        bit = F.when(F.col(f"c{b}") * 2 > F.col("n"), F.lit(2**b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = bit if sim is None else (sim + bit)
    return per_doc.select("doc_id", sim.alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    bucket_cols: tuple = ("lang", "source"),
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct word-shingle sets — the verify stage
    after LSH, or a standalone exact near-dup detector on pre-bucketed
    corpora.

    Two modes:

    - ``candidates`` given (``doc_a``/``doc_b`` columns, e.g. the output of
      :func:`minhash_lsh_pairs`): each pair is joined to both documents'
      shingle arrays, which are intersected in place (``array_intersect``)
      — one row per candidate pair past the joins, nothing per shingle.
      **This is the 100 TB path**: a shingle-equi-join across a whole
      corpus bucket blows up on any hot shingle, a per-pair intersect
      cannot.
    - no candidates: shingle equi-join within ``bucket_cols`` buckets
      (same lang+source by default) — safe only on pre-bucketed/small data.

    Pairs sharing no shingle are never returned.
    """
    if candidates is not None:
        sh = docs.select("doc_id", word_shingles(F.col(text_col), shingle_n))
        pairs = (
            candidates.select("doc_a", "doc_b")
            .join(sh.toDF("doc_a", "sa"), "doc_a")
            .join(sh.toDF("doc_b", "sb"), "doc_b")
            .select(
                "doc_a", "doc_b",
                F.size(F.array_intersect("sa", "sb")).alias("inter"),
                F.size("sa").alias("na"),
                F.size("sb").alias("nb"),
            )
            .filter(F.col("inter") > 0)
        )
    else:
        base = docs.select(
            "doc_id", *bucket_cols, word_shingles(F.col(text_col), shingle_n).alias("sh")
        )
        sizes = base.select("doc_id", F.size("sh").alias("n_sh"))
        ex = base.select("doc_id", *bucket_cols, F.explode("sh").alias("s"))
        a, b = ex.alias("a"), ex.alias("b")
        inter = (
            a.join(b, on=[*bucket_cols, "s"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("inter"))
        )
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
        pairs = inter.join(sa, "doc_a").join(sb, "doc_b")
    return (
        pairs.withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


def transitive_representatives(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Transitive-closure collapse of a (verified) near-dup PAIR table:
    every document in any pair maps to its component's minimum id.

    Output (doc_id, keep_doc_id) — one row per involved doc, including the
    representatives themselves (keep_doc_id == doc_id).

    This is the closure step a one-hop keep-min (``embedding_near_dup``,
    ``exact_duplicates``) cannot do: on a chain A≈B≈C the one-hop collapse
    keeps TWO representatives (C maps to B, which itself maps to A); the
    closure keeps one. Runs on graph.connected_components — alternating
    large-star/small-star, O(log n) hash-partitioned BSP rounds regardless
    of chain length, no driver state beyond a convergence scalar.
    """
    from ..graph import connected_components

    return connected_components(pairs, src_col=a_col, dst_col=b_col).select(
        F.col("node").alias("doc_id"), F.col("component").alias("keep_doc_id")
    )


def _gram_hash_array(text_col: str, k: int) -> Column:
    """DISTINCT hashed token ``k``-grams of the normalized text, as one
    array column — grams + hashes built inside a single projection (no
    per-position rows are materialized). Shared by the span-dedup anchor
    path and benchmark decontamination."""
    return _let(tokens(F.col(text_col)), lambda t: F.transform(
        F.array_distinct(_grams(t, k)), lambda g: portable_hash32(g, "span")
    ))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: per-document count of DISTINCT verbatim
    ``k``-token grams shared with an evaluation/benchmark set — the GPT-3
    appendix-C / Llama-style n-gram overlap check, EXACT (every gram
    participates; no anchor subsampling — a missed contamination is worse
    than the extra hashing).

    Returns ``(doc_id, n_contaminated_grams)`` for training documents
    sharing ≥1 gram with any benchmark document; filter or down-weight the
    hits upstream of training.

    100 TB shape: the benchmark side is small by definition (an eval set),
    so its distinct gram-hash dim BROADCASTS — the training side is ONE
    scan + explode feeding a map-side broadcast inner join; only matched
    rows reach the final per-doc aggregation (partial-agg combined), so
    shuffle volume tracks contamination, not corpus size. Gram hashing and
    normalization are byte-identical to :func:`duplicated_span_docs`
    (shared kernel).
    """
    def gram_rows(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("doc_id"),
            F.explode(_gram_hash_array(text_col, k)).alias("gh"),
        )

    bench_dim = gram_rows(benchmark).select("gh").distinct()
    return (
        gram_rows(docs)
        .join(F.broadcast(bench_dim), on="gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_grams"))
    )


def duplicated_span_docs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    select_mod: int = 4,
) -> DataFrame:
    """Exact duplicated-span detection via content-defined anchor
    fingerprints (winnowing-style, Schleimer et al. 2003 — the scalable
    stand-in for suffix-array ExactSubstr dedup, Lee et al. 2021): flag
    every document that shares a verbatim ``k``-token run with any other
    document.

    Every token ``k``-gram of the normalized text is hashed; a gram is an
    ANCHOR iff ``hash % select_mod == 0``. Selection depends only on the
    gram's content, so two copies of a span select IDENTICAL anchors no
    matter where the span sits in each document — there is no
    stride-alignment blind spot, which is why anchors beat fixed-stride
    windows for cross-document span matching. A shared run of L ≥ k tokens
    is caught unless none of its L-k+1 grams selects (miss probability
    ``(1-1/select_mod)^(L-k+1)``, deterministic given content: the same
    corpus always yields the same answer).

    Returns ``(doc_id, n_shared_anchors)`` for documents sharing ≥1 anchor
    with at least one OTHER document.

    100 TB shape: grams + hashes + the mod-filter all happen inside ONE
    projection (`transform`/`filter` over the token array — no per-position
    rows exist until after ~(1-1/select_mod) of positions are pruned), then
    one explode of surviving anchors, a count-over-anchor window (one
    shuffle on a bigint key) and one hash-aggregate by doc — ONE corpus
    scan total; a self-join against a duplicated-anchor dim would plan the
    gram pipeline twice. Shuffle volume ≈ total_tokens / select_mod longs
    — no pairwise comparison, no suffix array, no driver state.

    Reference parity: the reference engine has no corpus-dedup surface;
    this extends SURVEY §2's training-data-pipeline set.
    """
    hashes = _gram_hash_array(text_col, k)
    anchors = F.array_distinct(
        F.filter(hashes, lambda h: h % select_mod == F.lit(0))
    )
    per_doc = docs.select(
        F.col("doc_id"), F.explode(anchors).alias("anchor")
    )
    # window-over-anchor, NOT a self-join against a duplicated-anchor dim:
    # the join shape plans TWO corpus scans (both join inputs recompute the
    # md5 gram pipeline — Catalyst does not CSE across a self-join), and at
    # corpus scale the gram hashing IS the dominant cost. The window shape
    # is one scan + the same two shuffles (by anchor, then by doc_id).
    from pyspark.sql import Window

    n_docs = F.count("*").over(Window.partitionBy("anchor"))
    return (
        per_doc.withColumn("n_docs", n_docs)
        .filter(F.col("n_docs") > 1)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_anchors"))
    )
