"""URL frontier: canonicalization, hashing, seen-set dedupe, seeding.

The reference's frontier is a ``collections.deque`` popped FIFO with **no**
visited-set (``dude/base.py:75``, ``:361-376`` — a URL can be re-enqueued).
At 10^10-URL scale the frontier is a table and dedupe is mandatory
(BASELINE.json north_rule): candidates are anti-joined against a
hash-partitioned *seen* set keyed by ``xxhash64(canonical_url)``.
FIFO/BFS order is carried explicitly as ``(depth, seq)`` columns — never
partition order.

Frontier schema::

    url string, url_hash bigint, host string, depth int, priority int,
    seq bigint, method string, status string, round int

``priority`` (north_rule "priority queue"): higher fetches first WITHIN a
politeness-budget-limited round — the per-host budget window ranks by
(priority desc, depth, seq), so the priority queue is realized as the same
host-bucketed window ranking that enforces crawl delays, not a driver-side
heap. Default 0 everywhere = exact reference FIFO order; a crawl assigns
priorities to discovered links via ``CrawlConfig.priority_expr``.
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .session import _local_relation

FRONTIER_COLS = [
    "url", "url_hash", "host", "depth", "priority", "seq", "method", "status", "round",
]


def canonicalize(col):
    """Minimal canonical form: strip fragment + trailing-slash normalize
    (the reference's only normalizations are ``urljoin`` absolutization and
    ``rstrip('/')`` self-compare, ``beautifulsoup_scraper.py:82-85``)."""
    return F.regexp_replace(col, r"#.*$", "")


def with_url_meta(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Attach host + 64-bit hash (JVM-side, codegen'd — no Python)."""
    return df.withColumn("host", F.parse_url(F.col(url_col), F.lit("HOST"))).withColumn(
        "url_hash", F.xxhash64(F.col(url_col))
    )


def seed_frontier(
    spark: SparkSession,
    urls: Sequence[str],
    requests: Optional[Iterable] = None,
) -> DataFrame:
    """Round-0 frontier from the seed list (reference ``base.py:402-406``:
    ``deque(urls)`` preserves order → ``seq``). ``@start_requests`` seeds are
    drained *after* plain URLs (``optional/utils.py:48-66``) → higher seq.
    A driver-built LocalRelation: scanning it runs no Python worker."""
    rows = [(u, i, "GET") for i, u in enumerate(urls)]
    base = len(rows)
    for j, req in enumerate(requests or []):
        rows.append((req.url, base + j, req.method))
    df = _local_relation(spark, rows, "url string, seq long, method string")
    return (
        with_url_meta(df)
        .withColumn("depth", F.lit(0))
        .withColumn("priority", F.lit(0))
        .withColumn("status", F.lit("pending"))
        .withColumn("round", F.lit(0))
        .select(*FRONTIER_COLS)
    )


def allowed_domains_filter(frontier: DataFrame, allowed_hosts: DataFrame) -> DataFrame:
    """P1 (``base.py:364-367``): drop URLs whose host is outside the seed
    hosts. Broadcast left-semi join — the allowed set is tiny by
    construction (distinct seed hosts)."""
    return frontier.join(F.broadcast(allowed_hosts), on="host", how="left_semi")


def _bloom_positions(hash_col, m_bits: int, k: int):
    """k bloom bit positions for a 64-bit hash column (xxhash64 re-hash per
    probe index — JVM-side, codegen'd)."""
    return [
        F.pmod(F.xxhash64(hash_col, F.lit(i)), F.lit(m_bits)) for i in range(k)
    ]


def bloom_words(
    df: DataFrame, hash_col: str = "url_hash", m_bits: int = 1 << 23, k: int = 4
) -> DataFrame:
    """Bloom-filter sidecar of a seen set as a TABLE of packed 64-bit words:
    ``(w bigint, bits bigint)`` — only words with set bits materialize, so
    the table is ≤ m_bits/64 rows regardless of how many hashes went in.

    This is the north_rule's "partitioned Bloom-filter URL-seen set" in
    DataFrame form: built with one explode + bit_or aggregation
    (distributed; no driver collect, no UDF), mergeable across increments
    by unioning word tables and re-aggregating with bit_or (see
    :func:`merge_bloom_words`), and broadcastable at any corpus scale
    (1 MB per 2^23 bits).
    """
    pos = _bloom_positions(F.col(hash_col), m_bits, k)
    return (
        df.select(F.explode(F.array(*pos)).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("long").alias("w"),
            F.expr("shiftleft(1L, cast(pos % 64 AS int))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )


def merge_bloom_words(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two bloom word tables (bit_or on colliding words) — the
    incremental-maintenance step: per-round deltas fold into the standing
    sidecar without rescanning the full seen set."""
    return a.unionByName(b).groupBy("w").agg(F.bit_or("bits").alias("bits"))


def bloom_prefilter(
    candidates: DataFrame,
    words: DataFrame,
    hash_col: str = "url_hash",
    m_bits: int = 1 << 23,
    k: int = 4,
) -> DataFrame:
    """Adds ``_maybe_seen`` (boolean): False ⇒ DEFINITELY not in the set the
    bloom was built from (no false negatives); True ⇒ probably seen — only
    those rows need the exact anti-join. Candidate positions explode to k
    rows, join the broadcast word table once, and fold back with a
    min-aggregation; the exact join's shuffle volume then shrinks to the
    seen-or-false-positive fraction instead of every candidate.
    """
    pos = _bloom_positions(F.col(hash_col), m_bits, k)
    e = candidates.select(
        F.col(hash_col).alias("_h"), F.explode(F.array(*pos)).alias("pos")
    ).select(
        "_h",
        (F.col("pos") / 64).cast("long").alias("w"),
        F.expr("shiftleft(1L, cast(pos % 64 AS int))").alias("m"),
    )
    j = e.join(F.broadcast(words), on="w", how="left")
    hit = (
        F.col("bits").isNotNull() & (F.col("bits").bitwiseAND(F.col("m")) != 0)
    ).cast("int")
    flags = (
        j.groupBy("_h")
        .agg((F.min(hit) == 1).alias("_maybe_seen"))
        .withColumnRenamed("_h", hash_col)
    )
    return candidates.join(flags, on=hash_col, how="left")


def dedupe_candidates(
    candidates: DataFrame,
    seen: Optional[DataFrame],
    order_cols: Sequence[str] = ("depth", "seq"),
    broadcast_seen: bool = False,
    bloom: Optional[DataFrame] = None,
    bloom_bits: int = 1 << 23,
    bloom_k: int = 4,
) -> DataFrame:
    """L5: anti-join candidates against the seen set on ``url_hash``.

    Also dedupes *within* the batch keeping the smallest ``order_cols``
    (first discovery wins — FIFO semantics). The crawl driver tracks the
    seen-set size exactly (it assigns every seq), so it sets
    ``broadcast_seen`` deterministically while the set is small — a
    broadcast-hash anti-join that never shuffles the candidate side.

    At cluster scale (seen too big to broadcast) pass ``bloom`` — the
    :func:`bloom_words` sidecar of ``seen``: definitely-new candidates
    (most of them, on a growing crawl) skip the exact anti-join entirely
    and only probable-seen rows shuffle to the hash-partitioned seen table.
    The exact anti-join remains the authority — bloom false positives are
    re-checked, false negatives are impossible.
    """
    w = Window.partitionBy("url_hash").orderBy(*order_cols)
    first = (
        candidates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if seen is None:
        return first
    seen_keys = seen.select("url_hash")
    if broadcast_seen:
        return first.join(F.broadcast(seen_keys), on="url_hash", how="left_anti")
    if bloom is not None:
        flagged = bloom_prefilter(first, bloom, m_bits=bloom_bits, k=bloom_k)
        definite_new = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
        maybe = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
        return definite_new.unionByName(
            maybe.join(seen_keys, on="url_hash", how="left_anti")
        )
    return first.join(seen_keys, on="url_hash", how="left_anti")
