"""The crawl driver loop — BSP supersteps over the frontier table.

The reference's execution loop (``dude/base.py:361-376`` +
``optional/beautifulsoup_scraper.py:58-94``) pops one URL at a time:
robots gate → sleep(crawl_delay) → fetch → parse → follow links → extract →
save. Here one crawl **round** is one DataFrame job over the whole pending
frontier (SURVEY §3.4), run as named stages over one ``_Round`` record:

    budget         per-host politeness rank (window) over the pending frontier
    fetch_extract  fetch-join against the pages table → extraction
                   mapInPandas (one HTML parse per page) → results append
    expand         new links → canonicalize → allowed-domains / adblock /
                   robots gates (applied once, at append time)
    number         seen anti-join + dense seq numbering, on the driver for
                   small rounds or distributed for wide ones
    commit         next frontier = deferred ∪ numbered candidates
    fold           the round's new URLs join the URL-seen set

Each stage's wall time lands in ``RoundMetrics.stages``.

The URL-seen set has two representations and one transition. While it
holds at most ``CrawlConfig.broadcast_seen_max`` URLs it is a
``_DriverSeen`` (sorted int64 url_hash array + the (url, url_hash) pandas
parts); past that, ``_DriverSeen.promote()`` turns it — once, never back —
into a ``_DistributedSeen`` (url_hash-partitioned base + per-round deltas,
optional Bloom sidecar).

State (frontier / results / round metrics) is committed per round to
parquet directories when ``state_dir`` is set — the sandbox stand-in for
Iceberg snapshot commits — making the crawl resumable from the last committed
round. Without ``state_dir`` the loop keeps state in memory and truncates
lineage with ``localCheckpoint`` each round.

Ordering parity: the reference's FIFO order is reproduced exactly by the
``(depth, seq)`` columns; ``seq`` is a dense global append order assigned by
a distributed two-pass zip-index (range repartition → per-partition counts →
offset + local row_number) — no single-task global window.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Union
from urllib.parse import urlparse

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .api import CompiledPlan, Scraper
from .extract import EXTRACT_SCHEMA, make_extract_iterator
from .frontier import (
    FRONTIER_COLS,
    allowed_domains_filter,
    bloom_words,
    canonicalize,
    dedupe_candidates,
    merge_bloom_words,
    seed_frontier,
    with_url_meta,
)
from .politeness import (
    INLINE_ROBOTS_MAX,
    LOCAL_ROBOTS_MAX,
    adblock_blocked_expr,
    compile_robots,
    compile_robots_rows,
    fast_budget_rank,
    inline_robots_cols,
    robots_gate,
)
from .session import _conf_override, _local_relation, _schemas, worker_setup

# the extraction kernel's output with the fetched row's depth/seq passed through
EXTRACTED_SCHEMA = EXTRACT_SCHEMA + ", depth int, seq bigint"
RESULT_SCHEMA = EXTRACTED_SCHEMA + ", round int"
TRACE_DDL = "url string, depth int, seq bigint, method string, round int"
# the crawl frontier carries crawl_delay, attached once at append time by the
# robots gate, so the per-round politeness budget needs no robots join
CRAWL_COLS = FRONTIER_COLS + ["crawl_delay"]
# DDL twin of CRAWL_COLS — schema of driver-built LocalRelation frontiers
# (the hybrid small-round path, CrawlConfig.driver_frontier_max)
CRAWL_DDL = (
    "url string, url_hash bigint, host string, depth int, priority int, "
    "seq bigint, method string, status string, round int, crawl_delay int"
)
SEEN_DDL = "url string, url_hash bigint"
# arrival order of discovered links: first discovery wins the seq
LINK_ORDER = ["parent_seq", "link_seq"]

# Allowed-domain sets up to this size inline as one In(host, literals)
# predicate in the link gate (hash-set probe, single-expression analysis);
# larger sets fall back to a broadcast semi-join. Separate from
# INLINE_ROBOTS_MAX because an In list stays cheap far past the point where
# a per-host robots CASE/WHEN expression tree stops being worth folding.
INLINE_ALLOWED_MAX = 4096
# Fetch sets up to this many rows broadcast into the pages join; larger ones
# shuffle-join (at warehouse scale both sides are bucketed by url_hash).
# The driver knows the exact size (it counts every round), so the choice is
# not left to AQE, whose stats through localCheckpoint boundaries are
# unreliable.
BROADCAST_FETCH_MAX = 500_000
# Hash probes per URL in the Bloom sidecar (frontier.bloom_words).
BLOOM_K = 4
# Partition count of a compacted distributed seen base: the candidate
# anti-join scans a BOUNDED number of partitions instead of an ever-growing
# union of per-round parts, whose task count would grow by
# defaultParallelism each round (O(R²) tasks over the crawl).
SEEN_PARTITIONS = 8
# Distributed seen deltas APPEND per round (O(delta) storage, no data
# motion); every this-many deltas the parts compact into one
# url_hash-partitioned base — amortized O(seen/k) movement per round instead
# of a full seen reshuffle every round, which would dominate a round at
# 10^10 URLs.
SEEN_COMPACT_EVERY = 8


@dataclass
class CrawlConfig:
    follow_urls: bool = True
    link_mode: str = "anchors"  # 'anchors' (bs4) | 'all' (lxml iterlinks)
    pages: int = 1               # S6: navigate-loop page cap per URL (scraper.py:35)
    adblock_rules: Optional[List[str]] = None  # P4 blocklist
    max_rounds: int = 64
    round_seconds: int = 60          # politeness budget window per round
    max_per_host: Optional[int] = None
    dedupe: str = "seen"             # 'seen' | 'none' (reference parity)
    # SQL expression assigning each DISCOVERED link's frontier priority
    # (columns in scope: url, host, url_hash, depth, crawl_delay). Higher
    # fetches first within a budget-limited round (frontier.py schema note);
    # None → 0 everywhere = exact reference FIFO.
    priority_expr: Optional[str] = None
    # 'zlib' → the pages table's html column holds per-page zlib-compressed
    # bytes, decoded inside the extraction kernel (extract.py). The 100 TB
    # posture: payloads stay small through every scan/join/cache/Arrow hop
    # (Common-Crawl WARC records are per-page-compressed at rest anyway);
    # decode cost parallelizes in the Python workers with the parse.
    page_codec: Optional[str] = None
    # Durable per-round state commits (parquet dirs ≙ Iceberg snapshots),
    # resumable via run(resume=True). THIS IS THE DEFAULT AT CLUSTER SCALE:
    # the no-state_dir mode anchors round state in localCheckpoint (executor-
    # local, non-reliable storage) — fine on one box, but an executor loss
    # mid-round kills the job on a real cluster. Benchmarks use the in-memory
    # mode deliberately to measure the engine, not the commit I/O.
    state_dir: Optional[str] = None
    ignore_robots_txt: bool = False
    # Seen-set size (the driver knows it: it assigns every seq) up to which
    # the seen set stays driver-resident (_DriverSeen, ≤16 MB of hashes at
    # the default): driver-path rounds anti-join it by searchsorted and
    # distributed rounds broadcast its hashes as a LocalRelation. Past it the
    # set is promoted once to the distributed _DistributedSeen, which
    # shuffle-joins (at warehouse scale: co-partitioned on url_hash).
    broadcast_seen_max: int = 2_000_000
    # Bloom sidecar (north_rule "partitioned Bloom-filter URL-seen set"):
    # from promotion on, maintain a bloom word table of this many bits (see
    # frontier.bloom_words) incrementally per round; definitely-new
    # candidates then skip the exact anti-join's shuffle. None = off (locally
    # the broadcast anti-join wins; at warehouse scale set ~10 bits per
    # expected URL).
    bloom_bits: Optional[int] = None
    # Hybrid frontier (the per-round scheduling-floor fix): when a round's
    # post-anti-join candidate set fits under this cap, the driver collects
    # the links (already canonicalized and gated BY SPARK — no second
    # implementation of any URL semantics), anti-joins them against the
    # driver-resident seen set and performs the within-batch dedupe + dense
    # seq numbering locally; the next frontier is then a LocalRelation. A
    # LocalRelation broadcast-builds with NO Spark job (driver-side collect
    # of itself), needs no checkpoint, and no numbering shuffle/python stage
    # — the round's machinery collapses to ONE job (extract → link pipeline
    # → collect). Wide rounds (cap exceeded, detected by a limit-guarded
    # collect) fall back to the fully distributed path, which is the 100 TB
    # regime: there the per-round floor amortizes into round width and the
    # distributed numbering is the right shape. 0 disables.
    driver_frontier_max: int = 65536


@dataclass
class RoundMetrics:
    round: int
    fetched: int
    new_urls: int
    deferred: int
    seconds: float
    # wall seconds per round stage (see the module docstring), perf_counter
    stages: Dict[str, float] = field(default_factory=dict)
    # where the number stage ran: "driver" or "distributed"
    path: str = ""


@dataclass
class CrawlResult:
    results: DataFrame            # EXTRACT_SCHEMA + depth/seq/round, kind='data'
    trace: DataFrame              # fetched URLs: url, depth, seq, round (FIFO order = seq)
    seen: DataFrame               # url, url_hash
    metrics: List[RoundMetrics] = field(default_factory=list)


def assign_global_seq(
    df: DataFrame, order_cols: Sequence[str], start: int, out_col: str = "seq",
    rows_hint: Optional[int] = None,
    count_hosts: Optional[Sequence[str]] = None,
    *,
    key_bounds: tuple,
) -> tuple[DataFrame, int, Optional[dict]]:
    """Dense global sequence in ``order_cols`` order, starting at ``start``.

    Distributed zip-index: range-partition on the order key, count rows per
    range (one cheap pass), broadcast cumulative offsets, then local
    row_number inside mapInPandas. O(n/p) per task — no global single
    partition, unlike ``row_number() over (ORDER BY ...)``.

    ``key_bounds=(lo, hi)`` are the inclusive bounds of ``order_cols[0]``,
    known driver-side: rows bucket by ``floor((key - lo) * n / width)`` — a
    DETERMINISTIC contiguous range split with no sampling pass, so the
    upstream pipeline is planned and evaluated exactly once (the sizing
    aggregation below is the single materializing job). The crawl loop
    always knows its parents' seq bounds, so a round costs one job instead
    of sample-job + sizing-job. Buckets are hash-placed into partitions (a
    partition may hold several buckets, each bucket whole); the numbering
    pass re-seeds its offset at bucket boundaries.

    Returns ``(numbered_df, total_rows, host_counts)`` — the total comes
    free from the sizing pass, so callers never need a separate ``count()``.
    When ``count_hosts`` is given (a bounded host list — the crawl passes
    its delay-carrying hosts), the same sizing job also returns per-host row
    counts for those hosts, piggybacked on the one aggregation: the sizing
    groupBy key becomes (range-id, host-or-null) so the extra collect is
    ≤ ranges × (len(count_hosts)+1) rows, and the caller's politeness
    pre-check needs no separate frontier-scan job next round.
    """
    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    if rows_hint is not None:
        # Task count must track DATA, not cores: every python-stage task pays
        # a serialized handshake through the single pyspark daemon (~20ms),
        # so 32 near-empty numbering tasks cost more than 2 full ones.
        n_part = max(1, min(n_part, rows_hint // 4096 + 1))
    lo, hi = int(key_bounds[0]), int(key_bounds[1])
    width = max(1, hi - lo + 1)
    key = F.col(order_cols[0]).cast("bigint")
    bucket = F.least(
        F.lit(n_part - 1),
        F.greatest(
            F.lit(0),
            ((key - F.lit(lo)) * F.lit(n_part) / F.lit(width)).cast("int"),
        ),
    )
    parted = (
        df.withColumn("_rid", bucket)
        .repartition(n_part, "_rid")
        .sortWithinPartitions("_rid", *[F.col(c) for c in order_cols])
    )
    # lazy checkpoint: the sizing collect below is the materializing action —
    # one job instead of an eager-checkpoint job plus a count job. The
    # numbering pass then reads the stored blocks with pinned partitioning.
    parted = parted.localCheckpoint(eager=False)

    host_counts: Optional[dict] = None
    if count_hosts:
        grouped = (
            parted.groupBy(
                "_rid",
                F.when(F.col("host").isin(list(count_hosts)), F.col("host")).alias("_h"),
            )
            .agg(F.count("*").alias("n"))
            .collect()
        )
        sizes: dict = {}
        host_counts = {}
        for r in grouped:
            sizes[r["_rid"]] = sizes.get(r["_rid"], 0) + r["n"]
            if r["_h"] is not None:
                host_counts[r["_h"]] = host_counts.get(r["_h"], 0) + r["n"]
    else:
        sizes = {
            r["_rid"]: r["n"]
            for r in parted.groupBy("_rid").agg(F.count("*").alias("n")).collect()
        }
    offsets = {}
    acc = start
    for rid in sorted(sizes):
        offsets[rid] = acc
        acc += sizes[rid]
    total = acc - start

    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in parted.schema.fields
        if f.name != "_rid"
    )

    def number(batches):
        import numpy as np

        worker_setup()
        cur_rid = None
        off = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rids = pdf["_rid"].to_numpy()
            seqs = np.empty(len(pdf), dtype=np.int64)
            # range-ids are contiguous runs (rows sorted by _rid first);
            # re-seed the offset at each run boundary
            change = np.flatnonzero(rids[1:] != rids[:-1]) + 1
            bounds = [0, *change.tolist(), len(rids)]
            for i in range(len(bounds) - 1):
                b, e = bounds[i], bounds[i + 1]
                rid = int(rids[b])
                if rid != cur_rid:
                    cur_rid = rid
                    off = offsets[rid]
                seqs[b:e] = np.arange(off, off + (e - b))
                off += e - b
            pdf = pdf.drop(columns=["_rid"])
            pdf[out_col] = seqs
            yield pdf

    out_schema = f"{schema}, {out_col} bigint"
    return parted.mapInPandas(number, out_schema), total, host_counts


# -- the URL-seen set --------------------------------------------------------
#
# Both representations answer the same two questions: which of a round's
# candidate links are new (``dedupe``), and which URLs were ever enqueued
# (``to_df``, CrawlResult.seen); ``add`` folds a round's committed delta in.


class _DriverSeen:
    """Seen set held on the driver: a sorted int64 ``url_hash`` array (the
    membership index) plus the ``(url, url_hash)`` pandas parts.

    Driver-path rounds anti-join against the array by ``searchsorted``
    (O(links·log seen), no Spark job and no re-scan of the seen set); a
    distributed round broadcasts the array as a hash-only LocalRelation,
    which builds from driver memory with no Spark job."""

    def __init__(self, spark: SparkSession, pdf):
        self.spark = spark
        self.parts = [pdf[["url", "url_hash"]].astype({"url_hash": "int64"})]
        self.hashes = np.sort(self.parts[0]["url_hash"].to_numpy())

    def drop_seen(self, pdf):
        """The rows of ``pdf`` whose url_hash is not in the set."""
        if not self.hashes.size or not len(pdf):
            return pdf
        uh = pdf["url_hash"].to_numpy(dtype="int64")
        pos = np.searchsorted(self.hashes, uh)
        pos[pos == self.hashes.size] = 0
        return pdf[self.hashes[pos] != uh]

    def dedupe(self, links: DataFrame) -> DataFrame:
        hashes = _local_relation(
            self.spark, pd.DataFrame({"url_hash": self.hashes}), "url_hash bigint"
        )
        return dedupe_candidates(
            links, hashes, order_cols=LINK_ORDER, broadcast_seen=True
        )

    def add_rows(self, pdf) -> None:
        part = pdf[["url", "url_hash"]]
        self.parts.append(part)
        # merge of two sorted runs: the stable sort (timsort for int64) is
        # O(n) on this shape
        self.hashes = np.sort(
            np.concatenate([self.hashes, part["url_hash"].to_numpy(dtype="int64")]),
            kind="stable",
        )

    def add(self, delta: DataFrame) -> None:
        """Fold a distributed round's committed delta in: one Arrow collect,
        bounded by ``broadcast_seen_max`` (the caller promotes first when the
        set would outgrow it)."""
        self.add_rows(delta.toArrow().to_pandas())

    def to_df(self) -> DataFrame:
        merged = pd.concat(self.parts, ignore_index=True)
        self.parts = [merged]
        return _local_relation(self.spark, merged, SEEN_DDL)

    def promote(self, bloom_bits: Optional[int]) -> "_DistributedSeen":
        return _DistributedSeen(self.to_df(), bloom_bits)


def _ckpt_rdd_handle(df: DataFrame):
    """JVM RDD behind a localCheckpoint'd DataFrame (LogicalRDD)."""
    try:
        return df._jdf.queryExecution().analyzed().rdd()
    except Exception:
        return None


class _DistributedSeen:
    """Seen set as Spark parts: one base plus per-round delta checkpoints,
    compacted into a url_hash-partitioned base every SEEN_COMPACT_EVERY
    deltas, with the optional Bloom word-table sidecar.

    The handles of the live checkpoints are kept: compaction retires them,
    and the next fold unpersists them — by then the round's anti-join job
    has realized the new base. Without that, block-manager storage grows
    O(rounds × seen size) over a long crawl."""

    def __init__(self, base: DataFrame, bloom_bits: Optional[int]):
        self.base, self.deltas = base, []
        self.bloom_bits = bloom_bits
        self.bloom = (
            bloom_words(base, m_bits=bloom_bits, k=BLOOM_K).localCheckpoint(eager=False)
            if bloom_bits
            else None
        )
        self._live: List = []
        self._retired: List = []

    def to_df(self) -> DataFrame:
        df = self.base
        for d in self.deltas:
            df = df.unionByName(d)
        return df

    def dedupe(self, links: DataFrame) -> DataFrame:
        return dedupe_candidates(
            links, self.to_df(), order_cols=LINK_ORDER, bloom=self.bloom,
            bloom_bits=self.bloom_bits or 1 << 23, bloom_k=BLOOM_K,
        )

    def _track(self, df: DataFrame) -> None:
        h = _ckpt_rdd_handle(df)
        if h is not None:
            self._live.append(h)

    def add(self, delta: DataFrame) -> None:
        for h in self._retired:
            try:
                h.unpersist(False)
            except Exception:
                pass
        self._retired = []
        delta = delta.localCheckpoint(eager=False)
        self._track(delta)
        self.deltas.append(delta)
        if len(self.deltas) >= SEEN_COMPACT_EVERY:
            base = self.to_df().repartition(SEEN_PARTITIONS, "url_hash")
            base = base.localCheckpoint(eager=False)
            self._retired, self._live = self._live, []
            self._track(base)
            self.base, self.deltas = base, []
        if self.bloom is not None:
            # word-level bit_or of the delta; no rescan of the full seen set
            self.bloom = merge_bloom_words(
                self.bloom, bloom_words(delta, m_bits=self.bloom_bits, k=BLOOM_K)
            ).localCheckpoint(eager=False)


def _open_seen(
    spark: SparkSession, rows: Union[DataFrame, "pd.DataFrame"], cfg: CrawlConfig
) -> Union[_DriverSeen, _DistributedSeen]:
    """The seen set over ``rows`` (url, url_hash): the seed frontier of a
    fresh crawl or the union of a resumed crawl's committed snapshots. A
    DataFrame is collected under a limit guard; past ``broadcast_seen_max``
    rows it stays in Spark as a ``_DistributedSeen``."""
    if isinstance(rows, DataFrame):
        rows = rows.select("url", "url_hash")
        tbl = rows.limit(cfg.broadcast_seen_max + 1).toArrow()
        if tbl.num_rows > cfg.broadcast_seen_max:
            return _DistributedSeen(rows, cfg.bloom_bits)
        rows = tbl.to_pandas()
    return _DriverSeen(spark, rows)


def _host_of(u: str) -> str:
    """HOST with the same semantics as the frontier's
    ``parse_url(url, 'HOST')`` column (with_url_meta): userinfo and
    port stripped, case preserved. ``urlparse(u).netloc`` keeps both
    — comparing it against the frontier host column silently drops
    every row for seeds with an explicit port."""
    netloc = urlparse(u).netloc.rsplit("@", 1)[-1]
    if netloc.startswith("["):  # IPv6 literal
        return netloc[: netloc.index("]") + 1] if "]" in netloc else netloc
    return netloc.split(":", 1)[0]


@dataclass
class _Round:
    """What one round's stages hand each other."""

    rnd: int
    stages: Dict[str, float] = field(default_factory=dict)
    path: str = ""                        # RoundMetrics.path
    fetch_set: Optional[DataFrame] = None
    deferred: Optional[DataFrame] = None  # over-budget rows, next round
    n_fetched: int = 0
    n_deferred: int = 0
    extracted: Optional[DataFrame] = None
    links: Optional[DataFrame] = None     # gated, prioritized candidates
    local_pdf: Optional[object] = None    # new rows numbered on the driver
    new_frontier: Optional[DataFrame] = None
    n_new: int = 0
    new_host_counts: Optional[dict] = None
    prev_max: int = -1                    # max_seq before this round


class CrawlJob:
    def __init__(
        self,
        spark: SparkSession,
        scraper: Scraper,
        pages: DataFrame,
        robots: Optional[DataFrame] = None,
        config: Optional[CrawlConfig] = None,
    ):
        self.spark = spark
        self.scraper = scraper
        self.plan: CompiledPlan = scraper.compile()
        self.pages = pages.select("url", "html")
        self.robots = robots
        self.cfg = config or CrawlConfig()
        # Arrow twin of CRAWL_DDL for driver-side frontier commits
        self._frontier_arrow = _schemas(CRAWL_DDL)[1]

    # -- state checkpointing ---------------------------------------------
    def _round_dir(self, kind: str, rnd: int) -> str:
        return os.path.join(self.cfg.state_dir, kind, f"round={rnd}")

    def _persist(self, df: DataFrame, kind: str, rnd: int, eager: bool = True) -> DataFrame:
        if self.cfg.state_dir:
            path = self._round_dir(kind, rnd)
            df.write.mode("overwrite").parquet(path)
            return self.spark.read.parquet(path)
        return df.localCheckpoint(eager=eager)

    def _commit_local_frontier(self, pdf, rnd: int) -> None:
        """Driver-side parquet commit of a hybrid round's frontier snapshot.

        Durability in state_dir mode is a WRITE-path property: resume only
        needs every round's frontier snapshot on disk before the next round
        starts. When the round ran driver-resident (the hybrid path), the
        snapshot rows already sit in a pandas frame — a pyarrow write is
        ~ms where the equivalent Spark job costs ~0.3s/round. Layout and
        schema are byte-compatible with `_persist`'s Spark write (same
        frontier/round=N/_SUCCESS marker, same CRAWL_DDL column types), so
        `last_committed_round` and the resume reader cannot tell which path
        committed a given round.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = self._round_dir("frontier", rnd)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        schema = self._frontier_arrow
        tbl = pa.Table.from_pandas(
            pdf[schema.names], schema=schema, preserve_index=False
        )
        pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))
        open(os.path.join(path, "_SUCCESS"), "w").close()

    def last_committed_round(self) -> int:
        """Resume support: highest round with a committed frontier dir."""
        if not self.cfg.state_dir:
            return -1
        base = os.path.join(self.cfg.state_dir, "frontier")
        if not os.path.isdir(base):
            return -1
        rounds = [
            int(d.split("=", 1)[1])
            for d in os.listdir(base)
            if d.startswith("round=") and os.path.exists(os.path.join(base, d, "_SUCCESS"))
        ]
        return max(rounds, default=-1)

    # -- crawl setup --------------------------------------------------------
    def _compile_robots(self):
        """Robots parsed ONCE per host (vs per-URL re-fetch in the reference,
        base.py:383-388). Returns ``(gate, delay_by_host)``: ``gate(df)``
        drops disallowed rows and attaches ``crawl_delay``; ``delay_by_host``
        holds every host with a crawl delay — the only hosts the politeness
        window ever needs to rank (fast_budget_rank).

        A dim of at most INLINE_ROBOTS_MAX hosts (the common case — one
        robots.txt per allowed host) is compiled on the driver and
        CONSTANT-FOLDED into literal gate expressions. Up to LOCAL_ROBOTS_MAX
        hosts it is compiled on the driver too, but re-enters Spark as a
        LocalRelation, so each round's robots broadcast-join builds from
        driver memory with no python job and no cache scan (a cached-DF
        broadcast cost two ~0.3s jobs per round). Bigger dims are compiled
        distributed and stay a cached broadcast-join dimension."""
        if self.robots is None or self.cfg.ignore_robots_txt:
            return (lambda df: df.withColumn("crawl_delay", F.lit(0))), {}
        # size-probe the RAW dim (no python UDF in the probe)
        raw = self.robots.select("host", "robots_txt").take(LOCAL_ROBOTS_MAX + 1)
        if len(raw) > LOCAL_ROBOTS_MAX:
            dim = compile_robots(self.robots).cache()
            delayed = dim.filter("crawl_delay > 0").select("host", "crawl_delay")
            return (lambda df: robots_gate(df, dim)), {
                r["host"]: int(r["crawl_delay"]) for r in delayed.collect()
            }
        allowed = set(self.allowed)
        rows = compile_robots_rows([r for r in raw if r["host"] in allowed])
        delay_by_host = {
            r["host"]: int(r["crawl_delay"]) for r in rows if r["crawl_delay"]
        }
        if len(raw) <= INLINE_ROBOTS_MAX:
            can_fetch, crawl_delay = inline_robots_cols(rows)
            return (
                lambda df: df.filter(can_fetch).withColumn("crawl_delay", crawl_delay)
            ), delay_by_host
        # the join is left + fail-open, so a host with no rules and no delay
        # needs no row
        rows = [r for r in rows if r["rules"] or r["crawl_delay"]]
        dim = _local_relation(
            self.spark,
            pd.DataFrame({
                "host": [r["host"] for r in rows],
                "crawl_delay": [int(r["crawl_delay"]) for r in rows],
                "rules": [r["rules"] for r in rows],
            }),
            "host string, crawl_delay int,"
            " rules array<struct<path string, allow boolean>>",
        )
        return (lambda df: robots_gate(df, dim)), delay_by_host

    def _gate_append(self, df: DataFrame) -> DataFrame:
        """Static per-URL gates, applied ONCE when a URL enters the
        frontier — they are properties of the URL, not of the round, so
        evaluating them at append time leaves the per-round hot path with
        zero joins. The reference applies P1/P2 at pop time and P4 at
        request time (base.py:364-391, optional/utils.py:31-46); with a
        static robots/blocklist dimension the fetched set and order are
        identical (a disallowed URL contributes nothing to the trace or
        the expansion in either model). ``df`` carries ``source_url`` (the
        referrer, NULL for seeds); attaches ``crawl_delay``.

        The gate Column trees (host isin, ABP regex alternations, the
        constant-folded robots CASE/WHEN chains) are built ONCE per crawl
        and reused every round: unresolved Columns are input-independent
        templates, and rebuilding them is hundreds of py4j round-trips per
        round — a measured slice of the per-round floor."""
        if self._in_allowed is not None:
            out = df.filter(self._in_allowed)
        else:
            out = allowed_domains_filter(df, F.broadcast(self._allowed_df))
        if self._abp is not None:
            out = out.filter(~self._abp)
        return self._robots_gate(out)

    def _start(self, seed_urls: List[str], requests: list, resume: bool) -> int:
        """Sets the first frontier, the seen set, the seq high-water mark and
        the per-host pending counts; returns the first round to run."""
        cfg, spark = self.cfg, self.spark
        # Driver-tracked per-(delayed-)host pending counts. When known, the
        # politeness over-budget pre-check costs ZERO jobs: the counts ride
        # along on the numbering stage each round. None = unknown → one
        # counting job. Seed counts are pre-gate upper bounds — an
        # over-estimate only ever ranks a host that didn't need it.
        self.pending_by_host = None
        snap_max = -1
        if resume and (r := self.last_committed_round()) >= 0:
            frontier = spark.read.parquet(self._round_dir("frontier", r))
            if "priority" not in frontier.columns:  # pre-priority state dirs
                frontier = frontier.withColumn("priority", F.lit(0))
            # seen = every URL ever enqueued = union of all committed
            # frontier snapshots, distinct on url_hash
            snaps = spark.read.parquet(
                os.path.join(cfg.state_dir, "frontier", "round=*")
            )
            seen_rows = snaps.select("url", "url_hash").dropDuplicates(["url_hash"])
            self.seen = _open_seen(spark, seen_rows, cfg)
            # TRUE seq high-water mark: max over ALL committed snapshots,
            # not just the pending frontier — a round that discovers no new
            # links commits a deferred-only snapshot whose rows all carry
            # OLD seqs, so max(pending.seq) under-recovers and the resumed
            # crawl would re-issue seqs already assigned to URLs fetched in
            # between (duplicate seq = broken (url, seq) parity).
            snap_max = snaps.agg(F.coalesce(F.max("seq"), F.lit(-1))).first()[0]
            start = r + 1
        else:
            if cfg.state_dir and os.path.isdir(cfg.state_dir):
                shutil.rmtree(cfg.state_dir)
            # seeds carry a NULL source_url: no referrer → first-party, so
            # $third-party/$domain= rules correctly never block a seed
            frontier = self._gate_append(
                seed_frontier(spark, seed_urls, requests)
                .withColumn("source_url", F.lit(None).cast("string"))
            ).select(*CRAWL_COLS)
            if 0 < cfg.driver_frontier_max >= len(seed_urls) + len(requests):
                # hybrid path seed: collect the (Spark-gated) seed frontier
                # once and re-enter it as a LocalRelation — round 0's fetch
                # broadcast then builds with no Spark job. state_dir mode
                # rides the same path: durability only needs the snapshot ON
                # DISK (driver-side pyarrow commit), not a Spark-written one.
                seed_pdf = pd.DataFrame(
                    [tuple(r) for r in frontier.collect()], columns=CRAWL_COLS
                )
                frontier = _local_relation(spark, seed_pdf, CRAWL_DDL)
                if cfg.state_dir:
                    self._commit_local_frontier(seed_pdf, -1)
                self.seen = _open_seen(spark, seed_pdf, cfg)
            else:
                # lazy: the seen set's collect materializes the checkpoint
                frontier = self._persist(frontier, "frontier", -1, eager=False)
                self.seen = _open_seen(spark, frontier, cfg)
            if self.delay_by_host:
                self.pending_by_host = dict(Counter(
                    h for h in map(_host_of, seed_urls + [q.url for q in requests])
                    if h in self.delay_by_host
                ))
            start = 0
        first = frontier.agg(
            F.coalesce(F.max("seq"), F.lit(-1)).alias("m"),
            F.coalesce(F.min("seq"), F.lit(0)).alias("lo"),
            F.count("*").alias("n"),
        ).first()
        self.frontier = frontier
        self.max_seq = max(int(first["m"]), int(snap_max))
        # Lower bound of any pending frontier row's seq — with max_seq it
        # brackets every link's parent_seq, which lets assign_global_seq
        # range-split deterministically (no sampling job). Conservative is
        # fine (only bucket balance depends on it): deferred rows keep old
        # seqs, so the bound only advances on deferral-free rounds.
        self.frontier_lo = int(first["lo"])
        self.n_pending = int(first["n"])
        self._maybe_promote()
        return start

    def _maybe_promote(self) -> None:
        """The one seen-set transition: driver-resident → distributed, the
        first time the seen set (≤ max_seq + 1 URLs: every seen URL got a
        seq) may exceed ``broadcast_seen_max``."""
        if (
            isinstance(self.seen, _DriverSeen)
            and self.max_seq + 1 > self.cfg.broadcast_seen_max
        ):
            self.seen = self.seen.promote(self.cfg.bloom_bits)

    # -- the round stages ---------------------------------------------------
    def _budget(self, st: _Round) -> None:
        """Politeness: rows were gated at append time and carry crawl_delay,
        so when no allowed host has a delay and no hot-host cap is set, the
        WHOLE pending frontier is fetchable — zero politeness jobs.
        Otherwise only the delay-carrying hosts' rows pay the window shuffle
        (fast_budget_rank)."""
        cfg = self.cfg
        over_budget = self.delayed_hosts
        if cfg.max_per_host is None and self.delayed_hosts:
            # Only a delay-carrying host whose pending count exceeds its
            # budget forces the ranking window. The per-host counts are
            # normally already known driver-side (piggybacked on last
            # round's numbering — zero extra jobs); only after a resume or a
            # ranked round do they need one counting job.
            if self.pending_by_host is None:
                self.pending_by_host = {
                    r["host"]: r["count"]
                    for r in self.frontier.filter(
                        F.col("host").isin(self.delayed_hosts)
                    ).groupBy("host").count().collect()
                }
            over_budget = sorted(
                h
                for h, n in self.pending_by_host.items()
                if n > max(1, cfg.round_seconds // self.delay_by_host[h])
            )
        if cfg.max_per_host is None and not over_budget:
            st.fetch_set, st.n_fetched = self.frontier, self.n_pending
            return
        ranked = fast_budget_rank(
            self.frontier,
            over_budget,
            round_seconds=cfg.round_seconds,
            max_per_host=cfg.max_per_host,
        )
        # lazy checkpoint, materialized ONCE by the counts job just below;
        # fetch_set and deferred then read the stored blocks
        ranked = ranked.localCheckpoint(eager=False)
        st.fetch_set = ranked.filter(F.col("fetch_now")).select(*CRAWL_COLS)
        st.deferred = (
            ranked.filter(~F.col("fetch_now"))
            .select(*CRAWL_COLS)
            .withColumn("round", F.lit(st.rnd + 1))
        )
        counts = ranked.groupBy("fetch_now").count().collect()
        st.n_fetched = sum(r["count"] for r in counts if r["fetch_now"])
        st.n_deferred = sum(r["count"] for r in counts if not r["fetch_now"])

    def _fetch_extract(self, st: _Round) -> None:
        """The fetch (frontier ⋈ pages) and the extraction kernel."""
        cfg, rnd = self.cfg, st.rnd
        if st.n_fetched <= BROADCAST_FETCH_MAX:
            fetched = self.pages.join(F.broadcast(st.fetch_set), on="url", how="inner")
        else:
            fetched = st.fetch_set.join(self.pages, on="url", how="inner")
        # Size the python extraction stage by page count, not core count:
        # the join output inherits the pages table's partitioning, so a
        # 50-URL round would otherwise run 32 near-empty pandas-UDF tasks
        # each paying the worker handshake. ~128 pages/task amortizes it;
        # big rounds keep the scan partitioning (no extra shuffle).
        par = self.spark.sparkContext.defaultParallelism
        est_parts = max(1, min(par, st.n_fetched // 128 + 1))
        if est_parts < par:
            fetched = fetched.repartition(est_parts)

        # pre/post-setup receive the round's DataFrame (page-table
        # analogue of the reference's live-page argument, base.py:504-530)
        self.scraper.run_event("pre-setup", fetched)
        extracted = fetched.select("url", "html", "depth", "seq").mapInPandas(
            self.extract_it, schema=EXTRACTED_SCHEMA
        )
        # Memory mode: CACHE, don't checkpoint. persist() is plan-lazy —
        # no per-round driver-side .rdd planning pass (measured 270-430ms
        # of the round floor); the round's one materializing job builds
        # the cache and later readers (results, the link pipeline) hit
        # it. Lineage stays bounded: the plan roots at this round's
        # frontier leaf (LocalRelation or checkpoint RDD), never at a
        # previous round. Recompute-on-eviction is safe (deterministic
        # kernel over stable inputs). state_dir mode keeps the durable
        # parquet commit.
        if cfg.state_dir:
            extracted = self._persist(extracted, "extracted", rnd, eager=False)
        else:
            extracted = extracted.persist()
        self.scraper.run_event("post-setup", extracted)

        # S6 navigate loop: re-extract up to cfg.pages times following the
        # first matching navigate rule (driver-bounded sub-loop; stops on
        # no-match/unchanged URL — the kernel already applies O4)
        if cfg.pages > 1 and self.plan.navigate_rules:
            current = extracted
            for pn in range(2, cfg.pages + 1):
                nav = (
                    current.filter(F.col("kind") == "navigate")
                    .select(
                        canonicalize(F.col("link")).alias("url"),
                        "depth", "seq",
                    )
                    .dropDuplicates(["url"])
                )
                fetched_n = nav.join(self.pages, on="url", how="inner")
                if fetched_n.isEmpty():
                    break
                current = self._persist(
                    fetched_n.select("url", "html", "depth", "seq")
                    .withColumn("page_number", F.lit(pn))
                    .mapInPandas(self.extract_it, schema=EXTRACTED_SCHEMA),
                    f"extracted_p{pn}", rnd,
                )
                extracted = extracted.unionByName(current)

        st.extracted = extracted
        self.results_parts.append(
            extracted.filter(F.col("kind") == "data").withColumn("round", F.lit(rnd))
        )
        self.trace_parts.append(
            st.fetch_set.select("url", "depth", "seq", "method").withColumn(
                "round", F.lit(rnd)
            )
        )

    def _expand(self, st: _Round) -> None:
        """Frontier expansion. Runs regardless of cfg.follow_urls: the
        kernel only emits auto-extracted links when follow_urls=True, but
        handler-driven follow_url() rows (reference base.py:358-359) must
        reach the frontier in either mode. With no link rows the expansion
        is one cheap empty-input sizing job."""
        links = st.extracted.filter(self._kind_link).select(*self._link_select)
        links = self._gate_append(with_url_meta(links))
        st.links = links.withColumn("priority", self._prio_col)

    def _number(self, st: _Round) -> None:
        if self._number_on_driver(st):
            st.path = "driver"
        else:
            st.path = "distributed"
            self._number_distributed(st)

    def _number_on_driver(self, st: _Round) -> bool:
        """Hybrid small-round path (cfg.driver_frontier_max): collect the
        GATED links under a 4× transfer guard (links:candidates is bounded
        by the page out-degree), anti-join them against the driver-resident
        seen set and number them driver-side. Everything URL-semantic —
        canonicalize, gates, hashing — was computed BY SPARK in the one
        collect job; the driver only sorts by (parent_seq, link_seq), keeps
        the first row per url_hash (identical to dedupe_candidates' window
        semantics: the anti-join removes whole url_hash groups, so it
        commutes with per-group keep-first) and assigns the dense seq. The
        next frontier is then a LocalRelation: it broadcast-builds into the
        fetch join with NO Spark job, needs no checkpoint, and the round's
        machinery collapses to ONE job. Returns False, having numbered
        nothing, for a round too wide for the driver (limit overflow) or a
        distributed seen set."""
        cfg = self.cfg
        if not (
            cfg.driver_frontier_max > 0
            and cfg.dedupe == "seen"
            and isinstance(self.seen, _DriverSeen)
        ):
            return False
        collect_cap = cfg.driver_frontier_max * 4
        # Arrow collect, NOT .collect(): Row-pickle deserialization of a
        # wide round's candidates is ~1-2s of single-threaded driver time —
        # pure serial fraction on the scaling curve. initialNumPartitions
        # is scoped HERE (not session-wide, ADVICE r4): this one
        # limit-guarded collect should scan all partitions in ONE job
        # instead of the incremental 1-then-4× executeTake ramp, but
        # unrelated small .take()/.isEmpty() queries keep the default. AQE
        # is scoped OFF for this one query: the plan is broadcast-joins + a
        # limit with ZERO shuffle exchanges, so adaptive re-planning can't
        # improve it — but AQE materializes every broadcast query stage as
        # its own job with a driver re-optimization barrier between them
        # (event-log measured: 4-6 jobs/round with 0.4-1.4s driver gaps).
        # Static planning runs the whole round as ONE job whose broadcast
        # builds overlap execution on the driver thread.
        with _conf_override(
            self.spark, {
                "spark.sql.limit.initialNumPartitions": "4096",
                "spark.sql.adaptive.enabled": "false",
            }
        ):
            tbl = st.links.limit(collect_cap + 1).toArrow()
        if tbl.num_rows > collect_cap:
            return False
        cpdf = self.seen.drop_seen(tbl.to_pandas())
        # candidate-count guard: wide rounds stay fully distributed
        if len(cpdf) > cfg.driver_frontier_max:
            return False
        # arrival order, then keep-first per url_hash ((parent_seq,
        # link_seq) is unique, so stability is moot)
        cpdf = (
            cpdf.sort_values(LINK_ORDER, ignore_index=True)
            .drop_duplicates("url_hash", keep="first")
            .reset_index(drop=True)
        )
        st.n_new = len(cpdf)
        if cfg.max_per_host is None and self.delayed_hosts:
            hc = cpdf["host"][cpdf["host"].isin(self.delayed_hosts)]
            st.new_host_counts = {k: int(v) for k, v in hc.value_counts().items()}
        if not st.n_new:
            return True
        # int columns arrive float64 iff nulls were present (possible only
        # via a null-yielding priority_expr); nullable Int dtypes keep them
        # null through Arrow
        for c in ("depth", "priority", "crawl_delay"):
            if cpdf[c].dtype.kind == "f":
                cpdf[c] = cpdf[c].astype("Int32")
        # RangeIndex after reset_index → Series align with the fresh seq
        # column; nullable Int dtypes survive
        st.local_pdf = pd.DataFrame({
            "url": cpdf["url"],
            "url_hash": cpdf["url_hash"],
            "host": cpdf["host"],
            "depth": cpdf["depth"],
            "priority": cpdf["priority"],
            "seq": np.arange(
                self.max_seq + 1, self.max_seq + 1 + st.n_new, dtype="int64"
            ),
            "method": "GET",
            "status": "pending",
            "round": st.rnd + 1,
            "crawl_delay": cpdf["crawl_delay"],
        })
        st.new_frontier = _local_relation(self.spark, st.local_pdf, CRAWL_DDL)
        return True

    def _number_distributed(self, st: _Round) -> None:
        """Seen anti-join + distributed numbering. key_bounds: every link's
        parent_seq is a fetch_set seq, which lies in [frontier_lo, max_seq]
        — so assign_global_seq range-splits deterministically with NO
        sampling pass. Its sizing aggregation is then the round's ONE
        materializing job (extraction + link pipeline + dedupe + shuffle +
        counts), and no candidate checkpoint is needed."""
        cfg = self.cfg
        cands = self.seen.dedupe(st.links) if cfg.dedupe == "seen" else st.links
        new, st.n_new, st.new_host_counts = assign_global_seq(
            cands, LINK_ORDER, start=self.max_seq + 1,
            rows_hint=st.n_fetched * 4,
            count_hosts=self.delayed_hosts if cfg.max_per_host is None else None,
            key_bounds=(self.frontier_lo, self.max_seq),
        )
        if st.n_new:
            # attach the static columns the driver path embeds in its rows
            st.new_frontier = (
                new.withColumn("method", F.lit("GET"))
                .withColumn("status", F.lit("pending"))
                .withColumn("round", F.lit(st.rnd + 1))
                .select(*CRAWL_COLS)
            )

    def _commit(self, st: _Round) -> None:
        """Next frontier = deferred rows ∪ the round's numbered candidates.

        Lazy in memory mode: the next round's first job (whose fetch join
        reads this frontier) materializes the checkpoint — no dedicated
        per-round barrier. state_dir mode commits every round (durability
        is the point there), but a driver-resident frontier commits via the
        ~ms pyarrow write instead of a Spark job, and Spark keeps reading
        the LocalRelation, which needs no lineage truncation at all."""
        cfg = self.cfg
        # next round's politeness pre-check: the new frontier is exactly
        # these candidates (+ deferred rows, whose per-host counts are not
        # tracked — unknown after a ranked round)
        self.pending_by_host = (
            st.new_host_counts if st.deferred is None else None
        )
        st.prev_max = self.max_seq
        self.max_seq += st.n_new
        local = False
        if st.deferred is None:
            # no old-seq rows remain pending: next round's frontier is
            # exactly this round's delta (tightens the range-split bound)
            self.frontier_lo = st.prev_max + 1
            if st.new_frontier is None:
                st.local_pdf = pd.DataFrame(columns=CRAWL_COLS)
                st.new_frontier = _local_relation(self.spark, st.local_pdf, CRAWL_DDL)
            frontier, local = st.new_frontier, st.local_pdf is not None
        elif st.new_frontier is None:
            frontier = st.deferred
        else:
            frontier = st.deferred.unionByName(st.new_frontier)
        if cfg.state_dir and local:
            self._commit_local_frontier(st.local_pdf, st.rnd)
        elif cfg.state_dir or not local:
            frontier = self._persist(frontier, "frontier", st.rnd, eager=False)
        self.frontier = frontier

    def _fold(self, st: _Round) -> None:
        """The round's new URLs join the seen set. NOT gated on
        cfg.follow_urls: handler follow_url() rows reach the frontier even
        with follow_urls=False, so without the fold a follow cycle among
        non-seed pages would refetch them every round."""
        self.n_pending = st.n_deferred + st.n_new
        if self.cfg.dedupe != "seen" or not st.n_new:
            return
        if st.local_pdf is not None:
            # a driver round implies a _DriverSeen; its delta is ≤
            # driver_frontier_max rows, already local
            self.seen.add_rows(st.local_pdf)
            self._maybe_promote()
        else:
            # promote first: a distributed delta is collected only while the
            # seen set stays within broadcast_seen_max
            self._maybe_promote()
            self.seen.add(
                self.frontier.filter(F.col("seq") > st.prev_max)
                .select("url", "url_hash")
            )

    # -- the loop -----------------------------------------------------------
    def run(self, urls: Sequence[str], resume: bool = False) -> CrawlResult:
        cfg, spark = self.cfg, self.spark
        self.scraper.run_event("startup")
        seed_urls = list(urls)
        requests = list(self.scraper.requests or [])
        self.allowed = sorted(
            {_host_of(u) for u in seed_urls} | {_host_of(r.url) for r in requests}
        )
        # The allowed-domain gate inlines as a single In(host, literals)
        # predicate — analysis cost is one expression and evaluation is a
        # hash-set probe, so it tolerates far more hosts than the robots
        # CASE/WHEN fold: inlining it drops one broadcast-join build from
        # every round's link plan. Past the cap, a broadcast semi-join.
        self._in_allowed, self._allowed_df = None, None
        if len(self.allowed) <= INLINE_ALLOWED_MAX:
            self._in_allowed = F.col("host").isin(self.allowed)
        else:
            self._allowed_df = _local_relation(
                spark, [(h,) for h in self.allowed], "host string"
            )
        self._abp = (
            adblock_blocked_expr(cfg.adblock_rules, source_col="source_url")
            if cfg.adblock_rules
            else None
        )
        self._robots_gate, self.delay_by_host = self._compile_robots()
        self.delayed_hosts = sorted(self.delay_by_host)
        start_round = self._start(seed_urls, requests, resume)

        self.extract_it = make_extract_iterator(
            self.plan,
            follow_urls=cfg.follow_urls,
            link_mode=cfg.link_mode,
            passthrough=["depth", "seq"],
            codec=cfg.page_codec,
        )
        # Hoisted per-round expression templates (see _gate_append:
        # rebuilding them every round is pure py4j overhead on the
        # per-round floor).
        self._kind_link = F.col("kind") == "link"
        self._link_select = [
            canonicalize(F.col("link")).alias("url"),
            # referring page → ABP $third-party/$domain= context
            F.col("url").alias("source_url"),
            (F.col("depth") + 1).alias("depth"),
            F.col("seq").alias("parent_seq"),
            F.col("link_seq"),
        ]
        self._prio_col = (
            F.expr(cfg.priority_expr).cast("int") if cfg.priority_expr else F.lit(0)
        )

        self.results_parts: List[DataFrame] = []
        self.trace_parts: List[DataFrame] = []
        metrics: List[RoundMetrics] = []
        stages = (
            ("budget", self._budget),
            ("fetch_extract", self._fetch_extract),
            ("expand", self._expand),
            ("number", self._number),
            ("commit", self._commit),
            ("fold", self._fold),
        )
        for rnd in range(start_round, cfg.max_rounds):
            if self.n_pending == 0:
                break
            st = _Round(rnd)
            t0 = time.perf_counter()
            for name, stage in stages:
                t = time.perf_counter()
                stage(st)
                st.stages[name] = time.perf_counter() - t
            metrics.append(
                RoundMetrics(
                    round=rnd,
                    fetched=st.n_fetched,
                    new_urls=st.n_new,
                    deferred=st.n_deferred,
                    seconds=time.perf_counter() - t0,
                    stages=st.stages,
                    path=st.path,
                )
            )
            if cfg.state_dir:
                mdir = os.path.join(cfg.state_dir, "rounds")
                os.makedirs(mdir, exist_ok=True)
                with open(os.path.join(mdir, f"round={rnd}.json"), "w") as f:
                    json.dump(metrics[-1].__dict__, f)

        self.scraper.run_event("shutdown")
        results = _local_relation(spark, [], RESULT_SCHEMA)
        for p in self.results_parts:
            results = results.unionByName(p)
        trace = _local_relation(spark, [], TRACE_DDL)
        for p in self.trace_parts:
            trace = trace.unionByName(p)
        return CrawlResult(
            results=results, trace=trace, seen=self.seen.to_df(), metrics=metrics
        )
