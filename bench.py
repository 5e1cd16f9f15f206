"""Benchmark harness.

Default mode (driver contract): run the headline suite at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: the cores this process may use) and
print ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``--scaling`` mode (sandbox proxy for the north_rule's N→4N-executor
criterion): runs REPEATS drift windows per regime at local[LO]→local[HI],
each window = engine leg at HI, engine leg at LO, then the no-Spark control
(tools/scaling_control.py) at both levels, back to back. It adds the
per-round floor (tools/round_floor.py) at both levels and an in-window
durable-commit pair at HI, dumps everything to BENCH/scaling.json and a
short table to BENCH/BASELINE.md. Why windows: BASELINE.md.

The headline metric is the crawl: URLs fetched+extracted/sec over the
synthetic Common-Crawl-style corpus (pages = projection of documents.parquet,
replicated ×REPLICATE for bench scale; robots + politeness + dedupe on).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
# Crawl-bench corpus: an 8× breadth-replicated corpus of ~150 KB pages at
# the default scale factor, scaled down automatically for smoke runs.
_SMALL_SF = any(s in SF_DIR.rstrip("/") for s in ("sf0.001", "sf0.01"))
REPLICATE = 4 if _SMALL_SF else 8
# page weight: filler paragraphs per page (~330 B each) → realistic
# Common-Crawl-ish page sizes so the bench is parse-bound, not overhead-bound
PAD = 150 if _SMALL_SF else 450

# --scaling protocol: one N→4N pair, REPEATS windows per regime
LO, HI = 1, 4
REPEATS = 3
REGIMES = {"nine_round": False, "wide": True}  # name -> wide-round mode

BENCH_QUERIES = [
    "extract_flat",
    "link_graph",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_topk",
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


def pages_path(sf_dir: str, replicate: int) -> str:
    """Where the bench corpus (url, per-page zlib html) is materialized."""
    return os.path.join(
        os.environ.get("TMPDIR", "/tmp"),
        f"bench_pages_breadth_{os.path.basename(sf_dir)}_{replicate}_{PAD}_zlib.parquet",
    )


def write_pages(spark, sf_dir: str, replicate: int) -> str:
    """Materialize the bench corpus to parquet once per (sf, replicate,
    pad); every leg and the no-Spark control read the same bytes. Pages are
    per-page zlib-compressed (the Common-Crawl WARC posture — see
    CrawlConfig.page_codec) and decoded inside the extraction kernel."""
    path = pages_path(sf_dir, replicate)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        def _compress(batches):
            import zlib

            for pdf in batches:
                pdf["html"] = [zlib.compress(bytes(h), 1) for h in pdf["html"]]
                yield pdf

        corpus = replicated_pages(spark, sf_dir, replicate).select("url", "html")
        corpus.mapInPandas(_compress, "url string, html binary").repartition(
            32
        ).write.mode("overwrite").parquet(path)
    return path


def run_crawl_bench(spark, sf_dir: str, replicate: int) -> dict:
    from dude_spark.api import Scraper
    from dude_spark.corpus import N_HOSTS, robots_df, seeds
    from dude_spark.crawl import CrawlConfig, CrawlJob
    from dude_spark.extract import EXTRACT_SCHEMA, make_extract_iterator

    app = Scraper()

    @app.group(css=".custom-group")
    @app.select(css=".title")
    def title(element):
        return {"title": element.text_content()}

    @app.select(css="a.url", group_css=".custom-group")
    def item_href(element):
        return {"item_href": element.get("href")}

    # Cache the plain parquet scan: caching the synthesis pipeline directly
    # (pandas UDF + repartition + cache build in one pass) GC-storms the
    # local JVM; a parquet→cache lineage builds cleanly, and the per-round
    # fetch join probes the in-memory columnar cache.
    pages = spark.read.parquet(write_pages(spark, sf_dir, replicate))
    # Cache only when the estimated compressed size fits comfortably; past
    # that, per-round scans re-read the (OS-page-cached) parquet — the scan
    # is perfectly parallel, so it costs wall time, not scaling efficiency.
    n_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    # // 40: conservative corner of the measured ~90:1 zlib ratio
    est_bytes = n_docs * max(1, replicate) * (PAD * 330 + 2500) // 40
    if est_bytes <= (32 << 30):
        pages = pages.cache()
    n_pages = pages.count()

    # Warm the executors before the timed section: the first pandas-UDF
    # stage forks one Python worker per core (each paying pandas/pyarrow
    # import), and the first binary/map Arrow passes trigger JVM JIT of the
    # columnar→Arrow serialization path. A real cluster pays this once per
    # executor lifetime, not per job, so it is measured out of the
    # throughput window at every parallelism level.
    n_hosts = N_HOSTS * max(1, replicate)  # breadth replication adds hosts
    warm_it = make_extract_iterator(app.compile(), follow_urls=True, codec="zlib")
    warm_sample = pages.limit(20000).select("url", "html")
    for _ in range(2):
        warm_sample.mapInPandas(warm_it, schema=EXTRACT_SCHEMA).count()
    # ...and a short throwaway crawl: warms the full round pipeline (window
    # rank, dedupe anti-join, range-partition numbering, checkpoint writes)
    CrawlJob(
        spark, app, pages, robots=robots_df(spark, n_hosts),
        config=CrawlConfig(
            follow_urls=True, max_rounds=3, round_seconds=3600, page_codec="zlib"
        ),
    ).run(seeds(n_hosts))

    cfg = dict(round_seconds=3600, page_codec="zlib")
    # durable-commit leg: per-round parquet state commits instead of
    # localCheckpoint (the real-cluster default posture, crawl.py state_dir)
    state_dir = os.environ.get("SPARK_GRAFT_BENCH_STATE_DIR")
    if state_dir:
        shutil.rmtree(state_dir, ignore_errors=True)
        cfg["state_dir"] = state_dir

    # Wide-round mode: seed EVERY page as one frontier level → a single
    # BSP round over the whole corpus. This is the round-width → ∞ limit
    # of the same engine path (politeness gate, fetch join, extraction,
    # expansion machinery all run) — it isolates per-URL scaling from the
    # per-round barrier, which is what grows away at warehouse widths.
    if os.environ.get("SPARK_GRAFT_BENCH_WIDE"):
        seed_urls = [r["url"] for r in pages.select("url").collect()]
        crawl_cfg = CrawlConfig(follow_urls=False, max_rounds=1, **cfg)
    else:
        seed_urls = seeds(n_hosts)
        crawl_cfg = CrawlConfig(follow_urls=True, max_rounds=64, **cfg)

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
        qs[name](spark, SF_DIR).count()
        timings[name] = round(time.time() - t0, 3)

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    return {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "crawl": crawl,
        "cpus": CPUS,
        "replicate": REPLICATE,
    }


def _median(xs: list) -> float:
    return round(statistics.median(xs), 3)


def summarize(
    regimes: dict, floors: dict, durable: dict, lo: int = LO, hi: int = HI
) -> dict:
    """Scaling summary from raw measurements; pure.

    ``regimes``: regime name → windows, each ``{"engine": {cpus: crawl leg},
    "control_pages_per_sec": {cpus: pages/s}}`` with ``str(cpus)`` keys for
    ``lo`` and ``hi``. ``floors``: ``str(cpus)`` → tools/round_floor.py
    output. ``durable``: ``{"memory": leg, "state_dir": leg}`` at ``hi``.
    Every ratio is taken inside one window; the statistics are medians
    over windows. The floor-adjusted efficiency subtracts each leg's
    rounds × measured sec/round from its wall (9-round windows only)."""
    lo_k, hi_k, factor = str(lo), str(hi), hi / lo
    out: dict = {"lo": lo, "hi": hi, "regimes": {}}
    for name, windows in regimes.items():
        rows = []
        for w in windows:
            e, c = w["engine"], w["control_pages_per_sec"]
            eff_e = round(e[hi_k]["urls_per_sec"] / e[lo_k]["urls_per_sec"] / factor, 3)
            eff_c = round(c[hi_k] / c[lo_k] / factor, 3)
            rows.append({
                **w, "eff_engine": eff_e, "eff_control": eff_c,
                "engine_vs_control": round(eff_e / eff_c, 3),
            })
        out["regimes"][name] = {
            "eff_engine_median": _median([r["eff_engine"] for r in rows]),
            "eff_control_median": _median([r["eff_control"] for r in rows]),
            "engine_vs_control_median": _median([r["engine_vs_control"] for r in rows]),
            "windows": rows,
        }
    out["floor_sec_per_round"] = {k: f["sec_per_round"] for k, f in floors.items()}
    out["floor_ms_by_stage"] = {k: f["ms_per_round_by_stage"] for k, f in floors.items()}
    adjusted = []
    for w in regimes.get("nine_round", []):
        t_lo, t_hi = (
            w["engine"][k]["seconds"]
            - w["engine"][k]["rounds"] * floors[k]["sec_per_round"]
            for k in (lo_k, hi_k)
        )
        if t_lo > 0 and t_hi > 0:
            adjusted.append(round(t_lo / t_hi / factor, 3))
    out["eff_floor_adjusted_windows"] = adjusted
    out["eff_floor_adjusted"] = _median(adjusted) if adjusted else None
    mem, dur = durable["memory"]["seconds"], durable["state_dir"]["seconds"]
    out["state_dir_leg"] = {
        "cpus": hi,
        "seconds": dur,
        "urls_per_sec": durable["state_dir"]["urls_per_sec"],
        "in_window_memory_seconds": mem,
        "overhead_pct_vs_memory": round(100.0 * (dur - mem) / mem, 1),
    }
    return out


def render_table(summary: dict) -> str:
    """BENCH/BASELINE.md from a :func:`summarize` result; pure."""
    lo, hi = summary["lo"], summary["hi"]
    lo_k, hi_k = str(lo), str(hi)
    regimes = summary["regimes"]
    lines = [
        f"# BENCH/BASELINE — local[{lo}]→local[{hi}] scaling windows",
        "",
        f"`python bench.py --scaling` on {summary.get('corpus', 'the bench corpus')}. "
        "Protocol and why windows: ../BASELINE.md. Raw data: scaling.json.",
        "",
        f"| regime | window | local[{lo}] urls/s | local[{hi}] urls/s "
        "| engine eff | control eff | engine/control |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, r in regimes.items():
        for i, w in enumerate(r["windows"], 1):
            e = w["engine"]
            lines.append(
                f"| {name} | {i} | {e[lo_k]['urls_per_sec']} | {e[hi_k]['urls_per_sec']} "
                f"| {w['eff_engine']} | {w['eff_control']} | {w['engine_vs_control']} |"
            )
    lines += ["", "| regime | median engine eff | median control eff "
              "| median engine/control |", "|---|---|---|---|"]
    for name, r in regimes.items():
        lines.append(
            f"| {name} | {r['eff_engine_median']} | {r['eff_control_median']} "
            f"| {r['engine_vs_control_median']} |"
        )
    lines += ["", "| per-round floor | sec/round | top stages (ms/round) |",
              "|---|---|---|"]
    for k, sec in summary["floor_sec_per_round"].items():
        stages = list(summary["floor_ms_by_stage"][k].items())[:4]
        lines.append(
            f"| local[{k}] | {sec} | " + ", ".join(f"{s} {v}" for s, v in stages) + " |"
        )
    d = summary["state_dir_leg"]
    lines += [
        "",
        f"Floor-adjusted nine_round efficiency: median {summary['eff_floor_adjusted']} "
        f"(windows {summary['eff_floor_adjusted_windows']}).",
        f"Durable commit (state_dir) at local[{d['cpus']}]: {d['seconds']} s vs "
        f"{d['in_window_memory_seconds']} s in memory, same window "
        f"({d['overhead_pct_vs_memory']:+} % wall).",
    ]
    return "\n".join(lines) + "\n"


def _run_json(args: list, env: dict | None = None) -> dict:
    """Run a subprocess and parse its last stdout line as JSON."""
    out = subprocess.run(args, env=env, capture_output=True, text=True, timeout=3600)
    lines = out.stdout.strip().splitlines()
    if out.returncode or not lines:
        sys.stderr.write("\n".join(out.stderr.splitlines()[-30:]) + "\n")
        raise RuntimeError(f"{args[1:]} failed (rc={out.returncode})")
    return json.loads(lines[-1])


def run_leg(cpus: int, wide: bool, state_dir: str | None = None) -> dict:
    """One crawl-only engine leg in a fresh process at local[cpus]."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_BENCH_WIDE", "SPARK_GRAFT_BENCH_STATE_DIR")}
    env.update(SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_BENCH_CRAWL_ONLY="1")
    if wide:
        env["SPARK_GRAFT_BENCH_WIDE"] = "1"
    if state_dir:
        env["SPARK_GRAFT_BENCH_STATE_DIR"] = state_dir
    return _run_json([sys.executable, os.path.abspath(__file__)], env)["crawl"]


def run_scaling() -> dict:
    tools = os.path.join(ROOT, "tools")
    regimes: dict = {name: [] for name in REGIMES}
    for name, wide in REGIMES.items():
        for _ in range(REPEATS):
            # one drift window: engine HI, engine LO, control at {LO, HI}
            engine = {str(HI): run_leg(HI, wide), str(LO): run_leg(LO, wide)}
            ctl = _run_json([sys.executable, os.path.join(tools, "scaling_control.py"),
                             f"{LO},{HI}"])
            regimes[name].append({
                "engine": engine, "control_pages_per_sec": ctl["pages_per_sec_by_procs"],
            })
    state_dir = os.path.join(os.environ.get("TMPDIR", "/tmp"), "dude_spark_bench_state")
    durable = {"memory": run_leg(HI, False), "state_dir": run_leg(HI, False, state_dir)}
    shutil.rmtree(state_dir, ignore_errors=True)
    floors = {
        str(c): _run_json([sys.executable, os.path.join(tools, "round_floor.py"),
                           str(c), "24"])
        for c in (LO, HI)
    }
    summary = {
        "corpus": f"{os.path.basename(SF_DIR.rstrip('/'))} ×{REPLICATE} hosts, "
                  f"pad {PAD}, {REPEATS} windows per regime, "
                  f"{len(os.sched_getaffinity(0))}-core host",
        "replicate": REPLICATE, "pad": PAD, "repeats": REPEATS,
        **summarize(regimes, floors, durable),
    }
    bench_dir = os.path.join(ROOT, "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    with open(os.path.join(bench_dir, "scaling.json"), "w") as f:
        json.dump(summary, f, indent=1)
    with open(os.path.join(bench_dir, "BASELINE.md"), "w") as f:
        f.write(render_table(summary))
    return summary


def main() -> None:
    if "--scaling" in sys.argv:
        summary = run_scaling()
        print(json.dumps({k: v for k, v in summary.items() if k != "regimes"}))
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
