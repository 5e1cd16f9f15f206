"""No-Spark scaling control for ``bench.py --scaling``.

Measures the parse+extract kernel's multiprocessing throughput on the
bench corpus bench.py materializes — the same per-page zlib-compressed
pages, inflated inside the kernel exactly as the engine's extraction kernel
does (CrawlConfig.page_codec="zlib") — with zero Spark, zero coordination
and fork-shared input (no IPC in the measured window). Run inside the same
drift window as an engine pair, it prices what the hardware itself delivers
at those parallelism levels; the caller computes the efficiency.

Usage: python tools/scaling_control.py LEVELS   (e.g. ``1,4``), after
bench.py has run at the same ``$SPARK_GRAFT_SF_DIR``.
Prints one JSON line: {"pages": N, "pad": P, "pages_per_sec_by_procs": {...}}
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

ROWS: list = []


def _parse_range(args):
    lo, hi, step = args
    import zlib

    from dude_spark.api import Scraper
    from dude_spark.extract import extract_page_rows

    app = Scraper()

    @app.group(css=".custom-group")
    @app.select(css=".title")
    def title(element):
        return {"title": element.text_content()}

    @app.select(css="a.url", group_css=".custom-group")
    def item_href(element):
        return {"item_href": element.get("href")}

    plan = app.compile()
    n = 0
    for i in range(lo, hi, step):
        extract_page_rows(
            plan, "https://x.test/p.html", zlib.decompress(ROWS[i]),
            follow_urls=True,
        )
        n += 1
    return n


def _load_rows() -> list:
    """The bench corpus's compressed pages, read straight from the parquet
    an engine leg (bench.py) writes."""
    import pyarrow.parquet as pq

    path = bench.pages_path(bench.SF_DIR, bench.REPLICATE)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        sys.exit(f"{path} is missing: run bench.py at this scale factor first")
    return pq.read_table(path, columns=["html"]).column("html").to_pylist()


def main() -> None:
    global ROWS
    levels = [int(x) for x in sys.argv[1].split(",")]
    ROWS = _load_rows()

    mp.set_start_method("fork", force=True)
    n = len(ROWS)
    out = {}
    for procs in levels:
        t0 = time.time()
        with mp.Pool(procs) as p:
            done = sum(p.map(_parse_range, [(i, n, procs) for i in range(procs)]))
        out[procs] = round(done / (time.time() - t0), 1)
    print(json.dumps({"pages": n, "pad": bench.PAD, "pages_per_sec_by_procs": out}))


if __name__ == "__main__":
    main()
