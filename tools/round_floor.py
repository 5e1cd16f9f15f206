"""Measure Spark's per-round scheduling floor with an (effectively) empty
round: a chain corpus — page i links only to page i+1 — makes every crawl
round fetch exactly ONE page, so round wall time is almost pure per-round
machinery (driver plan analysis, job scheduling, broadcast builds,
python-stage handshakes, checkpoint bookkeeping) with negligible parallel
work.

The point of running it at two parallelism levels: the floor is
core-count-INDEPENDENT. Whatever it measures is a fixed per-round serial
residue — the quantity that makes a many-round crawl's measured scaling
efficiency sit below the wide-round (one-round) figure — not work that a
bigger cluster would speed up or slow down. At warehouse round widths
(millions of pages/round at the 10^10-URL target) the same seconds amortize
into round wall time.

Usage: python tools/round_floor.py [cpus=8] [n_pages=16]
Prints one JSON line:
  {"cpus": N, "rounds": R, "seconds": S, "sec_per_round": S/R,
   "ms_per_round_by_stage": {...}}
The per-stage itemization averages the timed run's
``RoundMetrics.stages`` over its rounds, so the floor is attributed to the
crawl round's named stages (budget, fetch_extract, expand, number, commit,
fold) rather than asserted.
Warm-up: one full chain crawl (JIT + python-worker fork excluded), then the
timed crawl on the same session.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> None:
    cpus = sys.argv[1] if len(sys.argv) > 1 else "8"
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    os.environ["SPARK_GRAFT_CPUS"] = cpus
    from dude_spark.api import Scraper
    from dude_spark.crawl import CrawlConfig, CrawlJob
    from dude_spark.session import get_spark

    spark = get_spark(app_name="round_floor", master=f"local[{cpus}]")

    rows = [
        (
            f"https://chain.test/page-{i}.html",
            f'<html><body><a href="page-{i + 1}.html">next</a>'
            f"<p class=\"t\">p{i}</p></body></html>",
        )
        for i in range(n_pages)
    ]
    pages = spark.createDataFrame(rows, "url string, html string").cache()
    pages.count()

    def run() -> tuple[list, float]:
        app = Scraper()

        @app.select(css="p.t")
        def t(element):
            return {"t": element.text_content()}

        job = CrawlJob(
            spark, app, pages,
            config=CrawlConfig(
                follow_urls=True, max_rounds=n_pages + 2, round_seconds=3600
            ),
        )
        t0 = time.perf_counter()
        res = job.run(["https://chain.test/page-0.html"])
        res.results.count()
        return res.metrics, time.perf_counter() - t0

    run()  # warm-up: python-worker fork + JIT + first-plan costs
    metrics, secs = run()
    rounds = len(metrics)
    sums: dict = {}
    for m in metrics:
        for label, sec in m.stages.items():
            sums[label] = sums.get(label, 0.0) + sec
    by_stage = {
        k: round(sums[k] / rounds * 1000)
        for k in sorted(sums, key=lambda k: -sums[k])
        if sums[k] / rounds >= 0.001
    }
    print(
        json.dumps(
            {
                "cpus": int(cpus),
                "rounds": rounds,
                "seconds": round(secs, 2),
                "sec_per_round": round(secs / max(rounds, 1), 3),
                "ms_per_round_by_stage": by_stage,
            }
        )
    )


if __name__ == "__main__":
    main()
