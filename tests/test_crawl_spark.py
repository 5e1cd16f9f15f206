"""Spark-side integration tests: crawl loop, ordering parity vs a faithful
reference simulator, flatten semantics, resumability."""

import collections
import json
import re
from urllib.parse import urljoin, urlparse

import pytest

from dude_spark.api import Scraper
from dude_spark.corpus import pages_df, robots_df, seeds
from dude_spark.crawl import CrawlConfig, CrawlJob, assign_global_seq
from dude_spark.dom import parse_html
from dude_spark.extract import extract_links
from dude_spark.flatten import flatten

SF = "/root/testdata/sf0.001"


def make_scraper():
    app = Scraper()

    @app.group(css=".custom-group")
    @app.select(css=".title")
    def title(element):
        return {"title": element.text_content()}

    @app.select(css="a.url", group_css=".custom-group")
    def item_href(element):
        return {"item_href": element.get("href")}

    return app


def reference_fifo_crawl(pages: dict, seed_urls, robots: dict):
    """Faithful simulation of the reference loop (dude/base.py:361-376 +
    beautifulsoup_scraper.py:58-94): FIFO deque, allowed-domains filter,
    robots can_fetch skip, fetch (miss → skip), follow a[href] links with
    self-link filter. The corpus is acyclic & duplicate-free, so the
    reference's lack of a seen-set yields each URL at most once — matching
    our dedupe='seen' engine exactly (SURVEY §7.3).
    """
    from urllib.robotparser import RobotFileParser

    allowed = {urlparse(u).netloc for u in seed_urls}
    frontier = collections.deque(seed_urls)
    fetched = []
    parsers = {}
    while frontier:
        url = frontier.popleft()
        host = urlparse(url).netloc
        if host not in allowed:
            continue
        if host in robots:
            if host not in parsers:
                p = RobotFileParser()
                p.parse(robots[host].splitlines())
                parsers[host] = p
            if not parsers[host].can_fetch("dude", url):
                continue
        fetched.append(url)
        html = pages.get(url)
        if html is None:
            continue
        root = parse_html(html)
        for link in extract_links(root, url):
            frontier.append(link)
    return fetched


@pytest.fixture(scope="module")
def crawl_result(spark):
    app = make_scraper()
    pages = pages_df(spark, SF).select("url", "html").cache()
    job = CrawlJob(
        spark, app, pages, robots=robots_df(spark),
        config=CrawlConfig(follow_urls=True, max_rounds=40, round_seconds=3600),
    )
    return job.run(seeds()), pages


def test_crawl_ordering_parity_with_reference(spark, crawl_result):
    """north_rule gate: same crawl ordering + URL-seen set as the reference
    under the same seed list."""
    res, pages = crawl_result
    page_map = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    robots = {
        r["host"]: r["robots_txt"] for r in robots_df(spark).collect()
    }
    expected = reference_fifo_crawl(page_map, seeds(), robots)
    ours = [r["url"] for r in res.trace.orderBy("seq").collect()]
    # seen set identical
    assert set(ours) == set(expected)
    # BUT the reference's FIFO pops one URL at a time; our engine fetches a
    # whole frontier level per round. Within the engine's (depth, seq) order
    # the sequence must be *exactly* the reference's FIFO order:
    assert ours == expected


def test_crawl_fetches_robots_blocked_subtree_never(crawl_result):
    res, _ = crawl_result
    blocked = res.trace.filter(
        "url like 'https://host-0.test/page-7.html' or "
        "url like 'https://host-0.test/page-15.html' or "
        "url like 'https://host-0.test/page-16.html'"
    ).count()
    assert blocked == 0


def test_crawl_results_match_closed_form(crawl_result):
    res, _ = crawl_result
    # 500 pages - 4 robots-gated hosts × 3-page blocked subtree
    assert res.results.select("page_url").distinct().count() == 488


def test_crawl_results_cover_the_last_round(spark):
    """A crawl cut by max_rounds at a round that fetches data pages: each
    round's (page_url, round) results equal that round's fetched pages in the
    trace, the final round included. (The full crawl's last round fetches
    only content-less item links, so it cannot show a dropped last round.)"""
    pages = pages_df(spark, SF).select("url", "html")
    job = CrawlJob(
        spark, make_scraper(), pages, robots=robots_df(spark),
        config=CrawlConfig(follow_urls=True, max_rounds=3, round_seconds=3600),
    )
    res = job.run(seeds())
    page_urls = {r["url"] for r in pages.select("url").collect()}
    want = {(r["url"], r["round"]) for r in res.trace.collect() if r["url"] in page_urls}
    got = {
        (r["page_url"], r["round"])
        for r in res.results.select("page_url", "round").distinct().collect()
    }
    assert max(rnd for _, rnd in want) == 2  # the cut round fetched data pages
    assert got == want


def test_flatten_spark_matches_reference_shape(spark, crawl_result):
    res, _ = crawl_result
    flat = flatten(res.results)
    row = flat.filter("_page_url = 'https://host-1.test/page-0.html'").collect()
    # doc_id=1 → n_groups=2
    assert len(row) == 2
    assert row[0]["_group_index"] == 0 and row[1]["_group_index"] == 1
    assert row[0]["data"]["title"] == "Title 1-1"
    assert row[0]["data"]["item_href"] == "item-1-1.html"


def test_resume_continues_from_checkpoint(spark, tmp_path):
    app = make_scraper()
    pages = pages_df(spark, SF).select("url", "html")
    state = str(tmp_path / "state")
    # run only 2 rounds, then resume to completion
    job = CrawlJob(
        spark, app, pages, robots=robots_df(spark),
        config=CrawlConfig(max_rounds=2, round_seconds=3600, state_dir=state),
    )
    partial = job.run(seeds())
    assert len(partial.metrics) == 2
    job2 = CrawlJob(
        spark, app, pages, robots=robots_df(spark),
        config=CrawlConfig(max_rounds=40, round_seconds=3600, state_dir=state),
    )
    rest = job2.run(seeds(), resume=True)
    total_urls = set(
        r["url"] for r in partial.trace.select("url").collect()
    ) | set(r["url"] for r in rest.trace.select("url").collect())
    # full-crawl seen set reached across the two runs
    full = CrawlJob(
        spark, app, pages, robots=robots_df(spark),
        config=CrawlConfig(max_rounds=40, round_seconds=3600),
    ).run(seeds())
    assert total_urls == {r["url"] for r in full.trace.select("url").collect()}


def test_state_dir_hybrid_parity(spark, tmp_path, crawl_result):
    """state_dir mode rides the hybrid driver-resident frontier (r5):
    hybrid rounds commit their snapshot driver-side via pyarrow instead of
    a Spark write job. Trace/results/seen must be byte-identical to memory
    mode AND to the Spark-written durable path (driver_frontier_max=0),
    and every committed round dir — whichever writer produced it — must
    carry the _SUCCESS marker `last_committed_round` keys on and read back
    with the same schema."""
    import os

    import pyarrow.parquet as pq

    res_default, pages = crawl_result
    schemas = {}
    base_trace = [
        (r["url"], r["depth"], r["seq"])
        for r in res_default.trace.orderBy("seq").collect()
    ]
    base_rows = res_default.results.count()
    base_seen = res_default.seen.count()
    for cap in (65536, 0):
        state = str(tmp_path / f"state_{cap}")
        job = CrawlJob(
            spark, make_scraper(), pages, robots=robots_df(spark),
            config=CrawlConfig(
                follow_urls=True, max_rounds=40, round_seconds=3600,
                driver_frontier_max=cap, state_dir=state,
            ),
        )
        res = job.run(seeds())
        trace = [
            (r["url"], r["depth"], r["seq"])
            for r in res.trace.orderBy("seq").collect()
        ]
        assert trace == base_trace, f"durable trace diverged at cap={cap}"
        assert res.results.count() == base_rows
        assert res.seen.count() == base_seen
        fdir = os.path.join(state, "frontier")
        rounds = sorted(
            int(d.split("=", 1)[1]) for d in os.listdir(fdir)
            if d.startswith("round=")
        )
        assert rounds[0] == -1 and len(rounds) == len(res.metrics) + 1
        for r in rounds:
            assert os.path.exists(
                os.path.join(fdir, f"round={r}", "_SUCCESS")
            ), f"round={r} lacks _SUCCESS at cap={cap}"
        for m in res.metrics:
            with open(os.path.join(state, "rounds", f"round={m.round}.json")) as f:
                assert json.load(f)["path"] == m.path
        # round 0: pyarrow-written at cap 65536, Spark-written at cap 0
        assert res.metrics[0].path == ("driver" if cap else "distributed")
        r0 = os.path.join(fdir, "round=0")
        schemas[cap] = (
            spark.read.parquet(r0).schema,
            [
                [(f.name, f.type) for f in pq.read_schema(os.path.join(r0, p))]
                for p in sorted(os.listdir(r0)) if p.endswith(".parquet")
            ],
        )
    driver_spark, driver_arrow = schemas[65536]
    dist_spark, dist_arrow = schemas[0]
    assert driver_spark == dist_spark
    assert all(a == driver_arrow[0] for a in driver_arrow + dist_arrow)


def test_resume_across_frontier_paths(spark, tmp_path):
    """Snapshots committed by the driver-side pyarrow writer must be
    readable by a resume running the fully distributed path, and
    vice versa — the two writers are interchangeable on disk."""
    pages = pages_df(spark, SF).select("url", "html")
    full = CrawlJob(
        spark, make_scraper(), pages, robots=robots_df(spark),
        config=CrawlConfig(max_rounds=40, round_seconds=3600),
    ).run(seeds())
    expected = [
        (r["url"], r["seq"]) for r in full.trace.orderBy("seq").collect()
    ]
    for cap1, cap2 in ((65536, 0), (0, 65536)):
        state = str(tmp_path / f"s_{cap1}_{cap2}")
        partial = CrawlJob(
            spark, make_scraper(), pages, robots=robots_df(spark),
            config=CrawlConfig(
                max_rounds=2, round_seconds=3600,
                state_dir=state, driver_frontier_max=cap1,
            ),
        ).run(seeds())
        assert len(partial.metrics) == 2
        rest = CrawlJob(
            spark, make_scraper(), pages, robots=robots_df(spark),
            config=CrawlConfig(
                max_rounds=40, round_seconds=3600,
                state_dir=state, driver_frontier_max=cap2,
            ),
        ).run(seeds(), resume=True)
        # (url, seq) parity, not just URL-set equality: the resumed leg
        # must assign/carry the SAME dense enqueue seq for every fetched
        # URL as the uninterrupted run (seqs are unique, so sorting by seq
        # is canonical regardless of deferral-driven fetch interleaving)
        stitched = sorted(
            [
                (r["url"], r["seq"])
                for r in partial.trace.select("url", "seq").collect()
            ]
            + [(r["url"], r["seq"]) for r in rest.trace.select("url", "seq").collect()],
            key=lambda t: t[1],
        )
        assert stitched == expected, f"resume {cap1}->{cap2} trace diverged"


def test_resume_after_zero_discovery_round(spark, tmp_path):
    """A committed round can discover no new links while politeness still
    defers old-seq rows; if the globally highest-seq URL was already
    FETCHED (its host drained fast), that snapshot's max(seq) undershoots
    the true high-water mark. Resume must recover the mark from ALL
    committed snapshots, not the pending frontier — otherwise the first
    post-resume discovery re-issues an already-assigned seq (duplicate
    seq = broken (url, seq) parity). Crafted shape: host b's only page
    carries the max seq and is fetched in round 1 while host a still
    defers; round 1 discovers nothing (cut there), round 2's fetch of
    a/p3 discovers fresh links that must be numbered PAST b/p1's seq."""
    from pyspark.sql import functions as F

    def page(links=()):
        body = "".join(f"<a href='{u}'>x</a>" for u in links)
        return f"<html><body>{body}<p class='t'>d</p></body></html>"

    rows = [
        ("https://a.test/s.html",
         page(["p1.html", "p2.html", "p3.html", "p4.html", "p5.html",
               "p6.html", "https://b.test/p1.html"])),
        ("https://b.test/seed.html", page()),
        ("https://a.test/p3.html", page(["q1.html", "q2.html"])),
    ] + [
        (f"https://a.test/{n}.html", page())
        for n in ("p1", "p2", "p4", "p5", "p6", "q1", "q2")
    ] + [("https://b.test/p1.html", page())]
    pages = spark.createDataFrame(rows, "url string, html string").select(
        "url", F.encode("html", "UTF-8").alias("html")
    )
    app = Scraper()

    @app.select(css="p.t")
    def t(element):
        return {"t": element.text_content()}

    seed_urls = ["https://a.test/s.html", "https://b.test/seed.html"]
    cfgkw = dict(round_seconds=3600, max_per_host=2)
    full = CrawlJob(
        spark, app, pages, config=CrawlConfig(max_rounds=64, **cfgkw),
    ).run(seed_urls)
    expected = sorted(
        [(r["url"], r["seq"]) for r in full.trace.select("url", "seq").collect()],
        key=lambda t: t[1],
    )
    cut = next(
        (m.round for m in full.metrics if m.new_urls == 0 and m.deferred > 0),
        None,
    )
    assert cut == 1, f"corpus no longer produces the shape (cut={cut})"
    state = str(tmp_path / "state")
    partial = CrawlJob(
        spark, app, pages,
        config=CrawlConfig(max_rounds=cut + 1, state_dir=state, **cfgkw),
    ).run(seed_urls)
    rest = CrawlJob(
        spark, app, pages,
        config=CrawlConfig(max_rounds=64, state_dir=state, **cfgkw),
    ).run(seed_urls, resume=True)
    stitched = sorted(
        [(r["url"], r["seq"]) for r in partial.trace.select("url", "seq").collect()]
        + [(r["url"], r["seq"]) for r in rest.trace.select("url", "seq").collect()],
        key=lambda t: t[1],
    )
    assert len({s for _, s in stitched}) == len(stitched), "duplicate seqs"
    assert stitched == expected


def test_dedupe_none_matches_seen_on_acyclic_corpus(spark):
    """Reference-parity mode: with no URL-seen set, the acyclic duplicate-
    free corpus must still yield the same fetched set/order as dedupe='seen'
    (SURVEY §7.3 equivalence argument, now executed)."""
    app = make_scraper()
    pages = pages_df(spark, SF).select("url", "html")
    res_none = CrawlJob(
        spark, app, pages, robots=robots_df(spark),
        config=CrawlConfig(max_rounds=40, round_seconds=3600, dedupe="none"),
    ).run(seeds()[:4])
    res_seen = CrawlJob(
        spark, app, pages, robots=robots_df(spark),
        config=CrawlConfig(max_rounds=40, round_seconds=3600),
    ).run(seeds()[:4])
    a = [r["url"] for r in res_none.trace.orderBy("seq").collect()]
    b = [r["url"] for r in res_seen.trace.orderBy("seq").collect()]
    assert a == b


def test_bloom_sidecar_no_false_negatives_and_filters(spark):
    from pyspark.sql import functions as F

    from dude_spark.frontier import bloom_prefilter, bloom_words, merge_bloom_words

    m, k = 1 << 20, 4
    seen = spark.range(10_000).select(F.xxhash64("id").alias("url_hash"))
    novel = spark.range(10_000, 30_000).select(F.xxhash64("id").alias("url_hash"))
    words = bloom_words(seen, m_bits=m, k=k)
    # word table bounded by m/64 regardless of input size
    assert words.count() <= m // 64
    flagged_seen = bloom_prefilter(seen, words, m_bits=m, k=k)
    # NO false negatives: every seen hash must flag maybe_seen
    assert flagged_seen.filter("NOT _maybe_seen").count() == 0
    flagged_novel = bloom_prefilter(novel, words, m_bits=m, k=k)
    fp = flagged_novel.filter("_maybe_seen").count()
    # fpr ≈ (1 - e^(-kn/m))^k ≈ 2e-6 at these parameters; allow slack
    assert fp < 40
    # incremental merge covers both increments
    w2 = merge_bloom_words(words, bloom_words(novel, m_bits=m, k=k))
    assert bloom_prefilter(novel, w2, m_bits=m, k=k).filter("NOT _maybe_seen").count() == 0


def test_crawl_with_bloom_sidecar_matches_exact(spark):
    """Force the bloom path (broadcast_seen_max=0, bloom on) — fetched set
    and order must equal the broadcast-anti-join crawl exactly (the exact
    join stays the authority behind the bloom)."""
    app = make_scraper()
    pages = pages_df(spark, SF).select("url", "html")
    res_bloom = CrawlJob(
        spark, app, pages, robots=robots_df(spark),
        config=CrawlConfig(
            max_rounds=40, round_seconds=3600,
            broadcast_seen_max=0, bloom_bits=1 << 20,
        ),
    ).run(seeds()[:4])
    res_exact = CrawlJob(
        spark, app, pages, robots=robots_df(spark),
        config=CrawlConfig(max_rounds=40, round_seconds=3600),
    ).run(seeds()[:4])
    a = [r["url"] for r in res_bloom.trace.orderBy("seq").collect()]
    b = [r["url"] for r in res_exact.trace.orderBy("seq").collect()]
    assert a == b


def test_priority_expr_orders_budgeted_fetches(spark):
    """north_rule priority queue: with max_per_host=1, the high-priority
    child (page-2) wins the round-1 budget slot over the FIFO-first child
    (page-1)."""
    app = make_scraper()
    pages = pages_df(spark, SF).select("url", "html")
    job = CrawlJob(
        spark, app, pages, robots=robots_df(spark),
        config=CrawlConfig(
            max_rounds=3, round_seconds=3600, max_per_host=1,
            priority_expr="CASE WHEN url LIKE '%/page-2.html' THEN 5 ELSE 0 END",
        ),
    )
    res = job.run(seeds()[:2])
    r1 = sorted(r["url"] for r in res.trace.filter("round = 1").collect())
    assert r1 == [
        "https://host-0.test/page-2.html",
        "https://host-1.test/page-2.html",
    ]


def test_crawl_seed_with_explicit_port(spark):
    """Allowed-domain set must use parse_url-HOST semantics: a seed with an
    explicit port must not be dropped by its own allowed-domains gate."""
    from pyspark.sql import functions as F

    pages = spark.createDataFrame(
        [
            ("http://localhost:8080/",
             "<html><body><a href='/p1.html'>1</a><p class='t'>root</p></body></html>"),
            ("http://localhost:8080/p1.html",
             "<html><body><p class='t'>one</p></body></html>"),
        ],
        "url string, html string",
    ).select("url", F.encode("html", "UTF-8").alias("html"))
    app = Scraper()

    @app.select(css="p.t")
    def t(element):
        return {"t": element.text_content()}

    job = CrawlJob(spark, app, pages, config=CrawlConfig(max_rounds=5))
    res = job.run(["http://localhost:8080/"])
    assert sorted(r["url"] for r in res.trace.collect()) == [
        "http://localhost:8080/",
        "http://localhost:8080/p1.html",
    ]


def test_politeness_defers_but_completes(spark):
    """Tiny budget → many rounds, same final fetched set."""
    app = make_scraper()
    pages = pages_df(spark, SF).select("url", "html")
    job = CrawlJob(
        spark, app, pages, robots=robots_df(spark),
        config=CrawlConfig(max_rounds=64, round_seconds=30),
    )
    res = job.run(seeds())
    # delay-2 hosts get 15 fetches/round under round_seconds=30 → must defer
    assert any(m.deferred > 0 for m in res.metrics)
    full = CrawlJob(
        spark, app, pages, robots=robots_df(spark),
        config=CrawlConfig(max_rounds=64, round_seconds=3600),
    ).run(seeds())
    assert {r["url"] for r in res.trace.collect()} == {
        r["url"] for r in full.trace.collect()
    }


def test_follow_cycle_dedupes_without_follow_urls(spark):
    """Regression (r2 advice, crawl.py seen-fold guard): with
    follow_urls=False, handler follow_url() rows still reach the frontier —
    so the round delta must fold into ``seen`` whenever dedupe='seen'. A
    follow cycle among non-seed pages (a→b→c→b) must fetch b and c exactly
    once, not refetch them every round until max_rounds."""
    app = Scraper()

    @app.select(css="a.next")
    def nxt(element):
        return {"n": element.get("href"), "__follow__": element.get("href")}

    def page(target):
        return f'<html><body><a class="next" href="{target}">n</a></body></html>'

    pages = spark.createDataFrame(
        [
            ("https://cyc.test/a.html", page("b.html")),
            ("https://cyc.test/b.html", page("c.html")),
            ("https://cyc.test/c.html", page("b.html")),
        ],
        "url string, html string",
    )
    job = CrawlJob(
        spark, app, pages,
        config=CrawlConfig(follow_urls=False, max_rounds=6, round_seconds=3600),
    )
    res = job.run(["https://cyc.test/a.html"])
    fetched = [r["url"] for r in res.trace.orderBy("seq").collect()]
    assert fetched == [
        "https://cyc.test/a.html",
        "https://cyc.test/b.html",
        "https://cyc.test/c.html",
    ]
    # seen set carries all three (b/c entered via the follow path)
    assert {r["url"] for r in res.seen.collect()} == set(fetched)


def test_assign_global_seq_dense_and_ordered(spark):
    """Single order key that runs against the row order: dense from
    ``start`` and in order-column order."""
    df = spark.range(1000).selectExpr("id AS a", "(999 - id) AS b")
    out, total, hc = assign_global_seq(df, ["b"], start=100, key_bounds=(0, 999))
    assert total == 1000 and hc is None
    rows = out.orderBy("seq").collect()
    assert [r["seq"] for r in rows] == list(range(100, 1100))
    # seq follows the order column
    assert [r["b"] for r in rows] == list(range(1000))


def test_assign_global_seq_key_bounds_path(spark):
    """Deterministic range-split numbering (key_bounds): dense from
    ``start`` and in (a, b) lexicographic order, with host counts."""
    df = spark.range(1000).selectExpr("(id % 100) AS a", "id AS b", "'h' AS host")
    out, total, hc = assign_global_seq(
        df, ["a", "b"], start=7, rows_hint=1000, key_bounds=(0, 99),
        count_hosts=["h"],
    )
    assert total == 1000
    assert hc == {"h": 1000}
    rows = out.orderBy("seq").collect()
    assert [r["seq"] for r in rows] == list(range(7, 1007))
    # seq order == (a, b) lexicographic order
    assert [(r["a"], r["b"]) for r in rows] == sorted(
        [(r["a"], r["b"]) for r in rows]
    )


def _trace(res):
    return [
        (r["url"], r["depth"], r["seq"])
        for r in res.trace.orderBy("seq").collect()
    ]


def test_seen_compaction_cadence_invariant(spark, crawl_result, monkeypatch):
    """The distributed seen fold (delta append + compact every k) must yield
    the default crawl's order and seen set at any compaction cadence.
    broadcast_seen_max=0 puts the seen set in its distributed form from the
    first round, so every round folds a delta: k=1 compacts every round,
    k=100 never does."""
    import dude_spark.crawl as crawl_mod

    res_default, pages = crawl_result
    expected = (_trace(res_default), res_default.seen.count())
    for k in (1, 100):
        monkeypatch.setattr(crawl_mod, "SEEN_COMPACT_EVERY", k)
        res = CrawlJob(
            spark, make_scraper(), pages, robots=robots_df(spark),
            config=CrawlConfig(
                max_rounds=40, round_seconds=3600, broadcast_seen_max=0
            ),
        ).run(seeds())
        assert (_trace(res), res.seen.count()) == expected, f"k={k}"


def test_seen_promotion_mid_crawl_and_resume(spark, crawl_result, tmp_path, monkeypatch):
    """The fixture crawl's seen set grows 20 → 99 → 260 → 575 → ..., so at
    broadcast_seen_max=300 the driver-resident seen set is promoted to the
    distributed one after round 2, exactly once. With and without the Bloom
    sidecar, and for a durable crawl cut at round 3 whose resume opens the
    seen set already distributed (575 committed URLs > 300), the trace and
    seen set must equal the default crawl's."""
    import dude_spark.crawl as crawl_mod

    res_default, pages = crawl_result
    expected_trace = _trace(res_default)
    expected_seen = res_default.seen.count()
    promotions = []
    promote = crawl_mod._DriverSeen.promote

    def counting_promote(self, bloom_bits):
        promotions.append(bloom_bits)
        return promote(self, bloom_bits)

    monkeypatch.setattr(crawl_mod._DriverSeen, "promote", counting_promote)

    def job(**kw):
        return CrawlJob(
            spark, make_scraper(), pages, robots=robots_df(spark),
            config=CrawlConfig(
                round_seconds=3600, broadcast_seen_max=300, **kw
            ),
        )

    for bloom_bits in (None, 1 << 20):
        promotions.clear()
        res = job(max_rounds=40, bloom_bits=bloom_bits).run(seeds())
        assert promotions == [bloom_bits]
        assert _trace(res) == expected_trace, f"bloom_bits={bloom_bits}"
        assert res.seen.count() == expected_seen

    state = str(tmp_path / "state")
    partial = job(max_rounds=3, state_dir=state).run(seeds())
    assert len(partial.metrics) == 3
    opened = []
    open_seen = crawl_mod._open_seen

    def recording_open_seen(*a, **kw):
        opened.append(open_seen(*a, **kw))
        return opened[-1]

    monkeypatch.setattr(crawl_mod, "_open_seen", recording_open_seen)
    promotions.clear()
    rest = job(max_rounds=40, state_dir=state).run(seeds(), resume=True)
    assert [type(s) for s in opened] == [crawl_mod._DistributedSeen]
    assert promotions == []
    assert sorted(_trace(partial) + _trace(rest), key=lambda t: t[2]) == expected_trace
    assert rest.seen.count() == expected_seen


def test_crawl_spark_job_budget(spark, crawl_result):
    """Spark jobs launched by one fixture crawl, counted from the test side
    with a job group: warm, at the default config (driver-path rounds: one
    job each) and at driver_frontier_max=0 (every round distributed); each
    round's RoundMetrics.path says which."""
    _, pages = crawl_result
    sc = spark.sparkContext
    for cap, budget, path in ((65536, 8, "driver"), (0, 52, "distributed")):
        group = f"crawl_job_budget_{cap}"
        job = CrawlJob(
            spark, make_scraper(), pages, robots=robots_df(spark),
            config=CrawlConfig(
                max_rounds=40, round_seconds=3600, driver_frontier_max=cap
            ),
        )
        sc.setJobGroup(group, "crawl job budget")
        try:
            res = job.run(seeds())
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(jobs) <= budget, (cap, len(jobs))
        assert [m.path for m in res.metrics] == [path] * 6


def test_crawl_results_scan_without_python_workers(spark, crawl_result):
    """No frame a crawl returns scans a PythonRDD (a list-built
    createDataFrame): not the fixture crawl's results/trace, and not the
    empty ones of a crawl that runs no round."""
    res, pages = crawl_result
    zero = CrawlJob(
        spark, make_scraper(), pages, robots=robots_df(spark),
        config=CrawlConfig(max_rounds=0),
    ).run(seeds())
    assert zero.metrics == [] and zero.trace.count() == 0
    for r in (res, zero):
        for df in (r.results, r.trace):
            plan = df._jdf.queryExecution().toRdd().toDebugString()
            assert "PythonRDD[" not in plan


def test_hybrid_frontier_parity(spark, crawl_result):
    """The driver-resident small-round path (CrawlConfig.driver_frontier_max)
    must yield byte-identical traces and result counts to the fully
    distributed path — including mid-crawl transitions: cap=6 forces wide
    rounds to overflow back to distributed numbering (anti-joined against
    the driver-resident seen set's hashes, whose delta then folds back in)
    while narrow rounds stay driver-side."""
    res_default, pages = crawl_result
    base_trace = [
        (r["url"], r["depth"], r["seq"])
        for r in res_default.trace.orderBy("seq").collect()
    ]
    base_rows = res_default.results.count()
    base_seen = res_default.seen.count()
    for cap in (0, 6):
        job = CrawlJob(
            spark, make_scraper(), pages, robots=robots_df(spark),
            config=CrawlConfig(
                follow_urls=True, max_rounds=40, round_seconds=3600,
                driver_frontier_max=cap,
            ),
        )
        res = job.run(seeds())
        trace = [
            (r["url"], r["depth"], r["seq"])
            for r in res.trace.orderBy("seq").collect()
        ]
        assert trace == base_trace, f"trace diverged at driver_frontier_max={cap}"
        assert res.results.count() == base_rows
        assert res.seen.count() == base_seen


def test_local_relation_nullable_ints(spark):
    """The hybrid path casts int columns to pandas nullable Int dtypes when
    nulls are present (a null-yielding priority_expr); the Arrow
    LocalRelation build must carry them as null ints, not floats."""
    import pandas as pd

    from dude_spark.crawl import _local_relation

    pdf = pd.DataFrame(
        {"a": pd.array([1, None], dtype="Int32"), "b": ["x", "y"]}
    )
    df = _local_relation(spark, pdf, "a int, b string")
    assert df.schema["a"].dataType.typeName() == "integer"
    assert sorted(
        [(r["a"], r["b"]) for r in df.collect()],
        key=lambda t: t[1],
    ) == [(1, "x"), (None, "y")]


def test_mid_and_distributed_robots_path_parity(spark, crawl_result, monkeypatch):
    """>INLINE_ROBOTS_MAX hosts routes robots through the driver-compiled
    LocalRelation broadcast-join (mid tier, ≤LOCAL_ROBOTS_MAX), and past
    that through the distributed pandas-UDF compile + broadcast-join
    (compile_robots/robots_gate). Pad the dim with dummy hosts the crawl
    never visits to force each tier (the distributed tier via a lowered
    LOCAL_ROBOTS_MAX); trace and results must be byte-identical to the
    inline run in both."""
    import dude_spark.crawl as crawl_mod
    from dude_spark.politeness import INLINE_ROBOTS_MAX

    res_inline, pages = crawl_result
    base = robots_df(spark).collect()

    def run_with_pad(n_hosts: int):
        pad = [
            (f"pad-{i}.example", "User-Agent: *\nDisallow: /\n", 0)
            for i in range(n_hosts - len(base))
        ]
        big = spark.createDataFrame(
            [(r["host"], r["robots_txt"], r["crawl_delay"]) for r in base] + pad,
            "host string, robots_txt string, crawl_delay int",
        )
        job = CrawlJob(
            spark, make_scraper(), pages, robots=big,
            config=CrawlConfig(
                follow_urls=True, max_rounds=40, round_seconds=3600
            ),
        )
        return job.run(seeds())

    t = lambda r: [
        (x["url"], x["depth"], x["seq"])
        for x in r.trace.orderBy("seq").collect()
    ]
    base_trace, base_rows = t(res_inline), res_inline.results.count()

    # mid tier: INLINE < hosts <= LOCAL
    res_mid = run_with_pad(INLINE_ROBOTS_MAX + 4)
    assert t(res_mid) == base_trace
    assert res_mid.results.count() == base_rows

    # distributed tier: hosts > LOCAL (lowered so the test stays light)
    monkeypatch.setattr(crawl_mod, "LOCAL_ROBOTS_MAX", INLINE_ROBOTS_MAX + 8)
    res_dist = run_with_pad(INLINE_ROBOTS_MAX + 16)
    assert t(res_dist) == base_trace
    assert res_dist.results.count() == base_rows
