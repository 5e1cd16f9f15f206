"""Driver-contract queries + DuckDB oracle SQL.

Each entry here is an implemented operator from SURVEY.md §2 (or a
training-data pipeline op), exposed as ``(spark, sf_dir) -> DataFrame`` with
a matching ANSI-SQL oracle DuckDB runs over the same parquet tables.

The crawl/extract queries run the REAL engine (DOM parse + selector
kernels + crawl loop) over the synthetic page corpus, which is a pure
projection of the ``documents`` table (see :mod:`dude_spark.corpus`); the
oracles compute the *expected* output analytically from ``documents`` —
closed forms of the corpus layout. Column names/types are aligned on both
sides (driver compare hashes values after sorting columns by name).
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, functions as F

from .api import Scraper
from .corpus import N_HOSTS, pages_df, robots_df, seeds
from .crawl import CrawlConfig, CrawlJob
from .extract import make_extract_iterator
from .flatten import flatten
from .frontier import canonicalize
from .politeness import budget_rank, compile_robots, robots_gate
from .textops import duckdb_hash32
from .textops.dedup import (
    MINHASH_PRIME,
    exact_duplicates,
    minhash_lsh_pairs,
    minhash_permutations,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
)
from .textops.multimodal import decode_features, synth_media
from .textops.quality import (
    fingerprint,
    lang_stats,
    predict_lang,
    quality_score,
    token_count,
    train_char_ngram_profiles,
)
from .textops.similarity import cosine_topk, lsh_bucketed_topk

# Shared oracle CTE: the corpus layout, closed-form from documents
LAYOUT_CTE = """
WITH layout AS (
  SELECT doc_id, text, lang, source, n_chars,
         (doc_id % 20) AS host_id,
         (doc_id // 20) AS local,
         (doc_id % 3 + 1) AS n_groups,
         'https://host-' || (doc_id % 20) || '.test/page-' || (doc_id // 20) || '.html' AS url,
         count(*) OVER (PARTITION BY doc_id % 20) AS n_local
  FROM documents
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _extraction_scraper() -> Scraper:
    """The canonical ruleset (reference tests/test_bs4.py:25-43 shape):
    title text + item href per .custom-group, plus an empty handler and a
    never-matching url_match rule."""
    app = Scraper()

    @app.group(css=".custom-group")
    @app.select(css=".title")
    def title(element):
        return {"title": element.text_content()}

    @app.select(css=".title", group_css=".custom-group")
    def empty(element):
        return {}

    @app.group(css=".custom-group")
    @app.select(css=".title", url_match="https://never.example/*")
    def url_dont_match(element):
        return {"title": element.text_content()}

    @app.select(css="a.url", group_css=".custom-group")
    def item_href(element):
        return {"item_href": element.get("href")}

    return app


def _extract_once(spark: SparkSession, sf_dir: str, scraper: Scraper, follow: bool = False) -> DataFrame:
    """Single-pass extraction over every page (no crawl loop)."""
    plan = scraper.compile()
    pages = pages_df(spark, sf_dir)
    it = make_extract_iterator(plan, follow_urls=follow)
    from .extract import EXTRACT_SCHEMA

    return pages.select("url", "html").mapInPandas(it, EXTRACT_SCHEMA)


# ---------------------------------------------------------------------------
# A. crawl/extract engine queries
# ---------------------------------------------------------------------------

def q_extract_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    ext = _extract_once(spark, sf_dir, _extraction_scraper())
    flat = flatten(ext, ordered=False)
    return flat.select(
        F.col("_page_url").alias("page_url"),
        F.col("_group_index").cast("long").alias("group_index"),
        F.col("_element_index").cast("long").alias("element_index"),
        F.col("data").getItem("title").alias("title"),
        F.col("data").getItem("item_href").alias("item_href"),
    )


ORACLE_EXTRACT_FLAT = LAYOUT_CTE + """
SELECT url AS page_url,
       (k - 1) AS group_index,
       0 AS element_index,
       'Title ' || doc_id || '-' || k AS title,
       'item-' || doc_id || '-' || k || '.html' AS item_href
FROM (SELECT *, unnest(generate_series(1, n_groups)) AS k FROM layout)
"""


def q_content_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identity invariant: extracted p.content text == documents.text."""
    app = Scraper()

    @app.select(css="p.content")
    def content(element):
        return {"content": element.text_content()}

    ext = _extract_once(spark, sf_dir, app)
    return (
        ext.filter(F.col("kind") == "data")
        .select(
            F.col("page_url"),
            F.col("data").getItem("content").alias("content"),
        )
    )


ORACLE_CONTENT_IDENTITY = LAYOUT_CTE + """
SELECT url AS page_url, text AS content FROM layout
"""


def q_content_identity_zlib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte identity THROUGH the compressed-payload path: pages zlib-
    compressed per page (the WARC/100 TB posture, CrawlConfig.page_codec),
    decoded inside the extraction kernel — extracted text must still equal
    documents.text byte-for-byte."""
    from .extract import EXTRACT_SCHEMA

    app = Scraper()

    @app.select(css="p.content")
    def content(element):
        return {"content": element.text_content()}

    def _compress(batches):
        import zlib

        for pdf in batches:
            pdf["html"] = [zlib.compress(bytes(h), 1) for h in pdf["html"]]
            yield pdf

    zpages = (
        pages_df(spark, sf_dir)
        .select("url", "html")
        .mapInPandas(_compress, "url string, html binary")
    )
    it = make_extract_iterator(app.compile(), codec="zlib")
    ext = zpages.mapInPandas(it, EXTRACT_SCHEMA)
    return ext.filter(F.col("kind") == "data").select(
        "page_url",
        F.col("data").getItem("content").alias("content"),
    )


def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    ext = _extract_once(spark, sf_dir, _extraction_scraper(), follow=True)
    return (
        ext.filter(F.col("kind") == "link")
        .select(
            "page_url",
            F.col("link_seq").cast("long").alias("link_seq"),
            F.col("link").alias("child_url"),
        )
    )


ORACLE_LINK_GRAPH = LAYOUT_CTE + """
, items AS (
  SELECT url AS page_url, (k - 1) AS link_seq,
         'https://host-' || host_id || '.test/item-' || doc_id || '-' || k || '.html' AS child_url
  FROM (SELECT *, unnest(generate_series(1, n_groups)) AS k FROM layout)
), kids AS (
  SELECT url AS page_url,
         n_groups + CASE WHEN c = 1 THEN 0
                         ELSE (CASE WHEN 2*local+1 < n_local THEN 1 ELSE 0 END) END AS link_seq,
         'https://host-' || host_id || '.test/page-' || (2*local + c) || '.html' AS child_url
  FROM (SELECT *, unnest([1, 2]) AS c FROM layout)
  WHERE 2*local + c < n_local
)
SELECT * FROM items UNION ALL SELECT * FROM kids
"""


def q_crawl_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multi-round crawl; trace filtered to real pages → (url, depth).

    Verifies the BFS frontier, link expansion, seen-set dedupe, and the
    robots gate in one closed-form-checkable result."""
    app = _extraction_scraper()
    pages = pages_df(spark, sf_dir).select("url", "html").cache()
    job = CrawlJob(
        spark, app, pages, robots=robots_df(spark),
        config=CrawlConfig(follow_urls=True, max_rounds=40, round_seconds=3600),
    )
    res = job.run(seeds())
    out = (
        res.trace.filter(F.col("url").rlike(r"/page-\d+\.html$"))
        .select("url", F.col("depth").cast("long").alias("depth"))
    )
    return out


# blocked subtree: local has ancestor-or-self 7 ⇔ binary repr of (local+1)
# starts with '1000' (=8): floor((local+1) / 2^(level-3)) = 8 for level ≥ 3
ORACLE_CRAWL_BFS = LAYOUT_CTE + """
SELECT url, CAST(floor(log2(local + 1)) AS BIGINT) AS depth
FROM layout
WHERE NOT (
  host_id % 4 = 0 AND host_id % 5 != 4
  AND floor(log2(local + 1)) >= 3
  AND floor((local + 1) / pow(2, floor(log2(local + 1)) - 3)) = 8
)
"""


def q_politeness_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-ranked per-host crawl-delay budgeting (P3) on a static
    frontier (every page pending, seq = doc_id, round budget 10 s)."""
    pages = pages_df(spark, sf_dir)
    frontier = pages.select(
        "url",
        F.format_string("host-%d.test", "host_id").alias("host"),
        F.floor(F.log2(F.col("local") + 1)).cast("int").alias("depth"),
        F.col("doc_id").alias("seq"),
    )
    gated = robots_gate(frontier, compile_robots(robots_df(spark)))
    ranked = budget_rank(gated, round_seconds=10, exact_ranks=True)
    return ranked.select(
        "url",
        F.col("host_rank").cast("long").alias("host_rank"),
        F.col("fetch_now"),
    )


ORACLE_POLITENESS = LAYOUT_CTE + """
, gated AS (
  SELECT url, host_id,
         CAST(floor(log2(local+1)) AS BIGINT) AS depth, doc_id AS seq,
         (CASE WHEN host_id % 5 = 4 THEN 0 ELSE host_id % 3 END) AS delay
  FROM layout
  WHERE NOT (host_id % 4 = 0 AND host_id % 5 != 4 AND local = 7)
), ranked AS (
  SELECT url,
         row_number() OVER (PARTITION BY host_id ORDER BY depth, seq) AS host_rank,
         CASE WHEN delay = 0 THEN 2147483648 ELSE greatest(1, 10 // delay) END AS budget
  FROM gated
)
SELECT url, host_rank, (host_rank <= budget) AS fetch_now FROM ranked
"""


def q_priority_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frontier priority queue (north_rule): within each host's
    politeness budget, higher-priority rows rank first (window order
    priority DESC, depth, seq); FIFO order preserved among equal
    priorities."""
    pages = pages_df(spark, sf_dir)
    frontier = pages.select(
        "url",
        F.format_string("host-%d.test", "host_id").alias("host"),
        F.floor(F.log2(F.col("local") + 1)).cast("int").alias("depth"),
        (F.col("doc_id") % 7).cast("int").alias("priority"),
        F.col("doc_id").alias("seq"),
    )
    gated = robots_gate(frontier, compile_robots(robots_df(spark)))
    ranked = budget_rank(gated, round_seconds=10, exact_ranks=True)
    return ranked.select(
        "url", F.col("host_rank").cast("long").alias("host_rank"), "fetch_now"
    )


ORACLE_PRIORITY_BUDGET = LAYOUT_CTE + """
, gated AS (
  SELECT url, host_id, (doc_id % 7) AS prio,
         CAST(floor(log2(local+1)) AS BIGINT) AS depth, doc_id AS seq,
         (CASE WHEN host_id % 5 = 4 THEN 0 ELSE host_id % 3 END) AS delay
  FROM layout
  WHERE NOT (host_id % 4 = 0 AND host_id % 5 != 4 AND local = 7)
), ranked AS (
  SELECT url,
         row_number() OVER (PARTITION BY host_id ORDER BY prio DESC, depth, seq) AS host_rank,
         CASE WHEN delay = 0 THEN 2147483648 ELSE greatest(1, 10 // delay) END AS budget
  FROM gated
)
SELECT url, host_rank, (host_rank <= budget) AS fetch_now FROM ranked
"""


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compiled robots dim gate (P2): per-host allowed page count."""
    pages = pages_df(spark, sf_dir)
    frontier = pages.select(
        "url", F.format_string("host-%d.test", "host_id").alias("host")
    )
    gated = robots_gate(frontier, compile_robots(robots_df(spark)))
    return (
        gated.groupBy("host")
        .agg(F.count("*").alias("n_allowed"), F.max("crawl_delay").cast("long").alias("crawl_delay"))
        .select("host", "n_allowed", "crawl_delay")
    )


ORACLE_ROBOTS_GATE = LAYOUT_CTE + """
SELECT 'host-' || host_id || '.test' AS host,
       count(*) FILTER (WHERE NOT (host_id % 4 = 0 AND host_id % 5 != 4 AND local = 7)) AS n_allowed,
       (CASE WHEN host_id % 5 = 4 THEN 0 ELSE host_id % 3 END) AS crawl_delay
FROM layout GROUP BY host_id
"""


def q_xpath_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: the XPath selector engine — ``.//p[@class='title']`` scoped to
    each ``.custom-group`` (reference lxml backend ``optional/
    lxml_scraper.py:184-185``); equality with the CSS path is the check."""
    app = Scraper()

    @app.group(css=".custom-group")
    @app.select(xpath=".//p[@class='title']")
    def title(element):
        return {"title": element.text_content()}

    ext = _extract_once(spark, sf_dir, app)
    return ext.filter(F.col("kind") == "data").select(
        "page_url",
        F.col("group_index").cast("long").alias("group_index"),
        F.col("data").getItem("title").alias("title"),
    )


ORACLE_XPATH_EXTRACT = LAYOUT_CTE + """
SELECT url AS page_url,
       (k - 1) AS group_index,
       'Title ' || doc_id || '-' || k AS title
FROM (SELECT *, unnest(generate_series(1, n_groups)) AS k FROM layout)
"""


def q_text_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: text-contains selector — lxml translation
    ``.//*[contains(text(), s)]`` over the FIRST direct text node
    (``lxml_scraper.py:186-188``). 'Description ' appears only in
    ``p.description`` first-text nodes (the synthetic document prose is
    lowercase), so the match set is closed-form."""
    app = Scraper()

    @app.select(text="Description ")
    def d(element):
        return {"d": element.text_content()}

    ext = _extract_once(spark, sf_dir, app)
    return ext.filter(F.col("kind") == "data").select(
        "page_url",
        F.col("element_index").cast("long").alias("element_index"),
        F.col("data").getItem("d").alias("d"),
    )


ORACLE_TEXT_SELECT = LAYOUT_CTE + """
SELECT url AS page_url,
       CASE WHEN k = 1 THEN 0 ELSE 1 END AS element_index,
       'Description ' || doc_id || '-' || k AS d
FROM (SELECT *, unnest([1, 3]) AS k FROM layout)
WHERE k <= n_groups
"""


def q_regex_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: regex selector — lxml translation ``re:test(text(), pat, 'i')``
    over the first direct text node, case-insensitive
    (``lxml_scraper.py:189-193``). Anchored pattern selects exactly the
    group-2 titles (present when n_groups >= 2)."""
    app = Scraper()

    @app.select(regex=r"^Title \d+-2$")
    def t2(element):
        return {"t2": element.text_content()}

    ext = _extract_once(spark, sf_dir, app)
    return ext.filter(F.col("kind") == "data").select(
        "page_url",
        F.col("data").getItem("t2").alias("t2"),
    )


ORACLE_REGEX_SELECT = LAYOUT_CTE + """
SELECT url AS page_url,
       'Title ' || doc_id || '-2' AS t2
FROM layout WHERE n_groups >= 2
"""



def q_flatten_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 later-wins merge: two same-group rules writing the same key —
    the higher-priority-value (later) rule's value must survive."""
    app = Scraper()

    @app.select(css=".title", group_css=".custom-group", priority=0)
    def first(element):
        return {"v": "p0", "t": element.text_content()}

    @app.select(css=".title", group_css=".custom-group", priority=1)
    def later(element):
        return {"v": "p1"}

    ext = _extract_once(spark, sf_dir, app)
    flat = flatten(ext, ordered=False)
    return flat.select(
        F.col("_page_url").alias("page_url"),
        F.col("_group_index").cast("long").alias("group_index"),
        F.col("data").getItem("v").alias("v"),
        F.col("data").getItem("t").alias("t"),
    )


ORACLE_FLATTEN_MERGE = LAYOUT_CTE + """
SELECT url AS page_url, (k - 1) AS group_index, 'p1' AS v,
       'Title ' || doc_id || '-' || k AS t
FROM (SELECT *, unnest(generate_series(1, n_groups)) AS k FROM layout)
"""


def q_pivot_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map→typed columns (A2/S8 semantics): description NULL where the
    group has none (k=2 mirrors dude.html's group 2)."""
    app = Scraper()

    @app.select(css=".title", group_css=".custom-group")
    def title(element):
        return {"title": element.text_content()}

    @app.select(css=".description", group_css=".custom-group")
    def desc(element):
        return {"description": element.text_content()}

    ext = _extract_once(spark, sf_dir, app)
    flat = flatten(ext, ordered=False)
    return flat.select(
        F.col("_page_url").alias("page_url"),
        F.col("_group_index").cast("long").alias("group_index"),
        F.col("data").getItem("title").alias("title"),
        F.col("data").getItem("description").alias("description"),
    )


ORACLE_PIVOT_EXTRACT = LAYOUT_CTE + """
SELECT url AS page_url, (k - 1) AS group_index,
       'Title ' || doc_id || '-' || k AS title,
       CASE WHEN k = 2 THEN NULL
            ELSE 'Description ' || doc_id || '-' || k END AS description
FROM (SELECT *, unnest(generate_series(1, n_groups)) AS k FROM layout)
"""


def q_frontier_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 seen-set semantics: duplicated candidate stream → anti-join vs the
    seed seen-set → distinct new URLs per host."""
    from .frontier import dedupe_candidates, seed_frontier, with_url_meta

    ext = _extract_once(spark, sf_dir, _extraction_scraper(), follow=True)
    links = ext.filter(F.col("kind") == "link").select(
        F.col("link").alias("url"),
        F.lit(1).alias("depth"),
        F.col("link_seq").cast("long").alias("seq"),
    )
    dup_stream = links.unionAll(links)  # simulate re-discovery
    cands = with_url_meta(dup_stream)
    seen = seed_frontier(spark, seeds()).select("url", "url_hash")
    deduped = dedupe_candidates(cands, seen)
    return (
        deduped.groupBy("host")
        .agg(F.count("*").alias("n_new"))
        .select("host", "n_new")
    )


# new urls per host = items (sum of n_groups) + real children (locals 1..n-1)
# ::BIGINT — DuckDB sum() over BIGINT yields HUGEINT, which pandas lands as
# float64 and the driver canon hashes differently from Spark's int64
ORACLE_FRONTIER_DEDUPE = LAYOUT_CTE + """
SELECT 'host-' || host_id || '.test' AS host,
       (sum(n_groups) + max(n_local) - 1)::BIGINT AS n_new
FROM layout GROUP BY host_id
"""


def q_css_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 widened CSS subset (parity target ``lxml.cssselect``,
    ``optional/lxml_scraper.py:182-183``): attribute operators
    (``^=``/``$=``), ``:nth-child``, and sibling combinators (``+``)."""
    app = Scraper()

    @app.select(css=".custom-group:nth-child(2) p.title")
    def nth(element):
        return {"t": "nth", "v": element.text_content()}

    @app.select(css='a[href^="item-"][href$=".html"]')
    def pref(element):
        return {"t": "pref", "v": element.get("href")}

    @app.select(css=".custom-group + .custom-group > a > p.title")
    def sib(element):
        return {"t": "sib", "v": element.text_content()}

    # :nth-last-child — body children end [..., next1?, next2?, self]: the
    # 2nd-from-last element child is a link div iff the page has children
    @app.select(css="body > div:nth-last-child(2) > a.next")
    def nlast(element):
        return {"t": "nlast", "v": element.text_content()}

    # CSS4 `[attr=v i]` case-insensitive flag: hrefs are lowercase item-*
    @app.select(css='a.url[href^="ITEM-" i] > p.title')
    def ciattr(element):
        return {"t": "ci", "v": element.text_content()}

    # :has(descendant) — groups carry p.description iff k != 2
    @app.select(css="div.custom-group:has(p.description) > a.url > p.title")
    def hasdesc(element):
        return {"t": "hasdesc", "v": element.text_content()}

    # :not(:has(> child)) composition — exactly group 2
    @app.select(css="div.custom-group:not(:has(> p.description)) p.title")
    def nodesc(element):
        return {"t": "nodesc", "v": element.text_content()}

    # :has(+ sibling) — the div element-adjacent before the a.self div is
    # the LAST next-link div (Next 2 if present, else Next 1); leaf pages
    # have a <p> there instead, so no match
    @app.select(css="div:has(+ div > a.self) > a.next")
    def presib(element):
        return {"t": "presib", "v": element.text_content()}

    # :is(list) — any-of over simple selectors
    @app.select(css="p:is(.title, .description)")
    def isany(element):
        return {"t": "isany", "v": element.text_content()}

    # :where(complex) — document-wide complex selector argument
    @app.select(css="p:where(div.custom-group + div.custom-group > a > p)")
    def wherechain(element):
        return {"t": "wherechain", "v": element.text_content()}

    # CSS4 `:nth-child(An+B of S)` (r5): index counted among siblings
    # matching S — odd-position groups, regardless of interleaved siblings
    @app.select(css="div:nth-child(2n+1 of .custom-group) > a > p.title")
    def nthof(element):
        return {"t": "nthof", "v": element.text_content()}

    # `:nth-last-child(1 of S)` — the LAST group per page
    @app.select(css="div:nth-last-child(1 of .custom-group) > a > p.title")
    def nlastof(element):
        return {"t": "nlastof", "v": element.text_content()}

    # :lang() (r5) — inherited from the <html lang="..."> root attribute
    @app.select(css="p.content:lang(en)")
    def lang_en(element):
        return {"t": "lang_en", "v": element.text_content()}

    # CSS4 comma-list form
    @app.select(css="p.content:lang(fr, es)")
    def lang_fr_es(element):
        return {"t": "lang_fr_es", "v": element.text_content()}

    ext = _extract_once(spark, sf_dir, app)
    return ext.filter(F.col("kind") == "data").select(
        "page_url",
        F.col("data").getItem("t").alias("t"),
        F.col("data").getItem("v").alias("v"),
    )


ORACLE_CSS_ADVANCED = LAYOUT_CTE + """
, ks AS (SELECT *, unnest(generate_series(1, n_groups)) AS k FROM layout)
SELECT url AS page_url, 'nth' AS t, 'Title ' || doc_id || '-2' AS v
FROM layout WHERE n_groups >= 2
UNION ALL
SELECT url, 'pref', 'item-' || doc_id || '-' || k || '.html' FROM ks
UNION ALL
SELECT url, 'sib', 'Title ' || doc_id || '-' || k AS v FROM ks WHERE k >= 2
UNION ALL
SELECT url, 'nlast', CASE WHEN 2 * local + 2 < n_local THEN 'Next 2'
                          ELSE 'Next 1' END
FROM layout WHERE 2 * local + 1 < n_local
UNION ALL
SELECT url, 'ci', 'Title ' || doc_id || '-' || k FROM ks
UNION ALL
SELECT url, 'hasdesc', 'Title ' || doc_id || '-' || k FROM ks WHERE k != 2
UNION ALL
SELECT url, 'nodesc', 'Title ' || doc_id || '-2' FROM layout WHERE n_groups >= 2
UNION ALL
SELECT url, 'presib', CASE WHEN 2 * local + 2 < n_local THEN 'Next 2'
                           ELSE 'Next 1' END
FROM layout WHERE 2 * local + 1 < n_local
UNION ALL
SELECT url, 'isany', 'Title ' || doc_id || '-' || k FROM ks
UNION ALL
SELECT url, 'isany', 'Description ' || doc_id || '-' || k FROM ks WHERE k != 2
UNION ALL
SELECT url, 'wherechain', 'Title ' || doc_id || '-' || k FROM ks WHERE k >= 2
UNION ALL
SELECT url, 'nthof', 'Title ' || doc_id || '-' || k FROM ks WHERE k % 2 = 1
UNION ALL
SELECT url, 'nlastof', 'Title ' || doc_id || '-' || n_groups FROM layout
UNION ALL
SELECT url, 'lang_en', text FROM layout WHERE lang = 'en'
UNION ALL
SELECT url, 'lang_fr_es', text FROM layout WHERE lang IN ('fr', 'es')
"""


def q_xpath_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 widened XPath subset (parity target ``tree.xpath``,
    ``lxml_scraper.py:184-185``): sequential predicates with
    ``position()``/``and``/``not()``/``starts-with``, the ``..`` step, and
    ``following-sibling::`` with a positional predicate."""
    app = Scraper()

    @app.select(xpath=".//div[@class='custom-group'][position()>1]//p[starts-with(text(),'Title') and not(contains(text(),'-1'))]")
    def pos(element):
        return {"t": "pos", "v": element.text_content()}

    @app.select(xpath=".//p[@class='title']/../following-sibling::p[1]")
    def desc(element):
        return {"t": "desc", "v": element.text_content()}

    @app.select(xpath=".//a[starts-with(@href,'page-') and not(@class='self')]")
    def nxt(element):
        return {"t": "next", "v": element.text_content()}

    # ancestor:: (reverse axis, [1] = nearest): climb from each description
    # to its owning group div, then down to that group's title
    @app.select(xpath=".//p[@class='description']/ancestor::div[1]/a/p")
    def anc(element):
        return {"t": "anc", "v": element.text_content()}

    # '|' union (document order, deduped) + normalize-space() predicates
    @app.select(xpath=".//a[starts-with(normalize-space(text()),'Next')]"
                      " | .//a[normalize-space(.)='Self']")
    def uni(element):
        return {"t": "uni", "v": element.text_content()}

    # arithmetic in positional predicates (XPath 1.0 doubles): second-from-
    # last group, and odd-position groups — both applied AFTER the @class
    # filter (sequential predicates re-rank per parent, lxml parity)
    @app.select(xpath=".//div[@class='custom-group'][last() - 1]/a/p")
    def arith(element):
        return {"t": "arith", "v": element.text_content()}

    @app.select(xpath=".//div[@class='custom-group'][position() mod 2 = 1]/a/p")
    def modp(element):
        return {"t": "modp", "v": element.text_content()}

    # r4 function tail (VERDICT r3 #7): count() node-set function —
    # groups with a description have 2 descendant <p>, group 2 has 1
    @app.select(xpath=".//div[@class='custom-group'][count(.//p) = 2]/a/p")
    def cnt(element):
        return {"t": "cnt", "v": element.text_content()}

    # string-length(): single-digit child pages only (page-N.html = 11)
    @app.select(xpath=".//a[@class='next'][string-length(@href) = 11]")
    def slen(element):
        return {"t": "slen", "v": element.text_content()}

    # substring(): page-links that are NOT next-links → the self link
    @app.select(xpath=".//a[substring(@href, 1, 5) = 'page-' and"
                      " substring(@class, 1, 4) != 'next']")
    def sub(element):
        return {"t": "sub", "v": element.text_content()}

    # name()/local-name() (r4): wildcard step narrowed by node name —
    # the group's <a> child via name(), its <p> children via local-name()
    @app.select(xpath=".//div[@class='custom-group']/*[name() = 'a']"
                      "/*[local-name() != 'span']")
    def nam(element):
        return {"t": "nam", "v": element.text_content()}

    # string() of a node-set (r5, XPath 1.0 §4.2: FIRST node's string
    # value; empty node-set → ''): groups with a direct <p> child (the
    # description, absent for k=2) — string(p) != '' selects them
    @app.select(xpath=".//div[@class='custom-group'][string(p) != '']/a/p")
    def strne(element):
        return {"t": "strne", "v": element.text_content()}

    # string(@attr) in comparison position — next-links by class equality
    @app.select(xpath=".//a[starts-with(string(@class), 'nex')]")
    def strattr(element):
        return {"t": "strattr", "v": element.text_content()}

    # location-path existence predicates (r5): child-path with a nested
    # predicate — groups carrying a description (k != 2) ...
    @app.select(xpath=".//div[@class='custom-group']"
                      "[p[@class='description']]/a/p")
    def pathp(element):
        return {"t": "pathp", "v": element.text_content()}

    # ... and abbreviated `//` INSIDE the predicate under not() — the
    # description-less group (k = 2)
    @app.select(xpath=".//div[@class='custom-group']"
                      "[not(.//p[@class='description'])]/a/p")
    def pathd(element):
        return {"t": "pathd", "v": element.text_content()}

    # r5 string-expression tail (_str_of grammar): the canonical
    # concat class-match idiom — whole-word 'title' in @class
    @app.select(xpath=".//p[contains(concat(' ', @class, ' '), ' title ')]")
    def conc(element):
        return {"t": "conc", "v": element.text_content()}

    # translate(): upcase a prefix of the class before comparing
    @app.select(xpath=".//p[translate(substring(@class, 1, 4),"
                      " 'desc', 'DESC') = 'DESC']")
    def tran(element):
        return {"t": "tran", "v": element.text_content()}

    # substring-before / substring-after over attributes
    @app.select(xpath=".//a[substring-before(@href, '-') = 'item']/p")
    def sbef(element):
        return {"t": "sbef", "v": element.text_content()}

    @app.select(xpath=".//a[substring-after(@class, 'sel') = 'f']")
    def saft(element):
        return {"t": "saft", "v": element.text_content()}

    # number() through nested string functions: next-links whose TARGET
    # page number is odd (page-{2*local+1}.html, i.e. the 'Next 1' child)
    @app.select(xpath=".//a[@class='next'][number(substring-before("
                      "substring-after(@href, 'page-'), '.html')) mod 2 = 1]")
    def numo(element):
        return {"t": "numo", "v": element.text_content()}

    # boolean(): node-set form — groups WITHOUT a direct <p> child
    # (the description-less group 2), the boolean() twin of pathd
    @app.select(xpath=".//div[@class='custom-group'][not(boolean(p))]/a/p")
    def boolg(element):
        return {"t": "boolg", "v": element.text_content()}

    # existential @a = @b / != (XPath 1.0 §3.4): every <a> carries both
    # @class and @href and they never coincide — but elements missing
    # either attribute must NOT match (!= over an empty node-set is false)
    @app.select(xpath=".//a[@class != @href]")
    def attrne(element):
        return {"t": "attrne", "v": element.text_content()}

    ext = _extract_once(spark, sf_dir, app)
    return ext.filter(F.col("kind") == "data").select(
        "page_url",
        F.col("data").getItem("t").alias("t"),
        F.col("data").getItem("v").alias("v"),
    )


ORACLE_XPATH_ADVANCED = LAYOUT_CTE + """
, ks AS (SELECT *, unnest(generate_series(1, n_groups)) AS k FROM layout)
SELECT url AS page_url, 'pos' AS t, 'Title ' || doc_id || '-' || k AS v
FROM ks WHERE k >= 2
UNION ALL
SELECT url, 'desc', 'Description ' || doc_id || '-' || k
FROM ks WHERE k IN (1, 3)
UNION ALL
SELECT url, 'next', 'Next ' || c
FROM (SELECT *, unnest(generate_series(1, 2)) AS c FROM layout)
WHERE 2 * local + c < n_local
UNION ALL
SELECT url, 'anc', 'Title ' || doc_id || '-' || k
FROM ks WHERE k != 2
UNION ALL
SELECT url, 'uni', 'Next ' || c
FROM (SELECT *, unnest(generate_series(1, 2)) AS c FROM layout)
WHERE 2 * local + c < n_local
UNION ALL
SELECT url, 'uni', 'Self' FROM layout
UNION ALL
SELECT url, 'arith', 'Title ' || doc_id || '-' || (n_groups - 1)
FROM layout WHERE n_groups >= 2
UNION ALL
SELECT url, 'modp', 'Title ' || doc_id || '-' || k
FROM ks WHERE k % 2 = 1
UNION ALL
SELECT url, 'cnt', 'Title ' || doc_id || '-' || k
FROM ks WHERE k != 2
UNION ALL
SELECT url, 'slen', 'Next ' || c
FROM (SELECT *, unnest(generate_series(1, 2)) AS c FROM layout)
WHERE 2 * local + c < n_local AND length('page-' || (2 * local + c) || '.html') = 11
UNION ALL
SELECT url, 'sub', 'Self' FROM layout
UNION ALL
SELECT url, 'nam', 'Title ' || doc_id || '-' || k FROM ks
UNION ALL
SELECT url, 'strne', 'Title ' || doc_id || '-' || k FROM ks WHERE k != 2
UNION ALL
SELECT url, 'strattr', 'Next ' || c
FROM (SELECT *, unnest(generate_series(1, 2)) AS c FROM layout)
WHERE 2 * local + c < n_local
UNION ALL
SELECT url, 'pathp', 'Title ' || doc_id || '-' || k FROM ks WHERE k != 2
UNION ALL
SELECT url, 'pathd', 'Title ' || doc_id || '-2' FROM layout WHERE n_groups >= 2
UNION ALL
SELECT url, 'conc', 'Title ' || doc_id || '-' || k FROM ks
UNION ALL
SELECT url, 'tran', 'Description ' || doc_id || '-' || k FROM ks WHERE k != 2
UNION ALL
SELECT url, 'sbef', 'Title ' || doc_id || '-' || k FROM ks
UNION ALL
SELECT url, 'saft', 'Self' FROM layout
UNION ALL
SELECT url, 'numo', 'Next 1' FROM layout WHERE 2 * local + 1 < n_local
UNION ALL
SELECT url, 'boolg', 'Title ' || doc_id || '-2' FROM layout WHERE n_groups >= 2
UNION ALL
SELECT url, 'attrne', 'Title ' || doc_id || '-' || k FROM ks
UNION ALL
SELECT url, 'attrne', 'Next ' || c
FROM (SELECT *, unnest(generate_series(1, 2)) AS c FROM layout)
WHERE 2 * local + c < n_local
UNION ALL
SELECT url, 'attrne', 'Self' FROM layout
"""


# ---------------------------------------------------------------------------
# A2. §2 operator coverage: generator fan-out, navigate/pages loop,
# start_requests, follow_url, sinks, output order, adblock, setup rules
# ---------------------------------------------------------------------------

def q_generator_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 generator fan-out (``base.py:541-551``, golden
    ``tests/conftest.py:138-169``): a generator handler yields many rows per
    element with re-numbered element_index."""
    app = Scraper()

    @app.group(css=".custom-group")
    @app.select(css=".title")
    def multi(element):
        yield {"t": element.text_content(), "part": "base"}
        yield {"t": element.text_content() + "!", "part": "bang"}

    ext = _extract_once(spark, sf_dir, app)
    return ext.filter(F.col("kind") == "data").select(
        "page_url",
        F.col("group_index").cast("long").alias("group_index"),
        F.col("element_index").cast("long").alias("element_index"),
        F.col("data").getItem("part").alias("part"),
        F.col("data").getItem("t").alias("t"),
    )


ORACLE_GENERATOR_FANOUT = LAYOUT_CTE + """
SELECT url AS page_url, (k - 1) AS group_index, i AS element_index,
       CASE WHEN i = 0 THEN 'base' ELSE 'bang' END AS part,
       'Title ' || doc_id || '-' || k || (CASE WHEN i = 1 THEN '!' ELSE '' END) AS t
FROM (SELECT *, unnest(generate_series(1, n_groups)) AS k FROM layout),
     (SELECT unnest(generate_series(0, 1)) AS i)
"""


def q_pages_navigate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 pages loop + E9 navigate handler + O3 page cap + O4 first-match
    (``playwright_scraper.py:190-199`` stop conditions): seeds re-extracted
    up to pages=3 times, following the FIRST ``a.next`` each time
    (page-0 → page-1 → page-3 in the corpus's binary link tree)."""
    app = Scraper()

    @app.group(css=".custom-group")
    @app.select(css=".title")
    def title(element):
        return {"title": element.text_content()}

    @app.select(css="a.next", navigate=True)
    def nav(element):
        return element.get("href")

    pages = pages_df(spark, sf_dir).select("url", "html")
    job = CrawlJob(
        spark, app, pages, robots=robots_df(spark),
        config=CrawlConfig(
            follow_urls=False, pages=3, max_rounds=1, round_seconds=3600
        ),
    )
    res = job.run(seeds())
    return res.results.filter(F.col("kind") == "data").select(
        "page_url",
        F.col("page_number").cast("long").alias("page_number"),
        F.col("group_index").cast("long").alias("group_index"),
        F.col("data").getItem("title").alias("title"),
    )


ORACLE_PAGES_NAVIGATE = LAYOUT_CTE + """
SELECT url AS page_url,
       (CASE local WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 3 END)::BIGINT AS page_number,
       (k - 1) AS group_index,
       'Title ' || doc_id || '-' || k AS title
FROM (SELECT *, unnest(generate_series(1, n_groups)) AS k FROM layout)
WHERE local IN (0, 1, 3)
"""


def q_start_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 ``@start_requests`` (``base.py:340-353``): request seeds drain
    AFTER the plain URL frontier (``optional/utils.py:48-66``) and carry
    their method."""
    from .api import SeedRequest

    app = Scraper()

    @app.select(css="p.content")
    def content(element):
        return {"c": "1"}

    @app.start_requests()
    def reqs():
        yield SeedRequest(url="https://host-2.test/page-0.html", method="POST")

    pages = pages_df(spark, sf_dir).select("url", "html")
    job = CrawlJob(
        spark, app, pages, robots=robots_df(spark),
        config=CrawlConfig(follow_urls=False, max_rounds=1, round_seconds=3600),
    )
    res = job.run(seeds()[:2])
    return res.trace.select(
        "url", F.col("seq").cast("long").alias("seq"), "method"
    )


ORACLE_START_REQUESTS = """
SELECT 'https://host-0.test/page-0.html' AS url, 0::BIGINT AS seq, 'GET' AS method
UNION ALL
SELECT 'https://host-1.test/page-0.html', 1, 'GET'
UNION ALL
SELECT 'https://host-2.test/page-0.html', 2, 'POST'
"""


def q_follow_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 ``follow_url()`` (``base.py:358-359``, fixture
    ``tests/test_bs4.py:153-168``): handler-driven frontier appends flow even
    with follow_urls=False; appended URLs are fetched in handler-emit order
    (item pages have no content — attempted like the reference's 404s)."""
    app = Scraper()

    @app.select(css="a.url", group_css=".custom-group")
    def item(element):
        return {"item_href": element.get("href"), "__follow__": element.get("href")}

    pages = pages_df(spark, sf_dir).select("url", "html")
    job = CrawlJob(
        spark, app, pages, robots=robots_df(spark),
        config=CrawlConfig(follow_urls=False, max_rounds=3, round_seconds=3600),
    )
    res = job.run(seeds())
    return res.trace.select(
        "url",
        F.col("depth").cast("long").alias("depth"),
        F.col("seq").cast("long").alias("seq"),
    )


ORACLE_FOLLOW_URL = LAYOUT_CTE + """
, seed_rows AS (
  SELECT url, 0::BIGINT AS depth, host_id::BIGINT AS seq
  FROM layout WHERE local = 0
), roots AS (
  SELECT host_id, n_groups,
         20 + coalesce(sum(n_groups) OVER (ORDER BY host_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
  FROM layout WHERE local = 0
), items AS (
  SELECT 'https://host-' || host_id || '.test/item-' || host_id || '-' || k || '.html' AS url,
         1::BIGINT AS depth, (base + k - 1)::BIGINT AS seq
  FROM (SELECT *, unnest(generate_series(1, n_groups)) AS k FROM roots)
)
SELECT * FROM seed_rows UNION ALL SELECT * FROM items
"""


def q_sink_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 JSON sink round-trip (``storage.py:8-30``): flatten → dispatch_save
    (with extension override S10, ``base.py:626-627``: format='csv' but
    .json output wins) → parse the file back. Single-file sinks are
    driver-side by design (reference writes one file; the distributed path
    is save_distributed)."""
    import json as _json
    import os
    import tempfile

    from .sinks import dispatch_save

    ext = _extract_once(spark, sf_dir, _extraction_scraper())
    flat = flatten(ext, ordered=True)
    with tempfile.TemporaryDirectory() as td:
        out = os.path.join(td, "out.json")
        dispatch_save(flat, format="csv", output=out)  # .json extension wins
        with open(out) as f:
            rows = _json.load(f)
    data = [
        (r["_page_url"], int(r["_group_index"]), r.get("title"), r.get("item_href"))
        for r in rows
    ]
    return spark.createDataFrame(
        data, "page_url string, group_index long, title string, item_href string"
    )


ORACLE_SINK_ROUNDTRIP = LAYOUT_CTE + """
SELECT url AS page_url, (k - 1) AS group_index,
       'Title ' || doc_id || '-' || k AS title,
       'item-' || doc_id || '-' || k || '.html' AS item_href
FROM (SELECT *, unnest(generate_series(1, n_groups)) AS k FROM layout)
"""


def q_sink_yaml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 YAML sink round-trip (``storage.py:52-67``)."""
    import os
    import tempfile

    import yaml

    from .sinks import dispatch_save

    ext = _extract_once(spark, sf_dir, _extraction_scraper())
    flat = flatten(ext, ordered=True)
    with tempfile.TemporaryDirectory() as td:
        out = os.path.join(td, "out.yml")
        dispatch_save(flat, format="yaml", output=out)
        with open(out) as f:
            rows = yaml.safe_load(f)
    data = [
        (r["_page_url"], int(r["_group_index"]), r.get("title"), r.get("item_href"))
        for r in rows
    ]
    return spark.createDataFrame(
        data, "page_url string, group_index long, title string, item_href string"
    )


def q_sink_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 custom-sink registry semantics as data (``base.py:624-666``):
    extension override, custom rules shadowing built-ins per
    (format, is_per_page) key, KeyError on unknown key
    (``tests/test_playwright_sync.py:269-273``)."""
    from .sinks import resolve_sink

    def my_custom(data, output):
        return True

    rules = {("custom", False): my_custom, ("json", True): my_custom}
    cases = [
        ("json", None, False),
        ("csv", None, False),
        ("yaml", None, False),
        ("json", "/tmp/out.csv", False),  # extension overrides format
        ("custom", None, False),          # custom rule
        ("json", None, True),             # custom shadows builtin (json, per_page)
        ("nope", None, False),            # unknown → KeyError
        ("custom", None, True),           # registered only for per_page=False
    ]
    rows = []
    for fmt, out, per_page in cases:
        rf, hn = resolve_sink(fmt, out, per_page, rules)
        rows.append((fmt, out or "", "Y" if per_page else "N", rf, hn))
    return spark.createDataFrame(
        rows,
        "fmt string, output string, per_page string, resolved_format string, handler string",
    )


ORACLE_SINK_DISPATCH = """
SELECT * FROM (VALUES
  ('json', '', 'N', 'json', 'save_json'),
  ('csv', '', 'N', 'csv', 'save_csv'),
  ('yaml', '', 'N', 'yaml', 'save_yaml'),
  ('json', '/tmp/out.csv', 'N', 'csv', 'save_csv'),
  ('custom', '', 'N', 'custom', 'my_custom'),
  ('json', '', 'Y', 'json', 'my_custom'),
  ('nope', '', 'N', 'nope', 'KeyError'),
  ('custom', '', 'Y', 'custom', 'KeyError')
) AS t(fmt, output, per_page, resolved_format, handler)
"""


def q_save_per_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 save-per-page (``base.py:125-139``): per-round micro-batches are
    disjoint and union to the full output — one flattened-row count per
    crawl round (round = BFS depth on this corpus)."""
    app = _extraction_scraper()
    pages = pages_df(spark, sf_dir).select("url", "html")
    job = CrawlJob(
        spark, app, pages, robots=robots_df(spark),
        config=CrawlConfig(follow_urls=True, max_rounds=40, round_seconds=3600),
    )
    res = job.run(seeds())
    return (
        res.results
        .select("round", "page_url", "page_number", "group_index", "group_id", "element_index")
        .distinct()
        .groupBy("round")
        .agg(F.count("*").alias("n_rows"))
        .select(F.col("round").cast("long").alias("round"), F.col("n_rows").cast("long").alias("n_rows"))
    )


ORACLE_SAVE_PER_PAGE = LAYOUT_CTE + """
SELECT CAST(floor(log2(local + 1)) AS BIGINT) AS round, sum(n_groups)::BIGINT AS n_rows
FROM layout
WHERE NOT (
  host_id % 4 = 0 AND host_id % 5 != 4
  AND floor(log2(local + 1)) >= 3
  AND floor((local + 1) / pow(2, floor(log2(local + 1)) - 3)) = 8
)
GROUP BY 1
"""


def q_output_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 output total order (``scraped_data.py:14-15``: sort by page_number,
    group_index, group_id, element_index; page_url as the deterministic
    tie-break) — also pins the deterministic group_id formula
    (group-selector ordinal × 1e6 + DOM node order). The global window is
    oracle-check-only; production exports sort within partitions."""
    app = Scraper()

    @app.group(css=".custom-group")
    @app.select(css=".title")
    def title(element):
        return {"title": element.text_content()}

    from pyspark.sql import Window

    ext = _extract_once(spark, sf_dir, app)
    flat = flatten(ext, ordered=False)
    w = Window.orderBy(
        "_page_number", "_group_index", "_group_id", "_element_index", "_page_url"
    )
    return flat.withColumn("rank", F.row_number().over(w)).select(
        F.col("rank").cast("long").alias("rank"),
        F.col("_page_url").alias("page_url"),
        F.col("_group_id").cast("long").alias("group_id"),
        F.col("data").getItem("title").alias("title"),
    )


# group k's <div> DOM node order in the corpus page: #document,html,head,
# meta,title,body = 0..5; then per group div,a,p.title[,p.description] →
# k=1 div at 6 (4 nodes, has description), k=2 at 10 (3 nodes, none),
# k=3 at 13
ORACLE_OUTPUT_ORDER = LAYOUT_CTE + """
, r AS (
  SELECT url, k, (CASE k WHEN 1 THEN 6 WHEN 2 THEN 10 ELSE 13 END)::BIGINT AS group_id,
         'Title ' || doc_id || '-' || k AS title
  FROM (SELECT *, unnest(generate_series(1, n_groups)) AS k FROM layout)
)
SELECT row_number() OVER (ORDER BY k, url)::BIGINT AS rank,
       url AS page_url, group_id, title
FROM r
"""


def q_adblock_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 adblock URL filter (``optional/utils.py:31-46``): ``||domain^``
    host anchor (incl. subdomains), ``/regex/`` rules, substring rules, an
    ``@@`` exception, and r4's context options against a referring-page
    column — ``$third-party`` (registrable-domain compare vs source_url),
    ``$domain=`` (source-host restriction) — all JVM-side expressions.

    Synthesized referrers: even-numbered pages are linked first-party
    (source = themselves), odd ones third-party (source = next host). So
    the ``$third-party`` rule blocks only host-5's odd pages, the
    ``$domain=host-7.test`` rule blocks only host-6's page-3 (its referrer
    is host-7), and a ``$third-party`` rule on even pages blocks nothing.

    Multi-label-suffix leg (VERDICT r4 #6): host-9's pages move to
    ``shop.host-9.co.uk``, referred from ``www.host-9.co.uk`` (even pages)
    or ``www.host-10.co.uk`` (odd). Under the PSL, registrable(source)
    is host-9.co.uk vs host-10.co.uk — odd pages are third-party and the
    ``||host-9.co.uk^$third-party`` rule blocks them; a last-two-labels
    approximation sees co.uk == co.uk (first-party) and blocks NOTHING, so
    this row discriminates PSL-correct ``$third-party`` (psl.py)."""
    from .politeness import adblock_filter

    pages = pages_df(spark, sf_dir)
    on_couk = F.col("host_id") == 9
    url = F.when(
        on_couk,
        F.format_string(
            "https://shop.host-9.co.uk/page-%d.html", F.col("local").cast("int")
        ),
    ).otherwise(F.col("url"))
    frontier = pages.select(
        url.alias("url"),
        F.when(
            on_couk,
            F.when(
                F.col("local") % 2 == 0,
                F.lit("https://www.host-9.co.uk/index.html"),
            ).otherwise(F.lit("https://www.host-10.co.uk/index.html")),
        )
        .when(F.col("local") % 2 == 0, F.col("url"))
        .otherwise(
            F.format_string(
                "https://host-%d.test/page-%d.html",
                ((F.col("host_id") + 1) % 20).cast("int"),
                F.col("local").cast("int"),
            )
        )
        .alias("source_url"),
    )
    rules = [
        "||host-3.test^",
        "page-1.html",
        r"/page-2[0-9]\.html$/",
        r"@@/host-3\.test/page-0/",  # exception: host-3's root page survives
        "||host-5.test^$third-party",     # odd (third-party-referred) pages only
        "||host-9.co.uk^$third-party",    # PSL leg: odd pages of the co.uk host
        "page-3.html$domain=host-7.test",  # only when referred FROM host-7
        "page-6.html$third-party",        # even page: first-party → never blocks
    ]
    return adblock_filter(frontier, rules, source_col="source_url").select("url")


ORACLE_ADBLOCK = LAYOUT_CTE + """
, fr AS (
  SELECT CASE WHEN host_id = 9
              THEN 'https://shop.host-9.co.uk/page-' || local || '.html'
              ELSE url END AS url,
         host_id, local
  FROM layout
)
SELECT url FROM fr
WHERE NOT (
  (host_id = 3
   OR regexp_matches(url, 'page\\-1\\.html')
   OR regexp_matches(url, 'page-2[0-9]\\.html$')
   OR (host_id = 5 AND local % 2 = 1)
   OR (host_id = 9 AND local % 2 = 1)
   OR (host_id = 6 AND local = 3))
  AND NOT regexp_matches(url, 'host-3\\.test/page-0')
)
"""


def q_setup_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 setup handler (``base.py:147``, ``playwright_scraper.py:71-101``):
    runs per matched element BEFORE scraping and mutates the DOM; the scrape
    rules then see the mutated tree."""
    app = Scraper()

    @app.select(css=".title", setup=True)
    def mark(element):
        element.children[0] = "S:" + element.first_text()

    @app.group(css=".custom-group")
    @app.select(css=".title")
    def title(element):
        return {"title": element.text_content()}

    ext = _extract_once(spark, sf_dir, app)
    return ext.filter(F.col("kind") == "data").select(
        "page_url",
        F.col("group_index").cast("long").alias("group_index"),
        F.col("data").getItem("title").alias("title"),
    )


ORACLE_SETUP_RULE = LAYOUT_CTE + """
SELECT url AS page_url, (k - 1) AS group_index,
       'S:Title ' || doc_id || '-' || k AS title
FROM (SELECT *, unnest(generate_series(1, n_groups)) AS k FROM layout)
"""


# ---------------------------------------------------------------------------
# B. training-data pipeline queries (documents / embeddings / events)
# ---------------------------------------------------------------------------

def _docs_with_copies(spark, sf_dir, modulus: int = 5):
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % modulus == 0)
    copies = d.withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
    return d.unionByName(copies)


DOCS_COPIES_CTE = """
WITH docs2 AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 10000000, text, lang, source, n_chars FROM documents WHERE doc_id % 5 = 0
)
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(_docs_with_copies(spark, sf_dir)).select(
        "content_hash", F.col("n_docs").cast("long").alias("n_docs"),
        F.col("keep_doc_id").cast("long").alias("keep_doc_id"),
    )


ORACLE_DEDUP_EXACT = DOCS_COPIES_CTE + """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
       count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM docs2 GROUP BY 1 HAVING count(*) > 1
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_lsh_pairs(_docs_with_copies(spark, sf_dir, modulus=20), k=8, bands=2)
    return pairs.filter(F.col("n_bands_matched") >= 2).select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("n_bands_matched").cast("long").alias("n_bands_matched"),
    )


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature VALUES (textops/dedup.py minhash_signature): one
    portable hash per distinct shingle, k=8 seeded permutations. The LSH
    queries only compare pair-sets, which exact copies reproduce whatever
    the hash; this pins every signature value against DuckDB."""
    sig = minhash_signature(_docs_with_copies(spark, sf_dir, modulus=1), k=8)
    return sig.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat_ws(",", F.col("sig").cast("array<string>")).alias("sig"),
    )


def _oracle_minhash_signature(k: int = 8) -> str:
    sig = ", ".join(f"h{i}" for i in range(k))
    return _minhash_ctes(k, bands=1, modulus=1) + (
        f"SELECT doc_id, concat_ws(',', {sig}) AS sig FROM sigs"
    )


def _minhash_ctes(k: int, bands: int, modulus: int) -> str:
    """Shared DuckDB CTE chain: docs2 (with shifted copies) → sh (distinct
    word shingles) → sigs (one portable hash per shingle, then k min-hashes
    over the seeded permutations) → banded (LSH band keys; a doc without
    shingles has NULL keys and never joins)."""
    rows = k // bands
    hashes = ", ".join(
        f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {MINHASH_PRIME})) AS h{i}"
        for i, (a, b) in enumerate(minhash_permutations(k))
    )
    band_keys = []
    for b in range(bands):
        parts = " || '_' || ".join(f"h{b * rows + j}" for j in range(rows))
        band_keys.append(f"SELECT doc_id, {b} AS band, ({parts}) AS key FROM sigs")
    return (
        "WITH docs2 AS (\n"
        f"  SELECT doc_id, text FROM documents WHERE doc_id % {modulus} = 0\n"
        "  UNION ALL\n"
        f"  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % {modulus} = 0\n"
        "), sh AS (\n"
        "  SELECT doc_id, list_distinct(list_transform(\n"
        "    generate_series(1, greatest(len(t) - 2, 0)),\n"
        "    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh\n"
        "  FROM (SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t FROM docs2)\n"
        f"), sigs AS (SELECT doc_id, {hashes}\n"
        f"  FROM (SELECT doc_id, list_transform(sh, s -> {duckdb_hash32('s')}) AS hs FROM sh))\n"
        ", banded AS (" + " UNION ALL ".join(band_keys) + ")\n"
    )


def _oracle_minhash(k: int = 8, bands: int = 2) -> str:
    return _minhash_ctes(k, bands, modulus=20) + (
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands_matched\n"
        "FROM banded a JOIN banded b USING (band, key)\n"
        "WHERE a.doc_id < b.doc_id\n"
        "GROUP BY 1, 2 HAVING count(*) >= 2"
    )


def _oracle_lsh_jaccard(k: int = 8, bands: int = 2, threshold: float = 0.8) -> str:
    """LSH candidates → exact Jaccard verify, all in one SQL chain."""
    return _minhash_ctes(k, bands, modulus=5) + f"""
, cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b USING (band, key)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
), exsh AS (SELECT doc_id, unnest(sh) AS s FROM sh),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
inter AS (
  SELECT doc_a, doc_b, count(*) AS inter
  FROM cand
  JOIN exsh a ON a.doc_id = doc_a
  JOIN exsh b ON b.doc_id = doc_b AND b.s = a.s
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= {threshold}
"""


def q_dedup_lsh_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chained near-dup pipeline at its 100 TB shape: banded MinHash-LSH
    proposes candidate pairs, exact n-gram Jaccard verifies ONLY those pairs
    (shingles exploded for candidate docs alone — no corpus-wide
    shingle join)."""
    d = _docs_with_copies(spark, sf_dir, modulus=5)
    cand = minhash_lsh_pairs(d, k=8, bands=2)
    verified = ngram_jaccard_pairs(d, threshold=0.8, candidates=cand)
    return verified.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("inter").cast("long").alias("inter"),
        "jaccard",
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    return simhash(d).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("simhash").cast("long").alias("simhash"),
    )


def _oracle_simhash(bits: int = 32) -> str:
    csum = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE 0 END) AS c{b}"
        for b in range(bits)
    )
    simexpr = " + ".join(
        f"(CASE WHEN c{b} * 2 > n THEN {2**b}::BIGINT ELSE 0 END)" for b in range(bits)
    )
    return (
        "WITH toks AS (\n"
        "  SELECT doc_id, unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok\n"
        "  FROM documents WHERE doc_id < 500\n"
        "), hashed AS (SELECT doc_id, "
        + duckdb_hash32("tok")
        + " AS h FROM toks)\n"
        f", agg AS (SELECT doc_id, count(*) AS n, {csum} FROM hashed GROUP BY doc_id)\n"
        f"SELECT doc_id, ({simexpr}) AS simhash FROM agg"
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 1000)
    return ngram_jaccard_pairs(d, threshold=0.2).select(
        F.col("doc_a").cast("long"),
        F.col("doc_b").cast("long"),
        F.col("inter").cast("long"),
        "jaccard",
    )


ORACLE_NGRAM_JACCARD = """
WITH sh AS (
  SELECT doc_id, lang, source, unnest(list_distinct(list_transform(
    generate_series(1, greatest(len(t) - 2, 0)),
    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
  FROM (SELECT doc_id, lang, source,
        regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
        FROM documents WHERE doc_id < 1000)
), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.s = b.s
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= 0.2
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, k=5).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "cosine",
        F.col("rank").cast("long"),
    )


ORACLE_ANN_COSINE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
b AS (SELECT vec_id AS neighbor_id, embedding AS vec FROM embeddings),
pairs AS (
  SELECT query_id, neighbor_id,
    list_sum(list_transform(generate_series(1, len(qvec)),
             i -> qvec[i]::DOUBLE * vec[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(qvec, x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform(vec, x -> x::DOUBLE * x::DOUBLE)))) AS cos
  FROM b, q WHERE neighbor_id != query_id
), ranked AS (
  SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY round(cos, 6) DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_count(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"),
        F.col("n_tokens").cast("long"),
        F.col("n_subwords").cast("long"),
        F.col("n_chars_computed").cast("long"),
    )


ORACLE_TOKEN_COUNT = """
WITH t AS (SELECT doc_id, text,
           CASE WHEN trim(text) = '' THEN []
                ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
           FROM documents)
SELECT doc_id, len(toks) AS n_tokens,
       coalesce(list_sum(list_transform(toks, x -> ceil(length(x) / 4.0)::BIGINT)), 0)::BIGINT AS n_subwords,
       length(text) AS n_chars_computed
FROM t
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"),
        F.col("n_tokens").cast("long"),
        "mean_word_len_ppm", "stopword_ppm", "alpha_ppm", "dup_token_ppm",
        "quality_ppm",
    )


_STOP_SQL = "['the','a','an','and','or','of','to','in','is','are','was','were','be','been','it','this','that','with','for','on','as','at','by','from']"

# floor-scaled ppm BIGINT twins of the RAW double features (not
# round(x, 6)): each feature is one IEEE division of exact integers and
# the composite is the same fixed sequence of double ops on both engines,
# so floor cannot diverge — round()'s half-tie semantics can (ADVICE r3 /
# VERDICT r4 #3). Constants are ::DOUBLE-cast so DuckDB never computes in
# DECIMAL arithmetic (all constants are exactly representable doubles).
ORACLE_QUALITY = f"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
), f AS (
  SELECT doc_id, len(toks) AS n,
    length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(toks) AS mean_word_len,
    len(list_filter(toks, x -> list_contains({_STOP_SQL}, x))) * 1.0 / len(toks) AS stopword_ratio,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / greatest(length(text), 1) AS alpha_ratio,
    1.0::DOUBLE - len(list_distinct(toks)) * 1.0 / len(toks) AS dup_token_ratio
  FROM t
)
SELECT doc_id, n AS n_tokens,
       floor(mean_word_len * 1000000)::BIGINT AS mean_word_len_ppm,
       floor(stopword_ratio * 1000000)::BIGINT AS stopword_ppm,
       floor(alpha_ratio * 1000000)::BIGINT AS alpha_ppm,
       floor(dup_token_ratio * 1000000)::BIGINT AS dup_token_ppm,
       floor(least(mean_word_len / 5.0::DOUBLE, 1.0::DOUBLE)
             * least(stopword_ratio * 2.0::DOUBLE + 0.5::DOUBLE, 1.0::DOUBLE)
             * alpha_ratio * (1.0::DOUBLE - dup_token_ratio * 0.5::DOUBLE)
             * 1000000)::BIGINT AS quality_ppm
FROM f
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"), "fp_md5", F.col("fp32").cast("long")
    )


ORACLE_FINGERPRINT = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_md5,
       ('0x' || substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 8))::BIGINT AS fp32
FROM documents
"""


def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_stats(_docs(spark, sf_dir)).select(
        "lang", F.col("n_docs").cast("long"), "avg_chars",
        F.col("min_chars").cast("long"), F.col("max_chars").cast("long"),
        F.col("n_sources").cast("long"),
    )


ORACLE_LANG_STATS = """
SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       count(DISTINCT source) AS n_sources
FROM documents GROUP BY lang
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization over the events stream table: 30-min inactivity gap."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # fractional epoch seconds (micros kept); ts is TIMESTAMP_NTZ in the
    # parquet — route through timestamp (session TZ pinned to UTC)
    epoch = F.col("ts").cast("timestamp").cast("double")
    gap = F.when(
        (epoch - F.lag(epoch).over(w)) > 1800, 1
    ).otherwise(0)
    with_sess = ev.withColumn(
        "session_id", F.sum(F.coalesce(gap, F.lit(0))).over(w)
    )
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.floor(F.min(F.col("ts").cast("timestamp").cast("double"))).alias("t_start"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("user_id").cast("long"),
            F.col("session_id").cast("long"),
            F.col("n_events").cast("long"),
            F.col("t_start").cast("long"),
            "total_value",
        )
    )


ORACLE_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
         THEN 1 ELSE 0 END AS is_new
  FROM events
), s AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
  FROM g
)
SELECT user_id, session_id, count(*) AS n_events,
       floor(min(epoch(ts)))::BIGINT AS t_start, round(sum(value), 4) AS total_value
FROM s GROUP BY user_id, session_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram lang-ID: train on doc_id%10<8, predict the rest.

    Output is (doc_id, pred_lang) only — the raw cosine score is float-
    summation-order sensitive at the 1e-15 level between engines, while the
    argmax is stable (the synthetic languages are well separated), so the
    prediction itself is the oracle-checked contract."""
    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 10 < 8)
    profiles = train_char_ngram_profiles(train)
    preds = predict_lang(docs.filter(F.col("doc_id") % 10 >= 8), profiles)
    return preds.select(F.col("doc_id").cast("long"), "pred_lang")


# The oracle REPLICATES training + prediction in SQL: per-lang top-200
# trigram profile (ties: count desc, gram asc — same as the window in
# train_char_ngram_profiles), L2-normalized cosine vs each doc's trigram
# counts, argmax with first-lang-wins tie-break (row_number ... lang ASC ==
# the Python loop over sorted(langs) with strict >).
ORACLE_LANG_ID = """
WITH train AS (SELECT lang, text FROM documents WHERE doc_id % 10 < 8),
tg AS (
  SELECT lang, substr(text, i, 3) AS g
  FROM (SELECT lang, text,
        unnest(generate_series(1, greatest(length(text) - 2, 0))) AS i FROM train)
), tc AS (SELECT lang, g, count(*) AS cnt FROM tg GROUP BY 1, 2),
topg AS (
  SELECT lang, g, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, g) AS rn
  FROM tc
), prof AS (
  SELECT lang, g, cnt::DOUBLE / (sum(cnt) OVER (PARTITION BY lang)) AS w
  FROM topg WHERE rn <= 200
), pnorm AS (SELECT lang, sqrt(sum(w * w)) AS pn FROM prof GROUP BY lang),
test AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8),
dg AS (
  SELECT doc_id, substr(text, i, 3) AS g
  FROM (SELECT doc_id, text,
        unnest(generate_series(1, greatest(length(text) - 2, 0))) AS i FROM test)
), dc AS (SELECT doc_id, g, count(*) AS c FROM dg GROUP BY 1, 2),
dn AS (SELECT doc_id, sqrt(sum(c * c)) AS dn FROM dc GROUP BY 1),
dots AS (
  SELECT dc.doc_id, prof.lang, sum(dc.c * prof.w) AS dot
  FROM dc JOIN prof USING (g) GROUP BY 1, 2
), scored AS (
  SELECT t.doc_id, p.lang,
         coalesce(d.dot, 0) / (coalesce(n.dn, 1.0) * p.pn) AS s
  FROM test t
  CROSS JOIN pnorm p
  LEFT JOIN dn n ON n.doc_id = t.doc_id
  LEFT JOIN dots d ON d.doc_id = t.doc_id AND d.lang = p.lang
)
SELECT doc_id, lang AS pred_lang
FROM (SELECT doc_id, lang,
      row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang) AS rn
      FROM scored)
WHERE rn = 1
"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synth_media(_docs(spark, sf_dir).filter(F.col("doc_id") < 1000))
    return decode_features(media)


def _oracle_multimodal(feat_dim: int = 4) -> str:
    """decode_features oracle: the fake codec is md5(payload), payload is the
    UTF-8 text bytes, so each feature is a little-endian signed int32 word of
    the md5 digest — reconstructible from DuckDB's md5 hex string."""

    def byte(j: int) -> str:
        return f"('0x' || substr(h, {2 * j + 1}, 2))::BIGINT"

    feats = []
    for d in range(feat_dim):
        val = " + ".join(f"{byte(4 * d + j)} * {256 ** j}" for j in range(4))
        feats.append(
            f"(CASE WHEN ({val}) >= 2147483648 THEN ({val}) - 4294967296"
            f" ELSE ({val}) END) AS f{d}"
        )
    return (
        "WITH m AS (\n"
        "  SELECT doc_id AS media_id,\n"
        "         (['image','audio','video'])[(doc_id % 3)::INT + 1] AS kind,\n"
        "         strlen(text)::BIGINT AS n_bytes, md5(text) AS h\n"
        "  FROM documents WHERE doc_id < 1000\n"
        ")\n"
        "SELECT media_id, kind, n_bytes, " + ", ".join(feats) + " FROM m"
    )


def q_stream_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming (SURVEY §2.10): watermarked event-time windowed
    aggregation over the events stream, drained ``availableNow`` — the
    standard streaming-analytics op beside the crawl. Result identical to
    the batch window aggregation (the oracle)."""
    from .streaming import windowed_event_counts

    df = windowed_event_counts(
        spark, f"{sf_dir}/events.parquet", sink_table="event_windows_oracle_q"
    )
    return df.select(
        F.col("user_bucket").cast("long").alias("user_bucket"),
        F.col("window_start").cast("long").alias("window_start"),
        F.col("n_events").cast("long").alias("n_events"),
        "total_value",
    )


ORACLE_STREAM_WINDOWS = """
SELECT (user_id % 10) AS user_bucket,
       (floor(epoch(ts) / 3600) * 3600)::BIGINT AS window_start,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling plan: one row per (video, frame_ts) —
    exploded JVM-side from duration metadata so the decoder UDF only ever
    touches the frames it must."""
    from .textops.multimodal import frame_sample_plan

    media = synth_media(_docs(spark, sf_dir).filter(F.col("doc_id") < 1000))
    return frame_sample_plan(media).select(
        F.col("media_id").cast("long").alias("media_id"),
        F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"),
    )


ORACLE_FRAME_SAMPLE = """
SELECT doc_id AS media_id,
       unnest(generate_series(0, (doc_id % 9000) + 999, 1000)) AS frame_ts_ms
FROM documents WHERE doc_id < 1000 AND doc_id % 3 = 2
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_bucketed_topk(emb, queries, k=5, n_planes=4).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (the cell-partitioned scale path next to
    sign-LSH; textops.similarity.ivf_topk): deterministic first-16
    centroids, map-side cell assignment, 4-probe query join."""
    from .textops.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, k=5, n_cells=16, n_probe=4).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "cosine",
        F.col("rank").cast("long"),
    )


def _oracle_ann_ivf(
    k: int = 5, n_cells: int = 16, n_probe: int = 4, dim: int = 64
) -> str:
    """IVF oracle: centroids are data rows (vec_id < n_cells), so DuckDB
    recomputes assignment/probing/scoring exactly — ties broken by cell id
    in both engines (Spark: array_position→first max / struct sort)."""
    return f"""
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {n_cells}),
scores AS (
  SELECT e.vec_id, cent.cid,
    list_sum(list_transform(generate_series(1, {dim}),
             i -> e.v[i]::DOUBLE * cent.cv[i]::DOUBLE))
    / sqrt(list_sum(list_transform(cent.cv, x -> x::DOUBLE * x::DOUBLE))) AS s
  FROM e CROSS JOIN cent
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM scores) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM scores WHERE vec_id < 10) WHERE rn <= {n_probe}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a USING (cell)
  WHERE a.vec_id != p.query_id
),
pairs AS (
  SELECT query_id, neighbor_id, round(
    list_sum(list_transform(generate_series(1, {dim}),
             i -> qe.v[i]::DOUBLE * be.v[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(qe.v, x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform(be.v, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cosine
  FROM cand
  JOIN e qe ON qe.vec_id = query_id
  JOIN e be ON be.vec_id = neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs) WHERE rank <= {k}
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup collapse: sign-LSH candidate pairs →
    cosine ≥ τ → keep-min representative per duplicate (the dedup twin of
    ann_lsh_topk; see textops.similarity.embedding_near_dup). τ=0.42 /
    6 planes × 8 tables sized to the synthetic embeddings' near-random
    cosine spread (max pairwise ≈ 0.51)."""
    from .textops.similarity import embedding_near_dup

    emb = _emb(spark, sf_dir)
    return embedding_near_dup(emb, threshold=0.42, n_planes=6).select(
        F.col("vec_id").cast("long"),
        F.col("keep_vec_id").cast("long"),
        "cosine",
    )


def _oracle_dedup_embedding(
    threshold: float = 0.42, n_planes: int = 6, n_tables: int = 8, dim: int = 64
) -> str:
    """Same precomputed sign-matrix trick as :func:`_oracle_ann_lsh`, but a
    self-join + keep-min collapse instead of per-query top-k."""
    import hashlib

    def sign(t: int, p: int, i: int) -> int:
        h = hashlib.md5(f"lsh{t}:{p}:{i}".encode()).hexdigest()[:8]
        return (int(h, 16) % 2) * 2 - 1

    def bucket_expr(t: int) -> str:
        parts = []
        for p in range(n_planes):
            signs = "[" + ", ".join(str(sign(t, p, i)) for i in range(dim)) + "]"
            parts.append(
                f"(CASE WHEN list_sum(list_transform(generate_series(1, {dim}),"
                f" i -> v[i]::DOUBLE * ({signs})[i])) > 0 THEN {2 ** p} ELSE 0 END)"
            )
        return " + ".join(parts)

    bb = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, ({bucket_expr(t)}) AS bucket FROM e"
        for t in range(n_tables)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
bb AS ({bb}),
cand AS (
  SELECT DISTINCT a.vec_id AS keep_cand, b.vec_id AS dup_id
  FROM bb a JOIN bb b USING (tbl, bucket)
  WHERE a.vec_id < b.vec_id
), pairs AS (
  SELECT keep_cand, dup_id, round(
    list_sum(list_transform(generate_series(1, {dim}),
             i -> ae.v[i]::DOUBLE * be.v[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(ae.v, x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform(be.v, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cos
  FROM cand
  JOIN e ae ON ae.vec_id = keep_cand
  JOIN e be ON be.vec_id = dup_id
)
SELECT dup_id AS vec_id, min(keep_cand) AS keep_vec_id,
       arg_min(cos, keep_cand) AS cosine
FROM pairs WHERE cos >= {threshold}
GROUP BY dup_id
"""


def _oracle_ann_lsh(
    k: int = 5, n_planes: int = 4, n_tables: int = 8, dim: int = 64
) -> str:
    """sign-LSH top-k oracle. The hyperplanes are deterministic portable-hash
    math (sign = md5('lsh{t}:{p}:{i}')[:8] % 2 * 2 - 1 — the Python twin of
    textops.portable_hash32), so the sign matrix is precomputed here and
    inlined as literal arrays; DuckDB then reproduces buckets, candidate
    pairs, cosines, and ranks exactly."""
    import hashlib

    def sign(t: int, p: int, i: int) -> int:
        h = hashlib.md5(f"lsh{t}:{p}:{i}".encode()).hexdigest()[:8]
        return (int(h, 16) % 2) * 2 - 1

    def bucket_expr(t: int) -> str:
        parts = []
        for p in range(n_planes):
            signs = "[" + ", ".join(str(sign(t, p, i)) for i in range(dim)) + "]"
            parts.append(
                f"(CASE WHEN list_sum(list_transform(generate_series(1, {dim}),"
                f" i -> v[i]::DOUBLE * ({signs})[i])) > 0 THEN {2 ** p} ELSE 0 END)"
            )
        return " + ".join(parts)

    qb = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, ({bucket_expr(t)}) AS bucket FROM e WHERE vec_id < 10"
        for t in range(n_tables)
    )
    bb = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, ({bucket_expr(t)}) AS bucket FROM e"
        for t in range(n_tables)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
qb AS ({qb}),
bb AS ({bb}),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM bb b JOIN qb q USING (tbl, bucket)
  WHERE b.vec_id != q.vec_id
), pairs AS (
  SELECT query_id, neighbor_id,
    list_sum(list_transform(generate_series(1, {dim}),
             i -> qe.v[i]::DOUBLE * be.v[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(qe.v, x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform(be.v, x -> x::DOUBLE * x::DOUBLE)))) AS cos
  FROM cand
  JOIN e qe ON qe.vec_id = query_id
  JOIN e be ON be.vec_id = neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cos, 6) DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------

def q_warc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-version dedupe over the input_hint capture table (url, warc_ts):
    synthesize a re-crawl (every doc_id%3==0 page captured again +86400s,
    snap_id offset +10M) and keep the newest capture per URL — the standard
    Common-Crawl "latest snapshot" reduction."""
    from .textops.dedup import latest_snapshot

    pages = pages_df(spark, sf_dir).select(
        "url", "warc_ts", F.col("doc_id").alias("snap_id")
    )
    recrawl = (
        pages.filter(F.col("snap_id") % 3 == 0)
        .withColumn("warc_ts", F.col("warc_ts") + F.make_interval(secs=F.lit(86400)))
        .withColumn("snap_id", F.col("snap_id") + F.lit(10_000_000))
    )
    snaps = pages.unionByName(recrawl)
    return latest_snapshot(snaps).select(
        "url",
        F.col("n_snapshots").cast("long").alias("n_snapshots"),
        F.col("latest_snap_id").cast("long").alias("latest_snap_id"),
    )


# warc_ts is base + doc_id seconds (corpus.py), so capture-time order ==
# (doc_id [+86400 for the re-crawl]) order — the oracle ranks on that int
ORACLE_WARC_LATEST = """
WITH snaps AS (
  SELECT 'https://host-' || (doc_id % 20) || '.test/page-' || (doc_id // 20) || '.html' AS url,
         doc_id AS snap_id, doc_id AS ts
  FROM documents
  UNION ALL
  SELECT 'https://host-' || (doc_id % 20) || '.test/page-' || (doc_id // 20) || '.html',
         doc_id + 10000000, doc_id + 86400
  FROM documents WHERE doc_id % 3 = 0
)
SELECT url, count(*) AS n_snapshots,
       max(struct_pack(ts := ts, id := snap_id)).id AS latest_snap_id
FROM snaps GROUP BY url
"""
# struct-max (not arg_max): DuckDB's arg_max tie-breaking is unspecified,
# while lexicographic struct max matches latest_snapshot's documented
# larger-id-wins-on-ts-tie semantics deterministically (ADVICE r3).


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition rules (top-word / top-bigram token fraction
    + keep flag); see textops.quality.gopher_repetition for the
    one-explode tagged-union distributed shape."""
    from .textops.quality import gopher_repetition

    return gopher_repetition(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"),
        F.col("n_words").cast("long"),
        "top_word_ppm",
        "top_bigram_ppm",
        F.col("keep").cast("long"),
    )


ORACLE_QUALITY_GOPHER = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
), n AS (
  SELECT doc_id, toks, len(toks) AS n_words FROM t
), grams AS (
  SELECT doc_id, n_words, 'w' AS kind, unnest(toks) AS gram FROM n
  UNION ALL
  SELECT doc_id, n_words, 'b' AS kind,
         unnest(list_transform(generate_series(1, n_words - 1),
                               i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM n WHERE n_words >= 2
), c AS (
  SELECT doc_id, kind, gram, count(*) AS c, any_value(n_words) AS n_words
  FROM grams GROUP BY 1, 2, 3
), m AS (
  SELECT doc_id, kind, max(c) AS top_c, any_value(n_words) AS n_words
  FROM c GROUP BY 1, 2
), p AS (
  SELECT doc_id, any_value(n_words) AS n_words,
         max(CASE WHEN kind = 'w' THEN top_c END) AS top_w,
         max(CASE WHEN kind = 'b' THEN top_c END) AS top_b
  FROM m GROUP BY doc_id
)
SELECT doc_id, n_words::BIGINT AS n_words,
       floor(top_w * 1.0 / n_words * 1000000)::BIGINT AS top_word_ppm,
       floor(coalesce(top_b * 1.0 / nullif(n_words - 1, 0), 0) * 1000000)::BIGINT
         AS top_bigram_ppm,
       (CASE WHEN floor(top_w * 1.0 / n_words * 1000000) <= 300000
              AND floor(coalesce(top_b * 1.0 / nullif(n_words - 1, 0), 0) * 1000000)
                  <= 180000
        THEN 1 ELSE 0 END)::BIGINT AS keep
FROM p
"""
# floor-scaled ppm BIGINTs (not round(x, 6)): ratios of small integers land
# on decimal half-ties where Spark/DuckDB round() disagree (the q_pagerank
# 0.0004275 case); floor of bit-identical doubles cannot diverge (ADVICE r3).


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the REAL extracted link graph (mapInPandas extraction
    → page-link edges → 3 unrolled rank iterations). Every page has ≤1
    parent in the corpus tree, so per-dst sums are single-term and the
    float sequence is engine-portable (bit-identical doubles); the output
    is floor(rank·1e9) as BIGINT because round() SEMANTICS differ between
    engines at decimal half-ties (Spark rounds the shortest decimal repr
    HALF_UP, DuckDB rounds the binary value — 0.0004275 split them),
    while floor of identical doubles cannot."""
    from .graph import pagerank

    ext = _extract_once(spark, sf_dir, _extraction_scraper(), follow=True)
    edges = (
        ext.filter(F.col("kind") == "link")
        .filter(F.col("link").rlike(r"/page-\d+\.html$"))
        .select(F.col("page_url").alias("src"), F.col("link").alias("dst"))
    )
    nodes = pages_df(spark, sf_dir).select("url")
    pr = pagerank(edges, nodes, iters=3, damping=0.85)
    return pr.select(
        F.col("node").alias("url"),
        F.floor(F.col("rank") * F.lit(1e9)).cast("long").alias("pagerank_e9"),
    )


def _oracle_pagerank(iters: int = 3, d: float = 0.85) -> str:
    """Unrolled PageRank oracle: edges are the corpus tree closed-form
    (child local = 2*local+c ⇒ child doc_id = 2*doc_id - host_id + 20*c).

    Float-portability: DuckDB parses ``0.85``/``1 - 0.85`` as exact
    DECIMALs (1-0.85 = exactly 0.15) while the Spark side computes
    ``1.0 - 0.85`` in binary doubles (= 0.15000000000000002…) — a 1-ulp
    divergence that flips floor(rank·1e9). So the Python-computed double
    constants are inlined verbatim with explicit DOUBLE casts, and r0 is
    cast DOUBLE so no DECIMAL arithmetic leaks into the iteration."""
    base = repr(1.0 - d)   # the exact double Spark uses for (1-d)
    dd = repr(d)
    ctes = [
        """edges AS (
  SELECT url AS src,
         'https://host-' || host_id || '.test/page-' || (2*local + c) || '.html' AS dst,
         CASE WHEN 2*local + 1 < n_local AND 2*local + 2 < n_local THEN 2 ELSE 1 END AS deg
  FROM (SELECT *, unnest([1, 2]) AS c FROM layout)
  WHERE 2*local + c < n_local
)""",
        "nodes AS (SELECT url AS node FROM layout)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""r{i} AS (
  SELECT nd.node,
         CAST({base} AS DOUBLE) / (SELECT n FROM nn)
           + CAST({dd} AS DOUBLE) * coalesce(s.s, CAST(0 AS DOUBLE)) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / e.deg) AS s
    FROM edges e JOIN r{i - 1} r ON r.node = e.src
    GROUP BY e.dst
  ) s ON s.node = nd.node
)""")
    return (
        LAYOUT_CTE
        + ", "
        + ", ".join(ctes)
        + f"\nSELECT node AS url, floor(rank * 1e9)::BIGINT AS pagerank_e9 FROM r{iters}"
    )


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pins frontier URL canonicalization + host parsing (frontier.py
    canonicalize/with_url_meta): messy fragment-bearing URLs in, canonical
    url + parsed host out, against the closed-form layout."""
    pages = pages_df(spark, sf_dir)
    messy = F.concat(
        F.col("url"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("#sec-"), F.col("doc_id").cast("string")),
        )
        .when(F.col("doc_id") % 3 == 1, F.lit("#"))
        .otherwise(F.lit("")),
    )
    canon = canonicalize(messy)
    return pages.select(
        F.col("doc_id").cast("long"),
        canon.alias("canon_url"),
        F.parse_url(canon, F.lit("HOST")).alias("host"),
    )


ORACLE_URL_CANONICAL = """
SELECT doc_id,
       'https://host-' || (doc_id % 20) || '.test/page-' || (doc_id // 20) || '.html' AS canon_url,
       'host-' || (doc_id % 20) || '.test' AS host
FROM documents
"""


def q_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure dedup (VERDICT r3 #5): collapse a CHAIN-shaped
    verified-pair table — doc i ≈ doc i+1 within each block of 10
    consecutive doc_ids — to one representative per component via
    graph.connected_components (alternating large-star/small-star).

    The chain is the adversarial shape for the one-hop keep-min collapse
    (``embedding_near_dup``): one-hop leaves every interior doc pointing at
    its neighbor, i.e. 9 distinct "representatives" per block; the closure
    maps the whole block to its minimum. Chain pairs are closed-form in
    doc_id, so the oracle is exact: keep_doc_id = (doc_id // 10) * 10."""
    from .textops.dedup import transitive_representatives

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    pairs = d.filter(F.col("doc_id") % 10 != 9).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + 1).alias("doc_b"),
    )
    return transitive_representatives(pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("keep_doc_id").cast("long").alias("keep_doc_id"),
    )


ORACLE_DEDUP_CC = """
SELECT doc_id::BIGINT AS doc_id, ((doc_id // 10) * 10)::BIGINT AS keep_doc_id
FROM documents WHERE doc_id < 500
"""


def q_dedup_minhash_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION near-dup pipeline end-to-end (VERDICT r4 #4): banded
    MinHash-LSH proposes candidate pairs on the documents corpus, exact
    n-gram Jaccard verifies them, and transitive_representatives collapses
    the verified-pair graph to one keep_doc_id per involved document —
    chained near-dups resolve to ONE representative, unlike the one-hop
    keep-min of ``dedup_embedding``/``dedup_exact``.

    100 TB shape: LSH bucket join (no all-pairs) → candidate-bounded
    shingle join → O(log n) large-star/small-star BSP closure; no stage
    materializes more than the candidate set."""
    from .textops.dedup import transitive_representatives

    d = _docs_with_copies(spark, sf_dir, modulus=5)
    cand = minhash_lsh_pairs(d, k=8, bands=2)
    verified = ngram_jaccard_pairs(d, threshold=0.8, candidates=cand)
    return transitive_representatives(verified.select("doc_a", "doc_b")).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("keep_doc_id").cast("long").alias("keep_doc_id"),
    )


def _oracle_minhash_cc(k: int = 8, bands: int = 2, threshold: float = 0.8) -> str:
    """Verified LSH pairs (same CTE chain as dedup_lsh_jaccard) → exact
    connected components in DuckDB via a recursive reachability CTE:
    keep_doc_id(doc) = min(id reachable from doc over symmetric verified
    edges). UNION (distinct) semantics bound the recursion by the pair
    count, so it terminates on any cyclic component."""
    verified = _oracle_lsh_jaccard(k, bands, threshold)
    # the CTE chain must be RECURSIVE for the reachability CTE appended below
    head, body = verified.split("WITH ", 1)
    return head + "WITH RECURSIVE " + body.replace(
        "SELECT doc_a, doc_b, inter,",
        "-- verified pairs (identical to dedup_lsh_jaccard's final SELECT)\n"
        ", verified AS (\nSELECT doc_a, doc_b,", 1,
    ).replace(
        f">= {threshold}\n",
        f">= {threshold}\n"
        "), edges AS (\n"
        "  SELECT doc_a AS a, doc_b AS b FROM verified\n"
        "  UNION ALL SELECT doc_b, doc_a FROM verified\n"
        "), reach(doc_id, reached) AS (\n"
        "  SELECT DISTINCT a, a FROM edges\n"
        "  UNION\n"
        "  SELECT r.doc_id, e.b FROM reach r JOIN edges e ON e.a = r.reached\n"
        ")\n"
        "SELECT doc_id::BIGINT AS doc_id, min(reached)::BIGINT AS keep_doc_id\n"
        "FROM reach GROUP BY doc_id\n", 1,
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data PII scrub (textops/quality.py pii_scrub): redact
    URLs → emails → phones (in that order — a URL's userinfo must count as
    the URL) and count each redaction. The corpus text carries no PII, so
    deterministic PII is INJECTED per doc_id in the query itself — the
    injected URL embeds an email-shaped userinfo (``u=x@y.io``) precisely
    so the oracle discriminates the redaction ORDER, not just the regexes.
    """
    from .textops.quality import pii_scrub

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" see https://t.example/"), F.col("doc_id").cast("string"),
            F.lit("/a?u=x@y.io tail"),
        ).alias("text"),
    )
    return pii_scrub(docs).select(
        F.col("doc_id").cast("long"),
        "scrubbed",
        F.col("n_urls").cast("long"),
        F.col("n_emails").cast("long"),
        F.col("n_phones").cast("long"),
    )


def _pii_oracle() -> str:
    from .textops.quality import PII_EMAIL_RE, PII_PHONE_RE, PII_URL_RE

    return f"""
WITH injected AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or +1-555-'
              || lpad((doc_id % 10000)::VARCHAR, 4, '0')
              || ' see https://t.example/' || doc_id || '/a?u=x@y.io tail'
         AS text
  FROM documents
), u AS (
  SELECT doc_id,
         regexp_replace(text, '{PII_URL_RE}', '<URL>', 'g') AS t1,
         len(regexp_extract_all(text, '{PII_URL_RE}')) AS n_urls
  FROM injected
), e AS (
  SELECT doc_id, n_urls,
         regexp_replace(t1, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS t2,
         len(regexp_extract_all(t1, '{PII_EMAIL_RE}')) AS n_emails
  FROM u
)
SELECT doc_id::BIGINT AS doc_id,
       regexp_replace(t2, '{PII_PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
       n_urls::BIGINT AS n_urls, n_emails::BIGINT AS n_emails,
       len(regexp_extract_all(t2, '{PII_PHONE_RE}'))::BIGINT AS n_phones
FROM e
"""


def q_dedup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-anchor duplicated-span detection
    (textops/dedup.py duplicated_span_docs): flag every document sharing a
    verbatim 8-token run with another document via content-defined anchor
    fingerprints — the scalable stand-in for suffix-array ExactSubstr
    dedup. Alignment-robust by construction (anchor selection depends only
    on gram content, never position)."""
    from .textops.dedup import duplicated_span_docs

    return (
        duplicated_span_docs(_docs(spark, sf_dir), k=8, select_mod=4)
        .select(
            F.col("doc_id").cast("long"),
            F.col("n_shared_anchors").cast("long"),
        )
        .orderBy("doc_id")
    )


ORACLE_DEDUP_SPAN = r"""
WITH norm AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
    ('0x' || substr(md5('span:' || array_to_string(list_slice(toks, i, i+7), ' ')), 1, 8))::BIGINT AS h
  FROM norm, unnest(generate_series(1, len(toks) - 7)) AS g(i)
  WHERE len(toks) >= 8
), anchors AS (
  SELECT doc_id, h AS anchor FROM grams WHERE h % 4 = 0
), dup AS (
  SELECT anchor FROM anchors GROUP BY anchor HAVING count(*) > 1
)
SELECT doc_id::BIGINT AS doc_id, count(*)::BIGINT AS n_shared_anchors
FROM anchors JOIN dup USING (anchor)
GROUP BY doc_id ORDER BY doc_id
"""


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide top-k token bigrams (textops/quality.py
    top_ngrams): one explode → hash-agg with map-side combine → Spark's
    TakeOrderedAndProject (per-partition heaps, no global sort shuffle).
    Deterministic total order: (count DESC, gram ASC) + dense rank."""
    from .textops.quality import top_ngrams

    return top_ngrams(_docs(spark, sf_dir), n=2, k=20).select(
        F.col("rank").cast("long"),
        "gram",
        F.col("cnt").cast("long"),
    )


ORACLE_TOP_NGRAMS = r"""
WITH norm AS (
  SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
  FROM documents
), grams AS (
  SELECT array_to_string(list_slice(toks, i, i + 1), ' ') AS gram
  FROM norm, unnest(generate_series(1, len(toks) - 1)) AS g(i)
  WHERE len(toks) >= 2
), agg AS (
  SELECT gram, count(*)::BIGINT AS cnt FROM grams GROUP BY gram
  ORDER BY cnt DESC, gram ASC LIMIT 20
)
SELECT row_number() OVER (ORDER BY cnt DESC, gram ASC)::BIGINT AS rank,
       gram, cnt
FROM agg
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (textops/dedup.py decontaminate): exact
    8-gram overlap of training docs against a held-out benchmark slice
    (doc_id % 29 == 0 stands in for the eval set) — broadcast gram dim,
    map-side join, shuffle tracks contamination not corpus."""
    from .textops.dedup import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 29 == 0)
    train = docs.filter(F.col("doc_id") % 29 != 0)
    return decontaminate(train, bench, k=8).select(
        F.col("doc_id").cast("long"),
        F.col("n_contaminated_grams").cast("long"),
    )


ORACLE_DECONTAMINATE = r"""
WITH d AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')
           AS toks
  FROM documents
), g AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM d, unnest(generate_series(1, len(toks) - 7)) AS s(i)
  WHERE len(toks) >= 8
), b AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 29 = 0
)
SELECT doc_id::BIGINT AS doc_id, count(*)::BIGINT AS n_contaminated_grams
FROM g JOIN b USING (gram)
WHERE doc_id % 29 != 0
GROUP BY doc_id
"""


# fixed query set over the corpus vocabulary (documents.parquet is built
# from a closed word list — TESTDATA.md)
BM25_QUERIES = [
    ("q_hash_join", "hash join"),
    ("q_window_agg", "window agg order"),
    ("q_slow_scan", "slow scan"),
]
BM25_K = 10


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k per query (textops/search.py bm25_topk): posting-list
    pruned scoring with ORDER-INDEPENDENT integer ppm per-term scores
    (floor before sum — float addition order can't flip a rank)."""
    from .textops.search import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), BM25_QUERIES, k=BM25_K).select(
        "query_id",
        F.col("rank").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("score_ppm").cast("long"),
    )


def _oracle_bm25() -> str:
    qvals = ", ".join(
        f"('{qid}', '{term}')"
        for qid, qtext in BM25_QUERIES
        for term in dict.fromkeys(qtext.lower().split())
    )
    # literal arithmetic ((1.2+1.0), (1.0-0.75)) mirrors the Spark column
    # tree op-for-op so both engines run the identical IEEE sequence
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
), dl AS (
  SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY 1
), stats AS (
  SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dl
), dfreq AS (
  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
), q(query_id, term) AS (VALUES {qvals}),
cand AS (
  SELECT q.query_id, tf.doc_id,
         floor(
           1000000.0
           * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * ((tf * (1.2 + 1.0))
              / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (dl / (sum_dl / n_docs)))))
         )::BIGINT AS term_ppm
  FROM tf
  JOIN q USING (term) JOIN dfreq USING (term)
  JOIN dl USING (doc_id) CROSS JOIN stats
), scored AS (
  SELECT query_id, doc_id, sum(term_ppm)::BIGINT AS score_ppm,
         row_number() OVER (
           PARTITION BY query_id ORDER BY sum(term_ppm) DESC, doc_id ASC
         )::BIGINT AS rank
  FROM cand GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score_ppm FROM scored WHERE rank <= {BM25_K}
"""


# per-language keep fractions for the stratified-sample query: exact
# integer thresholds floor(frac * 2^32), computed once here and embedded
# in BOTH engines so the keep decision is pure integer arithmetic
SAMPLE_FRACTIONS = {"en": 0.25, "fr": 0.5, "de": 0.75, "es": 1.0}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language subsample (textops/sampling.py
    stratified_sample): Knuth multiplicative hash on doc_id vs per-stratum
    integer thresholds — no randomness source, no shuffle, replayable row
    by row (zh is absent from the fraction map → dropped)."""
    from .textops.sampling import stratified_sample

    return stratified_sample(_docs(spark, sf_dir), SAMPLE_FRACTIONS).select(
        F.col("doc_id").cast("long"),
        "lang",
        F.col("sample_bucket").cast("long"),
    )


def _oracle_stratified() -> str:
    from .textops.sampling import KNUTH32, MOD32

    cases = " ".join(
        f"WHEN '{s}' THEN {int(frac * MOD32)}"
        for s, frac in sorted(SAMPLE_FRACTIONS.items())
    )
    return f"""
SELECT doc_id::BIGINT AS doc_id, lang,
       ((doc_id * {KNUTH32}) % {MOD32})::BIGINT AS sample_bucket
FROM documents
WHERE (doc_id * {KNUTH32}) % {MOD32}
      < CASE lang {cases} ELSE 0 END
"""


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (textops/sampling.py dsir_importance):
    hashed-bigram likelihood ratio of the lang='en' target vs the raw
    corpus, per-bucket log-ratio floor-scaled to integer ppm BEFORE the
    per-document sum (order-independent cross-engine)."""
    from .textops.sampling import dsir_importance

    return dsir_importance(
        _docs(spark, sf_dir), F.col("lang") == "en", n_buckets=4096
    ).select(
        F.col("doc_id").cast("long"),
        F.col("weight_ppm").cast("long"),
        F.col("n_bigrams").cast("long"),
    )


ORACLE_DSIR = r"""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS is_target,
         regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
), occ AS (
  SELECT doc_id, is_target,
         ('0x' || substr(md5(t[i] || ' ' || t[i + 1]), 1, 8))::BIGINT % 4096
           AS bucket
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2
), counts AS (
  SELECT bucket, count(*)::BIGINT AS c_raw,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT AS c_tgt
  FROM occ GROUP BY 1
), tot AS (
  SELECT sum(c_raw)::BIGINT AS t_raw, sum(c_tgt)::BIGINT AS t_tgt FROM counts
), ratios AS (
  SELECT bucket,
         floor(1000000.0 * ln(((c_tgt + 1.0) / (t_tgt + 4096.0))
                              / ((c_raw + 1.0) / (t_raw + 4096.0))))::BIGINT
           AS ratio_ppm
  FROM counts CROSS JOIN tot
)
SELECT doc_id::BIGINT AS doc_id, sum(ratio_ppm)::BIGINT AS weight_ppm,
       count(*)::BIGINT AS n_bigrams
FROM occ JOIN ratios USING (bucket)
GROUP BY doc_id
"""


def queries() -> Dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # crawl/extract engine
        "extract_flat": q_extract_flat,
        "content_identity": q_content_identity,
        "content_identity_zlib": q_content_identity_zlib,
        "link_graph": q_link_graph,
        "crawl_bfs": q_crawl_bfs,
        "politeness_budget": q_politeness_budget,
        "priority_budget": q_priority_budget,
        "robots_gate": q_robots_gate,
        "xpath_extract": q_xpath_extract,
        "text_select": q_text_select,
        "regex_select": q_regex_select,
        "flatten_merge": q_flatten_merge,
        "pivot_extract": q_pivot_extract,
        "frontier_dedupe": q_frontier_dedupe,
        # §2 operator coverage
        "css_advanced": q_css_advanced,
        "xpath_advanced": q_xpath_advanced,
        "generator_fanout": q_generator_fanout,
        "pages_navigate": q_pages_navigate,
        "start_requests": q_start_requests,
        "follow_url": q_follow_url,
        "sink_json": q_sink_json,
        "sink_yaml": q_sink_yaml,
        "sink_dispatch": q_sink_dispatch,
        "save_per_page": q_save_per_page,
        "output_order": q_output_order,
        "adblock_gate": q_adblock_gate,
        "setup_rule": q_setup_rule,
        # training-data pipeline
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash,
        "minhash_signature": q_minhash_signature,
        "dedup_lsh_jaccard": q_dedup_lsh_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "ann_cosine_topk": q_ann_cosine_topk,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "doc_fingerprint": q_fingerprint,
        "lang_stats": q_lang_stats,
        "sessionize": q_sessionize,
        "lang_id_ngram": q_lang_id,
        "multimodal_decode": q_multimodal_decode,
        "stream_event_windows": q_stream_event_windows,
        "frame_sample": q_frame_sample,
        "ann_lsh_topk": q_ann_lsh,
        "dedup_embedding": q_dedup_embedding,
        "ann_ivf_topk": q_ann_ivf,
        "warc_latest": q_warc_latest,
        "quality_gopher": q_quality_gopher,
        "pii_scrub": q_pii_scrub,
        "pagerank": q_pagerank,
        "url_canonical": q_url_canonical,
        "dedup_cc": q_dedup_cc,
        "dedup_minhash_cc": q_dedup_minhash_cc,
        "dedup_span": q_dedup_span,
        "topk_ngrams": q_top_ngrams,
        "bm25_search": q_bm25_search,
        "stratified_sample": q_stratified_sample,
        "dsir_importance": q_dsir_importance,
        "decontaminate": q_decontaminate,
    }


def oracle_sql() -> Dict[str, str]:
    return {
        "extract_flat": ORACLE_EXTRACT_FLAT,
        "content_identity": ORACLE_CONTENT_IDENTITY,
        "content_identity_zlib": ORACLE_CONTENT_IDENTITY,
        "link_graph": ORACLE_LINK_GRAPH,
        "crawl_bfs": ORACLE_CRAWL_BFS,
        "politeness_budget": ORACLE_POLITENESS,
        "priority_budget": ORACLE_PRIORITY_BUDGET,
        "robots_gate": ORACLE_ROBOTS_GATE,
        "xpath_extract": ORACLE_XPATH_EXTRACT,
        "text_select": ORACLE_TEXT_SELECT,
        "regex_select": ORACLE_REGEX_SELECT,
        "flatten_merge": ORACLE_FLATTEN_MERGE,
        "pivot_extract": ORACLE_PIVOT_EXTRACT,
        "frontier_dedupe": ORACLE_FRONTIER_DEDUPE,
        "css_advanced": ORACLE_CSS_ADVANCED,
        "xpath_advanced": ORACLE_XPATH_ADVANCED,
        "generator_fanout": ORACLE_GENERATOR_FANOUT,
        "pages_navigate": ORACLE_PAGES_NAVIGATE,
        "start_requests": ORACLE_START_REQUESTS,
        "follow_url": ORACLE_FOLLOW_URL,
        "sink_json": ORACLE_SINK_ROUNDTRIP,
        "sink_yaml": ORACLE_SINK_ROUNDTRIP,
        "sink_dispatch": ORACLE_SINK_DISPATCH,
        "save_per_page": ORACLE_SAVE_PER_PAGE,
        "output_order": ORACLE_OUTPUT_ORDER,
        "adblock_gate": ORACLE_ADBLOCK,
        "setup_rule": ORACLE_SETUP_RULE,
        "dedup_exact": ORACLE_DEDUP_EXACT,
        "dedup_minhash_lsh": _oracle_minhash(),
        "minhash_signature": _oracle_minhash_signature(),
        "dedup_lsh_jaccard": _oracle_lsh_jaccard(),
        "dedup_simhash": _oracle_simhash(),
        "ngram_jaccard": ORACLE_NGRAM_JACCARD,
        "ann_cosine_topk": ORACLE_ANN_COSINE,
        "token_count": ORACLE_TOKEN_COUNT,
        "quality_score": ORACLE_QUALITY,
        "doc_fingerprint": ORACLE_FINGERPRINT,
        "lang_stats": ORACLE_LANG_STATS,
        "sessionize": ORACLE_SESSIONIZE,
        "lang_id_ngram": ORACLE_LANG_ID,
        "multimodal_decode": _oracle_multimodal(),
        "stream_event_windows": ORACLE_STREAM_WINDOWS,
        "frame_sample": ORACLE_FRAME_SAMPLE,
        "ann_lsh_topk": _oracle_ann_lsh(),
        "dedup_embedding": _oracle_dedup_embedding(),
        "ann_ivf_topk": _oracle_ann_ivf(),
        "warc_latest": ORACLE_WARC_LATEST,
        "quality_gopher": ORACLE_QUALITY_GOPHER,
        "pii_scrub": _pii_oracle(),
        "pagerank": _oracle_pagerank(),
        "url_canonical": ORACLE_URL_CANONICAL,
        "dedup_cc": ORACLE_DEDUP_CC,
        "dedup_minhash_cc": _oracle_minhash_cc(),
        "dedup_span": ORACLE_DEDUP_SPAN,
        "topk_ngrams": ORACLE_TOP_NGRAMS,
        "bm25_search": _oracle_bm25(),
        "stratified_sample": _oracle_stratified(),
        "dsir_importance": ORACLE_DSIR,
        "decontaminate": ORACLE_DECONTAMINATE,
    }
