"""Rule registry + extraction golden tests — ports of the reference's own
expectations (`tests/conftest.py:104-203`, `tests/test_bs4.py`)."""

import itertools
import re

import pytest

from dude_spark.api import Scraper
from dude_spark.extract import extract_links, extract_page
from dude_spark.dom import parse_html
from dude_spark.kernels import attr, empty, gen_texts, text
from dude_spark.rule import Selector

BASE_URL = "https://dwmc.ron.sh/"


def flatten_rows(rows):
    """Driver-side flatten mirroring dude/base.py:610-622 (test oracle)."""
    data_rows = [r for r in rows if r["kind"] == "data"]
    data_rows.sort(
        key=lambda r: (
            r["page_number"], r["group_index"], r["group_id"],
            r["element_index"], r["rule_seq"],
        )
    )
    out = []
    for k, g in itertools.groupby(
        data_rows,
        key=lambda r: (
            r["page_number"], r["page_url"], r["group_index"],
            r["group_id"], r["element_index"],
        ),
    ):
        item = {
            "_page_number": k[0], "_page_url": k[1], "_group_index": k[2],
            "_group_id": k[3], "_element_index": k[4],
        }
        for r in g:
            item.update(r["data"])
        out.append(item)
    return out


def test_golden_expected_data(scraper, dude_html):
    """Reference expected_data fixture (tests/conftest.py:104-135)."""
    plan = scraper.compile()
    rows = extract_page(plan, BASE_URL, dude_html)
    flat = flatten_rows(rows)
    stripped = [
        {k: v for k, v in r.items() if k not in ("_group_id",)} for r in flat
    ]
    assert stripped == [
        {"_page_number": 1, "_page_url": BASE_URL, "_group_index": i,
         "_element_index": 0, "title": f"Title {i+1}", "url": f"url-{i+1}.html"}
        for i in range(3)
    ]
    assert all(isinstance(r["_group_id"], int) for r in flat)


def test_generator_reindexes_element_index(dude_html):
    """Reference expected_generator_data (tests/conftest.py:138-169)."""
    app = Scraper()

    @app.select(css=".custom-group")
    def gen(element):
        for i, a in enumerate(element.cssselect(".title")):
            yield {"title": a.text_content()}

    rows = [r for r in extract_page(app.compile(), BASE_URL, dude_html) if r["kind"] == "data"]
    # one group element per .custom-group at :root scope; generator yields 1 row each
    assert [r["element_index"] for r in rows] == [0, 0, 0]

    app2 = Scraper()

    @app2.select(css=":root")
    def gen_all(element):
        for t in element.cssselect(".title"):
            yield {"title": t.text_content()}

    rows2 = [r for r in extract_page(app2.compile(), BASE_URL, dude_html) if r["kind"] == "data"]
    assert [r["element_index"] for r in rows2] == [0, 1, 2]
    assert [r["data"]["title"] for r in rows2] == ["Title 1", "Title 2", "Title 3"]


def test_empty_handler_drops_rows(scraper, dude_html):
    rows = extract_page(scraper.compile(), BASE_URL, dude_html)
    for r in rows:
        if r["kind"] == "data":
            assert r["data"]  # no empty dicts survive (base.py:553-554)


def test_url_match_excludes_rule(scraper, dude_html):
    """url_dont_match handler (url_match='example.com') contributes nothing."""
    flat = flatten_rows(extract_page(scraper.compile(), BASE_URL, dude_html))
    assert len(flat) == 3  # would be duplicated titles otherwise


def test_priority_ordering(dude_html):
    """Lowest priority value runs first within a group (rule.py:67,
    examples/priority.py) → its data is overwritten by later rules on key
    collision (later-wins merge)."""
    app = Scraper()

    @app.select(css=".title", priority=1)
    def low(element):
        return {"who": "low"}

    @app.select(css=".title", priority=0)
    def first(element):
        return {"who": "first"}

    rows = [r for r in extract_page(app.compile(), BASE_URL, dude_html) if r["kind"] == "data"]
    # both rules share the default :root group; rule-major collect order
    # (lxml_scraper.py:170-176): all of priority-0's elements, then priority-1's
    assert [r["data"]["who"] for r in rows] == ["first"] * 3 + ["low"] * 3
    flat = flatten_rows(rows)
    assert flat[0]["who"] == "low"  # later-wins on merge


def test_group_precedence_explicit_beats_decorator(dude_html):
    app = Scraper()

    @app.group(css=".custom-group")
    @app.select(css=".title", group_css="body")
    def t(element):
        return {"t": element.text_content()}

    plan = app.compile()
    assert plan.scrape_rules[0].group.css == "body"  # explicit wins (base.py:393-400)


def test_duplicate_group_skipped(dude_html):
    app = Scraper()

    def handler(element):
        return {"x": 1}

    app.group(css=".a")(handler)
    app.group(css=".b")(handler)  # warned + skipped
    assert app.groups[handler].css == ".a"


def test_selector_string_forms():
    assert Selector.parse("css=.title").css == ".title"
    assert Selector.parse("xpath=//p").xpath == "//p"
    assert Selector.parse("text=Next").text == "Next"
    assert Selector.parse("text=/Title \\d/i").regex == "Title \\d"
    assert Selector.parse(".plain").selector == ".plain"


def test_selector_ordering_key():
    a = Selector(css=".a")
    b = Selector(xpath="//b")
    assert a < b  # 'css=.a' < 'xpath=//b'


def test_extract_links_self_filtered(dude_html):
    root = parse_html(dude_html)
    links = extract_links(root, BASE_URL)
    assert links == [
        "https://dwmc.ron.sh/url-1.html",
        "https://dwmc.ron.sh/url-2.html",
        "https://dwmc.ron.sh/url-3.html",
        "https://dwmc.ron.sh/empty.html",
        "https://dwmc.ron.sh/empty.text",
    ]
    root2 = parse_html('<body><a href="/">self</a><a href="next.html">n</a></body>')
    assert extract_links(root2, "https://x.test/") == ["https://x.test/next.html"]


def test_extract_links_all_mode(dude_html):
    root = parse_html(dude_html)
    links = extract_links(root, BASE_URL, mode="all")
    # lxml iterlinks picks up the stylesheet href too
    assert "https://dude.ron.sh/blockme.css" in links


def test_declarative_kernels(dude_html):
    app = Scraper()
    app.select(css=".title", group_css=".custom-group")(text("title"))
    app.select(css="a.url", group_css=".custom-group")(attr("url", "href"))
    app.select(css=".title", group_css=".custom-group")(empty())
    flat = flatten_rows(extract_page(app.compile(), BASE_URL, dude_html))
    assert flat[0]["title"] == "Title 1"
    assert flat[0]["url"] == "url-1.html"


def test_follow_url_reserved_key(dude_html):
    """follow_url() API (base.py:358-359) via the __follow__ data key."""
    app = Scraper()

    @app.select(css="a.url")
    def f(element):
        return {"u": element.get("href"), "__follow__": "https://dwmc.ron.sh/extra.html"}

    rows = extract_page(app.compile(), BASE_URL, dude_html, follow_urls=False)
    links = [r["link"] for r in rows if r["kind"] == "link"]
    assert links == ["https://dwmc.ron.sh/extra.html"] * 3
    for r in rows:
        if r["kind"] == "data":
            assert "__follow__" not in r["data"]


@pytest.mark.parametrize("kw, bad", [
    ({"css": "div:hover"}, "div:hover"),
    ({"selector": "div >"}, "div >"),
    ({"xpath": ".//div[frob()]"}, ".//div[frob()]"),
    ({"css": ".title", "group_css": "div:nth-col(2)"}, "div:nth-col(2)"),
])
def test_compile_rejects_off_grammar_selector_on_the_driver(tmp_path, kw, bad):
    """compile() compiles every rule's and group's css/any/xpath selector,
    so a bad one raises ValueError naming it before a crawl starts: a
    CrawlJob fails in its constructor and leaves state_dir as it was."""
    from dude_spark.crawl import CrawlConfig, CrawlJob

    app = Scraper()

    @app.select(**kw)
    def h(element):
        return {}

    with pytest.raises(ValueError, match=re.escape(repr(bad))):
        app.compile()
    kept = tmp_path / "state" / "keep"
    kept.parent.mkdir()
    kept.write_text("x")
    with pytest.raises(ValueError, match=re.escape(repr(bad))):
        CrawlJob(None, app, None, config=CrawlConfig(state_dir=str(kept.parent)))
    assert kept.read_text() == "x"
