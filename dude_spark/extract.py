"""Vectorized selector-extraction stage.

Reimplements the reference's per-page pipeline — ``collect_elements``
(``optional/lxml_scraper.py:162-176``: group selector → group elements →
rules by priority → elements) + ``extract_all`` (``dude/base.py:532-563``:
handler invocation, generator fan-out with re-numbered ``element_index``,
falsy-result drop) + link extraction/absolutization with self-link filter
(``optional/beautifulsoup_scraper.py:81-85``) — as a single
``mapInPandas``-compatible Arrow batch kernel. Each page's HTML is parsed
exactly once; extraction rows and out-links are emitted together.

Determinism note: the reference uses ``id(group)`` (a memory address) as
``group_id`` (``lxml_scraper.py:176``); its tests only assert int-ness
(``tests/conftest.py:16-21``). We use a deterministic dense id instead:
``group_selector_ordinal * 1_000_000 + group_element.document_order``.
"""

from __future__ import annotations

import fnmatch
import re
from itertools import groupby
from types import GeneratorType
from typing import Iterable, Iterator, List, Optional, Tuple
from urllib.parse import urljoin

import pandas as pd

from .api import CompiledPlan
from .dom import Element, parse_html, select
from .rule import RuleSpec, rule_grouper
from .session import worker_setup

# Output schema of the extraction stage (kind: 'data' row or 'link' row).
EXTRACT_SCHEMA = (
    "page_url string, page_number int, group_id bigint, group_index int, "
    "element_index int, rule_seq int, data map<string,string>, kind string, "
    "link string, link_seq int"
)

_GLOB_CACHE: dict = {}


def _url_matches(matcher, url: str) -> bool:
    if callable(matcher):
        return bool(matcher(url))
    rx = _GLOB_CACHE.get(matcher)
    if rx is None:
        rx = re.compile(fnmatch.translate(matcher))
        _GLOB_CACHE[matcher] = rx
    return rx.match(url) is not None


def extract_links(root: Element, page_url: str, mode: str = "anchors") -> List[str]:
    """All out-links, absolutized, self-links removed.

    ``mode='anchors'``: ``<a href>`` only (bs4/parsel/playwright backends,
    ``beautifulsoup_scraper.py:81-85``). ``mode='all'``: every href/src/action
    attr (lxml ``iterlinks()``, ``lxml_scraper.py:83-87``).
    """
    out: List[str] = []
    stripped_self = page_url.rstrip("/")
    for el in root.iter():
        if mode == "anchors":
            if el.tag != "a" or "href" not in el.attrib:
                continue
            hrefs = [el.attrib["href"]]
        else:
            hrefs = [
                el.attrib[a]
                for a in ("href", "src", "action")
                if a in el.attrib
            ]
            if not hrefs:
                continue
        for href in hrefs:
            absolute = urljoin(page_url, href)
            if absolute.rstrip("/") != stripped_self:
                out.append(absolute)
    return out


def collect_elements(
    plan: CompiledPlan, root: Element, url: str
) -> Iterator[Tuple[str, int, int, int, Element, RuleSpec]]:
    """Reference ``collect_elements`` (``lxml_scraper.py:162-176``): yields
    ``(url, group_index, group_id, element_index, element, rule)``."""
    applicable = [r for r in plan.scrape_rules if _url_matches(r.url_matcher, url)]
    # plan.scrape_rules is pre-sorted by rule_sorter, so groupby is valid
    rule_seq = 0
    for group_selector, g in groupby(applicable, key=rule_grouper):
        rules = sorted(g, key=lambda r: r.priority)
        gsel_ord = plan.group_ordinals.get(group_selector.to_str(with_type=True), 0)
        group_elems = select(root, group_selector.selector_type(), group_selector.to_str())
        for group_index, group_el in enumerate(group_elems):
            group_id = gsel_ord * 1_000_000 + group_el.order
            for rule in rules:
                elems = select(group_el, rule.selector.selector_type(), rule.selector.to_str())
                for element_index, element in enumerate(elems):
                    yield url, group_index, group_id, element_index, rule_seq, element, rule
                    rule_seq += 1


def run_setup_rules(plan: CompiledPlan, root: Element, url: str) -> None:
    """E8 setup phase (``@select(..., setup=True)``, ``base.py:147``):
    handlers run per matched element *before* scraping, priority-sorted
    (``base.py:604-605``). The reference clicks/mutates the live DOM
    (``playwright_scraper.py:71-101``); here handlers mutate the parsed tree
    in place (``element.attrib[...] = ...``, append/remove children) — a
    pure DOM transform, the page-table analogue of a browser click."""
    for rule in plan.setup_rules:
        if not _url_matches(rule.url_matcher, url):
            continue
        for element in select(root, rule.selector.selector_type(), rule.selector.to_str()):
            rule.handler(element)


def evaluate_navigate(plan: CompiledPlan, root: Element, url: str) -> Optional[str]:
    """E9/O4 navigate phase: first element of the first matching navigate
    rule decides the next page (``playwright_scraper.py:103-129`` returns
    True after clicking the first match — our page-table analogue: the
    handler returns the next URL, or the element's href is used)."""
    for rule in plan.navigate_rules:
        if not _url_matches(rule.url_matcher, url):
            continue
        for element in select(root, rule.selector.selector_type(), rule.selector.to_str()):
            nxt = rule.handler(element) if rule.handler else element.get("href")
            if isinstance(nxt, dict):
                nxt = nxt.get("__next__")
            if nxt:
                from urllib.parse import urljoin

                return urljoin(url, str(nxt))
            return None  # first match decides (O4)
    return None


# fixed row layout of the extraction kernel (matches EXTRACT_SCHEMA order)
ROW_FIELDS = (
    "page_url", "page_number", "group_id", "group_index",
    "element_index", "rule_seq", "data", "kind", "link", "link_seq",
)


def extract_page_rows(
    plan: CompiledPlan,
    url: str,
    html,
    page_number: int = 1,
    follow_urls: bool = False,
    link_mode: str = "anchors",
) -> List[tuple]:
    """One page → extraction/link rows as tuples in :data:`ROW_FIELDS` order.

    Pure function; the hot body of the Arrow batch kernel. Tuples, not
    dicts — the kernel emits ~10 rows per page at corpus scale and dict
    construction was a measurable fraction of the stage (the parse kernel
    itself is sub-millisecond per page)."""
    root = parse_html(html)
    if plan.setup_rules:
        run_setup_rules(plan, root, url)
    rows: List[tuple] = []
    follow_extra: List[str] = []
    for page_url, group_index, group_id, element_index, rule_seq, element, rule in collect_elements(
        plan, root, url
    ):
        data = rule.handler(element)
        if isinstance(data, GeneratorType):
            # generator fan-out re-numbers element_index (base.py:541-551)
            for index, d in enumerate(data):
                d = {str(k): (None if v is None else str(v)) for k, v in d.items()}
                f = d.pop("__follow__", None)
                if f:
                    follow_extra.extend(f.split("\x1f"))
                if d:
                    rows.append(
                        (page_url, page_number, group_id, group_index,
                         index, rule_seq, d, "data", None, None)
                    )
            continue
        if not data:
            continue  # falsy → drop (base.py:553-554)
        # follow_url() API (base.py:358-359): handlers may stash URLs under
        # the reserved '__follow__' key; route them to link rows.
        data = {str(k): (None if v is None else str(v)) for k, v in data.items()}
        f = data.pop("__follow__", None)
        if f:
            follow_extra.extend(f.split("\x1f"))
        if data:
            rows.append(
                (page_url, page_number, group_id, group_index,
                 element_index, rule_seq, data, "data", None, None)
            )
    if follow_urls:
        links = extract_links(root, url, mode=link_mode)
    else:
        links = []
    # follow_url() targets may be relative (the reference hands the raw
    # string to the frontier, but its handlers receive absolute URLs from
    # the live page; our page-table handlers see raw hrefs) — absolutize
    # against the page URL like the auto-extracted links
    links.extend(urljoin(url, f) for f in follow_extra)
    for i, link in enumerate(links):
        rows.append((url, page_number, -1, -1, -1, -1, None, "link", link, i))
    if plan.navigate_rules:
        nxt = evaluate_navigate(plan, root, url)
        # stop when no match or URL unchanged (playwright_scraper.py:197)
        if nxt and nxt.rstrip("/") != url.rstrip("/"):
            rows.append((url, page_number, -1, -1, -1, -1, None, "navigate", nxt, 0))
    return rows


def extract_page(
    plan: CompiledPlan,
    url: str,
    html,
    page_number: int = 1,
    follow_urls: bool = False,
    link_mode: str = "anchors",
) -> List[dict]:
    """Dict view of :func:`extract_page_rows` (public/test-facing API)."""
    return [
        dict(zip(ROW_FIELDS, row))
        for row in extract_page_rows(
            plan, url, html, page_number=page_number,
            follow_urls=follow_urls, link_mode=link_mode,
        )
    ]


def make_extract_iterator(
    plan: CompiledPlan,
    follow_urls: bool = False,
    link_mode: str = "anchors",
    passthrough: Optional[List[str]] = None,
    codec: Optional[str] = None,
):
    """Factory for the ``mapInPandas`` kernel: batches of
    ``(url, html[, page_number])`` in → EXTRACT_SCHEMA rows out.

    ``passthrough`` columns are copied verbatim from the input row onto every
    output row (the crawl loop uses this to carry ``depth``/``seq`` onto link
    rows without a post-hoc join). Extend the output schema accordingly.

    ``codec='zlib'``: the ``html`` column holds zlib-compressed page bytes,
    decompressed here just before the parse. This is the 100 TB posture
    (Common-Crawl WARC records are per-page-compressed): the page payload
    stays ~10-100× smaller through every scan, join, shuffle, cache, and
    Arrow transfer — JVM memory traffic and GC churn drop by the same
    factor — and the decode cost lands in the Python workers, where it
    parallelizes perfectly with the parse instead of serializing in the
    JVM's allocation path.

    Output frames are assembled COLUMN-WISE (one python list per column →
    ``pd.DataFrame`` of object arrays): constructing pandas frames from
    row-dicts was ~3× the cost of the parse itself at 10 rows/page.
    """
    if codec not in (None, "zlib"):
        raise ValueError(f"unsupported page codec: {codec!r}")

    passthrough = list(passthrough or [])
    cols = list(ROW_FIELDS) + passthrough
    n_fields = len(ROW_FIELDS)
    if codec == "zlib":
        import zlib

        decompress = zlib.decompress
    else:
        decompress = None

    def it(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_setup()
        for pdf in batches:
            out_rows: List[tuple] = []
            extras: List[list] = [[] for _ in passthrough]
            page_numbers = (
                pdf["page_number"] if "page_number" in pdf.columns else None
            )
            pass_cols = [pdf[c] for c in passthrough]
            for i, (url, html) in enumerate(zip(pdf["url"], pdf["html"])):
                pn = int(page_numbers.iloc[i]) if page_numbers is not None else 1
                if html is None:
                    continue  # fetch error → no content → skip (utils.py:21-28)
                if decompress is not None:
                    html = decompress(bytes(html))
                rows = extract_page_rows(
                    plan, url, html, page_number=pn,
                    follow_urls=follow_urls, link_mode=link_mode,
                )
                out_rows.extend(rows)
                for k, c in enumerate(pass_cols):
                    extras[k].extend([c.iloc[i]] * len(rows))
            data = {}
            columns = list(zip(*out_rows)) if out_rows else [[] for _ in ROW_FIELDS]
            for j, name in enumerate(ROW_FIELDS):
                data[name] = columns[j]
            for k, name in enumerate(passthrough):
                data[name] = extras[k]
            yield pd.DataFrame(data, columns=cols)

    return it
