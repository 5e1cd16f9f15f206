"""Seeded benchmark inputs and the closed-form oracles that check them.

Pure Python (no Spark): the same seed always yields byte-identical inputs,
and the oracles recompute every expected output from the generated link
graph, robots rules and documents alone, without calling the engine.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple
from urllib.parse import urljoin, urlsplit

# -- vocabulary ---------------------------------------------------------------

_SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qui", "dra",
    "mon", "bel", "tor", "fin", "gal", "hes", "jor", "lux", "nim", "orb",
    "pel", "ris",
]


def _vocab(size: int = 6000) -> List[str]:
    """A fixed vocabulary of distinct pseudo-words (identical for every
    seed, so only the seeded choices differ between runs)."""
    rng = random.Random(12345)
    words: set = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


VOCAB = _vocab()


def _words(rng: random.Random, n: int) -> List[str]:
    return [VOCAB[rng.randrange(len(VOCAB))] for _ in range(n)]


# -- crawl corpus ---------------------------------------------------------------


@dataclass(frozen=True)
class CrawlSpec:
    """Shape of one synthetic web.

    Every crawled host holds ``pages_per_host`` pages. Page ``i`` links to
    its tree children ``fanout*i+1 .. fanout*i+fanout`` (so BFS depth grows
    with log_fanout of the host size), to one random earlier page (a cycle
    the seen-set must drop), by ``#fragment`` URL to one random page no
    deeper than its children (the canonicalizer must strip it), to one item
    link per group (pages that do not exist: fetch misses) and to itself
    (the kernel must drop it). Only text, filler and the random links
    depend on the seed, so every seed crawls the same number of URLs.
    """

    hosts: int
    pages_per_host: int
    fanout: int
    pad: int                      # filler paragraphs per page (page weight)
    robots_hosts: int             # rows in the robots dim (>= hosts)
    round_seconds: int            # politeness window per round
    max_delay: int                # crawl-delay of host h is h % (max_delay+1)
    driver_frontier_max: int


@dataclass
class Page:
    url: str
    hrefs: List[str]              # raw <a href> values in document order
    titles: List[str]             # one per div.custom-group
    html: bytes                   # UTF-8 page (stored zlib-compressed)


@dataclass
class Corpus:
    pages: List[Page]
    seeds: List[str]
    robots: List[Tuple[str, str]]  # (host, robots.txt)
    spec: CrawlSpec

    def robots_rules(self) -> Dict[str, Tuple[int, List[str]]]:
        """host -> (crawl_delay, disallowed path prefixes), read back from
        the robots.txt text this module wrote."""
        out = {}
        for host, txt in self.robots:
            delay, prefixes = 0, []
            for line in txt.splitlines():
                key, _, val = line.partition(":")
                if key.strip().lower() == "disallow" and val.strip():
                    prefixes.append(val.strip())
                elif key.strip().lower() == "crawl-delay":
                    delay = int(val.strip())
            out[host] = (delay, prefixes)
        return out


def _host(h: int) -> str:
    return f"host-{h}.test"


def _page_url(h: int, i: int) -> str:
    return f"https://{_host(h)}/page-{i}.html"


def _render(page_id: str, titles: List[str], hrefs_tail: List[str],
            item_hrefs: List[str], text: str, filler: str) -> str:
    parts = [
        '<!DOCTYPE html>\n<html lang="en">\n<head><meta charset="UTF-8">'
        f"<title>Page {page_id}</title></head>\n<body>\n"
    ]
    for title, item in zip(titles, item_hrefs):
        parts.append(
            f'<div class="custom-group">\n<a class="url" href="{item}">'
            f'<p class="title">{title}</p></a>\n'
            f'<p class="description">About {title}</p>\n</div>\n'
        )
    parts.append(f'<p class="content">{text}</p>\n')
    parts.append(filler)
    for href in hrefs_tail:
        parts.append(f'<div><a class="next" href="{href}">Next</a></div>\n')
    parts.append("</body>\n</html>\n")
    return "".join(parts)


def make_corpus(spec: CrawlSpec, seed: int) -> Corpus:
    rng = random.Random(seed)
    # filler: a run of ``pad`` paragraphs starting at a random offset of a
    # per-seed ring of 64 paragraphs, cut as one slice per page
    pool = [
        f'<p class="filler">{j} {" ".join(_words(rng, 36))}</p>\n' for j in range(64)
    ]
    ring = pool * (spec.pad // len(pool) + 2)
    offsets = [0]
    for para in ring:
        offsets.append(offsets[-1] + len(para))
    ring_text = "".join(ring)
    pages: List[Page] = []
    n = spec.pages_per_host
    for h in range(spec.hosts):
        for i in range(n):
            kids = [spec.fanout * i + c for c in range(1, spec.fanout + 1)]
            tail = [f"page-{k}.html" for k in kids if k < n]
            tail.append(f"page-{rng.randrange(max(1, i))}.html")
            tail.append(
                f"page-{rng.randrange(min(n, spec.fanout * i + 1))}.html#s{rng.randrange(9)}"
            )
            tail.append(f"page-{i}.html")
            groups = 1 + (h + i) % 3
            titles = [f"Title {h}-{i}-{k}" for k in range(groups)]
            items = [f"item-{i}-{k}.html" for k in range(groups)]
            start = rng.randrange(len(pool))
            filler = ring_text[offsets[start]:offsets[start + spec.pad]]
            html = _render(
                f"{h}-{i}", titles, tail, items, " ".join(_words(rng, 30)), filler
            )
            pages.append(
                Page(
                    url=_page_url(h, i),
                    hrefs=items + tail,
                    titles=titles,
                    html=html.encode("utf-8"),
                )
            )
    robots = []
    for h in range(spec.robots_hosts):
        if h % 5 == 4:
            continue  # no robots.txt: fail-open
        lines = ["User-Agent: *"]
        if h % 4 == 0:
            # a path prefix: blocks page-3, page-30.., page-300.. — a subtree
            lines.append("Disallow: /page-3")
        lines.append(f"Crawl-Delay: {h % (spec.max_delay + 1)}")
        robots.append((_host(h), "\n".join(lines) + "\n"))
    seeds = [_page_url(h, 0) for h in range(spec.hosts)]
    return Corpus(pages=pages, seeds=seeds, robots=robots, spec=spec)


# -- closed-form crawl --------------------------------------------------------


@dataclass
class CrawlOracle:
    trace: List[Tuple[str, int]]              # (url, seq) of every fetch
    rounds: int
    data: List[Tuple[str, str, Optional[str]]]  # (page_url, title, item_href)
    deferred: int
    candidates: int        # gated links offered to the seen-set, all rounds


def _path(url: str) -> str:
    return urlsplit(url).path or "/"


def bfs_oracle(corpus: Corpus) -> CrawlOracle:
    """The crawl the engine must perform, computed from the generated link
    graph and robots rules: rounds fetch the whole pending frontier except
    that a crawl-delay host whose pending count exceeds its per-round
    budget fetches only its first ``budget`` rows in (depth, seq) order;
    new links are gated (seed hosts, robots prefixes), canonicalized,
    dropped when already seen, and numbered in (parent seq, link order)."""
    spec = corpus.spec
    by_url = {p.url: p for p in corpus.pages}
    rules = corpus.robots_rules()
    allowed = {urlsplit(u).hostname for u in corpus.seeds}

    def gate(url: str) -> bool:
        host = urlsplit(url).hostname
        if host not in allowed:
            return False
        path = _path(url)
        return not any(path.startswith(p) for p in rules.get(host, (0, []))[1])

    def budget(host: str) -> Optional[int]:
        delay = rules.get(host, (0, []))[0]
        return max(1, spec.round_seconds // delay) if delay else None

    pending = [(u, 0, s) for s, u in enumerate(corpus.seeds) if gate(u)]
    seen = {u for u, _, _ in pending}
    next_seq = max((s for _, _, s in pending), default=-1) + 1
    trace: List[Tuple[str, int]] = []
    data: List[Tuple[str, str, Optional[str]]] = []
    rounds = deferred_total = n_cands = 0
    while pending:
        rounds += 1
        per_host: Dict[str, list] = {}
        for row in pending:
            per_host.setdefault(urlsplit(row[0]).hostname, []).append(row)
        fetch, deferred = [], []
        for host, rows in per_host.items():
            b = budget(host)
            if b is not None and len(rows) > b:
                rows = sorted(rows, key=lambda r: (r[1], r[2]))
                fetch += rows[:b]
                deferred += rows[b:]
            else:
                fetch += rows
        deferred_total += len(deferred)
        cands = []
        for url, depth, seq in fetch:
            trace.append((url, seq))
            page = by_url.get(url)
            if page is None:
                continue
            for title, item in zip(page.titles, page.hrefs):
                data.append((url, title, None))
                data.append((url, None, item))
            links = [urljoin(url, h) for h in page.hrefs]
            links = [u for u in links if u.rstrip("/") != url.rstrip("/")]
            for li, link in enumerate(links):
                link = link.split("#", 1)[0]
                if gate(link):
                    cands.append((seq, li, link, depth + 1))
        cands.sort()
        n_cands += len(cands)
        new = []
        for _, _, link, depth in cands:
            if link not in seen:
                seen.add(link)
                new.append((link, depth, next_seq))
                next_seq += 1
        pending = deferred + new
    return CrawlOracle(trace=sorted(trace), rounds=rounds, data=sorted(data, key=str),
                       deferred=deferred_total, candidates=n_cands)


# -- documents for the text pipeline -------------------------------------------


@dataclass(frozen=True)
class DocsSpec:
    docs: int              # training documents (planted copies included)
    min_len: int
    max_len: int
    near_dup_groups: int   # groups of 2-3 near-identical documents
    decoys: int            # pairs that share about half their text
    eval_docs: int         # held-out evaluation slice
    contaminated: int      # training documents carrying an eval span
    shingle_n: int = 3
    gram_k: int = 8
    threshold: float = 0.8


@dataclass
class Docs:
    train: List[Tuple[int, str]]
    eval: List[Tuple[int, str]]
    planted: List[Tuple[int, int]]   # near-duplicate pairs, by construction
    spec: DocsSpec


def make_docs(spec: DocsSpec, seed: int) -> Docs:
    rng = random.Random(seed)

    def text(n: int) -> List[str]:
        return _words(rng, n)

    train: List[List[str]] = []
    planted: List[Tuple[int, int]] = []
    for g in range(spec.near_dup_groups):
        base = text(rng.randint(spec.min_len, spec.max_len))
        first = len(train)
        train.append(base)
        # each copy edits one END token of the previous one (one shingle
        # changes: Jaccard (n-1)/(n+1) over n shingles), so a group is a
        # chain, not a star
        for c in range(1 + g % 2):
            nxt = list(train[-1])
            nxt[0 if c == 0 else -1] = VOCAB[rng.randrange(len(VOCAB))]
            train.append(nxt)
            planted.append((first + c, first + c + 1))
    for _ in range(spec.decoys):
        a = text(rng.randint(spec.min_len, spec.max_len))
        b = a[: len(a) // 2] + text(len(a) - len(a) // 2)
        train += [a, b]
    while len(train) < spec.docs:
        train.append(text(rng.randint(spec.min_len, spec.max_len)))
    order = list(range(len(train)))
    rng.shuffle(order)
    pos = {old: new for new, old in enumerate(order)}
    train = [train[old] for old in order]
    planted = sorted(tuple(sorted((pos[a], pos[b]))) for a, b in planted)
    evals = [text(rng.randint(spec.min_len, spec.max_len)) for _ in range(spec.eval_docs)]
    planted_docs = {d for p in planted for d in p}
    victims = rng.sample(
        [i for i in range(len(train)) if i not in planted_docs], spec.contaminated
    )
    for i in victims:
        src = evals[rng.randrange(len(evals))]
        span_len = rng.randint(spec.gram_k, spec.gram_k + 8)
        start = rng.randrange(len(src) - span_len + 1)
        at = rng.randrange(len(train[i]) + 1)
        train[i] = train[i][:at] + src[start:start + span_len] + train[i][at:]
    out_train = []
    for i, words in enumerate(train):
        t = " ".join(words)
        if i % 7 == 3:
            # case and whitespace noise: normalization must undo it
            t = t.replace(" ", "  ", 3).capitalize()
        out_train.append((i, t))
    out_eval = [(100_000_000 + j, " ".join(w)) for j, w in enumerate(evals)]
    return Docs(train=out_train, eval=out_eval, planted=planted, spec=spec)


def _tokens(text: str) -> List[str]:
    return text.lower().split()


def _grams(text: str, n: int) -> set:
    t = _tokens(text)
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = _grams(a, n), _grams(b, n)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def dedup_oracle(docs: Docs) -> Dict[int, int]:
    """doc_id -> smallest doc_id of its component, over every document pair
    whose exact shingle Jaccard reaches the threshold (pairs found through a
    shingle inverted index; only involved documents appear)."""
    n = docs.spec.shingle_n
    sets = {d: _grams(t, n) for d, t in docs.train}
    index: Dict[str, List[int]] = {}
    for d, s in sets.items():
        for g in s:
            index.setdefault(g, []).append(d)
    pairs = set()
    for ids in index.values():
        if 1 < len(ids) <= 64:
            for i, a in enumerate(ids):
                for b in ids[i + 1:]:
                    pairs.add((min(a, b), max(a, b)))
    parent: Dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        sa, sb = sets[a], sets[b]
        if len(sa & sb) / len(sa | sb) >= docs.spec.threshold:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in parent}


def hash32(s: str, salt: str) -> int:
    """``int(md5(salt:s)[:8], 16)`` — the engine's portable gram hash."""
    return int(hashlib.md5(f"{salt}:{s}".encode("utf-8")).hexdigest()[:8], 16)


def decontam_oracle(docs: Docs) -> Dict[int, int]:
    """doc_id -> number of distinct k-grams whose hash occurs among the
    evaluation slice's k-gram hashes (documents with at least one)."""
    k = docs.spec.gram_k
    bench = {hash32(g, "span") for _, t in docs.eval for g in _grams(t, k)}
    out = {}
    for d, t in docs.train:
        hits = sum(1 for g in _grams(t, k) if hash32(g, "span") in bench)
        if hits:
            out[d] = hits
    return out


def fingerprint(obj) -> str:
    """Stable digest of generated inputs (used by the determinism tests)."""
    h = hashlib.sha256()
    if isinstance(obj, Corpus):
        for p in obj.pages:
            h.update(p.url.encode())
            h.update(p.html)
        h.update(repr(obj.robots).encode())
        h.update(repr(obj.seeds).encode())
    else:
        h.update(repr((obj.train, obj.eval, obj.planted)).encode())
    return h.hexdigest()
