"""Minimal HTML DOM + selector engine (pure stdlib).

This is the executor-side extraction kernel of the engine. The runtime image
has no lxml/bs4/cssselect, so we implement the selector surface the reference
engine exposes (CSS / XPath / text-contains / regex — see
``/root/reference/dude/rule.py:6-11`` and the per-backend ``_get_elements``
implementations, e.g. ``/root/reference/dude/optional/lxml_scraper.py:181-199``)
on top of ``html.parser``.

Semantics are pinned to the reference's lxml backend:

- CSS (and untyped ``selector=``) — evaluated with *descendant-or-self*
  scope relative to the context element (lxml's ``Element.cssselect``).
  Supported subset: tag, ``.class``, ``#id``, ``[attr]`` with operators
  ``= ~= ^= $= *= |=`` (plus the CSS4 ``[attr=v i]`` ASCII
  case-insensitive flag; ``s`` keeps the default), ``*``, ``:root``,
  structural pseudo-classes (``:first-child :last-child :only-child
  :empty :nth-child(an+b|odd|even) :nth-last-child :first-of-type
  :last-of-type :nth-of-type :nth-last-of-type :not(compound)``),
  ``:is(sel-list)``/``:where(sel-list)`` (any-of over complex selectors,
  matched document-wide per CSS4), ``:has(rel-sel)`` (relative selector
  with optional leading ``>``/``+``/``~`` combinator; descendant
  default), compound selectors, combinators (descendant, ``>``, ``+``,
  ``~`` — matched with backtracking, bounded to the context subtree),
  and selector groups (``,`` — split at top level only, so commas inside
  ``:is(...)``/``[...]`` nest correctly). Results in document order.
- XPath — subset compiled once per expression by one tokenizer and one
  recursive-descent parser (grammar above :class:`_XPathParser`):
  ``.//``/``//``/``./`` paths over ``name``/``*``/``node()``/``..``/
  ``@attr``/``text()`` node tests and explicit axes (``following-sibling::
  preceding-sibling:: parent:: self:: child:: descendant:: ancestor::
  ancestor-or-self:: following:: preceding::``), top-level ``|`` union
  (node-sets merge in document order, deduped), and predicates applied
  sequentially (positional predicates re-rank per parent after earlier
  filters, lxml parity) over boolean, string and numeric expressions
  (XPath 1.0 doubles; a numeric predicate value is positional, §2.4).
- TEXT selector ``s`` — lxml translation ``.//*[contains(text(), s)]``
  (``lxml_scraper.py:186-188``): *first direct text node* contains ``s``
  (XPath 1.0 node-set→string takes the first node).
- REGEX selector — lxml translation ``.//*[re:test(text(), pat, 'i')]``
  (``lxml_scraper.py:189-193``): ``re.search`` on the first direct text
  node, case-insensitive.

The Element API mirrors the slice of lxml handlers use in the reference's
tests/examples: ``.tag``, ``.attrib``, ``.get(name)``, ``.text``,
``.text_content()``, iteration over children, and ``.cssselect/.xpath``.
"""

from __future__ import annotations

import math
import operator
import re
from functools import lru_cache as _lru_cache
from html import unescape
from typing import Iterator, List, Optional, Tuple, Union

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

__all__ = ["Element", "parse_html", "css_select", "xpath_select", "select"]

_ATTR = re.compile(
    r"([^\s=/>]+)(?:\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]*)))?"
)


def _parse_attrs(raw: str) -> dict:
    """Attribute string → dict, html.parser semantics: names lowercased,
    first occurrence wins, bare attrs ⇒ '', entity refs decoded."""
    d: dict = {}
    for m in _ATTR.finditer(raw):
        name = m.group(1).lower()
        if name in d:
            continue
        if m.group(2) is not None:
            v = m.group(2)
        elif m.group(3) is not None:
            v = m.group(3)
        elif m.group(4):
            v = m.group(4)
        else:
            v = ""
        if "&" in v:
            v = unescape(v)
        d[name] = v
    return d


class Element:
    """A DOM element node. Children are ``Element`` or ``str`` (text).

    Perf notes (this object is the hot allocation of the whole engine —
    one per tag across every crawled page):

    - attributes are parsed LAZILY from the raw tag slice on first
      ``.attrib`` access; the CSS matcher pre-filters on the raw string
      (substring test, C-level) so the dict is only built for plausible
      candidates — filler markup never pays attribute parsing;
    - every element carries the document's flat element array (``_nodes``,
      document order) plus its subtree extent (``order``..``end``), so
      scoped iteration is a LIST SLICE, not a recursive generator walk.
    """

    __slots__ = ("tag", "_raw_attrs", "_attrib", "parent", "children", "order", "end", "_nodes")

    def __init__(self, tag: str, raw_attrs: str, parent: Optional["Element"], order: int):
        self.tag = tag
        self._raw_attrs = raw_attrs
        self._attrib: Optional[dict] = None
        self.parent = parent
        self.children: List[Union[Element, str]] = []
        self.order = order
        self.end = order + 1
        self._nodes: List["Element"] = ()

    @property
    def attrib(self) -> dict:
        a = self._attrib
        if a is None:
            raw = self._raw_attrs
            a = self._attrib = _parse_attrs(raw) if raw else {}
        return a

    # -- lxml-flavoured accessors -------------------------------------------
    def get(self, name: str, default=None):
        return self.attrib.get(name, default)

    def __getitem__(self, key):
        """str key → attribute (bs4 ``element["href"]`` style, used by the
        reference's fixtures ``tests/test_bs4.py:41-43``); int/slice →
        child elements (lxml style)."""
        if isinstance(key, str):
            return self.attrib[key]
        elems = [c for c in self.children if isinstance(c, Element)]
        return elems[key]

    @property
    def text(self) -> Optional[str]:
        """First child node if it is text (lxml ``.text``)."""
        if self.children and isinstance(self.children[0], str):
            return self.children[0]
        return None

    def first_text(self) -> str:
        """First *direct* text child ('' if none) — XPath ``text()`` coercion."""
        for c in self.children:
            if isinstance(c, str):
                return c
        return ""

    def text_content(self) -> str:
        """All descendant text concatenated in document order (lxml)."""
        out: List[str] = []

        def walk(node: "Element") -> None:
            for c in node.children:
                if isinstance(c, str):
                    out.append(c)
                else:
                    walk(c)

        walk(self)
        return "".join(out)

    # bs4-flavoured alias used in reference fixtures (tests/test_bs4.py:28-43)
    def get_text(self) -> str:
        return self.text_content()

    def iter(self) -> List["Element"]:
        """self + all descendant elements, document order (flat-array slice)."""
        return self._nodes[self.order : self.end]

    def iterdescendants(self) -> List["Element"]:
        return self._nodes[self.order + 1 : self.end]

    def cssselect(self, expr: str) -> List["Element"]:
        return css_select(self, expr)

    def xpath(self, expr: str):
        return xpath_select(self, expr)

    def classes(self) -> List[str]:
        return self.attrib.get("class", "").split()

    def __repr__(self) -> str:  # pragma: no cover
        return f"<Element {self.tag} @{self.order}>"


# One master token regex: the scan itself runs in C. Quoted attribute values
# may contain '>'.
_TOKEN = re.compile(
    r"<(?:"
    r"!--.*?(?:--\s*>|$)"                 # comment ('-- >' closes: html.parser)
    r"|!\[CDATA\[.*?(?:\]\s*\]\s*>|$)"    # CDATA (dropped, like a comment)
    r"|![^>]*>"                           # doctype / declaration
    r"|\?[^>]*>"                          # processing instruction
    # end tag: html.parser's endtagfind shape (optional leading space, name
    # charset [-.a-zA-Z0-9:_]) so '</ a >' closes <a> but '</x y>' does not
    r"|/\s*(?P<ctag>[a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
    # any other '</...>' is a bogus comment (HTML5 end-tag-open state;
    # html.parser emits handle_comment) — consumed through '>' and dropped
    r"|/[^>]*>"
    r"|(?P<tag>[a-zA-Z][^\s>/]*)"         # start tag name
    r"(?P<attrs>(?:\"[^\"]*\"|'[^']*'|[^>])*?)"
    r"(?P<selfc>/?)>"
    r")",
    re.DOTALL,
)
_RAWTEXT_END = {
    "script": re.compile(r"</script\s*>", re.IGNORECASE),
    "style": re.compile(r"</style\s*>", re.IGNORECASE),
}
# attrs slice ending inside an unquoted attribute value: the '/' the token
# regex captured as self-closing actually belongs to the value (HTML5
# unquoted-attribute-value state consumes '/'; html.parser agrees —
# '<a href=foo/>' is an OPEN anchor with href='foo/')
_UNQUOTED_VAL_END = re.compile(r"=\s*[^\s\"'>]*$")


def parse_html(html: Union[str, bytes]) -> Element:
    """Parse HTML and return the root *element* (e.g. ``<html>``).

    Falls back to the document node if there is no single root element,
    mirroring ``lxml.html.fromstring`` which returns the root element.

    Custom regex tokenizer instead of ``html.parser.HTMLParser``: ~3× less
    per-page CPU and far fewer allocations (attribute dicts are deferred —
    see :class:`Element`), which matters twice at scale: per-core throughput
    AND multi-core scaling, since HTML parsing is allocation/memory-bandwidth
    bound long before it is ALU bound.
    """
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    doc = Element("#document", "", None, 0)
    nodes: List[Element] = [doc]
    doc._nodes = nodes
    stack = [doc]
    pos = 0
    n = len(html)
    find = html.find
    match = _TOKEN.match
    while pos < n:
        lt = find("<", pos)
        if lt < 0:
            lt = n
        if lt > pos:
            text = html[pos:lt]
            if "&" in text:
                text = unescape(text)
            top_children = stack[-1].children
            if top_children and type(top_children[-1]) is str:
                top_children[-1] += text
            else:
                top_children.append(text)
            pos = lt
            if pos >= n:
                break
        m = match(html, lt)
        if m is None:
            # lone '<' — literal text (html.parser 'invalid markup' tolerance)
            top_children = stack[-1].children
            if top_children and type(top_children[-1]) is str:
                top_children[-1] += "<"
            else:
                top_children.append("<")
            pos = lt + 1
            continue
        pos = m.end()
        tag = m.group("tag")
        if tag is not None:
            if not tag.islower():
                tag = tag.lower()
            top = stack[-1]
            raw_attrs = m.group("attrs")
            selfc = m.group("selfc")
            if selfc and raw_attrs and _UNQUOTED_VAL_END.search(raw_attrs):
                raw_attrs += "/"  # fold the '/' back into the unquoted value
                selfc = ""
            el = Element(tag, raw_attrs, top, len(nodes))
            el._nodes = nodes
            nodes.append(el)
            top.children.append(el)
            if selfc or tag in VOID_ELEMENTS:
                pass  # end already = order + 1
            elif tag in _RAWTEXT_END:
                end_m = _RAWTEXT_END[tag].search(html, pos)
                if end_m is None:
                    if pos < n:
                        el.children.append(html[pos:])
                    pos = n
                else:
                    if end_m.start() > pos:
                        el.children.append(html[pos : end_m.start()])
                    pos = end_m.end()
            else:
                stack.append(el)
            continue
        ctag = m.group("ctag")
        if ctag is not None:
            if not ctag.islower():
                ctag = ctag.lower()
            if ctag in VOID_ELEMENTS:
                continue
            # close the nearest matching open tag (tolerant of mis-nesting)
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == ctag:
                    cnt = len(nodes)
                    for j in range(i, len(stack)):
                        stack[j].end = cnt
                    del stack[i:]
                    break
        # comments / doctype / PI: dropped

    cnt = len(nodes)
    for el in stack:
        el.end = cnt
    roots = [c for c in doc.children if isinstance(c, Element)]
    if len(roots) == 1:
        return roots[0]
    return doc


# ---------------------------------------------------------------------------
# CSS subset engine
# ---------------------------------------------------------------------------

_CSS_TOKEN = re.compile(
    r"""
    (?P<tag>\*|[a-zA-Z][\w-]*)
  | \.(?P<cls>[\w-]+)
  | \#(?P<id>[\w-]+)
  | \[(?P<attr>[\w-]+)(?:(?P<op>[~^$*|]?=)(?:"(?P<dval>[^"]*)"|'(?P<sval>[^']*)'|(?P<val>[^\]"'\s]*))(?:\s+(?P<aflag>[iIsS]))?)?\s*\]
  | :(?P<pseudo>[\w-]+)(?:\((?P<parg>[^()"']*)\))?  # quoted/nested args → balanced rescan
    """,
    re.VERBOSE,
)

_PSEUDO_ELEMENT = re.compile(r"::([\w-]+)")

_NTH = re.compile(r"^\s*(?:(?P<a>[+-]?\d*)n\s*(?P<b>[+-]\s*\d+)?|(?P<idx>[+-]?\d+))\s*$")


def _parse_nth(arg: str) -> Tuple[int, int]:
    """nth-child argument → (a, b) of an+b; supports odd/even/N/an+b."""
    arg = arg.strip().lower()
    if arg == "odd":
        return 2, 1
    if arg == "even":
        return 2, 0
    m = _NTH.match(arg)
    if not m:
        raise ValueError(f"unsupported :nth-child() argument: {arg!r}")
    if m.group("idx") is not None:
        return 0, int(m.group("idx"))
    a_s = m.group("a")
    a = 1 if a_s in ("", "+") else (-1 if a_s == "-" else int(a_s))
    b = int(m.group("b").replace(" ", "")) if m.group("b") else 0
    return a, b


def _parse_nth_pseudo(kind: str, arg: str) -> tuple:
    """``:nth-child()``/``:nth-last-child()`` argument → pseudo tuple.

    Plain ``An+B|odd|even`` → ``(kind, a, b)``; the CSS4
    ``An+B of <selector-list>`` form (index counted among siblings
    matching the list) → ``(kind, a, b, [chain, ...])``.
    """
    cuts = [
        i for i, c in _css_top(arg)
        if arg.startswith("of", i) and arg[i - 1:i].isspace() and arg[i + 2:i + 3].isspace()
    ]
    if not cuts:
        return (kind, *_parse_nth(arg))
    if len(cuts) != 1:
        raise ValueError(f"unsupported :{kind}-child() argument: {arg!r}")
    a, b = _parse_nth(arg[: cuts[0]])
    chains = [_parse_css_chain(p) for p in _split_selector_list(arg[cuts[0] + 2:])]
    return (kind, a, b, chains)


class _Compound:
    __slots__ = ("tag", "classes", "id", "attrs", "root", "pseudos")

    def __init__(self) -> None:
        self.tag: Optional[str] = None
        self.classes: List[str] = []
        self.id: Optional[str] = None
        # (name, op, val); op ∈ {'=', '~=', '^=', '$=', '*=', '|='}, val None
        # for bare [attr]
        self.attrs: List[Tuple[str, str, Optional[str]]] = []
        self.root = False
        # ('nth', a, b) | ('nth-type', a, b) | ('last',) | ('last-type',)
        # | ('only',) | ('empty',) | ('not', _Compound)
        self.pseudos: List[tuple] = []

    @staticmethod
    def _attr_op(av: str, op: str, val: str) -> bool:
        if op.endswith("i"):  # `[attr=v i]` flag: val pre-lowercased at parse
            av, op = av.lower(), op[:-1]
        if op == "=":
            return av == val
        if op == "~=":
            return val in av.split()
        if op == "|=":
            return av == val or av.startswith(val + "-")
        if not val:
            return False  # ^=/$=/*= with empty value match nothing (CSS spec)
        if op == "^=":
            return av.startswith(val)
        if op == "$=":
            return av.endswith(val)
        return val in av  # *=

    def _sibling_position(self, el: Element, of_type: bool) -> Tuple[int, int]:
        """(1-based index, count) among the parent's element children
        (optionally same-tag only)."""
        p = el.parent
        if p is None:
            return 1, 1
        sibs = [
            c for c in p.children
            if isinstance(c, Element) and (not of_type or c.tag == el.tag)
        ]
        return sibs.index(el) + 1, len(sibs)

    def _pseudo_match(self, el: Element) -> bool:
        for ps in self.pseudos:
            kind = ps[0]
            if kind in ("nth", "nth-type", "nth-last", "nth-last-type"):
                a, b = ps[1], ps[2]
                if len(ps) == 4:
                    # An+B `of S`: index among siblings matching the
                    # selector list (el itself must match S)
                    root = _doc_root(el)
                    chains = ps[3]

                    def _of(x: Element) -> bool:
                        return any(
                            _css_chain_matches(x, ch, root) for ch in chains
                        )

                    if not _of(el):
                        return False
                    p = el.parent
                    sibs = [
                        c
                        for c in (p.children if p is not None else [el])
                        if isinstance(c, Element) and _of(c)
                    ]
                    idx, n = sibs.index(el) + 1, len(sibs)
                else:
                    idx, n = self._sibling_position(el, kind.endswith("type"))
                if kind.startswith("nth-last"):
                    idx = n - idx + 1  # :nth-last-*: position from the end
                if a == 0:
                    if idx != b:
                        return False
                else:
                    d = idx - b
                    if d % a != 0 or d // a < 0:
                        return False
            elif kind in ("last", "last-type"):
                idx, n = self._sibling_position(el, kind == "last-type")
                if idx != n:
                    return False
            elif kind == "only":
                idx, n = self._sibling_position(el, False)
                if n != 1:
                    return False
            elif kind == "empty":
                for c in el.children:
                    if isinstance(c, Element) or (isinstance(c, str) and c):
                        return False
            elif kind == "lang":
                cur: Optional[Element] = el
                av = None
                while cur is not None:
                    v = cur.get("lang")
                    if v is not None:
                        av = v.lower()
                        break
                    cur = cur.parent
                if av is None or not any(
                    av == c or av.startswith(c + "-") for c in ps[1]
                ):
                    return False
            elif kind == "is":
                # :is(sel-list) / :where(): matches if ANY selector in the
                # list matches; complex selectors are matched against the
                # whole document (CSS4 — :is args are not scope-bounded)
                root = _doc_root(el)
                if not any(
                    _css_chain_matches(el, ch, root) for ch in ps[1]
                ):
                    return False
            elif kind == "has":
                full, marker, combin = ps[1]
                root = _doc_root(el)
                marker.target = el
                try:
                    if combin in (" ", ">"):
                        cands = (d for d in el.iter() if d is not el)
                    else:  # '+'/'~': following siblings' subtrees
                        cands = []
                        p = el.parent
                        if p is not None:
                            sibs = [
                                c for c in p.children if isinstance(c, Element)
                            ]
                            for s in sibs[sibs.index(el) + 1:]:
                                cands.extend(s.iter())
                    # the marker compound pins the relative selector's anchor
                    # to `el`; _css_chain_matches enforces the combinator
                    if not any(
                        _css_chain_matches(d, full, root) for d in cands
                    ):
                        return False
                finally:
                    marker.target = None
            else:  # ('not', compound)
                if ps[1].matches(el):
                    return False
        return True

    def matches(self, el: Element) -> bool:
        if self.tag is not None and self.tag != "*" and el.tag != self.tag:
            return False
        if self.root:
            # :root = element whose parent is the document node
            if el.parent is not None and el.parent.tag != "#document":
                return False
        if self.id is None and not self.classes and not self.attrs:
            return self._pseudo_match(el) if self.pseudos else True
        if el._attrib is None:
            # attrs not parsed yet: cheap substring pre-reject on the raw tag
            # slice (a matching id/class/attr name must appear literally in
            # it) — only plausible candidates pay the dict build below.
            # Skipped when the raw slice is entity-encoded ('&'): the decoded
            # value may match even though the encoded text doesn't. Attribute
            # NAMES are matched against the lowercased raw (the attrib dict
            # lowercases names, so '<p DATA-FOO>' must not be pre-rejected
            # for '[data-foo]'); id/class VALUES are case-sensitive, so the
            # original-case test is a valid necessary condition for them.
            raw = el._raw_attrs
            if "&" not in raw:
                if self.id is not None and self.id not in raw:
                    return False
                for c in self.classes:
                    if c not in raw:
                        return False
                if self.attrs:
                    raw_l = raw.lower()
                    for name, _op, _val in self.attrs:
                        if name not in raw_l:
                            return False
        attrib = el.attrib
        if self.id is not None and attrib.get("id") != self.id:
            return False
        if self.classes:
            cls = attrib.get("class", "").split()
            for c in self.classes:
                if c not in cls:
                    return False
        for name, op, val in self.attrs:
            if name not in attrib:
                return False
            if val is not None and not self._attr_op(attrib[name], op, val):
                return False
        if self.pseudos and not self._pseudo_match(el):
            return False
        return True


class _ScopeMarker:
    """Pseudo-compound matching only the :has() anchor element; ``target``
    is pinned per-candidate during evaluation (single-threaded per task)."""

    __slots__ = ("target",)

    def __init__(self) -> None:
        self.target: Optional[Element] = None

    def matches(self, el: Element) -> bool:
        return el is self.target


def _doc_root(el: Element) -> Element:
    while el.parent is not None:
        el = el.parent
    return el


def _css_top(s: str, start: int = 0) -> Iterator[Tuple[int, str]]:
    """``(index, char)`` of each character of ``s[start:]`` outside quotes,
    ``(...)`` and ``[...]``: an opening bracket is reported before its
    contents and its closer after them (so a ``:not(...)`` argument ends at
    the next reported ``)``). Parens nest; an attribute selector runs to
    its first unquoted ``]``."""
    depth = 0
    in_attr = False
    q: Optional[str] = None
    for i in range(start, len(s)):
        c = s[i]
        if q:
            if c == q:
                q = None
            continue
        if c in "\"'":
            q = c
        elif in_attr:
            if c == "]":
                in_attr = False
                yield i, c
            continue
        elif c == "(":
            depth += 1
            if depth == 1:
                yield i, c
            continue
        elif c == ")":
            depth -= 1
        elif c == "[" and depth == 0:
            in_attr = True
        if depth == 0:
            yield i, c


def _split_selector_list(expr: str) -> List[str]:
    """Split a selector list on top-level commas only (commas inside
    ``()``/``[]`` — e.g. ``:is(a, b)`` — belong to the nested selector).
    Quote-aware: brackets/commas inside ``"..."``/``'...'`` (attribute
    values like ``[title="a]b"]``) don't affect nesting depth."""
    parts: List[str] = []
    depth = 0
    q: Optional[str] = None
    buf = ""
    for ch in expr:
        if q:
            if ch == q:
                q = None
        elif ch in "\"'":
            q = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0 and q is None:
            parts.append(buf)
            buf = ""
        else:
            buf += ch
    parts.append(buf)
    out = [s.strip() for s in parts]
    if any(not p for p in out):
        raise ValueError(f"empty selector in list: {expr!r}")
    return out


def _parse_has_arg(arg: str):
    """Parse a :has() relative selector: optional leading combinator
    (``>``, ``+``, ``~``; default descendant) + complex selector. Returns
    (chain-with-scope-marker, marker, combinator)."""
    arg = arg.strip()
    combin = " "
    if arg and arg[0] in ">+~":
        combin = arg[0]
        arg = arg[1:].strip()
    chain = _parse_css_chain(arg)
    marker = _ScopeMarker()
    full = [(" ", marker), (combin, chain[0][1])] + chain[1:]
    return full, marker, combin


def _parse_compound(s: str) -> _Compound:
    comp = _Compound()
    pos = 0
    while pos < len(s):
        m = _CSS_TOKEN.match(s, pos)
        if not m:
            pe = _PSEUDO_ELEMENT.match(s, pos)
            if pe:
                # parsel's ::text / ::attr(name) extract VALUES; selectors
                # here return elements — the handler reads the value
                hint = {
                    "text": ": select the element and read its text in the "
                    "handler (kernels.text / Element.text_content())",
                    "attr": ": select the element and read the attribute in "
                    "the handler (kernels.attr / Element.get(name))",
                }.get(pe.group(1).lower(), "")
                raise ValueError(f"unsupported CSS pseudo-element ::{pe.group(1)}{hint}")
            raise ValueError(f"unsupported CSS selector fragment: {s[pos:]!r}")
        next_pos = m.end()
        if m.group("tag"):
            # HTML element/attribute names are ASCII case-insensitive
            # (lxml's HTML translator lowercases them); id/class values
            # stay case-sensitive
            comp.tag = m.group("tag").lower()
        elif m.group("cls"):
            comp.classes.append(m.group("cls"))
        elif m.group("id"):
            if comp.id is None:
                comp.id = m.group("id")
            else:
                # a second #id in one compound is an AND (unsatisfiable
                # unless equal), not an overwrite — keep it as an attr test
                comp.attrs.append(("id", "=", m.group("id")))
        elif m.group("attr"):
            op = m.group("op") or "="
            if m.group("dval") is not None:
                val = m.group("dval")
            elif m.group("sval") is not None:
                val = m.group("sval")
            else:
                val = m.group("val")
            # `[attr="v" i]`: ASCII case-insensitive value match (CSS4);
            # `s` forces the case-sensitive default
            if (m.group("aflag") or "").lower() == "i" and val is not None:
                val = val.lower()
                op = op + "i"
            comp.attrs.append((m.group("attr").lower(), op, val))
        elif m.group("pseudo"):
            name = m.group("pseudo").lower()
            arg = m.group("parg")
            if arg is None and next_pos < len(s) and s[next_pos] == "(":
                # nested parens (e.g. :not(em:nth-child(2))): the token
                # regex's [^()]* arg can't span them — rescan balanced
                end = next((i for i, c in _css_top(s, next_pos) if c == ")"), None)
                if end is None:
                    raise ValueError(f"unbalanced parens in {s!r}")
                arg = s[next_pos + 1 : end]
                next_pos = end + 1
            if name == "root":
                comp.root = True
            elif name == "first-child":
                comp.pseudos.append(("nth", 0, 1))
            elif name == "last-child":
                comp.pseudos.append(("last",))
            elif name == "only-child":
                comp.pseudos.append(("only",))
            elif name == "empty":
                comp.pseudos.append(("empty",))
            elif name == "first-of-type":
                comp.pseudos.append(("nth-type", 0, 1))
            elif name == "last-of-type":
                comp.pseudos.append(("last-type",))
            elif name == "nth-child" and arg is not None:
                comp.pseudos.append(_parse_nth_pseudo("nth", arg))
            elif name == "nth-of-type" and arg is not None:
                comp.pseudos.append(("nth-type", *_parse_nth(arg)))
            elif name == "nth-last-child" and arg is not None:
                comp.pseudos.append(_parse_nth_pseudo("nth-last", arg))
            elif name == "nth-last-of-type" and arg is not None:
                comp.pseudos.append(("nth-last-type", *_parse_nth(arg)))
            elif name == "not" and arg is not None:
                comp.pseudos.append(("not", _parse_compound(arg.strip())))
            elif name in ("is", "where") and arg is not None:
                comp.pseudos.append((
                    "is",
                    [_parse_css_chain(p) for p in _split_selector_list(arg)],
                ))
            elif name == "has" and arg is not None:
                comp.pseudos.append(("has", _parse_has_arg(arg)))
            elif name == "lang" and arg is not None:
                # :lang(en) / CSS4 comma list :lang(fr, es). Matches when
                # the element's inherited language (nearest ancestor-or-
                # self @lang) equals a code or is a hyphen-extension of it
                # (XPath lang() semantics, ASCII case-insensitive) — the
                # lxml.cssselect translation target.
                codes = [
                    c.strip().strip("\"'").lower()
                    for c in arg.split(",")
                    if c.strip().strip("\"'")
                ]
                if not codes:
                    raise ValueError(f"empty :lang() argument: {arg!r}")
                comp.pseudos.append(("lang", codes))
            else:
                raise ValueError(f"unsupported CSS pseudo-class: :{name}")
        pos = next_pos
    return comp


def _parse_css_chain(sel: str) -> List[Tuple[str, _Compound]]:
    """Parse one complex selector into [(combinator, compound), ...].

    combinator (the relation to the PREVIOUS compound): ' ' descendant,
    '>' child, '+' adjacent sibling, '~' general sibling; first entry's
    combinator is the 'self-or-descendant' scope marker.
    """
    parts: List[Tuple[str, _Compound]] = []
    sel = sel.strip()
    combin = " "
    start = 0  # start of the current compound
    for i, ch in _css_top(sel):
        if ch in " >+~":
            if i > start:
                parts.append((combin, _parse_compound(sel[start:i])))
                combin = " "
            if ch in ">+~":
                combin = ch
            start = i + 1
    if start < len(sel):
        parts.append((combin, _parse_compound(sel[start:])))
    if not parts:
        raise ValueError(f"empty CSS selector: {sel!r}")
    if parts[0][0] != " ":  # leading combinator ('> x') unsupported
        raise ValueError(f"unsupported CSS selector start: {sel!r}")
    return parts


def _css_chain_matches(
    el: Element, chain: List[Tuple[str, _Compound]], scope: Element, idx: int = -1
) -> bool:
    """Match ``el`` against ``chain[..idx]`` rightmost-first with
    backtracking (needed for mixed sibling/descendant chains like
    ``a + b c``), bounded to the ``scope`` subtree (lxml cssselect
    translates 'div p' on an element to descendant-or-self steps, so every
    compound must land on scope-or-descendant)."""
    if idx < 0:
        idx = len(chain) - 1
    if not chain[idx][1].matches(el):
        return False
    if idx == 0:
        return True
    combin = chain[idx][0]
    if combin == ">":
        p = el.parent
        return (
            p is not None
            and p.order >= scope.order
            and _css_chain_matches(p, chain, scope, idx - 1)
        )
    if combin in "+~":
        if el is scope or el.parent is None:
            return False
        sibs = [c for c in el.parent.children if isinstance(c, Element)]
        i = sibs.index(el)
        if combin == "+":
            return i > 0 and _css_chain_matches(sibs[i - 1], chain, scope, idx - 1)
        return any(_css_chain_matches(s, chain, scope, idx - 1) for s in sibs[:i])
    anc = el.parent
    while anc is not None and anc.order >= scope.order:
        if _css_chain_matches(anc, chain, scope, idx - 1):
            return True
        anc = anc.parent
    return False


def css_select(scope: Element, expr: str) -> List[Element]:
    """All elements under ``scope`` (self included — lxml descendant-or-self
    translation) matching ``expr``, in document order."""
    chains = [_parse_css_chain(s) for s in _split_selector_list(expr)]
    out: List[Element] = []
    for el in scope.iter():
        for chain in chains:
            if _css_chain_matches(el, chain, scope):
                out.append(el)
                break
    return out


# ---------------------------------------------------------------------------
# XPath subset engine
# ---------------------------------------------------------------------------
#
# An expression is tokenized once and compiled by one recursive-descent
# parser (:class:`_XPathParser`) into location paths whose predicates are
# closures ``f(el, position, last) -> bool``; string and number
# sub-expressions compile to closures too. Evaluation walks the compiled
# tree and never reads the expression text again; off-grammar input raises
# ValueError at compile time. ``S`` = string, ``N`` = number, ``P`` =
# relative location path:
#
#   Expr     := Path ('|' Path)*           branches start / // ./ .//
#   Path     := ['.'] ('/'|'//') Step ... | Step (('/'|'//') Step)*
#   Step     := NodeTest ('[' Pred ']')*
#   NodeTest := [axis::](name | integer | * | .. | text() | node() | @name)
#   Pred     := And ('or' And)*    And := Unary ('and' Unary)*
#               ('and'/'or' with whitespace on both sides)
#   Unary    := not(Pred) | (Pred) | Atom
#   Atom     := N [cmp N]                 a bare number is positional
#             | P ('|' P)*                non-empty node-set; leading / absolute
#             | @name                     presence
#             | S ('='|'!=') S            a bare @name side is existential
#             | contains(S, S) | starts-with(S, S) | boolean(@name|P|N|S)
#             | name() ('='|'!=') 'lit' | local-name() ...
#             | re:test(text(), 'pat'[, 'flags'])
#   N        := N ('+'|'-') N | N ('*'|div|mod) N | (N) | integer
#             | position() | last() | count(P ('|' P)*) | string-length(S)
#             | number(S | P)
#   S        := 'lit' | . | text() | @name | normalize-space(S) | string(S | P)
#             | concat(S, S, ...) | translate(S, S, S) | substring-before(S, S)
#             | substring-after(S, S) | substring(S, int[, int])
#
# An empty S argument is '.'. In a string context ``text()`` is the first
# text child and ``.`` the text content; ``string(P)`` is the first node's
# text content. ``count``/``string``/``number`` paths are relative even
# with a leading '/'.

_XP_TOKEN = re.compile(
    r"""\s*(?:
      '(?P<sq>[^']*)' | "(?P<dq>[^"]*)"
    | (?P<num>\d+)
    | (?P<step>[^\W\d][\w-]*::(?:[^\W\d][\w-]*|\*|\.\.|text\(\)|node\(\)|@[\w-]+))
    | (?P<kw>text\(\)|node\(\)|position\(\)|last\(\))
    | (?P<fn>(?:re:)?[^\W\d][\w-]*)\(
    | (?P<attr>@[\w-]+)
    | (?P<name>[^\W\d][\w-]*)
    | (?P<op>//|\.\.|!=|<=|>=|[./|()\[\],*+=<>-])
    )""",
    re.VERBOSE,
)
# node tests besides names, integers (boolean(1) tests for a child named
# '1'), @names and axis::tests
_XP_TESTS = {("op", "*"), ("op", ".."), ("kw", "text()"), ("kw", "node()")}
_XP_CMP = {
    "=": operator.eq, "!=": operator.ne, "<": operator.lt, ">": operator.gt,
    "<=": operator.le, ">=": operator.ge,
}
_XP_NUM_LEXEME = re.compile(r"-?(\d+(\.\d*)?|\.\d+)")


class _Step:
    __slots__ = ("axis", "name", "preds")

    def __init__(self, axis: str, name: str, preds: list):
        self.axis = axis  # 'child' | 'descendant'
        self.name = name  # tag | '*' | 'node()' | '..' | 'axis::test' | '@attr' | 'text()'
        self.preds = preds  # compiled predicates, f(el, position, last) -> bool


def _xpath_substring(s: str, start: int, length: Optional[int]) -> str:
    """XPath 1.0 substring(): 1-based start; out-of-range clamps (integer
    subset — fractional positions would need the round-half-up dance)."""
    begin = max(start - 1, 0)
    if length is None:
        return s[begin:]
    end = start - 1 + length  # exclusive, in 0-based coords
    return s[begin:end] if end > begin else ""


def _translate(s: str, frm: str, to: str) -> str:
    out = []
    for ch in s:
        j = frm.find(ch)  # first occurrence wins (XPath 1.0 §4.2)
        if j < 0:
            out.append(ch)
        elif j < len(to):
            out.append(to[j])
        # else: char is deleted
    return "".join(out)


def _substring_around(s: str, t: str, before: bool) -> str:
    if t == "":
        # '' occurs at position 0: nothing precedes it, everything follows
        # it (libxml2 parity)
        return "" if before else s
    pre, sep, post = s.partition(t)
    if not sep:
        return ""
    return pre if before else post


def _first_string(nodes: list) -> str:
    """node-set → string: the FIRST node's string value, '' when empty
    (XPath 1.0 §4.2)."""
    if not nodes:
        return ""
    first = nodes[0]
    return first.text_content() if isinstance(first, Element) else str(first)


def _xpath_number(s: str) -> float:
    """XPath 1.0 number(): trimmed numeric lexeme → its IEEE double,
    anything else → NaN."""
    t = s.strip()
    return float(t) if _XP_NUM_LEXEME.fullmatch(t) else float("nan")


def _div(v, w):
    # XPath 1.0 numbers are doubles: `div` is TRUE division (`last() div 2`
    # = 2.5, which as a positional predicate matches nothing — lxml parity)
    try:
        return v / w
    except ZeroDivisionError:
        raise ValueError("XPath division by zero") from None


def _arith(op, f, g):
    return lambda el, pos, last: op(f(el, pos, last), g(el, pos, last))


def _or(f, g):
    return lambda el, pos, last: f(el, pos, last) or g(el, pos, last)


def _and(f, g):
    return lambda el, pos, last: f(el, pos, last) and g(el, pos, last)


_XP_ADD = {("op", "+"): operator.add, ("op", "-"): operator.sub}
_XP_MUL = {
    ("op", "*"): operator.mul,
    ("name", "div"): _div,
    ("name", "mod"): math.fmod,  # keeps the dividend's sign, unlike `%`
}


class _XPathParser:
    """One expression → compiled tree (grammar above). Methods consume
    tokens and return closures or ``(absolute, steps)`` paths."""

    def __init__(self, expr: str):
        self.expr = expr
        self.toks: List[tuple] = []  # (kind, value, start, end)
        pos = 0
        while True:
            m = _XP_TOKEN.match(expr, pos)
            if m is None:
                if expr[pos:].strip():
                    self.fail()
                break
            kind = m.lastgroup
            val = m.group(kind)
            if kind in ("sq", "dq"):
                kind = "str"
            elif kind == "num":
                val = int(val)
            self.toks.append((kind, val, m.start(m.lastgroup), m.end()))
            pos = m.end()
        self.i = 0

    def fail(self):
        raise ValueError(f"unsupported XPath: {self.expr!r}")

    def peek(self, k: int = 0) -> tuple:
        j = self.i + k
        return self.toks[j][:2] if j < len(self.toks) else ("end", None)

    def take(self) -> tuple:
        tok = self.peek()
        self.i += 1
        return tok

    def at(self, *ops: str) -> bool:
        kind, val = self.peek()
        return kind == "op" and val in ops

    def accept(self, op: str) -> bool:
        if self.at(op):
            self.i += 1
            return True
        return False

    def expect(self, op: str) -> None:
        if not self.accept(op):
            self.fail()

    def word(self, w: str, consume: bool = True) -> bool:
        """Boolean operator ``and``/``or``: whitespace-delimited as written."""
        if self.i >= len(self.toks):
            return False
        kind, val, a, b = self.toks[self.i]
        s = self.expr
        ok = kind == "name" and val == w and s[a - 1:a].isspace() and s[b:b + 1].isspace()
        if ok and consume:
            self.i += 1
        return ok

    def attempt(self, parse, close: Optional[str] = None):
        """``parse()`` (then the ``close`` token) or None, rewinding on
        failure."""
        save = self.i
        try:
            f = parse()
            if close:
                self.expect(close)
            return f
        except ValueError:
            self.i = save
            return None

    # -- location paths -----------------------------------------------------
    def top(self) -> List[List[_Step]]:
        branches = [self.path(bare=False)[1]]
        while self.accept("|"):
            branches.append(self.path(bare=False)[1])
        if self.i != len(self.toks):
            self.fail()
        return branches

    def path(self, bare: bool) -> Tuple[bool, List[_Step]]:
        """``bare``: a first step without a leading slash is child-axis."""
        absolute = self.at("/", "//")
        dot = self.accept(".")
        steps: List[_Step] = []
        while True:
            if self.accept("//"):
                axis = "descendant"
            elif self.accept("/"):
                axis = "child"
            elif bare and not steps and not dot and not self.at(".."):
                axis = "child"
            else:
                break
            kind, name = self.take()
            if kind not in ("name", "attr", "step", "num") and (kind, name) not in _XP_TESTS:
                self.fail()
            preds = []
            while self.accept("["):
                preds.append(self.pred())
                self.expect("]")
            steps.append(_Step(axis, str(name), preds))
        if not steps:
            self.fail()
        return absolute, steps

    def exists(self):
        """``P ('|' P)*`` as a boolean: some branch is non-empty (every
        branch is evaluated); a leading '/' starts at the document root."""
        branches = [self.path(bare=True)]
        while self.accept("|"):
            branches.append(self.path(bare=True))

        def f(el, pos, last):
            hit = False
            for absolute, steps in branches:
                if _walk(_doc_root(el) if absolute else el, steps):
                    hit = True
            return hit

        return f

    # -- predicates ---------------------------------------------------------
    def pred(self):
        f = self.conj()
        while self.word("or"):
            f = _or(f, self.conj())
        return f

    def conj(self):
        f = self.unary()
        while self.word("and"):
            f = _and(f, self.unary())
        return f

    def unary(self):
        if self.peek() == ("fn", "not"):
            self.i += 1
            f = self.pred()
            self.expect(")")
            return lambda el, pos, last: not f(el, pos, last)
        if self.at("("):
            # a parenthesized predicate spans the whole operand; `(N) div 2`
            # falls through to the numeric atom
            def group():
                self.i += 1
                f = self.pred()
                self.expect(")")
                if not (
                    self.at(")", "]") or self.peek()[0] == "end"
                    or self.word("and", False) or self.word("or", False)
                ):
                    self.fail()
                return f

            f = self.attempt(group)
            if f is not None:
                return f
        return self.atom()

    def atom(self):
        kind, val = self.peek()
        nxt = self.peek(1)
        eq_next = nxt in (("op", "="), ("op", "!="))
        if (
            kind == "num" or (kind, val) in (("kw", "position()"), ("kw", "last()"), ("op", "("))
            or (kind == "fn" and val in ("count", "string-length", "number"))
        ):
            a = self.num()
            if self.at(*_XP_CMP):
                cmp = _XP_CMP[self.take()[1]]
                b = self.num()
                return lambda el, pos, last: cmp(a(el, pos, last), b(el, pos, last))
            # XPath 1.0 §2.4: ANY numeric predicate value is positional —
            # [count(p)] ≡ [position() = count(p)] (lxml parity)
            return lambda el, pos, last: pos == a(el, pos, last)
        if kind == "fn" and val in ("name", "local-name"):
            # HTML has no namespaces: name() == local-name() == the tag
            self.i += 1
            self.expect(")")
            neg = self.at("!=")
            if not (self.accept("=") or self.accept("!=")):
                self.fail()
            kind, lit = self.take()
            if kind != "str":
                self.fail()
            if neg:
                return lambda el, pos, last: el.tag != lit
            return lambda el, pos, last: el.tag == lit
        if kind == "fn" and val == "re:test":
            self.i += 1
            if self.take() != ("kw", "text()"):
                self.fail()
            self.expect(",")
            kind, pat = self.take()
            flags = 0
            if self.accept(","):
                fkind, fl = self.take()
                if fkind != "str":
                    self.fail()
                flags = re.IGNORECASE if "i" in fl else 0
            self.expect(")")
            if kind != "str":
                self.fail()
            try:
                search = re.compile(pat, flags).search
            except re.error as e:
                raise ValueError(f"bad re:test() pattern {pat!r}: {e}") from None
            return lambda el, pos, last: search(el.first_text()) is not None
        if kind == "fn" and val in ("contains", "starts-with"):
            self.i += 1
            x = self.string()
            self.expect(",")
            y = self.string()
            self.expect(")")
            if val == "contains":
                return lambda el, pos, last: y(el) in x(el)
            return lambda el, pos, last: x(el).startswith(y(el))
        if kind == "fn" and val == "boolean":
            return self.boolean()
        if kind == "attr" and not eq_next:
            self.i += 1
            name = val[1:]
            return lambda el, pos, last: name in el.attrib
        if (
            kind in ("name", "step")
            or (kind == "op" and val in ("/", "//", "*"))
            or (kind, val) == ("kw", "node()")
            or ((kind, val) == ("kw", "text()") and not eq_next)
            or ((kind, val) == ("op", ".") and nxt in (("op", "/"), ("op", "//")))
        ):
            return self.exists()
        # S = S / S != S: a bare @attr side is a NODE-SET, so the
        # comparison is existential (XPath 1.0 §3.4, lxml parity) — a
        # missing attribute makes both = and != false
        xa = val[1:] if kind == "attr" else None
        x = self.string()
        neg = self.at("!=")
        if not (self.accept("=") or self.accept("!=")):
            self.fail()
        kind, val = self.peek()
        ya = val[1:] if kind == "attr" else None
        y = self.string()
        if xa is None and ya is None:
            if neg:
                return lambda el, pos, last: x(el) != y(el)
            return lambda el, pos, last: x(el) == y(el)

        def cmp(el, pos, last):
            attrib = el.attrib
            if (xa is not None and xa not in attrib) or (ya is not None and ya not in attrib):
                return False
            return (x(el) != y(el)) if neg else (x(el) == y(el))

        return cmp

    def boolean(self):
        """boolean(): @attr presence, then a location path (non-empty),
        then a number (≠0 and not NaN), then a string (non-empty)."""
        self.i += 1
        kind, val = self.peek()
        if kind == "attr" and self.peek(1) == ("op", ")"):
            self.i += 2
            name = val[1:]
            return lambda el, pos, last: name in el.attrib

        f = None if kind == "attr" else self.attempt(self.exists, ")")
        if f is not None:
            return f
        n = self.attempt(self.num, ")")
        if n is not None:
            def nonzero(el, pos, last):
                v = n(el, pos, last)
                return v != 0 and not math.isnan(v)

            return nonzero
        s = self.attempt(self.string, ")")
        if s is None:
            self.fail()
        return lambda el, pos, last: s(el) != ""

    # -- numbers ------------------------------------------------------------
    def num(self):
        f = self.term()
        while self.peek() in _XP_ADD:
            f = _arith(_XP_ADD[self.take()], f, self.term())
        return f

    def term(self):
        f = self.factor()
        while self.peek() in _XP_MUL:
            f = _arith(_XP_MUL[self.take()], f, self.factor())
        return f

    def factor(self):
        kind, val = self.take()
        if kind == "num":
            return lambda el, pos, last: val
        if (kind, val) == ("kw", "position()"):
            return lambda el, pos, last: pos
        if (kind, val) == ("kw", "last()"):
            return lambda el, pos, last: last
        if (kind, val) == ("op", "("):
            f = self.num()
            self.expect(")")
            return f
        if (kind, val) == ("fn", "count"):
            # later union branches need their own leading / or ./
            branches = [self.path(bare=True)[1]]
            while self.accept("|"):
                branches.append(self.path(bare=False)[1])
            self.expect(")")
            return lambda el, pos, last: len(_union(el, branches))
        if (kind, val) == ("fn", "string-length"):
            s = self.string()
            self.expect(")")
            return lambda el, pos, last: len(s(el))
        if (kind, val) == ("fn", "number"):
            s = self.string_or_path(attr_lead=False)
            return lambda el, pos, last: _xpath_number(s(el))
        self.fail()

    # -- strings ------------------------------------------------------------
    def string_or_path(self, attr_lead: bool):
        """``S)`` or ``P)`` — a single relative path's first node's string
        value; ``attr_lead``: the path may start with ``@name``."""
        s = self.attempt(self.string, ")")
        if s is not None:
            return s
        if not attr_lead and self.peek()[0] == "attr":
            self.fail()
        steps = self.path(bare=True)[1]
        self.expect(")")
        return lambda el: _first_string(_walk(el, steps))

    def string(self):
        kind, val = self.peek()
        if kind == "str":
            self.i += 1
            return lambda el: val
        if kind == "attr":
            self.i += 1
            name = val[1:]
            return lambda el: el.attrib.get(name) or ""
        if (kind, val) == ("kw", "text()"):
            self.i += 1
            return Element.first_text
        if (kind, val) == ("op", "."):
            self.i += 1
            return Element.text_content
        if kind != "fn":
            return Element.text_content  # an empty argument is '.'
        self.i += 1
        if val == "string":
            return self.string_or_path(attr_lead=True)
        if val == "substring":
            s = self.string()
            self.expect(",")
            start = self.integer()
            length = self.integer() if self.accept(",") else None
            self.expect(")")
            return lambda el: _xpath_substring(s(el), start, length)
        arity = {
            "normalize-space": (1, 1), "concat": (2, None), "translate": (3, 3),
            "substring-before": (2, 2), "substring-after": (2, 2),
        }.get(val)
        if arity is None:
            self.fail()
        args = [self.string()]
        while self.accept(","):
            args.append(self.string())
        self.expect(")")
        lo, hi = arity
        if len(args) < lo or (hi is not None and len(args) > hi):
            self.fail()
        if val == "normalize-space":
            a = args[0]
            return lambda el: " ".join(a(el).split())
        if val == "concat":
            return lambda el: "".join([a(el) for a in args])
        if val == "translate":
            a, b, c = args
            return lambda el: _translate(a(el), b(el), c(el))
        a, b = args
        before = val == "substring-before"
        return lambda el: _substring_around(a(el), b(el), before)

    def integer(self) -> int:
        sign = -1 if self.accept("-") else 1
        if sign == 1:
            self.accept("+")
        kind, val = self.take()
        if kind != "num":
            self.fail()
        return sign * val


@_lru_cache(maxsize=2048)
def _parse_xpath_cached(expr: str) -> List[List[_Step]]:
    """Compile once per distinct expression (the extraction kernel
    re-evaluates the same rule selectors on every page): the ``|`` branches
    of ``expr``, each a list of read-only steps."""
    return _XPathParser(expr).top()


def _elem_siblings(el: Element) -> List[Element]:
    if el.parent is None:
        return [el]
    return [c for c in el.parent.children if isinstance(c, Element)]


def _union(scope: Element, branches: List[List[_Step]]) -> list:
    if len(branches) == 1:
        return _walk(scope, branches[0])
    results = [_walk(scope, steps) for steps in branches]
    if all(isinstance(x, Element) for r in results for x in r):
        # node-set union: document order, deduped (XPath 1.0 '|')
        seen: set = set()
        merged: List[Element] = []
        for el in sorted((e for r in results for e in r), key=lambda e: e.order):
            if id(el) not in seen:
                seen.add(id(el))
                merged.append(el)
        return merged
    # strings (attribute/text results) lose node identity in this
    # engine: concatenate in branch order (documented subset)
    flat: List = []
    for r in results:
        flat.extend(r)
    return flat


def xpath_select(scope: Element, expr: str):
    """Evaluate the XPath subset; returns elements, attribute strings, or
    text strings depending on the final step."""
    return _union(scope, _parse_xpath_cached(expr))


def _walk(scope: Element, steps: List[_Step]) -> list:
    """Evaluate one compiled location path from ``scope``."""
    nodes: List[Element] = [scope]
    for step in steps:
        if step.name.startswith("@"):
            attr = step.name[1:]
            return [n.attrib[attr] for n in nodes if attr in n.attrib]
        if step.name == "text()":
            out: List[str] = []
            for n in nodes:
                out.extend(c for c in n.children if isinstance(c, str))
            return out
        # explicit axis (following-sibling::p, parent::div, ..) overrides
        # the '/'-vs-'//' axis
        axis, name = step.axis, step.name
        explicit_axis = "::" in name
        if explicit_axis:
            axis, _, name = name.partition("::")
        elif name == "..":
            axis, name = "parent", "*"
        nxt: List[Element] = []
        for n in nodes:
            # Each entry in `groups` is one evaluation context for positional
            # predicates. XPath 1.0: abbreviated `//li[2]` expands to
            # /descendant-or-self::node()/child::li[2] — position is relative
            # to each PARENT's child list (lxml parity); explicit
            # `descendant::li[2]` is position in the full descendant list.
            if axis == "descendant" and not explicit_axis:
                groups = [
                    [c for c in ctx.children if isinstance(c, Element)]
                    for ctx in (n, *n.iterdescendants())
                ]
            elif axis == "descendant":
                groups = [list(n.iterdescendants())]
            elif axis == "child":
                groups = [[c for c in n.children if isinstance(c, Element)]]
            elif axis == "following-sibling":
                sibs = _elem_siblings(n)
                groups = [sibs[sibs.index(n) + 1 :]]
            elif axis == "preceding-sibling":
                # reverse axis: position 1 = nearest preceding (XPath 1.0)
                sibs = _elem_siblings(n)
                groups = [sibs[: sibs.index(n)][::-1]]
            elif axis in ("ancestor", "ancestor-or-self"):
                # reverse axis: position 1 = self (or-self) / nearest
                # ancestor; #document excluded (lxml returns elements only)
                cand = [n] if axis == "ancestor-or-self" else []
                p = n.parent
                while p is not None and p.tag != "#document":
                    cand.append(p)
                    p = p.parent
                groups = [cand]
            elif axis == "following":
                # all elements after n's subtree in document order
                # (flat-array slice; excludes descendants by construction)
                groups = [list(n._nodes[n.end :])]
            elif axis == "preceding":
                # reverse axis, position 1 = nearest preceding; excludes
                # ancestors (their subtree extent spans n.order)
                groups = [
                    [
                        m
                        for m in n._nodes[: n.order][::-1]
                        if m.end <= n.order and m.tag != "#document"
                    ]
                ]
            elif axis == "parent":
                groups = [[n.parent] if n.parent is not None else []]
            elif axis == "self":
                groups = [[n]]
            else:
                raise ValueError(f"unsupported XPath axis: {axis!r}")
            for cand in groups:
                if name in ("node()", "*"):
                    cur = list(cand)
                else:
                    cur = [el for el in cand if el.tag == name]
                # predicates apply SEQUENTIALLY (XPath 1.0): each filters the
                # node list produced so far; position()/last() are relative to
                # that list per context
                for p in step.preds:
                    tot = len(cur)
                    cur = [el for i, el in enumerate(cur, 1) if p(el, i, tot)]
                nxt.extend(cur)
        # dedupe preserving document order (descendant axes can overlap)
        seen = set()
        nodes = []
        for el in sorted(nxt, key=lambda e: e.order):
            if id(el) not in seen:
                seen.add(id(el))
                nodes.append(el)
    return nodes


# ---------------------------------------------------------------------------
# Unified selector dispatch (reference: lxml_scraper.py:181-199)
# ---------------------------------------------------------------------------

def select(scope: Element, selector_type: str, selector_str: str) -> List[Element]:
    """Evaluate a typed selector relative to ``scope``; elements only.

    ``selector_type`` ∈ {any, css, xpath, text, regex} (rule.py:6-11);
    ANY is treated as CSS (lxml_scraper.py:184 "assume CSS").
    """
    t = selector_type.lower()
    if t in ("any", "css"):
        return css_select(scope, selector_str)
    if t == "xpath":
        res = xpath_select(scope, selector_str)
        return [r for r in res if isinstance(r, Element)]
    if t == "text":
        needle = selector_str
        return [
            el for el in scope.iterdescendants() if needle in el.first_text()
        ]
    if t == "regex":
        pat = re.compile(selector_str, re.IGNORECASE)
        return [
            el for el in scope.iterdescendants() if pat.search(el.first_text())
        ]
    raise ValueError(f"unknown selector type: {selector_type!r}")
