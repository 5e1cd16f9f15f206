"""Minimal HTML DOM + selector engine (pure stdlib).

This is the executor-side extraction kernel of the engine. The runtime image
has no lxml/bs4/cssselect, so we implement the selector surface the reference
engine exposes (CSS / XPath / text-contains / regex — see
``/root/reference/dude/rule.py:6-11`` and the per-backend ``_get_elements``
implementations, e.g. ``/root/reference/dude/optional/lxml_scraper.py:181-199``)
on top of ``html.parser``.

Semantics are pinned to the reference's lxml backend:

- CSS (and untyped ``selector=``) — subset compiled once per selector
  list (an LRU cache of 2,048 strings, like XPath's) by one
  recursive-descent parser into matcher closures (grammar above
  :class:`_CSSParser`); evaluated with *descendant-or-self* scope relative
  to the context element (lxml's ``Element.cssselect``). Supported subset:
  tag, ``.class``, ``#id``, ``[attr]`` with operators
  ``= ~= ^= $= *= |=`` (plus the CSS4 ``[attr=v i]`` ASCII
  case-insensitive flag; ``s`` keeps the default), ``*``, ``:root``,
  structural pseudo-classes (``:first-child :last-child :only-child
  :empty :nth-child(an+b|odd|even [of sel-list]) :nth-last-child
  :first-of-type :last-of-type :nth-of-type :nth-last-of-type
  :not(compound)``), ``:lang(code, ...)``, ``:is(sel-list)``/
  ``:where(sel-list)`` (any-of over complex selectors, matched
  document-wide per CSS4), ``:has(rel-sel)`` (relative selector with
  optional leading ``>``/``+``/``~`` combinator; descendant default),
  compound selectors, combinators (descendant, ``>``, ``+``, ``~`` —
  matched with backtracking, bounded to the context subtree) and selector
  lists (``,``). Results in document order.
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
from typing import Callable, List, Optional, Tuple, Union

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

__all__ = ["Element", "parse_html", "css_select", "xpath_select", "select", "compile_selector"]

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
#
# A selector list is compiled once per string (:func:`_compile_css`) by one
# recursive-descent parser (:class:`_CSSParser`) into one matcher closure
# ``f(el, scope) -> bool``. Each compound compiles to one closure; each
# pseudo-class is parsed and built in one branch of
# :meth:`_CSSParser.pseudo`; the nested lists of ``:not``, ``:is``/
# ``:where``, ``:has`` and ``An+B of S`` compile with their parent.
# Evaluation never reads the selector text again and a compiled matcher holds
# no state, so one cached matcher serves every call and every thread.
# Off-grammar input raises ValueError at compile time.
#
#   List     := Complex (',' Complex)*   any whitespace around ',' and at ends
#   Complex  := Compound (Comb Compound)*
#   Comb     := ' '+ | ' '* ('>' | '+' | '~') ' '*
#   Compound := [tag | '*'] Simple*                       (non-empty)
#   Simple   := .class | #id | [name] | [name Op value [i|s]] | :Pseudo
#   Op       := = | ~= | |= | ^= | $= | *=   value: "..." | '...' | unquoted
#   Pseudo   := root | empty | first-child | last-child | only-child
#             | first-of-type | last-of-type
#             | nth-child(AnB [of List]) | nth-last-child(AnB [of List])
#             | nth-of-type(AnB) | nth-last-of-type(AnB)
#             | not(Compound) | is(List) | where(List)
#             | has([> | + | ~] Complex) | lang(code, ...)
#   AnB      := odd | even | [+-]N | [+-][N]n [(+|-) N]
#
# ``scope`` bounds the combinators: ' ' and '>' land on scope-or-descendant
# and '+'/'~' never match the scope itself (lxml's descendant-or-self
# translation). ``:is``/``:where``, ``:has`` and ``of S`` match
# document-wide; ``:has`` passes its anchor element as the scope of its
# relative selector, whose leftmost step is the anchor itself.

_CSS_TOKEN = re.compile(
    r"""
    (?P<tag>\*|[a-zA-Z][\w-]*)
  | \.(?P<cls>[\w-]+)
  | \#(?P<id>[\w-]+)
  | \[(?P<attr>[\w-]+)(?:(?P<op>[~^$*|]?=)(?:"(?P<dval>[^"]*)"|'(?P<sval>[^']*)'|(?P<val>[^\]\[()"'\s]*))(?:\s+(?P<aflag>[iIsS]))?)?\s*\]
  | ::(?P<pelem>[\w-]+)
  | :(?P<pseudo>[\w-]+)(?P<call>\()?
    """,
    re.VERBOSE,
)
# after a compound: the end of its complex selector (any whitespace, then
# ',', ')' or the end), a combinator, or descendant spaces
_CSS_COMB = re.compile(r"\s*(?=[,)]|\Z)| *([>+~]) *|( +)")
_CSS_WS = re.compile(r"\s*")
_CSS_REL = re.compile(r"\s*([>+~]?)")
# the An+B text up to ')' or a whitespace-delimited 'of'
_CSS_NTH_ARG = re.compile(r"([^()]*?)(?:(\))|(?<=\s)of(?=\s))")
_CSS_LANG_ARG = re.compile(r"((?:\"[^\"]*\"|'[^']*'|[^()\[\]\"'])*)\)")
_NTH = re.compile(r"^\s*(?:(?P<a>[+-]?\d*)n\s*(?P<b>[+-]\s*\d+)?|(?P<idx>[+-]?\d+))\s*$")
# parsel's ::text / ::attr(name) extract VALUES; selectors here return
# elements — the handler reads the value
_PSEUDO_ELEMENT_HINTS = {
    "text": ": select the element and read its text in the handler "
    "(kernels.text / Element.text_content())",
    "attr": ": select the element and read the attribute in the handler "
    "(kernels.attr / Element.get(name))",
}


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


def _doc_root(el: Element) -> Element:
    while el.parent is not None:
        el = el.parent
    return el


def _elem_siblings(el: Element) -> List[Element]:
    if el.parent is None:
        return [el]
    return [c for c in el.parent.children if isinstance(c, Element)]


def _attr_test(op: str, val: str, fold: bool) -> Callable[[str], bool]:
    """Test of one attribute value for ``[name op val]``; ``fold`` is the
    ``i`` flag (ASCII case-insensitive: both sides lowercased)."""
    if fold:
        test = _attr_test(op, val.lower(), False)
        return lambda av: test(av.lower())
    if op == "=":
        return lambda av: av == val
    if op == "~=":
        return lambda av: val in av.split()
    if op == "|=":
        return lambda av: av == val or av.startswith(val + "-")
    if not val:
        return lambda av: False  # ^=/$=/*= with empty value match nothing (CSS spec)
    if op == "^=":
        return lambda av: av.startswith(val)
    if op == "$=":
        return lambda av: av.endswith(val)
    return lambda av: val in av  # *=


def _compound(tag, id_, classes, attrs, tests):
    """One compound's matcher ``f(el, scope=None)``; a compound tests one
    element, so ``scope`` is unused. ``attrs``: ``(name, value test)``, the
    test None for a bare ``[name]``; ``tests``: pseudo-class tests."""
    names = [name for name, _ in attrs]
    plain = id_ is None and not classes and not attrs

    def matches(el: Element, scope: Optional[Element] = None) -> bool:
        if tag is not None and el.tag != tag:
            return False
        if not plain:
            if el._attrib is None:
                # attrs not parsed yet: cheap substring pre-reject on the raw
                # tag slice (a matching id/class/attr name must appear
                # literally in it) — only plausible candidates pay the dict
                # build below. Skipped when the raw slice is entity-encoded
                # ('&'): the decoded value may match even though the encoded
                # text doesn't. Attribute NAMES are matched against the
                # lowercased raw (the attrib dict lowercases names, so
                # '<p DATA-FOO>' must not be pre-rejected for '[data-foo]');
                # id/class VALUES are case-sensitive, so the original-case
                # test is a valid necessary condition for them.
                raw = el._raw_attrs
                if "&" not in raw:
                    if id_ is not None and id_ not in raw:
                        return False
                    for c in classes:
                        if c not in raw:
                            return False
                    if names:
                        raw_l = raw.lower()
                        for name in names:
                            if name not in raw_l:
                                return False
            attrib = el.attrib
            if id_ is not None and attrib.get("id") != id_:
                return False
            if classes:
                cls = attrib.get("class", "").split()
                for c in classes:
                    if c not in cls:
                        return False
            for name, test in attrs:
                av = attrib.get(name)
                if av is None or (test is not None and not test(av)):
                    return False
        for test in tests:
            if not test(el):
                return False
        return True

    return matches


def _combine(left, comb: str, right):
    """Matcher of the complex selector ``left comb right``: compound ``right``
    matches ``el`` and ``left`` matches an element related to it by
    ``comb``, tried with backtracking (needed for mixed sibling/descendant
    chains like ``a + b c``)."""
    if comb == ">":
        def f(el: Element, scope: Element) -> bool:
            p = el.parent
            return right(el) and p is not None and p.order >= scope.order and left(p, scope)
    elif comb == " ":
        def f(el: Element, scope: Element) -> bool:
            if not right(el):
                return False
            anc = el.parent
            while anc is not None and anc.order >= scope.order:
                if left(anc, scope):
                    return True
                anc = anc.parent
            return False
    else:
        def f(el: Element, scope: Element) -> bool:
            if not right(el) or el is scope or el.parent is None:
                return False
            sibs = _elem_siblings(el)
            i = sibs.index(el)
            if comb == "+":
                return i > 0 and left(sibs[i - 1], scope)
            return any(left(s, scope) for s in sibs[:i])
    return f


def _is_anchor(el: Element, scope: Element) -> bool:
    """Leftmost step of a ``:has`` relative selector: the anchor itself."""
    return el is scope


def _has_test(comb: str, rel):
    """``:has(comb rel)``: ``rel`` matches, with the anchor as its scope, an
    element after the anchor — a descendant for ' '/'>', in a following
    sibling's subtree (one flat-array slice) for '+'/'~'."""
    def test(el: Element) -> bool:
        if comb in " >":
            cands = el.iterdescendants()
        elif el.parent is None:
            return False
        else:
            cands = el._nodes[el.end : el.parent.end]
        return any(rel(d, el) for d in cands)

    return test


def _nth_test(a: int, b: int, last: bool, of_type: bool, of=None):
    """The ``:nth-*`` family: ``el``'s 1-based index among its element
    siblings — those with its tag for ``of_type``; those matching ``of``
    (CSS4 ``An+B of S``), which ``el`` itself must match — counted from the
    end for ``last``, is ``a*k + b`` for some k >= 0."""
    def test(el: Element) -> bool:
        if of is not None:
            root = _doc_root(el)
            if not of(el, root):
                return False
            sibs = [c for c in _elem_siblings(el) if of(c, root)]
        elif of_type:
            sibs = [c for c in _elem_siblings(el) if c.tag == el.tag]
        else:
            sibs = _elem_siblings(el)
        idx = sibs.index(el) + 1
        if last:
            idx = len(sibs) - idx + 1
        if a == 0:
            return idx == b
        d = idx - b
        return d % a == 0 and d // a >= 0

    return test


def _lang_test(codes: List[str]):
    """``:lang(codes)``: the inherited language (nearest ancestor-or-self
    @lang, ASCII case-insensitive) equals a code or is a hyphen-extension
    of it (XPath lang(), the lxml.cssselect translation target)."""
    def test(el: Element) -> bool:
        cur: Optional[Element] = el
        while cur is not None:
            v = cur.get("lang")
            if v is not None:
                v = v.lower()
                return any(v == c or v.startswith(c + "-") for c in codes)
            cur = cur.parent
        return False

    return test


_CSS_SIMPLE = {
    # :root = element whose parent is absent or the document node
    "root": lambda el: el.parent is None or el.parent.tag == "#document",
    "empty": lambda el: all(c == "" for c in el.children),
    "first-child": _nth_test(0, 1, last=False, of_type=False),
    "last-child": _nth_test(0, 1, last=True, of_type=False),
    "only-child": lambda el: len(_elem_siblings(el)) == 1,
    "first-of-type": _nth_test(0, 1, last=False, of_type=True),
    "last-of-type": _nth_test(0, 1, last=True, of_type=True),
}
_CSS_NTH = {  # name -> (last, of_type)
    "nth-child": (False, False),
    "nth-last-child": (True, False),
    "nth-of-type": (False, True),
    "nth-last-of-type": (True, True),
}


class _CSSParser:
    """One selector list → one matcher ``f(el, scope) -> bool`` (grammar
    above). Methods advance ``pos`` through the selector text ``s``."""

    def __init__(self, s: str):
        self.s = s
        self.pos = 0

    def fail(self):
        raise ValueError(f"unsupported CSS selector {self.s!r} at {self.s[self.pos:]!r}")

    def skip_ws(self) -> None:
        self.pos = _CSS_WS.match(self.s, self.pos).end()

    def expect(self, c: str) -> None:
        if not self.s.startswith(c, self.pos):
            self.fail()
        self.pos += len(c)

    def top(self):
        f = self.selector_list()
        if self.pos != len(self.s):
            self.fail()
        return f

    def selector_list(self, nth_of: bool = False):
        fs = [self.complex(nth_of=nth_of)]
        while self.s.startswith(",", self.pos):
            self.pos += 1
            fs.append(self.complex(nth_of=nth_of))
        if len(fs) == 1:
            return fs[0]
        return lambda el, scope: any(f(el, scope) for f in fs)

    def complex(self, f=None, comb: str = " ", nth_of: bool = False):
        """A complex selector; a relative one (``:has``) continues the
        matcher ``f`` by ``comb``. ``nth_of``: the top level of the ``S``
        of ``An+B of S``."""
        self.skip_ws()
        right = self.compound(nth_of)
        f = right if f is None else _combine(f, comb, right)
        while True:
            m = _CSS_COMB.match(self.s, self.pos)
            if m is None:
                self.fail()
            self.pos = m.end()
            if m.lastindex is None:
                return f
            f = _combine(f, m.group(1) or " ", self.compound(nth_of))

    def compound(self, nth_of: bool = False):
        s = self.s
        start = self.pos
        tag = id_ = None
        classes: List[str] = []
        attrs: list = []
        tests: list = []
        while True:
            m = _CSS_TOKEN.match(s, self.pos)
            if m is None:
                break
            self.pos = m.end()
            if m.group("tag"):
                if m.start() != start:  # a type selector leads its compound
                    self.pos = m.start()
                    self.fail()
                # HTML element/attribute names are ASCII case-insensitive
                # (lxml's HTML translator lowercases them); id/class values
                # stay case-sensitive
                tag = m.group("tag").lower()
            elif m.group("cls"):
                classes.append(m.group("cls"))
            elif m.group("id"):
                if id_ is None:
                    id_ = m.group("id")
                else:
                    # a second #id in one compound is an AND (unsatisfiable
                    # unless equal), not an overwrite
                    attrs.append(("id", _attr_test("=", m.group("id"), False)))
            elif m.group("attr"):
                op = m.group("op")
                test = None
                if op is not None:
                    val = next(v for v in m.group("dval", "sval", "val") if v is not None)
                    # `[attr="v" i]`: ASCII case-insensitive value match
                    # (CSS4); `s` keeps the case-sensitive default
                    test = _attr_test(op, val, (m.group("aflag") or "").lower() == "i")
                attrs.append((m.group("attr").lower(), test))
            elif m.group("pelem"):
                name = m.group("pelem")
                hint = _PSEUDO_ELEMENT_HINTS.get(name.lower(), "")
                raise ValueError(f"unsupported CSS pseudo-element ::{name}{hint}")
            else:
                tests.append(self.pseudo(m.group("pseudo").lower(), m.group("call")))
        if self.pos == start:
            self.fail()
        if nth_of and s[start:self.pos] == "of" and s[start - 1].isspace() and (
            s[self.pos:self.pos + 1].isspace()
        ):
            # 'An+B of S' has one whitespace-delimited 'of': S holds no other
            self.fail()
        return _compound(None if tag == "*" else tag, id_, classes, attrs, tests)

    def pseudo(self, name: str, call: Optional[str]):
        """Parse one pseudo-class — its argument runs from ``call``'s '('
        through ')' — and build its test ``t(el) -> bool``."""
        s = self.s
        if not call:
            if name in _CSS_SIMPLE:
                return _CSS_SIMPLE[name]
        elif name in _CSS_NTH:
            last, of_type = _CSS_NTH[name]
            m = _CSS_NTH_ARG.match(s, self.pos)
            if m is None:
                self.fail()
            a, b = _parse_nth(m.group(1))
            self.pos = m.end()
            of = None
            if m.group(2) is None:  # 'An+B of S': counted among S matches
                if of_type:
                    self.fail()
                of = self.selector_list(nth_of=True)
                self.expect(")")
            return _nth_test(a, b, last, of_type, of)
        elif name == "not":
            self.skip_ws()
            comp = self.compound()
            self.skip_ws()
            self.expect(")")
            return lambda el: not comp(el)
        elif name in ("is", "where"):
            f = self.selector_list()
            self.expect(")")
            return lambda el: f(el, _doc_root(el))
        elif name == "has":
            m = _CSS_REL.match(s, self.pos)
            self.pos = m.end()
            comb = m.group(1) or " "
            rel = self.complex(_is_anchor, comb)
            self.expect(")")
            return _has_test(comb, rel)
        elif name == "lang":
            # :lang(en) / CSS4 comma list :lang(fr, es)
            m = _CSS_LANG_ARG.match(s, self.pos)
            if m is None:
                self.fail()
            self.pos = m.end()
            arg = m.group(1)
            codes = [
                c.strip().strip("\"'").lower()
                for c in arg.split(",")
                if c.strip().strip("\"'")
            ]
            if not codes:
                raise ValueError(f"empty :lang() argument: {arg!r}")
            return _lang_test(codes)
        raise ValueError(f"unsupported CSS pseudo-class: :{name}")


@_lru_cache(maxsize=2048)
def _compile_css(expr: str):
    """Compile once per distinct selector list (the extraction kernel
    re-evaluates the same rule selectors on every page)."""
    return _CSSParser(expr).top()


def css_select(scope: Element, expr: str) -> List[Element]:
    """All elements under ``scope`` (self included — lxml descendant-or-self
    translation) matching ``expr``, in document order."""
    f = _compile_css(expr)
    return [el for el in scope.iter() if f(el, scope)]


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

def compile_selector(selector_type: str, selector_str: str) -> None:
    """Compile a css/any/xpath selector into this process's cache (text and
    regex selectors are not checked here); off-grammar input raises
    ValueError naming the selector."""
    t = selector_type.lower()
    try:
        if t in ("any", "css"):
            _compile_css(selector_str)
        elif t == "xpath":
            _parse_xpath_cached(selector_str)
    except ValueError as e:
        raise ValueError(f"bad {t} selector {selector_str!r}: {e}") from None


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
