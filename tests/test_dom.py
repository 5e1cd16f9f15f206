"""DOM + selector engine unit tests, pinned to the reference's lxml-backend
semantics (`/root/reference/dude/optional/lxml_scraper.py:181-199`) on the
reference's own fixture page (`examples/dude.html`)."""

import pytest

from dude_spark.dom import css_select, parse_html, select, xpath_select


def test_parse_roots(dude_html):
    root = parse_html(dude_html)
    assert root.tag == "html"
    assert root.get("lang") == "en"


def test_css_groups_and_members(dude_html):
    root = parse_html(dude_html)
    groups = css_select(root, ".custom-group")
    assert len(groups) == 3
    titles = [css_select(g, ".title") for g in groups]
    assert [t[0].text_content() for t in [x for x in titles]] == [
        "Title 1", "Title 2", "Title 3",
    ]
    # group 2 (dude.html) has no description
    descs = [len(css_select(g, ".description")) for g in groups]
    assert descs == [1, 0, 1]


def test_css_compound_and_child(dude_html):
    root = parse_html(dude_html)
    assert [e.get("href") for e in css_select(root, "a.url")] == [
        "url-1.html", "url-2.html", "url-3.html",
    ]
    assert len(css_select(root, "div > a")) == 5
    assert [e.tag for e in css_select(root, ":root")] == ["html"]


def test_css_descendant_or_self_scope(dude_html):
    # lxml cssselect on an element uses descendant-or-self
    root = parse_html(dude_html)
    g = css_select(root, ".custom-group")[0]
    assert g in css_select(g, ".custom-group")


def test_xpath_subset(dude_html):
    root = parse_html(dude_html)
    titles = xpath_select(root, './/p[contains(@class,"title")]')
    assert [t.text_content() for t in titles] == ["Title 1", "Title 2", "Title 3"]
    hrefs = xpath_select(root, ".//a/@href")
    assert hrefs[:3] == ["url-1.html", "url-2.html", "url-3.html"]
    texts = xpath_select(root, ".//p/text()")
    assert "Title 1" in texts


def test_xpath_position_and_eq():
    root = parse_html("<div><p id='a'>x</p><p id='b'>y</p></div>")
    assert [e.get("id") for e in xpath_select(root, ".//p[2]")] == ["b"]
    assert [e.get("id") for e in xpath_select(root, './/p[@id="a"]')] == ["a"]


def test_text_selector_first_text_node_semantics(dude_html):
    # lxml: .//*[contains(text(), s)] — first direct text node
    root = parse_html(dude_html)
    els = select(root, "text", "Title")
    assert [e.tag for e in els] == ["p", "p", "p"]
    assert select(root, "text", "no-such-text") == []


def test_regex_selector_case_insensitive(dude_html):
    root = parse_html(dude_html)
    els = select(root, "regex", r"title\s\d")  # lowercase → 'i' flag applies
    assert [e.first_text() for e in els] == ["Title 1", "Title 2", "Title 3"]


def test_unsupported_selectors_raise():
    root = parse_html("<div></div>")
    with pytest.raises(ValueError):
        css_select(root, "div:hover")
    with pytest.raises(ValueError):
        xpath_select(root, "following-sibling::div")  # no leading / or //
    root2 = parse_html("<section><div><p>x</p></div></section>")
    with pytest.raises(ValueError):
        # variables need external bindings — lxml also raises (undefined
        # variable) when none are passed; boolean(@x) is supported since r5
        xpath_select(root2, ".//div[$v]")
    with pytest.raises(ValueError):
        xpath_select(root2, ".//div[id('a')]")  # id() unsupported
    # parsel's value pseudo-elements: rejected with the handler-side recipe
    with pytest.raises(ValueError, match=r"::text: select the element .*kernels\.text"):
        css_select(root2, "p::text")
    with pytest.raises(ValueError, match=r"::attr: select the element .*kernels\.attr"):
        css_select(root2, "div > p::attr(href)")


def test_xpath_string_function():
    """r5 (VERDICT #8): string(X) in comparison/string-arg position —
    string-conversion of '', '.', text(), @attr, or a relative location
    path (node-set → FIRST node's string value, XPath 1.0 §4.2)."""
    root = parse_html(
        '<body><div class="y" id="d1"><p>alpha</p><p>beta</p></div>'
        '<div id="d2"><span>gamma</span></div></body>'
    )
    ids = lambda xp: [e.get("id") for e in xpath_select(root, xp)]
    assert ids(".//div[string(@class) = 'y']") == ["d1"]
    assert ids(".//div[string(@class) != 'y']") == ["d2"]  # missing → ''
    assert ids(".//div[contains(string(p), 'alph')]") == ["d1"]  # FIRST p
    assert ids(".//div[contains(string(p), 'beta')]") == []  # not 2nd node
    assert ids(".//div[starts-with(string(./span), 'gam')]") == ["d2"]
    assert ids(".//div[string(span) = '']") == ["d1"]  # empty node-set → ''
    assert ids(".//div[string-length(string(p)) = 5]") == ["d1"]
    assert ids(".//div[string() != '']") == ["d1", "d2"]  # context node
    with pytest.raises(ValueError):
        xpath_select(root, ".//div[string(@x, 'y')]")  # 2-arg: off-grammar


def test_css_nth_child_of_selector():
    """r5 (VERDICT #8): CSS4 `:nth-child(An+B of S)` — index counted among
    siblings matching S; el itself must match S."""
    root = parse_html(
        '<ul><li class="x" id="a">1</li><li id="b">2</li>'
        '<li class="x" id="c">3</li><li class="x" id="d">4</li></ul>'
    )
    ids = lambda s: [e.get("id") for e in css_select(root, s)]
    assert ids("li:nth-child(2 of .x)") == ["c"]
    assert ids("li:nth-child(2n+1 of .x)") == ["a", "d"]
    assert ids("li:nth-last-child(1 of .x)") == ["d"]
    assert ids(":nth-child(1 of li)") == ["a"]
    assert ids('li:nth-child(1 of [id="c"])') == ["c"]
    with pytest.raises(ValueError):
        css_select(root, "li:nth-child(2n of)")


def test_css_attribute_operators():
    root = parse_html(
        '<ul><li class="item first" data-x="alpha-1">one</li>'
        '<li class="item" data-x="beta-2">two</li>'
        '<li lang="en-US">three</li></ul>'
    )
    t = lambda els: [e.text_content() for e in els]
    assert t(css_select(root, '[data-x^="alpha"]')) == ["one"]
    assert t(css_select(root, '[data-x$="2"]')) == ["two"]
    assert t(css_select(root, '[data-x*="eta"]')) == ["two"]
    assert t(css_select(root, '[class~="first"]')) == ["one"]
    assert t(css_select(root, '[lang|="en"]')) == ["three"]
    assert css_select(root, '[data-x^=""]') == []  # empty ^= matches nothing


def test_css_structural_pseudo_classes():
    root = parse_html(
        "<ul><li>one</li><li>two</li><li>three</li><li>four</li></ul>"
        "<div><p>a</p><span>s</span><p>b</p></div>"
    )
    t = lambda els: [e.text_content() for e in els]
    assert t(css_select(root, "li:first-child")) == ["one"]
    assert t(css_select(root, "li:last-child")) == ["four"]
    assert t(css_select(root, "li:nth-child(3)")) == ["three"]
    assert t(css_select(root, "li:nth-child(odd)")) == ["one", "three"]
    assert t(css_select(root, "li:nth-child(2n)")) == ["two", "four"]
    assert t(css_select(root, "li:nth-child(-n+2)")) == ["one", "two"]
    assert t(css_select(root, "p:nth-of-type(2)")) == ["b"]
    assert t(css_select(root, "p:last-of-type")) == ["b"]
    assert t(css_select(root, "span:only-child")) == []
    assert t(css_select(root, "li:not(:first-child)")) == ["two", "three", "four"]


def test_css_sibling_combinators():
    root = parse_html(
        "<div><p>a</p><span>s1</span><p>b</p><span>s2</span><em>e</em></div>"
    )
    t = lambda els: [e.text_content() for e in els]
    assert t(css_select(root, "p + span")) == ["s1", "s2"]
    assert t(css_select(root, "p ~ em")) == ["e"]
    assert t(css_select(root, "span + p")) == ["b"]
    # backtracking across mixed sibling/descendant chains
    root2 = parse_html(
        "<div><section><p>no</p></section><em>x</em>"
        "<section><p>yes</p></section></div>"
    )
    assert t(css_select(root2, "em + section p")) == ["yes"]


def test_xpath_boolean_predicates_and_axes():
    root = parse_html(
        '<ul><li class="a" data-x="alpha">one</li>'
        '<li class="b">two</li><li class="a">three</li></ul>'
        "<div><p>a</p><span>s1</span><p>b</p></div>"
    )
    t = lambda els: [e.text_content() for e in els]
    assert t(xpath_select(root, './/li[@class="a" or @class="b"]')) == [
        "one", "two", "three",
    ]
    assert t(
        xpath_select(root, './/li[@class="a" and starts-with(@data-x,"al")]')
    ) == ["one"]
    assert t(xpath_select(root, './/li[not(@data-x)]')) == ["two", "three"]
    assert t(xpath_select(root, ".//li[position()>1]")) == ["two", "three"]
    assert t(xpath_select(root, ".//li[last()]")) == ["three"]
    assert t(xpath_select(root, './/li[text()="two"]')) == ["two"]
    assert t(xpath_select(root, ".//p/following-sibling::span[1]")) == ["s1"]
    assert t(xpath_select(root, ".//span/preceding-sibling::p[1]")) == ["a"]
    assert t(xpath_select(root, ".//span/../p")) == ["a", "b"]
    assert t(xpath_select(root, './/li[@class!="b"]')) == ["one", "three"]
    # r5 spec alignment (lxml parity): bare @attr is a node-set — a missing
    # attribute makes BOTH = and != false; string(@attr) coerces to ''
    assert t(xpath_select(root, './/li[@data-x != "beta"]')) == ["one"]
    assert t(xpath_select(root, './/li[string(@data-x) != "beta"]')) == [
        "one", "two", "three",
    ]


def test_void_and_misnested():
    root = parse_html("<body><br><img src='x'><p>one<p>two</body>")
    assert root.tag == "body"
    ps = css_select(root, "p")
    # html.parser keeps unclosed <p> nested; both reachable
    assert len(ps) == 2


def test_text_content_document_order():
    root = parse_html("<div>a<span>b<i>c</i></span>d</div>")
    assert root.text_content() == "abcd"


def test_getitem_attr_and_child():
    root = parse_html("<div><a href='h'>x</a><b/></div>")
    a = css_select(root, "a")[0]
    assert a["href"] == "h"
    assert root[0].tag == "a"


def test_uppercase_attr_name_prefilter():
    # lazy-attr pre-filter must not reject uppercase attribute names
    # (attrib dict lowercases names; the raw slice keeps original case)
    root = parse_html('<html><body><p DATA-FOO="1">x</p></body></html>')
    assert len(css_select(root, "[data-foo]")) == 1
    assert len(css_select(root, '[data-foo="1"]')) == 1


def test_entity_encoded_attr_value():
    root = parse_html('<html><body><a class="a&amp;b">x</a></body></html>')
    assert len(css_select(root, "[class=a&b]")) == 1


def test_selector_name_case_insensitive():
    root = parse_html("<div><P>x</P></div>")
    assert len(css_select(root, "p")) == 1
    assert len(css_select(root, "P")) == 1


def test_unquoted_attr_trailing_slash():
    # '<a href=foo/>' — the '/' is part of the unquoted value (HTML5 /
    # html.parser), NOT a self-close: anchor stays open, text preserved
    root = parse_html("<html><body><a href=foo/>t</a></body></html>")
    a = css_select(root, "a")[0]
    assert a.get("href") == "foo/"
    assert a.text_content() == "t"
    # quoted + XML-style self-close still closes
    root2 = parse_html('<html><body><span id="s"/><b>t</b></body></html>')
    s = css_select(root2, "#s")[0]
    assert s.children == []


def test_xpath_abbreviated_positional_is_per_parent():
    """lxml/XPath 1.0 parity (r2 advice): `.//li[2]` expands to
    descendant-or-self::node()/child::li[2] — position is relative to each
    PARENT's child list, so two <ul>s yield two matches. Explicit
    `descendant::li[2]` stays position-in-full-descendant-list."""
    root = parse_html(
        "<div><ul><li>a1</li><li>a2</li><li>a3</li></ul>"
        "<ul><li>b1</li><li>b2</li></ul></div>"
    )
    t = lambda els: [e.text_content() for e in els]
    assert t(xpath_select(root, ".//li[2]")) == ["a2", "b2"]
    assert t(xpath_select(root, ".//li[last()]")) == ["a3", "b2"]
    assert t(xpath_select(root, ".//li[position()>2]")) == ["a3"]
    assert t(xpath_select(root, ".//descendant::li[2]")) == ["a2"]


def test_css_attr_case_flag():
    """CSS4 `[attr="v" i]` ASCII case-insensitive value flag; `s` keeps the
    case-sensitive default. Applies to every operator."""
    root = parse_html(
        '<div><p data-x="AbC">d1</p><p data-x="abc">d2</p>'
        '<p data-x="xyz">d3</p><a href="f.HTML">l</a></div>'
    )
    t = lambda els: [e.text_content() for e in els]
    assert t(css_select(root, 'p[data-x="ABC" i]')) == ["d1", "d2"]
    assert t(css_select(root, "p[data-x=abc i]")) == ["d1", "d2"]
    assert t(css_select(root, 'p[data-x="abc" s]')) == ["d2"]
    assert t(css_select(root, 'p[data-x="abc"]')) == ["d2"]
    assert t(css_select(root, 'a[href$=".html" i]')) == ["l"]
    assert t(css_select(root, 'a[href$=".html"]')) == []


def test_xpath_numeric_predicates():
    """XPath 1.0 arithmetic in predicates: last()-1, position() mod 2,
    comparisons between numeric expressions, nested boolean parens."""
    root = parse_html(
        "<ul><li class='a'>one</li><li>two</li><li class='c'>three</li>"
        "<li>four</li><li class='e'>five</li></ul>"
    )
    t = lambda els: [e.text_content() for e in els]
    assert t(xpath_select(root, ".//li[last() - 1]")) == ["four"]
    assert t(xpath_select(root, ".//li[position() mod 2 = 1]")) == [
        "one", "three", "five"]
    assert t(xpath_select(root, ".//li[position() < last() - 2]")) == [
        "one", "two"]
    assert t(xpath_select(root, ".//li[position() * 2 = 4]")) == ["two"]
    # XPath numbers are doubles: 5 div 2 = 2.5 matches no position (lxml)
    assert t(xpath_select(root, ".//li[last() div 2]")) == []
    assert t(xpath_select(root, ".//li[(last() - 1) div 2]")) == ["two"]
    assert t(xpath_select(
        root, ".//li[(position() = 1 or position() = last()) and @class]"
    )) == ["one", "five"]
    # r4 function tail: numeric node-set functions compose with arithmetic
    assert t(xpath_select(root, ".//li[string-length(text()) + 1 = 4]")) == [
        "one", "two"]
    # a bare numeric predicate value is positional (XPath 1.0 §2.4):
    # [string-length(text())] ≡ [position() = string-length(text())]
    assert t(xpath_select(root, ".//li[string-length(text())]")) == ["four"]
    # unsupported forms still raise loudly
    import pytest
    with pytest.raises(ValueError):
        xpath_select(root, ".//li[lang('en')]")


def test_xpath_following_preceding_axes():
    """Document-order axes: following:: excludes descendants, preceding::
    excludes ancestors; both span the whole document, positional predicates
    count from the nearest node (reverse for preceding), results return in
    document order (lxml parity)."""
    root = parse_html(
        "<html><body><div id='a'><p>a1</p><p>a2</p></div>"
        "<div id='b'><span>b1</span></div>"
        "<div id='c'><p>c1</p></div></body></html>"
    )
    t = lambda els: [e.text_content() for e in els]
    assert t(xpath_select(root, ".//div[@id='a']/following::p")) == ["c1"]
    assert t(xpath_select(root, ".//div[@id='a']/following::div[1]")) == ["b1"]
    assert t(xpath_select(root, ".//div[@id='c']/preceding::p[1]")) == ["a2"]
    assert t(xpath_select(root, ".//span/preceding::div")) == ["a1a2"]
    # ancestors of c1's <p> are excluded; document order in the result
    assert t(xpath_select(root, ".//p[text()='c1']/preceding::div")) == [
        "a1a2", "b1"]


def test_xpath_function_tail_count_substring():
    """r4 (VERDICT #7): count(relpath), string-length(arg), substring(arg,
    start[,len]) in predicates — the most common remaining lxml forms."""
    root = parse_html(
        '<html><body>'
        '<div id="a"><p>one</p><p>two</p><a href="http://x/longerlink.html">L</a></div>'
        '<div id="b"><p>solo</p></div>'
        '<div id="c"></div>'
        '</body></html>'
    )
    ids = lambda expr: [e.get("id") for e in xpath_select(root, expr)]
    assert ids(".//div[count(p) = 2]") == ["a"]
    assert ids(".//div[count(p) > 0]") == ["a", "b"]
    assert ids(".//div[count(.//a) = 1]") == ["a"]
    assert ids(".//div[count(p) = 0]") == ["c"]
    assert ids(".//div[count(a) = 1 and count(p) = 2]") == ["a"]
    assert ids(".//div[count(p) + 1 = 3]") == ["a"]
    assert ids(".//div[string-length(normalize-space(.)) = 0]") == ["c"]
    t = lambda expr: [e.tag for e in xpath_select(root, expr)]
    assert t(".//a[string-length(@href) > 10]") == ["a"]
    assert t(".//p[string-length(text()) = 4]") == ["p"]  # 'solo'
    assert t(".//a[substring(@href, 1, 4) = 'http']") == ["a"]
    assert ids(".//div[substring(@id, 1, 1) != 'a']") == ["b", "c"]
    assert [
        e.first_text() for e in xpath_select(root, ".//p[substring(text(), 2) = 'olo']")
    ] == ["solo"]
    # substring clamping: start past end → empty string
    assert ids(".//div[substring(@id, 9) = '']") == ["a", "b", "c"]


HAS_IS_DOC = """
<html><body>
  <div id="a" class="card"><h2>One</h2><p class="x">t1</p></div>
  <div id="b" class="card"><h2>Two</h2></div>
  <div id="c" class="card"><span><p class="x">deep</p></span></div>
  <section id="s1"><div id="d"></div><p id="after">tail</p></section>
  <ul><li id="l1">1</li><li id="l2" class="x">2</li><li id="l3">3</li></ul>
</body></html>
"""


def test_css_is_where():
    root = parse_html(HAS_IS_DOC)
    # :is() any-of over simple selectors
    assert [e.get("id") for e in css_select(root, "div:is(#a, #c)")] == ["a", "c"]
    # :where() is the same match (specificity has no meaning here)
    assert [e.get("id") for e in css_select(root, "div:where(#a, #c)")] == ["a", "c"]
    # complex selector inside :is — matched document-wide (div > p also
    # catches the direct-child p.x of #a, which has no id)
    assert [e.get("id") for e in css_select(root, "p:is(section p, div > p)")] == [
        None, "after"
    ]
    assert [e.get("id") for e in css_select(root, "p:is(section p)")] == ["after"]
    # top-level comma still splits; comma inside :is() must not
    assert [e.get("id") for e in css_select(root, "li:is(#l1, #l3), p#after")] == [
        "after", "l1", "l3",
    ] or [e.get("id") for e in css_select(root, "li:is(#l1, #l3), p#after")] == [
        "l1", "l3", "after",
    ]


def test_css_has_descendant_and_child():
    root = parse_html(HAS_IS_DOC)
    # descendant: any div with a p.x anywhere below
    assert [e.get("id") for e in css_select(root, "div:has(p.x)")] == ["a", "c"]
    # direct child: only #a has p.x as a direct child
    assert [e.get("id") for e in css_select(root, "div:has(> p.x)")] == ["a"]
    # chained inner selector
    assert [e.get("id") for e in css_select(root, "div:has(span p)")] == ["c"]
    # no match
    assert css_select(root, "div:has(> h1)") == []


def test_css_has_sibling_combinators():
    root = parse_html(HAS_IS_DOC)
    # + : next sibling matches
    assert [e.get("id") for e in css_select(root, "li:has(+ li.x)")] == ["l1"]
    # ~ : any following sibling matches
    assert [e.get("id") for e in css_select(root, "li:has(~ li.x)")] == ["l1"]
    assert [e.get("id") for e in css_select(root, "div:has(+ p#after)")] == ["d"]


def test_css_has_is_compose():
    root = parse_html(HAS_IS_DOC)
    # :has inside a chain; :not with :has sibling semantics
    assert [e.get("id") for e in css_select(root, "body div.card:has(h2):has(p)")] == [
        "a"
    ]
    assert [
        e.get("id") for e in css_select(root, "div.card:not(#b):has(h2)")
    ] == ["a"]


def test_css_unsupported_pseudo_still_raises():
    root = parse_html(HAS_IS_DOC)
    with pytest.raises(ValueError):
        css_select(root, "div:hover")
    with pytest.raises(ValueError):
        css_select(root, "div:nth-acid(2)")


def test_xpath_name_local_name():
    root = parse_html(
        "<html><body><div><p>a</p><span>b</span><p>c</p></div></body></html>"
    )
    assert [
        e.text_content() for e in xpath_select(root, ".//div/*[name() = 'p']")
    ] == ["a", "c"]
    assert [
        e.text_content()
        for e in xpath_select(root, ".//div/*[local-name() != 'p']")
    ] == ["b"]
    assert [
        e.text_content()
        for e in xpath_select(root, ".//*[name()='span' or name()='p']")
    ] == ["a", "b", "c"]
    # name() with an argument stays out of the subset and raises
    with pytest.raises(ValueError):
        xpath_select(root, ".//div[name(@x) = 'div']")


def test_css_lang_pseudo():
    """r5: :lang() — inherited nearest-ancestor @lang, equal-or-hyphen-
    extension match, ASCII case-insensitive; CSS4 comma list."""
    root = parse_html(
        '<html lang="en-US"><body>'
        '<p id="a">x</p>'
        '<div lang="fr"><p id="b">y</p></div>'
        '<div lang="DE-ch"><p id="c">z</p></div>'
        "</body></html>"
    )
    ids = lambda sel: [e.get("id") for e in css_select(root, sel)]
    assert ids("p:lang(en)") == ["a"]
    assert ids("p:lang(en-us)") == ["a"]
    assert ids("p:lang(us)") == []  # no cross-subtag match
    assert ids("p:lang(fr)") == ["b"]
    assert ids("p:lang(de)") == ["c"]
    assert ids("p:lang(fr, de-ch)") == ["b", "c"]
    with pytest.raises(ValueError):
        css_select(root, "p:lang()")


def test_xpath_path_existence_predicates():
    """r5: location-path predicates — XPath 1.0 node-set → boolean."""
    root = parse_html(
        '<body><div id="d1" class="g"><a href="x"><p class="t">T1</p></a></div>'
        '<div id="d2" class="g"><p class="d">D</p><a><p class="t">T2</p></a></div>'
        '<div id="d3"></div><span id="s"><em>e</em></span></body>'
    )
    ids = lambda xp: [e.get("id") for e in xpath_select(root, xp)]
    assert ids(".//div[p]") == ["d2"]                       # child axis
    assert ids(".//div[.//p]") == ["d1", "d2"]              # descendant
    assert ids(".//div[a/p[@class='t']]") == ["d1", "d2"]   # nested pred
    assert ids(".//div[not(.//p)]") == ["d3"]               # under not()
    assert ids(".//span[em | b]") == ["s"]                  # union
    assert ids(".//div[//em]") == ["d1", "d2", "d3"]        # absolute
    # off-grammar atoms still raise — the path branch must not swallow them
    # (@a = @b moved to supported in r5: existential node-set comparison)
    for bad in (".//div[foo(bar)]", ".//div[p >< q]"):
        with pytest.raises(ValueError):
            xpath_select(root, bad)


def test_xpath_string_expression_tail():
    """r5: generalized string expressions — concat/translate/
    substring-before/after compose freely inside contains/starts-with/
    =/!= and string-length(); boolean() and number() conversions."""
    root = parse_html(
        '<body><div id="d1"><p id="p1" class="x y">one</p>'
        '<span id="s1" data-n="3">two</span></div>'
        '<div id="d2"><p id="p2" class="" data-e="">three</p></div></body>'
    )
    ids = lambda xp: [e.get("id") for e in xpath_select(root, xp)]
    # the canonical class-match idiom
    assert ids(".//p[contains(concat(' ', @class, ' '), ' x ')]") == ["p1"]
    assert ids(".//p[contains(concat(' ', normalize-space(@class), ' '), ' q ')]") == []
    # translate: first-occurrence wins, over-long from deletes
    assert ids(".//p[translate(@class, 'XY', 'xy') = 'x y']") == ["p1"]
    assert ids(".//p[translate(., 'oneZ', 'ONE') = 'ONE']") == ["p1"]  # Z deleted
    # substring-before / substring-after
    assert ids(".//p[substring-before(@class, ' ') = 'x']") == ["p1"]
    assert ids(".//p[substring-after(@class, ' ') = 'y']") == ["p1"]
    # no-occurrence → '' for both
    assert ids(".//p[substring-before(@class, 'z') = '']") == ["p1", "p2"]
    # boolean(): node-set form — PRESENT-but-empty attribute is true
    assert ids(".//p[boolean(@data-e)]") == ["p2"]
    assert ids(".//p[boolean(@class)]") == ["p1", "p2"]
    assert ids(".//p[boolean(normalize-space(@class))]") == ["p1"]  # string form
    # number(): numeric lexeme → double, else NaN (all comparisons false)
    assert ids(".//span[number(@data-n) = 3]") == ["s1"]
    assert ids(".//p[number(@data-n) > 0]") == []          # NaN
    assert ids(".//span[number(.) != number(.)]") == ["s1"]  # NaN != NaN true
    assert ids(".//div[number(span/@data-n) = 3]") == ["d1"]  # node-set conv
    # string-length over a composed expression
    assert ids(".//p[string-length(concat(@class, '!')) = 4]") == ["p1"]
    # existential @a = @b: missing attribute → both = and != false
    assert ids(".//p[@class = @class]") == ["p1", "p2"]
    assert ids(".//p[@data-e = @missing]") == []
    assert ids(".//p[@data-e != @missing]") == []
    # off-grammar forms raise at parse time
    for bad in (
        ".//p[contains(@class)]",            # arity
        ".//p[translate(@class, 'a') = '']", # arity
        ".//p[concat(@class) = '']",         # arity
        ".//p[number(frob()) = 1]",          # bad node test
        ".//p[string(frob()) = '']",         # bad node test
        ".//p[boolean(frob())]",
        ".//p[frob(@class) = 'x']",
    ):
        with pytest.raises(ValueError):
            xpath_select(root, bad)
