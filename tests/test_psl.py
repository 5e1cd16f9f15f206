"""Public-suffix-list registrable-domain (psl.py) + its $third-party use.

PSL semantics under test (publicsuffix.org algorithm): longest rule wins,
``!exception`` beats ``*.wildcard``, unknown TLDs fall back to the
implicit ``*`` rule (last two labels), single-label hosts map to
themselves. The reference gets eTLD+1 from braveblock
(optional/utils.py:31-46); this is our from-scratch Spark-expression twin.
"""

import pyspark.sql.functions as F
import pytest

from dude_spark import psl


CASES = [
    # multi-label ICANN suffixes from the embedded subset
    ("shop.host-9.co.uk", "host-9.co.uk"),
    ("www.host-10.co.uk", "host-10.co.uk"),
    ("deep.x.com.au", "x.com.au"),
    ("x.com.au", "x.com.au"),
    # implicit * rule: unknown TLD → last two labels
    ("host-3.test", "host-3.test"),
    ("a.b.example.com", "example.com"),
    # single label
    ("localhost", "localhost"),
    # wildcard *.ck: public suffix is <label>.ck → registrable = 3 labels
    ("a.b.ck", "a.b.ck"),
    # exception !www.ck beats *.ck
    ("foo.www.ck", "www.ck"),
    ("www.ck", "www.ck"),
    # label boundaries: xco.uk must NOT match the co.uk rule
    ("xco.uk", "xco.uk"),
    ("foo.xco.uk", "xco.uk"),
]


def test_registrable_psl_semantics(spark):
    df = spark.createDataFrame([(h,) for h, _ in CASES], "host string")
    got = {
        r["host"]: r["reg"]
        for r in df.select(
            "host", psl.registrable(F.col("host")).alias("reg")
        ).collect()
    }
    for host, want in CASES:
        assert got[host] == want, f"registrable({host}) = {got[host]} != {want}"


def test_load_psl_file_format(spark, tmp_path):
    lines = [
        "// ===BEGIN ICANN DOMAINS===",
        "",
        "uk",
        "co.uk  // trailing comment after whitespace",
        "*.nom.br",
        "!special.nom.br",
    ]
    p = tmp_path / "psl.dat"
    p.write_text("\n".join(lines))
    old = psl._current
    try:
        n = psl.load_public_suffix_list(str(p))
        assert n == 3  # 1-label rules fold into the implicit default
        df = spark.createDataFrame(
            [("a.b.nom.br",), ("x.special.nom.br",), ("s.co.uk",)],
            "host string",
        )
        got = {
            r["host"]: r["reg"]
            for r in df.select(
                "host", psl.registrable(F.col("host")).alias("reg")
            ).collect()
        }
        assert got["a.b.nom.br"] == "a.b.nom.br"       # wildcard suffix
        assert got["x.special.nom.br"] == "special.nom.br"  # exception
        assert got["s.co.uk"] == "s.co.uk"             # normal 2-label rule
    finally:
        psl._current = old


def test_third_party_uses_psl(spark):
    """The co.uk discriminator: src www.host-10.co.uk vs url
    shop.host-9.co.uk is THIRD-party under the PSL (host-10.co.uk !=
    host-9.co.uk) but first-party under a last-two-labels approximation
    (co.uk == co.uk) — the adblock_gate oracle row depends on this."""
    from dude_spark.politeness import adblock_filter

    rows = [
        ("https://shop.host-9.co.uk/p1.html", "https://www.host-10.co.uk/i.html"),
        ("https://shop.host-9.co.uk/p2.html", "https://www.host-9.co.uk/i.html"),
    ]
    df = spark.createDataFrame(rows, "url string, source_url string")
    kept = [
        r["url"]
        for r in adblock_filter(
            df, ["||host-9.co.uk^$third-party"], source_col="source_url"
        ).collect()
    ]
    assert kept == ["https://shop.host-9.co.uk/p2.html"]


def _naive_registrable(host, normal, wild, exc):
    """publicsuffix.org algorithm over label lists: an exception rule wins
    (its public suffix drops its first label), else the longest matching
    normal or wildcard rule, else the implicit '*'; the registrable domain
    is the public suffix plus one label. A host that is itself a public
    suffix falls back to the longest rule it extends by a label (psl.py's
    documented fallback)."""
    labels = host.split(".")

    def matches(rule_labels):
        n = len(rule_labels)
        return n <= len(labels) and all(
            r in ("*", h) for r, h in zip(rule_labels, labels[-n:])
        )

    hits = [e.split(".") for e in exc if matches(e.split("."))]
    if hits:
        suffix_len = max(len(h) for h in hits) - 1
    else:
        rules = [r.split(".") for r in normal] + [["*"] + w.split(".") for w in wild]
        suffix_len = max(
            [len(r) for r in rules if matches(r) and len(r) < len(labels)] + [1]
        )
    return ".".join(labels[-(suffix_len + 1):])


def test_registrable_at_psl_scale(spark):
    """A 520-rule list (normal, 3-label, wildcard and exception rules)
    loads, plans and evaluates over a DataFrame without a codegen failure,
    and agrees with a label-list reading of the PSL algorithm on hosts of
    every rule kind."""
    normal = [f"c{i}.t{i % 25}" for i in range(400)]
    normal += [f"a{i}.b{i}.t{i % 25}" for i in range(60)]
    wild = [f"w{i}.t{i % 25}" for i in range(40)]
    exc = [f"ex{i}.w{i}.t{i % 25}" for i in range(20)]
    lines = ["// synthetic list", ""] + normal + [f"*.{w}" for w in wild] + [f"!{e}" for e in exc]
    hosts = []
    for i in range(0, 400, 37):
        hosts += [f"www.shop{i}.c{i}.t{i % 25}", f"c{i}.t{i % 25}"]
    for i in range(0, 60, 7):
        hosts += [f"x.y{i}.a{i}.b{i}.t{i % 25}", f"z.b{i}.t{i % 25}"]
    for i in range(0, 40, 5):
        hosts += [f"deep.name.lab{i}.w{i}.t{i % 25}", f"lab{i}.w{i}.t{i % 25}"]
    for i in range(0, 20, 3):
        hosts += [f"www.ex{i}.w{i}.t{i % 25}", f"ex{i}.w{i}.t{i % 25}"]
    hosts += ["a.b.unknown-tld", "localhost", "x.t3", "www.host-9.co.uk"]
    old = psl._current
    try:
        assert psl.load_public_suffix_list(lines) == 520
        df = spark.createDataFrame([(h,) for h in hosts], "host string")
        got = dict(
            df.select("host", psl.registrable(F.col("host")).alias("reg")).collect()
        )
    finally:
        psl._current = old
    assert len(got) == len(hosts)
    for h in hosts:
        assert got[h] == _naive_registrable(h, normal, wild, exc), h
    assert got["www.shop0.c0.t0"] == "shop0.c0.t0"
    assert got["deep.name.lab5.w5.t5"] == "name.lab5.w5.t5"   # wildcard
    assert got["lab5.w5.t5"] == "w5.t5"                       # is a suffix
    assert got["www.ex3.w3.t3"] == "ex3.w3.t3"                 # exception
    assert got["www.host-9.co.uk"] == "co.uk"  # the list replaced DEFAULT_RULES
