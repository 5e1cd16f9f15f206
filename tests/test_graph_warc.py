"""Round-3 operators: PageRank, connected components, latest-snapshot
dedupe, Gopher repetition, URL canonicalization — behavior tests beyond the
DuckDB hash-parity gate."""

import pytest
from pyspark.sql import functions as F


def test_pagerank_chain_hand_computed(spark):
    """3-node chain a→b→c, d=0.85, 2 iters — hand-computed ranks.

    r0 = 1/3 each. deg(a)=deg(b)=1.
    r1(a) = 0.05;  r1(b) = 0.05 + 0.85/3;  r1(c) = 0.05 + 0.85/3
    r2(a) = 0.05;  r2(b) = 0.05 + 0.85*0.05
           r2(c) = 0.05 + 0.85*(0.05 + 0.85/3)
    """
    from dude_spark.graph import pagerank

    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "node string")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(edges, nodes, iters=2, damping=0.85).collect()
    }
    assert got["a"] == pytest.approx(0.05, abs=1e-12)
    assert got["b"] == pytest.approx(0.05 + 0.85 * 0.05, abs=1e-12)
    assert got["c"] == pytest.approx(0.05 + 0.85 * (0.05 + 0.85 / 3), abs=1e-12)


def test_pagerank_tree_mass_and_order(spark):
    """Corpus-shaped binary tree: root rank settles at (1-d)/N (no
    in-links), every rank ≥ (1-d)/N, and by iter 3 the leaves have
    accumulated more flowed-down mass than the mid level; total mass < 1
    (dangling leaf mass is dropped, not redistributed — documented)."""
    from dude_spark.graph import pagerank

    # 7-node complete binary tree 0→(1,2), 1→(3,4), 2→(5,6)
    e = [(str(p), str(c)) for p in range(3) for c in (2 * p + 1, 2 * p + 2)]
    edges = spark.createDataFrame(e, "src string, dst string")
    nodes = spark.createDataFrame([(str(i),) for i in range(7)], "node string")
    got = {r["node"]: r["rank"] for r in pagerank(edges, nodes, iters=3).collect()}
    a = 0.15 / 7
    assert got["0"] == pytest.approx(a, abs=1e-15)
    assert min(got.values()) == got["0"]
    assert all(v >= a - 1e-12 for v in got.values())
    assert got["3"] > got["1"] > got["0"]
    assert got["3"] == pytest.approx(a + 0.85 * (a + 0.85 * a / 2) / 2, abs=1e-12)
    assert sum(got.values()) < 1.0


def _union_find(edges):
    """{node: min node id of its component} — the reference closure."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _shuffled_path(rng, n):
    ids = list(range(n))
    rng.shuffle(ids)
    return list(zip(ids, ids[1:]))


def test_connected_components_match_union_find(spark):
    """One graph that combines a shuffled 4,000-node path (about ten star
    rounds), random trees, reversed and duplicate edges, and self-loops —
    on linked nodes and on nodes with no other edge."""
    import random

    from dude_spark.graph import connected_components

    rng = random.Random(7)
    edges = _shuffled_path(rng, 4000)
    first = 10_000
    for _ in range(30):
        ids = list(range(first, first + rng.randint(2, 60)))
        first += len(ids) + 10
        rng.shuffle(ids)
        edges += [(ids[i], ids[rng.randrange(i)]) for i in range(1, len(ids))]
    edges += [(b, a) for a, b in rng.sample(edges, 300)]
    edges += rng.sample(edges, 300)
    edges += [(x, x) for x in rng.sample(range(4000), 20)] + [(90_000, 90_000)] * 2
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, src_col="a", dst_col="b").collect()
    }
    want = _union_find(edges)
    assert got == want
    assert want[90_000] == 90_000 and len(set(want.values())) == 32


def test_connected_components_raises_when_rounds_run_out(spark):
    """A shuffled 4,000-node path needs about ten rounds; with two, the edge
    set is not yet a star forest and must not be returned as the closure."""
    import random

    from dude_spark.graph import connected_components

    df = spark.createDataFrame(_shuffled_path(random.Random(3), 4000), "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iters=2).collect()


def test_latest_snapshot_keeps_newest_and_breaks_ties_high(spark):
    from dude_spark.textops.dedup import latest_snapshot

    rows = [
        ("u1", 100, 1), ("u1", 200, 2), ("u1", 150, 3),
        ("u2", 50, 4),
        ("u3", 70, 5), ("u3", 70, 6),  # ts tie → larger snap_id wins
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts long, snap_id long")
    got = {r["url"]: (r["n_snapshots"], r["latest_snap_id"])
           for r in latest_snapshot(df).collect()}
    assert got == {"u1": (3, 2), "u2": (1, 4), "u3": (2, 6)}


def test_gopher_repetition_flags_repetitious_text(spark):
    from dude_spark.textops.quality import gopher_repetition

    rows = [
        (1, "spam spam spam spam spam spam spam spam spam eggs"),  # top word 0.9
        (2, "the quick brown fox jumps over a lazy dog tonight"),  # all distinct
        (3, "one word"),  # single bigram → bigram_frac 1.0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_repetition(df).collect()}
    assert got[1]["top_word_frac"] == pytest.approx(0.9)
    assert got[1]["keep"] == 0
    assert got[2]["top_word_frac"] == pytest.approx(0.1)
    assert got[2]["top_bigram_frac"] == pytest.approx(1.0 / 9)
    assert got[2]["keep"] == 1
    assert got[3]["top_bigram_frac"] == pytest.approx(1.0)
    assert got[3]["keep"] == 0


def test_gopher_single_word_doc_no_bigram(spark):
    from dude_spark.textops.quality import gopher_repetition

    df = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    row = gopher_repetition(df).collect()[0]
    assert row["n_words"] == 1
    assert row["top_bigram_frac"] == 0.0


def test_url_canonical_strips_fragment_only(spark):
    from dude_spark.frontier import canonicalize

    df = spark.createDataFrame(
        [("https://h.test/p.html#frag",), ("https://h.test/p.html#",),
         ("https://h.test/p.html",)],
        "u string",
    )
    got = [r[0] for r in df.select(canonicalize(F.col("u"))).collect()]
    assert got == ["https://h.test/p.html"] * 3
