"""Link-graph analytics over crawl output: distributed PageRank and
connected components.

A crawl's link graph (``link_graph`` query / ``extract.links``) is the
input to frontier prioritization — the reference has no analogue (its
frontier is a FIFO deque, ``dude/base.py:361-376``), but a 10^10-URL
frontier needs a priority signal, and PageRank over the already-extracted
edge table is the classic one.

Spark-first shape: each iteration is one join (ranks ⋈ edges on src, both
sides hash-partitioned on the same key) + one hash aggregate on dst. No
driver-side per-node state; the only driver scalar is |V| (one count job
up front). Lineage grows linearly with iterations — for big iteration
counts callers should localCheckpoint/checkpoint every ~10 rounds, same
policy as the crawl loop's seen-set folds (crawl.py).

Connected components (the transitive closure behind near-dup collapse)
alternate large-star and small-star steps; each step takes a node's
smallest neighbour from a window on the node id, so a round is two
shuffles plus one convergence action, and the loop stops on the first
round whose output is a star forest (see :func:`connected_components`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank, simple form (dangling mass dropped, not redistributed —
    the variant that needs no per-iteration driver collect; documented
    deviation from the dangling-redistribution form).

    rank_0(v) = 1/N
    rank_{i+1}(v) = (1-d)/N + d * Σ_{(u,v)∈E} rank_i(u) / outdeg(u)

    ``nodes``: one-column DataFrame of the full vertex set; derived as
    src∪dst when omitted (which silently drops isolated vertices — pass it
    explicitly when the graph may have them).
    """
    if nodes is None:
        nodes = (
            edges.select(F.col(src_col).alias("node"))
            .unionByName(edges.select(F.col(dst_col).alias("node")))
            .distinct()
        )
    else:
        nodes = nodes.toDF("node")
    n = nodes.count()  # the one driver scalar; |V| only, no vertex data
    out_deg = edges.groupBy(src_col).agg(F.count("*").alias("deg"))
    deg_edges = edges.join(out_deg, src_col)  # reused across iterations
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        sums = (
            deg_edges.join(ranks.withColumnRenamed("node", src_col), src_col)
            .groupBy(dst_col)
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("s"))
        )
        ranks = (
            nodes.join(sums, nodes["node"] == sums[dst_col], "left")
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


def _neighbourhoods(edges: DataFrame) -> DataFrame:
    """Every edge in both directions, deduplicated and hash-partitioned on
    ``src``, with each node's smallest (``mn``) and largest (``mx``)
    neighbour attached. One shuffle: both directions come out of one
    ``inline`` (the upstream plan is read once), the two windows share it,
    and the distinct runs on top of the window's partitioning."""
    both = edges.select(F.inline(F.array(
        F.struct("src", "dst"),
        F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
    )))
    w = Window.partitionBy("src")
    return both.select(
        "src", "dst", F.min("dst").over(w).alias("mn"), F.max("dst").over(w).alias("mx")
    ).distinct()


def _large_star(nbhd: DataFrame) -> DataFrame:
    """One large-star step (Kiveris et al., "Connected Components in
    MapReduce and Beyond", alternating algorithm) over
    :func:`_neighbourhoods` output: every node connects its larger
    neighbours to the minimum of its closed neighbourhood. A self-loop row
    also emits, so a node whose only edge is a self-loop keeps it. No
    shuffle of its own and no distinct: :func:`_neighbourhoods` after the
    small-star step removes the duplicates."""
    return nbhd.filter(F.col("dst") >= F.col("src")).select(
        F.col("dst").alias("src"), F.least("src", "mn").alias("dst")
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star step over edges oriented ``src >= dst`` (large-star's
    output is): every node rewires its smaller neighbours (and itself) to
    the minimum of them. One shuffle, for the window on ``src``."""
    m = F.min("dst").over(Window.partitionBy("src"))
    return edges.select("src", "dst", m.alias("m")).select(
        F.when(F.col("dst") == F.col("m"), F.col("src"))
        .otherwise(F.col("dst"))
        .alias("src"),
        F.col("m").alias("dst"),
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 16,
) -> DataFrame:
    """Connected components via the alternating large-star/small-star
    algorithm — the transitive-closure engine behind chained near-dup
    collapse (a one-hop keep-min maps A≈B≈C to TWO representatives; the
    closure maps the whole chain to one).

    Returns ``(node, component)`` for every node in the edge set, where
    ``component`` is the minimum node id of the component; a node whose
    only edge is a self-loop is its own component. Edges with a NULL end
    are ignored.

    100 TB shape: a round is two shuffles on the node id — the small-star
    window, and the one that rebuilds each node's neighbourhood — plus one
    convergence action; the edge set contracts toward star graphs in
    O(log n) rounds regardless of component diameter — unlike naive
    min-label propagation, whose round count is the graph DIAMETER (a
    10^6-long url chain would need 10^6 rounds). Convergence is a local
    test on the round's output: it is a star forest when every node has
    only larger neighbours or exactly one neighbour, so the loop stops on
    the round that converges. Each round's output is localCheckpointed
    (lineage truncated, the crawl loop's policy), and the answer is read
    off the last one: each node's component is the smaller of itself and
    its smallest neighbour. Raises ``RuntimeError`` when ``max_iters``
    rounds do not reach a star forest, rather than return a partial
    closure.
    """
    nbhd = _neighbourhoods(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).dropna()
    )
    not_star = (F.col("mn") < F.col("src")) & (F.col("mx") != F.col("mn"))
    for _ in range(max_iters):
        nbhd = _neighbourhoods(_small_star(_large_star(nbhd))).localCheckpoint(
            eager=False
        )
        if nbhd.filter(not_star).isEmpty():
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in max_iters={max_iters} rounds"
        )
    return nbhd.filter(F.col("dst") == F.col("mn")).select(
        F.col("src").alias("node"), F.least("src", "mn").alias("component")
    )
