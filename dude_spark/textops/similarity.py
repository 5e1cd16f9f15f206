"""Similarity search over an embedding column (array<float>).

- :func:`cosine_topk` — brute-force exact top-k: broadcast the (small) query
  set against the base table; per-row dot products via ``zip_with`` +
  ``aggregate`` (JVM-side, codegen'd — no Python). The O(Q·N) baseline.
- :func:`lsh_bucketed_topk` — the scale path: random-hyperplane (sign-LSH)
  bucketing; only same-bucket pairs are scored. Probe multiplicity via
  ``n_planes`` choices; recall/cost dial documented in the docstring.

All arithmetic in float64 with deterministic left-to-right array folds so a
DuckDB oracle reproduces scores to 1e-12 (outputs round to 6 dp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def with_cosine(pairs: DataFrame, a_col: str = "qvec", b_col: str = "vec") -> DataFrame:
    cos = _dot(F.col(a_col), F.col(b_col)) / (_norm(F.col(a_col)) * _norm(F.col(b_col)))
    return pairs.withColumn("cosine", F.round(cos, 6))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Rank each query's scored candidates (cosine DESC, ties by
    neighbor_id) and keep ranks 1..k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (brute force).

    ``queries`` is broadcast (must be small); the scan over ``base`` is a
    single map-side pass, then one shuffle for the per-query top-k window.
    Output: (query_id, neighbor_id, cosine, rank), rank 1..k, self excluded,
    ties broken by neighbor_id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    b = base.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec"))
    pairs = b.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _topk(with_cosine(pairs), k)


def _plane_signs(seed: str, p: int, dim: int) -> list:
    """±1 hyperplane coordinates: md5(f"{seed}:{p}:{i}")[:8] % 2 * 2 - 1 —
    the driver-side twin of ``portable_hash32(str(i), salt=f"{seed}:{p}")``
    (same bytes hashed, same parity), and of the DuckDB oracles' inlined
    sign matrices."""
    import hashlib

    return [
        (int(hashlib.md5(f"{seed}:{p}:{i}".encode()).hexdigest()[:8], 16) % 2)
        * 2
        - 1
        for i in range(dim)
    ]


def signlsh_bucket(vec_col, n_planes: int = 8, dim: int = 64, seed: str = "lsh"):
    """Random-hyperplane bucket id: sign pattern of ``n_planes`` pseudo-random
    projections. Hyperplanes are derived deterministically from
    portable hashes of (seed, plane, coordinate) — reproducible everywhere,
    no stored model.

    The sign matrix is CONSTANT, so it is computed once driver-side and
    inlined as literal arrays; the per-row work is a pure multiply-add fold
    (the earlier in-expression form re-evaluated dim×planes md5 calls per
    ROW — identical values, ~2000× the per-row CPU)."""
    bucket = F.lit(0).cast("bigint")
    for p in range(n_planes):
        signs = F.array(
            *[F.lit(float(s)) for s in _plane_signs(seed, p, dim)]
        )
        proj = F.aggregate(
            F.zip_with(vec_col, signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2**p).cast("bigint")).otherwise(F.lit(0))
    return bucket


def _lsh_tables(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str,
    n_planes: int, n_tables: int, dim: int,
) -> DataFrame:
    """One (out_id, out_vec, table, bucket) row per vector and sign-LSH
    table; table t hashes with seed ``lsh{t}``."""
    buckets = F.array(
        *[
            signlsh_bucket(F.col(vec_col), n_planes, dim, seed=f"lsh{t}")
            for t in range(n_tables)
        ]
    )
    return df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias(out_vec),
        F.posexplode(buckets).alias("table", "bucket"),
    )


def ivf_topk(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer —
    the cell-partitioned alternative to sign-LSH bucketing.

    Coarse centroids are the first ``n_cells`` base vectors (deterministic,
    training-free — production would k-means them; the *plumbing* is the
    IVF shape either way): every base vector is assigned to its
    nearest-by-cosine centroid in ONE map-side projection (centroids are
    collected driver-side — bounded at ``n_cells`` rows — and inlined as a
    literal array, so assignment needs no join and no shuffle); each query
    probes its ``n_probe`` nearest cells and scores only those cells'
    vectors via a (cell) equi-join.

    100 TB shape: the base-side pass is embarrassingly parallel; expected
    join cost is Q·n_probe·N/n_cells; scale ``n_cells`` with N to hold
    per-cell scan width constant. Output matches :func:`cosine_topk`:
    (query_id, neighbor_id, cosine, rank), ties by neighbor_id.
    """
    cent_rows = sorted(
        base.filter(F.col(id_col) < n_cells)
        .select(id_col, vec_col)
        .collect(),
        key=lambda r: r[id_col],
    )
    cents = [
        F.array(*[F.lit(float(x)) for x in r[vec_col]]) for r in cent_rows
    ]

    def cell_scores(vc):
        # cosine to each centroid; |v| is constant across cells, so the
        # argmax/rank only needs dot/|centroid|
        return F.array(
            *[_dot(vc, c) / _norm(c) for c in cents]
        )

    def with_cell(df, idc, vc, out_id, out_vec):
        scores = cell_scores(F.col(vc))
        cell = F.array_position(scores, F.array_max(scores)) - 1
        return df.select(
            F.col(idc).alias(out_id),
            F.col(vc).alias(out_vec),
            cell.cast("int").alias("cell"),
        )

    b = with_cell(base, id_col, vec_col, "neighbor_id", "vec")
    # query side probes the n_probe best cells: rank cell scores, explode
    qs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        cell_scores(F.col(vec_col)).alias("cs"),
    )
    probe = qs.select(
        "query_id",
        "qvec",
        F.explode(
            F.slice(
                F.array_sort(
                    F.zip_with(
                        F.col("cs"),
                        F.sequence(F.lit(0), F.lit(len(cents) - 1)),
                        lambda s, i: F.struct(
                            (-s).alias("neg"), i.cast("int").alias("cell")
                        ),
                    )
                ),
                1,
                n_probe,
            )
        ).alias("pc"),
    ).select("query_id", "qvec", F.col("pc.cell").alias("cell"))
    pairs = (
        b.join(F.broadcast(probe), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qvec", "neighbor_id", "vec")
    )
    return _topk(with_cosine(pairs), k)


def embedding_near_dup(
    vecs: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate collapse (the dedup twin of
    :func:`lsh_bucketed_topk`): candidate pairs share a sign-LSH bucket in
    ≥1 of ``n_tables`` tables; pairs verified at ``cosine >= threshold``
    collapse each duplicate onto its MINIMUM qualifying smaller id
    (one-hop representative — same keep-min contract as
    ``dedup.exact_duplicates``, deterministic and oracle-expressible;
    full transitive closure would need iterative connected components).

    Output: (vec_id, keep_vec_id, cosine) — one row per document to DROP,
    keep_vec_id its representative, cosine of that pair.

    100 TB shape: no cross join — the per-(table, bucket) self equi-join
    is quadratic only within a bucket, and bucket occupancy is driven by
    ``n_planes`` (≈N/2^p rows per table-bucket); scale p with log2(N) to
    hold per-bucket work constant. Signatures, join, verification and the
    keep-min agg are all JVM-side column expressions.
    """
    bucketed = _lsh_tables(
        vecs, id_col, vec_col, "vid", "v", n_planes, n_tables, dim
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = (
        a.join(b, on=["table", "bucket"])
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("keep_cand"),
            F.col("a.v").alias("qvec"),
            F.col("b.vid").alias("dup_id"),
            F.col("b.v").alias("vec"),
        )
        .dropDuplicates(["keep_cand", "dup_id"])
    )
    scored = with_cosine(pairs).filter(F.col("cosine") >= threshold)
    return (
        scored.groupBy(F.col("dup_id").alias(id_col))
        .agg(
            F.min("keep_cand").alias("keep_vec_id"),
            F.min_by("cosine", "keep_cand").alias("cosine"),
        )
    )


def lsh_bucketed_topk(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only pairs sharing a sign-LSH bucket in at
    least one of ``n_tables`` independent hash tables (standard multi-table
    LSH — each table = ``n_planes`` hyperplanes, so a 10^10-row base shards
    into ~2^p buckets per table; the (table, bucket) equi-join replaces the
    cross join at expected cost L·N·Q/2^p). More tables → higher recall;
    more planes → fewer comparisons.
    """
    b = _lsh_tables(base, id_col, vec_col, "neighbor_id", "vec", n_planes, n_tables, dim)
    q = _lsh_tables(queries, id_col, vec_col, "query_id", "qvec", n_planes, n_tables, dim)
    pairs = (
        b.join(F.broadcast(q), on=["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qvec", "neighbor_id", "vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _topk(with_cosine(pairs), k)
