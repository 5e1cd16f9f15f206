"""The oracle-checked query registry (`dude_spark.queries`): its shape
without Spark, and the merged queries against their DuckDB oracles."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from conftest import SF_SMOKE as SF  # noqa: E402
from dude_spark.queries import oracle_sql, queries  # noqa: E402
from tools.compare_oracle import TABLES, compare  # noqa: E402

# queries that each answer for several operators at once (tagged slices or
# a finer grain), plus dedup_embedding, whose oracle shares the LSH tables
MERGED = [
    "content_identity",
    "crawl_bfs",
    "politeness_budget",
    "selector_extract",
    "sink_json",
    "ann_topk",
    "dedup_minhash_cc",
    "dedup_embedding",
]


def test_registry_fits_the_gate_and_every_query_has_an_oracle():
    # the correctness gate evaluates the first 50 registry entries
    qs, oracles = queries(), oracle_sql()
    assert len(qs) <= 50
    assert qs.keys() == oracles.keys()
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), name


@pytest.fixture(scope="module")
def duck():
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", MERGED)
def test_merged_query_matches_oracle(spark, duck, name):
    got = queries()[name](spark, SF).toPandas()
    want = duck.execute(oracle_sql()[name]).fetchdf()
    assert len(got) > 0
    assert compare(got, want) is None, compare(got, want)


# 40 distinct words; B replaces word 12 of A, C replaces word 28 of B
CHAIN_A = (
    "yankee willow amber charlie quebec grove fjord zulu tango ember whiskey "
    "loam november thyme india sierra kelp golf umber juliet sage delta xray "
    "vale victor kilo papa romeo dune lima moss reed heath cedar zinnia oscar "
    "uniform iris echo alpha"
).split()


def test_dedup_minhash_cc_collapses_a_chain(spark, tmp_path):
    """Chained near-duplicates in the production pipeline: A~B and B~C
    verify (Jaccard 0.85), A~C does not (0.73), and LSH proposes both links
    (seeded hashes: deterministic). The closure maps A, B, C and their
    shifted copies to A's id; a one-hop keep-min would leave C at B."""
    import pandas as pd

    duckdb = pytest.importorskip("duckdb")
    b = CHAIN_A[:12] + ["mutantone"] + CHAIN_A[13:]
    c = b[:28] + ["mutanttwo"] + b[29:]
    other = "jade foxtrot quartz opal yarrow nectar mike bravo basil " * 4
    docs = pd.DataFrame({
        "doc_id": [5, 10, 15, 20],
        "text": [" ".join(CHAIN_A), " ".join(b), " ".join(c), other.strip()],
        "lang": "en", "source": "s0",
    })
    docs["n_chars"] = docs.text.str.len()
    docs.to_parquet(tmp_path / "documents.parquet", index=False)

    got = queries()["dedup_minhash_cc"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
        )
        want = con.execute(oracle_sql()["dedup_minhash_cc"]).fetchdf()
    finally:
        con.close()
    assert compare(got, want) is None, compare(got, want)

    pairs = {
        (r.doc_a % 10_000_000, int(r.doc_b) % 10_000_000)
        for r in got[got.t == "pair"].itertuples()
    }
    assert {(5, 10), (10, 15)} <= pairs and (5, 15) not in pairs
    keep = dict(zip(got[got.t == "doc"].doc_a, got[got.t == "doc"].keep_doc_id))
    for d in (5, 10, 15):
        assert keep[d] == keep[d + 10_000_000] == 5
