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
