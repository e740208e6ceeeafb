"""DuckDB oracle gate for the queries that bind production operators
(operators/dedup.py, similarity.py, textstats.py) to md5-derived hashes,
plus the shingle-based queries that share their token and shingle
helpers: each query must match its ``oracle_sql()`` twin on the in-repo
sf0.01 tables, compared as tools/check_oracle.py compares them."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import check_oracle  # noqa: E402
from board_game_scraper_spark.queries import ORACLES, QUERIES  # noqa: E402


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = check_oracle.connect(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", [
    "simhash", "minhash_lsh_bands", "near_dup_pairs", "embedding_near_dup",
    "cosine_topk", "quality_full", "minhash_band", "fingerprint",
])
def test_query_matches_oracle(spark, duck, sf_dir, name):
    got = QUERIES[name](spark, sf_dir).toPandas()
    want = duck.execute(ORACLES[name]).fetchdf()
    problem = check_oracle.compare(got, want)
    assert problem is None, f"{name}: {problem}"
