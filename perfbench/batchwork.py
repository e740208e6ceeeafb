"""The batch layer: one traced and oracle-checked pass over every
``queries.QUERIES`` entry, and the production operators beside their
query twins, on the repository's sf0.01 test tables (TESTDATA.md),
copied under ``perfbench/data/sf0.01`` so that a checkout holds them."""

from __future__ import annotations

import random
import statistics
import sys
import time
from pathlib import Path

from pyspark.sql import functions as F

from board_game_scraper_spark import queries

TABLES = Path(__file__).resolve().parent / "data" / "sf0.01"

# per-query metrics the layer table names
BUILD_OF = ("entity_resolution", "ann_ivf_topk", "embedding_near_dup")
EXEC_OF = ("embedding_near_dup", "near_dup_pairs", "rankings_extract",
           "minhash_lsh_bands", "lineitem_agg")


def _oracle_module(repo: Path):
    sys.path.insert(0, str(repo / "tools"))
    import check_oracle

    return check_oracle


def run(spark, tracer, repo: Path, tables: Path, seed: int, noop,
        tmp: Path) -> tuple[dict, int, list[str]]:
    """(metrics, attempted, failures) of one pass over every query, in
    the order the seed sets.  Each query is built and forced with the
    noop sink under spans, then collected and compared, untimed, with
    DuckDB running its ``oracle_sql()`` twin (tools/check_oracle.py's
    normalisation and value hash)."""
    import duckdb

    co = _oracle_module(repo)
    names = sorted(queries.QUERIES)
    random.Random(seed).shuffle(names)
    sf = str(tables)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables}/{t}.parquet')")
    failures = []
    for name in names:
        try:
            with tracer.span("queries.query", query=name):
                with tracer.span("queries.build", query=name):
                    df = queries.QUERIES[name](spark, sf)
                with tracer.span("queries.exec", query=name):
                    noop(df)
            got = co.normalize(df.toPandas())
            want = co.normalize(con.execute(queries.ORACLES[name]).fetchdf())
        except Exception as exc:  # noqa: BLE001 - counted, pass goes on
            failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            continue
        if sorted(got.columns) != sorted(want.columns):
            failures.append(f"{name}: columns differ")
        elif len(got) != len(want):
            failures.append(f"{name}: rows {len(got)} != {len(want)}")
        elif co.value_hash(got) != co.value_hash(want):
            failures.append(f"{name}: value hash differs")
    con.close()

    def seconds(kind: str) -> dict[str, float]:
        # spans close on error too: a failed query keeps its time so far
        out = dict.fromkeys(names, 0.0)
        for s in tracer.of(f"queries.{kind}", tracer.op):
            out[s["query"]] += s["end"] - s["start"]
        return out

    build, exec_, total = seconds("build"), seconds("exec"), seconds("query")
    out = {
        "queries.suite_s": sum(total.values()),
        "queries.query_p50_s": statistics.median(total.values()),
        "queries.build_s": sum(build.values()),
        "queries.exec_s": sum(exec_.values()),
    }
    out.update({f"queries.{n}.build_s": build[n] for n in BUILD_OF})
    out.update({f"queries.{n}.exec_s": exec_[n] for n in EXEC_OF})
    with tracer.span("bench.operators"):
        out.update(operators(spark, sf, noop))
    return out, len(names), failures


def operators(spark, sf: str, noop) -> dict:
    """The production (xxhash64) operators on the same tables, as
    bench_extra.py --prod runs them; each timing covers building the
    DataFrame and forcing it with the noop sink."""
    from board_game_scraper_spark.operators.dedup import (
        minhash_signatures, near_dup_pairs, simhash)
    from board_game_scraper_spark.operators.similarity import (
        embedding_near_dup)
    from board_game_scraper_spark.queries import _docs_with_near_dups, _t

    def timed(build) -> float:
        t0 = time.perf_counter()
        noop(build())
        return time.perf_counter() - t0

    docs = lambda: _t(spark, sf, "documents")
    return {
        "operators.near_dup_pairs_s": timed(lambda: near_dup_pairs(
            _docs_with_near_dups(spark, sf), "doc_id", "text",
            threshold=0.5, num_perm=8, bands=2)),
        "operators.minhash_signatures_s": timed(
            lambda: minhash_signatures(docs(), "doc_id", "text")),
        "operators.simhash_s": timed(
            lambda: simhash(docs(), "doc_id", "text")),
        "operators.embedding_near_dup_s": timed(lambda: embedding_near_dup(
            _t(spark, sf, "embeddings").select(
                "vec_id", F.col("embedding").cast("array<double>")
                .alias("emb")),
            "vec_id", "emb", threshold=0.9)),
    }
