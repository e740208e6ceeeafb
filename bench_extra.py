"""Extra benchmarks (guide §1.4): per-query noop-sink isolation and
micro-decompositions of the heavy dedup queries.  NOT part of the driver
contract — bench.py is the frozen official harness; numbers from here
are cited in OPTIMIZATION_r07.md.

Usage:
  python bench_extra.py [query ...]          # noop-time listed queries
  python bench_extra.py --decompose          # stage decomposition of
                                             # near_dup_pairs / minhash_band
  python bench_extra.py --plans [query ...]  # dump explain("formatted")
"""

from __future__ import annotations

import io
import os
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from board_game_scraper_spark import queries as q  # noqa: E402
from board_game_scraper_spark.session import get_spark  # noqa: E402


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _time(spark, label, df, reps=3):
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.sparkContext.setJobDescription(label)
        _noop(df)
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(f"{label:45s} {best:8.3f}s  (best of {reps})", flush=True)
    return best


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def decompose(spark, sf_dir):
    """Stage-by-stage timings for the two heavy headline queries."""
    from pyspark.sql import functions as F

    from board_game_scraper_spark.operators.dedup import (
        shingles_col as _shingles,
        tokens_col as _toks,
    )
    from board_game_scraper_spark.queries import (
        _docs_with_near_dups,
        _h60,
        _t,
    )

    docs_nd = _docs_with_near_dups(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")

    # --- corpus shape ---
    stats = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.length("text")).alias("chars"),
        F.avg(F.size(F.split(F.trim(F.col("text")), r"\s+"))).alias("toks"),
    ).collect()[0]
    print(f"documents: n={stats['n']} avg_chars={stats['chars']:.0f} "
          f"avg_toks={stats['toks']:.0f}", flush=True)

    # --- minhash_band pieces ---
    toks_inline = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    _time(spark, "mb: tokenize only", docs.select("doc_id", toks_inline.alias("toks")))
    tdf = docs.select("doc_id", toks_inline.alias("toks"))
    n = F.size(F.col("toks"))
    idx = F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1)))
    sh_from_col = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("toks"), i),
            F.element_at(F.col("toks"), i + 1),
            F.element_at(F.col("toks"), i + 2),
        ),
    )
    _time(spark, "mb: shingles from materialized toks",
          tdf.select("doc_id", sh_from_col.alias("sh")))
    _time(spark, "mb: minhash from materialized toks",
          tdf.select("doc_id", F.array_min(F.transform(sh_from_col, F.md5)).alias("minhash")))
    _time(spark, "mb: full query (current code)",
          q.QUERIES["minhash_band"](spark, sf_dir))

    # --- near_dup_pairs pieces ---
    sh = docs_nd.select("doc_id", _shingles(F.col("text")).alias("sh"))
    _time(spark, "nd: shingles (materialized col)", sh)
    sig_expr = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda p: F.array_min(
            F.transform(
                F.col("sh"),
                lambda s: _h60(F.concat(p.cast("string"), F.lit(":"), s)),
            )
        ),
    )
    sigdf = sh.select("doc_id", sig_expr.alias("sig"))
    _time(spark, "nd: signatures (8 perms, once)", sigdf)
    banded_cur = sh.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(1)),
                lambda b: F.md5(
                    F.concat_ws(
                        ":",
                        F.slice(sig_expr, b * 4 + 1, 4).cast("array<string>"),
                    )
                ),
            )
        ).alias("band_key"),
    )
    _time(spark, "nd: banded (current inline sig)", banded_cur)
    banded_mat = sigdf.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(1)),
                lambda b: F.md5(
                    F.concat_ws(
                        ":",
                        F.slice(F.col("sig"), b * 4 + 1, 4).cast("array<string>"),
                    )
                ),
            )
        ).alias("band_key"),
    )
    _time(spark, "nd: banded (materialized sig)", banded_mat)
    _time(spark, "nd: full query (current code)",
          q.QUERIES["near_dup_pairs"](spark, sf_dir))


def prod(spark, sf_dir):
    """Time the PRODUCTION (xxhash64) dedup/similarity operators beside
    the oracle-portable md5 bench variants (VERDICT r06 wrong #1: the
    official bench's near_dup_pairs measures the DuckDB-reproducible
    md5 path; cite these so an 'md5 is slow' artifact is never read as
    an engine regression)."""
    from board_game_scraper_spark.operators.dedup import (
        near_dup_pairs as nd_prod,
        minhash_signatures,
        simhash as simhash_prod,
    )
    from board_game_scraper_spark.operators.similarity import (
        embedding_near_dup as emb_prod,
    )
    from board_game_scraper_spark.queries import _docs_with_near_dups, _t
    from pyspark.sql import functions as F

    docs = _docs_with_near_dups(spark, sf_dir)
    _time(spark, "prod near_dup_pairs (xxhash64)",
          nd_prod(docs, "doc_id", "text", threshold=0.5, num_perm=8,
                  bands=2))
    _time(spark, "prod minhash_signatures (xxhash64)",
          minhash_signatures(_t(spark, sf_dir, "documents"), "doc_id",
                             "text"))
    _time(spark, "prod simhash64 (xxhash64)",
          simhash_prod(_t(spark, sf_dir, "documents"), "doc_id", "text"))
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    _time(spark, "prod embedding_near_dup (xxhash64)",
          emb_prod(base, "vec_id", "emb", threshold=0.9))


def main():
    sf_dir = os.getenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.getenv("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    args = [a for a in sys.argv[1:]]
    if "--prod" in args:
        prod(spark, sf_dir)
        return
    if "--decompose" in args:
        decompose(spark, sf_dir)
        return
    if "--plans" in args:
        names = [a for a in args if not a.startswith("--")] or list(q.QUERIES)
        outdir = Path(__file__).resolve().parent / "plans" / "r07"
        outdir.mkdir(parents=True, exist_ok=True)
        suffix = os.getenv("PLAN_SUFFIX", "before")
        for name in names:
            df = q.QUERIES[name](spark, sf_dir)
            (outdir / f"{name}_{suffix}.txt").write_text(plan_of(df))
            print(f"wrote {name}_{suffix}.txt", flush=True)
        return
    names = [a for a in args if not a.startswith("--")] or list(q.QUERIES)
    reps = int(os.getenv("BENCH_EXTRA_REPS", "3"))
    for name in names:
        _time(spark, name, q.QUERIES[name](spark, sf_dir), reps=reps)


if __name__ == "__main__":
    main()
