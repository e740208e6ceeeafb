"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, compares row count, sorted-column schema, and
an order-insensitive value hash.  Usage:

    python tools/check_oracle.py [sf_dir] [query ...]

sf_dir defaults to the in-repo perfbench/data/sf0.01.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from board_game_scraper_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
REPO_SF = Path(__file__).resolve().parent.parent / "perfbench" / "data" / "sf0.01"


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted(
        df.astype(str).apply(lambda r: "\x1f".join(r.values), axis=1).tolist()
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif s.dtype == object:
            out[c] = s.map(lambda v: str(v) if v is not None else None)
        else:
            out[c] = s.astype("object").where(s.notna(), None)
    return out


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per sf table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare(sdf: pd.DataFrame, ddf: pd.DataFrame) -> str | None:
    """None when the Spark and DuckDB results match (sorted column
    names, row count, order-insensitive hash of normalized values),
    else the reason, with the first differing rows on a hash mismatch."""
    s_cols, d_cols = sorted(sdf.columns), sorted(ddf.columns)
    if s_cols != d_cols:
        return f"columns {s_cols} vs {d_cols}"
    if len(sdf) != len(ddf):
        return f"rows {len(sdf)} vs {len(ddf)}"
    ns, nd = normalize(sdf), normalize(ddf)
    if value_hash(ns) == value_hash(nd):
        return None
    ns = ns[s_cols].sort_values(s_cols).reset_index(drop=True)
    nd = nd[s_cols].sort_values(s_cols).reset_index(drop=True)
    diff = ns.astype(str).compare(nd.astype(str))
    return f"value hash mismatch (rows={len(sdf)})\n{diff.head(5)}"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else str(REPO_SF)
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    con = connect(sf_dir)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={len(sdf)})")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        problem = compare(sdf, ddf)
        if problem:
            failures.append(name)
            print(f"FAIL {name}: {problem}")
        else:
            print(f"OK   {name} (rows={len(sdf)})")

    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
