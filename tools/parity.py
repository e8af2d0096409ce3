#!/usr/bin/env python3
"""Local oracle-parity harness (developer tool, NOT part of the library).

Mirrors the driver's correctness gate: for each result parquet written by
`graft.Verify`, run the corresponding oracle SQL from oracle_sql.json in
DuckDB over the same source tables, canonicalize both sides (columns
sorted by name, rows sorted by all columns), and diff EXACTLY.

Usage: python3 tools/parity.py <sfDir> <verifyOutDir> [query ...]
       python3 tools/parity.py --against <otherVerifyOutDir> <verifyOutDir> [query ...]

`--against` compares two Verify output directories (say, of a parent and
a changed commit) query by query through the same `canon`, exactly and
order-free. It covers every query that wrote a result, including those
without an oracle (the `kge_*_train` loss curves, `kge_train_eval`).
"""
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify to dodge dtype mismatches (int32 vs int64 etc.) the same
    # way a value-hash would; floats via repr (exact round-trip).
    for c in df.columns:
        df[c] = df[c].map(lambda v: repr(float(v)) if isinstance(v, float) else repr(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def read(con, res_dir: Path) -> pd.DataFrame:
    return canon(con.execute(f"SELECT * FROM read_parquet('{res_dir}/*.parquet')").df())


def report_diff(got: pd.DataFrame, want: pd.DataFrame, a: str, b: str) -> None:
    if list(got.columns) != list(want.columns):
        print(f"  cols {a}={list(got.columns)} {b}={list(want.columns)}")
    elif got.shape == want.shape:
        neq = (got != want).any(axis=1)
        both = pd.concat(
            [got[neq].head(3).add_prefix(f"{a}_"), want[neq].head(3).add_prefix(f"{b}_")],
            axis=1)
        print(both.to_string())


def against(other_dir: Path, out_dir: Path, only: set) -> int:
    """Query-by-query exact compare of two Verify output directories."""
    con = duckdb.connect()
    names = sorted(
        {p.name for d in (other_dir, out_dir) for p in d.iterdir() if p.is_dir()})
    n_pass = n_fail = 0
    for name in names:
        if only and name not in only:
            continue
        a, b = other_dir / name, out_dir / name
        if not (a.exists() and b.exists()):
            print(f"MISS {name}: only in {b if b.exists() else a}")
            n_fail += 1
            continue
        try:
            want, got = read(con, a), read(con, b)
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {e}")
            n_fail += 1
            continue
        if got.equals(want):
            print(f"SAME {name} ({len(got)} rows)")
            n_pass += 1
        else:
            n_fail += 1
            print(f"DIFF {name}: this {got.shape} vs other {want.shape}")
            report_diff(got, want, "this", "other")
    print(f"== {n_pass} same / {n_fail} differ ==")
    return 1 if n_fail else 0


def main() -> int:
    if sys.argv[1] == "--against":
        return against(Path(sys.argv[2]), Path(sys.argv[3]), set(sys.argv[4:]))
    sf_dir, out_dir = Path(sys.argv[1]), Path(sys.argv[2])
    only = set(sys.argv[3:])
    con = duckdb.connect()
    # Bound DuckDB for the builder's sf0.1 sweeps: the default limit
    # (80% of RAM = ~100 GB here) let the 0.9G-pair head-ranking chain
    # balloon resident before spilling, and the spill then filled the
    # disk. A firm limit + a dedicated temp dir keeps the big oracle
    # queries in streaming/spill discipline. Overridable via env.
    import os
    con.execute(f"SET memory_limit='{os.environ.get('PARITY_MEM', '48GB')}'")
    tmp = os.environ.get("PARITY_TMP", "/tmp/duck_parity_tmp")
    Path(tmp).mkdir(parents=True, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    for t in TABLES:
        p = sf_dir / f"{t}.parquet"
        if p.is_dir():  # Spark-written table: a directory of part files
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        res_dir = out_dir / name
        if not res_dir.exists():
            print(f"MISS {name}: no result parquet")
            n_fail += 1
            continue
        try:
            got = read(con, res_dir)
            want = canon(con.execute(sql).df())
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {e}")
            n_fail += 1
            continue
        if got.equals(want):
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        else:
            n_fail += 1
            print(f"FAIL {name}: spark {got.shape} vs oracle {want.shape}")
            report_diff(got, want, "s", "o")
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
