#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate.

Usage: python3 scripts/check_oracle.py [sfDir] [outDir] [tempDir]

1. Assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` already ran,
   producing <outDir>/<name>/ parquet dirs + <outDir>/oracle_sql.json.
2. Registers DuckDB views over the sfDir parquet tables.
3. Runs each oracle SQL; compares with the Spark result: columns sorted by
   name, rows sorted by all columns, exact value match (the driver hashes —
   we diff so mismatches are debuggable).

DuckDB runs under a memory limit and spills into a fresh directory under
tempDir (default: the system temp directory), removed on exit. A query
that fails on memory, disk or I/O (e.g. "No space left on device") is a
SETUP-ERROR, not an oracle FAIL: it says nothing about the Spark result.

Exit code: 0 all compared queries pass; 1 any FAIL; 2 no FAIL but at
least one SETUP-ERROR (those queries were not checked).

NOTE: driver-side tooling only (duckdb/pyarrow/pandas). The engine itself
has no Python dependency.
"""
import glob
import json
import shutil
import sys
import tempfile

import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

DUCKDB_MEMORY_LIMIT = "4GB"


def is_setup_error(e: Exception) -> bool:
    """DuckDB ran out of memory, disk or I/O: the oracle could not run."""
    return (isinstance(e, (duckdb.OutOfMemoryException, duckdb.IOException))
            or "No space left on device" in str(e))


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes that differ only in representation
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list,)) else v)
        try:
            import numpy as np
            if isinstance(df[c].iloc[0] if len(df) else None, np.ndarray):
                df[c] = df[c].map(tuple)
        except Exception:
            pass
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def signed_zero_diff(a: pd.DataFrame, b: pd.DataFrame):
    """Return locations where values are equal but sign bits differ (±0.0).

    Covers plain float columns and float values nested in tuples (arrays
    canonicalized by `canon`). Rows are already aligned by the sort.
    """
    def sbit(v):
        if isinstance(v, tuple):
            return tuple(sbit(x) for x in v)
        if isinstance(v, (float, np.floating)) and not np.isnan(v):
            return bool(np.signbit(v))
        return None

    diffs = []
    for c in a.columns:
        av, bv = a[c], b[c]
        if str(av.dtype).startswith("float") and str(bv.dtype).startswith("float"):
            mask = np.signbit(av.to_numpy()) != np.signbit(bv.to_numpy())
            mask &= ~(av.isna().to_numpy() | bv.isna().to_numpy())
            if mask.any():
                i = int(np.argmax(mask))
                diffs.append(f"col {c} row {i}: spark={av.iloc[i]!r} duck={bv.iloc[i]!r} (+{int(mask.sum())-1} more)")
        elif av.dtype == object:
            for i, (x, y) in enumerate(zip(av, bv)):
                if sbit(x) != sbit(y):
                    diffs.append(f"col {c} row {i}: spark={x!r} duck={y!r}")
                    break
    return "; ".join(diffs)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    tmp_root = sys.argv[3] if len(sys.argv) > 3 else tempfile.gettempdir()
    spill = tempfile.mkdtemp(prefix="check_oracle_duckdb_", dir=tmp_root)
    try:
        sys.exit(check(sf, out, spill))
    finally:
        shutil.rmtree(spill, ignore_errors=True)


def check(sf: str, out: str, spill: str) -> int:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{spill}'")
    con.execute(f"SET memory_limit = '{DUCKDB_MEMORY_LIMIT}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    ok, bad, rows_only, setup = [], [], [], []
    names = sorted({p.split("/")[-1] for p in glob.glob(f"{out}/*") if not p.endswith(".json")})
    for name in names:
        files = glob.glob(f"{out}/{name}/*.parquet")
        if not files:
            bad.append((name, "no spark output"))
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        if name not in oracle:
            rows_only.append((name, len(spark_df)))
            continue
        try:
            duck_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            (setup if is_setup_error(e) else bad).append((name, f"duckdb error: {e}"))
            continue
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            bad.append((name, f"schema: spark={list(a.columns)} duck={list(b.columns)}"))
            continue
        if len(a) != len(b):
            bad.append((name, f"rowcount: spark={len(a)} duck={len(b)}"))
            continue
        dt = [(c, str(a[c].dtype), str(b[c].dtype)) for c in a.columns
              if str(a[c].dtype) != str(b[c].dtype)]
        if dt:
            print(f"DTYPE-WARN {name}: {dt}")
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
            # pandas treats -0.0 == 0.0, but the driver hashes the printed
            # value, where they differ (the class that made q_heaps_law red
            # in r10: DuckDB's round() preserved a nondeterministic -0.0 on a
            # ~±1e-15 slope; Spark emitted +0.0). Compare sign bits too.
            sz = signed_zero_diff(a, b)
            if sz:
                bad.append((name, f"signed-zero (−0.0 vs 0.0, driver hash would differ): {sz}"))
            else:
                ok.append(name)
        except AssertionError as e:
            msg = str(e).split("\n")
            neq = a.compare(b) if a.shape == b.shape else None
            detail = msg[1] if len(msg) > 1 else msg[0]
            if neq is not None and len(neq):
                detail += f" | first diffs:\n{neq.head(5)}"
            bad.append((name, detail))
    print(f"PASS {len(ok)}: {ok}")
    for name, n in rows_only:
        print(f"ROWS-ONLY {name}: {n} rows" + ("  (!! EMPTY)" if n == 0 else ""))
    for name, why in setup:
        print(f"SETUP-ERROR {name}: {why}")
    for name, why in bad:
        print(f"FAIL {name}: {why}")
    return 1 if bad else 2 if setup else 0


if __name__ == "__main__":
    main()
