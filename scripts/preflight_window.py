#!/usr/bin/env python
"""Strict oracle check of `__spark_entry__.queries()` against their
DuckDB oracles under a REPRESENTATION-SENSITIVE hash (pandas
hash_pandas_object over name-sorted, value-sorted columns — the
strictness class that caught survival_conversion's HUGEINT column when
the dtype-normalizing suite comparator could not).

Usage:
  python scripts/preflight_window.py [--window N] [--sf DIR ...]
      the FIRST N (default 50) queries() keys — the driver's next
      correctness window;
  python scripts/preflight_window.py q1 [q2 ...] [--sf DIR ...]
      the named queries.
--sf defaults to sf0.01 (the driver's scale) and may be repeated.
Prints one line per query and a FAIL summary; exit 1 on any mismatch.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from elective_waiting_times_pipeline_spark.sources.readers import TESTDATA_TABLES


def strict_hash(df: pd.DataFrame) -> tuple[str, dict]:
    df = df[sorted(df.columns)].copy()
    # unify datetime RESOLUTION only (Spark toPandas gives ns, DuckDB
    # .df() gives us; the values are µs-precision either way) — every
    # other representation difference (e.g. HUGEINT→object/float128 vs
    # int64) must still fail the hash, that's the class this exists for
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    h = hashlib.md5(
        pd.util.hash_pandas_object(df, index=False).values.tobytes()
    ).hexdigest()
    return h, {c: str(df[c].dtype) for c in df.columns}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*", help="queries to check (default: the first --window keys)")
    ap.add_argument("--sf", action="append", help="lake directory (repeatable; default sf0.01)")
    ap.add_argument("--window", type=int, default=50, help="window size when no names are given")
    args = ap.parse_args()
    sfs = args.sf or ["/root/testdata/sf0.01"]

    entry = importlib.import_module("__spark_entry__")
    from elective_waiting_times_pipeline_spark import get_spark

    spark = get_spark(app_name="preflight")
    qs, oracles = entry.queries(), entry.oracle_sql()
    names = args.names or list(qs)[: args.window]

    fails: list[str] = []
    for sf in sfs:
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            path = os.path.join(sf, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name in names:
            tag = f"{sf} {name}" if len(sfs) > 1 else name
            try:
                sdf = qs[name](spark, sf).toPandas()
            except Exception as e:
                print(f"{tag}: SPARK ERR {type(e).__name__}: {str(e)[:120]}")
                fails.append(tag)
                continue
            if name not in oracles:
                print(f"{tag}: rows-only ({len(sdf)} rows)")
                continue
            try:
                odf = con.sql(oracles[name]).df()
            except Exception as e:
                print(f"{tag}: ORACLE ERR {type(e).__name__}: {str(e)[:120]}")
                fails.append(tag)
                continue
            hs, ds = strict_hash(sdf)
            ho, do = strict_hash(odf)
            if hs == ho:
                print(f"{tag}: OK ({len(sdf)} rows)")
            else:
                print(f"{tag}: HASH MISMATCH spark={ds} oracle={do} "
                      f"rows {len(sdf)}/{len(odf)}")
                fails.append(tag)
    total = len(names) * len(sfs)
    print(f"\n{total - len(fails)}/{total} green")
    if fails:
        print("FAILS:", fails)
        sys.exit(1)


if __name__ == "__main__":
    main()
