"""DuckDB-oracle comparison harness mirroring the driver's check:
row-count + schema-shape + order-insensitive value comparison with the
columns sorted by name. Exact equality is required for non-floats; for
floats we require exactness too (the catalog is built to be
order-independent) but report max-abs-diff on failure for debugging.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from elective_waiting_times_pipeline_spark.sources.readers import TESTDATA_TABLES


def duck_run(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.execute(sql).fetchdf()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("float64")  # unify Int64/int32/int64 & NULLs
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("float64")
        else:
            df[c] = s.astype("object").where(s.notna(), None)
    df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


def assert_matches_oracle(spark_df, oracle_sql: str, sf_dir: str, float_tol: float = 0.0):
    raw_got = spark_df.toPandas()
    raw_want = duck_run(oracle_sql, sf_dir)
    # dtype-CLASS parity BEFORE normalization: the driver's value hash
    # is representation-sensitive, so an int64 vs HUGEINT/float64 (the
    # survival_conversion failure) or a date-object vs datetime64 (the
    # rolling_median_7d near-miss) must fail HERE, not three driver
    # rounds later. Classes: integer / float / bool / datetime / other.
    def _cls(s) -> str:
        if pd.api.types.is_bool_dtype(s):
            return "bool"
        if pd.api.types.is_integer_dtype(s):
            return "integer"
        if pd.api.types.is_float_dtype(s):
            return "float"
        if pd.api.types.is_datetime64_any_dtype(s):
            return "datetime"
        return "other"

    # Column-name parity FIRST (on the raw frames, order-insensitive —
    # the driver sorts columns by name before hashing), so a renamed or
    # missing column fails here with the full name lists instead of
    # silently skipping the dtype gate. Then dtype-class per column in
    # sorted order so the first reported mismatch is deterministic.
    assert sorted(raw_got.columns) == sorted(raw_want.columns), (
        f"columns differ: spark={sorted(raw_got.columns)} vs oracle={sorted(raw_want.columns)}"
    )
    for c in sorted(raw_got.columns):
        cg, cw = _cls(raw_got[c]), _cls(raw_want[c])
        assert cg == cw, (
            f"column {c} dtype-class mismatch: spark={raw_got[c].dtype} ({cg}) "
            f"vs oracle={raw_want[c].dtype} ({cw}) — a representation-sensitive "
            f"driver hash would fail every row even with equal values"
        )
    got = _normalize(raw_got)
    want = _normalize(raw_want)
    assert len(got) == len(want), f"row counts differ: {len(got)} vs {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g):
            both_nan = g.isna() & w.isna()
            close = both_nan | (
                (g.notna() & w.notna())
                & ((g - w).abs() <= float_tol + 1e-12 * w.abs().fillna(0))
            )
            if not close.all():
                bad = (~close).idxmax()
                raise AssertionError(
                    f"column {c} differs at row {bad}: {g[bad]!r} vs {w[bad]!r}; "
                    f"max abs diff {(g - w).abs().max()}"
                )
        else:
            same = (g.isna() & w.isna()) | (g == w)
            if not same.all():
                bad = (~same).idxmax()
                raise AssertionError(f"column {c} differs at row {bad}: {g[bad]!r} vs {w[bad]!r}")
