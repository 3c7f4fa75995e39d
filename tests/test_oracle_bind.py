"""Bind-check every generated DuckDB oracle in seconds.

Several oracles are GENERATED from Python config (e.g. the language-ID
oracle iterates X.STOPWORDS; the token/shingle fragments are shared
strings). A generator bug — a CTE projecting a stale column list, a
mis-spliced fragment — binds wrong long before values are wrong, and
historically surfaced only at driver time (round 2: `text_lang_id`
Binder Error). This test runs every registered ORACLE_SQL through
DuckDB's planner (EXPLAIN — full binding, no execution) against
zero-row clones of the lake tables, so any binder-level regression
fails in seconds without running a single query.
"""

from __future__ import annotations

import duckdb
import pytest

from elective_waiting_times_pipeline_spark.plans import catalog
from elective_waiting_times_pipeline_spark.sources.readers import TESTDATA_TABLES


@pytest.fixture(scope="module")
def empty_con(sf_dir):
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        # Schema-only clone: same column names/types, zero rows.
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet' WHERE false"
        )
    return con


@pytest.mark.parametrize("name", sorted(catalog.ORACLE_SQL))
def test_oracle_binds(empty_con, name):
    empty_con.execute(f"EXPLAIN {catalog.ORACLE_SQL[name]}")
