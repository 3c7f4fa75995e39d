from __future__ import annotations

import os

import pytest

from elective_waiting_times_pipeline_spark import get_spark
from elective_waiting_times_pipeline_spark.sources.readers import TESTDATA_TABLES

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def make_lake(spark, tmp_path, **override_tables):
    """Build a tmp sf-dir: copy the sf0.001 tables, overriding any by
    name with a provided DataFrame (written as ONE flat parquet file,
    matching the lake layout the DuckDB oracle reads)."""
    import shutil

    sf = str(tmp_path / "lake")
    (tmp_path / "lake").mkdir(exist_ok=True)
    for t in TESTDATA_TABLES:
        if t in override_tables:
            continue
        src = f"{SF_SMOKE}/{t}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, f"{sf}/{t}.parquet")
        else:
            shutil.copy(src, f"{sf}/{t}.parquet")
    for t, df in override_tables.items():
        staging = f"{sf}/_staging_{t}"
        df.coalesce(1).write.parquet(staging)
        part = next(p for p in os.listdir(staging) if p.endswith(".parquet"))
        shutil.move(f"{staging}/{part}", f"{sf}/{t}.parquet")
        shutil.rmtree(staging)
    return sf
