"""Z-order key correctness (known Morton values) and the clustered
write layout (each output file covers a compact key rectangle)."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.functions.zorder import (
    write_zordered,
    zorder_key_n,
)


def _morton(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_key_matches_reference_interleave(spark):
    pts = [(x, y) for x in (0, 1, 2, 3, 5, 255, 65535) for y in (0, 1, 3, 7, 1024, 65535)]
    df = spark.createDataFrame(pts, "x long, y long")
    rows = df.select("x", "y", zorder_key_n(["x", "y"]).alias("z")).collect()
    for r in rows:
        assert r.z == _morton(r.x, r.y), (r.x, r.y)


def test_zorder_write_layout_is_rectangular(spark, tmp_path):
    # 32x32 grid of points, written z-ordered into 8 files: every file
    # must cover a rectangle far smaller than the full grid (a 1-D sort
    # on x alone would give files spanning ALL of y).
    pts = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(pts, "x long, y long")
    out = str(tmp_path / "zlake")
    write_zordered(df, out, "x", "y", n_files=8, bits=5)
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) >= 4
    full_area = 32 * 32
    for f in files:
        t = pq.read_table(f)
        xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
        if not xs:
            continue
        area = (max(xs) - min(xs) + 1) * (max(ys) - min(ys) + 1)
        # each file's bounding rectangle covers well under half the grid
        assert area <= full_area / 2, (f, area)


def test_zorder_n_matches_reference_and_validates(spark):
    import pytest

    def morton3(x, y, z, bits):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (3 * i)
            out |= ((y >> i) & 1) << (3 * i + 1)
            out |= ((z >> i) & 1) << (3 * i + 2)
        return out

    pts = [(1, 2, 3), (7, 0, 5), (31, 31, 31), (0, 0, 0)]
    df = spark.createDataFrame(pts, "x long, y long, z long")
    rows = df.select("x", "y", "z", zorder_key_n(["x", "y", "z"], bits=5).alias("m")).collect()
    for r in rows:
        assert r.m == morton3(r.x, r.y, r.z, 5)
    with pytest.raises(ValueError):
        zorder_key_n(["x"], bits=5)
    with pytest.raises(ValueError):
        zorder_key_n(["x", "y", "z"], bits=21)  # 63 bits hits the sign bit
