#!/usr/bin/env python
"""Scale probe: replicate sf0.1 tables ×N into a temp lake and run the
headline queries — evidence that per-query wall time scales sublinearly
(shuffle-bound, not driver-bound) before real cluster runs.

Usage: python scripts/scale_probe.py [replication_factor]
Writes nothing to the repo; prints one JSON line per scale.

Env knobs:
- SPARK_GRAFT_QUERIES=a,b,c — probe only the named queries.
- SPARK_GRAFT_TABLES=documents,embeddings — replicate only the named
  tables ×N (everything else lands ×1): an isolated one-query probe
  doesn't pay to replicate tables the query never reads.
- SPARK_GRAFT_RESHUFFLE=1 — content-reshuffling replication: each
  documents replica gets a per-replica letter+digit rotation of its
  text (260 distinct deterministic transforms), so replicas are NOT
  near-duplicates of each other. Plain replication makes every doc
  100× hot — minhash pair output, n-gram coverage and shared-vocab
  tfidf then measure output blowup (quadratic in copy count), not plan
  scaling; this mode measures the plan. Report BOTH: blowup mode is
  the skew stress test, reshuffle mode is the throughput number.
- SPARK_GRAFT_SHIFT_KEYS=l_suppkey,o_custkey — shift the named
  grouping/join keys per replica so key cardinality scales with the
  data (TPC-H semantics) instead of deepening every base key x N.
  When a named key is a foreign key (o_custkey, l_suppkey, l_partkey),
  the referenced dimension is ALSO replicated xN with its PK shifted
  by the same modulus, so FK joins stay live on every replica; other
  keys (user_id, ...) shift by a fact-local modulus and must not be
  FK-joined in the probed queries.
- SPARK_GRAFT_SHIFT_TEXT=1 — per-replica token suffixing on
  documents.text (every whitespace token gets a _rNN replica tag), so
  VOCABULARY scales with the data instead of every gram going 100x
  hot. This is the honest-cardinality mode for the text family
  (tfidf/PMI/unigram-LM); RESHUFFLE keeps shape but still collides
  grams across replicas only when rotations coincide.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark import get_spark, harness
from elective_waiting_times_pipeline_spark.plans import catalog
from elective_waiting_times_pipeline_spark.sources.readers import TESTDATA_TABLES, load_table

BASE = harness.DEFAULT_SF_DIR


_LOWER = "abcdefghijklmnopqrstuvwxyz"
_DIGIT = "0123456789"


def _reshuffle_text(df, col: str, i: int):
    """Per-replica deterministic content rotation: letters rotate by
    i%26 (case-preserving), digits by (i//26)%10 — 260 distinct
    transforms, so replicas stop being near-duplicates of each other
    while length/shape statistics are preserved exactly."""
    r, d = i % 26, (i // 26) % 10
    if r == 0 and d == 0:
        return df
    src = _LOWER + _LOWER.upper() + _DIGIT
    dst = (
        _LOWER[r:] + _LOWER[:r]
        + (_LOWER[r:] + _LOWER[:r]).upper()
        + _DIGIT[d:] + _DIGIT[:d]
    )
    return df.withColumn(col, F.translate(F.col(col), src, dst))


# Foreign keys a SHIFT_KEYS column may name → the dimension they
# reference. Shifting the FK alone would dangle: replicas i>=1 would
# carry custkeys/suppkeys matching no dimension row, so any probed
# query inner-joining through the FK silently drops (N-1)/N of the
# data and reports a misleadingly flat ×N ratio. When one of these is
# shifted, the referenced dimension is replicated ×factor with its PK
# shifted by the SAME modulus (derived from the dim PK, dense in the
# generator), keeping every replica's joins live.
FK_DIMS = {
    "o_custkey": ("customer", "c_custkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "l_partkey": ("part", "p_partkey"),
}


def replicate(spark, factor: int, out_dir: str) -> None:
    only = {
        t.strip()
        for t in os.environ.get("SPARK_GRAFT_TABLES", "").split(",")
        if t.strip()
    }
    reshuffle = os.environ.get("SPARK_GRAFT_RESHUFFLE", "").strip() in ("1", "true")
    shift_text = os.environ.get("SPARK_GRAFT_SHIFT_TEXT", "").strip() in ("1", "true")
    shift_req = {
        c.strip()
        for c in os.environ.get("SPARK_GRAFT_SHIFT_KEYS", "").split(",")
        if c.strip()
    }
    # dim_table -> (pk, modulus) for every shifted FK; fk -> modulus so
    # fact and dim shift by the identical stride.
    dim_shift: dict[str, tuple[str, int]] = {}
    fk_modulus: dict[str, int] = {}
    for fk in shift_req & set(FK_DIMS):
        dim_t, pk = FK_DIMS[fk]
        m = load_table(spark, BASE, dim_t).agg(F.max(pk)).collect()[0][0] + 1
        dim_shift[dim_t] = (pk, m)
        fk_modulus[fk] = m
    for t in TESTDATA_TABLES:
        df = load_table(spark, BASE, t)
        big_tables = ("lineitem", "orders", "events", "documents", "embeddings")
        if t in dim_shift:
            pk, m = dim_shift[t]
            big = df
            for i in range(1, factor):
                big = big.union(df.withColumn(pk, F.col(pk) + F.lit(i * m)))
            big.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
        elif t in big_tables and (not only or t in only):
            # shift keys per replica so joins/dedup stay realistic
            key = {"lineitem": "l_orderkey", "orders": "o_orderkey", "events": "event_id",
                   "documents": "doc_id", "embeddings": "vec_id"}[t]
            n = df.agg(F.max(key)).collect()[0][0] + 1
            reps = [df.withColumn(key, F.col(key) + F.lit(i * n)) for i in range(factor)]
            # SPARK_GRAFT_SHIFT_KEYS=l_suppkey,o_custkey — ALSO shift the
            # named grouping/join keys per replica, so key cardinality
            # scales with the data (TPC-H semantics: rows-per-supplier
            # and orders-per-customer are constant in SF) instead of
            # every replica piling onto the base keys. Plain mode keeps
            # measuring the per-key depth stress; this mode measures
            # the plan at honest cardinalities. Report both.
            shift_cols = shift_req & set(df.columns)
            for sc in shift_cols:
                # FK columns shift by the dimension-derived modulus so
                # fact and replicated dim stay join-consistent; local
                # keys (user_id, …) fall back to the fact-side max.
                m = fk_modulus.get(sc) or df.agg(F.max(sc)).collect()[0][0] + 1
                reps = [
                    r.withColumn(sc, F.col(sc) + F.lit(i * m))
                    for i, r in enumerate(reps)
                ]
            if reshuffle and t == "documents":
                reps = [_reshuffle_text(r, "text", i) for i, r in enumerate(reps)]
            if shift_text and t == "documents":
                # replica i>=1 gets every whitespace token suffixed
                # with _rNN: vocabulary cardinality scales ~xN while
                # doc/token counts scale exactly xN — vocab-keyed aggs
                # (tfidf, PMI, unigram LM) then measure plan scaling,
                # not 100x-hot-gram output replication.
                reps = [
                    r if i == 0 else r.withColumn(
                        "text",
                        F.regexp_replace(F.col("text"), r"(\S+)", "$1_r%02d" % i),
                    )
                    for i, r in enumerate(reps)
                ]
            big = reps[0]
            for r in reps[1:]:
                big = big.union(r)
            big.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
        else:
            df.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")


def run(sf_dir: str, label: str, names: list[str]) -> dict:
    spark = get_spark(app_name="scale_probe")
    timings = {}
    errors = {}
    # noop sink: unlike collect() it never measures py4j serialization
    # of multi-million-row outputs
    for name in names:
        probe = lambda: harness.execute(catalog.SPARK_QUERIES[name](spark, sf_dir), "noop")  # noqa: E731
        try:
            timings[name] = round(harness.warm_times(spark, probe, 1)[0], 2)
        except Exception as e:  # isolate: one blown query keeps the rest measurable
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            harness.reclaim(spark)
    out = {"label": label, "total_sec": round(sum(timings.values()), 2), "queries": timings}
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    names = harness.query_names()
    run(BASE, "sf0.1", names)
    tmp = tempfile.mkdtemp(prefix="scale_probe_")
    try:
        spark = get_spark(app_name="scale_probe")
        replicate(spark, factor, tmp)
        # Fresh JVM for the measurement: the replicate writes leave GC
        # pressure that skews (2-10x) the CPU-bound queries.
        spark.stop()
        mode = ""
        if os.environ.get("SPARK_GRAFT_RESHUFFLE", "").strip() in ("1", "true"):
            mode += " reshuffled"
        if os.environ.get("SPARK_GRAFT_SHIFT_TEXT", "").strip() in ("1", "true"):
            mode += " shifted-text"
        if os.environ.get("SPARK_GRAFT_SHIFT_KEYS", "").strip():
            mode += " shifted-keys"
        run(tmp, f"sf0.1 x{factor}{mode}", names)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
