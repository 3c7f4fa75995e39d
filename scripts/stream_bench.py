#!/usr/bin/env python
"""Streaming-surface micro-bench: drive the ingest-curation chain and
the store-dedup checks over the sf docs as availableNow streams into
the noop sink, and print ONE side JSON line with wall seconds and
rows/s. Gives the streaming operators a repeatable number that future
rounds can diff — they have no entry in the batch headline bench
(VERDICT r10 item 6).

Methodology mirrors bench.py: one warmup pass, then min-of-2 timed
passes per pipeline; every pass builds the full streaming query from
scratch (no state carried across passes; availableNow + noop sink, so
the wall time covers source listing -> expression chain -> sink
commit). The static stores for the dedup leg are built ONCE from the
batch operators (that is the lifecycle: stores persist, the stream
checks against them) and localCheckpoint'd so store derivation cost
is not mixed into the streaming number.

Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... python scripts/stream_bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark import get_spark, harness
from elective_waiting_times_pipeline_spark.streaming.curation import curate
from elective_waiting_times_pipeline_spark.streaming.io import read_table_stream
from elective_waiting_times_pipeline_spark.streaming.store_dedup import (
    flag_known_exact,
    near_dup_candidates_vs_store,
)


def _run_stream(df, name: str) -> float:
    t0 = time.perf_counter()
    q = (
        df.writeStream.outputMode("append")
        .format("noop")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = harness.sf_dir()
    docs_path = f"{sf_dir}/documents.parquet"
    spark = get_spark(app_name="stream_bench")

    n_docs = spark.read.parquet(docs_path).count()

    # static stores, built once from the batch operators (the persisted
    # artifacts the stream checks against); pinned so each timed pass
    # reads store blocks instead of re-deriving them
    from elective_waiting_times_pipeline_spark.operators.dedup import (
        exact_dup_groups,
        minhash_signatures,
    )

    batch_docs = spark.read.parquet(docs_path)
    fp_store = exact_dup_groups(batch_docs).localCheckpoint()
    sig_store = minhash_signatures(batch_docs).localCheckpoint()

    pipelines = {
        "curate": lambda: curate(read_table_stream(spark, docs_path)),
        "store_exact": lambda: flag_known_exact(
            read_table_stream(spark, docs_path), fp_store
        ),
        "store_near_dup": lambda: near_dup_candidates_vs_store(
            read_table_stream(spark, docs_path), sig_store
        ),
    }
    results: dict[str, dict] = {}
    for name, mk in pipelines.items():
        spark.sparkContext.setJobDescription(f"stream_bench:{name}")
        _run_stream(mk(), f"{name}_warmup")  # warmup
        secs = min(_run_stream(mk(), f"{name}_{i}") for i in range(2))
        results[name] = {
            "sec": round(secs, 3),
            "rows_per_sec": round(n_docs / secs, 1),
        }
    print(
        json.dumps(
            {
                "metric": "streaming_micro_bench",
                "n_docs": n_docs,
                "pipelines": results,
                "unit": "sec",
                "sf": harness.sf_value(sf_dir),
            }
        )
    )


if __name__ == "__main__":
    main()
