#!/usr/bin/env python
"""×100 probe: incremental cluster-store refresh at a REALISTIC 1%
delta vs the ground-up rebuild — the measurement behind SCALE.md's
"the gap widens as the delta fraction shrinks" claim (round 9
recorded 4.2× at a 20% delta; this records the 1% point).

Methodology mirrors the round-9 probe: ×100 shifted-text documents
lake (vocabulary scales with data — honest pair cardinality), the
old store is built and PERSISTED untimed (production owns it
already), then warmup + min-of-2 per form:
  full  = near_dup_clusters over the whole corpus
  incr  = ngram_jaccard_pairs_delta (pairs touching a new doc only)
          + update_cluster_store on the collapsed delta graph
Writes nothing to the repo; prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_TABLES", "documents")
os.environ.setdefault("SPARK_GRAFT_SHIFT_TEXT", "1")

from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark import get_spark, harness
from elective_waiting_times_pipeline_spark.operators.cluster import (
    near_dup_clusters,
    update_cluster_store,
    write_cluster_store,
)
from elective_waiting_times_pipeline_spark.operators.dedup import (
    incremental_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs_delta,
    verify_candidate_pairs,
)
from scale_probe import replicate


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    pct = int(sys.argv[2]) if len(sys.argv) > 2 else 100  # 1-in-pct is "new"
    spark = get_spark(app_name="probe_incremental_1pct")
    # warmup + min-of-2: single-shot first executions swung ~2x under
    # host bursts
    timed = lambda fn: round(min(harness.warm_times(spark, fn, 2)), 1)  # noqa: E731
    lake = tempfile.mkdtemp(prefix="lake_incr1pct_")
    try:
        replicate(spark, factor, lake)
        docs = spark.read.parquet(f"{lake}/documents.parquet")
        is_new = F.col("doc_id") % pct == 0
        new_ids = docs.filter(is_new).select("doc_id")
        n_total, n_new = docs.count(), new_ids.count()

        # old store: built once, persisted, NOT part of either timing —
        # production reads it from the object store
        t0 = time.perf_counter()
        write_cluster_store(
            near_dup_clusters(docs.filter(~is_new), shingle_n=3, min_jaccard=0.1),
            f"{lake}/old_store",
        )
        t_store_build = round(time.perf_counter() - t0, 1)
        old_store = spark.read.parquet(f"{lake}/old_store")

        t_full = timed(
            lambda: harness.execute(near_dup_clusters(docs, shingle_n=3, min_jaccard=0.1), "noop")
        )
        t_incr = timed(
            lambda: harness.execute(
                update_cluster_store(
                    old_store,
                    ngram_jaccard_pairs_delta(
                        docs, new_ids, shingle_n=3, min_jaccard=0.1
                    ),
                    new_ids,
                ),
                "noop",
            )
        )

        # Signature-store ingest path: the old corpus is represented
        # by its persisted SIGNATURE table (built untimed — production
        # owns it), candidates come from banding (never touching old
        # text), and exact verification tokenizes only endpoint docs.
        # This dodges the exact generator's full-corpus tokenize floor;
        # the price is LSH recall at the operating threshold (reported).
        minhash_signatures(docs.filter(~is_new), shingle_n=3).write.mode(
            "overwrite"
        ).parquet(f"{lake}/sig_store")
        sig_store = spark.read.parquet(f"{lake}/sig_store")

        def sig_path():
            new_sigs = minhash_signatures(docs.filter(is_new), shingle_n=3)
            cand = incremental_lsh_candidates(
                new_sigs, sig_store, bands=4, rows_per_band=4, max_bucket_size=1000
            )
            verified = verify_candidate_pairs(
                cand, docs, shingle_n=3, min_jaccard=0.1
            )
            harness.execute(update_cluster_store(old_store, verified, new_ids), "noop")

        t_sig = timed(sig_path)
        # recall of the sig path's verified pairs vs the exact delta
        # pairs at the same threshold (one-off, untimed)
        exact_pairs = ngram_jaccard_pairs_delta(
            docs, new_ids, shingle_n=3, min_jaccard=0.1
        ).select("id_a", "id_b")
        new_sigs = minhash_signatures(docs.filter(is_new), shingle_n=3)
        sig_pairs = verify_candidate_pairs(
            incremental_lsh_candidates(
                new_sigs, sig_store, bands=4, rows_per_band=4, max_bucket_size=1000
            ),
            docs,
            shingle_n=3,
            min_jaccard=0.1,
        ).select("id_a", "id_b")
        n_exact = exact_pairs.count()
        n_hit = exact_pairs.join(sig_pairs, ["id_a", "id_b"]).count()
        print(
            json.dumps(
                {
                    "metric": "incremental_refresh_delta_probe",
                    "factor": factor,
                    "delta_fraction": round(n_new / n_total, 4),
                    "n_docs": n_total,
                    "n_new": n_new,
                    "old_store_build_sec": t_store_build,
                    "full_rebuild_sec": t_full,
                    "incremental_sec": t_incr,
                    "speedup": round(t_full / t_incr, 2) if t_incr else None,
                    "sig_store_path_sec": t_sig,
                    "sig_speedup": round(t_full / t_sig, 2) if t_sig else None,
                    "exact_delta_pairs": n_exact,
                    "sig_path_recall": round(n_hit / n_exact, 4) if n_exact else None,
                }
            )
        )
    finally:
        shutil.rmtree(lake, ignore_errors=True)


if __name__ == "__main__":
    main()
