#!/usr/bin/env python
"""dedup_clusters pair-generation fan-out at larger SF, and the
max_doc_freq (hot-shingle cap) variant as a SEPARATE measurement —
the headline query stays exact/oracle-checkable (VERDICT r10 item 3).

Reports, for the exact and df-capped pair generators over the same
corpus: the postings count, the theoretical join fan-out Σ df², the
measured wall (noop sink), the surviving pair count, and the capped
variant's recall vs the exact pair set at the query's threshold.

Usage: SPARK_GRAFT_SF_DIR=<lake> python scripts/probe_dedup_cap.py [max_df ...]
Prints one JSON line; optionally dumps the df-cap plan with
PLAN_OUT=plans/r11/dedup_pairs_dfcap_sf1.txt.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark import get_spark, harness
from elective_waiting_times_pipeline_spark.operators.dedup import _postings, ngram_jaccard_pairs
from elective_waiting_times_pipeline_spark.operators.text import tokens

THRESHOLD = 0.1  # dedup_clusters' min_jaccard
SHINGLE_N = 3


def main() -> None:
    sf_dir = harness.sf_dir("/root/sf1lake/sf1")
    caps = [int(a) for a in sys.argv[1:]] or [None, 256, 64]
    if None not in caps:
        caps = [None, *caps]
    spark = get_spark(app_name="probe_dedup_cap")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # BOILERPLATE=1: append a shared 10-token footer to EVERY doc —
    # the hot-shingle scenario the df cap exists for (each footer
    # trigram's df becomes n_reps, Σ df² jumps by ~8·n_reps²); the
    # replica lakes never produce this shape because rep-collapse
    # eats exact copies and shifted vocab keeps df flat
    if os.environ.get("BOILERPLATE", "").strip() in ("1", "true"):
        docs = docs.withColumn(
            "text",
            F.concat(
                F.col("text"),
                F.lit(
                    " subscribe to our newsletter terms of service apply"
                    " all rights reserved"
                ),
            ),
        )
    # the reps relation the query actually pair-generates over
    # (exact copies collapsed first — near_dup_clusters' outer guard)
    reps = (
        docs.select("doc_id", "text", F.md5(F.concat_ws("\x1f", tokens("text"))).alias("_k"))
        .groupBy("_k")
        .agg(F.min("doc_id").alias("doc_id"), F.min_by("text", "doc_id").alias("text"))
        .select("doc_id", "text")
        .localCheckpoint()
    )
    n_reps = reps.count()

    out: dict = {"sf_dir": sf_dir, "n_reps": n_reps, "variants": {}}
    exact_pairs = None
    for cap in caps:
        pg = ngram_jaccard_pairs(
            reps, shingle_n=SHINGLE_N, min_jaccard=THRESHOLD, max_doc_freq=cap
        )
        # fan-out profile: Σ df² over the operator's OWN postings
        # (`_postings`), so the numbers describe exactly the joined stream
        shingled = _postings(reps, "text", "doc_id", SHINGLE_N)
        dfreq = shingled.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        if cap is not None:
            dfreq = dfreq.filter(F.col("df") <= cap)
        prof = dfreq.agg(
            F.count(F.lit(1)).alias("shingles"),
            F.sum("df").alias("postings"),
            F.sum(F.col("df") * F.col("df")).alias("fanout"),
            F.max("df").alias("max_df"),
        ).collect()[0]
        wall = round(harness.warm_times(spark, lambda: harness.execute(pg, "noop"), 1)[0], 3)
        pairs = pg.select("id_a", "id_b").localCheckpoint()
        n_pairs = pairs.count()
        rec = None
        if cap is None:
            exact_pairs = pairs
        elif exact_pairs is not None:
            hit = pairs.join(exact_pairs, ["id_a", "id_b"], "left_semi").count()
            rec = round(hit / exact_pairs.count(), 4) if n_pairs else 0.0
        out["variants"][str(cap)] = {
            "shingles": prof["shingles"],
            "postings": int(prof["postings"] or 0),
            "sum_df_sq": int(prof["fanout"] or 0),
            "max_df": prof["max_df"],
            "noop_sec": wall,
            "pairs": n_pairs,
            **({"recall_vs_exact": rec} if rec is not None else {}),
        }
        plan_out = os.environ.get("PLAN_OUT")
        if plan_out and cap is not None:
            with open(plan_out, "w") as f:
                f.write(f"== ngram_jaccard_pairs max_doc_freq={cap} @ {sf_dir} ==\n\n")
                f.write(harness.explain(pg))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
