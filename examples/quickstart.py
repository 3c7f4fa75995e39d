#!/usr/bin/env python
"""Quickstart: the five-minute tour of the engine.

Run: python examples/quickstart.py [sf_dir]   (default /root/testdata/sf0.001)

Walks the surfaces a reference-pipeline user needs on day one:
1. the tuned session factory and the parquet lake loader;
2. the RTT dashboard kernel (the reference's 2.R statistics);
3. ad-hoc analytics through the query catalog;
4. an LLM-curation slice (dedup + quality + packing);
5. a streaming micro-demo (the same curation logic on a stream).

Everything here is the public API — no test scaffolding.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elective_waiting_times_pipeline_spark import get_spark
from elective_waiting_times_pipeline_spark.plans import catalog
from elective_waiting_times_pipeline_spark.sources.readers import load_table

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark(app_name="quickstart")
    spark.sparkContext.setLogLevel("ERROR")

    # -- 1. lake access -----------------------------------------------------
    orders = load_table(spark, SF, "orders")
    print(f"orders: {orders.count()} rows, schema {[f.name for f in orders.schema.fields]}")

    # -- 2. the dashboard kernel (reference 2.R) ----------------------------
    # histogram_quantile runs the same band_stats fold as plans/rtt.py
    stats = catalog.SPARK_QUERIES["histogram_quantile"](spark, SF)
    print("\nRTT dashboard statistics (histogram-derived quantiles):")
    stats.show(5, truncate=False)

    # -- 3. ad-hoc analytics through the catalog ----------------------------
    for name in ("pricing_summary", "pareto_revenue_share", "supplier_hhi"):
        print(f"\n{name}:")
        catalog.SPARK_QUERIES[name](spark, SF).show(5, truncate=False)

    # -- 4. LLM-curation slice ----------------------------------------------
    for name in ("dedup_exact_groups", "text_quality", "pack_chunks"):
        df = catalog.SPARK_QUERIES[name](spark, SF)
        print(f"{name}: {df.count()} rows")

    # -- 5. streaming: the same curation logic over a stream ----------------
    from elective_waiting_times_pipeline_spark.streaming.curation import (
        run_curation_available_now,
    )

    curated = run_curation_available_now(spark, f"{SF}/documents.parquet")
    print(f"\nstreaming curation survivors: {curated.count()} docs")

    print("\nFull query census: COVERAGE.md — every oracle-backed entry in")
    print("catalog.SPARK_QUERIES runs as shown above.")


if __name__ == "__main__":
    main()
