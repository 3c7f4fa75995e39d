"""elective_waiting_times_pipeline_spark — a PySpark-native analytics engine.

A brand-new, Spark-first implementation of the query and data-processing
capabilities of HFAnalyticsLab/Elective-waiting-times-pipeline (a
single-node R pipeline; see SURVEY.md). All computation is expressed as
lazy DataFrame / Spark SQL logical plans so Catalyst + Tungsten choose
the physical strategy; Python UDFs are avoided in hot paths.

Layout:
    session     — tuned SparkSession builder; class_archive, the
                  per-host JVM class archive it starts from
    sources     — readers, schema utilities, union-by-name, sinks
    functions   — scalar column helpers (names, dates, labels)
    operators   — reusable relational operators (histogram quantile,
                  grouping sets, windows, dedup, similarity, text)
    plans       — end-to-end pipeline compositions (ingest, dashboard,
                  reporting) mirroring the reference's script stages
    streaming   — Structured Streaming counterparts (events table)
"""

from elective_waiting_times_pipeline_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
