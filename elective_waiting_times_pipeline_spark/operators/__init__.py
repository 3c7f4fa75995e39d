"""Reusable operators. Heavier domains (dedup, similarity, text,
geo, rangejoin, cluster, sampling, packing, skew, multimodal,
enrichment, asof) are imported as submodules on demand — importing the
package stays light; the names below are the everyday core."""

from elective_waiting_times_pipeline_spark.operators.asof import asof_join_backward
from elective_waiting_times_pipeline_spark.operators.histogram import (
    band_histogram,
    histogram_stats,
)
from elective_waiting_times_pipeline_spark.operators.rangejoin import range_join
from elective_waiting_times_pipeline_spark.operators.sampling import (
    hash_sample,
    hash_split,
    stratified_hash_sample,
)

__all__ = [
    "asof_join_backward",
    "band_histogram",
    "hash_sample",
    "hash_split",
    "histogram_stats",
    "range_join",
    "stratified_hash_sample",
]
