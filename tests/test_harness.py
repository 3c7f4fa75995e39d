"""The query harness (`elective_waiting_times_pipeline_spark.harness`),
the build-once artifact cache in `plans/registry.py`, and `bench.py`'s
one-line JSON contract."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

from elective_waiting_times_pipeline_spark import harness
from elective_waiting_times_pipeline_spark.plans import catalog, registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# join_multikey's executed plan at sf0.001 after toPandas(), verbatim
# apart from the lake path: AQE prints the final plan, then repeats
# every node under "== Initial Plan ==".
JOIN_MULTIKEY_PLAN = """\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 2
   +- *(3) Project [l_orderkey#0L, l_suppkey#2L, l_linenumber#3, supp_order_qty#13]
      +- *(3) BroadcastHashJoin [l_orderkey#0L, l_suppkey#2L], [l_orderkey#26L, l_suppkey#28L], Inner, BuildLeft, false
         :- BroadcastQueryStage 0
         :  +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false], input[1, bigint, false]),false), [plan_id=52]
         :     +- *(1) Filter (((isnotnull(l_linenumber#3) AND (l_linenumber#3 = 1)) AND isnotnull(l_orderkey#0L)) AND isnotnull(l_suppkey#2L))
         :        +- *(1) ColumnarToRow
         :           +- FileScan parquet [l_orderkey#0L,l_suppkey#2L,l_linenumber#3] Batched: true, DataFilters: [isnotnull(l_linenumber#3), (l_linenumber#3 = 1), isnotnull(l_orderkey#0L), isnotnull(l_suppkey#2L)], Format: Parquet, Location: InMemoryFileIndex(1 paths)[file:<sf>/lineitem.parquet], PartitionFilters: [], PushedFilters: [IsNotNull(l_linenumber), EqualTo(l_linenumber,1), IsNotNull(l_orderkey), IsNotNull(l_suppkey)], ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint,l_linenumber:int>
         +- *(3) HashAggregate(keys=[l_orderkey#26L, l_suppkey#28L], functions=[sum(FLOOR(((l_quantity#30 * 100.0) + 0.5)))], output=[l_orderkey#26L, l_suppkey#28L, supp_order_qty#13])
            +- AQEShuffleRead coalesced
               +- ShuffleQueryStage 1
                  +- Exchange hashpartitioning(l_orderkey#26L, l_suppkey#28L, 8), ENSURE_REQUIREMENTS, [plan_id=76]
                     +- *(2) HashAggregate(keys=[l_orderkey#26L, l_suppkey#28L], functions=[partial_sum(FLOOR(((l_quantity#30 * 100.0) + 0.5)))], output=[l_orderkey#26L, l_suppkey#28L, sum#40L])
                        +- *(2) Filter (isnotnull(l_orderkey#26L) AND isnotnull(l_suppkey#28L))
                           +- *(2) ColumnarToRow
                              +- FileScan parquet [l_orderkey#26L,l_suppkey#28L,l_quantity#30] Batched: true, DataFilters: [isnotnull(l_orderkey#26L), isnotnull(l_suppkey#28L)], Format: Parquet, Location: InMemoryFileIndex(1 paths)[file:<sf>/lineitem.parquet], PartitionFilters: [], PushedFilters: [IsNotNull(l_orderkey), IsNotNull(l_suppkey)], ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint,l_quantity:double>
+- == Initial Plan ==
   Project [l_orderkey#0L, l_suppkey#2L, l_linenumber#3, supp_order_qty#13]
   +- BroadcastHashJoin [l_orderkey#0L, l_suppkey#2L], [l_orderkey#26L, l_suppkey#28L], Inner, BuildLeft, false
      :- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false], input[1, bigint, false]),false), [plan_id=38]
      :  +- Filter (((isnotnull(l_linenumber#3) AND (l_linenumber#3 = 1)) AND isnotnull(l_orderkey#0L)) AND isnotnull(l_suppkey#2L))
      :     +- FileScan parquet [l_orderkey#0L,l_suppkey#2L,l_linenumber#3] Batched: true, DataFilters: [isnotnull(l_linenumber#3), (l_linenumber#3 = 1), isnotnull(l_orderkey#0L), isnotnull(l_suppkey#2L)], Format: Parquet, Location: InMemoryFileIndex(1 paths)[file:<sf>/lineitem.parquet], PartitionFilters: [], PushedFilters: [IsNotNull(l_linenumber), EqualTo(l_linenumber,1), IsNotNull(l_orderkey), IsNotNull(l_suppkey)], ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint,l_linenumber:int>
      +- HashAggregate(keys=[l_orderkey#26L, l_suppkey#28L], functions=[sum(FLOOR(((l_quantity#30 * 100.0) + 0.5)))], output=[l_orderkey#26L, l_suppkey#28L, supp_order_qty#13])
         +- Exchange hashpartitioning(l_orderkey#26L, l_suppkey#28L, 8), ENSURE_REQUIREMENTS, [plan_id=35]
            +- HashAggregate(keys=[l_orderkey#26L, l_suppkey#28L], functions=[partial_sum(FLOOR(((l_quantity#30 * 100.0) + 0.5)))], output=[l_orderkey#26L, l_suppkey#28L, sum#40L])
               +- Filter (isnotnull(l_orderkey#26L) AND isnotnull(l_suppkey#28L))
                  +- FileScan parquet [l_orderkey#26L,l_suppkey#28L,l_quantity#30] Batched: true, DataFilters: [isnotnull(l_orderkey#26L), isnotnull(l_suppkey#28L)], Format: Parquet, Location: InMemoryFileIndex(1 paths)[file:<sf>/lineitem.parquet], PartitionFilters: [], PushedFilters: [IsNotNull(l_orderkey), IsNotNull(l_suppkey)], ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint,l_quantity:double>
"""


# pack_chunks' final plan at sf0.001, captured the same way: two
# shuffles, and a third stage that reuses the first one. Spark prints
# the reuse as `ReusedExchange [...], Exchange hashpartitioning(...)`.
PACK_CHUNKS_PLAN = r"""AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 5
   +- *(8) Project [doc_id#0L, shard#7, (cum_tok#39L - n_tokens#5L) AS start_offset#40L, FLOOR((cast((cum_tok#39L - n_tokens#5L) as double) / 512.0)) AS chunk_id#41L]
      +- *(8) Project [doc_id#0L, n_tokens#5L, shard#7, (_woff#23L + _cw#11L) AS cum_tok#39L]
         +- *(8) BroadcastHashJoin [_bk#8L, coalesce(shard#7, 0), isnull(shard#7)], [_obk#27L, coalesce(_g0#26, 0), isnull(_g0#26)], Inner, BuildRight, false
            :- Window [sum(n_tokens#5L) windowspecdefinition(shard#7, _bk#8L, doc_id#0L ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS _cw#11L], [shard#7, _bk#8L], [doc_id#0L ASC NULLS FIRST]
            :  +- *(7) Sort [shard#7 ASC NULLS FIRST, _bk#8L ASC NULLS FIRST, doc_id#0L ASC NULLS FIRST], false, 0
            :     +- AQEShuffleRead coalesced
            :        +- ShuffleQueryStage 0
            :           +- Exchange hashpartitioning(shard#7, _bk#8L, 8), ENSURE_REQUIREMENTS, [plan_id=82]
            :              +- *(1) Project [doc_id#0L, cast(size(CASE WHEN (length(trim(lower(text#1), None)) = 0) THEN [] ELSE split(trim(lower(text#1), None), \s+, -1) END, false) as bigint) AS n_tokens#5L, cast(pmod(doc_id#0L, 8) as int) AS shard#7, CASE WHEN isnan(cast(doc_id#0L as double)) THEN 63 ELSE least(63, greatest(0, CEIL(CASE WHEN isnull(((cast(doc_id#0L as double) - 7.796875) / 7.796875)) THEN ((cast(doc_id#0L as double) - 7.796875) / 7.796875) ELSE least(64.0, greatest(-1.0, ((cast(doc_id#0L as double) - 7.796875) / 7.796875))) END))) END AS _bk#8L]
            :                 +- *(1) ColumnarToRow
            :                    +- FileScan parquet [doc_id#0L,text#1] Batched: true, DataFilters: [], Format: Parquet, Location: InMemoryFileIndex(1 paths)[file:<sf>/documents.parquet], PartitionFilters: [], PushedFilters: [], ReadSchema: struct<doc_id:bigint,text:string>
            +- BroadcastQueryStage 4
               +- BroadcastExchange HashedRelationBroadcastMode(List(input[1, bigint, false], coalesce(input[0, int, true], 0), isnull(input[0, int, true])),false), [plan_id=308]
                  +- *(6) Project [shard#34 AS _g0#26, _bk#35L AS _obk#27L, coalesce(_we0#25L, 0) AS _woff#23L]
                     +- Window [sum(_ws#14L) windowspecdefinition(shard#34, _bk#35L ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), -1)) AS _we0#25L], [shard#34], [_bk#35L ASC NULLS FIRST]
                        +- *(5) Sort [shard#34 ASC NULLS FIRST, _bk#35L ASC NULLS FIRST], false, 0
                           +- AQEShuffleRead coalesced
                              +- ShuffleQueryStage 3
                                 +- Exchange hashpartitioning(shard#34, 8), ENSURE_REQUIREMENTS, [plan_id=232]
                                    +- *(4) HashAggregate(keys=[shard#34, _bk#35L], functions=[max_by(_cw#37L, _rn#36)], output=[shard#34, _bk#35L, _ws#14L])
                                       +- *(4) HashAggregate(keys=[shard#34, _bk#35L], functions=[partial_max_by(_cw#37L, _rn#36)], output=[shard#34, _bk#35L, valueWithExtremumOrdering#44L, extremumOrdering#45])
                                          +- *(4) Project [shard#34, _bk#35L, _rn#36, _cw#37L]
                                             +- Window [row_number() windowspecdefinition(shard#34, _bk#35L, doc_id#28L ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS _rn#36, sum(n_tokens#33L) windowspecdefinition(shard#34, _bk#35L, doc_id#28L ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS _cw#37L], [shard#34, _bk#35L], [doc_id#28L ASC NULLS FIRST]
                                                +- *(3) Sort [shard#34 ASC NULLS FIRST, _bk#35L ASC NULLS FIRST, doc_id#28L ASC NULLS FIRST], false, 0
                                                   +- AQEShuffleRead coalesced
                                                      +- ShuffleQueryStage 2
                                                         +- ReusedExchange [doc_id#28L, n_tokens#33L, shard#34, _bk#35L], Exchange hashpartitioning(shard#7, _bk#8L, 8), ENSURE_REQUIREMENTS, [plan_id=82]
"""


def test_query_names_default_is_headline(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_QUERIES", raising=False)
    assert harness.query_names() == list(catalog.HEADLINE)


def test_query_names_override_keeps_order(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_QUERIES", " top_k, join_multikey ,pricing_summary")
    assert harness.query_names() == ["top_k", "join_multikey", "pricing_summary"]
    assert harness.query_names(["join_multikey", "top_k"]) == ["join_multikey", "top_k"]


def test_query_names_unknown_fails_fast(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_QUERIES", "top_k,no_such_query")
    with pytest.raises(SystemExit, match="no_such_query"):
        harness.query_names()
    with pytest.raises(SystemExit, match="typo"):
        harness.query_names(["typo"])


def test_sf_value():
    assert harness.sf_value("/data/lake/sf0.1") == 0.1
    assert harness.sf_value("/data/lake/sf1/") == 1.0
    assert harness.sf_value("/data/lake/sfsmall") == "small"


def test_plan_counts_final_section_only():
    """One shuffle and one broadcast: the full string holds four
    `Exchange ` matches (both sections, broadcast included), which is
    what counting the raw string reports."""
    assert len(re.findall(r"Exchange ", JOIN_MULTIKEY_PLAN)) == 4
    assert harness.plan_counts(JOIN_MULTIKEY_PLAN) == {
        "parquet_scans": 2,
        "rdd_scans": 0,
        "shuffles": 1,
        "broadcasts": 1,
        "reused": 0,
        "pushed": 2,
        "codegen": 3,
        "topk": False,
        "sorts": 0,
        "python": 0,
        "joins": ["BroadcastHashJoin"],
    }


def test_plan_counts_reused_exchange_is_not_a_shuffle():
    """A reuse line names the Exchange it reuses; only Exchange nodes
    count as shuffles."""
    c = harness.plan_counts(PACK_CHUNKS_PLAN)
    assert (c["shuffles"], c["reused"], c["broadcasts"]) == (2, 1, 1)


def test_built_once_reuses_and_rebuilds_on_source_change(tmp_path, monkeypatch):
    monkeypatch.setattr(registry, "_BUILT", {})
    src = tmp_path / "table.parquet"
    src.mkdir()
    (src / "part-0.parquet").write_bytes(b"v1")
    builds = []

    def build(root):
        builds.append(root)
        with open(os.path.join(root, "out"), "w") as f:
            f.write(str(len(builds)))

    key = ("test_artifact", str(tmp_path))
    first = registry.built_once(key, str(src), build)
    assert registry.built_once(key, str(src), build) == first
    assert builds == [first]

    st = os.stat(src / "part-0.parquet")  # touch: mtime moves
    os.utime(src / "part-0.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    touched = registry.built_once(key, str(src), build)
    assert touched != first and not os.path.exists(first)

    (src / "part-0.parquet").write_bytes(b"version two")  # rewrite: size moves
    rewritten = registry.built_once(key, str(src), build)
    assert rewritten != touched and not os.path.exists(touched)
    assert open(os.path.join(rewritten, "out")).read() == "3"
    assert registry.built_once(key, str(src), build) == rewritten


def test_bench_emits_one_json_line(sf_dir):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_QUERIES="pricing_summary")
    env.setdefault("SPARK_GRAFT_CPUS", "2")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env, capture_output=True, text=True, timeout=300, check=True,
    ).stdout.strip().splitlines()
    assert len(out) == 1, out
    rec = json.loads(out[0])
    assert list(rec)[0] == "metric" and list(rec)[-3:] == ["unit", "sf", "value"]
    assert list(rec["queries"]) == ["pricing_summary"]
    assert rec["value"] == round(sum(rec["queries"].values()), 3)
    assert rec["sf"] == harness.sf_value(sf_dir)
