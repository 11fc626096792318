"""Unit tests of ``scripts/plan_audit.py``'s plan-text helpers."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from plan_audit import _strip_cached_subtrees  # noqa: E402

# An executed plan captured from Spark 4.1 (a join against a persisted
# aggregate), with one blank line inside the first InMemoryRelation
# subtree, between the cached plan's Final and Initial sections.
CACHED_PLAN = """\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 3
   +- *(3) HashAggregate(keys=[count#32L], functions=[count(1)], output=[count#32L, count#106L])
      +- AQEShuffleRead coalesced
         +- ShuffleQueryStage 2
            +- Exchange hashpartitioning(count#32L, 4), ENSURE_REQUIREMENTS, [plan_id=203]
               +- *(2) HashAggregate(keys=[count#32L], functions=[partial_count(1)], output=[count#32L, count#141L])
                  +- *(2) Project [count#32L]
                     +- *(2) BroadcastHashJoin [k#31L], [k#105L], Inner, BuildRight, false
                        :- *(2) Filter isnotnull(k#31L)
                        :  +- TableCacheQueryStage 0
                        :     +- InMemoryTableScan [k#31L, count#32L], [isnotnull(k#31L)]
                        :           +- InMemoryRelation [k#31L, count#32L], StorageLevel(disk, memory, deserialized, 1 replicas)
                        :                 +- AdaptiveSparkPlan isFinalPlan=true
                                          +- == Final Plan ==
                                             ResultQueryStage 1
                                             +- *(2) HashAggregate(keys=[k#31L], functions=[count(1)], output=[k#31L, count#32L])
                                                +- ShuffleQueryStage 0
                                                   +- Exchange hashpartitioning(k#31L, 4), ENSURE_REQUIREMENTS, [plan_id=54]
                                                      +- *(1) HashAggregate(keys=[k#31L], functions=[partial_count(1)], output=[k#31L, count#37L])
                                                         +- *(1) Project [(id#30L % 7) AS k#31L]
                                                            +- *(1) Range (0, 100, step=1, splits=2)

                                          +- == Initial Plan ==
                                             HashAggregate(keys=[k#31L], functions=[count(1)], output=[k#31L, count#32L])
                                             +- Exchange hashpartitioning(k#31L, 4), ENSURE_REQUIREMENTS, [plan_id=23]
                                                +- HashAggregate(keys=[k#31L], functions=[partial_count(1)], output=[k#31L, count#37L])
                                                   +- Project [(id#30L % 7) AS k#31L]
                                                      +- Range (0, 100, step=1, splits=2)
                        +- BroadcastQueryStage 1
                           +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=145]
                              +- *(1) Project [id#104L AS k#105L]
                                 +- *(1) Range (0, 10, step=1, splits=2)
+- == Initial Plan ==
   HashAggregate(keys=[count#32L], functions=[count(1)], output=[count#32L, count#106L])
   +- Exchange hashpartitioning(count#32L, 4), ENSURE_REQUIREMENTS, [plan_id=125]
      +- HashAggregate(keys=[count#32L], functions=[partial_count(1)], output=[count#32L, count#141L])
         +- Project [count#32L]
            +- BroadcastHashJoin [k#31L], [k#105L], Inner, BuildRight, false
               :- Filter isnotnull(k#31L)
               :  +- InMemoryTableScan [k#31L, count#32L], [isnotnull(k#31L)]
               :        +- InMemoryRelation [k#31L, count#32L], StorageLevel(disk, memory, deserialized, 1 replicas)
               :              +- AdaptiveSparkPlan isFinalPlan=true
                              +- == Final Plan ==
                                 ResultQueryStage 1
                                 +- *(2) HashAggregate(keys=[k#31L], functions=[count(1)], output=[k#31L, count#32L])
                                    +- ShuffleQueryStage 0
                                       +- Exchange hashpartitioning(k#31L, 4), ENSURE_REQUIREMENTS, [plan_id=54]
                                          +- *(1) HashAggregate(keys=[k#31L], functions=[partial_count(1)], output=[k#31L, count#37L])
                                             +- *(1) Project [(id#30L % 7) AS k#31L]
                                                +- *(1) Range (0, 100, step=1, splits=2)
                              +- == Initial Plan ==
                                 HashAggregate(keys=[k#31L], functions=[count(1)], output=[k#31L, count#32L])
                                 +- Exchange hashpartitioning(k#31L, 4), ENSURE_REQUIREMENTS, [plan_id=23]
                                    +- HashAggregate(keys=[k#31L], functions=[partial_count(1)], output=[k#31L, count#37L])
                                       +- Project [(id#30L % 7) AS k#31L]
                                          +- Range (0, 100, step=1, splits=2)
               +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=120]
                  +- Project [id#104L AS k#105L]
                     +- Range (0, 10, step=1, splits=2)
"""


def test_blank_line_inside_cached_subtree_does_not_end_the_skip():
    stripped = _strip_cached_subtrees(CACHED_PLAN)
    assert "Range (0, 100" not in stripped  # the cached aggregate's lineage
    assert "hashpartitioning(k#31L" not in stripped
    # the residual plan survives whole: both sections' shuffle and broadcast
    assert stripped.count("Exchange ") == 4
    assert "+- BroadcastQueryStage 1" in stripped
    assert stripped.count("InMemoryRelation") == 2
    assert stripped == _strip_cached_subtrees(CACHED_PLAN.replace("\n\n", "\n"))
