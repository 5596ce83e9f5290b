"""Bi-temporal pass scenarios — ported from the reference unit/integration
suites (SURVEY.md §5; FIXTURES.md §3):

- /root/reference/tests/utils/maintenance/test_edge_operations.py:94-237
  (no-change / explicit-dates / candidate-invalidation contracts)
- /root/reference/tests/utils/maintenance/test_temporal_operations_int.py:95-326
  (LIKES→DISLIKES invalidates; WORKS_FOR→LEFT_JOB invalidates; APPLIED_TO
  does not; present-tense date defaulting)
"""

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgspark.temporal import temporal_pass

BATCH_TS = datetime(2025, 1, 1)
SCHEMA = ("uuid string, group_id string, src_uuid string, dst_uuid string, "
          "predicate string, valid_at timestamp, invalid_at_explicit timestamp")


def _edges(spark, rows):
    pdf = pd.DataFrame(rows, columns=["uuid", "group_id", "src_uuid", "dst_uuid",
                                      "predicate", "valid_at", "invalid_at_explicit"])
    return spark.createDataFrame(pdf, schema=SCHEMA)


def _run(spark, rows):
    resolved, inv = temporal_pass(_edges(spark, rows), BATCH_TS)
    r = {x["uuid"]: x.asDict() for x in resolved.collect()}
    i = {x["edge_uuid"]: x.asDict() for x in inv.collect()}
    return r, i


def test_no_candidates_no_changes(spark):
    # test_edge_operations.py:94-131 — nothing conflicts ⇒ edge untouched
    r, i = _run(spark, [
        ("e1", "g", "a", "b", "SPONSORS", datetime(2024, 1, 1), None),
    ])
    assert r["e1"]["invalid_at"] is None and r["e1"]["expired_at"] is None
    assert i == {}


def test_explicit_dates_set_expired(spark):
    # test_edge_operations.py:134-180 — explicit invalid_at ⇒ expired_at set
    r, i = _run(spark, [
        ("e1", "g", "a", "b", "LIKES", datetime(2024, 1, 1), datetime(2024, 2, 1)),
    ])
    assert r["e1"]["invalid_at"] == datetime(2024, 2, 1)
    assert r["e1"]["expired_at"] is not None
    assert i == {}  # explicit end, not a contradiction record


def test_likes_dislikes_invalidates(spark):
    # test_temporal_operations_int.py:95-133 — later DISLIKES closes LIKES
    r, i = _run(spark, [
        ("e1", "g", "a", "b", "LIKES", datetime(2024, 1, 1), None),
        ("e2", "g", "a", "b", "DISLIKES", datetime(2024, 3, 1), None),
    ])
    assert r["e1"]["invalid_at"] == datetime(2024, 3, 1)
    assert r["e1"]["expired_at"] is not None
    assert r["e2"]["invalid_at"] is None
    assert i["e1"]["caused_by_edge_uuid"] == "e2"


def test_works_for_left_job_invalidates_but_not_applied_to(spark):
    # test_temporal_operations_int.py:134-265 — LEFT_JOB closes WORKS_FOR;
    # APPLIED_TO is unrelated and untouched; the event edge itself stays open
    r, i = _run(spark, [
        ("e1", "g", "p", "x", "WORKS_FOR", datetime(2024, 1, 1), None),
        ("e2", "g", "p", "x", "LEFT_JOB", datetime(2024, 6, 1), None),
        ("e3", "g", "p", "y", "APPLIED_TO", datetime(2024, 7, 1), None),
    ])
    assert r["e1"]["invalid_at"] == datetime(2024, 6, 1)
    assert i["e1"]["caused_by_edge_uuid"] == "e2"
    assert r["e2"]["invalid_at"] is None  # point-in-time event never closed
    assert r["e3"]["invalid_at"] is None


def test_functional_predicate_new_object_supersedes(spark):
    # LIVES_IN city1 then LIVES_IN city2: same subject+predicate, different
    # object ⇒ older closed at newer valid_at (subject-functional scope)
    r, i = _run(spark, [
        ("e1", "g", "p", "berlin", "LIVES_IN", datetime(2024, 1, 1), None),
        ("e2", "g", "p", "lima", "LIVES_IN", datetime(2024, 5, 1), None),
    ])
    assert r["e1"]["invalid_at"] == datetime(2024, 5, 1)
    assert r["e2"]["invalid_at"] is None
    assert i["e1"]["caused_by_edge_uuid"] == "e2"


def test_disjoint_ranges_untouched(spark):
    # edge_operations.py:240-250 — candidate already ended before the new
    # fact began ⇒ skip (explicit invalid_at earlier than the conflict)
    r, i = _run(spark, [
        ("e1", "g", "a", "b", "LIKES", datetime(2024, 1, 1), datetime(2024, 2, 1)),
        ("e2", "g", "a", "b", "DISLIKES", datetime(2024, 3, 1), None),
    ])
    assert r["e1"]["invalid_at"] == datetime(2024, 2, 1)  # keeps explicit end
    assert "e1" not in i  # no invalidation record — ranges disjoint


def test_out_of_order_arrival_is_irrelevant(spark):
    # self-expiry branch (edge_operations.py:286-300): an edge OLDER than
    # known facts is closed by the earliest later conflict regardless of
    # row order in the input
    rows = [
        ("e2", "g", "a", "b", "DISLIKES", datetime(2024, 3, 1), None),
        ("e1", "g", "a", "b", "LIKES", datetime(2024, 1, 1), None),
        ("e3", "g", "a", "b", "LIKES", datetime(2024, 5, 1), None),
    ]
    r, i = _run(spark, rows)
    assert r["e1"]["invalid_at"] == datetime(2024, 3, 1)
    assert r["e2"]["invalid_at"] == datetime(2024, 5, 1)
    assert r["e3"]["invalid_at"] is None


def test_equal_valid_at_no_closure(spark):
    # strict '<' in the reference (edge_operations.py:255-258)
    r, i = _run(spark, [
        ("e1", "g", "a", "b", "LIKES", datetime(2024, 1, 1), None),
        ("e2", "g", "a", "b", "DISLIKES", datetime(2024, 1, 1), None),
    ])
    assert r["e1"]["invalid_at"] is None and r["e2"]["invalid_at"] is None


def test_suffix_scan_runs_once_for_both_outputs(spark):
    # the edges write and the edge_invalidations write are separate jobs;
    # both must read the checkpointed conflicts, not re-run the Python scan
    resolved, inv = temporal_pass(_edges(spark, [
        ("e1", "g", "a", "b", "LIKES", datetime(2024, 1, 1), None),
        ("e2", "g", "a", "b", "DISLIKES", datetime(2024, 3, 1), None),
    ]), BATCH_TS)
    for df in (resolved, inv):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "MapInPandas" not in plan, plan
