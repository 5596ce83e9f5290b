"""Scale-shape regressions for the round-2 refactors:

- per-group union-find CC == distributed min-label propagation;
- per-group local label propagation == join-per-round distributed LP;
- temporal pass handles a hub subject (10^4 facts under one functional
  predicate key) with O(n) state — the O(n²) per-row peer array this
  replaced would materialize 10^8 struct copies here (VERDICT r1 item 4).
"""

import random
from datetime import datetime, timedelta

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgspark import cc, communities
from kgspark.temporal import temporal_pass

BATCH_TS = datetime(2025, 1, 1)


def _pairs_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["group_id", "uuid_a", "uuid_b"]),
        schema="group_id string, uuid_a string, uuid_b string")


def test_cc_local_matches_iterative(spark):
    rng = random.Random(7)
    rows = []
    for g in range(3):
        for _ in range(200):
            a, b = rng.randint(0, 60), rng.randint(0, 60)
            if a != b:
                rows.append((f"g{g}", f"g{g}-v{a:03d}", f"g{g}-v{b:03d}"))
    pairs = _pairs_df(spark, rows)
    local = {(r["uuid"], r["canonical_uuid"])
             for r in cc.connected_components(pairs).collect()}
    iterative = {(r["uuid"], r["canonical_uuid"])
                 for r in cc.connected_components_iterative(pairs).collect()}
    assert local == iterative
    assert local  # non-trivial input


def test_cc_auto_mixed_groups_parity(spark):
    # auto routing: with a threshold BETWEEN the two group sizes, one
    # group takes the local union-find and the other the iterative path —
    # the unioned mapping must equal all-local (strategy is purely
    # physical). Also: threshold 0 = all-iterative, huge = all-local.
    rng = random.Random(13)
    rows = [("gsmall", "s-a", "s-b"), ("gsmall", "s-b", "s-c")]
    for _ in range(120):
        a, b = rng.randint(0, 40), rng.randint(0, 40)
        if a != b:
            rows.append(("gbig", f"b-v{a:03d}", f"b-v{b:03d}"))
    pairs = _pairs_df(spark, rows)
    want = {(r["uuid"], r["canonical_uuid"])
            for r in cc.connected_components(pairs).collect()}
    for thr in (0, 10, 10**9):
        got = {(r["uuid"], r["canonical_uuid"])
               for r in cc.connected_components_auto(
                   pairs, auto_pair_threshold=thr).collect()}
        assert got == want, f"threshold {thr}"
    # no-group-column corpus path routes on total count
    flat = pairs.drop("group_id")
    got = {(r["uuid"], r["canonical_uuid"])
           for r in cc.connected_components_auto(
               flat, auto_pair_threshold=0).collect()}
    assert got == want


def test_lp_auto_mixed_groups_parity(spark):
    rng = random.Random(17)
    rows = [("gsmall", "s-x", "s-y")]
    for _ in range(150):
        a, b = rng.randint(0, 14), rng.randint(0, 14)
        if a != b:
            rows.append(("gbig", f"b-n{a:02d}", f"b-n{b:02d}"))
    edges = spark.createDataFrame(pd.DataFrame(
        rows, columns=["group_id", "source_node_uuid", "target_node_uuid"]))
    adj = communities.adjacency(edges)
    want = {(r["group_id"], r["uuid"], r["community_id"])
            for r in communities.label_propagation(adj).collect()}
    for thr in (0, 10, 10**9):
        got = {(r["group_id"], r["uuid"], r["community_id"])
               for r in communities.label_propagation_auto(
                   adj, auto_edge_threshold=thr).collect()}
        assert got == want, f"threshold {thr}"


def test_cc_canonical_is_min_member(spark):
    # chain a-b-c-d within one group: everyone maps to the minimum uuid
    pairs = _pairs_df(spark, [("g", "d", "c"), ("g", "b", "a"), ("g", "c", "b")])
    got = {r["uuid"]: r["canonical_uuid"]
           for r in cc.connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_lp_local_matches_distributed(spark):
    rng = random.Random(11)
    rows = []
    for g in range(2):
        # two dense clusters with a weak bridge
        for _ in range(150):
            c = rng.randint(0, 1)
            a, b = rng.randint(0, 14), rng.randint(0, 14)
            if a != b:
                rows.append((f"g{g}", f"g{g}-c{c}-n{a:02d}", f"g{g}-c{c}-n{b:02d}"))
        rows.append((f"g{g}", f"g{g}-c0-n00", f"g{g}-c1-n00"))
    edges = spark.createDataFrame(
        pd.DataFrame(rows, columns=["group_id", "source_node_uuid", "target_node_uuid"]))
    adj = communities.adjacency(edges)
    local = {(r["group_id"], r["uuid"], r["community_id"])
             for r in communities.label_propagation(adj).collect()}
    dist = {(r["group_id"], r["uuid"], r["community_id"])
            for r in communities.label_propagation_distributed(adj).collect()}
    assert local == dist


TEMPORAL_SCHEMA = (
    "uuid string, group_id string, src_uuid string, dst_uuid string, "
    "predicate string, valid_at timestamp, invalid_at_explicit timestamp")


def test_temporal_hub_subject_skew(spark):
    # one celebrity subject, 10^4 LIVES_IN facts with distinct objects and
    # strictly increasing valid_at: fact i must be closed by fact i+1
    n = 10_000
    base = datetime(2024, 1, 1)
    rows = [(f"e{i:05d}", "g", "hub", f"city{i:05d}", "LIVES_IN",
             base + timedelta(hours=i), None) for i in range(n)]
    edges = spark.createDataFrame(
        pd.DataFrame(rows, columns=["uuid", "group_id", "src_uuid", "dst_uuid",
                                    "predicate", "valid_at", "invalid_at_explicit"]),
        schema=TEMPORAL_SCHEMA)
    resolved, inv = temporal_pass(edges, BATCH_TS)
    got = {r["uuid"]: r for r in resolved.collect()}
    assert got["e00000"]["invalid_at"] == base + timedelta(hours=1)
    assert got["e05000"]["invalid_at"] == base + timedelta(hours=5001)
    assert got[f"e{n-1:05d}"]["invalid_at"] is None
    assert inv.count() == n - 1


def test_temporal_same_group_run_skipped(spark):
    # obj pattern A, A, B at increasing times: the first A-fact must skip the
    # second A-fact (same conflict-group) and be closed by the B-fact — the
    # next-group-change lookup of the suffix scan
    base = datetime(2024, 1, 1)
    rows = [
        ("e1", "g", "p", "A", "LIVES_IN", base, None),
        ("e2", "g", "p", "A", "LIVES_IN", base + timedelta(days=10), None),
        ("e3", "g", "p", "B", "LIVES_IN", base + timedelta(days=20), None),
    ]
    edges = spark.createDataFrame(
        pd.DataFrame(rows, columns=["uuid", "group_id", "src_uuid", "dst_uuid",
                                    "predicate", "valid_at", "invalid_at_explicit"]),
        schema=TEMPORAL_SCHEMA)
    resolved, inv = temporal_pass(edges, BATCH_TS)
    got = {r["uuid"]: r for r in resolved.collect()}
    assert got["e1"]["invalid_at"] == base + timedelta(days=20)
    assert got["e2"]["invalid_at"] == base + timedelta(days=20)
    assert got["e3"]["invalid_at"] is None
    caused = {r["edge_uuid"]: r["caused_by_edge_uuid"] for r in inv.collect()}
    assert caused == {"e1": "e3", "e2": "e3"}


def _triples_df(spark, extra=()):
    base = datetime(2024, 1, 1)
    rows = []
    for i in range(300):
        rows.append((f"g{i % 3}", f"s{i % 20:02d}", "WORKS_FOR", f"d{i % 7}",
                     f"fact {i % 40}", f"nf {i % 40}", f"u{i:03d}",
                     base + timedelta(hours=i), None, None))
    rows.extend(extra)
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=[
            "group_id", "src_uuid", "predicate", "dst_uuid", "fact",
            "norm_fact", "url", "warc_ts", "valid_at_explicit",
            "invalid_at_explicit"]),
        schema=("group_id string, src_uuid string, predicate string, "
                "dst_uuid string, fact string, norm_fact string, url string, "
                "warc_ts timestamp, valid_at_explicit timestamp, "
                "invalid_at_explicit timestamp"))


def test_dedup_single_phase_plan(spark):
    """Dedup is ONE exchange (hash agg + map-side combine). A hub class
    restated from more distinct urls than MAX_PROVENANCE keeps the smallest
    urls, the exact occurrence count, and the fact and created_at of its
    first (warc_ts, url) row."""
    from kgspark import dedup

    rng = random.Random(11)
    base = datetime(2024, 1, 1)
    n_hub = 2500
    hub = [("gh", "hub-src", "WORKS_FOR", "hub-dst", f"hub fact {i}",
            "hub nf", f"hub-u{i:05d}",
            base + timedelta(minutes=rng.randrange(10 * n_hub)), None, None)
           for i in range(n_hub)]
    rng.shuffle(hub)
    # two rows tie on the earliest warc_ts: the smaller url must win
    first_ts = base - timedelta(days=1)
    for k in (0, 1):
        hub[k] = hub[k][:7] + (first_ts, None, None)
    first = min(hub, key=lambda r: (r[7], r[6]))

    t = _triples_df(spark, hub)
    plan = dedup.dedup_edges(t)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "ObjectHashAggregate" in plan

    rows = dedup.dedup_edges(t).collect()
    assert len(rows) > 50
    (got,) = [r for r in rows if r["group_id"] == "gh"]
    assert got["episodes"] == sorted(r[6] for r in hub)[:dedup.MAX_PROVENANCE]
    assert got["n_occurrences"] == n_hub
    assert got["fact"] == first[4]
    assert got["created_at"] == first_ts


def test_cc_auto_null_group_rows_survive(spark):
    # ADVICE r3: with any group over the threshold, the small branch's
    # ~isin(big) filter evaluated to NULL (not true) for NULL group ids and
    # silently dropped those pairs; they must route to the local branch
    rows = [("gbig", "b-a", "b-b"), ("gbig", "b-b", "b-c"),
            ("gbig", "b-c", "b-d"),
            (None, "n-x", "n-y"), (None, "n-y", "n-z")]
    pairs = _pairs_df(spark, rows)
    got = {r["uuid"]: r["canonical_uuid"]
           for r in cc.connected_components_auto(
               pairs, auto_pair_threshold=2).collect()}
    assert got["n-x"] == got["n-y"] == got["n-z"] == "n-x"
    assert got["b-a"] == got["b-d"] == "b-a"


def test_lp_auto_null_group_rows_survive(spark):
    rows = [("gbig", f"b-n{a}", f"b-n{b}") for a, b in
            [(0, 1), (1, 2), (0, 2), (2, 3)]] + \
        [(None, "x", "y"), (None, "y", "x")]
    edges = spark.createDataFrame(
        pd.DataFrame(rows, columns=["group_id", "source_node_uuid",
                                    "target_node_uuid"]),
        schema=("group_id string, source_node_uuid string, "
                "target_node_uuid string"))
    adj = communities.adjacency(edges)
    got = {r["uuid"] for r in communities.label_propagation_auto(
        adj, auto_edge_threshold=3).collect()}
    assert {"x", "y"} <= got, "null-group rows must survive auto routing"


def test_cc_iterative_long_chain_converges(spark):
    # ADVICE r3: plain min-label propagation needs O(diameter) rounds, so a
    # 200-hop alias chain would blow the 24-round budget; pointer doubling
    # makes it O(log diameter) and must still match the exact union-find
    n = 200
    rows = [("g", f"v{i:03d}", f"v{i + 1:03d}") for i in range(n)]
    pairs = _pairs_df(spark, rows)
    want = {(r["uuid"], r["canonical_uuid"])
            for r in cc.connected_components(pairs).collect()}
    got = {(r["uuid"], r["canonical_uuid"])
           for r in cc.connected_components_iterative(pairs).collect()}
    assert got == want
    assert all(c == "v000" for _, c in got)
