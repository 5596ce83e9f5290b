"""Bi-temporal pass: contradiction detection + edge invalidation.

Batch restatement of the reference's incremental contradiction machinery
(/root/reference/graphiti_core/utils/maintenance/edge_operations.py:234-305,
temporal_operations.py:71-103):

- each fact joins its contradiction-scope keys (pair-class and
  subject-functional scopes — the deterministic analog of the LLM
  "which facts does this contradict" call);
- within a key, a fact is closed by the EARLIEST strictly-later conflicting
  fact: ``invalid_at = min(explicit invalid_at, min{other.valid_at :
  other.valid_at > mine, conflict(mine, other)})``;
- ``expired_at`` (transaction time the system learned of the invalidation,
  edges.py:194-196) = the batch timestamp whenever invalid_at was assigned.

This single rule reproduces BOTH incremental branches — candidate
invalidation (edge_operations.py:234-261) and new-edge self-expiry
(:286-300) — because the incremental process, run to convergence in any
arrival order, assigns each fact exactly the minimum later conflicting
valid_at (see tests/test_temporal.py for the ported reference scenarios).

Event predicates (LEFT_JOB, ...) close conflicting state facts but are never
themselves closed.

Scale shape: the conflict rule per key is "earliest strictly-later peer in a
DIFFERENT conflict-group" (group = predicate for pair scope, object for
subject-functional scope). A naive formulation replicates each key's full
peer set per row — O(n²) state on a hub subject (e.g. 10^5 facts under one
functional predicate of a celebrity entity). Instead, one shuffle
co-locates + sorts each key's rows by (valid_at, uuid) and a vectorized
O(n) suffix scan finds every row's closer:

  for row r, the closing peer is the first element of the strictly-later
  suffix (sorted order ⇒ it is the (valid_at, uuid)-minimum); if that
  element shares r's conflict-group, the answer is the first LATER element
  whose group differs — which, because everything between belongs to the
  same group run, is exactly the next group-change point. Both lookups are
  O(1) after one pass. State per task = its partition's rows, never a
  per-row peer array.
"""

from __future__ import annotations

from datetime import datetime

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgspark.textcore import (
    CONTRA_PAIR_CLASSES,
    EVENT_PREDICATES,
    FUNCTIONAL_PREDICATES,
)


def _pair_class_expr():
    expr = F.lit(None).cast("string")
    # build CASE chain from the shared predicate->class table
    for pred, cls in CONTRA_PAIR_CLASSES.items():
        expr = F.when(F.col("predicate") == pred, F.lit(cls)).otherwise(expr)
    return expr


def with_contra_keys(edges: DataFrame) -> DataFrame:
    """Explode each edge row into its contradiction-scope keys.

    Key shapes (textcore.contradiction_keys): ``pair|<class>|<lo>|<hi>`` and
    ``subj|<predicate>|<subject uuid>``.
    """
    lo = F.least("src_uuid", "dst_uuid")
    hi = F.greatest("src_uuid", "dst_uuid")
    pair_key = F.when(
        _pair_class_expr().isNotNull(),
        F.concat_ws("|", F.lit("pair"), _pair_class_expr(), lo, hi),
    )
    subj_key = F.when(
        F.col("predicate").isin(*FUNCTIONAL_PREDICATES),
        F.concat_ws("|", F.lit("subj"), F.col("predicate"), F.col("src_uuid")),
    )
    return (
        edges
        .withColumn("contra_key", F.explode(
            F.array_compact(F.array(pair_key, subj_key))))
    )


def contra_keyed(edges: DataFrame) -> DataFrame:
    """(uuid, contra_key, valid_at, grp, closable) — one row per
    contradiction-scope key an edge participates in. grp is the
    conflict-group within the key (pair scope conflicts across predicates,
    subject-functional scope across objects); closable=False for event
    predicates (they close others, are never closed). Shared by the batch
    temporal pass and the streaming contradiction monitor."""
    scope = F.split(F.col("contra_key"), "\\|").getItem(0)
    return (
        with_contra_keys(edges)
        # null valid_at rows neither close nor get closed
        .filter(F.col("valid_at").isNotNull())
        .select(
            "uuid", "contra_key", "valid_at",
            F.when(scope == "pair", F.col("predicate"))
            .otherwise(F.col("dst_uuid")).alias("grp"),
            (~F.col("predicate").isin(*EVENT_PREDICATES)).alias("closable"),
        )
    )


_SCAN_DDL = "uuid string, conflict_invalid_at timestamp, caused_by_edge_uuid string"


def _suffix_scan(batches):
    """Per-partition vectorized closer search. Input batches are sorted by
    (contra_key, valid_at, uuid) via sortWithinPartitions; all rows of a key
    live in one partition (repartition by key)."""
    pdfs = [p for p in batches if len(p)]
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
    n = len(pdf)
    key = pdf["contra_key"].to_numpy()
    grp = pdf["grp"].to_numpy()
    valid = pdf["valid_at"].to_numpy()
    uid = pdf["uuid"].to_numpy()
    closable = pdf["closable"].to_numpy()

    newkey = np.ones(n, dtype=bool)
    newkey[1:] = key[1:] != key[:-1]
    key_id = np.cumsum(newkey) - 1

    # runs of equal (key, valid_at): the strictly-later suffix of row i
    # starts right after i's run
    newrun = newkey.copy()
    newrun[1:] |= valid[1:] != valid[:-1]
    run_id = np.cumsum(newrun) - 1
    run_starts = np.flatnonzero(newrun)
    run_end = np.append(run_starts[1:], n) - 1
    b = run_end[run_id] + 1  # first strictly-later index (may be n / next key)

    # group-change points within a key: position k with key[k]==key[k-1] and
    # grp[k]!=grp[k-1]; the first change point after j is the first index
    # after j whose group differs from grp[j] (run argument)
    chg = np.zeros(n, dtype=bool)
    chg[1:] = (~newkey[1:]) & (grp[1:] != grp[:-1])
    chg_idx = np.flatnonzero(chg)

    closer = np.full(n, -1, dtype=np.int64)
    in_range = b < n
    vb = np.where(in_range, b, 0)
    same_key = in_range & (key_id[vb] == key_id)
    diff_grp = same_key & (grp[vb] != grp)
    closer[diff_grp] = b[diff_grp]
    need_nd = same_key & ~diff_grp
    if chg_idx.size and need_nd.any():
        pos = np.searchsorted(chg_idx, vb, side="right")
        has = pos < chg_idx.size
        k = chg_idx[np.minimum(pos, chg_idx.size - 1)]
        ok = need_nd & has & (key_id[k] == key_id)
        closer[ok] = k[ok]

    mask = closable & (closer >= 0)
    ci = closer[mask]
    yield pd.DataFrame({
        "uuid": uid[mask],
        "conflict_invalid_at": valid[ci],
        "caused_by_edge_uuid": uid[ci],
    })


def temporal_pass(edges: DataFrame, batch_ts: datetime) -> tuple[DataFrame, DataFrame]:
    """edges must carry: uuid, src_uuid, dst_uuid, predicate, valid_at,
    invalid_at_explicit, group_id.

    Returns (edges with final invalid_at/expired_at, invalidation records
    ``(edge_uuid, invalid_at, expired_at, caused_by_edge_uuid)`` —
    FIXTURES.md §2 edge_invalidations).
    """
    spark = edges.sparkSession
    keyed = contra_keyed(edges)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    scanned = (
        keyed.repartition(n_part, "contra_key")
        .sortWithinPartitions("contra_key", "valid_at", "uuid")
        .mapInPandas(_suffix_scan, _SCAN_DDL)
    )
    conflicts = (
        scanned
        .groupBy("uuid")
        # one edge can appear under both scopes: earliest closer wins,
        # (valid_at, uuid) lexicographic — same rule as the oracle
        .agg(F.min(F.struct(
            F.col("conflict_invalid_at"), F.col("caused_by_edge_uuid"))).alias("c"))
        .select("uuid",
                F.col("c.conflict_invalid_at").alias("conflict_invalid_at"),
                F.col("c.caused_by_edge_uuid").alias("caused_by_edge_uuid"))
        # LAZY checkpoint: read by `resolved` and by `invalidations` built
        # from it, so the suffix scan runs once, not once per written table
        .localCheckpoint(eager=False)
    )

    resolved = (
        edges.join(conflicts, "uuid", "left")
        .withColumn(
            "invalid_at",
            F.least("invalid_at_explicit", "conflict_invalid_at"),
        )
        .withColumn(
            "expired_at",
            F.when(F.col("invalid_at").isNotNull(), F.lit(batch_ts)),
        )
    )
    invalidations = (
        resolved
        .filter(
            F.col("conflict_invalid_at").isNotNull()
            & (F.col("invalid_at_explicit").isNull()
               | (F.col("conflict_invalid_at") < F.col("invalid_at_explicit")))
        )
        .select(
            F.col("uuid").alias("edge_uuid"),
            F.col("conflict_invalid_at").alias("invalid_at"),
            F.col("expired_at"),
            "caused_by_edge_uuid",
            "group_id",
        )
    )
    return resolved.drop("conflict_invalid_at"), invalidations
