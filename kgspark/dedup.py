"""Cross-episode edge deduplication + provenance merge.

Batch analog of dedupe_extracted_edge(s) / chunk_edges_by_nodes /
compress_edges (/root/reference/graphiti_core/utils/maintenance/
edge_operations.py:151-192,308-381, utils/bulk_utils.py:292-311,379-396):
facts are duplicates iff they share (group, canonical src, predicate,
canonical dst, normalized fact — date phrases stripped). The kept edge is
the FIRST occurrence by (warc_ts, url); provenance episodes are set-merged
(edge_operations.py:186-187); explicit dates from the LAST restating episode
win (resolve_extracted_edge overwrites valid_at/invalid_at when the current
episode extracted dates — edge_operations.py:280-284).

Plan: ONE exchange keyed on the duplicate class. Spark's map-side partial
aggregation is the combiner, so a hub class (the same assertion crawled from
many pages) reaches its reducer as one partial row per map task. The
episodes payload is not bounded that way: partial collect_set states are
uncapped, because the smallest-``max_provenance`` slice is exact only after
the final merge, so a class crawled from k distinct urls ships all k urls
into one reducer. A two-phase salted merge (url salt, per-bucket cap, second
exchange) bounds that payload but lost to this plan even on a hub: 4M
triples with one ~1M-url class at local[4] took 8.3-8.7 s single-phase and
11.1 s with 16 salts, for the same result.

min/max merge losslessly; provenance merges as set-union then is CAPPED at
``max_provenance`` urls (smallest-first, deterministic) with the exact total
kept in ``n_occurrences`` — an explicit, logged bound, not a silent
truncation (a 10^12-corpus hub fact cannot carry an unbounded episodes
array).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_PROVENANCE = 1000

KEY = ["group_id", "src_uuid", "predicate", "dst_uuid", "norm_fact"]


def dedup_edges(triples: DataFrame,
                max_provenance: int = MAX_PROVENANCE) -> DataFrame:
    """triples: group_id, src_uuid, dst_uuid, predicate, fact, norm_fact,
    url, warc_ts, valid_at_explicit, invalid_at_explicit.

    Returns one edge row per duplicate-class with merged provenance.
    """
    classes = (
        triples
        .filter(F.col("src_uuid") != F.col("dst_uuid"))  # self-loop drop (bulk_utils.py:385-386)
        .groupBy(*KEY)
        .agg(
            F.min(F.struct(F.col("warc_ts"), F.col("url"),
                           F.col("fact"))).alias("first_occ"),
            F.max(F.when(F.col("valid_at_explicit").isNotNull(),
                         F.struct("warc_ts", "url", "valid_at_explicit"))).alias("last_valid"),
            F.max(F.when(F.col("invalid_at_explicit").isNotNull(),
                         F.struct("warc_ts", "url", "invalid_at_explicit"))).alias("last_invalid"),
            F.slice(F.array_sort(F.collect_set("url")), 1,
                    max_provenance).alias("episodes"),
            F.min("warc_ts").alias("created_at"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
    )
    return classes.select(
        *KEY,
        F.col("first_occ.fact").alias("fact"),
        "episodes", "created_at", "n_occurrences",
        # valid_at: last explicit restatement wins, else the first
        # occurrence's crawl time (present-tense default — prompt rule 3,
        # prompts/extract_edge_dates.py:81)
        F.coalesce(F.col("last_valid.valid_at_explicit"),
                   F.col("first_occ.warc_ts")).alias("valid_at"),
        F.col("last_invalid.invalid_at_explicit").alias("invalid_at_explicit"),
    ).withColumn("uuid", F.md5(F.concat_ws(
        "|", F.lit("edge"), F.col("group_id"), F.col("src_uuid"),
        F.col("predicate"), F.col("dst_uuid"), F.col("norm_fact"))))
