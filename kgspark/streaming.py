"""Structured-Streaming front-end for incremental construction.

The reference is incremental, not streaming (SURVEY.md §2.8): episodes
arrive one at a time and mutate graph state. The Spark-native restatement:

- ``incremental_ingest``: a file-source stream of page batches; each
  micro-batch marks its groups dirty and re-materializes exactly those
  graph partitions through the batch DAG (idempotent per-partition
  overwrite, kgspark/io.py) — the streaming analog of the reference's
  per-episode dedup-and-upsert loop (graphiti.py:262-413), with
  checkpointed progress via the lineage manifest.
- ``streaming_mention_counts``: a true event-time streaming operator —
  watermarked, windowed mention counts over the page stream (late pages
  within the watermark update their window; later ones are dropped), the
  streaming analog of the episode-window retrieval
  (graph_data_operations.py:104-159).
"""

from __future__ import annotations

from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgspark import io as kio
from kgspark import udfs
from kgspark.datagen import PAGES_DDL
from kgspark.session import run_concurrently


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    return (spark.readStream
            .schema(PAGES_DDL)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def incremental_ingest(spark: SparkSession, input_dir: str, base: str,
                       checkpoint_dir: str | None = None,
                       max_files_per_trigger: int = 4,
                       fulltext_index_dir: str | None = None,
                       ann_index_dir: str | None = None,
                       ivf_index_dir: str | None = None,
                       ivf_clusters: int = 16):
    """Start (availableNow) a stream that incrementally maintains the graph
    tables under ``base``. Returns the StreamingQuery; callers
    ``awaitTermination`` it.

    Semantics: a micro-batch's groups are recomputed from ALL pages seen so
    far for those groups (bronze union), then the partitions are
    overwritten. Recompute-the-partition beats row-level merge here because
    dedup/linking/temporal closure are group-global — the same reason the
    reference re-searches the whole graph per episode.

    ``fulltext_index_dir``: also keep a persisted BM25 index over the page
    text fresh per micro-batch (the reference updates its Lucene indexes on
    every add_episode; here each batch's urls fold in as one committed
    generation via ``fulltext.update_fulltext_index`` — O(batch), no corpus
    re-tokenize). The delta is each batch url's CURRENT latest-crawl row,
    so the index's live doc per url always equals the page the graph
    recompute chose, and a foreachBatch REPLAY after a failure re-lands the
    same rows (the replayed generation tombstones its own previous copy —
    convergent, not duplicating).

    ``ann_index_dir`` / ``ivf_index_dir``: the same per-micro-batch
    maintenance for the VECTOR indexes (r4 verdict next #4) — each batch's
    current-crawl pages are embedded (the deterministic page-text
    embedding, ``udfs.embed_expr``) and fold in as one committed
    generation via ``datapipe.update_ann_index`` / ``update_ivf_index``;
    re-crawled urls tombstone their old vector (which may change bucket /
    cluster — only tombstoning handles that). The first non-empty batch
    builds the index (for IVF that also trains the ``ivf_clusters``
    centroids on that batch; later batches take the frozen-centroid FAISS
    add path — run ``datapipe.retrain_ivf_index`` when drift accumulates,
    see ``ivf_drift_metrics``). Same replay-convergence story as the BM25
    index.

    The graph rebuild and the index upkeep overlap: they write disjoint
    roots, and each index commits under its own marker-last protocol. A
    failing branch fails the batch once all branches stop; the replay
    still converges, as each index re-lands its own generation and
    tombstones the copy an earlier attempt committed."""
    bronze = str(Path(base) / "_bronze_pages")
    checkpoint_dir = checkpoint_dir or str(Path(base) / "_stream_checkpoint")
    any_index = fulltext_index_dir or ann_index_dir or ivf_index_dir

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # pin the micro-batch: it feeds three actions (emptiness probe,
        # bronze append, dirty-group collect) and an unpersisted stream
        # batch re-reads its source files per action
        batch_df.persist()
        if batch_df.isEmpty():
            batch_df.unpersist()
            return
        # a foreachBatch replay re-runs a batch id: its marker, written
        # after the append, keeps the replay from landing the pages twice
        # (a crash between the two still re-appends; the latest-crawl pick
        # below drops such copies)
        landed = Path(bronze) / "_batches" / str(batch_id)
        if not landed.exists():
            (batch_df.write.mode("append").partitionBy("group_id")
             .parquet(bronze))
            landed.parent.mkdir(parents=True, exist_ok=True)
            landed.touch()
        dirty = [r["group_id"] for r in
                 batch_df.select("group_id").distinct().collect()]
        batch_urls = (batch_df.select("url").distinct()
                      .localCheckpoint()) if any_index else None
        batch_df.unpersist()
        # invalidate lineage for dirty groups -> run_resumable recomputes them
        for g in dirty:
            rec = kio._lineage_dir(base) / f"group={g}.json"
            if rec.exists():
                rec.unlink()
        # deterministic re-crawl pick: latest warc_ts per url, content-hash
        # tie-break (dropDuplicates keeps an arbitrary row, so a re-crawled
        # url would nondeterministically rebuild from the stale crawl)
        from pyspark.sql import Window
        w = Window.partitionBy("url").orderBy(
            F.desc("warc_ts"), F.desc(F.md5(F.col("text"))))
        all_pages = (spark.read.parquet(bronze)
                     .filter(F.col("group_id").isin(dirty))
                     .withColumn("__rn", F.row_number().over(w))
                     .filter(F.col("__rn") == 1).drop("__rn"))
        tasks = [lambda: kio.run_resumable(spark, all_pages, base,
                                           compute_embeddings=False)]
        if any_index:
            from kgspark import datapipe as dp
            from kgspark import fulltext
            # each batch url's CURRENT latest-crawl row; pinned before the
            # branches start — it feeds one action per maintained index
            delta = (all_pages.join(batch_urls, "url", "left_semi")
                     .localCheckpoint())
            if fulltext_index_dir:
                tasks.append(lambda: _fold(
                    fulltext.build_fulltext_index,
                    fulltext.update_fulltext_index, delta,
                    fulltext_index_dir, text_col="text", id_col="url"))

            def vectors() -> None:
                # pin the embeddings: the two index updates run several
                # actions each (dup check, bucket collect, sidecar +
                # vector writes) and an unpinned plan would recompute the
                # page-text embedding UDF — by far the batch's most
                # expensive stage — once per action
                vecs = delta.select(
                    "url",
                    udfs.embed_expr()(F.col("text")).alias("embedding")
                ).localCheckpoint()
                cols = {"id_col": "url", "emb_col": "embedding"}
                if ann_index_dir:
                    _fold(dp.build_ann_index, dp.update_ann_index, vecs,
                          ann_index_dir, **cols)
                if ivf_index_dir:
                    _fold(partial(dp.build_ivf_index, n_clusters=ivf_clusters),
                          dp.update_ivf_index, vecs, ivf_index_dir, **cols)

            if ann_index_dir or ivf_index_dir:
                tasks.append(vectors)
        # the graph rebuild and each index's upkeep depend on none of the
        # others and write disjoint roots, so they overlap
        run_concurrently(spark, *tasks)

    return (read_pages_stream(spark, input_dir, max_files_per_trigger)
            .writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def _fold(build, update, df: DataFrame, path: str, **kw) -> None:
    """Fold ``df`` into the index at ``path`` as one committed generation;
    the first batch builds it."""
    from kgspark import segments

    fn = build if segments.committed_gen(path) is None else update
    fn(df, path=path, **kw)


_MONITOR_STATE = ("uuids array<string>, valids array<long>, "
                  "grps array<string>, closables array<boolean>, "
                  "closer_uuids array<string>, closer_valids array<long>")
_MONITOR_OUT = ("contra_key string, edge_uuid string, invalid_at timestamp, "
                "caused_by_edge_uuid string")
MONITOR_MAX_FACTS = 100_000  # explicit per-key state cap (hub keys; logged)


def _closers_one_key(uuids, valids, grps, closables):
    """Exact closer per fact for ONE contradiction key (numpy; same rule as
    temporal._suffix_scan): first strictly-later fact in a different
    conflict-group, ties by (valid_at, uuid). Returns {uuid: (closer_valid,
    closer_uuid)} for closed closable facts."""
    import numpy as np
    order = np.lexsort((np.asarray(uuids), np.asarray(valids)))
    u = np.asarray(uuids)[order]
    v = np.asarray(valids)[order]
    g = np.asarray(grps)[order]
    c = np.asarray(closables)[order]
    n = len(u)
    # strictly-later boundary: end of each equal-valid run + 1
    newrun = np.ones(n, dtype=bool)
    newrun[1:] = v[1:] != v[:-1]
    run_id = np.cumsum(newrun) - 1
    run_starts = np.flatnonzero(newrun)
    run_end = np.append(run_starts[1:], n) - 1
    b = run_end[run_id] + 1
    chg = np.zeros(n, dtype=bool)
    chg[1:] = g[1:] != g[:-1]
    chg_idx = np.flatnonzero(chg)
    out = {}
    for i in range(n):
        if not c[i]:
            continue
        j = b[i]
        if j >= n:
            continue
        if g[j] != g[i]:
            out[u[i]] = (int(v[j]), str(u[j]))
            continue
        pos = np.searchsorted(chg_idx, j, side="right")
        if pos < chg_idx.size:
            k = chg_idx[pos]
            out[u[i]] = (int(v[k]), str(u[k]))
    return out


def streaming_contradiction_monitor(keyed_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``): the
    incremental analog of the batch bi-temporal pass. Input: the
    ``temporal.contra_keyed`` projection of a TRIPLES STREAM
    (uuid, contra_key, valid_at, grp, closable). Per contradiction key it
    keeps all facts seen so far as group state; each micro-batch merges the
    new facts, recomputes every fact's earliest strictly-later conflicting
    peer, and EMITS only the (edge_uuid, invalid_at, caused_by) rows whose
    closer changed — converging to exactly the batch ``temporal_pass``
    output over the union of all batches, in any arrival order
    (edge_operations.py:234-305 semantics, run incrementally).

    State per key is O(facts under that key), capped at MONITOR_MAX_FACTS
    (a 10^12-corpus hub key cannot grow unbounded executor state).

    No product path calls it: it is the custom stateful operator of the
    streaming restatement (SURVEY §2.8), kept with its own test."""
    import pandas as pd

    def monitor(key, pdfs, state):
        if state.exists:
            (s_uuids, s_valids, s_grps, s_clos,
             s_closer_u, s_closer_v) = state.get
            uuids = list(s_uuids)
            valids = list(s_valids)
            grps = list(s_grps)
            clos = list(s_clos)
            prev = {u: (cv, cu) for u, cv, cu in
                    zip(uuids, s_closer_v, s_closer_u) if cu is not None}
        else:
            uuids, valids, grps, clos, prev = [], [], [], [], {}
        seen = set(uuids)
        capped = False
        for pdf in pdfs:
            for u, v, g, cl in zip(pdf["uuid"], pdf["valid_at"],
                                   pdf["grp"], pdf["closable"]):
                if u in seen:
                    continue
                if len(uuids) >= MONITOR_MAX_FACTS:
                    # explicit, logged bound — never a silent drop: past the
                    # cap this key's output can no longer converge to the
                    # batch temporal_pass, so say so on the executor log
                    if not capped:
                        capped = True
                        print(f"WARN streaming_contradiction_monitor: key "
                              f"{key[0]!r} exceeded MONITOR_MAX_FACTS="
                              f"{MONITOR_MAX_FACTS}; dropping new facts — "
                              f"route this hub key to the batch pass")
                    continue
                seen.add(u)
                uuids.append(u)
                valids.append(int(pd.Timestamp(v).value // 1000))  # epoch µs
                grps.append(g)
                clos.append(bool(cl))
        closers = _closers_one_key(uuids, valids, grps, clos) if uuids else {}
        changed = [(u, cv, cu) for u, (cv, cu) in closers.items()
                   if prev.get(u) != (cv, cu)]
        closer_v = [closers[u][0] if u in closers else None for u in uuids]
        closer_u = [closers[u][1] if u in closers else None for u in uuids]
        state.update((uuids, valids, grps, clos, closer_u, closer_v))
        if changed:
            yield pd.DataFrame({
                "contra_key": key[0],
                "edge_uuid": [u for u, _, _ in changed],
                "invalid_at": pd.to_datetime(
                    [cv * 1000 for _, cv, _ in changed]),
                "caused_by_edge_uuid": [cu for _, _, cu in changed],
            })

    return (keyed_stream
            .groupBy("contra_key")
            .applyInPandasWithState(monitor, _MONITOR_OUT, _MONITOR_STATE,
                                    "append", "NoTimeout"))


def streaming_mention_counts(pages_stream: DataFrame,
                             window: str = "1 hour",
                             watermark: str = "2 hours") -> DataFrame:
    """Watermarked windowed aggregation over the page stream: mentions per
    (entity name, event-time window). Late pages beyond the watermark are
    dropped; within it, windows update in place (update/append per sink)."""
    mentions = udfs.extract_mentions(pages_stream)
    return (mentions
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window), "group_id", "name")
            .agg(F.count(F.lit(1)).alias("n_mentions")))


def sessionize(events: DataFrame, ts_col: str = "ts",
               key_col: str = "user_id", gap: str = "30 minutes",
               value_col: str = "value") -> DataFrame:
    """Gap-based sessionization with Spark's native ``session_window`` —
    the SAME primitive works unchanged over a ``readStream`` source (with
    a watermark), so this is the batch twin of the streaming session
    aggregation. Events of one key whose gaps are <= ``gap`` merge into
    one session (the boundary is inclusive — a gap of exactly ``gap``
    still merges); the window end extends 1 gap past the last event.

    Scale shape: one shuffle keyed on ``key_col`` (high-cardinality
    user/device ids), session merging is per-key local state — the classic
    100-TB clickstream layout. total_value uses the DECIMAL(18,4) pattern
    so results are order-independent (float sums are not associative)."""
    dec = F.col(value_col).cast("decimal(18,4)")
    return (events
            .groupBy(key_col, F.session_window(ts_col, gap))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum(dec), 2).cast("double").alias("total_value"))
            .select(key_col,
                    F.col("session_window.start").alias("session_start"),
                    "n_events", "total_value"))
