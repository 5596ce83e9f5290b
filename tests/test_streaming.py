"""Structured-Streaming incremental ingest + watermarked windowed agg."""

from pathlib import Path

from pyspark.sql import functions as F

from kgspark import io as kio
from kgspark import streaming
from kgspark.datagen import pages_pandas
from kgspark.pipeline import build_graph


def _write_batches(spark, tmp_path, n=90, batches=3):
    pdf = pages_pandas(n)
    inp = tmp_path / "incoming"
    inp.mkdir()
    step = n // batches
    for b in range(batches):
        part = pdf.iloc[b * step:(b + 1) * step]
        spark.createDataFrame(part).write.mode("overwrite") \
            .parquet(str(inp / f"batch_{b}"))
    return str(inp), pdf


def test_incremental_ingest_converges_to_batch(spark, tmp_path):
    inp, pdf = _write_batches(spark, tmp_path)
    base = str(tmp_path / "graph")
    q = streaming.incremental_ingest(spark, inp + "/*", base)
    q.awaitTermination(300)

    stream_edges = {(r["uuid"], r["valid_at"], r["invalid_at"])
                    for r in kio.read_table(spark, base, "edges")
                    .select("uuid", "valid_at", "invalid_at").collect()}
    batch_out = build_graph(spark.createDataFrame(pdf), check_text=False,
                            compute_embeddings=False)
    batch_edges = {(r["uuid"], r["valid_at"], r["invalid_at"])
                   for r in batch_out["edges"]
                   .select("uuid", "valid_at", "invalid_at").collect()}
    assert stream_edges == batch_edges and stream_edges
    # lineage exists for every group
    assert kio.completed_groups(base)


def test_streaming_mention_counts(spark, tmp_path):
    inp, pdf = _write_batches(spark, tmp_path, n=60, batches=2)
    stream = streaming.read_pages_stream(spark, inp + "/*")
    agg = streaming.streaming_mention_counts(stream, "1 hour", "2 hours")
    q = (agg.writeStream.format("memory").queryName("mcounts")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    rows = spark.sql("select * from mcounts").collect()
    # append mode only emits closed windows (watermark passed); with
    # availableNow over finite input, earlier windows close
    assert {c for c in rows[0].asDict()} == {"window", "group_id", "name", "n_mentions"} \
        if rows else True


def test_sessionize_gap_semantics(spark):
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1: chain merging — gaps of 29 min and exactly 30 min both
        # merge (session_window's boundary is inclusive) -> ONE session
        (1, t0, 5.0), (1, t0 + timedelta(minutes=29), 5.0),
        (1, t0 + timedelta(minutes=59), 5.0),
        # user 1: gap 31 min > 30 -> NEW session
        (1, t0 + timedelta(minutes=90), 1.0),
        # user 2: single event
        (2, t0, 2.5),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {(r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
           for r in streaming.sessionize(df).collect()}
    assert got == {
        (1, t0): (3, 15.0),
        (1, t0 + timedelta(minutes=90)): (1, 1.0),
        (2, t0): (1, 2.5),
    }


def test_sessionize_streaming_twin(spark, tmp_path):
    # the SAME operator over readStream: session windows close once the
    # watermark passes; with availableNow over finite input the emitted
    # sessions must be a subset of (and consistent with) the batch result
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = [(u, t0 + timedelta(minutes=5 * i + u), float(i))
            for u in (1, 2) for i in range(10)]
    # a far-future event pushes the watermark so earlier sessions close
    rows.append((9, t0 + timedelta(days=2), 0.0))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    inp = str(tmp_path / "events_in")
    df.coalesce(1).write.parquet(inp)
    stream = spark.readStream.schema("user_id long, ts timestamp, value double") \
        .parquet(inp)
    agg = streaming.sessionize(stream.withWatermark("ts", "1 hour"))
    q = (agg.writeStream.format("memory").queryName("sess")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = {(r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
           for r in spark.sql("select * from sess").collect()}
    batch = {(r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
             for r in streaming.sessionize(df).collect()}
    assert got and all(batch[k] == v for k, v in got.items())


def test_recrawl_picks_latest_deterministically(spark, tmp_path):
    # a re-crawled url (same url, newer warc_ts, updated text) must rebuild
    # the graph from the NEWEST crawl, not an arbitrary bronze row
    from datetime import datetime
    import pandas as pd

    inp = tmp_path / "incoming"
    inp.mkdir()
    old = pd.DataFrame([{
        "url": "http://x", "group_id": "g", "warc_ts": datetime(2024, 1, 1),
        "html": b"<p>Priya Sharma works for Initech.</p>",
        "text": "Priya Sharma works for Initech.", "lang": "en"}])
    new = old.copy()
    new.loc[0, "warc_ts"] = datetime(2024, 2, 1)
    new.loc[0, "html"] = b"<p>Priya Sharma works for Glowco.</p>"
    new.loc[0, "text"] = "Priya Sharma works for Glowco."
    schema = ("url string, group_id string, warc_ts timestamp, html binary, "
              "text string, lang string")
    spark.createDataFrame(old, schema).write.parquet(str(inp / "b0"))
    spark.createDataFrame(new, schema).write.parquet(str(inp / "b1"))
    base = str(tmp_path / "graph")
    q = streaming.incremental_ingest(spark, str(inp) + "/*", base)
    q.awaitTermination(300)
    facts = [r["fact"] for r in kio.read_table(spark, base, "edges").collect()]
    assert facts == ["Priya Sharma works for Glowco."]


def test_incremental_ingest_maintains_fulltext_index(spark, tmp_path):
    # fulltext_index_dir keeps a persisted BM25 index fresh per micro-batch
    # (the reference updates Lucene on every add_episode); re-crawled urls
    # must REPLACE their old version in the index, and the final indexed
    # scores must match a from-scratch bm25_search over the latest-crawl
    # corpus to float precision
    import pandas as pd

    from kgspark import fulltext, segments

    pdf = pages_pandas(60)
    inp = tmp_path / "inc_idx"
    inp.mkdir()
    rec = pdf.iloc[:5].copy()
    rec["warc_ts"] = rec["warc_ts"] + pd.Timedelta(days=30)
    rec["text"] = "updated recrawl content about " + rec["url"]
    for b, part in enumerate((pdf.iloc[:30], pdf.iloc[30:], rec)):
        spark.createDataFrame(part).coalesce(1).write.mode("overwrite") \
            .parquet(str(inp / f"batch_{b}"))
    base = str(tmp_path / "graph_idx")
    idx = str(tmp_path / "ftidx_stream")
    q = streaming.incremental_ingest(spark, str(inp) + "/*", base,
                                     max_files_per_trigger=1,
                                     fulltext_index_dir=idx)
    q.awaitTermination(300)
    assert segments.committed_gen(idx) >= 1  # grew incrementally, no rebuild
    final = pd.concat([pdf[~pdf["url"].isin(rec["url"])], rec])
    corpus = spark.createDataFrame(final)
    queries = ["updated recrawl content",
               " ".join(str(pdf["text"].iloc[40]).split()[:4])]
    for qy in queries:
        scan = {r["url"]: r["score"] for r in
                fulltext.bm25_search(corpus, "text", qy, limit=200,
                                     id_col="url").collect()}
        got = {r["url"]: r["score"] for r in
               fulltext.bm25_query_indexed(spark, idx, qy, limit=200,
                                           id_col="url").collect()}
        assert set(got) == set(scan), qy
        for k in scan:
            assert got[k] == __import__("pytest").approx(scan[k], abs=1e-12)
    # the re-crawled doc ranks for its NEW text, not the old one
    assert set(rec["url"]) <= {r["url"] for r in
                               fulltext.bm25_query_indexed(
                                   spark, idx, "updated recrawl content",
                                   limit=200, id_col="url").collect()}


def test_incremental_ingest_maintains_vector_indexes(spark, tmp_path):
    # ann_index_dir / ivf_index_dir keep the persisted vector indexes fresh
    # per micro-batch (r4 verdict next #4), mirroring the BM25 wiring: one
    # committed generation per batch, re-crawled urls tombstone their old
    # vector (which may move bucket/cluster). Convergence: full-probe
    # queries over the stream-maintained indexes equal exact brute force
    # over the latest-crawl corpus embedded with the same embedder.
    import pandas as pd

    from kgspark import datapipe as dp
    from kgspark import segments, udfs

    pdf = pages_pandas(40)
    inp = tmp_path / "inc_vec"
    inp.mkdir()
    rec = pdf.iloc[:4].copy()
    rec["warc_ts"] = rec["warc_ts"] + pd.Timedelta(days=30)
    rec["text"] = "completely different recrawl payload " + rec["url"]
    for b, part in enumerate((pdf.iloc[:20], pdf.iloc[20:], rec)):
        spark.createDataFrame(part).coalesce(1).write.mode("overwrite") \
            .parquet(str(inp / f"batch_{b}"))
    base = str(tmp_path / "graph_vec")
    ann = str(tmp_path / "ann_stream")
    ivf = str(tmp_path / "ivf_stream")
    q = streaming.incremental_ingest(spark, str(inp) + "/*", base,
                                     max_files_per_trigger=1,
                                     ann_index_dir=ann, ivf_index_dir=ivf,
                                     ivf_clusters=4)
    q.awaitTermination(300)
    # grew incrementally: one committed generation per non-initial batch
    assert segments.committed_gen(ann) >= 1
    assert segments.committed_gen(ivf) >= 1
    final = pd.concat([pdf[~pdf["url"].isin(rec["url"])], rec])
    corpus = spark.createDataFrame(final).select(
        "url", udfs.embed_expr()(F.col("text")).alias("embedding"))
    qv = [float(x) for x in
          corpus.orderBy("url").first()["embedding"]]
    want = [r["id"] for r in
            dp.ann_bruteforce(corpus, qv, k=8, id_col="url",
                              emb_col="embedding").collect()]
    got_ann = [r["id"] for r in
               dp.ann_query_indexed(spark, ann, qv, k=8,
                                    probe_hamming=12, id_col="url",
                                    emb_col="embedding").collect()]
    assert got_ann == want
    got_ivf = [r["id"] for r in
               dp.ann_ivf_indexed(spark, ivf, qv, k=8, nprobe=4,
                                  id_col="url",
                                  emb_col="embedding").collect()]
    assert got_ivf == want


def test_replay_after_index_failure_converges(spark, tmp_path, monkeypatch):
    # the rebuild and the index upkeep overlap. One branch failing fails the
    # batch after the others have committed; a restart on the same
    # checkpoint replays it, and every index re-lands its own generation
    import pytest

    from kgspark import datapipe as dp
    from kgspark import fulltext, udfs

    pdf = pages_pandas(40)
    inp = tmp_path / "inc"
    inp.mkdir()
    for b, part in enumerate((pdf.iloc[:20], pdf.iloc[20:])):
        spark.createDataFrame(part).coalesce(1).write \
            .parquet(str(inp / f"batch_{b}"))
    base = str(tmp_path / "graph")
    ft, ann, ivf = (str(tmp_path / d) for d in ("ft", "ann", "ivf"))
    calls = []
    update_ivf = dp.update_ivf_index

    def failing_once(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected IVF update failure")
        return update_ivf(*args, **kwargs)

    monkeypatch.setattr(dp, "update_ivf_index", failing_once)

    def stream():
        streaming.incremental_ingest(
            spark, str(inp) + "/*", base, max_files_per_trigger=1,
            fulltext_index_dir=ft, ann_index_dir=ann, ivf_index_dir=ivf,
            ivf_clusters=4).awaitTermination(300)

    with pytest.raises(Exception, match="injected IVF update failure"):
        stream()
    stream()
    assert len(calls) == 2

    stream_edges = {(r["uuid"], r["valid_at"], r["invalid_at"])
                    for r in kio.read_table(spark, base, "edges")
                    .select("uuid", "valid_at", "invalid_at").collect()}
    corpus = spark.createDataFrame(pdf)
    batch_edges = {(r["uuid"], r["valid_at"], r["invalid_at"])
                   for r in build_graph(corpus, check_text=False,
                                        compute_embeddings=False)["edges"]
                   .select("uuid", "valid_at", "invalid_at").collect()}
    assert stream_edges == batch_edges and stream_edges
    # the replayed batch lands its pages in bronze once
    bronze = spark.read.parquet(base + "/_bronze_pages")
    assert bronze.count() == bronze.select("url", "warc_ts").distinct() \
        .count() == len(pdf)

    qy = " ".join(str(pdf["text"].iloc[30]).split()[:4])
    scan = {r["url"]: r["score"] for r in fulltext.bm25_search(
        corpus, "text", qy, limit=200, id_col="url").collect()}
    got = {r["url"]: r["score"] for r in fulltext.bm25_query_indexed(
        spark, ft, qy, limit=200, id_col="url").collect()}
    assert got == pytest.approx(scan, abs=1e-12) and scan

    vecs = corpus.select(
        "url", udfs.embed_expr()(F.col("text")).alias("embedding"))
    qv = [float(x) for x in vecs.orderBy("url").first()["embedding"]]
    want = [r["id"] for r in dp.ann_bruteforce(
        vecs, qv, k=8, id_col="url", emb_col="embedding").collect()]
    assert want == [r["id"] for r in dp.ann_query_indexed(
        spark, ann, qv, k=8, probe_hamming=12, id_col="url",
        emb_col="embedding").collect()]
    assert want == [r["id"] for r in dp.ann_ivf_indexed(
        spark, ivf, qv, k=8, nprobe=4, id_col="url",
        emb_col="embedding").collect()]
