"""`ingest` workload: writes. ``streaming.incremental_ingest`` over
arrival-ordered batch files with the fulltext, ANN and IVF index dirs set
(the shape of ``tools/streaming_scale.py --indexes``). Set-up streams
batch 0, which builds the graph and all three indexes (IVF trains its
centroids). Each timed step then lands one more batch file and restarts the
stream from its checkpoint; the batch carries new pages plus re-crawls of
earlier ones, so it rebuilds its dirty groups through ``io.run_resumable``
and tombstones the re-crawled documents in every index.

Checks: the streamed edges equal a one-shot ``build_graph`` over the final
corpus; indexed BM25 is float-exact against ``bm25_search``; ANN and IVF at
full probe return the ``ann_bruteforce`` top 10.

Trace: spans around ``io.run_resumable`` and each index build and update,
then query latency and recall for every index, segment counts, and the
read side (``maintenance.build_indices_and_constraints`` and indexed
``search.hybrid_search``, checked against its scan path).
"""

from __future__ import annotations

import json
import math
import random
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import timedelta
from pathlib import Path

from harness import dir_stats, edge_signature, median, write_pages
from workload_build import BATCH_TS

# (batch-0 pages, (new, re-crawled) pages per later batch, later batches)
SIZES = {"full": (60, (40, 20), 3), "tiny": (30, (20, 10), 2)}
# about 15 first-batch vectors per cluster; trace queries probe half the
# clusters, so ivf.recall_at_10 is not trivially 1
IVF_CLUSTERS = 4
QUERIES = 3


def _batches(first: int, update: tuple[int, int], n_updates: int, seed: int):
    """Pandas page batches in arrival order. Every batch after the first
    also re-crawls pages of earlier batches: same url, new text, a later
    crawl time."""
    import pandas as pd

    from kgspark.datagen import gen_pages_batch
    sizes = [first] + [update[0]] * n_updates
    n_total = sum(sizes)
    rng = random.Random(seed)
    out, lo = [], 0
    for b, n in enumerate(sizes):
        pdf = gen_pages_batch(range(lo, lo + n), n_total, seed)
        if b > 0:
            again = sorted(rng.sample(range(lo), min(update[1], lo)))
            re = gen_pages_batch(again, n_total, seed + 1000 + b)
            re["warc_ts"] = re["warc_ts"] + timedelta(days=30 * b)
            pdf = pd.concat([pdf, re], ignore_index=True)
        out.append(pdf)
        lo += n
    return out


def _stream(ctx) -> float:
    """Run the stream over everything in ``incoming`` it has not yet
    processed (availableNow) and return its wall seconds. Appends each
    micro-batch's (input rows, seconds) to ``ctx.per_batch``."""
    from kgspark import streaming
    t0 = time.perf_counter()
    q = streaming.incremental_ingest(
        ctx.spark, str(ctx.incoming / "*"), str(ctx.base),
        max_files_per_trigger=1, fulltext_index_dir=ctx.idx["fulltext"],
        ann_index_dir=ctx.idx["ann"], ivf_index_dir=ctx.idx["ivf"],
        ivf_clusters=IVF_CLUSTERS)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    for p in q.recentProgress:
        p = p if isinstance(p, dict) else json.loads(p.json)
        if p["numInputRows"]:
            ctx.per_batch.append(
                (p["numInputRows"], p["durationMs"]["triggerExecution"] / 1000))
    return wall


def _land(ctx, b: int) -> None:
    """Batch file ``b`` arrives: an atomic rename into the input dir."""
    name = f"batch_{b:03d}"
    (ctx.work / "arrivals" / name).rename(ctx.incoming / name)
    ctx.landed.append(ctx.batches[b])


def setup(ctx) -> None:
    """Write every batch file (untimed), then stream batch 0, the
    bootstrap that builds the graph and the indexes (timed as set-up)."""
    ctx.batches = _batches(*SIZES[ctx.size], ctx.seed)
    for b, pdf in enumerate(ctx.batches):
        write_pages(pdf, ctx.work / "arrivals" / f"batch_{b:03d}", 1)
    ctx.incoming, ctx.base = ctx.work / "incoming", ctx.work / "graph"
    ctx.incoming.mkdir()
    ctx.idx = {n: str(ctx.work / f"{n}_idx") for n in ("fulltext", "ann", "ivf")}
    ctx.landed, ctx.per_batch, ctx.rebuilt = [], [], []
    ctx.trace_extra_s = 0.0
    if ctx.trace:
        _wrap_stream_calls(ctx)
    _land(ctx, 0)
    ctx.bootstrap_s = _stream(ctx)


def _final_corpus(ctx):
    """The latest crawl of every landed url, as the stream resolves
    re-crawls (pandas)."""
    import pandas as pd
    return (pd.concat(ctx.landed, ignore_index=True)
            .sort_values(["url", "warc_ts"])
            .drop_duplicates("url", keep="last"))


def _queries(texts: list[str], rng: random.Random, n: int) -> list[str]:
    """Seeded two-word queries drawn from the corpus text."""
    out = []
    while len(out) < n:
        words = [w for w in rng.choice(texts).split() if w.isalpha()]
        if len(words) >= 2:
            i = rng.randrange(len(words) - 1)
            out.append(f"{words[i]} {words[i + 1]}")
    return out


def _ids(df) -> list[str]:
    return [r["id"] for r in df.collect()]


def _check(ctx, pdf, idx) -> dict:
    """The output checks. Their three groups of Spark jobs are independent
    and each too small to use every core, so they run side by side."""
    import numpy as np

    from kgspark import datapipe as dp
    from kgspark import fulltext
    from kgspark import io as kio
    from kgspark.datagen import PAGES_DDL
    from kgspark.pipeline import build_graph
    from kgspark.textcore import hash_embedding

    spark = ctx.spark
    corpus = spark.createDataFrame(pdf, PAGES_DDL).localCheckpoint()
    rng = random.Random(ctx.seed)
    texts = list(pdf["text"])
    q = _queries(texts, rng, 1)[0]
    # brute-force truth over embeddings computed on the driver: the float32
    # rounding of textcore.hash_embedding that udfs.embed_expr stores
    emb = sorted((url, np.float32(hash_embedding(text)).tolist())
                 for url, text in zip(pdf["url"], pdf["text"]))
    qv = rng.choice(emb)[1]
    vecs = spark.createDataFrame(
        emb, "url string, embedding array<float>").localCheckpoint()

    def graph() -> dict:
        streamed = edge_signature(kio.read_table(spark, str(ctx.base), "edges"))
        oneshot = edge_signature(build_graph(
            corpus, BATCH_TS, check_text=False,
            compute_embeddings=False)["edges"])
        return {"edges_streamed": streamed, "edges_oneshot": oneshot,
                "graph_converged": streamed == oneshot}

    def bm25() -> dict:
        scan = {r["url"]: r["score"] for r in fulltext.bm25_search(
            corpus, "text", q, limit=50, id_col="url").collect()}
        got = {r["url"]: r["score"] for r in fulltext.bm25_query_indexed(
            spark, idx["fulltext"], q, limit=50, id_col="url").collect()}
        return {"bm25_exact": set(got) == set(scan) and all(
            math.isclose(got[k], scan[k], abs_tol=1e-9) for k in scan)}

    def vectors() -> dict:
        want = _ids(dp.ann_bruteforce(vecs, qv, k=10, id_col="url",
                                      emb_col="embedding"))
        return {"ann_exact": want == _ids(dp.ann_query_indexed(
                    spark, idx["ann"], qv, k=10, probe_hamming=12,
                    id_col="url", emb_col="embedding")),
                "ivf_exact": want == _ids(dp.ann_ivf_indexed(
                    spark, idx["ivf"], qv, k=10, nprobe=IVF_CLUSTERS,
                    id_col="url", emb_col="embedding"))}

    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [pool.submit(f) for f in (graph, bm25, vectors)]
        checks = {k: v for f in futures for k, v in f.result().items()}
    ctx.check_vecs, ctx.check_emb, ctx.check_texts = vecs, emb, texts
    return checks


def _wrap_stream_calls(ctx) -> None:
    """Span recorders around the eager module functions the stream calls.
    ``run_resumable`` also counts the pages it is handed (the rebuild set);
    that count is trace-only work and is timed as overhead."""
    from kgspark import datapipe as dp
    from kgspark import fulltext
    from kgspark import io as kio

    spans = ctx.spans
    for mod, fn, name in ((fulltext, "build_fulltext_index", "fulltext.build"),
                          (fulltext, "update_fulltext_index", "fulltext.update"),
                          (dp, "build_ann_index", "ann.build"),
                          (dp, "update_ann_index", "ann.update"),
                          (dp, "build_ivf_index", "ivf.build"),
                          (dp, "update_ivf_index", "ivf.update"),
                          (kio, "run_resumable", "io.run_resumable")):
        spans.wrap(mod, fn, name)
    inner = kio.run_resumable

    def counted(spark, pages, base, *args, **kwargs):
        t0 = time.perf_counter()
        ctx.rebuilt.append(pages.count())
        ctx.trace_extra_s += time.perf_counter() - t0
        return inner(spark, pages, base, *args, **kwargs)

    kio.run_resumable = counted


def measure(ctx) -> dict:
    walls = []
    extra0 = ctx.trace_extra_s
    t_start = time.time()
    try:
        for b in range(1, len(ctx.batches)):
            if walls and time.time() - t_start >= ctx.seconds:
                break
            _land(ctx, b)
            walls.append(_stream(ctx))
        t_end = time.time()
    finally:
        ctx.spans.unwrap_all()
    extra = ctx.trace_extra_s - extra0
    t0 = time.perf_counter()
    checks = _check(ctx, _final_corpus(ctx), ctx.idx)
    check_s = time.perf_counter() - t0
    ok = all(v for k, v in checks.items() if not k.startswith("edges_"))
    n_ops = 1 + len(walls)
    return {
        "attempted": n_ops, "failed": 0 if ok else n_ops,
        "window": (t_start, t_end),
        "metrics": {"wall_s": median(walls)},
        "details": {"pages_per_s": median([len(ctx.batches[b + 1]) / w
                                           for b, w in enumerate(walls)]),
                    "batches": [{"rows": n, "s": s} for n, s in ctx.per_batch],
                    "ingest_s": ctx.bootstrap_s + sum(walls),
                    "update_wall_s": walls,
                    "check_s": check_s, **checks},
        "layers": {"ingest.first_batch_s": ctx.per_batch[0][1],
                   "ingest.update_batch_s": median(
                       [s for _, s in ctx.per_batch[1:]]),
                   # the traced run's median update batch, and the share of
                   # it the tracer's own counting took
                   "trace.wall_s": median(walls),
                   "trace.overhead_pct": 100 * extra / (sum(walls) - extra)},
    }


def _timed_ms(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) * 1000


def trace(ctx) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from kgspark import datapipe as dp
    from kgspark import fulltext, maintenance, segments, udfs
    from kgspark import io as kio
    from kgspark import search as ks

    spark, spans, idx = ctx.spark, ctx.spans, ctx.idx
    rng = random.Random(ctx.seed + 7)
    layers: dict[str, float] = {}
    arrived = [n for n, _ in ctx.per_batch]
    ratios = [r / a for r, a in zip(ctx.rebuilt[1:], arrived[1:])]
    layers["streaming.recompute_ratio"] = (sum(ratios) / len(ratios)
                                           if ratios else 1.0)
    # batch 0's rebuild is set-up; the layer metric is the update batches'
    layers["io.run_resumable_s"] = median(
        spans.durations("io.run_resumable")[1:])
    for name in ("fulltext", "ann", "ivf"):
        layers[f"{name}.build_s"] = spans.total(f"{name}.build")
        layers[f"{name}.update_s"] = median(spans.durations(f"{name}.update"))
        layers[f"segments.{name}.gens"] = float(
            segments.committed_gen(idx[name]) + 1)
        layers[f"segments.{name}.files"] = float(
            dir_stats(Path(idx[name]))[0])

    qs = _queries(ctx.check_texts, rng, QUERIES)
    layers["fulltext.query_ms"] = median([_timed_ms(
        lambda q=q: fulltext.bm25_query_indexed(
            spark, idx["fulltext"], q, limit=20, id_col="url").collect())
        for q in qs])
    qvs = [rng.choice(ctx.check_emb)[1] for _ in range(QUERIES)]
    truth = [set(_ids(dp.ann_bruteforce(ctx.check_vecs, qv, k=10,
                                        id_col="url", emb_col="embedding")))
             for qv in qvs]
    for name, query in (
            ("ann", lambda qv: dp.ann_query_indexed(
                spark, idx["ann"], qv, k=10, id_col="url",
                emb_col="embedding")),
            ("ivf", lambda qv: dp.ann_ivf_indexed(
                spark, idx["ivf"], qv, k=10, nprobe=IVF_CLUSTERS // 2,
                id_col="url", emb_col="embedding"))):
        times, hits = [], []
        for qv, want in zip(qvs, truth):
            t0 = time.perf_counter()
            got = _ids(query(qv))
            times.append((time.perf_counter() - t0) * 1000)
            hits.append(len(want & set(got)) / 10)
        layers[f"{name}.query_ms"] = median(times)
        layers[f"{name}.recall_at_10"] = sum(hits) / len(hits)

    # read side over the streamed graph: graphiti's three fulltext indexes,
    # then indexed hybrid search over edges, checked against the scan path
    edges = (kio.read_table(spark, str(ctx.base), "edges")
             .withColumn("fact_embedding", udfs.embed_expr()(F.col("fact")))
             .withColumn("name_fact", F.concat_ws(
                 " ", *[F.coalesce(F.col(c).cast("string"), F.lit(""))
                        for c in ("name", "fact")]))
             .localCheckpoint())
    nodes = kio.read_table(spark, str(ctx.base), "nodes")
    with spans.span("maintenance.build_indices"):
        paths = maintenance.build_indices_and_constraints(
            {"nodes": nodes, "edges": edges}, str(ctx.work / "search_idx"))
    layers["maintenance.build_indices_s"] = spans.total(
        "maintenance.build_indices")
    # re-index a fifth of the edges as a second generation, so queries
    # cross generations and tombstones as a stream leaves them; the
    # indexed docs still equal ``edges``, so the scan path stays comparable
    fulltext.update_fulltext_index(
        edges.sample(fraction=0.2, seed=ctx.seed), "name_fact",
        paths["edge_name_and_fact"])
    facts = [r["fact"] for r in edges.select("fact").collect()]
    cfg = ks.EDGE_HYBRID_SEARCH_RRF
    hybrid, bm25_leg, cos_leg, same = [], [], [], True
    for q in _queries(facts, rng, 2):
        t0 = time.perf_counter()
        got = ks.hybrid_search(edges, "name_fact", "fact_embedding", q,
                               fulltext_index_path=paths["edge_name_and_fact"]
                               ).collect()
        hybrid.append((time.perf_counter() - t0) * 1000)
        same &= got == ks.hybrid_search(edges, "name_fact", "fact_embedding",
                                        q).collect()
        bm25_leg.append(_timed_ms(lambda q=q: fulltext.bm25_query_indexed(
            spark, paths["edge_name_and_fact"], q, cfg.limit * 2).collect()))
        cos_leg.append(_timed_ms(lambda q=q: ks.similarity_search(
            edges, "fact_embedding", ks.search_text_query(q), cfg.limit * 2,
            cfg.min_score).collect()))
    layers["search.hybrid_ms"] = median(hybrid)
    layers["search.bm25_leg_ms"] = median(bm25_leg)
    layers["search.cosine_leg_ms"] = median(cos_leg)
    return layers, {"hybrid_indexed_equals_scan": same}
