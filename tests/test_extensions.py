"""Round-2 extension operators: real BM25 + lucene_sanitize, cross-encoder
hook, entity-type registry, add_triplets, merge_upsert, and coverage for the
three round-1-untested ops (entity_community, node_distance_rerank,
clear_data)."""

import math
from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgspark import communities, fulltext, io, search, triplets
from kgspark.entity_types import EntityType, EntityTypeRegistry

BATCH_TS = datetime(2025, 1, 1)


# ---------------------------------------------------------------------------
# fulltext
# ---------------------------------------------------------------------------

def test_lucene_sanitize():
    # helpers.py:39-73 escape map, incl. the fork's O/R/N/T/A/D letters
    assert fulltext.lucene_sanitize("a+b") == r"a\+b"
    assert fulltext.lucene_sanitize("x AND y") == r"x \A\N\D y"
    assert fulltext.lucene_sanitize('q~*?:"') == r"q\~\*\?\:\""
    assert fulltext.lucene_sanitize("plain words") == "plain words"


def test_fulltext_terms_cap():
    q = " ".join(f"w{i}" for i in range(50))
    assert len(fulltext.fulltext_terms(q)) == 32


def _bm25_py(docs, query_terms, k1=1.2, b=0.75):
    toks = {i: [t for t in text.lower().split() if t] for i, text in docs}
    dl = {i: len(ts) for i, ts in toks.items() if ts}
    n = len(dl)
    avgdl = sum(dl.values()) / n
    scores = {}
    for term in query_terms:
        df = sum(1 for ts in toks.values() if term in ts)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for i, ts in toks.items():
            tf = ts.count(term)
            if tf:
                scores[i] = scores.get(i, 0.0) + idf * tf / (
                    tf + k1 * (1 - b + b * dl[i] / avgdl))
    return scores


def test_bm25_matches_reference_formula(spark):
    docs = [(1, "spark shuffle join join"), (2, "join"),
            (3, "broadcast join shuffle"), (4, "scan only text here"),
            (5, "shuffle shuffle shuffle")]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["uuid", "fact"]))
    got = {r["uuid"]: r["score"] for r in
           fulltext.bm25_search(df, "fact", "join shuffle", limit=10).collect()}
    want = _bm25_py(docs, ["join", "shuffle"])
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)


def test_cross_encoder_rerank(spark):
    df = spark.createDataFrame(pd.DataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta"), (3, "delta")],
        columns=["uuid", "fact"]))
    out = fulltext.cross_encoder_rerank(df, "fact", "alpha beta", limit=3).collect()
    assert [r["uuid"] for r in out] == [2, 1, 3]
    assert out[0]["ce_score"] == 1.0


def test_cross_encoder_recipes_exist():
    for name in ("EDGE_HYBRID_SEARCH_CROSS_ENCODER",
                 "NODE_HYBRID_SEARCH_CROSS_ENCODER",
                 "COMMUNITY_HYBRID_SEARCH_CROSS_ENCODER",
                 "COMBINED_HYBRID_SEARCH_CROSS_ENCODER"):
        assert getattr(search, name).reranker == "cross_encoder"


# ---------------------------------------------------------------------------
# entity-type registry
# ---------------------------------------------------------------------------

def test_entity_type_registry_end_to_end(spark):
    from kgspark.datagen import pages_spark
    from kgspark.pipeline import build_graph

    registry = EntityTypeRegistry(types=(
        EntityType(name="Metro", suffixes=("City",),
                   attributes=(("kind", "place"), ("tier", "metro"))),
    ))
    out = build_graph(pages_spark(spark, 60), check_text=False,
                      compute_embeddings=False, entity_types=registry)
    metros = out["nodes"].filter(F.array_contains("labels", "Metro")).collect()
    assert metros, "registry label must reach the nodes table"
    attrs = metros[0]["attributes"]
    assert attrs["entity_type"] == "Metro"
    assert attrs["kind"] == "place" and attrs["tier"] == "metro"
    # built-in labels still applied to unmatched names
    assert out["nodes"].filter(F.array_contains("labels", "Person")).count() > 0


# ---------------------------------------------------------------------------
# add_triplets
# ---------------------------------------------------------------------------

def test_add_triplets_bitemporal(spark):
    rows = [
        ("g", "Ana Ruiz", "LIVES_IN", "Quito City", datetime(2024, 1, 1)),
        ("g", "Ana Ruiz", "LIVES_IN", "Lima City", datetime(2024, 6, 1)),
    ]
    t = spark.createDataFrame(
        pd.DataFrame(rows, columns=["group_id", "subject", "predicate",
                                    "object", "valid_at_explicit"]))
    out = triplets.add_triplets(t, BATCH_TS)
    edges = {(r["target_node_uuid"], r["invalid_at"] is not None)
             for r in out["edges"].collect()}
    assert len(edges) == 2
    inv = out["edge_invalidations"].collect()
    assert len(inv) == 1  # the Quito fact is superseded by the Lima fact
    nodes = {r["name"] for r in out["nodes"].collect()}
    assert nodes == {"Ana Ruiz", "Quito City", "Lima City"}
    ed = {r["name"]: r for r in out["edges"].collect()}
    assert ed["LIVES_IN"] is not None
    closed = [r for r in out["edges"].collect() if r["invalid_at"] is not None]
    assert len(closed) == 1 and closed[0]["invalid_at"] == datetime(2024, 6, 1)


def test_merge_upsert_row_level(spark, tmp_path):
    base = str(tmp_path / "store")
    df1 = spark.createDataFrame(pd.DataFrame(
        [("u1", "g0", "one"), ("u2", "g0", "two"), ("u3", "g1", "three")],
        columns=["uuid", "group_id", "payload"]))
    io.merge_upsert(spark, base, "nodes", df1)
    # update u2, insert u4, touch only g0 — g1's partition must be untouched
    df2 = spark.createDataFrame(pd.DataFrame(
        [("u2", "g0", "TWO"), ("u4", "g0", "four")],
        columns=["uuid", "group_id", "payload"]))
    n = io.merge_upsert(spark, base, "nodes", df2)
    got = {r["uuid"]: r["payload"]
           for r in io.read_table(spark, base, "nodes").collect()}
    assert got == {"u1": "one", "u2": "TWO", "u3": "three", "u4": "four"}
    assert n == 3  # rewrote only g0's rows


# ---------------------------------------------------------------------------
# round-1-untested operators
# ---------------------------------------------------------------------------

def _toy_graph(spark):
    rows = [("g", f"n{a}", f"n{b}") for a, b in
            [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]]
    return spark.createDataFrame(pd.DataFrame(
        rows, columns=["group_id", "source_node_uuid", "target_node_uuid"]))


def test_entity_community_incremental_attach(spark):
    edges = _toy_graph(spark)
    adj = communities.adjacency(edges)
    labels = communities.label_propagation(adj)
    attached = {r["uuid"]: r["community_id"]
                for r in communities.entity_community(labels, adj).collect()}
    base = {r["uuid"]: r["community_id"] for r in labels.collect()}
    # every node with neighbors attaches to the modal neighbor community —
    # for converged LP labels that is consistent with the labels themselves
    assert set(attached) == set(base)
    agree = sum(attached[u] == base[u] for u in base)
    assert agree / len(base) >= 0.8


def test_node_distance_rerank(spark):
    edges = _toy_graph(spark)
    cands = spark.createDataFrame(
        pd.DataFrame({"uuid": ["n1", "n3", "n6", "n9"]}))
    out = search.node_distance_rerank(cands, edges, "n1", limit=10).collect()
    order = [r["uuid"] for r in out]
    assert order == ["n1", "n3", "n6", "n9"]  # 0 hop, 1 hop, 3 hops, unreachable
    dists = {r["uuid"]: r["dist"] for r in out}
    assert dists["n1"] == 0 and dists["n3"] == 1 and dists["n6"] == 3
    assert dists["n9"] >= 10 ** 9


def test_clear_data(spark, tmp_path):
    from kgspark.maintenance import clear_data
    base = tmp_path / "out"
    (base / "nodes").mkdir(parents=True)
    (base / "nodes" / "x.parquet").write_text("stub")
    clear_data(spark, str(base))
    assert not base.exists()


# ---------------------------------------------------------------------------
# round-2 review regressions (code-review findings)
# ---------------------------------------------------------------------------

def test_ivf_centroids_fewer_vectors_than_k(spark):
    # requesting more clusters than vectors degrades instead of crashing
    from kgspark import datapipe as dp
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": [1, 2, 3],
        "embedding": [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]}))
    cents = dp.ivf_centroids(emb, k=16, iters=1)
    assert 1 <= len(cents) <= 3
    out = dp.ann_ivf(emb, [1.0, 0.0], k=2, n_clusters=16, nprobe=16, iters=1)
    assert out.count() == 2


def test_registry_reserved_attribute_key(spark):
    # a registered schema colliding with the built-in attributes map keys
    # ('entity_type'/'mention_count') must not blow up map_concat
    from kgspark.datagen import pages_spark
    from kgspark.pipeline import build_graph
    reg = EntityTypeRegistry((EntityType(
        name="Clashy", keywords=("alice",),
        attributes=(("entity_type", "shadowed"), ("custom", "ok"))),))
    pages = pages_spark(spark, 20)
    out = build_graph(pages, BATCH_TS, check_text=False,
                      compute_embeddings=False, entity_types=reg)
    rows = out["nodes"].select("attributes").collect()
    assert rows  # executes without DUPLICATE_MAP_KEY
    for r in rows:
        assert "entity_type" in r["attributes"]


def test_write_tables_escaped_partition_cleanup(spark, tmp_path):
    # group ids with Hive-escaped characters (':' -> '%3A' on disk): the
    # stale-partition delete must match the DECODED partition value
    base = str(tmp_path / "esc")
    df1 = spark.createDataFrame(pd.DataFrame({
        "group_id": ["g:1"], "x": [1]}))
    df1.write.partitionBy("group_id").parquet(f"{base}/nodes")
    on_disk = [p.name for p in (tmp_path / "esc" / "nodes").glob("group_id=*")]
    assert on_disk and "%3A" in on_disk[0]  # precondition: Spark escaped it
    empty = spark.createDataFrame([], "group_id string, x long")
    io.write_tables({"nodes": empty}, base, groups=["g:1"])
    stale = [p for p in (tmp_path / "esc" / "nodes").glob("group_id=*")]
    assert stale == []  # the escaped dir was found and removed


def test_run_resumable_empty_tables(spark, tmp_path):
    # a batch whose pages yield zero mentions/edges leaves table dirs with
    # no parquet files; the metrics read-back must record 0s, not crash
    base = str(tmp_path / "empty")
    pages = spark.createDataFrame(pd.DataFrame({
        "url": ["http://x/1"], "group_id": ["g0"],
        "warc_ts": [pd.Timestamp("2024-01-01")],
        "html": ["<p>nothing here.</p>"], "text": ["nothing here."],
        "lang": ["en"]}))
    summary = io.run_resumable(spark, pages, base, BATCH_TS,
                               compute_embeddings=False)
    assert summary["groups_processed"] == 1
    recs = io.completed_groups(base)
    assert recs == {"g0"}


def test_py_tokens_matches_tokens_col(spark):
    # the python tokenizer and the Column tokenizer are twins
    texts = ["Hello, World! 42", "a+b=c", "", "ünïcode stays out", "one"]
    df = spark.createDataFrame(pd.DataFrame({"t": texts}))
    jvm = [r["toks"] for r in
           df.select(fulltext.tokens_col(F.col("t")).alias("toks")).collect()]
    py = [fulltext.py_tokens(t) for t in texts]
    # tokens_col keeps only [a-z0-9] runs; py_tokens keeps alnum runs
    # (unicode letters). For the ascii corpus contract they agree.
    assert jvm[:3] == py[:3] and jvm[4] == py[4]


def test_corpus_dedup_large_ids(spark):
    # %019d padding: lexicographic min == numeric min past 10^12
    from kgspark import datapipe as dp
    big = 10 ** 12
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [999999999999, big, big + 5],
        "text": ["same dup text here", "same dup text here",
                 "totally different content"]}))
    out = {r["doc_id"]: r["canonical_id"]
           for r in dp.corpus_dedup(docs).collect()}
    assert out[999999999999] == 999999999999
    assert out[big] == 999999999999  # numeric min, not lexicographic
    assert out[big + 5] == big + 5


def test_fulltext_terms_interior_operator_letters():
    # terms come from the raw query: sanitize-then-tokenize fragmented
    # words around escaped O/R/N/T/A/D letters ('NASA' -> ['n','as','a'])
    # and matched nothing against the corpus tokenizer (r2 review finding)
    assert fulltext.fulltext_terms("NASA Report") == ["nasa", "report"]
    assert fulltext.fulltext_terms("McDonald") == ["mcdonald"]
    assert fulltext.fulltext_terms("scan join filter") == ["scan", "join", "filter"]


def test_fulltext_search_empty_query(spark):
    # empty/whitespace query -> zero rows, same guard as bm25_search
    df = spark.createDataFrame([("u1", "some text", "g")],
                               "uuid string, text string, group_id string")
    assert search.fulltext_search(df, "text", "").count() == 0
    assert search.fulltext_search(df, "text", "   ").count() == 0


def test_dynamic_custom_type_never_merges(spark):
    # EntityType(dynamic=True): instances of a custom event-like type keep
    # the DynamicEvent never-merge invariant and chain via PREVIOUS_INSTANCE
    from kgspark.pipeline import build_graph

    rows = [("http://a", "g", datetime(2024, 1, 5),
             b"<p>Outage 2024-01-05 hits Glowco.</p>",
             "Outage 2024-01-05 hits Glowco.", "en"),
            ("http://b", "g", datetime(2024, 1, 6),
             b"<p>Outage 2024-01-06 hits Glowco.</p>",
             "Outage 2024-01-06 hits Glowco.", "en")]
    pages = spark.createDataFrame(
        rows, "url string, group_id string, warc_ts timestamp, html binary, "
              "text string, lang string")
    registry = EntityTypeRegistry(types=(
        EntityType(name="ServiceEvent", keywords=("Outage",), dynamic=True),))
    out = build_graph(pages, check_text=False, compute_embeddings=False,
                      entity_types=registry)
    events = out["nodes"].filter(F.array_contains("labels", "ServiceEvent")).collect()
    assert len(events) == 2, "dynamic instances must never merge"
    chains = out["previous_instance_edges"].collect()
    assert len(chains) == 1 and chains[0]["name"] == "PREVIOUS_INSTANCE"


def test_add_triplets_sql_norm_fact_parity():
    # the DuckDB twin of triplets.add_triplets must strip date phrases from
    # the fact exactly like textcore.normalize_fact (r2 review finding)
    import duckdb
    from kgspark import textcore as tc
    from kgspark.kg_oracle import _norm_fact

    con = duckdb.connect()
    samples = [
        "Bo Chen works for Glowco since March 5, 2024",
        "Ana Ruiz lives in Lima City on 2024-06-01",
        "plain fact, no dates!",
        "seen yesterday near the plant",
        "from January 1, 2020 to 2021-02-03 tenure at Initech",
    ]
    for s in samples:
        sql = con.execute(f"SELECT {_norm_fact('?')}", [s]).fetchone()[0]
        assert sql == tc.normalize_fact(s), s


def test_merge_upsert_group_move_purges_stale_row(spark, tmp_path):
    # a key whose group_id changed must not leave a stale duplicate behind
    # in its old partition (r2 review finding)
    base = str(tmp_path / "store")
    df1 = spark.createDataFrame(pd.DataFrame(
        [("u1", "g1", "old"), ("u2", "g1", "keep")],
        columns=["uuid", "group_id", "payload"]))
    io.merge_upsert(spark, base, "nodes", df1)
    df2 = spark.createDataFrame(pd.DataFrame(
        [("u1", "g2", "moved")], columns=["uuid", "group_id", "payload"]))
    io.merge_upsert(spark, base, "nodes", df2)
    rows = io.read_table(spark, base, "nodes").collect()
    got = {(r["uuid"], r["group_id"]): r["payload"] for r in rows}
    assert got == {("u1", "g2"): "moved", ("u2", "g1"): "keep"}
    assert len(rows) == 2  # no stale (u1, g1) duplicate


def test_delete_group_passes_through_tables_without_group_id(spark):
    from kgspark import maintenance
    withg = spark.createDataFrame(pd.DataFrame(
        [("a", "g1"), ("b", "g2")], columns=["uuid", "group_id"]))
    nog = spark.createDataFrame(pd.DataFrame(
        [("a", "c")], columns=["uuid", "canonical_uuid"]))
    out = maintenance.delete_group({"nodes": withg, "alias_map": nog}, "g1")
    assert set(out) == {"nodes", "alias_map"}
    assert [r["uuid"] for r in out["nodes"].collect()] == ["b"]
    assert out["alias_map"].count() == 1


def test_merge_upsert_recovers_interrupted_swap(spark, tmp_path):
    # r2 ADVICE (medium): a crash mid-swap leaves merged partitions in the
    # staging dir + a SWAP journal; re-running merge_upsert must FINISH the
    # interrupted swap (not rmtree the staging and recompute from a table
    # whose touched partitions were already deleted, losing the kept rows).
    import json
    import shutil
    from pathlib import Path

    base = str(tmp_path / "store")
    df1 = spark.createDataFrame(pd.DataFrame(
        [("u1", "g0", "one"), ("u2", "g0", "two"), ("u3", "g1", "three")],
        columns=["uuid", "group_id", "payload"]))
    io.merge_upsert(spark, base, "nodes", df1)
    # hand-craft the mid-swap crash state for a merge of (u2->TWO, +u4 in g0):
    # staging holds merged g0, journal written, old g0 ALREADY DELETED,
    # rename never happened — the hardest recovery point.
    merged_g0 = spark.createDataFrame(pd.DataFrame(
        [("u1", "g0", "one"), ("u2", "g0", "TWO"), ("u4", "g0", "four")],
        columns=["uuid", "group_id", "payload"]))
    staging = Path(base) / ".nodes.merge.staging"
    merged_g0.write.mode("overwrite").partitionBy("group_id").parquet(str(staging))
    staged = sorted(d.name for d in staging.glob("group_id=*"))
    assert staged == ["group_id=g0"]
    (Path(base) / ".nodes.merge.SWAP").write_text(
        json.dumps({"staged_dirs": staged, "empty_groups": []}))
    shutil.rmtree(Path(base) / "nodes" / "group_id=g0")  # the crash window
    # ANY subsequent merge first finishes the swap, then applies itself
    df3 = spark.createDataFrame(pd.DataFrame(
        [("u3", "g1", "THREE")], columns=["uuid", "group_id", "payload"]))
    io.merge_upsert(spark, base, "nodes", df3)
    got = {r["uuid"]: r["payload"]
           for r in io.read_table(spark, base, "nodes").collect()}
    assert got == {"u1": "one", "u2": "TWO", "u3": "THREE", "u4": "four"}
    assert not (Path(base) / ".nodes.merge.SWAP").exists()
    assert not staging.exists()


def test_merge_upsert_null_group_id(spark, tmp_path):
    # r2 ADVICE (low): null group_id stages under __HIVE_DEFAULT_PARTITION__;
    # the swap and the stale-partition purge must both match it.
    from pyspark.sql.types import StringType, StructField, StructType

    base = str(tmp_path / "store")
    schema = StructType([StructField("uuid", StringType()),
                         StructField("group_id", StringType()),
                         StructField("payload", StringType())])
    df1 = spark.createDataFrame(
        [("u1", None, "one"), ("u2", "g1", "two")], schema)
    io.merge_upsert(spark, base, "nodes", df1)
    # update the null-partition row in place
    df2 = spark.createDataFrame([("u1", None, "ONE")], schema)
    io.merge_upsert(spark, base, "nodes", df2)
    rows = io.read_table(spark, base, "nodes").collect()
    got = {(r["uuid"], r["group_id"]): r["payload"] for r in rows}
    assert got == {("u1", None): "ONE", ("u2", "g1"): "two"}
    # move the null-partition row into a real group: no stale null-row left
    df3 = spark.createDataFrame([("u1", "g2", "moved")], schema)
    io.merge_upsert(spark, base, "nodes", df3)
    rows = io.read_table(spark, base, "nodes").collect()
    got = {(r["uuid"], r["group_id"]): r["payload"] for r in rows}
    assert got == {("u1", "g2"): "moved", ("u2", "g1"): "two"}


def test_has_extraction_gating():
    # static-schema-only registries do no content work on text-only
    # corpora — the pipeline must skip the whole attribute aggregation
    # (and the per-page extract_attributes calls) for them
    from kgspark.entity_types import has_extraction
    static_only = EntityTypeRegistry((EntityType(
        "Creator", suffixes=("Sharma",), attributes=(("tier", "std"),)),))
    assert not has_extraction(static_only, json_possible=False)
    assert has_extraction(static_only, json_possible=True)  # json can fill
    patterned = EntityTypeRegistry((EntityType(
        "Creator", suffixes=("Sharma",),
        extract=(("hq", r"{name} hq in (\w+)"),)),))
    assert has_extraction(patterned, json_possible=False)
    assert not has_extraction(None)
    assert not has_extraction(EntityTypeRegistry(()))


def test_attribute_values_extracted_from_content(spark):
    # round-3: attribute VALUES come from episode content (deterministic
    # analog of the dynamic Pydantic fill, node_operations.py:303-358), not
    # just static schema defaults. The value below appears ONLY in page
    # text; the pattern template fills it and it overrides the default.
    from datetime import datetime as dt

    from kgspark.pipeline import build_graph

    registry = EntityTypeRegistry(types=(
        EntityType(name="Metro", suffixes=("City",),
                   attributes=(("country", "unknown"), ("tier", "metro")),
                   extract=(("country", r"{name} is located in ([A-Z][a-z]+)"),)),
    ))
    html1 = (b"<html><body><p>Ana Ruiz lives in Quito City.</p>"
             b"<p>Quito City is located in Ecuador.</p></body></html>")
    html2 = b"<html><body><p>Bo Chen lives in Lima City.</p></body></html>"
    from kgspark.textcore import html_to_text
    pages = spark.createDataFrame(pd.DataFrame([
        ("u1", dt(2024, 1, 1), bytearray(html1),
         html_to_text(html1), "en", "g0", "text"),
        ("u2", dt(2024, 2, 1), bytearray(html2),
         html_to_text(html2), "en", "g0", "text"),
    ], columns=["url", "warc_ts", "html", "text", "lang", "group_id",
                "source"]))
    out = build_graph(pages, BATCH_TS, check_text=False,
                      compute_embeddings=False, entity_types=registry)
    attrs = {r["name"]: r["attributes"] for r in
             out["nodes"].filter(F.array_contains("labels", "Metro")).collect()}
    assert attrs["Quito City"]["country"] == "Ecuador"  # from content
    assert attrs["Quito City"]["tier"] == "metro"       # default kept
    assert attrs["Lima City"]["country"] == "unknown"   # no match -> default


def test_attribute_values_filled_from_json_payload(spark):
    # JSON episodes fill DECLARED attribute names of the subject entity from
    # same-named scalar payload fields (prompts/extract_nodes.py:131 rule)
    from datetime import datetime as dt

    from kgspark.pipeline import build_graph
    from kgspark.textcore import html_to_text

    registry = EntityTypeRegistry(types=(
        EntityType(name="Creator", pattern=r"[A-Z][a-z]+ [A-Z][a-z]+",
                   attributes=(("status", "unknown"), ("followers", "0"))),
    ))
    payload = ('{"name": "Priya Sharma", "likes": "Glowco", '
               '"status": "active", "followers": 1200, "noise": "x"}')
    html = f"<html><body><p>{payload}</p></body></html>".encode()
    pages = spark.createDataFrame(pd.DataFrame([
        ("u1", dt(2024, 1, 1), bytearray(html), html_to_text(html),
         "en", "g0", "json"),
    ], columns=["url", "warc_ts", "html", "text", "lang", "group_id",
                "source"]))
    out = build_graph(pages, BATCH_TS, check_text=False,
                      compute_embeddings=False, entity_types=registry)
    node = out["nodes"].filter(F.col("name") == "Priya Sharma").collect()[0]
    assert node["attributes"]["status"] == "active"
    assert node["attributes"]["followers"] == "1200"
    # undeclared payload keys never leak into attributes
    assert "noise" not in node["attributes"]


def test_update_community_resummarizes(spark):
    # round-3: incremental attach must REGENERATE the affected community's
    # name/summary (update_community, community_operations.py:390-448), and
    # the regenerated row must equal a batch rebuild's row when the batch
    # LP lands the new node in the same community.
    edges_old = _toy_graph(spark)
    labels = communities.label_propagation(communities.adjacency(edges_old))
    # new node n7 joins the n1-n2-n3 triangle with two edges
    extra = spark.createDataFrame(pd.DataFrame(
        [("g", "n7", "n1"), ("g", "n7", "n2")],
        columns=["group_id", "source_node_uuid", "target_node_uuid"]))
    edges_new = edges_old.unionByName(extra)
    nodes = (edges_new.select(F.col("source_node_uuid").alias("uuid"))
             .union(edges_new.select("target_node_uuid"))
             .distinct()
             .select("uuid", F.col("uuid").alias("name"), F.lit("g").alias("group_id")))

    inc = communities.update_community(
        nodes, labels, communities.adjacency(edges_new))
    inc_rows = {r["uuid"]: r for r in inc["communities"].collect()}
    assert inc_rows, "attach must affect at least one community"

    batch_old = {r["uuid"]: r for r in communities.build_communities(
        nodes, edges_old)["communities"].collect()}
    batch_new = {r["uuid"]: r for r in communities.build_communities(
        nodes, edges_new)["communities"].collect()}
    for cu, row in inc_rows.items():
        # identical to the batch rebuild's regenerated row...
        assert row["summary"] == batch_new[cu]["summary"]
        assert row["name"] == batch_new[cu]["name"]
        assert row["n_members"] == batch_new[cu]["n_members"]
        # ...and genuinely re-summarized (n7 now in the member list)
        assert row["summary"] != batch_old[cu]["summary"]
        assert "n7" in row["summary"]
    # updated labels = old labels + the attached node only
    lbl = {r["uuid"]: r["community_id"] for r in inc["labels"].collect()}
    old = {r["uuid"]: r["community_id"] for r in labels.collect()}
    assert set(lbl) == set(old) | {"n7"}
    assert all(lbl[k] == v for k, v in old.items())


def test_update_community_cascade_and_unassigned(spark):
    # a new node whose only labeled path runs through ANOTHER new node
    # attaches on a later pass (arrival-order analog of the reference's
    # one-entity-at-a-time update_community), and a co-arriving cluster
    # with NO path to any labeled node is surfaced as `unassigned` — the
    # reference skips exactly these (community_operations.py:396-401)
    # rather than attaching them, so they must not vanish silently.
    edges_old = _toy_graph(spark)
    labels = communities.label_propagation(communities.adjacency(edges_old))
    extra = spark.createDataFrame(pd.DataFrame(
        [("g", "n7", "n1"),    # n7: labeled neighbor -> attaches pass 1
         ("g", "n8", "n7"),    # n8: only new neighbor n7 -> attaches pass 2
         ("g", "n9", "n10")],  # isolated new pair -> unassigned
        columns=["group_id", "source_node_uuid", "target_node_uuid"]))
    edges_new = edges_old.unionByName(extra)
    nodes = (edges_new.select(F.col("source_node_uuid").alias("uuid"))
             .union(edges_new.select("target_node_uuid"))
             .distinct()
             .select("uuid", F.col("uuid").alias("name"),
                     F.lit("g").alias("group_id")))
    inc = communities.update_community(
        nodes, labels, communities.adjacency(edges_new))
    lbl = {r["uuid"]: r["community_id"] for r in inc["labels"].collect()}
    old = {r["uuid"]: r["community_id"] for r in labels.collect()}
    assert "n7" in lbl and lbl["n7"] == old["n1"]
    assert "n8" in lbl and lbl["n8"] == lbl["n7"]  # cascaded through n7
    assert all(lbl[k] == v for k, v in old.items())  # old labels untouched
    unassigned = {r["uuid"] for r in inc["unassigned"].collect()}
    assert unassigned == {"n9", "n10"}


def test_resolve_unassigned_matches_batch(spark):
    # the targeted rebuild for unassigned co-arriving clusters must emit
    # community rows IDENTICAL to a whole-graph batch rebuild (LP over the
    # unassigned-only subgraph IS their full component), at cost
    # proportional to the leftover set
    edges_old = _toy_graph(spark)
    labels = communities.label_propagation(communities.adjacency(edges_old))
    extra = spark.createDataFrame(pd.DataFrame(
        [("g", "n9", "n10"), ("g", "n10", "n11"), ("g", "n9", "n11")],
        columns=["group_id", "source_node_uuid", "target_node_uuid"]))
    edges_new = edges_old.unionByName(extra)
    nodes = (edges_new.select(F.col("source_node_uuid").alias("uuid"))
             .union(edges_new.select("target_node_uuid"))
             .distinct()
             .select("uuid", F.col("uuid").alias("name"),
                     F.lit("g").alias("group_id")))
    adj = communities.adjacency(edges_new)
    inc = communities.update_community(nodes, labels, adj)
    assert {r["uuid"] for r in inc["unassigned"].collect()} == \
        {"n9", "n10", "n11"}
    res = communities.resolve_unassigned(
        nodes, inc["labels"], adj, inc["unassigned"])
    batch = {r["uuid"]: r for r in communities.build_communities(
        nodes, edges_new)["communities"].collect()}
    got = {r["uuid"]: r for r in res["communities"].collect()}
    assert got, "the new cluster must materialize"
    for cu, row in got.items():
        assert row["summary"] == batch[cu]["summary"]
        assert row["name"] == batch[cu]["name"]
        assert row["n_members"] == batch[cu]["n_members"]
    # full vertex coverage after resolution: nobody is left unlabeled
    assert {r["uuid"] for r in res["labels"].collect()} == \
        {r["uuid"] for r in
         adj.select(F.col("a").alias("uuid")).distinct().collect()}


def test_hf_cross_scorer_env_gated():
    # the real-model factory raises a descriptive ImportError here (no model
    # runtime in-sandbox) and the hook signature stays pluggable
    scorer = fulltext.hf_cross_scorer()
    with pytest.raises(ImportError, match="sentence-transformers"):
        scorer(pd.Series(["passage"]), "query")


def test_raw_episodes_bulk_ingest(spark):
    # add_episode_bulk analog (bulk_processor.py:53-64 RawEpisode): callers
    # with pre-extracted content skip the html layer; EpisodeType flows
    # through the same dispatch as crawled pages
    from datetime import datetime as dt

    from kgspark.pipeline import build_graph, raw_episodes_to_pages
    eps = spark.createDataFrame(pd.DataFrame([
        ("ep1", "Priya Sharma likes Glowco.", "text", dt(2024, 1, 1), "g0"),
        ("ep2", "rahul_m: Priya Sharma dislikes Glowco", "message",
         dt(2024, 6, 1), "g0"),
        ("ep3", '{"name": "Priya Sharma", "works_for": "Nexco", '
                '"since": "2024-02-03"}', "json", dt(2024, 3, 1), "g0"),
    ], columns=["name", "content", "source", "reference_time", "group_id"]))
    out = build_graph(raw_episodes_to_pages(eps), BATCH_TS, check_text=False,
                      compute_embeddings=False)
    edges = {(r["name"], r["invalid_at"] is not None)
             for r in out["edges"].collect()}
    # LIKES (2024-01) contradicted by DISLIKES (2024-06); WORKS_FOR from the
    # json episode carries its explicit since-date
    assert ("LIKES", True) in edges and ("DISLIKES", False) in edges
    wf = [r for r in out["edges"].collect() if r["name"] == "WORKS_FOR"]
    assert wf and wf[0]["valid_at"] == dt(2024, 2, 3)
    # message speaker became a node
    assert out["nodes"].filter(F.col("name") == "rahul_m").count() == 1
    srcs = {r["uuid"]: r["source"] for r in out["episodes"].collect()}
    assert srcs == {"ep1": "text", "ep2": "message", "ep3": "json"}


def test_cross_encoder_rank_contract(spark):
    """Port of the reference CrossEncoderClient.rank contract tests
    (tests/cross_encoder/test_bge_reranker_client.py:31-83): full-length
    output, float scores, descending order; empty input -> empty; single
    passage -> that passage with a float score."""
    from kgspark.fulltext import cross_encoder_rerank
    query = "What is the capital of France?"
    passages = [
        ("1", "Paris is the capital and most populous city of France."),
        ("2", "London is the capital city of England and the United Kingdom."),
        ("3", "Berlin is the capital and largest city of Germany."),
    ]
    df = spark.createDataFrame(passages, "uuid string, fact string")
    got = cross_encoder_rerank(df, "fact", query, id_col="uuid").collect()
    assert len(got) == len(passages)
    scores = [r["ce_score"] for r in got]
    assert all(isinstance(s, float) for s in scores)
    assert scores == sorted(scores, reverse=True)
    # the France passage shares the most query tokens -> ranks first
    assert got[0]["uuid"] == "1"
    # empty input
    empty = df.limit(0)
    assert cross_encoder_rerank(empty, "fact", "Empty test").collect() == []
    # single passage
    one = spark.createDataFrame([("9", "Single test passage")],
                                "uuid string, fact string")
    res = cross_encoder_rerank(one, "fact", "Test query").collect()
    assert len(res) == 1 and res[0]["uuid"] == "9"
    assert isinstance(res[0]["ce_score"], float)

def test_entity_community_weights_parallel_edges(spark):
    # ADVICE r3: the reference's determine_entity_community counts per
    # RELATES_TO relationship — 3 parallel edges to one community-A
    # neighbor must outvote 2 distinct community-B neighbors
    adj = spark.createDataFrame(pd.DataFrame(
        [("g", "x", "a1", 3), ("g", "x", "b1", 1), ("g", "x", "b2", 1)],
        columns=["group_id", "a", "b", "weight"]),
        schema="group_id string, a string, b string, weight long")
    labels = spark.createDataFrame(pd.DataFrame(
        [("g", "a1", "cA"), ("g", "b1", "cB"), ("g", "b2", "cB")],
        columns=["group_id", "uuid", "community_id"]))
    got = {r["uuid"]: r["community_id"]
           for r in communities.entity_community(labels, adj).collect()}
    assert got["x"] == "cA"


def test_resolve_unassigned_attaches_truncated_chains(spark):
    # ADVICE r3: when update_community's cascade is truncated by max_rounds
    # mid-chain, the leftover nodes still reach labeled nodes;
    # resolve_unassigned must ATTACH them to their true community, not mint
    # a new one (which would diverge from a batch rebuild)
    edges_old = _toy_graph(spark)
    labels = communities.label_propagation(communities.adjacency(edges_old))
    chain = [("g", "m1", "n1"), ("g", "m2", "m1"), ("g", "m3", "m2"),
             ("g", "m4", "m3"), ("g", "m5", "m4")]
    edges_new = edges_old.unionByName(spark.createDataFrame(pd.DataFrame(
        chain, columns=["group_id", "source_node_uuid", "target_node_uuid"])))
    nodes = (edges_new.select(F.col("source_node_uuid").alias("uuid"))
             .union(edges_new.select("target_node_uuid"))
             .distinct()
             .select("uuid", F.col("uuid").alias("name"),
                     F.lit("g").alias("group_id")))
    adj = communities.adjacency(edges_new)
    inc = communities.update_community(nodes, labels, adj, max_rounds=2)
    assert {r["uuid"] for r in inc["unassigned"].collect()} == \
        {"m3", "m4", "m5"}  # truncated, NOT isolated
    res = communities.resolve_unassigned(
        nodes, inc["labels"], adj, inc["unassigned"])
    lbl = {r["uuid"]: r["community_id"] for r in res["labels"].collect()}
    full = {r["uuid"]: r["community_id"]
            for r in communities.update_community(
                nodes, labels, adj, max_rounds=10)["labels"].collect()}
    assert lbl == full  # equals the untruncated cascade
    n1_comm = {r["uuid"]: r["community_id"]
               for r in labels.collect()}["n1"]
    assert lbl["m5"] == n1_comm  # joined the real community, no new mint

def test_bm25_indexed_matches_scan(spark, tmp_path):
    # the persisted-index path must reproduce bm25_search to float
    # precision: same formula over the same corpus, stats paid once at
    # build instead of per query (VERDICT r3 missing #1)
    docs = [(i, f"doc {i} " + " ".join(
        ["join"] * (i % 4) + ["shuffle"] * (i % 3) + ["scan"] * (i % 5)
        + [f"w{i % 7}", f"w{i % 11}"])) for i in range(1, 60)]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["uuid", "fact"]))
    path = str(tmp_path / "ftidx")
    fulltext.build_fulltext_index(df, "fact", path, num_buckets=16)
    for q in ("join shuffle", "scan w3", "absentterm", "doc"):
        scan = {r["uuid"]: r["score"] for r in
                fulltext.bm25_search(df, "fact", q, limit=50).collect()}
        idx = {r["uuid"]: r["score"] for r in
               fulltext.bm25_query_indexed(spark, path, q, limit=50).collect()}
        assert set(idx) == set(scan), q
        for k in scan:
            assert idx[k] == pytest.approx(scan[k], abs=1e-12), (q, k)
    # empty query -> zero rows, schema preserved
    assert fulltext.bm25_query_indexed(spark, path, "  ").count() == 0


def test_bm25_indexed_prunes_partitions(spark, tmp_path):
    # the read side must touch ONLY the query terms' term buckets (the
    # whole point of the index) — assert the bucket predicate is pushed
    # into the parquet scan, where row-group statistics skip the rest
    from tests.test_datapipe import _pushed
    docs = [(i, f"alpha beta gamma t{i}") for i in range(40)]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["uuid", "fact"]))
    path = str(tmp_path / "ftidx2")
    fulltext.build_fulltext_index(df, "fact", path, num_buckets=16)
    plan = (fulltext.bm25_query_indexed(spark, path, "alpha", limit=5)
            ._jdf.queryExecution().executedPlan().toString())
    assert _pushed(plan, "term_bucket"), plan
    # bucketing is consistent driver/JVM side: the scanned rows are only
    # the probed bucket's terms
    b = fulltext.term_bucket("alpha", 16)
    got = (spark.read.parquet(path + "/postings")
           .filter(F.col("term_bucket") == b)
           .filter(F.col("term") == "alpha").count())
    assert got == 40


def test_bm25_indexed_group_filter(spark, tmp_path):
    # group_ids filters candidates with index-global stats (Lucene
    # semantics): only group-g0 docs come back
    docs = [(i, f"g{i % 2}", "common needle" if i % 2 == 0 else "common")
            for i in range(20)]
    df = spark.createDataFrame(
        pd.DataFrame(docs, columns=["uuid", "group_id", "fact"]))
    path = str(tmp_path / "ftidx3")
    fulltext.build_fulltext_index(df, "fact", path, num_buckets=8)
    out = fulltext.bm25_query_indexed(spark, path, "needle", limit=50,
                                      group_ids=["g0"]).collect()
    assert {r["uuid"] % 2 for r in out} == {0} and len(out) == 10
