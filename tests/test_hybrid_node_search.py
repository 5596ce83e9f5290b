"""hybrid_node_search parity — ported from the reference suite
/root/reference/tests/utils/search/search_utils_test.py:11-170.

The reference tests mock node_fulltext_search / node_similarity_search and
assert the orchestration semantics: per-method limit of 2*limit, union,
dedup by uuid, no global limit, and similarity skipped when embeddings is
empty. Here the same five scenarios run against the REAL Spark search
functions over planted node tables, so both the orchestration and the
underlying searches are exercised.
"""
from pyspark.sql import types as T

from kgspark.search import hybrid_node_search
from kgspark.textcore import hash_embedding

_SCHEMA = T.StructType([
    T.StructField("uuid", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("group_id", T.StringType()),
    T.StructField("name_embedding", T.ArrayType(T.DoubleType())),
])


def _nodes(spark, rows):
    return spark.createDataFrame(
        [(u, n, g, [float(x) for x in e]) for u, n, g, e in rows], _SCHEMA)


def test_hybrid_node_search_deduplication(spark):
    """search_utils_test.py:11-44: fulltext hits {Alice, Bob}, similarity
    hits {Alice, Charlie} -> 3 unique nodes."""
    nodes = _nodes(spark, [
        ("1", "Alice", "1", hash_embedding("Alice")),
        ("2", "Bob", "1", hash_embedding("Bob")),
        ("3", "Charlie", "1", hash_embedding("Charlie")),
    ])
    got = hybrid_node_search(
        nodes, ["Alice", "Bob"],
        [hash_embedding("Alice"), hash_embedding("Charlie")]).collect()
    assert len(got) == 3
    assert {r["uuid"] for r in got} == {"1", "2", "3"}
    assert {r["name"] for r in got} == {"Alice", "Bob", "Charlie"}


def test_hybrid_node_search_empty_results(spark):
    """search_utils_test.py:47-63."""
    nodes = _nodes(spark, [("1", "Alice", "1", hash_embedding("Alice"))])
    got = hybrid_node_search(nodes, ["NonExistent"],
                             [hash_embedding("NonExistent")]).collect()
    assert got == []


def test_hybrid_node_search_only_fulltext(spark):
    """search_utils_test.py:66-87: empty embeddings list -> fulltext only."""
    nodes = _nodes(spark, [
        ("1", "Alice", "1", hash_embedding("Alice")),
        ("2", "Bob", "1", hash_embedding("Bob")),
    ])
    got = hybrid_node_search(nodes, ["Alice"], []).collect()
    assert len(got) == 1
    assert got[0]["name"] == "Alice"


def test_hybrid_node_search_with_limit(spark):
    """search_utils_test.py:90-130: limit=1 means 2 per method BEFORE
    dedup and NO global limit -> 4 results from disjoint method hits."""
    qvec = hash_embedding("simquery")
    nodes = _nodes(spark, [
        # three fulltext matches for 'Test' — per-method cap 2 keeps 2
        ("1", "Test Alpha", "1", hash_embedding("Test Alpha")),
        ("2", "Test Beta", "1", hash_embedding("Test Beta")),
        ("3", "Test Gamma", "1", hash_embedding("Test Gamma")),
        # three exact-embedding matches — per-method cap 2 keeps 2
        ("4", "Delta", "1", qvec),
        ("5", "Epsilon", "1", qvec),
        ("6", "Zeta", "1", qvec),
    ])
    got = hybrid_node_search(nodes, ["Test"], [qvec],
                             group_ids=["1"], limit=1).collect()
    assert len(got) == 4  # 2 fulltext + 2 similarity, no overlap


def test_hybrid_node_search_with_limit_and_duplicates(spark):
    """search_utils_test.py:133-170: fulltext {Alice, Bob} + similarity
    {Alice, Charlie} at limit=2 -> 3 after uuid dedup."""
    qvec = hash_embedding("simquery")
    nodes = _nodes(spark, [
        ("1", "Alice Test", "1", qvec),              # hit by BOTH methods
        ("2", "Bob Test", "1", hash_embedding("Bob Test")),
        ("3", "Charlie", "1", qvec),
    ])
    got = hybrid_node_search(nodes, ["Test"], [qvec],
                             group_ids=["1"], limit=2).collect()
    assert len(got) == 3
    assert {r["name"] for r in got} == {"Alice Test", "Bob Test", "Charlie"}


def _parity_nodes(spark):
    qvec = hash_embedding("simquery")
    return _nodes(spark, [
        ("1", "Test Alpha", "g1", hash_embedding("Test Alpha")),
        ("2", "Test Beta", "g1", hash_embedding("Test Beta")),
        ("3", "Test Gamma", "g2", hash_embedding("Test Gamma")),
        ("4", "Delta Test", "g2", qvec),
        ("5", "Epsilon", "g1", qvec),
        ("6", "Zeta Alpha", "g2", qvec),
    ])


def test_hybrid_search_indexed_fulltext_parity(spark, tmp_path):
    """r4 verdict next #1: the orchestrator routed through the persisted
    BM25 postings index returns EXACTLY the scan-path results (scores are
    float-exact — test_bm25_indexed_matches_scan — so ranks and RRF fusion
    are identical)."""
    from kgspark import fulltext, search as ks
    nodes = _parity_nodes(spark)
    idx = str(tmp_path / "ftidx")
    fulltext.build_fulltext_index(nodes, "name", idx, num_buckets=8)
    for q in ("Test Alpha", "epsilon", "alpha beta gamma"):
        scan = ks.hybrid_search(nodes, "name", "name_embedding", q).collect()
        indexed = ks.hybrid_search(nodes, "name", "name_embedding", q,
                                   fulltext_index_path=idx).collect()
        assert indexed == scan, q
    # the index scores BM25 only: a config asking for another fulltext
    # method is refused, not silently answered with BM25
    import dataclasses

    import pytest
    tf_config = dataclasses.replace(ks.EDGE_HYBRID_SEARCH_RRF,
                                    fulltext_method="tf")
    with pytest.raises(ValueError, match="fulltext_method is 'tf'"):
        ks.hybrid_search(nodes, "name", "name_embedding", "epsilon",
                         config=tf_config, fulltext_index_path=idx)


def test_hybrid_node_search_indexed_fulltext_parity(spark, tmp_path):
    from kgspark import fulltext
    nodes = _parity_nodes(spark)
    idx = str(tmp_path / "ftidx2")
    fulltext.build_fulltext_index(nodes, "name", idx, num_buckets=8)
    queries = ["Test", "Alpha Zeta"]
    embs = [hash_embedding("simquery")]
    scan = hybrid_node_search(nodes, queries, embs, limit=2).collect()
    indexed = hybrid_node_search(nodes, queries, embs, limit=2,
                                 fulltext_index_path=idx).collect()
    assert indexed == scan


def test_hybrid_search_indexed_group_filter_parity(spark, tmp_path):
    # group-filtered orchestrator through the index: the per-group stats
    # (r5) make the indexed fulltext leg reproduce the scan path's
    # filter-local scoring exactly, so the whole hybrid result matches
    from kgspark import fulltext, search as ks
    nodes = _parity_nodes(spark)
    idx = str(tmp_path / "ftidxg")
    fulltext.build_fulltext_index(nodes, "name", idx, num_buckets=8)
    for gids in (["g1"], ["g2"], ["g1", "g2"]):
        scan = ks.hybrid_search(nodes, "name", "name_embedding", "Test",
                                group_ids=gids).collect()
        indexed = ks.hybrid_search(nodes, "name", "name_embedding", "Test",
                                   group_ids=gids,
                                   fulltext_index_path=idx).collect()
        assert indexed == scan, gids
        got = hybrid_node_search(nodes, ["Test"],
                                 [hash_embedding("simquery")],
                                 group_ids=gids, limit=2,
                                 fulltext_index_path=idx).collect()
        want = hybrid_node_search(nodes, ["Test"],
                                  [hash_embedding("simquery")],
                                  group_ids=gids, limit=2).collect()
        assert got == want, gids
