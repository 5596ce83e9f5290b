"""Read-side search/retrieval operators over the graph tables.

DataFrame restatements of /root/reference/graphiti_core/search/
search_utils.py and search/search.py: BM25-style fulltext scoring, cosine
similarity search, BFS traversal, RRF fusion, MMR, node-distance and
mention-count rerankers, and the hybrid orchestrator (bm25 ∪ cosine → RRF →
reranker), configured by lightweight recipes (search_config_recipes.py:31-202
analog).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kgspark import udfs

DEFAULT_MIN_SCORE = 0.6   # search_utils.py:50
DEFAULT_MMR_LAMBDA = 0.5  # search_utils.py:51
MAX_SEARCH_DEPTH = 3      # search_utils.py:52


# ---------------------------------------------------------------------------
# fulltext — edge_fulltext_search / node_fulltext_search
# (search_utils.py:143-194,329-373). The hybrid orchestrator scores with
# real Lucene-formula BM25 (kgspark/fulltext.py — IDF + length norm +
# lucene_sanitize); the TF-only scorer below is kept as the cheap
# "bm25-lite" variant.
# ---------------------------------------------------------------------------

from kgspark.fulltext import (  # noqa: E402  (re-exported operator surface)
    bm25_query_indexed,
    bm25_search,
    cross_encoder_rerank,
    fulltext_terms,
    lucene_sanitize,
    tokens_col as _tokens,
)


def fulltext_search(df: DataFrame, text_col: str, query: str,
                    limit: int = 20, group_ids: list[str] | None = None) -> DataFrame:
    # the ONE shared query tokenizer (kgspark/fulltext.py): a bare
    # whitespace split would keep punctuation ('works-for', 'glowco.')
    # that can never equal an alnum corpus token from tokens_col
    terms = fulltext_terms(query)
    if group_ids:
        df = df.filter(F.col("group_id").isin(group_ids))
    if not terms:  # same empty-query guard as bm25_search (schema-preserving)
        return df.withColumn("score", F.lit(0.0)).limit(0)
    toks = _tokens(F.col(text_col))
    score = None
    for t in terms:
        s = F.size(F.filter(toks, lambda x: x == F.lit(t)))
        score = s if score is None else score + s
    return (df.withColumn("score", score.cast("double"))
            .filter(F.col("score") > 0)
            .orderBy(F.desc("score"), "uuid")
            .limit(limit))


# ---------------------------------------------------------------------------
# cosine similarity — edge/node/community_similarity_search
# (search_utils.py:197-271,376-431,514-561)
# ---------------------------------------------------------------------------

def _cos(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                      lambda acc, v: acc + v)
    n1 = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0),
                            lambda acc, v: acc + v))
    n2 = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0),
                            lambda acc, v: acc + v))
    return dot / (n1 * n2)


def similarity_search(df: DataFrame, emb_col: str, query_vec: list[float],
                      limit: int = 20, min_score: float = DEFAULT_MIN_SCORE,
                      group_ids: list[str] | None = None) -> DataFrame:
    """Exact cosine top-k with score threshold. At 10^12 scale this is the
    rescore stage after LSH/IVF blocking (kgspark/datapipe.py ann_*)."""
    if group_ids:
        df = df.filter(F.col("group_id").isin(group_ids))
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    return (df.filter(F.col(emb_col).isNotNull())
            .withColumn("score", _cos(F.col(emb_col).cast("array<double>"), q))
            .filter(F.col("score") > min_score)
            .orderBy(F.desc("score"), "uuid")
            .limit(limit))


def search_text_query(query: str) -> list[float]:
    """Embed a query with the same deterministic embedder used for names and
    facts (EmbedderClient analog)."""
    from kgspark.textcore import hash_embedding
    return hash_embedding(query)


# ---------------------------------------------------------------------------
# BFS — edge_bfs_search / node_bfs_search (search_utils.py:274-326,434-475):
# depth <= 3, unrolled as chained self-joins (no loop at plan time)
# ---------------------------------------------------------------------------

def bfs_nodes(edges: DataFrame, origin_uuids: list[str],
              depth: int = MAX_SEARCH_DEPTH) -> DataFrame:
    """Nodes reachable from the origins in <= depth RELATES_TO hops, with
    their minimal hop distance."""
    spark = edges.sparkSession
    und = (edges.select(F.col("source_node_uuid").alias("a"),
                        F.col("target_node_uuid").alias("b"))
           .union(edges.select(F.col("target_node_uuid").alias("a"),
                               F.col("source_node_uuid").alias("b")))
           .distinct())
    frontier = spark.createDataFrame([(u,) for u in origin_uuids], "uuid string") \
        .withColumn("dist", F.lit(0))
    seen = frontier
    for d in range(1, depth + 1):
        nxt = (frontier.join(und, frontier["uuid"] == und["a"])
               .select(F.col("b").alias("uuid"))
               .distinct()
               .join(seen.select("uuid"), "uuid", "left_anti")
               .withColumn("dist", F.lit(d)))
        seen = seen.union(nxt).localCheckpoint()
        frontier = nxt
    return seen.groupBy("uuid").agg(F.min("dist").alias("dist"))


# ---------------------------------------------------------------------------
# rerankers
# ---------------------------------------------------------------------------

def rrf(ranked: list[DataFrame], id_col: str = "uuid",
        limit: int | None = 20) -> DataFrame:
    """Reciprocal-rank fusion (search_utils.py:721-732): each input DF must
    already be ordered; score[uuid] += 1/(rank+1). ``limit=None`` keeps
    every fused row (hybrid_node_search semantics)."""
    parts = []
    for df in ranked:
        w = Window.orderBy(F.desc("score"), id_col) if "score" in df.columns \
            else Window.orderBy(id_col)
        parts.append(df.withColumn("rank", F.row_number().over(w))
                     .select(id_col, "rank"))
    u = parts[0]
    for p in parts[1:]:
        u = u.union(p)
    out = (u.groupBy(id_col)
           .agg(F.sum(1.0 / (F.col("rank") + 1)).alias("rrf_score"))
           .orderBy(F.desc("rrf_score"), id_col))
    return out if limit is None else out.limit(limit)


def mention_count_rerank(candidates: DataFrame, mentions: DataFrame,
                         limit: int = 20) -> DataFrame:
    """episode_mentions_reranker (search_utils.py:775-799)."""
    counts = mentions.groupBy("node_uuid").agg(F.count(F.lit(1)).alias("n_mentions"))
    return (candidates.join(counts, candidates["uuid"] == counts["node_uuid"], "left")
            .withColumn("n_mentions", F.coalesce("n_mentions", F.lit(0)))
            .drop("node_uuid")
            .orderBy(F.desc("n_mentions"), "uuid")
            .limit(limit))


def node_distance_rerank(candidates: DataFrame, edges: DataFrame,
                         center_uuid: str, limit: int = 20) -> DataFrame:
    """node_distance_reranker (search_utils.py:735-772): sort candidates by
    BFS hop distance from the center; unreachable last."""
    dists = bfs_nodes(edges, [center_uuid])
    return (candidates.join(dists, "uuid", "left")
            .withColumn("dist", F.coalesce("dist", F.lit(10 ** 9)))
            .orderBy("dist", "uuid")
            .limit(limit))


def mmr_rerank(candidates: DataFrame, emb_col: str, query_vec: list[float],
               lam: float = DEFAULT_MMR_LAMBDA, limit: int = 20) -> DataFrame:
    """Maximal marginal relevance (search_utils.py:802-815):
    lam*sim(query,c) - (1-lam)*max_sim(c, other candidates). Candidate sets
    are small (post-retrieval), so the pairwise cross-join is bounded."""
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    base = candidates.filter(F.col(emb_col).isNotNull()).select(
        "uuid", F.col(emb_col).cast("array<double>").alias("v"))
    with_q = base.withColumn("qsim", _cos(F.col("v"), q))
    other = base.select(F.col("uuid").alias("ouid"), F.col("v").alias("ov"))
    pair_max = (
        with_q.join(other, F.col("uuid") != F.col("ouid"))
        .withColumn("psim", _cos(F.col("v"), F.col("ov")))
        .groupBy("uuid").agg(F.max("psim").alias("max_other"))
    )
    return (with_q.join(pair_max, "uuid", "left")
            .withColumn("mmr", lam * F.col("qsim")
                        - (1 - lam) * F.coalesce("max_other", F.lit(0.0)))
            .select("uuid", "mmr")
            .orderBy(F.desc("mmr"), "uuid")
            .limit(limit))


# ---------------------------------------------------------------------------
# hybrid orchestrator — search/search.py:73-157 + recipes
# ---------------------------------------------------------------------------

@dataclass
class SearchConfig:
    """search_config.py:32-106 analog."""
    limit: int = 20
    min_score: float = DEFAULT_MIN_SCORE
    # rrf | mmr | mention_count | node_distance | cross_encoder
    reranker: str = "rrf"
    center_uuid: str | None = None
    mmr_lambda: float = DEFAULT_MMR_LAMBDA
    fulltext_method: str = "bm25"   # bm25 (Lucene formula) | tf (lite)


# Recipe presets (search_config_recipes.py:31-202 analog): the reference's
# 15 presets are the cross product of entity kind × reranker; entity kind is
# just which table you pass, so the reranker axis is what the configs carry.
EDGE_HYBRID_SEARCH_RRF = SearchConfig(reranker="rrf")
EDGE_HYBRID_SEARCH_MMR = SearchConfig(reranker="mmr")
EDGE_HYBRID_SEARCH_NODE_DISTANCE = SearchConfig(reranker="node_distance")
EDGE_HYBRID_SEARCH_EPISODE_MENTIONS = SearchConfig(reranker="mention_count")
NODE_HYBRID_SEARCH_RRF = SearchConfig(reranker="rrf")
NODE_HYBRID_SEARCH_MMR = SearchConfig(reranker="mmr")
NODE_HYBRID_SEARCH_NODE_DISTANCE = SearchConfig(reranker="node_distance")
NODE_HYBRID_SEARCH_EPISODE_MENTIONS = SearchConfig(reranker="mention_count")
COMMUNITY_HYBRID_SEARCH_RRF = SearchConfig(reranker="rrf")
COMMUNITY_HYBRID_SEARCH_MMR = SearchConfig(reranker="mmr")
COMBINED_HYBRID_SEARCH_RRF = SearchConfig(reranker="rrf")
# cross-encoder variants (search_config_recipes.py:66,122,167,196) — the
# scorer is a pluggable pandas-UDF hook (fulltext.cross_encoder_rerank)
EDGE_HYBRID_SEARCH_CROSS_ENCODER = SearchConfig(reranker="cross_encoder")
NODE_HYBRID_SEARCH_CROSS_ENCODER = SearchConfig(reranker="cross_encoder")
COMMUNITY_HYBRID_SEARCH_CROSS_ENCODER = SearchConfig(reranker="cross_encoder")
COMBINED_HYBRID_SEARCH_CROSS_ENCODER = SearchConfig(reranker="cross_encoder")


def priority_boost(results: DataFrame, edges: DataFrame, episodes: DataFrame,
                   priority_episode_filter: Column, boost: float = 0.2,
                   score_col: str = "rrf_score") -> DataFrame:
    """Fork-added post-RRF boost (search.py:268-314; channel set
    graphiti.py:492-494): +``boost`` when any provenance episode of the
    result's fact satisfies ``priority_episode_filter`` (e.g. a priority
    channel / human-authored episode — here any episode predicate over the
    episodes table, such as ``F.col('lang') == 'en'``)."""
    prio = (edges.select("uuid", F.explode("episodes").alias("ep"))
            .join(episodes.filter(priority_episode_filter)
                  .select(F.col("uuid").alias("ep")), "ep")
            .select("uuid").distinct()
            .withColumn("is_priority", F.lit(True)))
    return (results.join(prio, "uuid", "left")
            .withColumn(score_col,
                        F.when(F.col("is_priority"), F.col(score_col) + boost)
                        .otherwise(F.col(score_col)))
            .drop("is_priority")
            .orderBy(F.desc(score_col), "uuid"))


def episode_mention_sort(edges: DataFrame) -> DataFrame:
    """Final edge ordering by provenance count (search.py:356-358)."""
    return edges.orderBy(F.size("episodes").desc(), "uuid")


def episodes_by_mentions(edges: DataFrame, episodes: DataFrame,
                         limit: int = 10) -> DataFrame:
    """Edges→provenance-episodes reverse lookup (get_episodes_by_mentions,
    search_utils.py:76-88; default limit = RELEVANT_SCHEMA_LIMIT = 10):
    the episodes recorded in the given edges' ``episodes`` provenance
    arrays. The reference flattens the arrays in edge-list order and
    truncates before the uuid fetch; here the explode+distinct stays fully
    distributed and the limit takes a deterministic prefix (episode-uuid
    order) — the retrieved set is the same whenever limit covers it. The
    ≤limit id set broadcasts into the semi join, so the episode scan is the
    only corpus-sized side."""
    ep_ids = (edges.select(F.explode("episodes").alias("uuid"))
              .distinct().orderBy("uuid").limit(limit))
    return episodes.join(F.broadcast(ep_ids), "uuid", "left_semi")


def communities_by_nodes(node_uuids: list[str], communities: DataFrame,
                         community_members: DataFrame) -> DataFrame:
    """Nodes→communities lookup (get_communities_by_nodes,
    search_utils.py:118-140): DISTINCT community rows holding a HAS_MEMBER
    edge to any of the given nodes. The uuid list is a literal (it arrives
    from the caller, like the reference's ``$uuids`` parameter), so the
    members scan filters before its semi join and only the matching
    communities' rows come back — both joins stay id-keyed."""
    comm_ids = (community_members
                .filter(F.col("node_uuid").isin(node_uuids))
                .select(F.col("community_uuid").alias("uuid")).distinct())
    return communities.join(F.broadcast(comm_ids), "uuid", "left_semi")


def nodes_and_edges_by_episode(episode_uuids: list[str], episodes: DataFrame,
                               edges: DataFrame, mentions: DataFrame,
                               nodes: DataFrame) -> dict[str, DataFrame]:
    """Episode→graph lookup (get_nodes_and_edges_by_episode,
    graphiti.py:542-567; get_mentioned_nodes search_utils.py:91-115):
    the episodes' entity_edges + mentioned nodes, via array explode joins."""
    eps = episodes.filter(F.col("uuid").isin(episode_uuids))
    edge_ids = eps.select(F.explode("entity_edges").alias("uuid")).distinct()
    out_edges = edges.join(edge_ids, "uuid", "left_semi")
    node_ids = (mentions.filter(F.col("episode_uuid").isin(episode_uuids))
                .select(F.col("node_uuid").alias("uuid")).distinct())
    out_nodes = nodes.join(node_ids, "uuid", "left_semi")
    return {"edges": out_edges, "nodes": out_nodes}


def hybrid_search(df: DataFrame, text_col: str, emb_col: str, query: str,
                  config: SearchConfig = EDGE_HYBRID_SEARCH_RRF,
                  mentions: DataFrame | None = None,
                  edges: DataFrame | None = None,
                  group_ids: list[str] | None = None,
                  fulltext_index_path: str | None = None) -> DataFrame:
    """bm25 ∪ cosine → dedup-by-uuid → reranker (search.py:189-238 shape).

    ``fulltext_index_path``: route the fulltext leg through the PERSISTED
    BM25 postings index (``fulltext.bm25_query_indexed`` — reads only the
    query terms' ≤32 term buckets) instead of the scan-path
    ``bm25_search`` that re-aggregates the corpus per query. This is the
    reference's actual read-side shape — its search always runs against
    Lucene indexes built once (search_utils.py:143-194 over indexes from
    graph_data_operations.py:73-80). The caller owns index freshness: the
    index must cover exactly ``df[text_col]`` (same id space), maintained
    via ``update_fulltext_index``. Scores are float-exact vs the scan path
    (test_bm25_indexed_matches_scan), so results are identical. The index
    scores BM25 only, so a config with another ``fulltext_method`` raises
    ``ValueError``.

    Scores are rounded to 9 decimals before rank assignment so rankings are
    reproducible across engines (float sum order differs between Spark
    partial aggregation and single-process oracles)."""
    qv = search_text_query(query)
    if fulltext_index_path is not None:
        if config.fulltext_method != "bm25":
            raise ValueError(
                "hybrid_search: fulltext_index_path is a BM25 index, but "
                f"config.fulltext_method is {config.fulltext_method!r}")
        ft = bm25_query_indexed(df.sparkSession, fulltext_index_path, query,
                                config.limit * 2, group_ids)
    elif config.fulltext_method == "bm25":
        ft = bm25_search(df, text_col, query, config.limit * 2, group_ids)
    else:
        ft = fulltext_search(df, text_col, query, config.limit * 2, group_ids)
    ft = ft.withColumn("score", F.round("score", 9))
    sim = similarity_search(df, emb_col, qv, config.limit * 2,
                            config.min_score, group_ids)
    sim = sim.withColumn("score", F.round("score", 9))
    if config.reranker == "rrf":
        return rrf([ft, sim], limit=config.limit)
    merged = (ft.select("uuid").union(sim.select("uuid")).distinct()
              .join(df, "uuid"))
    if config.reranker == "cross_encoder":
        return cross_encoder_rerank(merged, text_col, query, limit=config.limit)
    if config.reranker == "mmr":
        return mmr_rerank(merged, emb_col, qv, config.mmr_lambda, config.limit)
    if config.reranker == "mention_count":
        assert mentions is not None
        return mention_count_rerank(merged.select("uuid"), mentions, config.limit)
    if config.reranker == "node_distance":
        assert edges is not None and config.center_uuid
        return node_distance_rerank(merged.select("uuid"), edges,
                                    config.center_uuid, config.limit)
    raise ValueError(config.reranker)


RELEVANT_SCHEMA_LIMIT = 10  # search_utils.py:49


def hybrid_node_search(nodes: DataFrame, queries: list[str],
                       embeddings: list[list[float]] | None = None,
                       group_ids: list[str] | None = None,
                       limit: int = RELEVANT_SCHEMA_LIMIT,
                       text_col: str = "name",
                       emb_col: str = "name_embedding",
                       fulltext_index_path: str | None = None) -> DataFrame:
    """Batch hybrid node lookup (hybrid_node_search, search_utils.py:564-631;
    semantics pinned by tests/utils/search/search_utils_test.py:11-170):
    one fulltext search per query PLUS one similarity search per embedding —
    each capped at ``2 * limit`` exactly as :614-618 does — fused with RRF
    and deduplicated by uuid. NO global limit is applied afterwards: the
    reference returns every deduped hit (its limit test asserts 4 results
    at limit=1), and an empty ``embeddings`` list means fulltext only.

    Returns full node rows ordered by fused rank (``rrf_score`` column
    appended).

    Scale shape: each per-query search is an independent top-k subtree over
    the nodes table, unioned by Catalyst — right for the small driver-side
    batches this API serves (dedup-resolution context lookups, <10 queries).
    Corpus-scale candidate generation goes through the LSH/IVF indexes in
    kgspark/datapipe.py instead.

    ``fulltext_index_path``: run every fulltext leg against the persisted
    BM25 postings index over the nodes table (same semantics and float-exact
    scores as the default scan path — see hybrid_search); each per-query leg
    then reads only its terms' postings buckets instead of
    re-aggregating the node corpus per query.
    """
    if fulltext_index_path is not None:
        ranked = [bm25_query_indexed(nodes.sparkSession, fulltext_index_path,
                                     q, 2 * limit, group_ids)
                  for q in queries]
    else:
        ranked = [bm25_search(nodes, text_col, q, 2 * limit, group_ids)
                  for q in queries]
    ranked += [similarity_search(nodes, emb_col, e, 2 * limit,
                                 group_ids=group_ids)
               for e in (embeddings or [])]
    if not ranked:
        return nodes.withColumn("rrf_score", F.lit(0.0)).limit(0)
    # keep each method's score so rrf ranks by search order, not by uuid;
    # round before rank assignment for cross-engine reproducibility (same
    # rationale as hybrid_search — the top-k cut above is on RAW score)
    fused = rrf([r.select("uuid", F.round("score", 9).alias("score"))
                 for r in ranked], limit=None)
    return (fused.join(nodes, "uuid")
            .orderBy(F.desc("rrf_score"), "uuid"))
