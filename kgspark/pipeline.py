"""The end-to-end KG-construction DAG.

Batch restatement of the reference lifecycle (SURVEY.md §3.1/§3.2,
/root/reference/graphiti_core/graphiti.py:189-437 and
bulk_processor.py:518-663): the per-episode async loop becomes seven
whole-corpus DataFrame stages —

  pages ─ html→text UDF (byte-identity asserted)
        ├─ mention-detection UDF ─ distinct entities ─ LSH blocking
        │        ─ salted pair scoring ─ connected components ─ nodes
        ├─ triple-extraction UDF ─ name→uuid join ─ pointer resolution
        │        ─ edge dedup + provenance merge ─ bi-temporal window pass
        │        ─ edges + edge_invalidations
        └─ mentions, episodes, previous-instance chains

All outputs are plain DataFrames; ``kgspark.io`` persists them partitioned
by group_id with per-partition lineage for checkpoint/resume.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgspark import cc, dedup, linking, temporal, udfs


def raw_episodes_to_pages(episodes: DataFrame) -> DataFrame:
    """RawEpisode-shaped input -> the pages schema build_graph consumes
    (the add_episode_bulk ingestion analog,
    /root/reference/graphiti_core/bulk_processor.py:53-64 RawEpisode and
    graphiti.py:189-258 add_episode): callers with pre-extracted content
    (chat exports, JSON payloads, plain documents) skip the html layer.

    Expected columns: name (unique episode id), content, source
    (text|message|json), reference_time timestamp, group_id; optional
    uuid (defaults to name), lang (defaults 'en'). html is the utf-8
    content bytes so the byte-identity invariant holds trivially
    (check_text recomputation is a no-op on tag-free content)."""
    cols = episodes.columns
    uuid_col = F.col("uuid") if "uuid" in cols else F.col("name")
    lang_col = F.col("lang") if "lang" in cols else F.lit("en")
    return episodes.select(
        uuid_col.alias("url"),
        F.col("reference_time").alias("warc_ts"),
        F.encode("content", "UTF-8").alias("html"),
        F.col("content").alias("text"),
        lang_col.alias("lang"),
        "group_id",
        "source",
    )


def build_graph(pages: DataFrame, batch_ts: datetime | None = None,
                check_text: bool = True,
                compute_embeddings: bool = True,
                entity_types=None,
                expose_intermediates: bool = False) -> dict[str, DataFrame]:
    """Run the full construction DAG. Returns the output tables
    (FIXTURES.md §2 schemas): nodes, edges, mentions, episodes,
    edge_invalidations, previous_instance_edges, alias_map, plus
    text_mismatches when ``check_text``.

    ``entity_types``: optional kgspark.entity_types.EntityTypeRegistry —
    custom entity labels + typed attribute schemas
    (add_episode(entity_types=...) analog, graphiti.py:199,
    node_operations.py:338-341).

    ``expose_intermediates``: additionally return the extraction
    intermediates under underscore keys (_mentions_raw, _triples_raw,
    _entities, _embeddings), with the raw extraction outputs wrapped in
    LAZY localCheckpoints so a consumer that reads them after the build
    (e.g. kg_oracle.materialize) reuses the materialized rows instead of
    re-running the dominant Python-UDF scan. Off by default: the lazy
    wrap makes the first consumer materialize the full raw extraction
    output, which single-action builds (bench) don't want.
    """
    if batch_ts is None:
        batch_ts = datetime(2025, 1, 1)

    # episode source (EpisodeType, nodes.py:42-75): pages without the column
    # are plain text episodes; extraction dispatches per row downstream
    json_possible = "source" in pages.columns
    if not json_possible:
        pages = pages.withColumn("source", F.lit("text"))
    pages = pages.select("url", "group_id", "warc_ts", "html", "text", "lang",
                         "source")

    out: dict[str, DataFrame] = {}

    # stage 0: html -> text, byte-identity per url (input_hint invariant)
    if check_text:
        recomputed = udfs.extract_text(pages)
        out["text_mismatches"] = (
            pages.join(recomputed, "url")
            .filter(F.col("text") != F.col("text_extracted"))
            .select("url")
        )

    # stage 1: extraction (vectorized Arrow UDFs): mentions and triples are
    # two scans of the pages. mentions_raw gets a LAZY checkpoint because
    # it has three consumers (the entities aggregate, the stage-4 mentions
    # table and the typed-attribute path): the eager entities checkpoint
    # below is the first action and materializes it, so a multi-action
    # caller (write_tables' per-table writes, kg_oracle) reuses the narrow
    # rows instead of re-running the mention-extraction Python scan per
    # table. A single-action build pays only the block-manager write/read.
    mentions_raw = udfs.extract_mentions(
        pages, entity_types, json_possible=json_possible
    ).localCheckpoint(eager=False)
    triples_raw = udfs.extract_triples(pages)
    if expose_intermediates:
        triples_raw = triples_raw.localCheckpoint(eager=False)
        out["_mentions_raw"] = mentions_raw
        out["_triples_raw"] = triples_raw

    # stage 2: entity linking
    entities = linking.distinct_entities(mentions_raw, entity_types)
    # spread the materialized entity table across the cluster BEFORE
    # checkpointing: AQE coalesces the distinct aggregation's output to a
    # single partition at bench scale (tiny bytes), which would serialize
    # every downstream Python stage over entities (MinHash banding is
    # ~2.2ms/name of pure Python — a 4.5s one-task stage at 2k entities,
    # hours at web scale). The repartition costs one exchange of the
    # already-tiny table.
    dp = pages.sparkSession.sparkContext.defaultParallelism
    entities = entities.repartition(dp).localCheckpoint()  # reused by 4 downstream stages
    # ONE embedding pass per build: reused by pair scoring and the nodes
    # table (was computed twice — VERDICT r1)
    emb_all = udfs.embed_entities(entities).localCheckpoint()
    if expose_intermediates:
        out["_entities"] = entities      # already eagerly checkpointed
        out["_embeddings"] = emb_all     # already eagerly checkpointed
    pairs = linking.candidate_pairs(entities)
    # LAZY checkpoint: connected_components_auto's count-by-group routing
    # agg is the first action over the pairs — without this it would run
    # the whole blocking+scoring subtree once for the count and AGAIN for
    # the closure (measured +3s at bench scale). The accepted-pairs table
    # is tiny (linked aliases only), so materializing it is free.
    alias_pairs = linking.score_pairs(entities, pairs, emb=emb_all) \
        .localCheckpoint(eager=False)
    # LAZY checkpoint (eager=False): no extra job/barrier on a single-action
    # build, but the 4 downstream consumers (alias_map, nodes, mentions,
    # triples) reuse the materialized mapping across separate write/count
    # jobs instead of re-running the pair join + union-find per table.
    # NOTE on join planning: the checkpoint's Scan ExistingRDD defaults to
    # a huge STATIC size estimate, so pointer joins plan as SortMergeJoin
    # pre-execution — AQE converts them to BroadcastHashJoin at runtime
    # from the observed shuffle sizes (asserted on the EXECUTED plan by
    # tools/explain_check.py; a static-plan assertion would false-fail).
    mapping = cc.connected_components_auto(alias_pairs) \
        .localCheckpoint(eager=False)  # ext_uuid -> canonical
    out["alias_map"] = mapping

    # stage 3: canonical nodes table (nodes.py:78-86,287-292 schema)
    canon_entities = (
        cc.resolve_pointers(entities.withColumn("uuid", F.col("ext_uuid")),
                            mapping, ["uuid"])
    )
    node_rows = (
        canon_entities
        .groupBy("group_id", "uuid")
        .agg(
            F.max(F.struct("n_mentions",
                           F.length("name").alias("l"),
                           F.col("name").alias("n"),
                           F.col("label").alias("lb"))).alias("rep"),
            F.min("first_seen").alias("created_at"),
            F.sum("n_mentions").alias("n_mentions"),
            F.array_sort(F.collect_set("label")).alias("labels_raw"),
        )
        .select(
            "uuid",
            F.col("rep.n").alias("name"),
            "group_id",
            F.array_sort(F.array_union(F.col("labels_raw"),
                                       F.array(F.lit("Entity")))).alias("labels"),
            "created_at",
            F.concat_ws(" ", F.col("rep.n"), F.lit("is a"), F.col("rep.lb"),
                        F.lit("mentioned in"), F.col("n_mentions"),
                        F.lit("pages")).alias("summary"),
            F.create_map(F.lit("entity_type"), F.col("rep.lb"),
                         F.lit("mention_count"),
                         F.col("n_mentions").cast("string")).alias("attributes"),
            F.col("rep.n").alias("rep_name"),
        )
    )
    if entity_types is not None and entity_types.types:
        # stamp registered attribute schemas onto typed nodes (dynamic
        # Pydantic model analog, node_operations.py:338-341)
        empty = F.map_from_arrays(F.array().cast("array<string>"),
                                  F.array().cast("array<string>"))
        chain = empty
        # built-in keys stay authoritative: a registered schema may not
        # shadow them (map_concat raises DUPLICATE_MAP_KEY under Spark's
        # default EXCEPTION dedup policy)
        reserved = {"entity_type", "mention_count"}
        for t in entity_types.types:
            kv = [x for pair in t.attributes if pair[0] not in reserved
                  for x in (F.lit(pair[0]), F.lit(pair[1]))]
            if kv:
                chain = F.when(
                    F.element_at(F.col("attributes"), "entity_type") == t.name,
                    F.create_map(*kv)).otherwise(chain)
        node_rows = node_rows.withColumn(
            "attributes", F.map_concat("attributes", chain))
    from kgspark.entity_types import has_extraction
    if has_extraction(entity_types, json_possible=json_possible):
        # attribute VALUES extracted from episode content (the dynamic
        # Pydantic-model fill, node_operations.py:303-358): per canonical
        # node and key, the latest (warc_ts, url) value wins and OVERRIDES
        # the static schema default. One filtered aggregate over the
        # (sparse) attrs column — rows without extracted values never enter
        # the shuffle, and the whole block is skipped for registries with
        # no extraction work.
        reserved_keys = F.array(F.lit("entity_type"), F.lit("mention_count"))
        attr_rows = (
            mentions_raw
            .filter(F.col("attrs").isNotNull())
            .select("group_id", "norm_name", "warc_ts", "url",
                    F.explode(F.from_json("attrs", "map<string,string>"))
                     .alias("k", "v"))
            .filter(~F.array_contains(reserved_keys, F.col("k")))
            .withColumn("uuid", F.md5(F.concat_ws(
                "|", F.lit("ent"), F.col("group_id"), F.col("norm_name"))))
        )
        attr_rows = cc.resolve_pointers(attr_rows, mapping, ["uuid"])
        extracted = (
            attr_rows
            .groupBy("group_id", "uuid", "k")
            .agg(F.max(F.struct("warc_ts", "url", "v")).alias("m"))
            .groupBy("group_id", "uuid")
            .agg(F.map_from_entries(F.collect_list(
                F.struct(F.col("k"), F.col("m.v")))).alias("extracted_attrs"))
        )
        node_rows = (
            node_rows.join(extracted, ["group_id", "uuid"], "left")
            .withColumn("attributes", F.when(
                F.col("extracted_attrs").isNull(), F.col("attributes")
            ).otherwise(F.map_concat(
                F.map_filter("attributes", lambda k, _: ~F.array_contains(
                    F.map_keys(F.col("extracted_attrs")), k)),
                F.col("extracted_attrs"))))
            .drop("extracted_attrs")
        )
    if compute_embeddings:
        # reuse the per-entity embedding table: hash_embedding is a function
        # of the normalized name, so the representative name's embedding is
        # exactly the matching entity row's embedding
        nodes = (
            node_rows
            .withColumn("norm_name", udfs.norm_name_col(F.col("rep_name")))
            .join(emb_all, ["group_id", "norm_name"], "left")
            .drop("rep_name", "norm_name")
        )
    else:
        nodes = node_rows.withColumn(
            "name_embedding", F.lit(None).cast("array<double>")).drop("rep_name")
    out["nodes"] = nodes

    # stage 4: MENTIONS table (edges.py:81-96)
    mention_keyed = (
        mentions_raw
        .withColumn("ext_uuid", F.md5(F.concat_ws(
            "|", F.lit("ent"), F.col("group_id"), F.col("norm_name"))))
    )
    mentions = (
        cc.resolve_pointers(mention_keyed.withColumn("node_uuid", F.col("ext_uuid")),
                            mapping, ["node_uuid"])
        .select(
            F.md5(F.concat_ws("|", F.lit("mention"), F.col("url"),
                              F.col("node_uuid"))).alias("uuid"),
            F.col("url").alias("episode_uuid"),
            "node_uuid", "group_id",
            F.col("warc_ts").alias("created_at"),
        )
        .dropDuplicates(["uuid"])
    )
    out["mentions"] = mentions

    # stage 5: PREVIOUS_INSTANCE chains for recurring dynamic events
    # (node_operations.py:56-64,379-394): same base name (date stripped),
    # ordered by first_seen; each instance points at its predecessor.
    dyn = (
        entities.filter(F.col("is_dynamic"))
        .withColumn("base", F.trim(F.regexp_replace(
            F.col("norm_name"), r"\d{4} \d{2} \d{2}", " ")))
        .withColumn("base", F.regexp_replace("base", " +", " "))
    )
    from pyspark.sql import Window
    wdyn = Window.partitionBy("group_id", "base").orderBy("first_seen", "ext_uuid")
    prev_inst = (
        dyn
        .withColumn("prev_uuid", F.lag("ext_uuid").over(wdyn))
        .withColumn("prev_name", F.lag("name").over(wdyn))
        .filter(F.col("prev_uuid").isNotNull())
        .select(
            F.md5(F.concat_ws("|", F.lit("previnst"), F.col("group_id"),
                              F.col("ext_uuid"), F.col("prev_uuid"))).alias("uuid"),
            F.col("ext_uuid").alias("source_node_uuid"),
            F.col("prev_uuid").alias("target_node_uuid"),
            F.lit("PREVIOUS_INSTANCE").alias("name"),
            F.concat_ws(" ", F.col("name"), F.lit("is a recurrence of"),
                        F.col("prev_name")).alias("fact"),
            "group_id",
            F.col("first_seen").alias("created_at"),
        )
    )
    out["previous_instance_edges"] = prev_inst

    # stage 6: triples -> canonical endpoints -> dedup -> temporal pass
    ent_key = entities.select(
        "group_id", "norm_name", F.col("ext_uuid"))
    triples_keyed = (
        triples_raw
        # name -> uuid resolution is a join on (group, normalized name)
        # (replaces the per-episode dict at edge_operations.py:84,129-135);
        # AQE broadcasts the entity side when it fits, else sort-merge.
        .join(ent_key.withColumnRenamed("norm_name", "norm_subj")
              .withColumnRenamed("ext_uuid", "src_uuid"),
              ["group_id", "norm_subj"])
        .join(ent_key.withColumnRenamed("norm_name", "norm_obj")
              .withColumnRenamed("ext_uuid", "dst_uuid"),
              ["group_id", "norm_obj"])
    )
    triples_canon = cc.resolve_pointers(triples_keyed, mapping,
                                        ["src_uuid", "dst_uuid"])
    # lazy checkpoint for the same reason as `mapping`: the edges,
    # edge_invalidations, and episodes table jobs would otherwise each
    # re-run the triple extraction scan + entity join + dedup exchange.
    edges_merged = dedup.dedup_edges(triples_canon).localCheckpoint(eager=False)
    edges_resolved, invalidations = temporal.temporal_pass(edges_merged, batch_ts)

    if compute_embeddings:
        # fact_embedding is consumed only on the edge row itself, so it is
        # computed as a column expression in the edges projection — the
        # previous embed-table + join shape shuffled the (edges x 1024
        # doubles) table through a both-sided sort-merge (~5 GB at 1.6M
        # pages) for no reuse. Values are bit-identical
        # (udfs.embed_expr == textcore.hash_embedding, test_udf_parity).
        edges_resolved = edges_resolved.withColumn(
            "fact_embedding", udfs.embed_expr()(F.col("fact")))
    else:
        edges_resolved = edges_resolved.withColumn(
            "fact_embedding", F.lit(None).cast("array<float>"))

    edges = (
        edges_resolved
        .select(
            "uuid",
            F.col("src_uuid").alias("source_node_uuid"),
            F.col("dst_uuid").alias("target_node_uuid"),
            F.col("predicate").alias("name"),
            "fact", "group_id", "episodes", "created_at",
            "valid_at", "invalid_at", "expired_at", "fact_embedding",
        )
    )
    out["edges"] = edges
    out["edge_invalidations"] = invalidations

    # stage 7: episodes table (EpisodicNode, nodes.py:133-149) with
    # entity_edges back-references (graphiti.py:383-385)
    edge_refs = (
        edges.select("uuid", F.explode("episodes").alias("url"))
        .groupBy("url")
        .agg(F.array_sort(F.collect_set("uuid")).alias("entity_edges"))
    )
    episodes = (
        pages.join(edge_refs, "url", "left")
        .select(
            F.col("url").alias("uuid"),
            F.col("url").alias("name"),
            "group_id",
            "source",
            # EpisodeType -> source_description (nodes.py:133-149 field)
            F.when(F.col("source") == "message", F.lit("chat log"))
             .when(F.col("source") == "json", F.lit("structured payload"))
             .otherwise(F.lit("web crawl")).alias("source_description"),
            F.col("text").alias("content"),
            F.col("warc_ts").alias("valid_at"),
            F.col("warc_ts").alias("created_at"),
            F.coalesce("entity_edges", F.array().cast("array<string>")).alias("entity_edges"),
            "lang",
        )
    )
    out["episodes"] = episodes
    return out
