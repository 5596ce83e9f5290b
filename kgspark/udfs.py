"""Vectorized (Arrow-batched) UDF stages wrapping the pure extraction core.

Every LLM stage of the reference becomes one ``mapInPandas`` /``pandas_udf``
projection here (SURVEY.md §2.2): one Arrow batch = many pages, no per-row
Python UDFs anywhere in the pipeline (BASELINE.json input_hint).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgspark import textcore as tc


# Per-task memo bound: a scan task can read a whole 128MB split, so memos
# keyed by distinct names, facts or sentences are cleared on overflow (as
# the vector caches below are) instead of growing with the partition.
_MEMO_CAP = 1 << 17


def _memoized(fn):
    """Per-task memo for a pure str->str function (normalization): web text
    repeats names/facts heavily, so distinct-input work is the real cost.
    Built fresh inside each mapInPandas generator (cache lifetime = one
    task) and cleared past ``_MEMO_CAP`` entries."""
    cache: dict[str, str] = {}

    def get(s: str) -> str:
        v = cache.get(s)
        if v is None:
            if len(cache) >= _MEMO_CAP:
                cache.clear()
            v = cache[s] = fn(s)
        return v

    return get


# ---------------------------------------------------------------------------
# html -> text  (reference: the episode `content` ingest, graphiti.py:189-258)
# ---------------------------------------------------------------------------

TEXT_DDL = "url string, text_extracted string"


def extract_text(pages: DataFrame) -> DataFrame:
    """Recompute text from raw html. The pipeline asserts byte-identity with
    the golden ``text`` column per url (input_hint invariant)."""

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "url": pdf["url"],
                "text_extracted": [tc.html_to_text(h) for h in pdf["html"]],
            })

    return pages.select("url", "html").mapInPandas(run, TEXT_DDL)


# ---------------------------------------------------------------------------
# Mention detection  (node_operations.py:148-265 contract)
# ---------------------------------------------------------------------------

MENTIONS_DDL = ("url string, group_id string, warc_ts timestamp, "
                "name string, label string, norm_name string, "
                "is_speaker boolean, attrs string")


def _with_source(pages: DataFrame) -> DataFrame:
    """Pages without an EpisodeType column are plain text episodes
    (nodes.py:42-75 default)."""
    if "source" not in pages.columns:
        pages = pages.withColumn("source", F.lit("text"))
    return pages


def extract_mentions(pages: DataFrame, entity_types=None,
                     json_possible: bool | None = None) -> DataFrame:
    """``entity_types``: optional EntityTypeRegistry — custom labels win
    over the built-in classifier (kgspark/entity_types.py).

    Dispatches per row on the episode ``source`` column (text | message |
    json — node_operations.py:177-187 analog; absent column = all text).
    ``is_speaker`` marks message-episode speaker mentions (rule 1 of
    prompts/extract_nodes.py:91).

    Emits ``norm_name`` directly: normalization is memoized per distinct
    name inside the already-running Python stage, which keeps the heavily
    allocating Java-regex normalization out of the multi-million-row hot
    path (it inflated CPU ~4x at high thread counts — BENCH/BASELINE.md)."""
    from kgspark.entity_types import (extract_attributes, has_extraction,
                                      make_classifier)
    classifier = make_classifier(entity_types)
    if json_possible is None:
        json_possible = "source" in pages.columns
    extract_attrs = has_extraction(entity_types, json_possible=json_possible)
    pages = _with_source(pages)

    def run(batches):
        import json as _json
        norm = _memoized(tc.normalize_name)
        for pdf in batches:
            ms_all = [tc.extract_mentions_for(src, text, classifier)
                      for text, src in zip(pdf["text"], pdf["source"])]
            flat = [m for ms in ms_all for m in ms]
            if not flat:
                # empty frames get pandas' default dtypes, which Arrow
                # cannot cast to the declared schema (e.g. float64 ->
                # timestamp) — a mention-free partition must yield nothing
                continue
            if extract_attrs:
                # attribute VALUES from content (node_operations.py:303-358
                # analog) — computed once per page, only when the registry
                # declares extraction work; sees the SAME cleaned text as
                # the extractors
                attrs: list | None = []
                for text, src, ms in zip(pdf["text"], pdf["source"], ms_all):
                    if not ms:
                        continue
                    amap = extract_attributes(entity_types, src,
                                              tc.clean_input(text), ms)
                    attrs.extend(
                        _json.dumps(amap[m.name]) if amap.get(m.name) else None
                        for m in ms)
            else:
                attrs = [None] * len(flat)
            # page-level columns are vectorized repeats; per-mention columns
            # are single flat comprehensions (the previous 8-appends-per-
            # mention loop was ~43% of the whole UDF's CPU at bench scale)
            counts = np.fromiter((len(ms) for ms in ms_all), np.int64,
                                 count=len(ms_all))
            names = [m.name for m in flat]
            yield pd.DataFrame({
                "url": np.repeat(pdf["url"].to_numpy(), counts),
                "group_id": np.repeat(pdf["group_id"].to_numpy(), counts),
                "warc_ts": np.repeat(pdf["warc_ts"].to_numpy(), counts),
                "name": names,
                "label": [m.label for m in flat],
                "norm_name": [norm(n) for n in names],
                "is_speaker": [m.speaker for m in flat],
                "attrs": attrs,
            })

    return pages.select("url", "group_id", "warc_ts", "text",
                        "source").mapInPandas(run, MENTIONS_DDL)


# ---------------------------------------------------------------------------
# Triple extraction + date parsing
# (edge_operations.py:73-148 + temporal_operations.py:32-68 contracts)
# ---------------------------------------------------------------------------

TRIPLES_DDL = ("url string, group_id string, warc_ts timestamp, "
               "subject string, predicate string, object string, fact string, "
               "valid_at_explicit timestamp, invalid_at_explicit timestamp, "
               "explicit_dates boolean, norm_fact string, "
               "norm_subj string, norm_obj string")


def extract_triples(pages: DataFrame) -> DataFrame:
    """Emits ``norm_subj``/``norm_obj`` directly (memoized python
    normalization — see extract_mentions note). Dispatches per row on the
    episode ``source`` column like extract_mentions."""
    pages = _with_source(pages)

    def run(batches):
        norm = _memoized(tc.normalize_name)
        # normalize_fact runs 5 date regexes + normalize_name; web text
        # repeats the same fact sentence across pages (boilerplate,
        # syndication) — memoizing per distinct fact cuts the dominant
        # per-triple cost ~dup-ratio-fold (measured 7x on the bench corpus)
        normf = _memoized(tc.normalize_fact)
        # sentence -> sentence_protos memo (ref_ts-independent by
        # construction — textcore.parse_dates_structural): repeated
        # boilerplate sentences skip the regex scan entirely. Same
        # lifetime/bound as _memoized: one Arrow task, _MEMO_CAP entries.
        sent_cache: dict = {}
        for pdf in batches:
            if len(sent_cache) > _MEMO_CAP:
                sent_cache.clear()
            tr_all = [
                tc.extract_triples_for(src, text, ts.to_pydatetime(), sent_cache)
                for text, ts, src in zip(pdf["text"], pdf["warc_ts"],
                                         pdf["source"])]
            flat = [t for ts_ in tr_all for t in ts_]
            if not flat:  # see extract_mentions: empty-frame dtype vs Arrow cast
                continue
            # vectorized build — see extract_mentions note (repeats for the
            # page-level columns, one flat comprehension per triple column)
            counts = np.fromiter((len(ts_) for ts_ in tr_all), np.int64,
                                 count=len(tr_all))
            facts = [t.fact for t in flat]
            yield pd.DataFrame({
                "url": np.repeat(pdf["url"].to_numpy(), counts),
                "group_id": np.repeat(pdf["group_id"].to_numpy(), counts),
                "warc_ts": np.repeat(pdf["warc_ts"].to_numpy(), counts),
                "subject": [t.subject for t in flat],
                "predicate": [t.predicate for t in flat],
                "object": [t.object for t in flat],
                "fact": facts,
                "valid_at_explicit": [t.valid_at for t in flat],
                "invalid_at_explicit": [t.invalid_at for t in flat],
                "explicit_dates": [t.explicit_dates for t in flat],
                "norm_fact": [normf(f) for f in facts],
                "norm_subj": [norm(t.subject) for t in flat],
                "norm_obj": [norm(t.object) for t in flat],
            })

    return pages.select("url", "group_id", "warc_ts", "text",
                        "source").mapInPandas(run, TRIPLES_DDL)


# ---------------------------------------------------------------------------
# Embeddings + LSH band keys (EmbedderClient analog + blocking;
# embedder/client.py:22, search_utils.py:638-676)
# ---------------------------------------------------------------------------

# Per-task cache bounds. Entity NAMES repeat heavily (the caches earn
# their keep), but edge FACTS are near-unique full sentences — an
# unbounded vector cache on that path retains ~12 KB (f64+f32) per
# distinct input for the task's lifetime, gigabytes per Python worker on a
# large partition. Clear-on-overflow keeps the hot boilerplate cached and
# the worst case bounded (~130 MB of f64 vectors) with zero bookkeeping.
_VEC_CACHE_CAP = 16384   # ~8 KB float64 vector per entry
_FEAT_CACHE_CAP = 1 << 20  # ~50 B (index, sign) tuple per entry


def _embed_series_factory():
    """Batch embedding kernel: ``fn(names: pd.Series) -> pd.Series`` of
    float64 numpy rows, BIT-IDENTICAL per row to ``textcore.hash_embedding``
    (pinned by test_udf_parity::test_embed_series_bit_identical).

    THE embedding kernel — every embedding consumer (``embed_entities``,
    ``embed_expr``) routes through it, so the bit-identity contract lives
    in exactly one place. ONE flat feature pass per batch: all new names'
    (dim index, sign) pairs are
    appended to flat arrays and accumulated with a single ``np.bincount``
    over ``row*dim + idx``, then normalized matrix-wise. Exactness: every
    cell sums a subset of ±1.0 contributions, so all partial sums are
    small integers (exact in float64 under ANY order — bincount's order
    doesn't matter); the squared norm is an integer, and sqrt/divide are
    the same IEEE round-to-nearest ops the spec performs. Caches persist
    across the task's Arrow batches (feature AND name level — web
    boilerplate repeats facts corpus-wide)."""
    feat_cache: dict[str, tuple[int, float]] = {}
    name_cache: dict[str, np.ndarray] = {}
    dim = tc.EMBED_DIM

    def embed_series(names: pd.Series) -> pd.Series:
        if len(name_cache) > _VEC_CACHE_CAP:
            name_cache.clear()
        if len(feat_cache) > _FEAT_CACHE_CAP:
            feat_cache.clear()
        uniq = pd.unique(names)
        todo = [n for n in uniq if n not in name_cache]
        if todo:
            get = feat_cache.get
            flat_i: list[int] = []
            flat_s: list[float] = []
            lens = np.empty(len(todo), dtype=np.int64)
            for k, n in enumerate(todo):
                norm = tc.normalize_name(n)
                feats = norm.split() + tc.norm_shingles(norm)
                for f in feats:
                    c = get(f)
                    if c is None:
                        h = tc._stable_hash(f)
                        c = feat_cache[f] = (h % dim,
                                             1.0 if (h >> 62) & 1 else -1.0)
                    flat_i.append(c[0])
                    flat_s.append(c[1])
                lens[k] = len(feats)
            row_ids = np.repeat(np.arange(len(todo), dtype=np.int64), lens)
            fi = np.array(flat_i, dtype=np.int64)
            fs = np.array(flat_s, dtype=np.float64)
            mat = np.bincount(row_ids * dim + fi, weights=fs,
                              minlength=len(todo) * dim).reshape(len(todo), dim)
            nrm = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            nz = nrm != 0
            mat[nz] /= nrm[nz, None]
            for n, row in zip(todo, mat):
                name_cache[n] = row
        return names.map(name_cache)

    return embed_series


def embed_expr():
    """Scalar pandas UDF: text column -> hash embedding, ``array<float>``
    (values = float32 round-to-nearest of ``textcore.hash_embedding``).

    For per-row embeddings that live ON the row (edge fact_embedding), a
    column expression beats the embed-table-then-join shape: the join
    shuffles the ~(rows x 1024 doubles) embedding table through a
    sort-merge (measured ~5 GB both-sided at 1.6M pages), while a column
    UDF computes the vectors inside the consuming stage with zero
    exchange. Keep ``embed_entities`` + join where one embedding table is
    genuinely REUSED by several consumers (entity names: pair scoring +
    nodes table).

    float32 because the stored fact vector is decorative output — nothing
    re-reads it on a thresholded decision path (linking/dedup run on NAME
    embeddings, which stay float64) — and it is the reference's own edge
    schema (EntityEdge.fact_embedding list[float], edges.py:186-202;
    SURVEY.md §2 table row). Halves the Arrow transfer and the parquet
    bytes of the widest pipeline column."""

    embed_series = _embed_series_factory()
    f32_cache: dict[str, np.ndarray] = {}

    @F.pandas_udf("array<float>")
    def _embed(names: pd.Series) -> pd.Series:
        if len(f32_cache) > _VEC_CACHE_CAP:
            f32_cache.clear()
        f64 = embed_series(names)
        for n, v in zip(names, f64):
            if n not in f32_cache:
                f32_cache[n] = v.astype(np.float32)
        return names.map(f32_cache)

    return _embed


# Embeddings carry full double precision end-to-end: the linking decision is
# thresholded (cosine >= 0.6), so the Spark DAG, the single-process oracle
# (python doubles) and the DuckDB oracle must all see the SAME values or
# borderline pairs flip and canonicalization diverges. At 10^12 scale the
# stored column would be fp32 with a re-embed on the link path; parity wins
# here.
EMBED_DDL = "group_id string, norm_name string, name_embedding array<double>"
BANDS_DDL = "group_id string, norm_name string, band_key string"


def embed_entities(entities: DataFrame) -> DataFrame:
    """(group_id, norm_name, name) -> name_embedding array<double> (dim 1024).
    Uses the shared batched embedding kernel (caches persist across the
    task's batches; bit-identical to textcore.hash_embedding)."""

    def run(batches):
        embed_series = _embed_series_factory()
        for pdf in batches:
            yield pd.DataFrame({
                "group_id": pdf["group_id"],
                "norm_name": pdf["norm_name"],
                "name_embedding": embed_series(pdf["name"]),
            })

    return entities.select("group_id", "norm_name", "name").mapInPandas(run, EMBED_DDL)


def entity_band_keys(entities: DataFrame) -> DataFrame:
    """Explode each entity into its MinHash-LSH band keys (blocking keys for
    the linking self-join). Bit-identical to textcore.minhash_band_keys
    (spec parity pinned by test_udf_parity::test_band_key_vectorized_parity)
    but ~8x cheaper: names SHARE character shingles heavily, so each
    distinct shingle's 96 seed-hashes are computed once per task (cache
    across batches) as a numpy row; per name the signature is one
    (shingles x 96) min-reduction instead of 96 x |shingles| md5 calls."""

    def run(batches):
        rows_n, bands = tc.MINHASH_ROWS, tc.MINHASH_BANDS
        nseed = rows_n * bands
        # shingle vocab is structurally bounded (3-grams over [a-z0-9 ]),
        # so shingle_rows stays unbounded; name_keys is input-cardinality
        # bound like the vector caches -> clear-on-overflow
        shingle_rows: dict[str, np.ndarray] = {}  # cached across batches
        name_keys: dict[str, list[str]] = {}

        def keys_for(name: str) -> list[str]:
            got = name_keys.get(name)
            if got is not None:
                return got
            rows = []
            for s in tc.name_shingles(name):
                r = shingle_rows.get(s)
                if r is None:
                    r = shingle_rows[s] = np.array(
                        [tc._stable_hash(f"mh{i}|{s}") for i in range(nseed)],
                        dtype=np.uint64)
                rows.append(r)
            mins = np.stack(rows).min(axis=0).reshape(bands, rows_n)
            got = name_keys[name] = [
                f"b{b}|" + tc.md5_hex("|".join(str(int(x)) for x in mins[b]))[:16]
                for b in range(bands)]
            return got

        for pdf in batches:
            if len(name_keys) > 4 * _VEC_CACHE_CAP:
                name_keys.clear()
            out = {"group_id": [], "norm_name": [], "band_key": []}
            for gid, nn, name in zip(pdf["group_id"], pdf["norm_name"], pdf["name"]):
                for k in keys_for(name):
                    out["group_id"].append(gid)
                    out["norm_name"].append(nn)
                    out["band_key"].append(k)
            yield pd.DataFrame(out)

    return entities.select("group_id", "norm_name", "name").mapInPandas(run, BANDS_DDL)


# JVM-side normalized name (must match textcore.normalize_name exactly;
# asserted by tests/test_udf_parity.py)
def norm_name_col(col):
    return F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(col), "[^a-z0-9 ]", " "), " +", " "))
