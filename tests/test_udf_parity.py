"""Parity between JVM-side expressions and the pure-Python core.

The linking decision runs fully JVM-side (kgspark/linking.py); these tests
pin the JVM expressions to textcore's reference implementations so the Spark
DAG and the oracle can never disagree on per-pair decisions.
"""

import pandas as pd
from pyspark.sql import functions as F

from kgspark import textcore as tc
from kgspark import udfs
from kgspark.linking import _shingle_col

NAMES = ["Priya Sharma", "Priya Sh", "priya_sharma", "Glowco", "Summer Glow Campaign",
         "Outage 2024-03-05", "Zen Team", "a", "Mira Chen"]


def test_norm_name_parity(spark):
    df = spark.createDataFrame(pd.DataFrame({"name": NAMES}))
    got = [r[0] for r in df.select(udfs.norm_name_col(F.col("name"))).collect()]
    assert got == [tc.normalize_name(n) for n in NAMES]


def test_shingle_parity(spark):
    df = spark.createDataFrame(pd.DataFrame({"norm": [tc.normalize_name(n) for n in NAMES]}))
    got = df.select(_shingle_col(F.col("norm")).alias("s")).collect()
    for name, row in zip(NAMES, got):
        assert set(row["s"]) == set(tc.name_shingles(name)), name


def test_embedding_parity(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "group_id": ["g"] * len(NAMES),
        "norm_name": [tc.normalize_name(n) for n in NAMES],
        "name": NAMES,
    }))
    got = {r["norm_name"]: r["name_embedding"]
           for r in udfs.embed_entities(df).collect()}
    for n in NAMES:
        ref = tc.hash_embedding(n)
        out = got[tc.normalize_name(n)]
        assert len(out) == tc.EMBED_DIM
        assert max(abs(a - b) for a, b in zip(out, ref)) < 1e-6


def test_band_key_parity(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "group_id": ["g"] * len(NAMES),
        "norm_name": [tc.normalize_name(n) for n in NAMES],
        "name": NAMES,
    }))
    rows = udfs.entity_band_keys(df).collect()
    by_name = {}
    for r in rows:
        by_name.setdefault(r["norm_name"], []).append(r["band_key"])
    for n in NAMES:
        # two raw forms can share a normalized name ('Priya Sharma' /
        # 'priya_sharma') — band keys depend only on the normalized form
        assert set(by_name[tc.normalize_name(n)]) == set(tc.minhash_band_keys(n))


def test_embed_series_cache_overflow_stays_bit_identical(monkeypatch):
    # the per-task vector caches clear on overflow (bounded memory on
    # near-unique fact sentences); results must stay bit-identical across
    # the clear boundary
    from kgspark import udfs
    monkeypatch.setattr(udfs, "_VEC_CACHE_CAP", 2)
    embed = udfs._embed_series_factory()
    for batch in (NAMES, NAMES[:2] + ["Zen Team launch"], NAMES):
        got = embed(pd.Series(batch))
        for name, vec in zip(batch, got):
            assert vec.tolist() == tc.hash_embedding(name), name


def test_memoized_overflow_stays_bounded(monkeypatch):
    # the per-task normalization memo clears past its cap; a whole-split
    # task must not hold every distinct name, and values never change
    monkeypatch.setattr(udfs, "_MEMO_CAP", 3)
    norm = udfs._memoized(tc.normalize_name)
    (cache,) = [c.cell_contents for c in norm.__closure__
                if isinstance(c.cell_contents, dict)]
    for name in NAMES * 3:
        assert norm(name) == tc.normalize_name(name), name
        assert len(cache) <= 3


def test_embed_series_bit_identical():
    # the batched bincount kernel must be BIT-identical (in float64) to the
    # spec function — linking thresholds compare stored doubles exactly, so
    # 1e-6-close is not good enough for borderline pairs
    from kgspark.udfs import _embed_series_factory
    embed = _embed_series_factory()
    facts = NAMES + ["Priya Sharma works for Glowco since March 5, 2024.", ""]
    got = embed(pd.Series(facts))
    for fact, vec in zip(facts, got):
        assert vec.tolist() == tc.hash_embedding(fact), fact
    # cache path: a second batch overlapping the first stays identical
    got2 = embed(pd.Series(facts[:3] + ["Zen Team launch"]))
    assert got2.iloc[0].tolist() == tc.hash_embedding(facts[0])
    assert got2.iloc[3].tolist() == tc.hash_embedding("Zen Team launch")


def test_embed_expr_column_parity(spark):
    # the zero-shuffle column embedder (edge fact_embedding path) stores
    # array<float>: each value must be the float32 round-to-nearest of the
    # bit-exact float64 spec embedding (reference stores list[float] too,
    # edges.py:186-202)
    import numpy as np
    facts = NAMES + ["Priya Sharma works for Glowco since March 5, 2024.", ""]
    df = spark.createDataFrame(pd.DataFrame({"fact": facts}))
    got = df.withColumn("e", udfs.embed_expr()(F.col("fact"))).collect()
    for fact, row in zip(facts, got):
        want = np.asarray(tc.hash_embedding(fact), dtype=np.float32)
        assert np.array_equal(np.asarray(row["e"], dtype=np.float32), want), fact


def test_extraction_udfs_mixed_batch_alignment(spark):
    # the vectorized row build (np.repeat page columns + flat per-mention
    # comprehensions) must keep page->row alignment when zero-mention /
    # zero-triple pages are interleaved, including the registry
    # attribute-extraction branch (attrs is built per page and extended)
    import json
    from datetime import datetime

    from kgspark.entity_types import EntityType, EntityTypeRegistry

    reg = EntityTypeRegistry((EntityType(
        name="Org", suffixes=("Corp",),
        attributes=(("hq", "unknown"),),
        extract=(("hq", r"{name} is headquartered in ([A-Z][a-zA-Z]+)"),)),))
    pdf = pd.DataFrame({
        "url": ["u1", "u2", "u3"],
        "group_id": ["g", "g", "g"],
        "warc_ts": [datetime(2024, 1, 1)] * 3,
        "text": [
            "Acme Corp is headquartered in Lima. Bo Chen works for Acme Corp.",
            "nothing capitalized here at all.",  # zero mentions, zero triples
            "Mira Chen likes Glowco.",
        ],
        "source": ["text"] * 3,
    })
    pages = spark.createDataFrame(pdf)

    m = udfs.extract_mentions(pages, reg).collect()
    got = {(r["url"], r["name"]) for r in m}
    assert got == {("u1", "Acme Corp"), ("u1", "Lima"), ("u1", "Bo Chen"),
                   ("u3", "Mira Chen"), ("u3", "Glowco")}
    by = {(r["url"], r["name"]): r for r in m}
    assert by[("u1", "Acme Corp")]["label"] == "Org"
    assert json.loads(by[("u1", "Acme Corp")]["attrs"]) == {"hq": "Lima"}
    # the attr column must not bleed onto neighboring mentions or pages
    assert by[("u1", "Bo Chen")]["attrs"] is None
    assert by[("u3", "Mira Chen")]["attrs"] is None
    assert all(r["warc_ts"] == datetime(2024, 1, 1) for r in m)

    t = udfs.extract_triples(pages).collect()
    assert {(r["url"], r["subject"], r["predicate"], r["object"]) for r in t} \
        == {("u1", "Bo Chen", "WORKS_FOR", "Acme Corp"),
            ("u3", "Mira Chen", "LIKES", "Glowco")}
