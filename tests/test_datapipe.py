"""Training-data pipeline operators (dedup / similarity / text analysis /
multimodal plumbing) over the driver-provided documents & embeddings tables."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgspark import datapipe as dp

SF = "/root/testdata/sf0.001"


def _pushed(plan: str, col: str) -> bool:
    """A filter on ``col`` is among a parquet scan's PushedFilters."""
    return re.search(rf"PushedFilters: \[[^\n]*\b(In|EqualTo)\({col},",
                     plan) is not None


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").localCheckpoint()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").localCheckpoint()


def test_exact_dedup(spark, docs):
    out = dp.exact_dedup(docs)
    assert out.count() <= docs.count()
    assert out.agg(F.sum("n_docs")).collect()[0][0] == docs.count()


def test_neardup_and_jaccard(spark, docs):
    pairs = dp.neardup_pairs(docs)
    jac = dp.ngram_jaccard(docs, pairs)
    assert jac.count() == pairs.count()
    assert jac.filter((F.col("jaccard") < 0) | (F.col("jaccard") > 1)).count() == 0


def test_simhash_selfconsistent(spark, docs):
    sh = dp.simhash(docs.limit(50))
    assert sh.count() == 50
    # identical text -> identical simhash
    two = docs.limit(1).union(docs.limit(1))
    vals = [r["simhash"] for r in dp.simhash(two).collect()]
    assert vals[0] == vals[1]


def test_ann_lsh_recall_vs_bruteforce(spark, emb):
    qv = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    brute = [r["id"] for r in dp.ann_bruteforce(
        emb.filter("vec_id <> 0"), list(qv), k=10).collect()]
    lsh = [r["id"] for r in dp.ann_lsh(
        emb.filter("vec_id <> 0"), list(qv), k=10, probe_hamming=6).collect()]
    # LSH is approximate: require decent overlap with brute force
    assert len(set(brute) & set(lsh)) >= 5


def test_ann_lsh_full_probe_is_exact(spark, emb):
    # probe_hamming = n_planes probes every bucket (the nprobe=nlist exact
    # regime): the result must equal brute force bit-for-bit
    qv = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    brute = [(r["id"], round(r["cos"], 9)) for r in dp.ann_bruteforce(
        emb.filter("vec_id <> 0"), list(qv), k=10).collect()]
    lsh = [(r["id"], round(r["cos"], 9)) for r in dp.ann_lsh(
        emb.filter("vec_id <> 0"), list(qv), k=10, probe_hamming=12).collect()]
    assert brute == lsh


def test_ann_indexed_matches_bruteforce(spark, emb, tmp_path):
    # persisted bucket-sorted index at full probe == brute force, and the
    # probed scan must push its bucket IN filter into the parquet scan; a
    # full probe covers every bucket, so it reads with no bucket filter
    path = str(tmp_path / "ann_index")
    rest = emb.filter("vec_id <> 0")
    dp.build_ann_index(rest, path)
    qv = list(emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"])
    brute = [(r["id"], round(r["cos"], 9))
             for r in dp.ann_bruteforce(rest, qv, k=10).collect()]
    idx_full = [(r["id"], round(r["cos"], 9))
                for r in dp.ann_query_indexed(spark, path, qv, k=10,
                                              probe_hamming=12).collect()]
    assert idx_full == brute
    approx = {r["id"] for r in dp.ann_query_indexed(spark, path, qv, k=10,
                                                    probe_hamming=6).collect()}
    assert len(approx & {i for i, _ in brute}) >= 5
    plan = dp.ann_query_indexed(spark, path, qv, k=10, probe_hamming=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert _pushed(plan, "bucket"), plan
    plan = dp.ann_query_indexed(spark, path, qv, k=10, probe_hamming=12) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "bucket" not in "".join(
        re.findall(r"PushedFilters: (.*?), ReadSchema", plan)), plan


def test_ann_ivf_full_probe_is_exact_and_recall(spark, emb):
    # nprobe = n_clusters scans every cluster — must equal brute force;
    # centroid learning is deterministic, so re-derivation agrees
    rest = emb.filter("vec_id <> 0")
    qv = [float(x)
          for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    brute = [(r["id"], round(r["cos"], 9))
             for r in dp.ann_bruteforce(rest, qv, k=10).collect()]
    cents = dp.ivf_centroids(rest, k=8, iters=2)
    assert cents == dp.ivf_centroids(rest, k=8, iters=2)
    full = [(r["id"], round(r["cos"], 9))
            for r in dp.ann_ivf(rest, qv, k=10, n_clusters=8, nprobe=8,
                                centroids=cents).collect()]
    assert full == brute
    approx = {r["id"] for r in dp.ann_ivf(rest, qv, k=10, n_clusters=8,
                                          nprobe=4, centroids=cents).collect()}
    assert len(approx & {i for i, _ in brute}) >= 5


def test_ann_ivf_indexed_prunes_partitions(spark, emb, tmp_path):
    path = str(tmp_path / "ivf_index")
    rest = emb.filter("vec_id <> 0")
    dp.build_ivf_index(rest, path, n_clusters=8, iters=2)
    qv = [float(x)
          for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    brute = [(r["id"], round(r["cos"], 9))
             for r in dp.ann_bruteforce(rest, qv, k=10).collect()]
    idx_full = [(r["id"], round(r["cos"], 9))
                for r in dp.ann_ivf_indexed(spark, path, qv, k=10,
                                            nprobe=8).collect()]
    assert idx_full == brute
    plan = dp.ann_ivf_indexed(spark, path, qv, k=10, nprobe=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert _pushed(plan, "cluster"), plan


def test_embedding_neardups_bounded(spark, emb):
    out = dp.embedding_neardups(emb, threshold=0.9)
    assert out.filter("id_a >= id_b").count() == 0


def test_embedding_neardups_planted_recall(spark, emb):
    # exact copies must always collide in every LSH band -> recall 1
    planted = emb.filter("vec_id < 25").select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    allv = emb.select("vec_id", "embedding").unionByName(planted)
    got = {(r["id_a"], r["id_b"])
           for r in dp.embedding_neardups(allv, threshold=0.8).collect()}
    assert {(i, i + 10000) for i in range(25)} <= got


def test_language_id(spark, docs):
    out = dp.language_id(docs)
    assert out.count() == docs.count()
    assert set(r["lang_pred"] for r in out.collect()) <= {"en", "es", "de", "und"}


def test_quality_and_tokens(spark, docs):
    q = dp.quality_score(docs).collect()
    assert all(0 <= r["type_token_ratio"] <= 1 for r in q)
    t = dp.token_counts(docs).collect()
    assert all(r["bpe_ish_tokens"] >= r["word_tokens"] for r in t)


def test_rolling_fingerprint(spark, docs):
    out = dp.rolling_fingerprint(docs)
    assert out.filter(F.col("fingerprint").isNull()).count() == 0


def test_multimodal_stub_plumbing(spark):
    pdf = pd.DataFrame({
        "id": [1, 2, 3],
        "blob": [b"fake-image-bytes-1", b"fake-image-bytes-2", None],
    })
    df = spark.createDataFrame(pdf)
    feats = dp.extract_image_features(df, "id", "blob").collect()
    assert len(feats) == 3
    by_id = {r["id"]: r for r in feats}
    assert by_id[1]["fake_width"] >= 1 and by_id[1]["decode_status"] == "stub"
    assert by_id[3]["n_bytes"] == 0
    # deterministic across runs
    again = {r["id"]: r["content_hash"]
             for r in dp.extract_image_features(df, "id", "blob").collect()}
    assert again[1] == by_id[1]["content_hash"]

    # real-decoder path raises cleanly (documented stub)
    with pytest.raises(Exception, match="NotImplementedError|image library"):
        dp.extract_image_features(df, "id", "blob", use_real_decoder=True).collect()


def _wav_bytes(x, sr=8000, nch=1, width=2):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(width)
        w.setframerate(sr)
        w.writeframes(x)
    return buf.getvalue()


def test_audio_decode_real_wav(spark):
    # 16-bit stereo: downmixed features must match a numpy reference
    sr = 4000
    t = np.arange(2000)
    left = (10000 * np.sign(np.sin(2 * np.pi * 50 * t / sr))).astype("<i2")
    right = (-left).astype("<i2")
    stereo = np.column_stack([left, right]).ravel().tobytes()
    mono8 = (np.tile([200, 56], 500).astype(np.uint8)).tobytes()
    rows = [(1, _wav_bytes(stereo, sr=sr, nch=2)),
            (2, _wav_bytes(mono8, sr=8000, width=1)),
            (3, b"not a wav at all")]
    df = spark.createDataFrame(rows, "id long, blob binary")
    got = {r["id"]: r for r in
           dp.extract_audio_features(df, "id", "blob").collect()}
    assert got[1]["sample_rate"] == sr and got[1]["n_channels"] == 2
    assert got[1]["n_samples"] == 2000
    assert got[1]["duration_sec"] == 2000 / sr
    # stereo downmix: left + right cancel exactly
    assert got[1]["rms"] == 0.0
    x8 = (np.array([200, 56] * 500, dtype=np.float64) - 128.0) / 128.0
    assert abs(got[2]["rms"] - np.sqrt(np.mean(x8 * x8))) < 1e-12
    assert got[2]["n_zero_crossings"] == 999
    assert got[3]["decode_status"].startswith("error")


def test_image_decode_pnm(spark):
    p6 = b"P6\n# a comment\n 3 2\n255\n" + bytes([10, 20, 30]) * 6
    p5 = b"P5\n2 2\n255\n" + bytes([0, 100, 100, 200])
    png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 20
    trunc = b"P6\n4 4\n255\n" + b"\x00" * 5
    # CRLF-written header: \r\n after maxval is ONE separator, not a \r
    # separator followed by a raster starting at \n (which silently
    # rotates the channels by one byte)
    crlf = b"P6\r\n2 1\r\n255\r\n" + bytes([10, 20, 30]) * 2
    df = spark.createDataFrame(
        [(1, p6), (2, p5), (3, png), (4, trunc), (5, crlf)],
        "id long, blob binary")
    got = {r["id"]: r for r in dp.decode_images(df, "id", "blob").collect()}
    assert (got[1]["width"], got[1]["height"]) == (3, 2)
    assert (got[1]["mean_r"], got[1]["mean_g"], got[1]["mean_b"]) == (10.0, 20.0, 30.0)
    assert got[2]["width"] == 2 and got[2]["mean_r"] == 100.0
    assert got[2]["mean_r"] == got[2]["mean_g"] == got[2]["mean_b"]
    # a PNG signature with garbage chunks reaches the stdlib PNG decoder
    # and degrades to an ERROR status row (corrupt != unsupported; and
    # never a task failure)
    assert got[3]["decode_status"] == "error: ValueError"
    assert got[4]["decode_status"].startswith("error")
    assert got[5]["decode_status"] == "ok"
    assert (got[5]["mean_r"], got[5]["mean_g"], got[5]["mean_b"]) == (10.0, 20.0, 30.0)


# -- PNG fixtures: an independent forward-filtering encoder written from
# the public W3C PNG spec, so the decoder is tested against the spec's
# filter definitions rather than against itself.

def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib
    return (struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))


def _make_png(px, ctype: int, filters, plte=None, interlace=0) -> bytes:
    """Encode ``px`` (h x w x nch uint8; palette images pass index planes
    with nch=1) applying ``filters[y]`` (spec §9: 0=None 1=Sub 2=Up 3=Avg
    4=Paeth) forward to each scanline."""
    import struct
    import zlib
    px = np.asarray(px, dtype=np.uint8)
    h, w, nch = px.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, interlace)
    stride = w * nch
    flat = px.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur, f = flat[y], filters[y]
        left = np.concatenate([np.zeros(nch, np.int32), cur[:-nch]]) \
            if stride > nch else np.zeros(stride, np.int32)
        upleft = np.concatenate([np.zeros(nch, np.int32), prev[:-nch]]) \
            if stride > nch else np.zeros(stride, np.int32)
        if f == 0:
            enc = cur
        elif f == 1:
            enc = cur - left
        elif f == 2:
            enc = cur - prev
        elif f == 3:
            enc = cur - ((left + prev) >> 1)
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = (np.abs(p - left), np.abs(p - prev),
                          np.abs(p - upleft))
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            enc = cur - pred
        raw.append(f)
        raw.extend((enc & 0xFF).astype(np.uint8).tobytes())
        prev = cur
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _png_chunk(b"PLTE", np.asarray(plte, np.uint8).tobytes())
    return (out + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))


def test_png_decode_all_filters_and_color_types(spark):
    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, size=(5, 4, 3))          # one row per filter
    gray = rng.randint(0, 256, size=(3, 6, 1))
    rgba = rng.randint(0, 256, size=(4, 3, 4))
    ga = rng.randint(0, 256, size=(2, 5, 2))
    plte = rng.randint(0, 256, size=(16, 3))
    idx = rng.randint(0, 16, size=(4, 4, 1))
    blobs = [
        (1, _make_png(rgb, 2, [0, 1, 2, 3, 4])),
        (2, _make_png(gray, 0, [4, 1, 3])),
        (3, _make_png(rgba, 6, [1, 4, 2, 3])),
        (4, _make_png(ga, 4, [4, 4])),
        (5, _make_png(idx, 3, [0, 1, 2, 4], plte=plte)),
        (6, _make_png(rgb, 2, [0] * 5, interlace=1)),  # Adam7: rejected
    ]
    df = spark.createDataFrame(blobs, "id long, blob binary")
    got = {r["id"]: r for r in dp.decode_images(df, "id", "blob").collect()}

    def means(a):  # ground truth straight from the pixel arrays
        return tuple(float(a[..., c].mean()) for c in range(a.shape[-1]))

    assert (got[1]["width"], got[1]["height"]) == (4, 5)
    assert (got[1]["mean_r"], got[1]["mean_g"], got[1]["mean_b"]) == means(rgb)
    g = float(gray.mean())
    assert (got[2]["mean_r"], got[2]["mean_g"], got[2]["mean_b"]) == (g, g, g)
    assert (got[3]["mean_r"], got[3]["mean_g"], got[3]["mean_b"]) == \
        means(rgba[..., :3])                            # alpha ignored
    ga_mean = float(ga[..., 0].mean())
    assert got[4]["mean_r"] == got[4]["mean_g"] == got[4]["mean_b"] == ga_mean
    assert (got[5]["mean_r"], got[5]["mean_g"], got[5]["mean_b"]) == \
        means(plte[idx[..., 0]])                        # palette lookup
    try:
        import PIL  # noqa: F401
        assert got[6]["decode_status"] == "ok"          # PIL fallback took it
    except ImportError:
        # valid-but-uncovered (Adam7) is a FORMAT gap, not corruption
        assert got[6]["decode_status"] == "unsupported"


def test_png_decoder_bomb_bounded_and_status_taxonomy():
    import struct
    import zlib

    def blob(w, h, depth=8, ctype=2, interlace=0, idat=b""):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
        return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", idat) + _png_chunk(b"IEND", b""))

    # decompression bomb: a ~100KB IDAT inflating to 100MB must fail the
    # size check after at most expected+1 inflated bytes — never allocate
    # the full output (the executor-OOM contract)
    bomb = zlib.compress(b"\x00" * 100_000_000)
    with pytest.raises(ValueError, match="raster size mismatch"):
        dp._png_decode(blob(2, 2, idat=bomb))
    # zero-dimension images are corrupt, not silently NaN-'ok'
    raw = zlib.compress(b"\x00")  # 1 filter byte, empty scanline
    with pytest.raises(ValueError, match="zero-dimension"):
        dp._png_decode(blob(0, 1, idat=raw))
    # valid-but-uncovered depths are format gaps (NotImplementedError ->
    # 'unsupported'), invalid depths are corruption (ValueError)
    with pytest.raises(NotImplementedError):
        dp._png_decode(blob(2, 2, depth=16))
    with pytest.raises(NotImplementedError):
        dp._png_decode(blob(2, 2, depth=4, ctype=3))
    with pytest.raises(ValueError, match="invalid bit depth"):
        dp._png_decode(blob(2, 2, depth=7))


def test_corpus_dedup_clusters(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [
        (10, base),                       # canonical of the cluster
        (11, base),                       # exact dup of 10
        (12, base + " extra trailing"),   # near-dup of 10 (shares bands)
        (50, "completely different text about spark and parquet tables"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["canonical_id"]
           for r in dp.corpus_dedup(df).collect()}
    assert got[10] == 10 and got[11] == 10
    assert got[50] == 50                  # singleton maps to itself
    # 12 joins the cluster iff LSH banded it with 10 — with 4 bands over a
    # near-identical token set it must
    assert got[12] == 10


def test_corpus_dedup_strategies_agree(spark, docs):
    a = {(r["doc_id"], r["canonical_id"])
         for r in dp.corpus_dedup(docs).collect()}
    b = {(r["doc_id"], r["canonical_id"])
         for r in dp.corpus_dedup(docs, strategy="iterative").collect()}
    assert a == b and len(a) == docs.count()


def test_null_rows_do_not_crash_or_collapse(spark):
    # one corrupt row must never kill the job or fabricate dup classes
    import pandas as pd
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4],
                      "text": ["same text", "same text", None, None]}),
        "doc_id long, text string")
    classes = dp.exact_dedup(docs).collect()
    assert len(classes) == 1 and classes[0]["n_docs"] == 2  # nulls excluded
    sims = {r["id"]: r["simhash"] for r in dp.simhash(docs).collect()}
    assert sims[1] == sims[2] and sims[3] == 0  # null text -> signature 0
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1, 2], "embedding": [[1.0, 0.0], None]}),
        "vec_id long, embedding array<double>")
    buckets = dp.hyperplane_buckets(emb, n_planes=4).collect()
    assert [b["id"] for b in buckets] == [1]  # null embedding dropped


def test_ann_lsh_id_col_named_id(spark, emb):
    # id_col == 'id' used to hit AMBIGUOUS_REFERENCE in the candidate join
    renamed = emb.withColumnRenamed("vec_id", "id")
    qv = [r["embedding"] for r in emb.filter("vec_id = 0").collect()][0]
    out = dp.ann_lsh(renamed.filter("id <> 0"), list(qv), k=5,
                     probe_hamming=12, id_col="id")
    assert out.count() == 5


def test_ann_index_bucket_column_stays_string(spark, emb, tmp_path):
    # an all-digit bucket read back as bigint would collapse distinct
    # buckets past 2^53 (n_planes >= 17). The bucket is a sorted data
    # column, not a partition dir: one generation is a few plain files,
    # not one dir per bucket
    path = str(tmp_path / "annidx17")
    rest = emb.filter("vec_id <> 0")
    dp.build_ann_index(rest, path, n_planes=17)
    idx = spark.read.parquet(path + "/vectors")
    assert dict(idx.dtypes)["bucket"] == "string"
    assert not [d for d in (tmp_path / "annidx17/vectors/gen=0").iterdir()
                if d.is_dir()]
    qv = [r["embedding"] for r in emb.filter("vec_id = 0").collect()][0]
    exact = [r["id"] for r in dp.ann_bruteforce(rest, list(qv), 5).collect()]
    full = [r["id"] for r in
            dp.ann_query_indexed(spark, path, list(qv), k=5, n_planes=17,
                                 probe_hamming=17).collect()]
    # full-probe width == exact brute force, now correct at 17 planes
    assert full == exact


def test_corpus_dedup_auto_switches_to_iterative(spark, monkeypatch):
    # r2 verdict: the scale-safe closure must be the DEFAULT past an edge
    # threshold, not opt-in. Above the (forced-tiny) threshold the auto
    # strategy must route through the distributed min-label propagation.
    from kgspark import cc as cc_mod

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4],
                      "text": ["dup text", "dup text", "other", "third"]}),
        "doc_id long, text string")
    calls = {"iterative": 0}
    real = cc_mod.connected_components_iterative

    def spy(*a, **k):
        calls["iterative"] += 1
        return real(*a, **k)

    monkeypatch.setattr(cc_mod, "connected_components_iterative", spy)
    got = {(r["doc_id"], r["canonical_id"])
           for r in dp.corpus_dedup(docs, strategy="auto",
                                    auto_edge_threshold=0).collect()}
    assert calls["iterative"] == 1
    want = {(r["doc_id"], r["canonical_id"])
            for r in dp.corpus_dedup(docs, strategy="local").collect()}
    assert got == want
    # below the threshold auto stays local
    dp.corpus_dedup(docs, strategy="auto",
                    auto_edge_threshold=10**6).collect()
    assert calls["iterative"] == 1


def test_simhash_matches_spec_bit_for_bit(spark):
    # the vectorized (unique-token hash + unpackbits sign matrix) simhash
    # must equal the per-token spec definition exactly
    import hashlib
    import re

    texts = ["alpha beta gamma", "alpha alpha beta", "solo", "a b c d e f"]

    def spec_simhash(text):
        acc = [0] * 64
        for tok in set(re.findall(dp.TOKEN_RE, text)):
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8],
                               "little")
            for j in range(64):
                acc[j] += 1 if (h >> j) & 1 else -1
        sig = sum(1 << j for j in range(64) if acc[j] > 0)
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        "doc_id long, text string")
    got = {r["id"]: r["simhash"] for r in dp.simhash(df).collect()}
    for i, t in enumerate(texts):
        assert got[i] == spec_simhash(t), t


def test_simhash_neardups_multiband_lossless(spark):
    # r3 verdict wrong #4: single top-16-bit prefix blocking missed pairs
    # whose flips hit the prefix. Multi-band (4 disjoint 16-bit bands) is
    # LOSSLESS for max_hamming <= 3 by pigeonhole: the result must equal
    # the brute-force all-pairs hamming join exactly.
    import itertools
    import pandas as pd
    base = " ".join(f"tok{i}" for i in range(60))
    texts = [base] + [
        base.replace(f"tok{k} ", f"var{k} ", 1) for k in range(0, 24, 2)
    ] + ["completely different content here"] * 2
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        "doc_id long, text string")
    sigs = {r["id"]: r["simhash"] for r in dp.simhash(docs).collect()}
    want = {}
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
        if h <= 3:
            want[(a, b)] = h
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dp.simhash_neardups(docs, max_hamming=3).collect()}
    assert got == want and want
    # the ground truth must include at least one pair whose differing bits
    # touch the OLD prefix block (top 16 bits) — i.e. a pair the r3
    # single-band blocking would have missed
    assert any(((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)) >> 48
               for a, b in want), "corpus never exercises the old gap"
