"""Training-data pipeline operators: the non-SQL-checkable paths —
SimHash vs pure-Python twin, LSH recall vs brute force, multimodal
plumbing, shingle/fingerprint sanity."""

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_simhash_matches_python_twin(spark):
    from knowledgegraphs_spark.operators.dedup import simhash64_python, simhash64_udf

    texts = ["hello world foo", "hello world bar", "", "one two three four"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r.sh for r in df.select(simhash64_udf("text").alias("sh")).collect()]
    assert got == [simhash64_python(t) for t in texts]


def test_simhash_similar_texts_close():
    from knowledgegraphs_spark.operators.dedup import simhash64_python

    a = simhash64_python("the quick brown fox jumps over the lazy dog")
    b = simhash64_python("the quick brown fox jumps over the lazy cat")
    c = simhash64_python("completely unrelated text about databases and spark")
    ham_ab = bin((a ^ b) & (2**64 - 1)).count("1")
    ham_ac = bin((a ^ c) & (2**64 - 1)).count("1")
    assert ham_ab < ham_ac


def test_lsh_recall_vs_brute_force(spark):
    from knowledgegraphs_spark.operators.simsearch import brute_force_topk, lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(emb, queries, k=5, n_bits=4, rotations=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"LSH recall {recall:.2f} too low"


def test_embedding_near_duplicates_blocked_subset_of_exact(spark):
    from knowledgegraphs_spark.operators.simsearch import (
        brute_force_topk,
        embedding_near_duplicates,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200)
    got = embedding_near_duplicates(emb, threshold=0.5, n_bits=4, rotations=3)
    rows = got.collect()
    for r in rows:
        assert r.cosine >= 0.5
        assert r.id_a < r.id_b


def test_multimodal_plumbing(spark):
    from knowledgegraphs_spark.operators.multimodal import (
        FEATURE_DIM,
        decode_payload,
        extract_features,
        resize_stub,
        synthesize_media,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    media = synthesize_media(docs)
    assert media.schema["payload"].dataType.simpleString() == "binary"

    feats = extract_features(media, use_fake_codec=True).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r.features) == FEATURE_DIM
    # deterministic across runs
    feats2 = extract_features(media, use_fake_codec=True).collect()
    assert {r.media_id: r.features for r in feats} == {r.media_id: r.features for r in feats2}

    resized = resize_stub(media, 64, 64).select("meta.width", "meta.height").first()
    assert (resized.width, resized.height) == (64, 64)

    # payloads with no stdlib decoder still raise through the real path
    with pytest.raises(NotImplementedError):
        decode_payload(b"xx", "image", use_fake_codec=False)


def _make_bmp(width: int, height: int, rgb) -> bytes:
    """Minimal uncompressed 24-bit bottom-up BMP, solid color."""
    import struct as s

    row = (bytes([rgb[2], rgb[1], rgb[0]]) * width + b"\x00\x00\x00")[
        : (width * 3 + 3) & ~3
    ]
    px = row * height
    header = s.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54)
    info = s.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(px), 2835, 2835, 0, 0)
    return header + info + px


def _make_wav(framerate: int, samples) -> bytes:
    import io as _io
    import wave as _wave

    import numpy as _np

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes((_np.asarray(samples) * 32767).astype("<i2").tobytes())
    return buf.getvalue()


def test_real_codecs_through_production_path(spark):
    """The codec seam proven on REAL bytes: a struct-built 24-bit BMP and
    a stdlib-wave PCM WAV decode through the production mapInPandas path
    (use_fake_codec=False) into the documented feature contract."""
    import math

    from knowledgegraphs_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
    )

    bmp = _make_bmp(5, 4, (200, 100, 50))
    tone = [math.sin(2 * math.pi * 440 * t / 8000) for t in range(800)]
    wav = _make_wav(8000, tone)
    media = spark.createDataFrame(
        [(1, "image", bytearray(bmp)), (2, "audio", bytearray(wav))],
        "media_id long, kind string, payload binary",
    )
    rows = {r.media_id: r.features for r in extract_features(media).collect()}
    img = rows[1]
    assert len(img) == FEATURE_DIM
    assert img[0] == 1.0 and (img[1], img[2], img[3]) == (5.0, 4.0, 3.0)
    # solid color: per-channel means are exact, stds zero (BGR order)
    assert [round(v) for v in img[4:7]] == [50, 100, 200]
    assert img[8] == img[9] == img[10] == 0.0
    assert (img[12], img[13]) == (50.0, 200.0)
    aud = rows[2]
    assert aud[0] == 2.0 and (aud[1], aud[2], aud[3]) == (1.0, 8000.0, 800.0)
    assert abs(aud[4] - 0.1) < 1e-6              # duration
    assert abs(aud[5]) < 0.01                    # sine mean ~0
    assert abs(aud[7] - 1 / math.sqrt(2)) < 0.01  # sine RMS
    assert aud[10] > 0.05                        # zero crossings present


def test_bmp_32bit_and_wav_8bit_variants():
    import struct as s

    import numpy as _np

    from knowledgegraphs_spark.operators.multimodal import decode_payload

    # 32-bit BMP: rows have no padding, 4 channels
    w_, h_ = 3, 2
    px = bytes([10, 20, 30, 255]) * (w_ * h_)
    header = s.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54)
    info = s.pack("<IiiHHIIiiII", 40, w_, h_, 1, 32, 0, len(px), 2835, 2835, 0, 0)
    f = decode_payload(header + info + px, "image")
    assert (f[1], f[2], f[3]) == (3.0, 2.0, 4.0)
    assert [round(v) for v in f[4:8]] == [10, 20, 30, 255]

    # 8-bit unsigned WAV
    import io as _io
    import wave as _wave

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(1)
        wv.setframerate(4000)
        wv.writeframes(bytes([128, 255, 0, 128]))
    f2 = decode_payload(buf.getvalue(), "audio")
    assert f2[0] == 2.0 and f2[3] == 4.0
    assert abs(f2[9] - 127 / 128) < 1e-6 and f2[8] == -1.0


def test_text_analysis_sanity(spark):
    from knowledgegraphs_spark.operators.text_analysis import text_profile

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox is on the run"),
            (2, "der hund und die katze ist das"),
            (3, "!!! ??? ### $$$"),
            (4, ""),
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in text_profile(df).collect()}
    assert rows[1].lang_id == "en"
    assert rows[2].lang_id == "de"
    assert rows[3].lang_id == "und"
    assert rows[3].punct_ratio > 0.5
    assert rows[1].quality > rows[3].quality
    assert rows[4].n_tokens == 0


def test_minhash_lsh_finds_planted_near_dups(spark):
    from knowledgegraphs_spark.operators.dedup import minhash_lsh_candidates, ngram_jaccard_pairs

    # 30 distinct words, one changed → shingle Jaccard ≈ 0.81; collision
    # verified deterministic for this fixture (md5 hash family is fixed)
    base = " ".join(f"w{i:02d}" for i in range(30))
    near = base.replace("w15", "w15x")
    far = " ".join(f"z{i:02d}" for i in range(30))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    lsh = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(df, k=16, bands=4).collect()}
    assert (1, 2) in lsh
    assert (1, 3) not in lsh
    jac = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(df, threshold=0.2).collect()}
    assert (1, 2) in jac and jac[(1, 2)] > 0.7


# --- independent XXH64 twin: proves the production MinHash hash family ------

# The twin itself lives in knowledgegraphs_spark/functions/xxh64_twin.py
# (oracle-build code imports it too); these tests prove it against Spark.
from knowledgegraphs_spark.functions.xxh64_twin import (  # noqa: E402
    _M64,
    minhash_signature_twin,
    spark_xxhash64_twin as _spark_xxhash64_twin,
    xxh64 as _xxh64,
)


def test_xxhash64_family_matches_independent_xxh64(spark):
    """Value-check of the production (rows-only-in-the-driver) MinHash
    family: Spark's salted xxhash64 and the folded signature both equal an
    independent pure-Python XXH64 implementation."""
    from pyspark.sql import functions as F

    from knowledgegraphs_spark.operators.dedup import minhash_signature
    from knowledgegraphs_spark.operators.text_analysis import shingles

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "The U.S. dollar rose 0.5% against the euro today",
        "short",
        "a " * 40 + "tail",
        "unicode café naïve über",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    k = 8
    hash_cols = [F.xxhash64(F.lit(i), F.col("text")).alias(f"h{i}") for i in range(k)]
    for r in df.select("text", *hash_cols).collect():
        for i in range(k):
            assert (r[f"h{i}"] & _M64) == _spark_xxhash64_twin(i, r["text"])

    sig_rows = df.select(
        shingles(F.col("text"), 3).alias("sh"),
        minhash_signature("text", k=k, n=3, family="xxhash64").alias("sig"),
    ).collect()
    checked = 0
    for r in sig_rows:
        if not r["sh"]:
            assert r["sig"] is None
            continue
        expect = minhash_signature_twin(list(r["sh"]), k)
        assert list(r["sig"]) == expect
        checked += 1
    assert checked >= 3


def test_minhash_md5_and_xxhash_families_agree_on_planted_dups(spark):
    from knowledgegraphs_spark.operators.dedup import minhash_lsh_candidates

    base = " ".join(f"w{i:02d}" for i in range(30))
    rows = [(1, base), (2, base), (3, base.replace("w15", "w15x")),
            (4, " ".join(f"z{i:02d}" for i in range(30))), (5, "too short")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for family in ("md5", "xxhash64"):
        pairs = {(r.id_a, r.id_b)
                 for r in minhash_lsh_candidates(df, k=16, bands=4, family=family).collect()}
        assert (1, 2) in pairs, family          # exact dups always collide
        assert not any(4 in p or 5 in p for p in pairs), family


def test_dedup_clusters_transitive_and_singletons(spark):
    """d6: LSH pairs → connected components gives TRANSITIVE duplicate
    clusters (A~B and B~C put A,C in one cluster even if A,C never
    collide directly) with min-id canonical, and docs in no pair stay
    their own cluster. Forces the distributed large-star/small-star path
    (cc_driver_threshold=0), matching the contract query's configuration."""
    from knowledgegraphs_spark.config import EngineConfig
    from knowledgegraphs_spark.operators.canonicalize import connected_components
    from knowledgegraphs_spark.operators.dedup import minhash_lsh_candidates
    from pyspark.sql import functions as F

    base = " ".join(f"w{i:02d}" for i in range(30))
    rows = [
        (10, base),
        (11, base),                       # exact dup of 10
        (12, base.replace("w15", "w15x")),  # near dup — collides with the family
        (40, " ".join(f"z{i:02d}" for i in range(30))),  # isolated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_candidates(docs, k=16, bands=4, family="md5")
    comp = connected_components(
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")),
        EngineConfig(cc_driver_threshold=0),
    )
    clusters = {
        r.doc_id: r.cluster_id
        for r in docs.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("cluster_id"))
        .collect()
    }
    assert clusters[10] == clusters[11] == 10
    assert clusters[12] == 10  # transitive through the family
    assert clusters[40] == 40  # singleton untouched


def _make_png(pixels, color_type: int, filters=None) -> bytes:
    """Hand-rolled PNG encoder (stdlib zlib + crc32): 8-bit, one IDAT,
    per-row filter types chosen by ``filters`` — the encode-side inverse
    of the spec's unfiltering, so the decoder's five filter paths can be
    exercised deliberately."""
    import zlib as _zlib

    import numpy as _np

    px = _np.asarray(pixels, dtype=_np.uint8)
    h, w, n_ch = px.shape
    filters = filters or [0] * h
    stride = w * n_ch
    flat = px.reshape(h, stride).astype(_np.int16)
    raw = bytearray()
    prev = _np.zeros(stride, dtype=_np.int16)
    for y in range(h):
        row, ftype = flat[y], filters[y]
        enc = _np.zeros(stride, dtype=_np.int16)
        for x in range(stride):
            a = int(row[x - n_ch]) if x >= n_ch else 0
            b = int(prev[x])
            c = int(prev[x - n_ch]) if x >= n_ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            enc[x] = (int(row[x]) - pred) % 256
        raw.append(ftype)
        raw.extend(enc.astype(_np.uint8).tobytes())
        prev = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        import struct as s

        return (
            s.pack(">I", len(data))
            + ctype
            + data
            + s.pack(">I", _zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    import struct as s

    ihdr = s.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filter_types_and_color_types():
    """Real PNG bytes through the real decoder: every PNG filter type
    (None/Sub/Up/Average/Paeth) must unfilter back to the exact pixels,
    for RGB, grayscale and RGBA color types; unsupported depths raise."""
    import numpy as _np
    import pytest as _pytest

    from knowledgegraphs_spark.operators.multimodal import decode_payload

    # deterministic pseudo-random RGB image, one row per filter type
    rng = [((y * 31 + x * 7 + ch * 13) * 97) % 256 for y in range(5) for x in range(4) for ch in range(3)]
    px = _np.array(rng, dtype=_np.uint8).reshape(5, 4, 3)
    png = _make_png(px, color_type=2, filters=[0, 1, 2, 3, 4])
    f = decode_payload(png, "image")
    chans = px.reshape(-1, 3).astype(float)
    assert (f[0], f[1], f[2], f[3]) == (1.0, 4.0, 5.0, 3.0)
    for i in range(3):
        assert abs(f[4 + i] - chans[:, i].mean()) < 1e-4
        assert abs(f[8 + i] - chans[:, i].std()) < 1e-4
    assert (f[12], f[13]) == (float(chans.min()), float(chans.max()))

    # grayscale with Paeth everywhere, RGBA with Average everywhere
    g = _np.arange(24, dtype=_np.uint8).reshape(4, 6, 1) * 9 % 256
    fg = decode_payload(_make_png(g, color_type=0, filters=[4] * 4), "image")
    assert (fg[1], fg[2], fg[3]) == (6.0, 4.0, 1.0)
    assert abs(fg[4] - g.astype(float).mean()) < 1e-4
    rgba = _np.arange(32, dtype=_np.uint8).reshape(2, 4, 4) * 7 % 256
    fa = decode_payload(_make_png(rgba, color_type=6, filters=[3, 3]), "image")
    assert (fa[1], fa[2], fa[3]) == (4.0, 2.0, 4.0)

    # 16-bit depth is out of documented scope -> NotImplementedError
    import struct as s
    import zlib as _zlib

    def chunk(ctype, data):
        return s.pack(">I", len(data)) + ctype + data + s.pack(">I", _zlib.crc32(ctype + data) & 0xFFFFFFFF)

    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", s.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", _zlib.compress(b"\x00" * 26))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError):
        decode_payload(bad, "image")


def test_png_through_production_mapinpandas_path(spark):
    """PNG joins BMP/WAV on the production (non-fake) extract_features
    path."""
    import numpy as _np

    from knowledgegraphs_spark.operators.multimodal import FEATURE_DIM, extract_features

    px = _np.full((3, 3, 3), 77, dtype=_np.uint8)
    media = spark.createDataFrame(
        [(9, "image", bytearray(_make_png(px, color_type=2, filters=[0, 2, 1])))],
        "media_id long, kind string, payload binary",
    )
    row = extract_features(media).collect()[0]
    assert len(row.features) == FEATURE_DIM
    assert row.features[0] == 1.0 and row.features[4] == 77.0 and row.features[8] == 0.0


def test_simhash_multirotation_guaranteed_recall(spark):
    """With 4 disjoint 16-bit windows covering all 64 bits, a pair within
    Hamming distance 3 differs in at most 3 windows → at least one window
    is clean → the pair MUST collide (pigeonhole, not probability)."""
    from knowledgegraphs_spark.operators.dedup import simhash64_python, simhash_candidates

    base = [f"tok{i}" for i in range(40)]
    texts = [" ".join(base)]
    for i in range(12):
        variant = list(base)
        variant[i] = f"alt{i}"
        if i % 3 == 0:
            variant[(i + 7) % 40] = f"alt{i}b"
        texts.append(" ".join(variant))
    texts.append(" ".join(f"zzz{i}" for i in range(40)))
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

    sh = {i: simhash64_python(t) for i, t in enumerate(texts)}
    close = {
        (i, j)
        for i in sh
        for j in sh
        if i < j and bin((sh[i] ^ sh[j]) & ((1 << 64) - 1)).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b)
        for r in simhash_candidates(df, prefix_bits=16, rotations=4).collect()
    }
    assert close, "fixture produced no close pairs — broken fixture"
    assert close <= got, f"missed guaranteed pairs: {close - got}"
    # and hamming distances reported by the plan match the python twin
    for r in simhash_candidates(df, prefix_bits=16, rotations=4).collect():
        expect = bin((sh[r.id_a] ^ sh[r.id_b]) & ((1 << 64) - 1)).count("1")
        assert r.hamming_distance == expect


def test_ivf_probe_all_equals_brute_force_and_partial_recall(spark):
    """Probing ALL inverted lists covers the whole corpus → IVF must equal
    brute force exactly; probing half the lists keeps useful recall."""
    from pyspark.sql import functions as F

    from knowledgegraphs_spark.operators.simsearch import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    bf = {(r.query_id, r.neighbor_id, r.cosine, r.rank) for r in brute_force_topk(emb, q, k=3).collect()}
    full = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in ivf_topk(emb, q, k=3, n_centroids=8, n_probe=8).collect()
    }
    assert full == bf
    part_pairs = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, q, k=3, n_centroids=8, n_probe=4).collect()
    }
    bf_pairs = {(a, b) for a, b, _c, _r in bf}
    assert len(part_pairs & bf_pairs) / len(bf_pairs) >= 0.4


def test_centroid_assignment_join_path_equals_literal_at_256(spark):
    """The gated-twin contract for the centroid-count ceiling: above
    CENTROID_LITERAL_MAX the inlined-literal projection flips to a
    broadcast join + struct-max / rank. At 256 centroids (4x the gate,
    plus two placed on a rounding boundary) both paths must produce IDENTICAL rows for ivf_topk and
    semantic_dedup — same rounded cosines, same lower-id tie break —
    so the sqrt(N)-cluster regime is reachable without a semantics
    change.

    Vector 300 sits on a rounding boundary: its cosine to centroid 256 is
    the double just below a 7-decimal value ending in 5, which
    ``round(cos, 6)`` rounds down, below centroid 257's cosine, while
    ``round(cos * 1e6)`` of the product rounds up into a tie with it."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from knowledgegraphs_spark.operators.simsearch import (
        CENTROID_LITERAL_MAX,
        ivf_topk,
        semantic_dedup,
    )

    def vec(seed):
        h = hashlib.md5(f"v{seed}".encode()).digest()
        return [b / 255.0 - 0.5 for b in h[:8]]

    def unit(c):
        """[c, s, 0, ...] with c*c + s*s == 1.0 exactly: its cosine to
        e1 = [1, 0, ...] is c itself, bit for bit."""
        s = math.sqrt(1.0 - c * c)
        while c * c + s * s != 1.0:
            s = math.nextafter(s, 0.0 if c * c + s * s > 1.0 else 1.0)
        return [c, s] + [0.0] * 6

    # the first 0.99xxxx5 whose predecessor times 1e6 still reaches .5
    k = next(
        k for k in range(990000, 999999)
        if math.nextafter(float(f"0.{k}5"), 0.0) * 1e6 >= k + 0.5
    )
    below, up = math.nextafter(float(f"0.{k}5"), 0.0), float(f"0.{k + 1}")
    probe = spark.range(1).select(
        F.round(F.lit(below), 6).alias("cos6"),
        F.round(F.lit(below) * 1_000_000, 0).cast("long").alias("mcos"),
    ).first()
    assert probe.cos6 == float(f"0.{k}") and probe.mcos == k + 1  # the roundings disagree

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(300)] + [(300, [1.0] + [0.0] * 7)],
        "vec_id int, embedding array<double>",
    )
    centroids = [(i, vec(1000 + 7 * i)) for i in range(256)] + [(256, unit(below)), (257, unit(up))]
    assert len(centroids) > CENTROID_LITERAL_MAX
    q = emb.filter(F.col("vec_id") < 8)

    lit = {
        tuple(r)
        for r in ivf_topk(
            emb, q, k=3, n_probe=3, centroids=centroids, literal_max=10**6
        ).collect()
    }
    jn = {
        tuple(r)
        for r in ivf_topk(emb, q, k=3, n_probe=3, centroids=centroids, literal_max=0).collect()
    }
    dflt = {
        tuple(r)
        for r in ivf_topk(emb, q, k=3, n_probe=3, centroids=centroids).collect()
    }
    assert lit == jn and dflt == jn and len(jn) > 0

    sd_lit = {
        tuple(r)
        for r in semantic_dedup(
            emb, threshold=0.97, centroids=centroids, literal_max=10**6
        ).collect()
    }
    sd_jn = {
        tuple(r)
        for r in semantic_dedup(emb, threshold=0.97, centroids=centroids, literal_max=0).collect()
    }
    assert sd_lit == sd_jn and len(sd_jn) == 301
    assert {r[1] for r in sd_jn if r[0] == 300} == {257}


def test_gated_centroid_path_rejects_negative_ids(spark):
    """Above the literal ceiling the argmax packs (2^31 - cid) into the
    low 32 bits of one long, so a negative centroid id would carry into
    the cosine field and pick the wrong list. Both public entries refuse
    it instead of assigning silently wrong centroids."""
    from knowledgegraphs_spark.operators.simsearch import ivf_topk, semantic_dedup

    emb = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(4)], "vec_id int, embedding array<double>"
    )
    centroids = [(-1, [1.0, 0.0]), (1, [0.0, 1.0])]
    with pytest.raises(ValueError, match="non-negative"):
        ivf_topk(emb, emb, k=1, n_probe=1, centroids=centroids, literal_max=0)
    with pytest.raises(ValueError, match="non-negative"):
        semantic_dedup(emb, centroids=centroids, literal_max=0)


def test_ivf_trained_quantizer_improves_objective_and_stays_exact(spark):
    """Spherical-k-means quantizer (train_ivf_centroids): (a) Lloyd rounds
    strictly improve the quantization objective over the sampled init,
    (b) bit-deterministic across runs, (c) dropping the trained centroids
    into ivf_topk keeps probe-all == brute force (the quantizer changes
    WHICH lists exist, never correctness)."""
    from pyspark.sql import functions as F

    from knowledgegraphs_spark.operators.simsearch import (
        brute_force_topk,
        ivf_topk,
        quantization_score,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sampled = train_ivf_centroids(emb, n_centroids=8, n_iters=0)
    trained = train_ivf_centroids(emb, n_centroids=8, n_iters=4)
    trained2 = train_ivf_centroids(emb, n_centroids=8, n_iters=4)
    assert trained == trained2                                   # deterministic
    s0 = quantization_score(emb, sampled)
    s1 = quantization_score(emb, trained)
    assert s1 > s0 + 1e-6, (s0, s1)                              # objective up

    q = emb.filter(F.col("vec_id") < 10)
    bf = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in brute_force_topk(emb, q, k=3).collect()
    }
    full = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in ivf_topk(emb, q, k=3, n_probe=8, centroids=trained).collect()
    }
    assert full == bf


def test_trained_quantizer_matches_sequential_twin(spark):
    """The distributed trainer (per-partition moments, combined driver-
    side) must compute the SAME k-means as the sequential numpy twin the
    s3b oracle inlines — agreement to 1e-9 proves the moments-combine
    path, since the twin never touches Spark."""
    from __spark_entry__ import _lloyd_twin_centroids
    from knowledgegraphs_spark.operators.simsearch import train_ivf_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    trained = train_ivf_centroids(emb, n_centroids=8, n_iters=3)
    twin = _lloyd_twin_centroids("/root/testdata/sf0.001", n_centroids=8, n_iters=3)
    assert [c for c, _ in trained] == [c for c, _ in twin]
    for (_, a), (_, b) in zip(trained, twin):
        assert max(abs(x - y) for x, y in zip(a, b)) < 1e-9


def test_trained_quantizer_recall_not_worse_than_sampled(spark):
    """Partial-probe recall vs brute force with the trained quantizer must
    be >= the sampled quantizer's on the same corpus (the point of
    training: tighter lists -> better candidates per probe)."""
    from pyspark.sql import functions as F

    from knowledgegraphs_spark.operators.simsearch import (
        brute_force_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    bf_pairs = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, q, k=3).collect()
    }

    def recall(centroids):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(
                emb, q, k=3, n_centroids=8, n_probe=2, centroids=centroids
            ).collect()
        }
        return len(got & bf_pairs) / len(bf_pairs)

    sampled = train_ivf_centroids(emb, n_centroids=8, n_iters=0)
    trained = train_ivf_centroids(emb, n_centroids=8, n_iters=3)
    r_sampled, r_trained = recall(sampled), recall(trained)
    assert r_trained >= r_sampled, (r_sampled, r_trained)


def test_xxhash64_twin_on_generated_corpus(spark):
    """Primitive parity on a 100-string deterministic corpus (md5-derived
    lengths/contents — varied sizes cross the 4/8/32-byte XXH64 regimes)."""
    import hashlib as _h
    import struct as _struct

    from pyspark.sql import functions as F

    texts = []
    for i in range(100):
        h = _h.md5(f"corpus{i}".encode()).hexdigest()
        texts.append((h * ((i % 7) + 1))[: (i * 13) % 90 + 1])
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    rows = df.select("s", F.xxhash64(F.lit(3), F.col("s")).alias("h")).collect()
    for r in rows:
        seed = _xxh64(_struct.pack("<i", 3), 42)
        assert (r["h"] & _M64) == _xxh64(r["s"].encode("utf-8"), seed), r["s"]


def test_bucket_combination_explode_counts(spark):
    """The in-bucket pair explosion must emit exactly C(n,2) ordered pairs
    for an n-duplicate bucket, for every n — guards the slice/index logic
    that replaced the self-join."""
    from knowledgegraphs_spark.operators.dedup import minhash_lsh_candidates

    rows = []
    doc_id = 0
    text_of = {}
    for n in (2, 3, 4, 5, 6):
        body = " ".join(f"grp{n}tok{i}" for i in range(20))
        for _ in range(n):
            rows.append((doc_id, body))
            doc_id += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(df).collect()}
    expected = set()
    start = 0
    for n in (2, 3, 4, 5, 6):
        ids = list(range(start, start + n))
        expected |= {(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]}
        start += n
    assert pairs == expected


def test_unigram_logprob_ranks_typical_above_rare(spark):
    """t9: docs made of corpus-typical tokens outscore docs of hapaxes;
    zero-alpha-token docs are absent; n_toks counts alpha tokens only."""
    from knowledgegraphs_spark.operators.text_analysis import unigram_logprob

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),
        (3, "zygomorphic quixotry"),          # hapaxes
        (4, "12345 !!! ???"),                  # no alphabetic tokens
        (5, "the the the"),                    # most typical token only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in unigram_logprob(df).collect()}
    assert 4 not in got
    assert got[5].logprob > got[1].logprob > got[3].logprob
    assert got[1].n_toks == 6 and got[3].n_toks == 2
    import math
    # doc 5: p(the) = 7/17  (the×7, cat/sat/on/mat ×2 each, 2 hapaxes)
    assert abs(got[5].logprob - round(math.log(7 / 17), 6)) < 1e-9


def test_negative_samples_filtered_and_spread(spark):
    """m7: no negative equals its positive tail (filtered protocol), ~2
    negatives per positive (collisions only drop), corrupted tails spread
    broadly over the entity vocabulary, fully deterministic."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    pos = spark.read.parquet(f"{sf}/orders.parquet").count()
    neg = entry.q_negative_samples(spark, sf)
    rows = neg.collect()
    n_cust = spark.read.parquet(f"{sf}/customer.parquet").count()
    assert pos * 2 * 0.9 <= len(rows) <= pos * 2  # only true-tail collisions drop
    assert all(r.pred == "p_Orders_Customer" for r in rows[:50])
    distinct_tails = len({r.obj_neg for r in rows})
    assert distinct_tails > 0.5 * n_cust  # uniform-ish spread
    again = {(r.subj, r.neg_id, r.obj_neg) for r in entry.q_negative_samples(spark, sf).collect()}
    assert again == {(r.subj, r.neg_id, r.obj_neg) for r in rows}


def test_link_prediction_metrics_hand_computed(spark):
    """m8 machinery: ranks, tie-break, MRR and Hits@k pinned on a fixture
    with known ranks (q1 true first, q2 true third, q3 a score tie broken
    by candidate key in the true row's favor)."""
    from knowledgegraphs_spark.operators.ranking_eval import (
        link_prediction_metrics,
        ranked_candidates,
    )

    rows = [
        ("q1", "t", 10.0, True), ("q1", "n1", 5.0, False), ("q1", "n2", 3.0, False),
        ("q2", "t", 5.0, True), ("q2", "n1", 10.0, False), ("q2", "n2", 7.0, False),
        ("q3", "a", 7.0, True), ("q3", "b", 7.0, False),
    ]
    df = spark.createDataFrame(rows, "q string, cand string, score double, is_true boolean")
    ranks = {
        (r.q, r.cand): r.rank
        for r in ranked_candidates(df, "q", "cand", "score").collect()
    }
    assert ranks[("q1", "t")] == 1 and ranks[("q2", "t")] == 3
    assert ranks[("q3", "a")] == 1 and ranks[("q3", "b")] == 2  # tie -> cand asc
    m = link_prediction_metrics(df, "q", "cand", "score", "is_true", ks=(1, 3)).first()
    assert m.n_queries == 3
    assert m.mrr == round((1 + 1 / 3 + 1) / 3, 6)
    assert m.hits_at_1 == round(2 / 3, 6)
    assert m.hits_at_3 == 1.0


def test_skipgram_pairs_hand_computed(spark):
    """t11 semantics pinned: window ±1 over 'a b c b' gives exactly the
    adjacent pairs with multiplicity; edges of the document truncate; a
    second doc's tokens never pair across documents."""
    from knowledgegraphs_spark.operators.text_analysis import skipgram_pairs

    df = spark.createDataFrame(
        [(1, "a b c b"), (2, "z")], "doc_id long, text string"
    )
    got = {
        (r.center, r.context): r.n_pairs
        for r in skipgram_pairs(df, window=1).collect()
    }
    assert got == {("a", "b"): 1, ("b", "a"): 1, ("b", "c"): 2, ("c", "b"): 2}


def test_frequency_balanced_shards_balance_property(spark):
    """m9 machinery: the heaviest n_shards entities land on distinct
    shards, every shard gets floor/ceil(n/k) entities, and on a Zipf-ish
    frequency fixture the round-robin load gap stays far below the
    single-heaviest-entity weight (the failure mode of hash-sharding)."""
    from knowledgegraphs_spark.operators.training_filters import (
        frequency_balanced_shards,
    )

    rows = [(f"e{i:03d}", 10_000 // (i + 1)) for i in range(100)]
    df = spark.createDataFrame(rows, "ent string, freq long")
    out = frequency_balanced_shards(df, n_shards=4).collect()
    by_rank = sorted(out, key=lambda r: r.rank)
    assert [r.shard for r in by_rank[:4]] == [0, 1, 2, 3]
    from collections import Counter

    n_per = Counter(r.shard for r in out)
    assert set(n_per.values()) == {25}
    load = Counter()
    for r in out:
        load[r.shard] += r.freq
    gap = max(load.values()) - min(load.values())
    # provable round-robin bound: per rank-window gaps telescope to
    # f_max - f_min (hash-sharding has no such bound — one hot shard can
    # carry ALL heavy entities)
    assert gap <= 10_000 - 100, dict(load)
    # shard 0 takes the head of every window, so it must be the heaviest
    assert max(load, key=load.get) == 0


def test_leakage_free_split_keeps_clusters_together(spark):
    """t12 invariant: every duplicate cluster lands wholly in one split;
    the split is deterministic; both splits are non-empty on a fixture
    with many singleton clusters."""
    from knowledgegraphs_spark.operators.training_filters import leakage_free_split

    rows = [(i, i // 3 * 3) for i in range(300)]  # clusters of 3
    df = spark.createDataFrame(rows, "doc_id long, cluster_id long")
    out = leakage_free_split(df, val_frac=0.3).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())  # no straddling
    splits = {r.split for r in out}
    assert splits == {"train", "val"}
    n_val = sum(1 for r in out if r.split == "val")
    assert 0.15 < n_val / len(out) < 0.45  # ~val_frac in expectation
    again = {(r.doc_id, r.split) for r in leakage_free_split(df, val_frac=0.3).collect()}
    assert again == {(r.doc_id, r.split) for r in out}


def test_bigram_logprob_catches_shuffled_text(spark):
    """t13's reason to exist: a document whose tokens are corpus-typical
    but whose TRANSITIONS are shuffled scores below the intact ones
    under the bigram model, while short docs (<2 tokens) are absent.
    Hand-check: with three identical docs and one shuffled, the intact
    docs' transitions have higher conditional probability."""
    import math

    from knowledgegraphs_spark.operators.text_analysis import bigram_logprob

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),
        (3, "the cat sat on the mat"),
        (4, "mat the on cat the sat"),  # same unigram profile, shuffled
        (5, "one"),                      # single token: no bigram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in bigram_logprob(df).collect()}
    assert 5 not in got
    assert got[1].n_bigrams == 5
    assert got[1].logprob == got[2].logprob == got[3].logprob
    assert got[4].logprob < got[1].logprob
    # exact value for one transition: P(cat|the) = c(the,cat)/c(the as ctx)
    # corpus: "the cat"x3, "the mat"... ctx 'the' appears (the,cat)x3,
    # (the,on)? no — intact: the->cat, cat->sat, sat->on, on->the, the->mat
    # shuffled: mat->the, the->on, on->cat, cat->the, the->sat
    # c(the,*) = 3+3 (intact the->cat,the->mat) + 2 (shuf the->on,the->sat) = 8
    p_the_cat = 3 / 8
    assert abs(
        got[1].logprob
        - round(
            (
                math.log(3 / 8)      # the->cat
                + math.log(3 / 4)    # cat->sat (cat ctx: 3 intact + 1 shuf)
                + math.log(3 / 3)    # sat->on
                + math.log(3 / 4)    # on->the (on ctx: 3 intact + 1 shuf)
                + math.log(3 / 8)    # the->mat
            )
            / 5,
            6,
        )
    ) < 1e-9, (p_the_cat, got[1].logprob)


def test_duplicated_span_fraction_hand_computed(spark):
    """d7 semantics pinned: a doc sharing its opening 5-gram with
    another doc counts exactly the shared positions; a fully unique doc
    scores 0; within-doc repetition counts; < n tokens -> absent."""
    from knowledgegraphs_spark.operators.dedup import duplicated_span_fraction

    rows = [
        (1, "a b c d e f"),           # grams: abcde, bcdef
        (2, "a b c d e x"),           # grams: abcde, bcdex -> shares abcde
        (3, "p q r s t u"),           # unique
        (4, "m m m m m m m m m m"),   # within-doc repeated gram
        (5, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in duplicated_span_fraction(df, n=5).collect()}
    assert 5 not in got
    assert (got[1].n_positions, got[1].n_dup_positions, got[1].dup_fraction) == (2, 1, 0.5)
    assert (got[2].n_positions, got[2].n_dup_positions) == (2, 1)
    assert got[3].n_dup_positions == 0 and got[3].dup_fraction == 0.0
    assert got[4].n_positions == 6 and got[4].dup_fraction == 1.0


def test_soundex_twin_matches_spark_on_generated_words(spark):
    """x17's oracle depends on the pure-Python Soundex twin equaling the
    JVM F.soundex — pinned over a generated word list crossing the
    tricky cases (H/W transparency, doubled letters, vowel resets,
    short codes, all-vowel tails)."""
    from pyspark.sql import functions as F

    from knowledgegraphs_spark.functions.naming import soundex_py

    words = [
        "Robert", "Rupert", "Ashcraft", "Ashcroft", "Tymczak", "Pfister",
        "Honeyman", "aaaaa", "bcdl", "Wu", "HW", "lemon", "blush",
        "midnight", "Czarkowska", "Schmidt", "Schneider",
    ] + [f"w{i}x{chr(97 + i % 26)}" for i in range(30)]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r.w: r.sx for r in df.select("w", F.soundex(F.upper(F.col("w"))).alias("sx")).collect()}
    for w in words:
        assert got[w] == soundex_py(w), (w, got[w], soundex_py(w))


def test_char_entropy_hand_computed(spark):
    """t14: exact entropy for known distributions — uniform 2-char doc =
    ln 2, single-char doc = exactly 0.0 (never -0.0), empty doc absent,
    repetitive text scores below varied text."""
    import math

    from knowledgegraphs_spark.operators.text_analysis import char_entropy

    rows = [
        (1, "abab"),         # p(a)=p(b)=0.5 -> ln 2
        (2, "aaaa"),         # single symbol -> 0.0
        (3, ""),             # absent
        (4, "abcdefgh"),     # uniform 8 -> ln 8
        (5, "aaaaaaab"),     # skewed
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in char_entropy(df).collect()}
    assert 3 not in got
    assert got[1].n_chars == 4 and got[1].entropy == round(math.log(2), 6)
    assert got[2].entropy == 0.0 and math.copysign(1, got[2].entropy) == 1.0
    assert got[4].entropy == round(math.log(8), 6)
    skew = -(7 / 8) * math.log(7 / 8) - (1 / 8) * math.log(1 / 8)
    assert got[5].entropy == round(skew, 6)
    assert got[2].entropy < got[5].entropy < got[4].entropy


# ---------------------------------------------------------------------------
# d8: SemDeDup — semantic dedup by embedding clusters
# ---------------------------------------------------------------------------


def test_semantic_dedup_drops_higher_id_twin(spark):
    from knowledgegraphs_spark.operators.simsearch import semantic_dedup

    # two planted near-duplicate families along distinct axes + singletons
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # dup of 1 (higher id -> dropped)
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.999, 0.02, 0.0]),   # dup of 3 -> dropped
        (5, [0.0, 0.0, 1.0, 0.0]),
        (6, [0.0, 0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = {r["vec_id"]: r["kept"] for r in semantic_dedup(
        emb, threshold=0.95, n_centroids=4, n_iters=2
    ).collect()}
    assert out == {1: True, 2: False, 3: True, 4: False, 5: True, 6: True}


def test_semantic_dedup_partitioning_invariant(spark):
    from knowledgegraphs_spark.operators.simsearch import semantic_dedup

    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(6)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    a = sorted(tuple(r) for r in semantic_dedup(emb.coalesce(1), threshold=0.98, n_centroids=4, n_iters=2).collect())
    b = sorted(tuple(r) for r in semantic_dedup(emb.repartition(7), threshold=0.98, n_centroids=4, n_iters=2).collect())
    assert a == b


def test_scalar_quantize_codes_and_rmse(spark):
    import math

    import pytest

    from knowledgegraphs_spark.operators.simsearch import scalar_quantize

    rows = [(1, [0.0, 5.0]), (2, [1.0, 5.0]), (3, [0.5, 5.0])]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = {r["vec_id"]: (r["qvec"], r["rmse"]) for r in scalar_quantize(emb).collect()}
    # dim 0 spans [0,1] -> codes 0 / 255 / 128; dim 1 is constant -> code 0
    assert out[1][0] == [0, 0]
    assert out[2][0] == [255, 0]
    assert out[3][0] == [128, 0]
    # endpoints reconstruct exactly on dim 0; constant dim reconstructs to lo
    assert out[1][1] == 0.0 and out[2][1] == 0.0
    # mid value 0.5 -> code 128 -> 128/255 = 0.50196..., rmse = |err|/sqrt(2)
    err = 128 / 255 - 0.5
    assert abs(out[3][1] - round(math.sqrt(err * err / 2), 6)) < 1e-9
    with pytest.raises(ValueError, match="levels"):
        scalar_quantize(emb, levels=1)


def test_event_funnel_strict_ordering(spark, monkeypatch):
    """A user whose purchase precedes the click must NOT count as
    converted — the strict-order semantics presence-only funnels miss."""
    import datetime as dt

    import __spark_entry__ as entry_mod

    base = dt.datetime(2024, 1, 1)
    rows = [
        # u1: proper view -> click -> purchase
        (1, base, 1, "view", 0.0, "{}"),
        (2, base + dt.timedelta(minutes=1), 1, "click", 0.0, "{}"),
        (3, base + dt.timedelta(minutes=2), 1, "purchase", 0.0, "{}"),
        # u2: purchase BEFORE click -> reaches click, not purchase
        (4, base, 2, "view", 0.0, "{}"),
        (5, base + dt.timedelta(minutes=1), 2, "purchase", 0.0, "{}"),
        (6, base + dt.timedelta(minutes=2), 2, "click", 0.0, "{}"),
        # u3: click only, never viewed -> reaches nothing
        (7, base, 3, "click", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    monkeypatch.setattr(entry_mod, "_t", lambda _s, _d, _n: ev)
    got = {r["name"]: (r["n_users"], r["conversion"]) for r in
           entry_mod.q_event_funnel(spark, "ignored").collect()}
    assert got["view"] == (2, 1.0)
    assert got["click"] == (2, 1.0)
    assert got["purchase"] == (1, 0.5)


def test_bm25_term_rarity_and_tf_saturation(spark):
    from knowledgegraphs_spark.operators.retrieval import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "apple banana cherry"),
            (2, "apple apple apple apple banana"),
            (3, "apple kiwi kiwi"),
            (4, "plum plum plum"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: (r["score"], r["rank"]) for r in
           bm25_scores(docs, ["kiwi", "apple"], top_n=4).collect()}
    # doc 4 has neither term -> absent
    assert 4 not in out and len(out) == 3
    # kiwi is rare (df=1) -> doc 3 outranks the apple-stuffed doc 2
    assert out[3][1] == 1
    # tf saturation: doc 2's 4x apple beats doc 1's 1x apple, but far
    # less than 4x the score
    assert out[2][0] > out[1][0] < out[2][0] * 4


def test_rrf_fuse_rank_only(spark):
    import pytest

    from knowledgegraphs_spark.operators.retrieval import rrf_fuse

    r1 = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "doc_id int, rank int")
    r2 = spark.createDataFrame([(20, 1), (40, 2)], "doc_id int, rank int")
    got = {r["doc_id"]: r["rank"] for r in rrf_fuse([r1, r2], k=60).collect()}
    # 20 appears in both lists -> fused winner despite never ranking 1st+1st
    assert got[20] == 1
    assert set(got) == {10, 20, 30, 40}
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])
