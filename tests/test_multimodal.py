"""Multimodal kernel plumbing (SURVEY.md §2.10): schema, batch shape,
fan-out, and empty-payload handling for the mapInPandas media kernels."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from demo_apache_flink_streaming_mode_spark.operators import multimodal
from demo_apache_flink_streaming_mode_spark.sources.batch import load_table
from demo_apache_flink_streaming_mode_spark.streaming import generators, sinks


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    return multimodal.to_media(load_table(spark, sf_dir, "documents").limit(50))


def test_resize_bounds_and_schema(spark, media):
    out = multimodal.resize_media(media, target_bytes=128).collect()
    assert len(out) == 50
    for r in out:
        assert r["n_bytes"] == len(r["media"]) <= 128
        assert r["media_type"].startswith("resized/")


def test_resize_deterministic(spark, media):
    a = {r["doc_id"]: bytes(r["media"])
         for r in multimodal.resize_media(media, target_bytes=64).collect()}
    b = {r["doc_id"]: bytes(r["media"])
         for r in multimodal.resize_media(media, target_bytes=64).collect()}
    assert a == b


def test_frame_sampling_fanout(spark, media):
    frames = multimodal.sample_frames(media, frame_bytes=64, every_n=2)
    rows = frames.collect()
    assert len(rows) > 50  # fan-out: more frames than docs
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    sizes = {r["doc_id"]: r["n_bytes"]
             for r in multimodal.media_manifest(media).collect()}
    for doc_id, fr in by_doc.items():
        n = max(1, (sizes[doc_id] + 63) // 64)
        assert all(f["n_frames"] == n for f in fr)
        assert sorted(f["frame_idx"] for f in fr) == list(range(0, n, 2))


def test_rate_generators_shape(spark):
    """S3 — rate-source generators produce the reference value domains."""
    df = generators.audit_trail_generator(spark, rows_per_second=100)
    q = (df.writeStream.format("memory").queryName("t_gen")
         .outputMode("append")
         .trigger(processingTime="500 milliseconds").start())
    import time
    deadline = time.time() + 30
    while time.time() < deadline and spark.table("t_gen").count() < 5:
        time.sleep(0.5)
    q.stop()
    rows = spark.table("t_gen").collect()
    assert len(rows) >= 5
    for r in rows:
        assert r["user"] in generators.USERS
        assert r["operation"] in generators.OPERATIONS
        assert r["entity"] in generators.ENTITIES
        assert 1 <= r["duration"] <= 10 and 1 <= r["change_count"] <= 4


def test_png_roundtrip_exercises_all_filters():
    """The PNG containerization cycles filters 0-4 per scanline, so a
    6-row payload forces every reconstruction branch; decoding must
    recover the exact payload bytes (plus zero pad) — DEFLATE + CRC +
    unfilter proven lossless without Spark in the loop."""
    import struct
    import zlib
    w = multimodal.PNG_WIDTH
    payload = bytes(range(256)) * ((6 * w) // 256 + 1)
    payload = payload[:6 * w - 7]  # 6 rows, ragged last row
    blob = multimodal._encode_png(payload)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    # filters actually vary (byte 0 of each decompressed scanline)
    idat = b""
    pos = 8
    while pos < len(blob):
        ln, typ = struct.unpack_from(">I4s", blob, pos)
        if typ == b"IDAT":
            idat += blob[pos + 8:pos + 8 + ln]
        pos += 12 + ln
    raw = zlib.decompress(idat)
    assert [raw[r * (w + 1)] for r in range(6)] == [0, 1, 2, 3, 4, 0]
    # the container is genuinely compressed for this repetitive payload
    assert len(blob) < len(payload)


def test_png_decode_matches_payload(spark, media):
    got = {r["doc_id"]: r for r in
           multimodal.png_decode_features(media).collect()}
    src = {r["doc_id"]: bytes(r["media"]) for r in media.collect()}
    assert got.keys() == src.keys() and got
    w = multimodal.PNG_WIDTH
    for doc_id, b in src.items():
        r = got[doc_id]
        h = (len(b) + w - 1) // w
        px = b.ljust(h * w, b"\x00")
        assert (r["width"], r["height"], r["n_px"]) == (w, h, h * w)
        assert r["max_px"] == (max(px) if px else 0)
        assert abs(r["mean_px"] - (sum(px) / len(px) if px else 0.0)) < 1e-12


def test_gif_decode_matches_payload(spark, media):
    """Spark-side GIF89a round-trip: the from-scratch LZW decode of
    every containerized payload reproduces the payload bytes plus the
    zero padding — the same lossless contract as PNG, proven through a
    genuinely different coder (dictionary, not DEFLATE)."""
    got = {r["doc_id"]: r for r in
           multimodal.gif_decode_features(media).collect()}
    src = {r["doc_id"]: bytes(r["media"]) for r in media.collect()}
    assert got.keys() == src.keys() and got
    w = multimodal.GIF_WIDTH
    for doc_id, b in src.items():
        r = got[doc_id]
        h = (len(b) + w - 1) // w
        px = b.ljust(h * w, b"\x00")
        assert (r["width"], r["height"], r["n_colors"],
                r["n_px"]) == (w, h, 256, h * w)
        assert r["max_px"] == (max(px) if px else 0)
        assert abs(r["mean_px"] - (sum(px) / len(px) if px else 0.0)) < 1e-12


def test_png_crc_corruption_detected():
    """Flipping one IDAT byte must fail the decoder's chunk CRC check
    — _decode_png (the exact code the kernel runs) validates
    integrity, it does not just trust the stream. An intact blob
    round-trips through the same function."""
    import struct
    payload = b"hello png world" * 20
    good = multimodal._encode_png(payload)
    w, h, bd, ct, px = multimodal._decode_png(good)
    assert px.rstrip(b"\x00") == payload.rstrip(b"\x00") and bd == 8
    blob = bytearray(good)
    pos = 8
    while pos < len(blob):
        ln, typ = struct.unpack_from(">I4s", bytes(blob), pos)
        if typ == b"IDAT":
            blob[pos + 8] ^= 0xFF
            break
        pos += 12 + ln
    with pytest.raises(ValueError, match="CRC mismatch"):
        multimodal._decode_png(bytes(blob))


def test_jpeg_roundtrip_error_bounded():
    """The baseline-JPEG roundtrip (DCT -> quantize -> Huffman ->
    decode) must stay within the PROVABLE error bound for arbitrary
    byte payloads, and far under it for realistic ones — without Spark
    in the loop. Also pins that the entropy stream exercises byte
    stuffing across the sample (an unstuffed decoder would corrupt)."""
    import numpy as np
    rng = np.random.default_rng(42)
    stuffed = False
    for _ in range(60):
        n = int(rng.integers(1, 700))
        payload = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        blob = multimodal._encode_jpeg(payload)
        assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
        stuffed = stuffed or b"\xff\x00" in blob[2:-2]
        w, h, px = multimodal._decode_jpeg(blob)
        assert (w, h) == multimodal._jpeg_dims(n)
        orig = np.frombuffer(payload.ljust(h * w, b"\x00"),
                             dtype=np.uint8).reshape(h, w)
        err = int(np.max(np.abs(px.astype(int) - orig.astype(int))))
        assert err <= multimodal.JPEG_ERR_BOUND, err
    assert stuffed, "no payload produced a stuffed 0xFF in the scan data"


def test_jpeg_constant_blocks_roundtrip_exactly():
    """A constant 8x8 block has only a DC coefficient; with DC
    quantization step 1 the roundtrip is EXACT — separating the
    transform-codec machinery (provably clean here) from the
    quantization loss (bounded elsewhere)."""
    import numpy as np
    for v in (0, 1, 77, 128, 254, 255):
        payload = bytes([v]) * (multimodal.JPEG_W * 8)
        w, h, px = multimodal._decode_jpeg(multimodal._encode_jpeg(payload))
        assert (px == np.full((h, w), v, dtype=np.uint8)).all(), v


def test_jpeg_decoder_rejects_corruption():
    """The decoder is a real marker-stream parser: truncation,
    progressive SOF markers, and non-JPEG prefixes all raise rather
    than decode garbage."""
    payload = b"hello jpeg world" * 20
    good = multimodal._encode_jpeg(payload)
    with pytest.raises(ValueError, match="SOI"):
        multimodal._decode_jpeg(b"\x00" + good)
    # swap baseline SOF0 for progressive SOF2
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="baseline"):
        multimodal._decode_jpeg(prog)


def test_jpeg_decode_matches_geometry_and_flag(spark, media):
    got = {r["doc_id"]: r for r in
           multimodal.jpeg_decode_features(media).collect()}
    src = {r["doc_id"]: bytes(r["media"]) for r in media.collect()}
    assert got.keys() == src.keys() and got
    for doc_id, b in src.items():
        r = got[doc_id]
        w, h = multimodal._jpeg_dims(len(b))
        assert (r["width"], r["height"], r["n_px"]) == (w, h, w * h)
        assert r["n_blocks"] == (w // 8) * (h // 8)
        assert r["err_le_16"] is True


def test_mjpeg_frames_decode_within_bound():
    """MJPEG = independent JPEG bitstreams inside the RIFF container:
    frame chunks must have VARYING sizes (real compression), every
    sampled frame must reconstruct its payload slice within the JPEG
    bound, and a corrupted frame bitstream must raise."""
    import numpy as np
    payload = bytes(range(256)) * 3 + b"tail bytes beyond a frame"
    blob = multimodal._encode_mjpeg_avi(payload)
    _avih, frames = multimodal._avi_frames(blob, b"00dc")
    fs = multimodal.MJPEG_W * multimodal.MJPEG_H
    assert len(frames) == (len(payload) + fs - 1) // fs
    assert len({len(f) for f in frames}) > 1, \
        "all frame chunks same size - not compressed?"
    for i, fr in enumerate(frames):
        w, h, px = multimodal._decode_jpeg(fr)
        assert (w, h) == (multimodal.MJPEG_W, multimodal.MJPEG_H)
        orig = np.frombuffer(payload[i * fs:(i + 1) * fs].ljust(fs, b"\x00"),
                             dtype=np.uint8).reshape(h, w)
        assert int(np.max(np.abs(px.astype(int) - orig.astype(int)))) \
            <= multimodal.JPEG_ERR_BOUND
    with pytest.raises(ValueError):
        multimodal._decode_jpeg(frames[0][:40])  # truncated bitstream


def test_mjpeg_kernel_fanout_and_flags(spark, media):
    rows = multimodal.mjpeg_decode_frames(media).collect()
    src = {r["doc_id"]: bytes(r["media"]) for r in media.collect()}
    assert len(rows) >= len(src)
    fs = multimodal.MJPEG_W * multimodal.MJPEG_H
    for r in rows:
        nf = max(1, (len(src[r["doc_id"]]) + fs - 1) // fs)
        assert r["n_frames"] == nf and r["frame_idx"] % multimodal.MJPEG_EVERY_N == 0
        assert r["err_le_16"] is True


FANOUT_KERNELS = {
    "mm_decode_video": multimodal.avi_decode_frames,
    "mm_decode_mjpeg": multimodal.mjpeg_decode_frames,
    "mm_decode_flic": multimodal.flic_decode_frames,
    "mm_decode_mcv": multimodal.mcv_decode_frames,
    "mm_decode_mcv2": multimodal.mcv2_decode_frames,
    "mm_decode_mcv3": multimodal.mcv3_decode_frames,
    "mm_decode_mcv4": multimodal.mcv4_decode_frames,
}


@pytest.mark.parametrize("query", sorted(FANOUT_KERNELS))
def test_fanout_empty_payload_yields_zero_frames(spark, query):
    """An EMPTY payload encodes as a zero-frame stream, so each frame
    fan-out kernel emits ZERO rows for that doc — and its registry
    oracle's frame count carries the matching CASE WHEN n = 0 THEN 0
    guard (the oracle comparison would otherwise diverge by one phantom
    frame_idx-0 row). Doc 3 sits alone in its own partition, so one
    Arrow batch yields no rows at all."""
    import duckdb

    from demo_apache_flink_streaming_mode_spark.plans.registry import get

    schema = "doc_id long, media binary, media_type string"
    rdd = spark.sparkContext.parallelize(
        [(3, b"", "t"), (1, b"", "t"), (2, b"x", "t")], 2)
    media = spark.createDataFrame(rdd, schema)
    layout = media.rdd.glom().map(
        lambda p: sorted(r["doc_id"] for r in p)).collect()
    assert sorted(layout) == [[1, 2], [3]]
    rows = FANOUT_KERNELS[query](media).collect()
    assert sorted(r["doc_id"] for r in rows) == [2]

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM (VALUES "
                "(1, ''), (2, 'x'), (3, '')) AS t(doc_id, text)")
    got = con.execute(get(query).oracle).fetchall()
    assert sorted(r[0] for r in got) == [2]


def test_empty_avi_is_a_well_formed_container():
    """An empty payload still writes a parseable RIFF tree: header
    present, zero frames on both the raw and the MJPEG writer."""
    for blob, chunk_id in ((multimodal._encode_avi(b""), b"00db"),
                           (multimodal._encode_mjpeg_avi(b""), b"00dc")):
        avih, frames = multimodal._avi_frames(blob, chunk_id)
        assert avih[4] == 0 and frames == []


def test_flic_kernel_fanout_and_stats(spark, media):
    rows = multimodal.flic_decode_frames(media).collect()
    src = {r["doc_id"]: bytes(r["media"]) for r in media.collect()}
    assert len(rows) >= len([p for p in src.values() if p])
    fs = multimodal.FLIC_W * multimodal.FLIC_H
    for r in rows:
        p = src[r["doc_id"]]
        nf = (len(p) + fs - 1) // fs if p else 0
        sl = p[r["frame_idx"] * fs:(r["frame_idx"] + 1) * fs]
        assert r["n_frames"] == nf
        assert r["is_key"] == (r["frame_idx"] == 0)
        assert r["max_px"] == max(sl) and r["mean_px"] == sum(sl) / fs


def test_mcv_kernel_fanout_and_stats(spark, media):
    """MCV mirrors FLIC's lossless contract through genuine motion
    estimation: per-frame stats over the reconstructed pixels equal
    exact byte math over the (zero-padded) payload slices."""
    rows = multimodal.mcv_decode_frames(media).collect()
    src = {r["doc_id"]: bytes(r["media"]) for r in media.collect()}
    assert len(rows) >= len([p for p in src.values() if p])
    fs = multimodal.MCV_W * multimodal.MCV_H
    for r in rows:
        p = src[r["doc_id"]]
        nf = (len(p) + fs - 1) // fs if p else 0
        sl = p[r["frame_idx"] * fs:(r["frame_idx"] + 1) * fs]
        assert r["n_frames"] == (max(1, nf) if p else nf)
        assert r["is_key"] == (r["frame_idx"] == 0)
        assert r["max_px"] == (max(sl) if sl else 0)
        assert r["mean_px"] == sum(sl) / fs


def test_mdct_kernel_geometry_and_flags(spark, media):
    rows = multimodal.mdct_decode_features(media).collect()
    src = {r["doc_id"]: bytes(r["media"]) for r in media.collect()}
    assert len(rows) == len(src)
    for r in rows:
        n = len(src[r["doc_id"]])
        nb = (n + multimodal.MDCT_N - 1) // multimodal.MDCT_N + 1 if n else 0
        assert (r["n_samples"], r["n_frames"]) == (n, nb)
        assert r["err_le_16"] is True


def test_flac_roundtrip_lossless_and_compresses_smooth_signals():
    """The FLAC subset must be LOSSLESS for arbitrary bytes, and its
    fixed linear predictors must genuinely compress predictable
    signals (a ramp) — proving the prediction+Rice machinery does
    real work, not just containerization."""
    import numpy as np
    rng = np.random.default_rng(5)
    for _ in range(30):
        n = int(rng.integers(1, 1200))
        payload = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        rate, nf, back = multimodal._decode_flac(
            multimodal._encode_flac(payload))
        assert back == payload and rate == multimodal.FLAC_RATE
        assert nf == (n + multimodal.FLAC_BLOCK - 1) // multimodal.FLAC_BLOCK
    ramp = bytes((i // 4) % 256 for i in range(1024))
    blob = multimodal._encode_flac(ramp)
    assert len(blob) < 0.5 * len(ramp), "predictors failed to compress a ramp"
    assert multimodal._decode_flac(blob)[2] == ramp


def test_flac_corruption_detected_by_crc_and_md5():
    """Real integrity machinery: a bit flip in frame data must fail the
    frame CRC-16; a corrupted STREAMINFO MD5 must fail the final
    whole-stream check (proving both layers are actually verified)."""
    payload = b"integrity check payload " * 20
    good = multimodal._encode_flac(payload)
    flipped = bytearray(good)
    flipped[60] ^= 0x10             # inside the first frame
    with pytest.raises(ValueError, match="CRC"):
        multimodal._decode_flac(bytes(flipped))
    bad_md5 = bytearray(good)
    bad_md5[4 + 4 + 18] ^= 0xFF     # first byte of the STREAMINFO MD5
    with pytest.raises(ValueError, match="MD5"):
        multimodal._decode_flac(bytes(bad_md5))
    with pytest.raises(ValueError, match="FLAC"):
        multimodal._decode_flac(b"RIFF" + good)


def test_flac_kernel_stats_match_payload(spark, media):
    got = {r["doc_id"]: r for r in
           multimodal.flac_decode_features(media).collect()}
    src = {r["doc_id"]: bytes(r["media"]) for r in media.collect()}
    assert got.keys() == src.keys() and got
    for doc_id, b in src.items():
        r = got[doc_id]
        assert r["n_samples"] == len(b)
        assert r["max_amp"] == (max(b) if b else 0)
        assert abs(r["mean_amp"] - sum(b) / len(b)) < 1e-12


# --- perceptual hash (dHash) ---------------------------------------------


def _doc_media(spark, payloads):
    # build media directly from binary so payload bytes are exact
    # (UTF-8 text round-trips can't express arbitrary byte values)
    return spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "doc_id long, media binary")


def test_dhash_brightness_invariance(spark):
    """dHash compares block-sum ORDER, so a uniform brightness shift
    (every byte +delta, no clipping) must leave every band unchanged."""
    import random
    rng = random.Random(7)
    base = bytes(rng.randrange(0, 200) for _ in range(256))
    brighter = bytes(v + 40 for v in base)
    out = {r["doc_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
           for r in multimodal.media_dhash(
               _doc_media(spark, [base, brighter])).collect()}
    assert out[0] == out[1]
    pairs = multimodal.phash_near_pairs(
        _doc_media(spark, [base, brighter])).collect()
    assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs] == [(0, 1, 0)]


def test_dhash_localized_edit_small_hamming(spark):
    """Flipping ONE 2x2 block's brightness perturbs only the bits whose
    comparisons touch that block (<= 2 of 64), while a full reshuffle
    of the frame moves many bits — the locality property that makes a
    perceptual hash a near-dup signal rather than a checksum."""
    import random
    rng = random.Random(11)
    base = bytes(rng.randrange(0, 150) for _ in range(256))
    edited = bytearray(base)
    for dr in range(2):
        for dc in range(2):
            edited[(4 + dr) * 16 + 6 + dc] = 255  # one block maxed
    shuffled = list(base)
    rng.shuffle(shuffled)
    sig = {r["doc_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
           for r in multimodal.media_dhash(_doc_media(
               spark, [base, bytes(edited), bytes(shuffled)])).collect()}

    def hamming(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    assert 0 < hamming(sig[0], sig[1]) <= 2
    assert hamming(sig[0], sig[2]) > 2


def test_phash_banding_complete_vs_bruteforce(spark, sf_dir):
    """Pigeonhole completeness on real data: the banded join finds
    EXACTLY the pairs an all-pairs Hamming scan finds at the same
    threshold."""
    media = multimodal.to_media(
        load_table(spark, sf_dir, "documents").limit(120))
    got = sorted((r["doc_a"], r["doc_b"], r["hamming"])
                 for r in multimodal.phash_near_pairs(media).collect())
    sig = {r["doc_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
           for r in multimodal.media_dhash(media).collect()}
    ids = sorted(sig)
    want = sorted(
        (a, b, h) for i, a in enumerate(ids) for b in ids[i + 1:]
        if (h := sum(bin(x ^ y).count("1")
                     for x, y in zip(sig[a], sig[b])))
        <= multimodal.PHASH_MAX_HAMMING)
    assert got == want and len(sig) == 120


def test_phash_rejects_incomplete_banding(spark):
    with pytest.raises(ValueError, match="pigeonhole"):
        multimodal.phash_near_pairs(
            _doc_media(spark, [b"x" * 256]), max_hamming=4)
