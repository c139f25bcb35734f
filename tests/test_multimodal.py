"""Multimodal plumbing tests: oracle parity for the binary stats,
Arrow batch shapes + determinism for the stubbed decode path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from honors_p1_mapreduce_spark import registry
from honors_p1_mapreduce_spark.operators import multimodal as mm

from .oracle import compare_query


def test_media_stats_oracle(spark, sf_dir):
    compare_query(
        spark, sf_dir, registry.QUERIES["media_stats"],
        registry.ORACLES["media_stats"],
    )


def test_media_decode_oracle(spark, sf_dir):
    compare_query(
        spark, sf_dir, registry.QUERIES["media_decode_features"],
        registry.ORACLES["media_decode_features"],
    )
    compare_query(
        spark, sf_dir, registry.QUERIES["media_frame_sample"],
        registry.ORACLES["media_frame_sample"],
    )


def test_registered_decode_is_canon_safe(spark, sf_dir):
    # the registered query must not carry list-typed cells (the driver's
    # pandas canonicalizer cannot sort them); the raw feature array stays
    # on the library-level decode_media_features
    out = registry.QUERIES["media_decode_features"](spark, sf_dir)
    assert out.columns == [
        "doc_id", "media_type", "n_bytes", "width", "height", "n_frames",
        "feature_digest",
    ]


def test_decode_shapes_and_determinism(spark, sf_dir):
    out = mm.decode_media_features(mm.media_table(spark, sf_dir))
    assert out.columns == [
        "doc_id", "media_type", "n_bytes", "width", "height", "n_frames",
        "feature",
    ]
    rows = out.collect()
    n_docs = mm.media_table(spark, sf_dir).count()
    assert len(rows) == n_docs  # 1:1, no rows lost in the UDF
    for r in rows[:20]:
        assert len(r.feature) == mm.FEATURE_DIM
        assert 16 <= r.width <= 255 and 16 <= r.height <= 255
        if r.media_type.startswith("video/"):
            assert r.n_frames >= 1
        else:
            assert r.n_frames == 1
    again = {r.doc_id: tuple(r.feature) for r in out.collect()}
    first = {r.doc_id: tuple(r.feature) for r in rows}
    assert again == first  # fake codec is deterministic


def test_real_codecs_fall_back_on_unknown_magic(spark, sf_dir):
    # the demo media_table payloads are raw UTF-8 text — no container
    # magic — so the real-codec path must take the documented fake
    # fallback and produce exactly the default decode
    media = mm.media_table(spark, sf_dir)
    real = {r.doc_id: r for r in
            mm.decode_media_features(media, use_real_codecs=True).collect()}
    fake = {r.doc_id: r for r in mm.decode_media_features(media).collect()}
    assert {k: tuple(v) for k, v in real.items()} == {
        k: tuple(v) for k, v in fake.items()
    }
    with pytest.raises(mm.UnsupportedMediaError):
        mm.stdlib_codec(b"plain text, no container magic", "text/plain")


# ----------------------------- real stdlib codec golden tests
# hand-crafted container bytes, constructed independently of the
# synth-side header builders — these pin the PARSERS; oracle parity in
# test_media_real_decode_oracle pins the end-to-end pipeline


def test_wav_parser_golden():
    # 2 frames of stereo 16-bit PCM at 44100 Hz, plus a junk chunk the
    # RIFF walk must skip (with word-alignment padding: size 3 -> 4)
    import struct as st

    fmt = st.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
    data = bytes([0, 0, 255, 255, 32, 64, 96, 128])  # 8 bytes = 2 frames
    wav = (
        b"RIFF" + st.pack("<I", 4 + 8 + 16 + 8 + 3 + 1 + 8 + len(data)) + b"WAVE"
        + b"junk" + st.pack("<I", 3) + b"xy z"[:4]  # 3 bytes + 1 pad
        + b"fmt " + st.pack("<I", 16) + fmt
        + b"data" + st.pack("<I", len(data)) + data
    )
    w, h, nf, feat = mm.stdlib_codec(wav, "audio/wav")
    assert (w, h, nf) == (44100, 2, 2)
    counts = [0] * mm.FEATURE_DIM
    for b in data:
        counts[b >> 5] += 1
    assert feat == [c / len(data) for c in counts]


def test_bmp_parser_golden():
    # 1x2 24bpp BMP: row stride is 4 (3 pixel bytes + 1 padding byte);
    # the padding byte (0xEE) must NOT appear in the histogram
    import struct as st

    rows = bytes([10, 20, 30, 0xEE]) + bytes([200, 210, 220, 0xEE])
    bmp = (
        b"BM" + st.pack("<IHHI", 54 + len(rows), 0, 0, 54)
        + st.pack("<IiiHHIIiiII", 40, 1, 2, 1, 24, 0, len(rows), 0, 0, 0, 0)
        + rows
    )
    w, h, nf, feat = mm.stdlib_codec(bmp, "image/bmp")
    assert (w, h, nf) == (1, 2, 1)
    pixels = [10, 20, 30, 200, 210, 220]
    counts = [0] * mm.FEATURE_DIM
    for b in pixels:
        counts[b >> 5] += 1
    assert feat == [c / 6 for c in counts]


def test_ppm_parser_golden():
    # P6 with a comment line and multi-whitespace header — the
    # tokenizer must skip both; 2x1 image = 6 raw RGB bytes
    data = bytes([0, 31, 32, 63, 64, 255])
    ppm = b"P6\n# comment line\n2  1\n255\n" + data
    w, h, nf, feat = mm.stdlib_codec(ppm, "image/ppm")
    assert (w, h, nf) == (2, 1, 1)
    assert feat == [2 / 6, 2 / 6, 1 / 6, 0.0, 0.0, 0.0, 0.0, 1 / 6]


def test_media_real_decode_oracle(spark, sf_dir):
    compare_query(
        spark, sf_dir, registry.QUERIES["media_real_decode"],
        registry.ORACLES["media_real_decode"],
    )


def test_media_real_roundtrip(spark, sf_dir):
    # synth -> decode round-trip recovers each format's geometry, and
    # every payload really is parsed by the stdlib codec (wav/bmp/ppm
    # magic present by construction — no fake fallback on this table)
    media = mm.media_real_table(spark, sf_dir)
    sample = media.limit(30).collect()
    assert sample
    for r in sample:
        blob = bytes(r.content)
        w, h, nf, feat = mm.stdlib_codec(blob, r.media_type)  # must not raise
        if r.media_type == "audio/wav":
            assert (w, h, nf) == (8000, 1, mm.WAV_DATA_LEN // 2)
        else:
            assert (w, h, nf) == (mm.IMG_W, mm.IMG_H, 1)
        assert abs(sum(feat) - 1.0) < 1e-6


def test_frame_sample_only_videos(spark, sf_dir):
    sampled = registry.QUERIES["media_frame_sample"](spark, sf_dir)
    rows = sampled.collect()
    assert rows, "expected sampled frames for video items"
    decoded = {
        r.doc_id: r.n_frames
        for r in mm.decode_media_features(mm.media_table(spark, sf_dir)).collect()
        if r.media_type.startswith("video/")
    }
    by_doc: dict[int, list[int]] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    assert set(by_doc) == set(decoded)  # every video sampled, only videos
    for doc_id, idxs in by_doc.items():
        assert idxs == sorted(idxs)
        assert all(0 <= i < decoded[doc_id] for i in idxs)
        assert idxs == list(range(0, decoded[doc_id], 10))


def _sha_codec(content: bytes, media_type: str):
    """Second, distinct fake codec (sha1-derived, different value space
    than the md5 default) used to prove the seam contract: ANY callable
    matching (bytes, media_type) -> (w, h, frames, features) slots in."""
    import hashlib

    d = hashlib.sha1(content).digest()
    width = 32 + d[0] % 100
    height = 32 + d[1] % 100
    n_frames = 5 if media_type.startswith("video/") else 1
    feature = [float(b) for b in d[: mm.FEATURE_DIM]]
    return width, height, n_frames, feature


def test_codec_seam_contract(spark, sf_dir):
    """A conforming injected codec must produce the registered schema,
    1:1 rows, and its own (not the default's) values — so a real
    PIL/ffmpeg adapter drops in without touching the operator."""
    media = mm.media_table(spark, sf_dir)
    out = mm.decode_media_features(media, codec=_sha_codec)
    assert out.schema == mm.decode_media_features(media).schema
    rows = out.collect()
    assert len(rows) == media.count()
    default = {r.doc_id: r for r in mm.decode_media_features(media).collect()}
    for r in rows:
        assert len(r.feature) == mm.FEATURE_DIM
        assert 32 <= r.width <= 131 and 32 <= r.height <= 131
        assert r.n_frames == (5 if r.media_type.startswith("video/") else 1)
        # sha1 codec's features live in [0, 255], md5 default's in [0, 1]:
        # the injected codec's output is genuinely its own
        assert tuple(r.feature) != tuple(default[r.doc_id].feature)
    # frame sampling composes with any codec output
    sampled = mm.frame_sample(out, every_k=2).collect()
    vids = [r for r in rows if r.media_type.startswith("video/")]
    assert len(sampled) == 3 * len(vids)  # range(0, 5, 2) per video


def test_codec_seam_injected_overrides_real_flag(spark, sf_dir):
    """use_real_codecs=True with an injected codec must NOT raise: the
    flag only guards the no-codec default."""
    media = mm.media_table(spark, sf_dir)
    out = mm.decode_media_features(media, use_real_codecs=True, codec=_sha_codec)
    assert out.count() == media.count()


def test_nearest_resize_golden():
    """2x2 -> 1x1 nearest-neighbor picks the top-left (floor mapping)
    pixel; 4x2 -> 2x1 picks columns 0 and 2 of row 0."""
    from honors_p1_mapreduce_spark.operators.multimodal import nearest_resize

    px = bytes(range(12))  # 2x2 RGB: pixels (0,1,2)(3,4,5)/(6,7,8)(9,10,11)
    assert nearest_resize(px, 2, 2, 1, 1) == bytes([0, 1, 2])
    px42 = bytes(range(24))  # 4x2 RGB
    assert nearest_resize(px42, 4, 2, 2, 1) == bytes([0, 1, 2, 6, 7, 8])


def test_pixel_grid_parses_bmp_and_ppm():
    """The resize grid parser recovers the exact payload bytes from
    hand-built containers — file-order, padding excluded."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        IMG_DATA_LEN,
        IMG_H,
        IMG_W,
        BMP_HEADER,
        PPM_HEADER,
        _pixel_grid,
    )

    payload = bytes(i % 251 for i in range(IMG_DATA_LEN))
    for header in (BMP_HEADER, PPM_HEADER):
        w, h, data = _pixel_grid(header + payload)
        assert (w, h) == (IMG_W, IMG_H)
        assert data == payload


def test_media_resize_digest_matches_python(spark, sf_dir):
    """The registered query's digest equals a driver-side recompute
    over the same leading text bytes — independent of the oracle."""
    import hashlib

    from pyspark.sql import functions as F

    from honors_p1_mapreduce_spark.operators.multimodal import (
        IMG_DATA_LEN,
        IMG_H,
        IMG_W,
        RESIZE_H,
        RESIZE_W,
        media_resize,
        nearest_resize,
    )
    from honors_p1_mapreduce_spark.sources.tables import load_table

    got = {r["doc_id"]: r["resized_digest"] for r in media_resize(spark, sf_dir).collect()}
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin(*list(got)[:20]))
        .collect()
    }
    for doc_id, text in docs.items():
        data = text.encode()[:IMG_DATA_LEN]
        rz = nearest_resize(data, IMG_W, IMG_H, RESIZE_W, RESIZE_H)
        want = hashlib.md5(",".join(str(b) for b in rz).encode()).hexdigest()
        assert got[doc_id] == want, doc_id


def test_sample_wav_pcm_golden(spark):
    """Hand-built WAV: known 16-bit LE samples, incl. a negative one —
    pins the chunk walk, the stride, and signedness."""
    import struct

    from honors_p1_mapreduce_spark.operators.multimodal import (
        _wav_header,
        sample_wav_pcm,
    )

    samples = [0, 1000, -32768, 32767, -1, 5, 6, 7, 8, 9]
    data = b"".join(struct.pack("<h", s) for s in samples)
    wav = _wav_header(len(data)) + data
    media = spark.createDataFrame(
        [(1, "audio/wav", bytearray(wav)), (2, "image/bmp", bytearray(b"BM"))],
        "doc_id long, media_type string, content binary",
    )
    got = {
        (r["doc_id"], r["sample_idx"]): r["sample_value"]
        for r in sample_wav_pcm(media, every_k=4).collect()
    }
    assert got == {(1, 0): 0, (1, 4): -1, (1, 8): 8}


def test_sample_wav_pcm_on_real_table(spark, sf_dir):
    """Over the synthesized real table: every WAV doc emits
    WAV_DATA_LEN/2/SAMPLE_EVERY rows, values within int16 range."""
    from honors_p1_mapreduce_spark.operators.multimodal import (
        SAMPLE_EVERY,
        WAV_DATA_LEN,
        media_real_table,
        sample_wav_pcm,
    )

    media = media_real_table(spark, sf_dir)
    n_wav = media.filter("media_type = 'audio/wav'").count()
    out = sample_wav_pcm(media)
    assert out.count() == n_wav * (WAV_DATA_LEN // 2 // SAMPLE_EVERY)
    mn, mx = out.agg({"sample_value": "min"}).first()[0], out.agg({"sample_value": "max"}).first()[0]
    assert -32768 <= mn <= mx <= 32767


# ---------------------------------------- PNG decode goldens (r7)


def _build_png(w, h, pixels, color_type=2, filters=None, level=9):
    """Independent PNG writer for goldens: REAL zlib compression (not
    the stored-block path the Catalyst synth uses) and explicit
    per-row filter types, forward-filtered here so the decoder must
    invert them."""
    import struct
    import zlib

    bpp = {0: 1, 2: 3, 6: 4}[color_type]
    stride = w * bpp
    rows = [bytes(pixels[r * stride : (r + 1) * stride]) for r in range(h)]
    filters = filters or [0] * h
    raw = bytearray()
    prev = bytes(stride)
    for r, (ft, line) in enumerate(zip(filters, rows)):
        enc = bytearray(line)
        if ft == 1:
            for i in range(stride - 1, bpp - 1, -1):
                enc[i] = (enc[i] - line[i - bpp]) & 255
        elif ft == 2:
            for i in range(stride):
                enc[i] = (enc[i] - prev[i]) & 255
        elif ft == 3:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                enc[i] = (enc[i] - (a + prev[i]) // 2) & 255
        elif ft == 4:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                enc[i] = (enc[i] - pr) & 255
        raw += bytes([ft]) + bytes(enc)
        prev = line

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    return (
        mm.PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw), level))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filter_types():
    """Real-compression golden: a 5-row RGB image forward-filtered
    with every standard filter type (None/Sub/Up/Average/Paeth) must
    decode back to the exact original pixel histogram."""
    import random

    rng = random.Random(11)
    w, h = 6, 5
    pixels = bytes(rng.randrange(256) for _ in range(w * h * 3))
    blob = _build_png(w, h, pixels, filters=[0, 1, 2, 3, 4])
    gw, gh, nf, hist = mm._decode_png(blob)
    assert (gw, gh, nf) == (w, h, 1)
    assert hist == mm._hist8(pixels)


def test_png_decode_gray_and_rgba():
    import random

    rng = random.Random(12)
    for color_type in (0, 6):
        bpp = {0: 1, 6: 4}[color_type]
        w, h = 4, 3
        pixels = bytes(rng.randrange(256) for _ in range(w * h * bpp))
        blob = _build_png(w, h, pixels, color_type=color_type, filters=[4, 2, 1])
        gw, gh, nf, hist = mm._decode_png(blob)
        assert (gw, gh, nf) == (w, h, 1)
        assert hist == mm._hist8(pixels)


def test_png_decode_rejects_unsupported():
    import pytest
    import struct
    import zlib

    with pytest.raises(mm.UnsupportedMediaError):
        mm._decode_png(b"not a png at all----")
    # 16-bit depth: unsupported, must raise not mis-decode
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    deep = (
        mm.PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 26))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(mm.UnsupportedMediaError):
        mm._decode_png(deep)


def test_png_synth_is_valid_and_matches_doc_bytes(spark, sf_dir):
    """Every Catalyst-synthesized payload must be a fully valid PNG
    (zlib verifies the expression-fold adler32 during decompress) and
    decode to the document's own leading bytes' histogram."""
    rows = mm.media_png_table(spark, sf_dir).limit(20).collect()
    # look up exactly the sampled doc_ids: the wide_scan repartition
    # makes limit(20) draw from arbitrary partitions, not scan order
    ids = [r["doc_id"] for r in rows]
    docs = {
        r["doc_id"]: r["text"]
        for r in mm.load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin(ids))
        .collect()
    }
    assert rows
    for r in rows:
        blob = bytes(r["content"])
        w, h, nf, hist = mm._decode_png(blob)
        assert (w, h) == (mm.PNG_W, mm.PNG_H)
        data = docs[r["doc_id"]].encode()[: mm.PNG_DATA_LEN]
        assert hist == mm._hist8(data)


def test_png_magic_with_garbage_falls_back_to_fake(spark, sf_dir):
    """A payload with PNG magic but corrupt body (truncated IHDR, bad
    zlib stream) must fall back to the fake decoder through the codec
    seam — one bad file must never crash the job (r7 review)."""
    bad_blobs = [
        mm.PNG_SIG + b"garbage",                              # no chunks
        mm.PNG_SIG + b"\x00\x00\x00\x0dIHDR\x00\x00",         # truncated IHDR
        mm.PNG_SIG
        + b"\x00\x00\x00\x0dIHDR"
        + b"\x00\x00\x00\x04\x00\x00\x00\x0a\x08\x02\x00\x00\x00"
        + b"\x00" * 4
        + b"\x00\x00\x00\x05IDAT"
        + b"notzl"
        + b"\x00" * 4,                                        # bad zlib stream
    ]
    import pytest

    for blob in bad_blobs:
        with pytest.raises(mm.UnsupportedMediaError):
            mm.stdlib_codec(blob, "image/png")
        # seam fallback: fake decode instead of crash
        w, h, nf, feat = mm._stdlib_or_fake(blob, "image/png")
        assert len(feat) == mm.FEATURE_DIM


def test_png_slightly_oversized_idat_is_rejected():
    """An IDAT stream a few bytes LONGER than the geometry admits
    fits zlib's internal window, so unconsumed_tail stays empty — the
    r8 advisor's gap in the bomb guard. The flush()/unused_data check
    must reject it (and the exact-length stream must still decode)."""
    import struct
    import zlib

    import pytest

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    def png(raw: bytes) -> bytes:
        ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)  # 4x4 gray
        return (
            mm.PNG_SIG
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    exact = (4 + 1) * 4  # (stride + 1) * h, filter byte per row
    w, h, nf, hist = mm._decode_png(png(bytes(exact)))
    assert (w, h) == (4, 4)
    for extra in (1, 3, 64):
        with pytest.raises(mm.UnsupportedMediaError):
            mm._decode_png(png(bytes(exact + extra)))


# --------------------------------------------------- AVI (round 8)


def _handcrafted_avi(data: bytes) -> bytes:
    """Build a 4-frame AVI from raw struct bytes, independent of the
    Catalyst synth constants, so the parser golden doesn't share its
    fixture with the code under test beyond the header builder."""
    content = mm.AVI_PREFIX + data[:48]
    for i in range(1, 4):
        content += mm._AVI_FRAME_HDR + data[i * 48 : (i + 1) * 48]
    return content


def test_avi_parser_golden():
    """Genuine container walk: geometry from strf, one decoded block
    per 00db chunk, payloads byte-identical to the frame data."""
    data = (
        bytes(range(48))
        + bytes(range(100, 148))
        + b"\x7f" * 48
        + bytes(reversed(range(48)))
    )
    content = _handcrafted_avi(data)
    assert len(content) == mm.AVI_FILE_LEN
    w, h, frames = mm._avi_frames_parse(content)
    assert (w, h, len(frames)) == (mm.AVI_W, mm.AVI_H, 4)
    assert [bytes(f) for f in frames] == [
        data[i * 48 : (i + 1) * 48] for i in range(4)
    ]
    # seam contract: histogram over all frames
    sw, sh, nf, hist = mm.stdlib_codec(content, "video/avi")
    assert (sw, sh, nf) == (4, 4, 4)
    assert hist == mm._hist8(data)


def test_avi_parser_rejects_corrupt():
    data = bytes(192)
    content = _handcrafted_avi(data)
    for bad in (
        content[:100],  # truncated before strf
        content.replace(b"00db", b"00dc", 1),  # compressed frame
        content[:16] + b"\x00" * 8 + content[24:],  # mangled hdrl walk
    ):
        try:
            mm._avi_frames_parse(bad)
        except mm.UnsupportedMediaError:
            continue
        raise AssertionError("corrupt AVI accepted")


def test_avi_synth_is_valid_and_samples_doc_bytes(spark, sf_dir):
    """Every Catalyst-synthesized payload must parse as a valid AVI
    whose frames are the document's own leading byte slices; the
    sampled histogram covers exactly frames 0 and 2."""
    rows = mm.media_avi_table(spark, sf_dir).limit(20).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in mm.load_table(spark, sf_dir, "documents").limit(200).collect()
    }
    assert rows
    for r in rows:
        blob = bytes(r["content"])
        assert len(blob) == mm.AVI_FILE_LEN
        w, h, frames = mm._avi_frames_parse(blob)
        data = docs[r["doc_id"]].encode()[: mm.AVI_DATA_LEN]
        assert (w, h) == (mm.AVI_W, mm.AVI_H)
        assert b"".join(frames) == data
        sampled = data[:48] + data[96:144]
        assert mm._hist8(sampled) == mm._hist8(b"".join(frames[::2]))


def test_media_avi_decode_oracle(spark, sf_dir):
    compare_query(
        spark, sf_dir, registry.QUERIES["media_avi_decode"],
        registry.ORACLES["media_avi_decode"],
    )


# ------------------------------------ perceptual image near-dup (r9)


def test_image_dhash_invariances():
    """dHash must survive byte-level edits that preserve local
    gradient order (global brightness shift) and flip completely on
    gradient inversion — the perceptual contract, on handcrafted
    BMPs whose raw bytes all differ."""
    base = bytes(
        min(32 + x * 9 + y, 126)
        for y in range(mm.IMG_H)
        for x in range(mm.IMG_W)
        for _ in range(3)
    )
    brighter = bytes(b + 2 for b in base)
    inverted = bytes(
        min(32 + (mm.IMG_W - 1 - x) * 9 + y, 126)
        for y in range(mm.IMG_H)
        for x in range(mm.IMG_W)
        for _ in range(3)
    )
    blobs = {
        name: mm.BMP_HEADER + data
        for name, data in [("a", base), ("b", brighter), ("c", inverted)]
    }
    ha, hb, hc = (mm.image_dhash(blobs[n]) for n in "abc")
    assert blobs["a"] != blobs["b"]
    assert ha == hb  # brightness shift: bytes differ, hash identical
    assert 0 <= ha < (1 << mm.PHASH_BITS)
    # inversion flips every horizontal gradient with a nonzero step
    assert bin(ha ^ hc).count("1") > mm.IMG_NEARDUP_HAMMING_MAX


def test_media_image_neardup_planted_pair(spark, tmp_path):
    """Planted perceptual duplicates: doc 1 and doc 4 (both images —
    doc_id % 3 != 0) encode the same gradient at different brightness
    (every byte differs), doc 2 encodes the inverted gradient. The
    near-dup join must emit exactly the planted pair, and the DuckDB
    oracle must agree on the same synthetic corpus."""
    import duckdb

    def grid(invert: bool, bias: int) -> str:
        return "".join(
            chr(
                min(
                    32
                    + bias
                    + (mm.IMG_W - 1 - x if invert else x) * 9
                    + y,
                    126,
                )
            )
            for y in range(mm.IMG_H)
            for x in range(mm.IMG_W)
            for _ in range(3)
        )

    pad = " " * (mm.WAV_DATA_LEN - mm.IMG_DATA_LEN)
    rows = [
        (1, grid(False, 0) + pad, "synthetic"),
        (2, grid(True, 0) + pad, "synthetic"),
        (4, grid(False, 2) + pad, "synthetic"),
    ]
    dirp = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(dirp + "/documents.parquet")

    pairs = [
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in mm.media_image_neardup(spark, dirp).collect()
    ]
    assert pairs == [(1, 4, 0)]

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{dirp}/documents.parquet/*.parquet')"
        )
        ora = con.execute(mm.MEDIA_IMAGE_NEARDUP_ORACLE).fetchall()
    finally:
        con.close()
    assert sorted(ora) == pairs


def test_media_image_neardup_matches_oracle(spark, sf_dir):
    compare_query(
        spark, sf_dir, mm.media_image_neardup, mm.MEDIA_IMAGE_NEARDUP_ORACLE
    )


def test_media_image_dedup_invariants_and_oracle(spark, sf_dir):
    """Cluster semantics mirror text dedup_clusters: every image
    appears exactly once, the cluster label is the min member, sizes
    are consistent, and every near-dup pair's endpoints share a
    cluster; DuckDB recursive-CTE oracle agrees end-to-end."""
    out = mm.media_image_dedup(spark, sf_dir).collect()
    label = {r["doc_id"]: r["cluster"] for r in out}
    assert len(out) == len(label)
    n_imgs = (
        mm.media_real_table(spark, sf_dir)
        .filter("media_type != 'audio/wav'")
        .count()
    )
    assert len(out) == n_imgs  # total partition of the image set
    members: dict = {}
    for r in out:
        members.setdefault(r["cluster"], []).append(r["doc_id"])
    for c, ms in members.items():
        assert c == min(ms)
    for r in out:
        assert r["cluster_size"] == len(members[r["cluster"]])
    for p in mm.media_image_neardup(spark, sf_dir).collect():
        assert label[p["doc_a"]] == label[p["doc_b"]], p
    compare_query(
        spark, sf_dir, mm.media_image_dedup, mm.MEDIA_IMAGE_DEDUP_ORACLE
    )


# ------------------------------- hot-fingerprint cap + recall (r10)


def test_image_neardup_fp_cap_planted_clique(spark):
    """A fingerprint carried by a clique of docs larger than the cap
    must be excluded from pair enumeration (its quadratic pair set is
    the r9-probe-measured blowup); a genuine near-dup pair below the
    cap must survive. Drives the factored join stage with synthetic
    fingerprints."""
    # clique fp and planted fps set a bit in EVERY band, so no
    # clique-vs-planted pair can share a band via all-zero buckets
    clique_fp = (1 << 1) | (1 << 15) | (1 << 29) | (1 << 43)
    planted_fp = (1 << 5) | (1 << 18) | (1 << 32) | (1 << 46)
    clique = [(i, clique_fp) for i in range(1, 9)]  # 8 docs, one hot fp
    planted = [(100, planted_fp), (101, planted_fp | 1)]  # hamming 1
    fp = spark.createDataFrame(
        clique + planted, "doc_id long, fingerprint long"
    )
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in mm.image_neardup_pairs(fp, fp_cap=5).collect()
    }
    assert capped == {(100, 101)}
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in mm.image_neardup_pairs(fp, fp_cap=None).collect()
    }
    # the uncapped r9 behavior stays available by parameter: the hot
    # clique contributes all C(8,2) = 28 same-hash pairs
    assert len(uncapped) == 28 + 1 and (100, 101) in uncapped


def test_image_neardup_fp_cap_noop_on_driver_corpus(spark, sf_dir):
    """The default cap sits above the corpus' max fingerprint
    multiplicity, so the capped query output is IDENTICAL to the
    uncapped r9 contract on the driver corpora — the displacement
    rationale for restamping media_image_neardup in r11."""
    capped = sorted(
        tuple(r) for r in mm.media_image_neardup(spark, sf_dir).collect()
    )
    uncapped = sorted(
        tuple(r)
        for r in mm.media_image_neardup(spark, sf_dir, fp_cap=None).collect()
    )
    assert capped == uncapped and len(capped) > 0


def test_image_neardup_banding_recall_bound(spark):
    """Pins the documented LSH recall bound: hamming <= BANDS - 1 = 3
    always shares a band (found); a 4-bit difference spread across
    all 4 bands shares none (missed, though under HAMMING_MAX = 6)."""
    spread = (1 << 0) | (1 << 14) | (1 << 28) | (1 << 42)  # one bit/band
    fp = spark.createDataFrame(
        [(1, 0), (2, spread), (3, 0b111)],
        "doc_id long, fingerprint long",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in mm.image_neardup_pairs(fp, fp_cap=None).collect()
    }
    # (1,3): hamming 3, bands 1-3 untouched -> guaranteed candidate.
    # (1,2): hamming 4 but every band touched -> no candidate bucket.
    # (2,3): hamming 5, every band differs -> no candidate bucket.
    assert got == {(1, 3): 3}


# ------------------------------------- integer audio features (r10)


def test_wav_features_golden(spark):
    """Hand-built waveform with known energy/peak/sign structure —
    pins signedness, the bigint sum of squares, and the v >= 0
    zero-crossing convention; non-WAV rows are dropped."""
    import struct

    samples = [0, 1000, -32768, 32767, -1, 5]
    data = b"".join(struct.pack("<h", s) for s in samples)
    wav = mm._wav_header(len(data)) + data
    media = spark.createDataFrame(
        [(1, "audio/wav", bytearray(wav)), (2, "image/bmp", bytearray(b"BM"))],
        "doc_id long, media_type string, content binary",
    )
    rows = mm.wav_features(media).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_id"], r["n_samples"], r["peak_abs"]) == (1, 6, 32768)
    assert r["sum_sq"] == sum(s * s for s in samples) == 2148418139
    assert r["zero_crossings"] == 4  # ++ / +- / -+ / +- / -+


def test_media_audio_features_oracle(spark, sf_dir):
    compare_query(
        spark,
        sf_dir,
        mm.media_audio_features,
        mm.MEDIA_AUDIO_FEATURES_ORACLE,
    )


def test_media_audio_features_covers_every_wav(spark, sf_dir):
    out = mm.media_audio_features(spark, sf_dir)
    n_wav = (
        mm.media_real_table(spark, sf_dir)
        .filter("media_type = 'audio/wav'")
        .count()
    )
    assert out.count() == n_wav
    bad = out.filter(
        "peak_abs < 0 OR peak_abs > 32768 OR sum_sq < 0"
        f" OR zero_crossings < 0 OR zero_crossings >= n_samples"
        f" OR n_samples != {mm.WAV_DATA_LEN // 2}"
    )
    assert bad.isEmpty()


def test_image_neardup_bucket_cap_skips_oversized_buckets(spark):
    """r10 probe finding: the pair fanout at scale is hot (band,
    bucket) groups of NEAR-equal fingerprints, not same-fp cliques.
    A bucket above the cap must stop generating candidates, while a
    pair with any DISCRIMINATIVE shared band still surfaces."""
    # 9 fps sharing band-0 bucket 0b1 but nothing else (bits spread in
    # bands 1-3 differ pairwise by > HAMMING_MAX anyway except...).
    # Build: band0 = 1 for everyone (hot bucket); docs 1 and 2 ALSO
    # share bands 1-3 exactly (hamming 1 apart via band-0's second
    # bit is impossible — keep them identical outside band 0 and
    # differing by one bit INSIDE band 0): their bands 1-3 buckets
    # are discriminative (only those two members), so the pair must
    # survive the band-0 bucket drop.
    common_tail = (1 << 22) | (1 << 36) | (1 << 50)
    rows = [(1, 1 | common_tail), (2, 1 | 2 | common_tail)]
    # 7 more docs: same band-0 bucket, pairwise-distant elsewhere
    for i in range(7):
        rows.append((10 + i, 1 | (1 << (15 + i)) | (1 << (29 + i)) | (1 << (43 + i))))
    fp = spark.createDataFrame(rows, "doc_id long, fingerprint long")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in mm.image_neardup_pairs(
            fp, fp_cap=None, bucket_cap=5
        ).collect()
    }
    # band 0 bucket (9 members > cap 5) generates nothing; (1, 2)
    # still found via their shared discriminative bands 1-3
    assert (1, 2) in got and got[(1, 2)] == 1
    assert all(a in (1, 2) and b in (1, 2) for a, b in got), got
    # uncapped twin: the hot band-0 bucket makes every doc pair a
    # candidate; only hamming <= 6 survive, which adds (1, 1x)/(2, 1x)
    # pairs at hamming 4 (band0 bit + three spread bits)
    unc = {
        (r["doc_a"], r["doc_b"])
        for r in mm.image_neardup_pairs(
            fp, fp_cap=None, bucket_cap=None
        ).collect()
    }
    assert (1, 2) in unc and len(unc) > len(got)


# ------------------------- perceptual audio near-dup (r10 library)


def test_wav_volume_hash_invariances():
    """Volume scaling (any positive gain) must preserve the hash —
    the perceptual contract; envelope inversion must flip gradient
    bits; short/non-WAV payloads return -1."""
    import struct

    base = [100 * (i % 9) - 400 + 7 * i for i in range(64)]
    louder = [3 * v for v in base]
    inverted = list(reversed(base))

    def wav(samples):
        data = b"".join(struct.pack("<h", s) for s in samples)
        return mm._wav_header(len(data)) + data

    ha = mm.wav_volume_hash(wav(base))
    hb = mm.wav_volume_hash(wav(louder))
    hc = mm.wav_volume_hash(wav(inverted))
    assert 0 <= ha < (1 << mm.PHASH_BITS)
    assert ha == hb  # gain change: bytes differ, hash identical
    assert ha != hc
    assert mm.wav_volume_hash(b"not a wav") == -1
    assert mm.wav_volume_hash(wav(base[:10])) == -1  # < PHASH_BITS+1


def test_media_audio_neardup_planted_pair(spark, tmp_path):
    """Planted volume-scaled duplicate: docs 3 and 6 (both WAV —
    doc_id % 3 == 0) carry the same waveform at different gain in
    their leading text bytes... except gain scaling changes the BYTES
    while preserving |sample| ORDER only when we construct the bytes
    directly — so the planted pair uses two sample streams with
    identical envelope order but different values; doc 9 carries the
    reversed envelope. Engine and DuckDB oracle must agree on the
    same synthetic corpus."""
    import duckdb
    import struct

    def text_for(samples):
        # WAV payloads are the doc's FIRST 128 text bytes; craft texts
        # whose UTF-8 bytes ARE the little-endian PCM we want. Keep
        # every byte in 1..127 (ASCII) so UTF-8 encoding is identity.
        data = b"".join(struct.pack("<h", s) for s in samples)
        assert len(data) == 128 and all(1 <= b <= 127 for b in data)
        return data.decode("ascii")

    # samples with bytes in ASCII range: v = lo + 256*hi with
    # lo, hi in [1, 127] -> positive smallish values, envelope order
    # driven by our chosen magnitudes
    base = [(3 + 2 * (i % 7)) + 256 * (1 + (i * 13) % 19) for i in range(64)]
    scaled = [v + 256 * 64 for v in base]  # +const hi: preserves order?
    # no — addition does NOT preserve |.| order in general; build the
    # scaled twin by construction instead: same ORDER, different bytes
    rank = sorted(range(64), key=lambda i: (base[i], i))
    scaled = [0] * 64
    for pos, i in enumerate(rank):
        scaled[i] = (5 + 2 * ((pos * 3) % 5)) + 256 * (2 + pos)  # strictly
        # increasing in pos => same pairwise order as base (ties in
        # base broken by index become strict here only if base had no
        # adjacent ties — ensured below)
    # ensure base itself has no adjacent equal |values| so order maps 1:1
    assert all(base[i] != base[i + 1] for i in range(63))
    rows = [
        (3, text_for(base)),
        (6, text_for(scaled)),
        (9, text_for(list(reversed(base)))),
    ]
    dirp = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "doc_id bigint, text string"
    ).coalesce(1).write.mode("overwrite").parquet(dirp + "/documents.parquet")

    pairs = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in mm.media_audio_neardup(spark, dirp).collect()
    )
    assert (3, 6, 0) in pairs

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{dirp}/documents.parquet/*.parquet')"
        )
        ora = sorted(map(tuple, con.execute(mm.MEDIA_AUDIO_NEARDUP_ORACLE).fetchall()))
    finally:
        con.close()
    assert ora == pairs


def test_media_audio_neardup_matches_oracle(spark, sf_dir):
    """Pre-verifies the r11-registration oracle at driver scale."""
    compare_query(
        spark, sf_dir, mm.media_audio_neardup, mm.MEDIA_AUDIO_NEARDUP_ORACLE
    )


def test_simhash_neardup_bucket_cap_noop_and_active(spark, sf_dir):
    """The text-simhash twin of the image bucket guard: no-op at
    driver scale (output identical to uncapped), and a tiny explicit
    cap visibly prunes candidates — proving the guard is live."""
    from honors_p1_mapreduce_spark.operators.text_analysis import (
        simhash_neardup,
    )

    capped = sorted(
        tuple(r) for r in simhash_neardup(spark, sf_dir).collect()
    )
    unc = sorted(
        tuple(r)
        for r in simhash_neardup(spark, sf_dir, bucket_cap=None).collect()
    )
    assert capped == unc and capped
    tiny = sorted(
        tuple(r)
        for r in simhash_neardup(spark, sf_dir, bucket_cap=1).collect()
    )
    assert len(tiny) < len(capped)


def test_media_audio_dedup_invariants_and_oracle(spark, sf_dir):
    """Audio twin of the image dedup-decision invariants: total
    partition of the WAV set, min-label clusters, consistent sizes,
    every near-dup pair co-clustered; recursive-CTE oracle agrees
    (pre-verifies the r12-registration oracle)."""
    out = mm.media_audio_dedup(spark, sf_dir).collect()
    label = {r["doc_id"]: r["cluster"] for r in out}
    n_wav = (
        mm.media_real_table(spark, sf_dir)
        .filter("media_type = 'audio/wav'")
        .count()
    )
    assert len(out) == len(label) == n_wav
    members: dict = {}
    for r in out:
        members.setdefault(r["cluster"], []).append(r["doc_id"])
    for c, ms in members.items():
        assert c == min(ms)
    for r in out:
        assert r["cluster_size"] == len(members[r["cluster"]])
    for p in mm.media_audio_neardup(spark, sf_dir).collect():
        assert label[p["doc_a"]] == label[p["doc_b"]], p
    compare_query(
        spark, sf_dir, mm.media_audio_dedup, mm.MEDIA_AUDIO_DEDUP_ORACLE
    )


def test_wav_fp_peak_matches_separate_passes(spark, sf_dir):
    """The fused funnel pass must agree exactly with the two
    single-signal passes it replaces (one RIFF walk instead of two)."""
    media = mm.media_real_table(spark, sf_dir)
    fused = {
        r["doc_id"]: (r["fingerprint"], r["peak_abs"])
        for r in mm.wav_fp_peak(media).collect()
    }
    fps = {r["doc_id"]: r["fingerprint"] for r in mm.audio_fingerprints(media).collect()}
    peaks = {r["doc_id"]: r["peak_abs"] for r in mm.wav_features(media).collect()}
    assert set(fused) == set(fps) == set(peaks)
    for d, (fp, pk) in fused.items():
        assert fp == fps[d] and pk == peaks[d]


def test_media_clean_funnel_monotone_and_oracle(spark, sf_dir):
    """Funnel invariants (r10 verdict #2): per media kind the item and
    byte budgets are non-increasing across stages, stage 0 equals the
    raw media table, stage 1 equals the direct threshold recount, and
    the whole composition matches its DuckDB oracle."""
    from honors_p1_mapreduce_spark.operators.pipeline import (
        MEDIA_AUDIO_CLIP_PEAK,
        MEDIA_CLEAN_FUNNEL_ORACLE,
        MEDIA_IMG_MIN_GRADIENTS,
        media_clean_funnel,
    )

    rows = media_clean_funnel(spark, sf_dir).collect()
    by_stage: dict = {}
    for r in rows:
        by_stage.setdefault(r["stage"], {})[r["media_type"]] = (
            r["n_items"],
            r["n_bytes"],
        )
    stages = ["0_all", "1_quality", "2_dedup"]
    assert list(sorted(by_stage)) == stages
    kinds = set(by_stage["0_all"])
    assert kinds == {"audio/wav", "image/bmp", "image/ppm"}
    for kind in kinds:
        prev = None
        for st in stages:
            cur = by_stage[st].get(kind, (0, 0))
            if prev is not None:
                assert cur[0] <= prev[0] and cur[1] <= prev[1], (kind, st)
            prev = cur
    # stage 0 == the raw media table, per kind
    media = mm.media_real_table(spark, sf_dir)
    raw = {
        r["media_type"]: (r["n"], r["b"])
        for r in media.groupBy("media_type")
        .agg(F.count("*").alias("n"), F.sum("n_bytes").alias("b"))
        .collect()
    }
    assert raw == by_stage["0_all"]
    # stage 1 == direct threshold recount
    n_audio_kept = (
        mm.wav_features(media)
        .filter(F.col("peak_abs") < MEDIA_AUDIO_CLIP_PEAK)
        .count()
    )
    assert by_stage["1_quality"].get("audio/wav", (0, 0))[0] == n_audio_kept
    n_img_kept = (
        mm.image_fingerprints(media.filter("media_type <> 'audio/wav'"))
        .filter(F.bit_count("fingerprint") >= MEDIA_IMG_MIN_GRADIENTS)
        .count()
    )
    img_stage1 = sum(
        by_stage["1_quality"].get(k, (0, 0))[0]
        for k in ("image/bmp", "image/ppm")
    )
    assert img_stage1 == n_img_kept
    # dedup stage keeps exactly one item per surviving cluster
    n_stage2 = sum(v[0] for v in by_stage["2_dedup"].values())
    survivors = mm.media_real_table(spark, sf_dir)  # recompute clusters
    afp = mm.wav_fp_peak(survivors)
    ifp = mm.image_fingerprints(
        survivors.filter("media_type <> 'audio/wav'")
    )
    clusters = mm.fp_clusters(ifp).unionByName(
        mm.fp_clusters(afp.select("doc_id", "fingerprint"))
    )
    keep1_ids = afp.filter(
        F.col("peak_abs") < MEDIA_AUDIO_CLIP_PEAK
    ).select("doc_id").unionByName(
        ifp.filter(
            F.bit_count("fingerprint") >= MEDIA_IMG_MIN_GRADIENTS
        ).select("doc_id")
    )
    n_clusters = (
        keep1_ids.join(clusters, "doc_id").select("cluster").distinct().count()
    )
    assert n_stage2 == n_clusters
    compare_query(spark, sf_dir, media_clean_funnel, MEDIA_CLEAN_FUNNEL_ORACLE)


def test_fp_clusters_first_band_emission_equivalence(spark):
    """r15 (r14 verdict #3): fp_clusters emits each banded-hamming
    edge once, at its LOWEST agreeing band, instead of per agreeing
    band + a distinct shuffle. Pin the equivalence on a synthetic
    DENSE frame (the regime that motivated the change): clusters from
    the registered path must equal a brute-force O(n^2) hamming CC —
    including fps that agree on MANY bands at once (identical high
    bits), the multi-emission case the old distinct existed for."""
    import itertools

    rows = []
    # component A: near-identical 56-bit fps (pairwise hamming 2,
    # every band shared -> the multi-emission case) + exact dups
    base = 0x34_5678_9ABC_DEF0  # < 2^56 (PHASH is 56-bit)
    for i in range(6):
        rows.append((100 + i, base ^ (1 << i)))
        rows.append((200 + i, base ^ (1 << i)))  # exact dup of each
    # component B: far from A in hamming, own little clique
    base2 = 0x0F_0F0F_0F0F_0F0F
    rows += [(300, base2), (301, base2 ^ 1), (302, base2 ^ 3)]
    # singleton: nothing within hamming range
    rows.append((400, 0x2A_AA55_55AA_AA55))
    # hamming 4 to base (5 to every other A member) but spread over
    # ALL 4 bands -> NO shared band with ANY A member (bit 7 avoids
    # the members' flipped bits 0..5) -> the banded graph
    # (deliberately, the LSH candidate condition) does NOT connect it
    # even though raw hamming <= 6
    spread = base ^ (1 << 7) ^ (1 << 15) ^ (1 << 29) ^ (1 << 43)
    rows.append((500, spread))
    fp = spark.createDataFrame(rows, ["doc_id", "fingerprint"])

    got = {
        r["doc_id"]: r["cluster"] for r in mm.fp_clusters(fp).collect()
    }
    # brute-force reference of the REGISTERED graph semantics: edge
    # iff hamming <= IMG_NEARDUP_HAMMING_MAX AND at least one 14-bit
    # band equal (the banded-LSH candidate condition — lossy above
    # hamming BANDS-1 by design); labels = min doc_id of component
    bits, mask = mm.IMG_NEARDUP_BAND_BITS, (1 << mm.IMG_NEARDUP_BAND_BITS) - 1

    def shares_band(f1: int, f2: int) -> bool:
        return any(
            (f1 >> (b * bits)) & mask == (f2 >> (b * bits)) & mask
            for b in range(mm.IMG_NEARDUP_BANDS)
        )

    parent = {d: d for d, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (d1, f1), (d2, f2) in itertools.combinations(rows, 2):
        if (
            bin(f1 ^ f2).count("1") <= mm.IMG_NEARDUP_HAMMING_MAX
            and shares_band(f1, f2)
        ):
            a, b = find(d1), find(d2)
            if a != b:
                parent[max(a, b)] = min(a, b)
    comp: dict[int, list[int]] = {}
    for d, _ in rows:
        comp.setdefault(find(d), []).append(d)
    want = {d: min(members) for root, members in comp.items() for d in members}
    assert got == want
    # the dense chain collapsed into ONE component with its exact dups
    assert len({want[d] for d in want if 100 <= d < 300}) == 1
    # the lossy-banding pin: isolated despite raw hamming <= 6,
    # because no 14-bit band agrees with any A member
    assert got[500] == 500


def test_decontam_tier_table_registration():
    """Spark-free: the tier table covers every registered media
    decontamination query, no two tiers share a stored-artifact name,
    and each tier's online and ``_stored`` queries are registered
    against the same oracle string."""
    artifacts = [t.artifact for t in mm.DECONTAM_TIERS]
    assert len(set(artifacts)) == len(artifacts) == 6
    names = {t.name for t in mm.DECONTAM_TIERS}
    assert {
        n for n in registry.QUERIES
        if n.startswith("media_") and "decontaminate" in n
    } == names | {n + "_stored" for n in names}
    for n in names:
        assert registry.QUERIES[n] is getattr(mm, n)
        assert registry.QUERIES[n + "_stored"] is getattr(mm, n + "_stored")
        assert isinstance(registry.ORACLES[n], str)
        assert registry.ORACLES[n + "_stored"] == registry.ORACLES[n]


def test_media_decontaminate_seeded_leak(spark, tmp_path):
    """Seeded-leak golden (r10 verdict #3): an eval image (doc 7 —
    doc_id % 101 == 7, % 3 == 1 -> BMP) leaks into training as an
    exact perceptual twin (brightness-shifted, every byte differs,
    hamming 0) and as a retouched copy (one pixel-order swap, small
    nonzero hamming); an inverted-gradient control stays unflagged.
    The DuckDB oracle must agree on the same synthetic corpus."""
    import duckdb

    def grid_text(swap_row=None, bias=0, invert=False) -> str:
        out = []
        for ty in range(mm.IMG_H):
            vals = [32 + bias + x * 20 for x in range(mm.IMG_W)]
            if invert:
                vals = vals[::-1]
            if ty == swap_row:
                vals[1], vals[2] = vals[2], vals[1]
            for v in vals:
                out.append(chr(min(v, 126)) * 3)
        return "".join(out)

    pad = " " * (mm.WAV_DATA_LEN - mm.IMG_DATA_LEN)
    base = grid_text()
    retouch = grid_text(swap_row=1)
    h_base = mm.image_dhash((mm.BMP_HEADER + base.encode())[: 54 + 120])
    h_re = mm.image_dhash((mm.BMP_HEADER + retouch.encode())[: 54 + 120])
    ham = bin(h_base ^ h_re).count("1")
    assert 1 <= ham <= mm.DECONTAM_HAMMING_MAX  # construction sanity
    rows = [
        (7, base + pad, "synthetic"),  # EVAL split member
        (1, grid_text(bias=2) + pad, "synthetic"),  # exact twin, hamming 0
        (13, retouch + pad, "synthetic"),  # retouched leak
        (10, grid_text(invert=True) + pad, "synthetic"),  # control
    ]
    dirp = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(dirp + "/documents.parquet")

    got = sorted(
        (r["doc_id"], r["n_eval_matches"], r["min_hamming"])
        for r in mm.media_decontaminate(spark, dirp).collect()
    )
    assert got == [(1, 1, 0), (13, 1, ham)]

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{dirp}/documents.parquet/*.parquet')"
        )
        ora = con.execute(mm.MEDIA_DECONTAMINATE_ORACLE).fetchall()
    finally:
        con.close()
    assert sorted(ora) == got


def test_media_decontaminate_matches_oracle(spark, sf_dir):
    compare_query(
        spark, sf_dir, mm.media_decontaminate, mm.MEDIA_DECONTAMINATE_ORACLE
    )


def test_media_decontaminate_never_flags_eval_docs(spark, sf_dir):
    """Output rows are TRAINING docs only, and every flagged doc is a
    real image doc of the corpus."""
    from honors_p1_mapreduce_spark.operators.winnow import (
        EVAL_MOD,
        EVAL_RESIDUE,
    )

    rows = mm.media_decontaminate(spark, sf_dir).collect()
    imgs = {
        r["doc_id"]
        for r in mm.media_real_table(spark, sf_dir)
        .filter("media_type <> 'audio/wav'")
        .select("doc_id")
        .collect()
    }
    for r in rows:
        assert r["doc_id"] % EVAL_MOD != EVAL_RESIDUE
        assert r["doc_id"] in imgs
        assert 0 <= r["min_hamming"] <= mm.DECONTAM_HAMMING_MAX
        assert r["n_eval_matches"] >= 1


def test_media_decontaminate_stored_equals_online(spark, sf_dir):
    """The stored-index serving path must be bit-identical to the
    online query (integer fingerprints survive parquet losslessly)
    and match the same end-to-end oracle — the registered-cycle
    pattern of decontaminate_stored / pq_search_stored."""
    online = sorted(
        tuple(r) for r in mm.media_decontaminate(spark, sf_dir).collect()
    )
    stored = sorted(
        tuple(r)
        for r in mm.media_decontaminate_stored(spark, sf_dir).collect()
    )
    assert stored == online
    compare_query(
        spark,
        sf_dir,
        mm.media_decontaminate_stored,
        mm.MEDIA_DECONTAMINATE_ORACLE,
    )


def test_decontaminate_audit_tiers_and_oracle(spark, sf_dir):
    """The cross-modal audit must report every tier exactly once with
    counts equal to the per-tier queries' distinct flagged items, and
    match its composed DuckDB oracle."""
    from honors_p1_mapreduce_spark.operators.pipeline import (
        DECONTAMINATE_AUDIT_ORACLE,
        decontaminate_audit,
    )
    from honors_p1_mapreduce_spark.operators.similarity import (
        embedding_decontaminate,
    )
    from honors_p1_mapreduce_spark.operators.winnow import (
        decontaminate_neardup,
    )

    rows = {r["tier"]: r["n_flagged"] for r in
            decontaminate_audit(spark, sf_dir).collect()}
    assert sorted(rows) == [
        "1_text_exact", "2_text_fuzzy", "3_image", "4_semantic",
        "5_audio", "6_video",
    ]
    assert rows["2_text_fuzzy"] == (
        decontaminate_neardup(spark, sf_dir).select("doc_id").distinct().count()
    )
    assert rows["3_image"] == (
        mm.media_decontaminate(spark, sf_dir).select("doc_id").distinct().count()
    )
    assert rows["4_semantic"] == (
        embedding_decontaminate(spark, sf_dir).select("vec_id").distinct().count()
    )
    assert rows["5_audio"] == (
        mm.media_audio_decontaminate(spark, sf_dir)
        .select("doc_id").distinct().count()
    )
    assert rows["6_video"] == (
        mm.media_video_decontaminate(spark, sf_dir)
        .select("doc_id").distinct().count()
    )
    compare_query(
        spark, sf_dir, decontaminate_audit, DECONTAMINATE_AUDIT_ORACLE
    )


# --------------------- audio decontamination tier (r12 library)


def seeded_audio_leak_corpus(spark, dirp: str, n_files: int = 1):
    """Write a synthetic documents.parquet with planted audio leaks
    and return the expected media_audio_decontaminate rows. Shared by
    the seeded golden, the stored-cycle test, and the streaming
    equivalence test (the driver corpora carry no natural audio
    contamination — measured 0 rows at sf0.01 and sf0.1 — so every
    non-trivial audio-tier check plants its own): eval clip doc 108
    (% 101 == 7, % 3 == 0 -> WAV) leaks into training as a GAIN twin
    (same envelope order, every byte different — hamming 0 by the
    fingerprint's volume invariance) and as a retouched copy (one
    adjacent sample swap — small nonzero hamming, computed, not
    assumed); the reversed-envelope control stays unflagged."""
    import struct

    def text_for(samples):
        data = b"".join(struct.pack("<h", s) for s in samples)
        assert len(data) == 128 and all(1 <= b <= 127 for b in data)
        return data.decode("ascii")

    base = [(3 + 2 * (i % 7)) + 256 * (1 + (i * 13) % 19) for i in range(64)]
    assert all(base[i] != base[i + 1] for i in range(63))
    # gain twin: strictly increasing reconstruction along base's rank
    # order — same pairwise |.| order, entirely different bytes
    rank = sorted(range(64), key=lambda i: (base[i], i))
    twin = [0] * 64
    for pos, i in enumerate(rank):
        twin[i] = (5 + 2 * ((pos * 3) % 5)) + 256 * (2 + pos)
    # retouched copy: swap adjacent samples 10/11 — flips at most
    # envelope bits 9..11
    retouch = list(base)
    retouch[10], retouch[11] = retouch[11], retouch[10]

    def wav_bytes(samples):
        data = b"".join(struct.pack("<h", s) for s in samples)
        return mm._wav_header(len(data)) + data

    h_base = mm.wav_volume_hash(wav_bytes(base))
    assert mm.wav_volume_hash(wav_bytes(twin)) == h_base
    ham = bin(h_base ^ mm.wav_volume_hash(wav_bytes(retouch))).count("1")
    assert 1 <= ham <= mm.DECONTAM_HAMMING_MAX  # construction sanity
    ham_ctl = bin(
        h_base ^ mm.wav_volume_hash(wav_bytes(list(reversed(base))))
    ).count("1")
    assert ham_ctl > mm.DECONTAM_HAMMING_MAX  # control really is far

    rows = [
        (108, text_for(base)),  # EVAL split member (108 % 101 == 7)
        (3, text_for(twin)),  # gain twin, hamming 0
        (6, text_for(retouch)),  # retouched leak
        (9, text_for(list(reversed(base)))),  # control
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string"
    ).repartition(n_files).write.mode("overwrite").parquet(
        dirp + "/documents.parquet"
    )
    return [(3, 1, 0), (6, 1, ham)]


def test_media_audio_decontaminate_seeded_leak(spark, tmp_path):
    """Audio seeded-leak golden (the image tier's r10-verdict pattern
    applied to the r12 audio tier). Engine and DuckDB oracle must
    agree on the same synthetic corpus."""
    import duckdb

    dirp = str(tmp_path / "sf")
    want = seeded_audio_leak_corpus(spark, dirp)

    got = sorted(
        (r["doc_id"], r["n_eval_matches"], r["min_hamming"])
        for r in mm.media_audio_decontaminate(spark, dirp).collect()
    )
    assert got == want

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{dirp}/documents.parquet/*.parquet')"
        )
        ora = con.execute(mm.MEDIA_AUDIO_DECONTAMINATE_ORACLE).fetchall()
    finally:
        con.close()
    assert sorted(ora) == got


def test_media_audio_decontaminate_matches_oracle(spark, sf_dir):
    from .oracle import compare_query

    compare_query(
        spark,
        sf_dir,
        mm.media_audio_decontaminate,
        mm.MEDIA_AUDIO_DECONTAMINATE_ORACLE,
    )


def test_media_audio_decontaminate_never_flags_eval_docs(spark, sf_dir):
    """Output rows are TRAINING clips only, every flagged doc is a
    real WAV doc, and hammings respect the lossless bound."""
    from honors_p1_mapreduce_spark.operators.winnow import (
        EVAL_MOD,
        EVAL_RESIDUE,
    )

    rows = mm.media_audio_decontaminate(spark, sf_dir).collect()
    wavs = {
        r["doc_id"]
        for r in mm.media_real_table(spark, sf_dir)
        .filter("media_type = 'audio/wav'")
        .select("doc_id")
        .collect()
    }
    for r in rows:
        assert r["doc_id"] % EVAL_MOD != EVAL_RESIDUE
        assert r["doc_id"] in wavs
        assert 0 <= r["min_hamming"] <= mm.DECONTAM_HAMMING_MAX
        assert r["n_eval_matches"] >= 1


def test_media_audio_decontaminate_stored_equals_online(spark, tmp_path):
    """The stored-index audio serving path must be bit-identical to
    the online query (integer fingerprints survive parquet
    losslessly) — checked on the SEEDED corpus so the equality is
    non-vacuous (the driver corpora carry no audio contamination),
    plus a from_index roundtrip against a separately written
    registry."""
    dirp = str(tmp_path / "sf")
    want = seeded_audio_leak_corpus(spark, dirp)

    online = sorted(
        (r["doc_id"], r["n_eval_matches"], r["min_hamming"])
        for r in mm.media_audio_decontaminate(spark, dirp).collect()
    )
    stored = sorted(
        (r["doc_id"], r["n_eval_matches"], r["min_hamming"])
        for r in mm.media_audio_decontaminate_stored(spark, dirp).collect()
    )
    assert online == stored == want

    idx = str(tmp_path / "audioidx")
    mm.media_audio_eval_write_index(spark, dirp, idx)
    via_index = sorted(
        (r["doc_id"], r["n_eval_matches"], r["min_hamming"])
        for r in mm.media_audio_decontaminate_from_index(
            spark, dirp, idx
        ).collect()
    )
    assert via_index == want


def test_decontam_banding_is_lossless_at_bound():
    """Property pin for the recall-lossless claim both decontamination
    tiers rest on: with IMG_NEARDUP_BANDS bands over PHASH_BITS bits,
    ANY two fingerprints at hamming <= BANDS-1 share at least one
    untouched band (pigeonhole: BANDS-1 differing bits cannot touch
    all BANDS bands), so the banded candidate join misses nothing at
    DECONTAM_HAMMING_MAX — unlike the near-dup pair query at hamming
    6, where banding is an LSH recall trade. Checked exhaustively in
    structure: random base fps x all ways of planting exactly
    DECONTAM_HAMMING_MAX bit flips, including adversarial placements
    concentrated near band boundaries."""
    import random

    rng = random.Random(12121212)
    mask = (1 << mm.IMG_NEARDUP_BAND_BITS) - 1

    def bands(fp):
        return [
            (fp >> (b * mm.IMG_NEARDUP_BAND_BITS)) & mask
            for b in range(mm.IMG_NEARDUP_BANDS)
        ]

    assert mm.DECONTAM_HAMMING_MAX == mm.IMG_NEARDUP_BANDS - 1
    for _ in range(500):
        base = rng.getrandbits(mm.PHASH_BITS)
        positions = rng.sample(range(mm.PHASH_BITS), mm.DECONTAM_HAMMING_MAX)
        other = base
        for p in positions:
            other ^= 1 << p
        shared = [
            b for b, (x, y) in enumerate(zip(bands(base), bands(other)))
            if x == y
        ]
        assert shared, (base, positions)
    # adversarial: all flips inside ONE band leaves the other 3 shared
    base = rng.getrandbits(mm.PHASH_BITS)
    other = base ^ (0b111 << mm.IMG_NEARDUP_BAND_BITS)  # 3 flips, band 1
    assert sum(x == y for x, y in zip(bands(base), bands(other))) == 3
    # and at hamming == BANDS (4), losslessness CAN fail: one flip per
    # band shares nothing — the bound is tight, not conservative
    other = base
    for b in range(mm.IMG_NEARDUP_BANDS):
        other ^= 1 << (b * mm.IMG_NEARDUP_BAND_BITS)
    assert all(x != y for x, y in zip(bands(base), bands(other)))


def test_image_fingerprints_skip_corrupt_payloads(spark):
    """One corrupt file must never kill an ingest query (r12 fuzzing):
    a BM-magic payload with a truncated header (struct.error inside
    _pixel_grid) and a foreign container (UnsupportedMediaError) are
    SKIPPED per item by image_fingerprints, and the well-formed rows'
    fingerprints are bit-identical to a run without the garbage —
    matching the audio twin's skip-on-undecodable contract."""
    from pyspark.sql import functions as F

    def grid_text():
        out = []
        for ty in range(mm.IMG_H):
            for x in range(mm.IMG_W):
                out.append(chr(min(32 + x * 20, 126)) * 3)
        return "".join(out)

    good = mm.BMP_HEADER + grid_text().encode()
    rows = [
        (1, bytearray(good)),
        (2, bytearray(b"BM\x01\x02")),  # truncated header -> struct.error
        (3, bytearray(b"not a container at all")),  # UnsupportedMediaError
        # r13 (advisor): the except is narrowed from bare Exception to
        # the enumerated corrupt-payload modes — cover the others:
        (4, bytearray(b"P6")),  # truncated P6 header -> ValueError
        (5, bytearray(good[: len(mm.BMP_HEADER) + 5])),  # short pixel data
        (6, None),  # NULL payload
        # r13 review: declared height 2^31-1 in a 36-byte blob — must
        # be rejected by the geometry bound BEFORE any row-list
        # allocation (the memory bomb), then skipped like any corrupt
        (7, bytearray(_bomb_bmp())),
    ]
    media = spark.createDataFrame(
        rows, "doc_id bigint, content binary"
    ).withColumn("media_type", F.lit("image/bmp"))

    mm.reset_media_skip_counts()
    got = {
        r["doc_id"]: r["fingerprint"]
        for r in mm.image_fingerprints(media).collect()
    }
    assert set(got) == {1}
    # r13: skips are COUNTED (mass skipping must be distinguishable
    # from a clean corpus) — 6 corrupt rows -> 6 skips, cumulative on
    # the context until reset
    assert mm.image_fingerprint_skip_count() == 6
    mm.reset_media_skip_counts()
    clean = mm.image_fingerprints(media.filter("doc_id = 1")).collect()
    assert got[1] == clean[0]["fingerprint"]  # valid rows unperturbed
    assert mm.image_fingerprint_skip_count() == 0  # clean run, clean counter


def _bomb_bmp() -> bytes:
    """36-byte BM-magic blob whose DIB header declares a 2^31-1 row
    image — small enough to ship anywhere, large enough to allocate
    ~17 GB of row slices if the declared geometry is trusted."""
    import struct as _s

    blob = bytearray(36)
    blob[0:2] = b"BM"
    _s.pack_into("<I", blob, 10, 36)  # pixel-array offset
    _s.pack_into("<ii", blob, 18, 4, 0x7FFFFFFF)  # width, height
    _s.pack_into("<H", blob, 28, 24)  # bpp
    return bytes(blob)


def test_pixel_grid_rejects_memory_bomb_geometry():
    """The r13 review finding, pinned at the decode layer: a declared
    geometry that does not fit the payload raises
    UnsupportedMediaError from the shared _bmp_geometry bound — fast,
    before any row-list allocation — in BOTH consumers (_pixel_grid
    for fingerprints/resize, _decode_bmp for the codec seam), and the
    seam's fallback contract turns it into a fake decode rather than
    a job failure. Same bound for a truncated P6 data section."""
    bomb = _bomb_bmp()
    with pytest.raises(mm.UnsupportedMediaError):
        mm._pixel_grid(bomb)
    with pytest.raises(mm.UnsupportedMediaError):
        mm._decode_bmp(bomb)
    # the codec seam treats it like any undecodable payload
    w, h, nf, feat = mm._stdlib_or_fake(bomb, "image/bmp")
    assert (w, h, nf, feat) == mm._fake_decode(bomb, "image/bmp")
    # P6 twin: declared 100x100 grid, 3 bytes of data
    with pytest.raises(mm.UnsupportedMediaError):
        mm._pixel_grid(b"P6 100 100 255\n\x01\x02\x03")
    # and the genuine article still decodes through the same bounds
    good = mm.BMP_HEADER + bytes(mm.IMG_DATA_LEN)
    w, h, data = mm._pixel_grid(good)
    assert (w, h, len(data)) == (mm.IMG_W, mm.IMG_H, mm.IMG_DATA_LEN)


def test_audio_fingerprints_count_skips(spark):
    """Audio twin of the image skip-count contract (r13 review: image
    skips were counted but a mass audio skip still read as a clean
    corpus): undecodable clips skip per item in audio_fingerprints
    AND wav_fp_peak, each incrementing media_skip_count('audio'),
    while valid clips fingerprint identically with garbage present."""
    import struct as _s

    from pyspark.sql import functions as F

    def wav(vals):
        data = b"".join(_s.pack("<h", v) for v in vals)
        return mm._wav_header(len(data)) + data

    valid = wav(list(range(mm.PHASH_BITS + 1)))
    rows = [
        (1, bytearray(valid)),
        (2, bytearray(b"not riff")),  # -1 sentinel
        (3, bytearray(valid[:10])),  # truncated -> -1 sentinel
        (4, None),  # NULL payload
    ]
    media = spark.createDataFrame(
        rows, "doc_id bigint, content binary"
    ).withColumn("media_type", F.lit("audio/wav"))

    mm.reset_media_skip_counts()
    got = {
        r["doc_id"]: r["fingerprint"]
        for r in mm.audio_fingerprints(media).collect()
    }
    assert set(got) == {1}
    assert mm.media_skip_count("audio") == 3
    assert mm.media_skip_count("image") == 0  # modalities separate

    mm.reset_media_skip_counts()
    fused = mm.wav_fp_peak(media).collect()
    assert [r["doc_id"] for r in fused] == [1]
    assert fused[0]["fingerprint"] == got[1]
    assert mm.media_skip_count("audio") == 3


# --------------------- video perceptual tier (r13 library)


def _avi_from_payload(payload: bytes) -> bytes:
    """Assemble a valid synth-geometry AVI around a raw
    AVI_DATA_LEN-byte pixel stream — the test-side mirror of
    media_avi_table's Catalyst concat (mm.BMP_HEADER pattern)."""
    assert len(payload) == mm.AVI_DATA_LEN
    parts = [mm.AVI_PREFIX]
    for i in range(mm.AVI_FRAMES):
        if i:
            parts.append(mm._AVI_FRAME_HDR)
        parts.append(payload[i * mm.AVI_FRAME_DATA : (i + 1) * mm.AVI_FRAME_DATA])
    return b"".join(parts)


def _video_payload(vals) -> bytes:
    """Pixel stream where pixel k is the gray triple (v_k, v_k, v_k)
    — luminance g_k = 3 * v_k, so envelope ORDER is exactly the
    order of ``vals``. ASCII-safe bytes (documents.text is a UTF-8
    string column)."""
    assert len(vals) == mm.AVI_DATA_LEN // 3
    assert all(1 <= v <= 126 for v in vals)
    return bytes(v for v in vals for _ in range(3))


def test_avi_video_hash_invariances():
    """The spatio-temporal fingerprint's contract: invariant to any
    positive gain (doubling every channel) and to uniform brightness
    shifts, SENSITIVE to frame reordering (the temporal claim — the
    57-gray window spans all 4 frames), and raising the contracted
    corrupt-payload types on undecodable bytes."""
    vals = [10 + ((k * 37) % 53) for k in range(mm.AVI_DATA_LEN // 3)]
    assert all(
        vals[i] != vals[i + 1] for i in range(mm.VIDEO_FP_GRAYS - 1)
    )  # no ties in the hashed window -> strict comparisons throughout
    base = _video_payload(vals)
    h0 = mm.avi_video_hash(_avi_from_payload(base))
    # gain: every byte doubles, every comparison (and tie) survives
    h_gain = mm.avi_video_hash(_avi_from_payload(bytes(2 * b for b in base)))
    assert h_gain == h0
    # brightness: +3 on every channel shifts every gray by +9
    h_bright = mm.avi_video_hash(
        _avi_from_payload(bytes(b + 3 for b in base))
    )
    assert h_bright == h0
    # temporal: swapping frames 0 and 1 must change the hash
    f = mm.AVI_FRAME_DATA
    swapped = base[f : 2 * f] + base[:f] + base[2 * f :]
    assert mm.avi_video_hash(_avi_from_payload(swapped)) != h0
    # corrupt payloads raise UnsupportedMediaError and NOTHING else —
    # _avi_frames_parse wraps struct.error/IndexError by construction
    # (avi_video_hash's raise contract), which is what lets
    # video_fingerprints' ingest skip catch that single type
    for bad in (
        b"",
        b"not a riff container",
        b"RIFF\x10\x00\x00\x00AVI ",  # valid magic, no strf/frames
        _avi_from_payload(base)[:40],  # truncated mid-header
    ):
        with pytest.raises(mm.UnsupportedMediaError):
            mm.avi_video_hash(bad)


def test_video_fingerprints_skip_corrupt_payloads(spark):
    """Video member of the ingest skip-and-count contract: corrupt
    AVI payloads skip per item in video_fingerprints and count toward
    media_skip_count('video'), while valid clips fingerprint
    identically with garbage present (the image/audio twins'
    contract, module docstring)."""
    from pyspark.sql import functions as F

    vals = [10 + ((k * 37) % 53) for k in range(mm.AVI_DATA_LEN // 3)]
    good = _avi_from_payload(_video_payload(vals))
    rows = [
        (1, bytearray(good)),
        (2, bytearray(b"not a riff container")),  # foreign magic
        (3, bytearray(good[:40])),  # truncated header
        (4, None),  # NULL payload
        (5, bytearray(good[: len(mm.AVI_PREFIX) + 8])),  # too few pixels
    ]
    media = spark.createDataFrame(
        rows, "doc_id bigint, content binary"
    ).withColumn("media_type", F.lit("video/avi"))

    mm.reset_media_skip_counts()
    got = {
        r["doc_id"]: r["fingerprint"]
        for r in mm.video_fingerprints(media).collect()
    }
    assert set(got) == {1}
    assert mm.media_skip_count("video") == 4
    assert mm.media_skip_count("image") == 0  # modalities separate

    mm.reset_media_skip_counts()
    clean = mm.video_fingerprints(media.filter("doc_id = 1")).collect()
    assert got[1] == clean[0]["fingerprint"]  # valid rows unperturbed
    assert mm.media_skip_count("video") == 0


def test_media_video_neardup_matches_oracle(spark, sf_dir):
    compare_query(
        spark, sf_dir, mm.media_video_neardup, mm.MEDIA_VIDEO_NEARDUP_ORACLE
    )


def test_media_video_dedup_invariants_and_oracle(spark, sf_dir):
    """Video twin of the image/audio dedup-decision invariants: total
    partition of the AVI set, min-label clusters, consistent sizes,
    every near-dup pair co-clustered; recursive-CTE oracle agrees
    (pre-verifies the future registration oracle)."""
    out = mm.media_video_dedup(spark, sf_dir).collect()
    label = {r["doc_id"]: r["cluster"] for r in out}
    n_avi = mm.media_avi_table(spark, sf_dir).count()
    assert len(out) == len(label) == n_avi
    members: dict = {}
    for r in out:
        members.setdefault(r["cluster"], []).append(r["doc_id"])
    for c, ms in members.items():
        assert c == min(ms)
    for r in out:
        assert r["cluster_size"] == len(members[r["cluster"]])
    for p in mm.media_video_neardup(spark, sf_dir).collect():
        assert label[p["doc_a"]] == label[p["doc_b"]], p
    compare_query(
        spark, sf_dir, mm.media_video_dedup, mm.MEDIA_VIDEO_DEDUP_ORACLE
    )


def seeded_video_leak_corpus(spark, dirp: str, n_files: int = 1):
    """Write a synthetic documents.parquet with planted video leaks
    and return the expected media_video_decontaminate rows (the
    seeded_audio_leak_corpus pattern; the video tier DOES flag real
    rows in the sf0.001 driver corpus, but the planted corpus pins
    the semantics — gain twin at hamming 0, retouch at a computed
    small hamming, far control unflagged): eval clip doc 7
    (% 101 == 7) leaks into training as a DOUBLED-gain twin (every
    byte different, hamming 0 by construction) and as a retouched
    copy (one adjacent pixel swap of g10/g11 — touches the
    comparisons at bits 9, 10 and 11, i.e. at most 3 flipped bits,
    which meets DECONTAM_HAMMING_MAX = 3 exactly; the assert below
    computes the true hamming rather than trusting the bound)."""
    vals = [10 + ((k * 37) % 53) for k in range(mm.AVI_DATA_LEN // 3)]
    assert all(vals[i] != vals[i + 1] for i in range(mm.VIDEO_FP_GRAYS - 1))
    twin = [2 * v for v in vals]  # gain x2: same order, new bytes
    retouch = list(vals)
    retouch[10], retouch[11] = retouch[11], retouch[10]
    control = list(reversed(vals))

    def hash_of(vs):
        return mm.avi_video_hash(_avi_from_payload(_video_payload(vs)))

    h_base = hash_of(vals)
    assert hash_of(twin) == h_base
    ham = bin(h_base ^ hash_of(retouch)).count("1")
    assert 1 <= ham <= mm.DECONTAM_HAMMING_MAX  # construction sanity
    ham_ctl = bin(h_base ^ hash_of(control)).count("1")
    assert ham_ctl > mm.DECONTAM_HAMMING_MAX  # control really is far

    def text_for(vs):
        return _video_payload(vs).decode("ascii")

    rows = [
        (7, text_for(vals)),  # EVAL split member (7 % 101 == 7)
        (3, text_for(twin)),  # gain twin, hamming 0
        (6, text_for(retouch)),  # retouched leak
        (9, text_for(control)),  # control
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string"
    ).repartition(n_files).write.mode("overwrite").parquet(
        dirp + "/documents.parquet"
    )
    return [(3, 1, 0), (6, 1, ham)]


def test_media_video_decontaminate_seeded_leak(spark, tmp_path):
    """Video seeded-leak golden (the image tier's r10-verdict pattern
    applied to the r13 video tier). Engine and DuckDB oracle must
    agree on the same synthetic corpus."""
    import duckdb

    dirp = str(tmp_path / "sf")
    want = seeded_video_leak_corpus(spark, dirp)

    got = sorted(
        (r["doc_id"], r["n_eval_matches"], r["min_hamming"])
        for r in mm.media_video_decontaminate(spark, dirp).collect()
    )
    assert got == want

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{dirp}/documents.parquet/*.parquet')"
        )
        ora = con.execute(mm.MEDIA_VIDEO_DECONTAMINATE_ORACLE).fetchall()
    finally:
        con.close()
    assert sorted(ora) == got


def test_media_video_decontaminate_matches_oracle(spark, sf_dir):
    compare_query(
        spark,
        sf_dir,
        mm.media_video_decontaminate,
        mm.MEDIA_VIDEO_DECONTAMINATE_ORACLE,
    )


def test_media_video_decontaminate_never_flags_eval_docs(spark, sf_dir):
    """Output rows are TRAINING clips only, every flagged doc is a
    real AVI doc, and hammings respect the lossless bound."""
    from honors_p1_mapreduce_spark.operators.winnow import (
        EVAL_MOD,
        EVAL_RESIDUE,
    )

    rows = mm.media_video_decontaminate(spark, sf_dir).collect()
    avis = {
        r["doc_id"]
        for r in mm.media_avi_table(spark, sf_dir).select("doc_id").collect()
    }
    for r in rows:
        assert r["doc_id"] % EVAL_MOD != EVAL_RESIDUE
        assert r["doc_id"] in avis
        assert 0 <= r["min_hamming"] <= mm.DECONTAM_HAMMING_MAX
        assert r["n_eval_matches"] >= 1


def test_media_video_decontaminate_stored_equals_online(spark, tmp_path):
    """The stored-index video serving path must be bit-identical to
    the online query (integer fingerprints survive parquet
    losslessly) — checked on the SEEDED corpus so the equality is
    pinned on known flags, plus a from_index roundtrip against a
    separately written registry."""
    dirp = str(tmp_path / "sf")
    want = seeded_video_leak_corpus(spark, dirp)

    online = sorted(
        (r["doc_id"], r["n_eval_matches"], r["min_hamming"])
        for r in mm.media_video_decontaminate(spark, dirp).collect()
    )
    stored = sorted(
        (r["doc_id"], r["n_eval_matches"], r["min_hamming"])
        for r in mm.media_video_decontaminate_stored(spark, dirp).collect()
    )
    assert online == stored == want

    idx = str(tmp_path / "videoidx")
    mm.media_video_eval_write_index(spark, dirp, idx)
    via_index = sorted(
        (r["doc_id"], r["n_eval_matches"], r["min_hamming"])
        for r in mm.media_video_decontaminate_from_index(
            spark, dirp, idx
        ).collect()
    )
    assert via_index == want


def _frame_vals(seed: int) -> list:
    """16 luminance VALUES for one synthetic frame: a seeded-random
    sample of distinct values in 10..62 (every lag comparison strict;
    doubling stays printable), so distinct seeds give independent
    order patterns — a linear-congruential family here would cap out
    at its modulus and alias across seeds (the hot-fp test needs 50+
    genuinely distinct frames)."""
    import random

    return random.Random(seed).sample(range(10, 63), 16)


def test_media_video_frame_overlap_golden(spark, tmp_path):
    """Clip-in-clip golden: doc 2 embeds two of doc 1's frames —
    GAIN-DOUBLED and at different temporal positions — so the
    whole-clip hashes sit far apart (asserted), yet the frame-level
    operator reports the pair with exactly 2 shared fingerprints; a
    control doc sharing nothing is absent. Engine and DuckDB agree."""
    import duckdb

    a_frames = [_frame_vals(s) for s in (1, 2, 3, 4)]
    # doc 2: frames 3 and 1 of doc 1, gain x2, at positions 0 and 2
    b_frames = [
        [2 * v for v in a_frames[3]],
        _frame_vals(9),
        [2 * v for v in a_frames[1]],
        _frame_vals(11),
    ]
    c_frames = [_frame_vals(s) for s in (21, 22, 23, 24)]

    def payload(frames) -> bytes:
        return _video_payload([v for fr in frames for v in fr])

    fps = {
        name: {
            mm.frame_gradient_hash(
                [3 * v for v in fr]  # grays = 3x the per-channel value
            )
            for fr in frames
        }
        for name, frames in (
            ("a", a_frames), ("b", b_frames), ("c", c_frames),
        )
    }
    assert len(fps["a"] & fps["b"]) == 2  # construction sanity
    assert not (fps["a"] & fps["c"]) and not (fps["b"] & fps["c"])
    # the whole-clip hash cannot see the overlap: reordered + mixed
    # frames land beyond the near-dup threshold
    h = {
        n: mm.avi_video_hash(_avi_from_payload(payload(f)))
        for n, f in (("a", a_frames), ("b", b_frames))
    }
    assert bin(h["a"] ^ h["b"]).count("1") > mm.IMG_NEARDUP_HAMMING_MAX

    rows = [
        (1, payload(a_frames).decode("ascii")),
        (2, payload(b_frames).decode("ascii")),
        (3, payload(c_frames).decode("ascii")),
    ]
    dirp = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "doc_id bigint, text string"
    ).coalesce(1).write.mode("overwrite").parquet(dirp + "/documents.parquet")

    got = sorted(
        (r["doc_a"], r["doc_b"], r["n_shared_fps"])
        for r in mm.media_video_frame_overlap(spark, dirp).collect()
    )
    assert got == [(1, 2, 2)]

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{dirp}/documents.parquet/*.parquet')"
        )
        ora = con.execute(mm.MEDIA_VIDEO_FRAME_OVERLAP_ORACLE).fetchall()
    finally:
        con.close()
    assert sorted(ora) == got


def test_media_video_frame_overlap_hot_fp_guard(spark, tmp_path):
    """A boilerplate frame carried by more than VIDEO_FRAME_FP_CAP
    docs (black frames, title cards) must stop generating pairs —
    docs sharing ONLY the hot frame drop out, while a pair that also
    shares a discriminative frame still surfaces with the hot frame
    excluded from its count. Uncapped (fp_cap=None) the clique
    reappears — the guard is the only thing bounding the fanout."""
    boiler = _frame_vals(0)
    n_docs = mm.VIDEO_FRAME_FP_CAP + 4  # 20 > cap
    rows = []
    for d in range(n_docs):
        frames = [boiler] + [_frame_vals(100 + 10 * d + s) for s in (1, 2, 3)]
        rows.append((d + 1, _video_payload(
            [v for fr in frames for v in fr]
        ).decode("ascii")))
    # docs 1 and 2 additionally share a discriminative frame
    shared = _frame_vals(77)
    frames1 = [boiler, shared] + [_frame_vals(500 + s) for s in (1, 2)]
    frames2 = [boiler, shared] + [_frame_vals(600 + s) for s in (1, 2)]
    rows[0] = (1, _video_payload([v for fr in frames1 for v in fr]).decode("ascii"))
    rows[1] = (2, _video_payload([v for fr in frames2 for v in fr]).decode("ascii"))

    dirp = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "doc_id bigint, text string"
    ).coalesce(1).write.mode("overwrite").parquet(dirp + "/documents.parquet")

    got = sorted(
        (r["doc_a"], r["doc_b"], r["n_shared_fps"])
        for r in mm.media_video_frame_overlap(spark, dirp).collect()
    )
    assert got == [(1, 2, 1)]  # hot boiler excluded, shared frame kept

    uncapped = mm.media_video_frame_overlap(spark, dirp, fp_cap=None)
    n_pairs = uncapped.count()
    assert n_pairs == n_docs * (n_docs - 1) // 2  # the clique is real


def test_media_video_frame_overlap_matches_oracle(spark, sf_dir):
    compare_query(
        spark,
        sf_dir,
        mm.media_video_frame_overlap,
        mm.MEDIA_VIDEO_FRAME_OVERLAP_ORACLE,
    )


def seeded_frame_leak_corpus(spark, dirp: str, n_files: int = 1):
    """Planted sub-clip leakage corpus: eval doc 7's frames leak into
    training at FRAME granularity — doc 3 carries a gain-doubled copy
    of eval frame 0 and an exact copy of eval frame 2 (2 signatures /
    2 positions), doc 6 carries ONE eval frame at two positions
    (1 signature / 2 positions — the n_eval_matches vs
    n_frames_matched distinction), doc 9 shares nothing. Returns the
    expected media_video_frame_decontaminate rows."""
    ev = [_frame_vals(s) for s in (31, 32, 33, 34)]
    d3 = [[2 * v for v in ev[0]], _frame_vals(41), ev[2], _frame_vals(42)]
    d6 = [_frame_vals(51), ev[1], _frame_vals(52), ev[1]]
    d9 = [_frame_vals(s) for s in (61, 62, 63, 64)]

    ev_fps = {mm.frame_gradient_hash([3 * v for v in fr]) for fr in ev}
    assert len(ev_fps) == 4  # eval frames pairwise distinct
    for frames, want_shared in ((d3, 2), (d6, 1), (d9, 0)):
        fps = {mm.frame_gradient_hash([3 * v for v in fr]) for fr in frames}
        assert len(ev_fps & fps) == want_shared

    def text_for(frames):
        return _video_payload([v for fr in frames for v in fr]).decode("ascii")

    rows = [
        (7, text_for(ev)),  # EVAL split member (7 % 101 == 7)
        (3, text_for(d3)),
        (6, text_for(d6)),
        (9, text_for(d9)),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string"
    ).repartition(n_files).write.mode("overwrite").parquet(
        dirp + "/documents.parquet"
    )
    return [(3, 2, 2), (6, 1, 2)]


def test_media_video_frame_decontaminate_seeded_leak(spark, tmp_path):
    """Sub-clip leakage golden: the whole-clip tier must MISS these
    planted leaks (the frames are spliced among foreign frames, so
    the clip hashes sit beyond the decontamination bound) while the
    frame-level tier flags both, with the signature-vs-position
    counts distinguished. Engine and DuckDB agree."""
    import duckdb

    dirp = str(tmp_path / "sf")
    want = seeded_frame_leak_corpus(spark, dirp)

    got = sorted(
        (r["doc_id"], r["n_eval_matches"], r["n_frames_matched"])
        for r in mm.media_video_frame_decontaminate(spark, dirp).collect()
    )
    assert got == want

    # the whole-clip tier cannot see this leakage mode
    whole = mm.media_video_decontaminate(spark, dirp).collect()
    assert whole == []

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{dirp}/documents.parquet/*.parquet')"
        )
        ora = con.execute(
            mm.MEDIA_VIDEO_FRAME_DECONTAMINATE_ORACLE
        ).fetchall()
    finally:
        con.close()
    assert sorted(ora) == got


def test_media_video_frame_decontaminate_matches_oracle(spark, sf_dir):
    compare_query(
        spark,
        sf_dir,
        mm.media_video_frame_decontaminate,
        mm.MEDIA_VIDEO_FRAME_DECONTAMINATE_ORACLE,
    )


def test_media_video_frame_decontaminate_stored_equals_online(
    spark, tmp_path
):
    """The stored-index frame-registry serving path must be
    bit-identical to the online query, plus a from_index roundtrip
    against a separately written registry (the clip tiers'
    convention)."""
    dirp = str(tmp_path / "sf")
    want = seeded_frame_leak_corpus(spark, dirp)

    online = sorted(
        (r["doc_id"], r["n_eval_matches"], r["n_frames_matched"])
        for r in mm.media_video_frame_decontaminate(spark, dirp).collect()
    )
    stored = sorted(
        (r["doc_id"], r["n_eval_matches"], r["n_frames_matched"])
        for r in mm.media_video_frame_decontaminate_stored(
            spark, dirp
        ).collect()
    )
    assert online == stored == want

    idx = str(tmp_path / "frameidx")
    mm.media_video_frame_eval_write_index(spark, dirp, idx)
    via_index = sorted(
        (r["doc_id"], r["n_eval_matches"], r["n_frames_matched"])
        for r in mm.media_video_frame_decontaminate_from_index(
            spark, dirp, idx
        ).collect()
    )
    assert via_index == want


def test_media_video_clean_funnel_monotone_and_oracle(spark, sf_dir):
    """Video funnel invariants (the media_clean_funnel test's shape):
    item and byte budgets non-increasing across stages, stage 0
    equals the raw AVI table, stage 1 equals the direct threshold
    recount (the popcount quality signal is derived from the SAME
    fingerprint the dedup stage uses — one decode pass), stage 2
    keeps exactly one clip per cluster among survivors, and the whole
    composition matches its DuckDB oracle."""
    from honors_p1_mapreduce_spark.operators.pipeline import (
        MEDIA_VIDEO_CLEAN_FUNNEL_ORACLE,
        MEDIA_VIDEO_MIN_GRADIENTS,
        media_video_clean_funnel,
    )
    from pyspark.sql import functions as F

    rows = {
        r["stage"]: (r["n_items"], r["n_bytes"])
        for r in media_video_clean_funnel(spark, sf_dir).collect()
    }
    assert sorted(rows) == ["0_all", "1_quality", "2_dedup"]
    assert rows["0_all"] >= rows["1_quality"] >= rows["2_dedup"]
    assert rows["2_dedup"][0] >= 1

    media = mm.media_avi_table(spark, sf_dir)
    assert rows["0_all"][0] == media.count()
    vfp = mm.video_fingerprints(media)
    n_q = vfp.filter(
        F.bit_count("fingerprint") >= MEDIA_VIDEO_MIN_GRADIENTS
    ).count()
    assert rows["1_quality"][0] == n_q
    assert rows["1_quality"][0] < rows["0_all"][0]  # gate does real work

    compare_query(
        spark,
        sf_dir,
        media_video_clean_funnel,
        MEDIA_VIDEO_CLEAN_FUNNEL_ORACLE,
    )


def test_avi_parse_rejects_list_nesting_bomb():
    """r13 review finding, pinned at the parse layer: a corrupt
    payload of nothing but nested LIST headers would recurse
    ~len/12 deep and raise RecursionError PAST the except wrapper —
    one malformed byte string failing a whole ingest query. The
    depth cap turns it into UnsupportedMediaError (the single type
    the ingest skip catches), while real AVIs (2-3 LIST levels)
    parse unchanged."""
    depth = 2000
    body = b""
    for _ in range(depth):
        body = b"LIST" + __import__("struct").pack("<I", len(body) + 4) \
            + b"bomb" + body
    bomb = b"RIFF" + __import__("struct").pack("<I", len(body) + 4) \
        + b"AVI " + body
    with pytest.raises(mm.UnsupportedMediaError):
        mm._avi_frames_parse(bomb)
    # the genuine article still parses through the same cap
    vals = [10 + ((k * 29) % 53) for k in range(64)]
    good = _avi_from_payload(_video_payload(vals))
    w, h, frames = mm._avi_frames_parse(good)
    assert (w, h, len(frames)) == (mm.AVI_W, mm.AVI_H, mm.AVI_FRAMES)


def test_avi_parse_rejects_declared_geometry_bomb():
    """r13 advisor finding, the _bmp_geometry bug class on the AVI
    path: a tiny corrupt AVI whose strf declares height 2^31-1 over
    one 16-byte '00db' chunk would build a multi-GB row list if the
    declared geometry were trusted — an uncatchable memory bomb on
    every video ingest path. The payload-length bound turns it into
    UnsupportedMediaError (the one type ingest skips-and-counts)
    before any row list is built."""
    import struct

    strf = struct.pack(
        "<IiiHHIIiiII", 40, 4, 2**31 - 1, 1, 8, 0, 0, 0, 0, 0, 0
    )
    hdrl = b"hdrl" + b"strf" + struct.pack("<I", len(strf)) + strf
    movi = b"movi" + b"00db" + struct.pack("<I", 16) + b"\x00" * 16
    body = (
        b"AVI "
        + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
        + b"LIST" + struct.pack("<I", len(movi)) + movi
    )
    bomb = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(mm.UnsupportedMediaError):
        mm._avi_frames_parse(bomb)
    # degenerate declared geometry (zero height / width) also raises
    # instead of silently returning empty frames
    strf0 = struct.pack("<IiiHHIIiiII", 40, 0, 0, 1, 8, 0, 0, 0, 0, 0, 0)
    hdrl0 = b"hdrl" + b"strf" + struct.pack("<I", len(strf0)) + strf0
    body0 = (
        b"AVI "
        + b"LIST" + struct.pack("<I", len(hdrl0)) + hdrl0
        + b"LIST" + struct.pack("<I", len(movi)) + movi
    )
    bomb0 = b"RIFF" + struct.pack("<I", len(body0)) + body0
    with pytest.raises(mm.UnsupportedMediaError):
        mm._avi_frames_parse(bomb0)


def test_video_frame_fingerprints_fixed_width_on_foreign_geometry(spark):
    """r13 review finding: the frame signature must be fixed-width
    42 bits for ANY decodable geometry — hashing whatever pixel count
    the container declares would overflow the 64-bit frame_fp column
    on a well-formed 8x8 AVI (64 grays -> up to 186 bits) and fail
    the query instead of fingerprinting. A valid 8x8 single-frame AVI
    now yields an in-range signature over its first 16 luminances; a
    frame below the window skips-and-counts."""
    import struct as _s

    from pyspark.sql import functions as F

    def avi_with_geometry(w, h, frames):
        frame_data = w * h * 3
        strf = _s.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_data, 2835, 2835, 0, 0
        )
        strh = b"vids" + b"DIB " + _s.pack(
            "<IIIIIIIIII4h", 0, 0, 0, 1, 10, 0, len(frames), frame_data,
            0, 0, 0, 0, w, h,
        )
        strl = b"strl" + b"strh" + _s.pack("<I", len(strh)) + strh \
            + b"strf" + _s.pack("<I", 40) + strf
        avih = _s.pack(
            "<IIIIIIIIII4I", 100_000, frame_data * 10, 0, 0, len(frames),
            0, 1, frame_data, w, h, 0, 0, 0, 0,
        )
        hdrl = b"hdrl" + b"avih" + _s.pack("<I", len(avih)) + avih \
            + b"LIST" + _s.pack("<I", len(strl)) + strl
        movi = b"movi"
        for fr in frames:
            movi += b"00db" + _s.pack("<I", len(fr)) + fr
        riff = b"LIST" + _s.pack("<I", len(hdrl)) + hdrl \
            + b"LIST" + _s.pack("<I", len(movi)) + movi
        return b"RIFF" + _s.pack("<I", len(riff) + 4) + b"AVI " + riff

    big = avi_with_geometry(8, 8, [bytes(range(192))])  # 64 px > window
    tiny = avi_with_geometry(2, 2, [bytes(range(12))])  # 4 px < window
    rows = [(1, bytearray(big)), (2, bytearray(tiny))]
    media = spark.createDataFrame(
        rows, "doc_id bigint, content binary"
    ).withColumn("media_type", F.lit("video/avi"))

    mm.reset_media_skip_counts()
    got = mm.video_frame_fingerprints(media).collect()
    assert [r["doc_id"] for r in got] == [1]
    assert 0 <= got[0]["frame_fp"] < (1 << mm.VIDEO_FRAME_FP_BITS)
    assert mm.media_skip_count("video") == 1  # the tiny frame skipped
    # the signature is over the FIRST 16 luminances — recompute
    grays = [sum(range(192)[3 * j : 3 * j + 3])
             for j in range(mm.VIDEO_FRAME_FP_GRAYS)]
    assert got[0]["frame_fp"] == mm.frame_gradient_hash(grays)


# --------------- audio snippet windows + image tiles (r13 library)


def seeded_snippet_corpus(spark, dirp: str, n_files: int = 1):
    """Planted SNIPPET leakage corpus for the audio window tier: eval
    clip 108 (% 101 == 7, % 3 == 0 -> WAV); training clip 3 embeds
    eval's first 16-sample window GAIN-DOUBLED at sample offset 8 (a
    stride-aligned window boundary); clip 6 is an unrelated control.
    Returns (expected_decontam_rows, expected_overlap_pairs) computed
    from the kernel itself — the whole-clip audio tier must MISS the
    leak (asserted in the tests)."""
    import random
    import struct as _s

    # byte-safe sample pool: both v's and 2v's int16-LE bytes land in
    # printable ASCII so documents.text survives the string roundtrip
    # (a linear-congruential generator here ALIASES across parameter
    # choices — same |.| order pattern, same window signatures — so
    # the samples are seeded-random like the tile golden's grids)
    def safe(x):
        return 1 <= (x & 255) <= 126 and 1 <= (x >> 8) <= 126

    pool = [x for x in range(257, 16000) if safe(x) and safe(2 * x)]

    def draw(seed):
        return random.Random(seed).sample(pool, 64)

    a = draw(5)
    snippet = [2 * s for s in a[:16]]  # gain x2: same |.| order
    noise = draw(17)
    b = noise[:8] + snippet + noise[24:]
    c = draw(29)

    def wins(samples):
        av = [abs(s) for s in samples]
        return {
            mm.frame_gradient_hash(
                av[w * mm.AUDIO_WIN_STRIDE:
                   w * mm.AUDIO_WIN_STRIDE + mm.AUDIO_WIN_SAMPLES]
            )
            for w in range((64 - mm.AUDIO_WIN_SAMPLES)
                           // mm.AUDIO_WIN_STRIDE + 1)
        }
    wa, wb, wc = wins(a), wins(b), wins(c)
    n_ab = len(wa & wb)
    assert n_ab >= 1  # the planted window really lands
    assert not (wa & wc) and not (wb & wc)
    # the whole-clip envelope hash misses it: B is not a gain variant
    # of A, so their 56-bit hashes sit beyond the decontamination bound
    def text_for(samples):
        data = b"".join(_s.pack("<h", s) for s in samples)
        assert all(1 <= byte <= 126 for byte in data)
        return data.decode("ascii")

    ham = bin(
        mm.wav_volume_hash(mm._wav_header(128) + text_for(a).encode())
        ^ mm.wav_volume_hash(mm._wav_header(128) + text_for(b).encode())
    ).count("1")
    assert ham > mm.DECONTAM_HAMMING_MAX

    rows = [(108, text_for(a)), (3, text_for(b)), (6, text_for(c))]
    spark.createDataFrame(
        rows, "doc_id bigint, text string"
    ).repartition(n_files).write.mode("overwrite").parquet(
        dirp + "/documents.parquet"
    )
    return [(3, n_ab, n_ab)], [(3, 108, n_ab)]


def test_media_audio_snippet_seeded_leak(spark, tmp_path):
    """Snippet golden: the whole-clip audio tier returns ZERO rows on
    the planted sub-clip leak while the window tier flags it, and the
    overlap query reports the pair — both matching DuckDB."""
    import duckdb

    dirp = str(tmp_path / "sf")
    want_decontam, want_pairs = seeded_snippet_corpus(spark, dirp)

    assert mm.media_audio_decontaminate(spark, dirp).collect() == []
    got = sorted(
        (r["doc_id"], r["n_eval_matches"], r["n_windows_matched"])
        for r in mm.media_audio_snippet_decontaminate(spark, dirp).collect()
    )
    assert got == want_decontam
    pairs = sorted(
        (r["doc_a"], r["doc_b"], r["n_shared_fps"])
        for r in mm.media_audio_snippet_overlap(spark, dirp).collect()
    )
    assert pairs == want_pairs

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{dirp}/documents.parquet/*.parquet')"
        )
        ora_d = con.execute(
            mm.MEDIA_AUDIO_SNIPPET_DECONTAMINATE_ORACLE
        ).fetchall()
        ora_p = con.execute(mm.MEDIA_AUDIO_SNIPPET_OVERLAP_ORACLE).fetchall()
    finally:
        con.close()
    assert sorted(ora_d) == got
    assert sorted(ora_p) == pairs


def test_media_audio_snippet_overlap_matches_oracle(spark, sf_dir):
    compare_query(
        spark,
        sf_dir,
        mm.media_audio_snippet_overlap,
        mm.MEDIA_AUDIO_SNIPPET_OVERLAP_ORACLE,
    )


def test_media_audio_snippet_decontaminate_matches_oracle(spark, sf_dir):
    compare_query(
        spark,
        sf_dir,
        mm.media_audio_snippet_decontaminate,
        mm.MEDIA_AUDIO_SNIPPET_DECONTAMINATE_ORACLE,
    )


def test_media_image_tile_crop_golden(spark, tmp_path):
    """The tile tier's reason to exist, demonstrated: a CROPPED copy
    (training doc 1 = eval doc 7 shifted up by the 3-row tile stride,
    brightness-biased) moves the whole-image dHash beyond the
    decontamination bound (the classic dHash crop failure — the
    normalization grid changes), so media_decontaminate misses it —
    but the copy still shares exactly 2 aligned tile signatures with
    the eval original, and the tile tier flags it. DuckDB agrees on
    both queries. Corpus + construction-sanity asserts live in the
    shared seeded_tile_corpus builder (one definition drives this
    golden, the stored-cycle test, and the streaming equivalence —
    r13 review)."""
    import duckdb

    dirp = str(tmp_path / "sf")
    want = seeded_tile_corpus(spark, dirp)

    assert mm.media_decontaminate(spark, dirp).collect() == []
    got = sorted(
        (r["doc_id"], r["n_eval_matches"], r["n_tiles_matched"])
        for r in mm.media_image_tile_decontaminate(spark, dirp).collect()
    )
    assert got == want
    pairs = sorted(
        (r["doc_a"], r["doc_b"], r["n_shared_fps"])
        for r in mm.media_image_tile_overlap(spark, dirp).collect()
    )
    assert pairs == [(1, 7, 2)]

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{dirp}/documents.parquet/*.parquet')"
        )
        ora_d = con.execute(
            mm.MEDIA_IMAGE_TILE_DECONTAMINATE_ORACLE
        ).fetchall()
        ora_p = con.execute(mm.MEDIA_IMAGE_TILE_OVERLAP_ORACLE).fetchall()
    finally:
        con.close()
    assert sorted(ora_d) == got
    assert sorted(ora_p) == pairs


def test_media_image_tile_overlap_matches_oracle(spark, sf_dir):
    compare_query(
        spark,
        sf_dir,
        mm.media_image_tile_overlap,
        mm.MEDIA_IMAGE_TILE_OVERLAP_ORACLE,
    )


def test_media_image_tile_decontaminate_matches_oracle(spark, sf_dir):
    compare_query(
        spark,
        sf_dir,
        mm.media_image_tile_decontaminate,
        mm.MEDIA_IMAGE_TILE_DECONTAMINATE_ORACLE,
    )


def test_media_audio_snippet_stored_equals_online(spark, tmp_path):
    """The stored snippet-registry serving path must be bit-identical
    to the online query on the seeded corpus, plus a from_index
    roundtrip (the tier convention)."""
    dirp = str(tmp_path / "sf")
    want, _pairs = seeded_snippet_corpus(spark, dirp)

    online = sorted(
        (r["doc_id"], r["n_eval_matches"], r["n_windows_matched"])
        for r in mm.media_audio_snippet_decontaminate(spark, dirp).collect()
    )
    stored = sorted(
        (r["doc_id"], r["n_eval_matches"], r["n_windows_matched"])
        for r in mm.media_audio_snippet_decontaminate_stored(
            spark, dirp
        ).collect()
    )
    assert online == stored == want

    idx = str(tmp_path / "snipidx")
    mm.media_audio_snippet_eval_write_index(spark, dirp, idx)
    via_index = sorted(
        (r["doc_id"], r["n_eval_matches"], r["n_windows_matched"])
        for r in mm.media_audio_snippet_decontaminate_from_index(
            spark, dirp, idx
        ).collect()
    )
    assert via_index == want


def seeded_tile_corpus(spark, dirp: str, n_files: int = 1):
    """The crop-golden corpus: eval doc 7, a 3-row-cropped
    brightness-biased training copy doc 1, control doc 4. ONE
    definition (construction-sanity asserts included) drives the crop
    golden, the stored-cycle test, and the streaming equivalence, so
    the expectation cannot drift from the corpus (r13 review).
    Returns the expected tile-decontamination rows, computed from the
    kernel rather than hardcoded."""
    import random

    def grid_rows(seed):
        rnd = random.Random(seed)
        return [
            [rnd.sample(range(10, 60), 1)[0] for _ in range(mm.IMG_W)]
            for _ in range(mm.IMG_H)
        ]

    a_rows = grid_rows(13)
    fresh = grid_rows(99)[:3]
    b_rows = [[v + 2 for v in row] for row in a_rows[3:]] + fresh
    c_rows = grid_rows(55)

    def tiles(rows):
        grays = [3 * v for row in rows for v in row]
        return {
            mm.frame_gradient_hash(grays[s : s + 16])
            for s in range(0, len(grays) - 16 + 1,
                           mm.IMG_TILE_STRIDE_ROWS * mm.IMG_W)
        }

    shared = tiles(a_rows) & tiles(b_rows)
    n_shared = len(shared)
    assert n_shared == 2  # construction sanity (tiles 1,2 of A)
    assert not (tiles(a_rows) & tiles(c_rows))
    assert not (tiles(b_rows) & tiles(c_rows))

    def dhash(rows):
        return mm.image_dhash(
            mm.BMP_HEADER
            + bytes(v for row in rows for v in row for _ in range(3))
        )

    # the whole-image tier provably cannot see the crop
    assert bin(dhash(a_rows) ^ dhash(b_rows)).count("1") \
        > mm.DECONTAM_HAMMING_MAX

    def text_for(rows):
        flat = [v for row in rows for v in row for _ in range(3)]
        return bytes(flat).decode("ascii") + " " * (
            mm.WAV_DATA_LEN - mm.IMG_DATA_LEN
        )

    rows = [(7, text_for(a_rows)), (1, text_for(b_rows)),
            (4, text_for(c_rows))]
    spark.createDataFrame(
        rows, "doc_id bigint, text string"
    ).repartition(n_files).write.mode("overwrite").parquet(
        dirp + "/documents.parquet"
    )
    return [(1, n_shared, n_shared)]


def test_media_image_tile_stored_equals_online(spark, tmp_path):
    """Stored tile-registry serving path bit-identical to online on
    the seeded crop corpus, plus a from_index roundtrip."""
    dirp = str(tmp_path / "sf")
    want = seeded_tile_corpus(spark, dirp)

    online = sorted(
        (r["doc_id"], r["n_eval_matches"], r["n_tiles_matched"])
        for r in mm.media_image_tile_decontaminate(spark, dirp).collect()
    )
    stored = sorted(
        (r["doc_id"], r["n_eval_matches"], r["n_tiles_matched"])
        for r in mm.media_image_tile_decontaminate_stored(
            spark, dirp
        ).collect()
    )
    assert online == stored == want

    idx = str(tmp_path / "tileidx")
    mm.media_image_tile_eval_write_index(spark, dirp, idx)
    via_index = sorted(
        (r["doc_id"], r["n_eval_matches"], r["n_tiles_matched"])
        for r in mm.media_image_tile_decontaminate_from_index(
            spark, dirp, idx
        ).collect()
    )
    assert via_index == want


def test_image_tile_fingerprints_foreign_geometry(spark):
    """r13 review findings pinned: (a) tiling is bounded by PIXELS,
    not rows — a decodable 8-wide 5-tall BMP (40 px) yields tiles at
    pixel offsets 0/12/24 including the final window a row-based
    bound used to skip; (b) a decodable image too small for one tile
    (4x3 = 12 px) skips AND counts, so a thumbnail corpus cannot read
    as 'clean, zero skips'."""
    import struct as _s

    from pyspark.sql import functions as F

    def bmp(w, h, seed):
        import random

        data = bytes(
            random.Random(seed).sample(range(10, 250), 1)[0]
            for _ in range(w * h * 3)
        )
        return mm._bmp_header(w, h, len(data)) + data, data

    wide, wide_px = bmp(8, 5, 3)   # 40 px, zero row padding (8*3=24)
    tiny, _ = bmp(4, 3, 5)         # 12 px < one tile
    media = spark.createDataFrame(
        [(1, bytearray(wide)), (2, bytearray(tiny))],
        "doc_id bigint, content binary",
    ).withColumn("media_type", F.lit("image/bmp"))

    mm.reset_media_skip_counts()
    got = sorted(
        (r["doc_id"], r["tile_idx"], r["tile_fp"])
        for r in mm.image_tile_fingerprints(media).collect()
    )
    assert [g[:2] for g in got] == [(1, 0), (1, 1), (1, 2)]
    assert mm.media_skip_count("image") == 1  # the thumbnail counted
    # recompute the last tile (pixels 24..39) — the window the old
    # row-based bound dropped
    grays = [
        wide_px[3 * p] + wide_px[3 * p + 1] + wide_px[3 * p + 2]
        for p in range(40)
    ]
    assert got[2][2] == mm.frame_gradient_hash(grays[24:40])
    for _, _, fp in got:
        assert 0 <= fp < (1 << mm.VIDEO_FRAME_FP_BITS)
