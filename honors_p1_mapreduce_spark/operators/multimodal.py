"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata (north-star surface; no reference counterpart).

Model: media is an opaque ``binary`` column alongside typed metadata
(``media_type``, byte size, checksums). All Spark-side plumbing —
schema, partitioning, Arrow batch shapes, UDF signatures — is real
and tested. Two codec tiers:

- ``use_real_codecs=True`` decodes genuine container formats with a
  pure-stdlib parser (:func:`stdlib_codec`): WAV via RIFF chunk walk,
  BMP via BITMAPFILEHEADER/DIB header (row padding honored), binary
  PPM (P6) via ASCII header tokenization, and — round 7 — PNG via a
  real IHDR/IDAT chunk walk + ``zlib`` INFLATE + scanline
  unfiltering (None/Sub/Up/Average/Paeth), so the decode path
  exercises actual compressed-format decompression. Payloads whose
  magic none of the parsers claims fall back to the deterministic
  fake — the marked seam where PIL/librosa/ffmpeg would plug in for
  formats (JPEG/MP4/...) whose codecs aren't in this container;
- the default fake decoder derives deterministic "dimensions" and a
  feature vector from the payload's md5, so the full pipeline —
  binary in, per-item features out, frame sampling — runs and is
  reproducible in tests.

The media fingerprint tiers (image, audio and video clips; video
frames, audio windows and image tiles) are ONE tier table at the end
of this module: a :class:`MediaTier` per tier holds everything the
tiers differ in. The near-dup, dedup and overlap queries and the
online, write-index, from-index and stored decontamination queries
are written once over it, and the streaming twins
(streaming/curation.py) drain the same records.

The demo media table derives its payloads from ``documents.text``
(UTF-8 bytes) so ``media_stats`` stays fully oracle-checkable: DuckDB
has no binary md5, but for UTF-8-derived payloads ``md5(text)`` is
byte-identical to Spark's ``md5(binary)``.

CORRUPT-PAYLOAD CONTRACTS (r12 verdict #7 — the boundary is
deliberate; land any future fuzz finding on the right side of it):

- **Fingerprint/ingest paths SKIP per item, and COUNT the skips**:
  all seven passes (``image_fingerprints``, ``image_tile_fingerprints``,
  ``audio_fingerprints``, ``wav_fp_peak``,
  ``audio_window_fingerprints``, ``video_fingerprints``,
  ``video_frame_fingerprints``) run through ONE loop,
  :func:`_fingerprint_pass`. It drops a NULL payload, or one whose
  decode raises its modality's corrupt-payload error
  (``_CORRUPT_PAYLOAD_ERRORS``, written once per modality), and keeps
  going — at 100 TB corrupt files are routine, and one bad blob must
  not fail a corpus-wide dedup/decontamination query. Any other error
  fails the query. Every skip increments the per-context accumulator
  read by ``media_skip_count(modality)``, so a mass skip is
  distinguishable from a clean corpus in every modality. Pinned by
  ``test_image_fingerprints_skip_corrupt_payloads``,
  ``test_audio_fingerprints_count_skips``,
  ``test_video_fingerprints_skip_corrupt_payloads`` and the totality
  properties in tests/test_properties.py.
- **Decode/transform queries RAISE per item**: ``media_resize``,
  ``media_png_decode``, ``media_avi_decode`` let ``struct.error`` /
  :class:`UnsupportedMediaError` propagate — a decode query's JOB is
  to surface corruption, and silently dropping rows would misreport
  the corpus. Pinned by ``test_png_decode_rejects_unsupported``,
  ``test_png_slightly_oversized_idat_is_rejected``,
  ``test_avi_parser_rejects_corrupt``,
  ``test_pixel_grid_rejects_memory_bomb_geometry``. (One deliberate
  nuance: ``media_real_decode``'s codec seam treats
  UnsupportedMediaError — foreign magic OR a claimed magic whose body
  is corrupt, e.g. a bad PNG zlib stream or BMP geometry that
  exceeds the payload — as "not decodable by the stdlib tier" and
  falls back to the FAKE decoder, modeling the PIL/ffmpeg plug-in
  seam; pinned by ``test_png_magic_with_garbage_falls_back_to_fake``.
  Only a truncated BMP *header* (struct.error) propagates out of the
  seam.)
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterable
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..sources.tables import _artifact_dir, load_table

MEDIA_TYPES = ("image/png", "audio/wav", "video/mp4")

DECODE_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes int, "
    "width int, height int, n_frames int, feature array<float>"
)
FEATURE_DIM = 8


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic demo media frame: (doc_id, media_type, content:
    binary, n_bytes). Payload = UTF-8 bytes of the document text;
    media_type assigned round-robin by doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    mt = F.element_at(
        F.array(*[F.lit(t) for t in MEDIA_TYPES]),
        (F.col("doc_id") % len(MEDIA_TYPES) + 1).cast("int"),
    )
    content = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        mt.alias("media_type"),
        content.alias("content"),
        F.length(content).alias("n_bytes"),
    )


def media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-media-type stats over the binary column: item count, total/
    max payload bytes, distinct payload checksums. One pruned scan +
    one 3-group aggregate (map-only until the tiny final shuffle)."""
    m = media_table(spark, sf_dir)
    return m.groupBy("media_type").agg(
        F.count("*").alias("n_items"),
        F.sum("n_bytes").alias("total_bytes"),
        F.max("n_bytes").cast("long").alias("max_bytes"),
        F.countDistinct(F.md5("content")).alias("n_distinct_payloads"),
    )


MEDIA_STATS_ORACLE = """
SELECT ['image/png', 'audio/wav', 'video/mp4'][CAST(doc_id % 3 + 1 AS INT)]
         AS media_type,
       count(*) AS n_items,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       max(octet_length(encode(text))) AS max_bytes,
       count(DISTINCT md5(text)) AS n_distinct_payloads
FROM documents
GROUP BY 1
"""


# The codec seam: any callable (payload bytes, media_type) ->
# (width, height, n_frames, feature list of FEATURE_DIM floats).
# A real decoder (PIL/librosa/ffmpeg) plugs in as ``codec=`` without
# touching the operator; tests/test_multimodal.py holds the contract
# test that any conforming codec yields the registered DECODE_SCHEMA.
Codec = Callable[[bytes, str], tuple[int, int, int, list[float]]]


def _fake_decode(content: bytes, media_type: str) -> tuple[int, int, int, list[float]]:
    """Deterministic stand-in for a codec: dimensions + an 8-dim
    feature vector derived from the payload digest. Replaced wholesale
    by a real decoder where codecs exist."""
    d = hashlib.md5(content).digest()
    width = 16 + d[0] % 240
    height = 16 + d[1] % 240
    n_frames = 1 if not media_type.startswith("video/") else 1 + d[2] % 120
    feature = [round(b / 255.0, 6) for b in d[:FEATURE_DIM]]
    return width, height, n_frames, feature


# ----------------------------------------------------- real stdlib codecs


class UnsupportedMediaError(ValueError):
    """Raised by :func:`stdlib_codec` when no stdlib parser claims the
    payload's magic bytes — the caller decides the fallback."""


def _hist8(data: bytes) -> list[float]:
    """FEATURE_DIM-bin byte histogram of a decoded data section, as
    fractions (count / len). The real-codec feature: deterministic,
    order-insensitive, and exactly invertible back to integer counts
    for digest-style canonicalization (count = round(f * len))."""
    counts = [0] * FEATURE_DIM
    for b in data:
        counts[b >> 5] += 1
    n = max(len(data), 1)
    return [c / n for c in counts]


def _decode_wav(content: bytes) -> tuple[int, int, int, list[float]]:
    """RIFF/WAVE parse: walk chunks (word-aligned), read channel count
    / sample rate / block align from ``fmt ``, PCM frames from
    ``data``. Returns (sample_rate, n_channels, n_frames, hist)."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise UnsupportedMediaError("not a RIFF/WAVE container")
    pos, rate, channels, block_align, data = 12, None, None, None, b""
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        sz = struct.unpack_from("<I", content, pos + 4)[0]
        body = content[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            _fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            block_align = struct.unpack_from("<H", body, 12)[0]
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # RIFF chunks are word-aligned
    if rate is None or not block_align:
        raise UnsupportedMediaError("WAVE missing fmt chunk")
    return rate, channels, len(data) // block_align, _hist8(data)


def _bmp_geometry(content: bytes) -> tuple[int, int, int, int, int]:
    """(offset, width, abs_height, row_bytes, stride) of a BM-magic
    payload, VALIDATED against the actual byte length — the one
    geometry parse shared by :func:`_decode_bmp` and
    :func:`_pixel_grid` (r13 review: both built
    ``range(abs(height))`` row lists from the corruption-controlled
    DECLARED height, so a 36-byte blob claiming height 2^31 allocated
    a ~17 GB list — a memory bomb that no per-item except can catch).
    Raises struct.error for a truncated header (the documented mode)
    and UnsupportedMediaError when the declared geometry does not fit
    inside the payload."""
    offset = struct.unpack_from("<I", content, 10)[0]
    width, height = struct.unpack_from("<ii", content, 18)
    bpp = struct.unpack_from("<H", content, 28)[0]
    h = abs(height)
    row_bytes = (bpp * width) // 8
    stride = (bpp * width + 31) // 32 * 4
    if width <= 0 or h == 0 or row_bytes <= 0:
        raise UnsupportedMediaError("degenerate BMP geometry")
    # python ints are unbounded, so this comparison is itself safe
    # against huge declared dimensions
    if offset + (h - 1) * stride + row_bytes > len(content):
        raise UnsupportedMediaError("BMP pixel data exceeds payload")
    return offset, width, h, row_bytes, stride


def _decode_bmp(content: bytes) -> tuple[int, int, int, list[float]]:
    """BMP parse: pixel-array offset from BITMAPFILEHEADER, geometry /
    bpp from the DIB header (validated against the payload length —
    see :func:`_bmp_geometry`); rows are read at the 4-byte-aligned
    stride with padding bytes EXCLUDED from the histogram."""
    if content[:2] != b"BM":
        raise UnsupportedMediaError("not a BMP")
    offset, width, h, row_bytes, stride = _bmp_geometry(content)
    rows = [
        content[offset + r * stride : offset + r * stride + row_bytes]
        for r in range(h)
    ]
    return width, h, 1, _hist8(b"".join(rows))


def _decode_ppm(content: bytes) -> tuple[int, int, int, list[float]]:
    """Binary PPM (P6) parse: whitespace/comment-tolerant ASCII header
    (magic, width, height, maxval), then one raw RGB byte triple per
    pixel."""
    if content[:2] != b"P6":
        raise UnsupportedMediaError("not a P6 PPM")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":  # comment to end-of-line
            while pos < len(content) and content[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    pos += 1  # single whitespace after maxval, then raw pixel data
    width, height, _maxval = fields
    data = content[pos : pos + width * height * 3]
    return width, height, 1, _hist8(data)


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _decode_png(content: bytes) -> tuple[int, int, int, list[float]]:
    """Real PNG decode, stdlib-only: chunk walk (IHDR geometry, IDAT
    concat, stop at IEND), ``zlib.decompress`` of the IDAT stream
    (this verifies the zlib adler32 — genuine decompression with an
    integrity check, not a header skim), then per-scanline unfilter
    for the five standard filter types. 8-bit gray / RGB / RGBA
    (color types 0/2/6), no interlacing. Chunk CRCs are not
    re-verified (zlib's adler32 already gates payload integrity);
    the histogram is over the unfiltered pixel bytes."""
    import zlib

    if content[:8] != PNG_SIG:
        raise UnsupportedMediaError("not a PNG")
    # Corrupt-but-PNG-magic payloads (truncated IHDR, bad zlib stream,
    # garbage chunk lengths) must surface as UnsupportedMediaError so
    # the codec seam's fallback contract holds — a raw zlib.error /
    # struct.error escaping here would crash the whole Spark job on
    # one bad file instead of fake-decoding it (review r7).
    try:
        pos, idat, w = 8, b"", None
        h = bit_depth = color_type = interlace = 0
        while pos + 8 <= len(content):
            ln = struct.unpack_from(">I", content, pos)[0]
            ctype = content[pos + 4 : pos + 8]
            data = content[pos + 8 : pos + 8 + ln]
            if ctype == b"IHDR":
                w, h, bit_depth, color_type = struct.unpack_from(">IIBB", data, 0)
                interlace = data[12]
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
            pos += 12 + ln  # length + type + data + crc
        if w is None:
            raise UnsupportedMediaError("PNG missing IHDR")
        if bit_depth != 8 or color_type not in (0, 2, 6) or interlace:
            raise UnsupportedMediaError(
                f"unsupported PNG (depth={bit_depth}, color={color_type}, "
                f"interlace={interlace})"
            )
        bpp = {0: 1, 2: 3, 6: 4}[color_type]
        stride = w * bpp
        # bounded decompress (advisor r7): a corrupt/adversarial
        # payload with PNG magic could otherwise be a decompression
        # bomb that exhausts executor memory before the length check
        # below ever runs. Cap output at the geometry-implied stream
        # length; any leftover compressed input or unconsumed tail
        # means the stream is bigger than the header admits.
        d = zlib.decompressobj()
        raw = d.decompress(idat, (stride + 1) * h)
        if d.unconsumed_tail:
            raise UnsupportedMediaError("PNG IDAT exceeds geometry")
        # unconsumed_tail alone misses a slightly-oversized stream
        # whose extra output fits zlib's internal window (r8 advisor):
        # flush() returning bytes, or trailing input past the deflate
        # stream (unused_data), both mean IDAT exceeds the geometry.
        if d.flush() or d.unused_data:
            raise UnsupportedMediaError("PNG IDAT exceeds geometry")
    except UnsupportedMediaError:
        raise
    except (zlib.error, struct.error, IndexError) as ex:
        raise UnsupportedMediaError(f"corrupt PNG: {ex}") from ex
    if len(raw) != (stride + 1) * h:
        raise UnsupportedMediaError("PNG scanline stream length mismatch")
    out = bytearray()
    prev = bytes(stride)
    for r in range(h):
        ft = raw[r * (stride + 1)]
        line = bytearray(raw[r * (stride + 1) + 1 : (r + 1) * (stride + 1)])
        if ft == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 255
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 255
        elif ft == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 255
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 255
        elif ft != 0:
            raise UnsupportedMediaError(f"PNG filter type {ft}")
        out += line
        prev = line
    return w, h, 1, _hist8(bytes(out))


def stdlib_codec(content: bytes, media_type: str) -> tuple[int, int, int, list[float]]:
    """Real decoder over public container formats, zero dependencies:
    dispatch on magic bytes (not on the claimed ``media_type`` — real
    pipelines distrust metadata), parse the container, histogram the
    decoded data section. Raises :class:`UnsupportedMediaError` for
    formats that need an external codec (JPEG, MP4, ...)."""
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return _decode_wav(content)
    if content[:4] == b"RIFF" and content[8:12] == b"AVI ":
        return _decode_avi(content)
    if content[:8] == PNG_SIG:
        return _decode_png(content)
    if content[:2] == b"BM":
        return _decode_bmp(content)
    if content[:2] == b"P6":
        return _decode_ppm(content)
    raise UnsupportedMediaError(f"no stdlib parser for {media_type}")


def _stdlib_or_fake(content: bytes, media_type: str) -> tuple[int, int, int, list[float]]:
    try:
        return stdlib_codec(content, media_type)
    except UnsupportedMediaError:
        return _fake_decode(content, media_type)


def decode_media_features(
    media: DataFrame,
    use_real_codecs: bool = False,
    codec: Codec | None = None,
) -> DataFrame:
    """Decode/feature-extract over binary payloads via ``mapInPandas``.

    Arrow streams each partition as pandas batches — payloads arrive
    as Python ``bytes`` / ``bytearray``, exactly what a real codec
    takes — and the operator stays embarrassingly parallel: no
    shuffle, output partitioning inherits the input's.

    ``codec`` is the injection point: any callable matching the seam
    contract (bytes, media_type) -> (width, height, n_frames, feature)
    is shipped to executors inside the pandas iterator closure.
    ``use_real_codecs=True`` selects :func:`stdlib_codec` (real
    WAV/BMP/PPM container parsing, fake fallback for formats whose
    codecs aren't installed here); the default is the deterministic
    md5 fake.
    """
    if use_real_codecs and codec is None:
        codec = _stdlib_or_fake
    decode_one = codec or _fake_decode

    def _decode(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "media_type": [], "n_bytes": [],
                "width": [], "height": [], "n_frames": [], "feature": [],
            }
            for doc_id, mt, content in zip(
                pdf["doc_id"], pdf["media_type"], pdf["content"]
            ):
                blob = bytes(content)
                w, h, nf, feat = decode_one(blob, mt)
                out["doc_id"].append(doc_id)
                out["media_type"].append(mt)
                out["n_bytes"].append(len(blob))
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(nf)
                out["feature"].append(feat)
            yield pd.DataFrame(out)

    return media.mapInPandas(_decode, schema=DECODE_SCHEMA)


def media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: decode the demo media table with the
    deterministic fake codec.

    The library-level ``decode_media_features`` keeps the raw
    ``array<float>`` feature; the registered query replaces it with a
    canon-safe scalar ``feature_digest`` (the driver's canonicalizer
    sorts rows with pandas, which cannot hash list cells). The digest
    inverts each feature float back to its source md5 byte
    (``round(x*255)`` is exact: the 6-decimal rounding error is
    ~5e-7 << 1/510) and md5s the comma-joined byte list — so the
    digest deterministically covers every feature value, and, because
    the fake codec is pure md5-of-payload arithmetic over UTF-8
    payloads, DuckDB reproduces it byte-for-byte from ``md5(text)``.
    """
    decoded = decode_media_features(media_table(spark, sf_dir))
    byte_strs = F.transform(
        F.col("feature"), lambda x: F.round(x * 255).cast("int").cast("string")
    )
    return decoded.select(
        "doc_id",
        "media_type",
        "n_bytes",
        "width",
        "height",
        "n_frames",
        F.md5(F.concat_ws(",", byte_strs)).alias("feature_digest"),
    )


def _md5_byte_sql(i: int) -> str:
    """DuckDB expression for byte ``i`` of md5(text): two hex chars ->
    bigint via the same '0x' cast used by the simhash oracles."""
    return f"CAST(concat('0x', substr(md5(text), {2 * i + 1}, 2)) AS BIGINT)"


MEDIA_DECODE_FEATURES_ORACLE = f"""
WITH b AS (
  SELECT doc_id,
         ['image/png', 'audio/wav', 'video/mp4'][CAST(doc_id % 3 + 1 AS INT)]
           AS media_type,
         CAST(octet_length(encode(text)) AS INT) AS n_bytes,
         {", ".join(f"{_md5_byte_sql(i)} AS d{i}" for i in range(FEATURE_DIM))}
  FROM documents
)
SELECT doc_id, media_type, n_bytes,
       CAST(16 + d0 % 240 AS INT) AS width,
       CAST(16 + d1 % 240 AS INT) AS height,
       CAST(CASE WHEN media_type LIKE 'video/%' THEN 1 + d2 % 120 ELSE 1 END
            AS INT) AS n_frames,
       md5(concat_ws(',', {", ".join(f"d{i}" for i in range(FEATURE_DIM))}))
         AS feature_digest
FROM b
"""


def frame_sample(
    decoded: DataFrame, every_k: int = 10
) -> DataFrame:
    """Sample every ``every_k``-th frame index per video item — pure
    Catalyst over the decoded ``n_frames`` (sequence + explode), no
    Python; one row per sampled frame."""
    vids = decoded.filter(F.col("media_type").startswith("video/"))
    idx = F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_k))
    return vids.select(
        "doc_id", "n_frames", F.explode(idx).alias("frame_idx")
    )


def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: sampled frame indices for videos. Oracle-
    checkable because ``n_frames`` is md5-byte arithmetic (see
    ``media_decode_features``) and the sampling itself is a pure
    ``sequence``/``explode`` with no Python."""
    return frame_sample(decode_media_features(media_table(spark, sf_dir)))


MEDIA_FRAME_SAMPLE_ORACLE = f"""
WITH b AS (
  SELECT doc_id,
         ['image/png', 'audio/wav', 'video/mp4'][CAST(doc_id % 3 + 1 AS INT)]
           AS media_type,
         {_md5_byte_sql(2)} AS d2
  FROM documents
), v AS (
  SELECT doc_id, CAST(1 + d2 % 120 AS INT) AS n_frames
  FROM b
  WHERE media_type LIKE 'video/%'
)
SELECT doc_id, n_frames, CAST(f AS INT) AS frame_idx
FROM v, unnest(generate_series(0, n_frames - 1, 10)) AS t(f)
"""


# ------------------------------------------- real-container demo surface

REAL_MEDIA_TYPES = ("audio/wav", "image/bmp", "image/ppm")
WAV_DATA_LEN = 128  # 64 mono 16-bit frames
IMG_W, IMG_H = 4, 10  # 24bpp stride = 12 bytes -> zero row padding
IMG_DATA_LEN = IMG_W * IMG_H * 3


def _wav_header(data_len: int, rate: int = 8000, channels: int = 1) -> bytes:
    """Canonical 44-byte PCM WAV header (RIFF + fmt + data)."""
    bits = 16
    block = channels * bits // 8
    return (
        b"RIFF"
        + struct.pack("<I", 36 + data_len)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, channels, rate, rate * block, block, bits)
        + b"data"
        + struct.pack("<I", data_len)
    )


def _bmp_header(w: int, h: int, data_len: int) -> bytes:
    """BITMAPFILEHEADER + BITMAPINFOHEADER for a 24bpp image."""
    return b"BM" + struct.pack("<IHHI", 54 + data_len, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_len, 2835, 2835, 0, 0
    )


WAV_HEADER = _wav_header(WAV_DATA_LEN)
BMP_HEADER = _bmp_header(IMG_W, IMG_H, IMG_DATA_LEN)
PPM_HEADER = f"P6\n{IMG_W} {IMG_H}\n255\n".encode()


def media_real_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demo table of GENUINE media containers: each document's leading
    text bytes become the data section of a real WAV / BMP / P6 PPM
    (round-robin by doc_id), behind the constant canonical header for
    its format. The synth side is pure Catalyst — constant binary
    literal headers concat'd with a binary substring, zero Python — so
    only the decode side pays the (Arrow-batched) codec cost, exactly
    the shape of a real ingest. Docs shorter than the data section are
    dropped rather than padded (keeps every byte of every payload a
    real document byte)."""
    return media_real_table_from(load_table(spark, sf_dir, "documents"))


def media_real_table_from(docs: DataFrame) -> DataFrame:
    """The synth stage of :func:`media_real_table` over an arbitrary
    (doc_id, text) frame — factored (r10) so the STREAMING ingest
    twin synthesizes per micro-batch (streaming/curation.py)."""
    docs = docs.filter(F.length(F.col("text").cast("binary")) >= WAV_DATA_LEN)
    fmt1 = (F.col("doc_id") % 3 + 1).cast("int")
    header = F.element_at(
        F.array(F.lit(WAV_HEADER), F.lit(BMP_HEADER), F.lit(PPM_HEADER)), fmt1
    )
    mt = F.element_at(F.array(*[F.lit(t) for t in REAL_MEDIA_TYPES]), fmt1)
    data = F.expr(
        f"substring(CAST(text AS BINARY), 1, CASE WHEN doc_id % 3 = 0 "
        f"THEN {WAV_DATA_LEN} ELSE {IMG_DATA_LEN} END)"
    )
    content = F.concat(header, data)
    return docs.select(
        "doc_id",
        mt.alias("media_type"),
        content.alias("content"),
        F.length(content).alias("n_bytes"),
    )


def media_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: REAL container decode end-to-end — synthesize
    genuine WAV/BMP/PPM payloads (:func:`media_real_table`), parse
    them back with :func:`stdlib_codec` (RIFF chunk walk, DIB header,
    P6 tokenizer — no shared code with the synth side; golden tests on
    hand-crafted bytes pin both independently), and emit the decoded
    geometry plus a digest of the data-section byte histogram. The
    histogram fractions invert exactly to integer counts
    (count = round(f * data_len); data_len <= 128 << float precision),
    so the digest covers every feature value with a canon-safe scalar,
    and DuckDB reproduces the whole pipeline from hex(encode(text))
    byte arithmetic."""
    decoded = decode_media_features(
        media_real_table(spark, sf_dir), use_real_codecs=True
    )
    dl = F.when(
        F.col("media_type") == "audio/wav", F.lit(WAV_DATA_LEN)
    ).otherwise(F.lit(IMG_DATA_LEN))
    counts = F.transform(
        F.col("feature"), lambda x: F.round(x * dl).cast("int").cast("string")
    )
    return decoded.select(
        "doc_id",
        "media_type",
        "n_bytes",
        "width",
        "height",
        "n_frames",
        F.md5(F.concat_ws(",", counts)).alias("hist_digest"),
    )


MEDIA_REAL_DECODE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, CAST(doc_id % 3 AS INT) AS fmt, hex(encode(text)) AS hx
  FROM documents
  WHERE octet_length(encode(text)) >= {WAV_DATA_LEN}
),
bytes AS (
  SELECT doc_id, fmt,
         CAST(concat('0x', substr(hx, 2 * p + 1, 2)) AS BIGINT) // 32 AS bucket
  FROM d, unnest(generate_series(
    0, CASE WHEN fmt = 0 THEN {WAV_DATA_LEN - 1} ELSE {IMG_DATA_LEN - 1} END
  )) AS t(p)
),
hist AS (
  SELECT doc_id, fmt,
         {", ".join(f"sum(CASE WHEN bucket = {i} THEN 1 ELSE 0 END) AS c{i}"
                    for i in range(FEATURE_DIM))}
  FROM bytes GROUP BY doc_id, fmt
)
SELECT doc_id,
       ['audio/wav', 'image/bmp', 'image/ppm'][fmt + 1] AS media_type,
       CAST(CASE fmt WHEN 0 THEN {44 + WAV_DATA_LEN}
                     WHEN 1 THEN {54 + IMG_DATA_LEN}
                     ELSE {12 + IMG_DATA_LEN} END AS INT) AS n_bytes,
       CAST(CASE fmt WHEN 0 THEN 8000 ELSE {IMG_W} END AS INT) AS width,
       CAST(CASE fmt WHEN 0 THEN 1 ELSE {IMG_H} END AS INT) AS height,
       CAST(CASE fmt WHEN 0 THEN {WAV_DATA_LEN // 2} ELSE 1 END AS INT)
         AS n_frames,
       md5(concat_ws(',', {", ".join(f"c{i}" for i in range(FEATURE_DIM))}))
         AS hist_digest
FROM hist
"""


# --------------------------------------------------- real image resize

RESIZE_W, RESIZE_H = 2, 5  # target grid for the demo resize


def _pixel_grid(content: bytes) -> tuple[int, int, bytes]:
    """(width, height, file-order RGB bytes) for a BMP or P6 PPM —
    the same container parsing as the decode codecs, returning raw
    pixels instead of a histogram. Rows are kept in FILE order (BMP
    stores rows bottom-up; a resize over the file-order grid is
    orientation-agnostic and keeps the BMP/PPM math identical, which
    the oracle relies on). BMP row padding is excluded."""
    if content[:2] == b"BM":
        offset, width, h, row_bytes, stride = _bmp_geometry(content)
        rows = [
            content[offset + r * stride : offset + r * stride + row_bytes]
            for r in range(h)
        ]
        return width, h, b"".join(rows)
    if content[:2] == b"P6":
        w, h, _, data = _ppm_fields(content)
        # declared-geometry bound, the BMP branch's twin: a short data
        # section must surface as a typed decode error here, not as a
        # downstream IndexError (fingerprints) or a silent partial
        # resize (media_resize's RAISE-per-item contract)
        if w <= 0 or h <= 0 or len(data) != w * h * 3:
            raise UnsupportedMediaError("PPM pixel data exceeds payload")
        return w, h, data
    raise UnsupportedMediaError("no pixel grid for this format")


def _ppm_fields(content: bytes) -> tuple[int, int, int, bytes]:
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    pos += 1
    width, height, maxval = fields
    return width, height, maxval, content[pos : pos + width * height * 3]


def nearest_resize(data: bytes, w: int, h: int, rw: int, rh: int) -> bytes:
    """Nearest-neighbor resample of a file-order RGB grid: output
    pixel (x, y) reads source pixel (x*w//rw, y*h//rh) — the standard
    floor mapping, pure integer arithmetic so every engine agrees."""
    out = bytearray()
    for y in range(rh):
        sy = y * h // rh
        for x in range(rw):
            sx = x * w // rw
            p = (sy * w + sx) * 3
            out += data[p : p + 3]
    return bytes(out)


def resize_media(media: DataFrame, rw: int = RESIZE_W, rh: int = RESIZE_H) -> DataFrame:
    """Image resize over binary payloads via ``mapInPandas`` — the
    resize member of the decode/feature/resize/frame-sample quartet.
    Same Arrow-batched seam as :func:`decode_media_features`: bytes
    in, no shuffle, partitioning inherited. Output carries a digest of
    the resized bytes (canon-safe scalar covering every output pixel).
    """
    schema = (
        "doc_id long, media_type string, src_w int, src_h int, "
        "out_w int, out_h int, resized_digest string"
    )

    def _resize(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "media_type", "src_w", "src_h", "out_w", "out_h",
                "resized_digest",
            )}
            for doc_id, mt, content in zip(
                pdf["doc_id"], pdf["media_type"], pdf["content"]
            ):
                w, h, data = _pixel_grid(bytes(content))
                rz = nearest_resize(data, w, h, rw, rh)
                out["doc_id"].append(doc_id)
                out["media_type"].append(mt)
                out["src_w"].append(w)
                out["src_h"].append(h)
                out["out_w"].append(rw)
                out["out_h"].append(rh)
                out["resized_digest"].append(
                    hashlib.md5(",".join(str(b) for b in rz).encode()).hexdigest()
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(_resize, schema=schema)


def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: nearest-neighbor resize of the real BMP/PPM
    images to RESIZE_W x RESIZE_H. Oracle-checkable because the
    file-order pixel grid is the document's leading text bytes
    (media_real_table) and the nearest-neighbor offsets are static
    integer arithmetic — DuckDB re-derives every resized byte from
    hex(encode(text))."""
    imgs = media_real_table(spark, sf_dir).filter(
        F.col("media_type").isin(*IMAGE_MEDIA_TYPES)
    )
    return resize_media(imgs)


def _resize_offsets() -> list[int]:
    """Static source-byte offsets of the resized output, in output
    order — shared math with :func:`nearest_resize`."""
    offs = []
    for y in range(RESIZE_H):
        sy = y * IMG_H // RESIZE_H
        for x in range(RESIZE_W):
            sx = x * IMG_W // RESIZE_W
            p = (sy * IMG_W + sx) * 3
            offs.extend([p, p + 1, p + 2])
    return offs


MEDIA_RESIZE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, CAST(doc_id % 3 AS INT) AS fmt, hex(encode(text)) AS hx
  FROM documents
  WHERE octet_length(encode(text)) >= {WAV_DATA_LEN} AND doc_id % 3 <> 0
)
SELECT doc_id,
       ['audio/wav', 'image/bmp', 'image/ppm'][fmt + 1] AS media_type,
       CAST({IMG_W} AS INT) AS src_w, CAST({IMG_H} AS INT) AS src_h,
       CAST({RESIZE_W} AS INT) AS out_w, CAST({RESIZE_H} AS INT) AS out_h,
       md5(concat_ws(',', {", ".join(
           f"CAST(concat('0x', substr(hx, {2 * p + 1}, 2)) AS BIGINT)"
           for p in _resize_offsets()
       )})) AS resized_digest
FROM d
"""


# ----------------------------------------------- real audio sampling

SAMPLE_EVERY = 8  # keep every k-th PCM sample


def sample_wav_pcm(media: DataFrame, every_k: int = SAMPLE_EVERY) -> DataFrame:
    """Real-codec frame sampling for audio: decode each WAV payload's
    PCM data section (RIFF chunk walk, signed 16-bit LE samples) and
    emit every ``every_k``-th sample value — the audio face of
    :func:`frame_sample`, over genuine containers instead of the fake
    codec's synthetic videos. Same mapInPandas seam: bytes in, no
    shuffle, one output row per kept sample.

    Library surface (pytest-verified, like functions/skew.py's salted
    join): golden tests pin the chunk walk and signedness against
    hand-built WAVs.
    """
    schema = "doc_id long, sample_idx int, sample_value int"

    def _samples(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "sample_idx": [], "sample_value": []}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                data = _wav_data_section(bytes(content))
                if data is None:
                    continue
                for i in range(0, len(data) // 2, every_k):
                    v = struct.unpack_from("<h", data, 2 * i)[0]
                    out["doc_id"].append(doc_id)
                    out["sample_idx"].append(i)
                    out["sample_value"].append(v)
            yield pd.DataFrame(out)

    return media.filter(F.col("media_type") == "audio/wav").mapInPandas(
        _samples, schema=schema
    )


def _wav_data_section(blob: bytes) -> bytes | None:
    """PCM 'data' chunk bytes of a RIFF/WAVE blob via the word-aligned
    chunk walk (None for non-WAV payloads) — shared by the sampler and
    the feature extractor so the two decoders can never drift."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        return None
    pos, data = 12, b""
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        sz = struct.unpack_from("<I", blob, pos + 4)[0]
        if cid == b"data":
            data = blob[pos + 8 : pos + 8 + sz]
        pos += 8 + sz + (sz & 1)
    return data


# ----------------------------------- integer audio features (r10)
#
# Feature parity with the image side (r9 verdict #5): the image
# pipeline has real decode AND feature extraction (dHash, resize);
# audio had real decode (RIFF walk, PCM sampling) but no features.
# The classic first-pass audio-curation features — energy, peak
# level, zero-crossing rate (the cheap voiced/unvoiced + silence
# discriminators of every speech pipeline) — are all exactly
# representable in INTEGER arithmetic over 16-bit PCM: sum of squares
# (energy; the RMS without the sqrt, order-isomorphic to it for
# fixed n), max |sample|, and sign-boundary counts. That makes the
# whole extraction oracle-checkable from hex(encode(text)) static
# offsets, like the image fingerprints.
#
# 100 TB shape: one Arrow-batched map-only pass, one output row per
# clip (bytes in, 4 integers out) — embarrassingly parallel,
# scan-bound, no shuffle anywhere.


def wav_features(media: DataFrame) -> DataFrame:
    """(doc_id, n_samples, peak_abs, sum_sq, zero_crossings) per WAV
    payload — signed 16-bit LE PCM decoded by the shared RIFF walk,
    features in pure integer arithmetic:

    - ``peak_abs``: max |sample| (clip/level check),
    - ``sum_sq``: sum of sample^2 (energy; bigint — 2^31 per sample
      squared times sample count overflows int32 immediately),
    - ``zero_crossings``: count of adjacent pairs whose signs differ,
      with sign(v) defined as v >= 0 (deterministic at zero).

    Non-WAV payloads are dropped, matching :func:`sample_wav_pcm`."""
    schema = (
        "doc_id long, n_samples int, peak_abs int, sum_sq long, "
        "zero_crossings int"
    )

    def _feats(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "n_samples", "peak_abs", "sum_sq", "zero_crossings",
            )}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                data = _wav_data_section(bytes(content))
                if not data:
                    continue
                n = len(data) // 2
                vs = list(struct.unpack_from(f"<{n}h", data))
                out["doc_id"].append(doc_id)
                out["n_samples"].append(n)
                out["peak_abs"].append(max(abs(v) for v in vs))
                out["sum_sq"].append(sum(v * v for v in vs))
                out["zero_crossings"].append(
                    sum(
                        1
                        for a, b in zip(vs, vs[1:])
                        if (a >= 0) != (b >= 0)
                    )
                )
            yield pd.DataFrame(out)

    return media.filter(F.col("media_type") == "audio/wav").mapInPandas(
        _feats, schema=schema
    )


def media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: integer audio features over the real WAV
    payloads of :func:`media_real_table` — RIFF chunk walk, signed
    16-bit LE samples, all-integer energy/peak/zero-crossing features
    (section comment above). DuckDB re-derives every sample from
    hex(encode(text)) static byte offsets (WAV payloads carry the
    document's leading WAV_DATA_LEN text bytes), so the driver
    hash-gates decode + features end-to-end; golden tests pin the
    extractor against hand-built waveforms."""
    return wav_features(
        media_real_table(spark, sf_dir).filter(
            F.col("media_type") == "audio/wav"
        )
    )


MEDIA_AUDIO_FEATURES_ORACLE = f"""
WITH d AS (
  SELECT doc_id, hex(encode(text)) AS hx
  FROM documents
  WHERE octet_length(encode(text)) >= {WAV_DATA_LEN} AND doc_id % 3 = 0
),
u AS (
  SELECT doc_id, i,
         CAST(concat('0x', substr(hx, 4 * i + 1, 2)) AS BIGINT)
         + 256 * CAST(concat('0x', substr(hx, 4 * i + 3, 2)) AS BIGINT) AS uv
  FROM d, unnest(generate_series(0, {WAV_DATA_LEN // 2 - 1})) AS t(i)
),
s AS (
  SELECT doc_id, i,
         CASE WHEN uv >= 32768 THEN uv - 65536 ELSE uv END AS v
  FROM u
),
x AS (
  SELECT doc_id, v,
         lead(v) OVER (PARTITION BY doc_id ORDER BY i) AS nv
  FROM s
)
SELECT doc_id,
       CAST({WAV_DATA_LEN // 2} AS INT) AS n_samples,
       CAST(max(abs(v)) AS INT) AS peak_abs,
       CAST(sum(v * v) AS BIGINT) AS sum_sq,
       CAST(sum(CASE WHEN nv IS NOT NULL AND ((v >= 0) <> (nv >= 0))
                     THEN 1 ELSE 0 END) AS INT) AS zero_crossings
FROM x GROUP BY doc_id
"""


# --------------------------------- PNG synth + decode (round 7)
#
# The round-6 verdict asked for one REAL compressed format through the
# decode seam. Decode side: _decode_png above — chunk walk, genuine
# zlib INFLATE (with its adler32 integrity check), scanline
# unfiltering. Synth side: a FULLY VALID PNG built in pure Catalyst
# from each document's leading bytes — the pixel stream rides
# stored-mode deflate blocks (RFC 1951 BTYPE=00: raw bytes behind a
# 5-byte block header, a legal output any compressor may produce), the
# zlib adler32 is computed by an expression fold over the byte values,
# and each chunk's CRC32 comes from Spark's built-in crc32 (same
# polynomial as PNG's). zlib.decompress on the decode side VERIFIES
# the adler32, so a wrong Catalyst checksum fails loudly rather than
# hash-mismatching. Because stored-mode deflate is byte-transparent
# and every filter byte is 0 (filter None), DuckDB reproduces the
# decoded histogram from hex(encode(text)) byte arithmetic — the whole
# compress->decompress->unfilter->histogram pipeline sits behind the
# driver's hash gate. Compression tiers beyond stored mode (dynamic
# Huffman etc.) are decoder-exercised by the golden tests, which build
# PNGs with zlib's real compressor at level 9 and all five filters.

PNG_W, PNG_H = 4, 10
PNG_ROW = PNG_W * 3  # RGB bytes per scanline
PNG_DATA_LEN = PNG_ROW * PNG_H  # document bytes per payload
PNG_STREAM_LEN = PNG_DATA_LEN + PNG_H  # + 1 filter byte per scanline
_ADLER_MOD = 65521


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib as _z

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", _z.crc32(ctype + data))
    )


PNG_IHDR = _png_chunk(
    b"IHDR", struct.pack(">IIBBBBB", PNG_W, PNG_H, 8, 2, 0, 0, 0)
)
PNG_IEND = _png_chunk(b"IEND", b"")
# zlib header (78 01) + final stored-block header (01, LEN, ~LEN)
PNG_ZLIB_PREFIX = (
    b"\x78\x01\x01"
    + struct.pack("<H", PNG_STREAM_LEN)
    + struct.pack("<H", PNG_STREAM_LEN ^ 0xFFFF)
)
_PNG_IDAT_LEN = len(PNG_ZLIB_PREFIX) + PNG_STREAM_LEN + 4  # + adler32


def media_png_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, media_type, content, n_bytes): one valid 4x10 RGB PNG
    per document (>= PNG_DATA_LEN text bytes), pixels = the document's
    leading UTF-8 bytes. Pure Catalyst — see section comment.

    wide_scan: the PNG consumers pay a genuine zlib inflate per row
    (the one measured media winner from scan parallelization — 2.25
    -> 1.15 s interleaved A/B); the other media tables stay on the
    bare scan, where the same A/B showed the extra exchange LOSES
    1.4-1.9x on their multi-scan plans (hash/dedup funnels re-read
    the synthesized table several times, so the repartition shuffles
    megabytes of payload per scan for per-row work that is only an
    md5)."""
    docs = load_table(spark, sf_dir, "documents", wide_scan=True).filter(
        F.length(F.col("text").cast("binary")) >= PNG_DATA_LEN
    )
    stream = F.concat(
        *[
            F.concat(
                F.lit(b"\x00"),
                F.expr(
                    f"substring(CAST(text AS BINARY), {r * PNG_ROW + 1}, {PNG_ROW})"
                ),
            )
            for r in range(PNG_H)
        ]
    )
    base = docs.select(
        "doc_id",
        stream.alias("stream"),
        F.hex(F.expr(f"substring(CAST(text AS BINARY), 1, {PNG_DATA_LEN})")).alias(
            "hx"
        ),
    )
    # adler32 over the scanline stream: s1 = 1 + sum(bytes),
    # s2 = sum of running s1 = STREAM_LEN + sum(weight_i * byte_i);
    # filter bytes are 0 so only the PNG_DATA_LEN data bytes contribute.
    # Byte k of the data section sits at 1-based stream position
    # (k div ROW) * (ROW+1) + 2 + k % ROW, weight = STREAM_LEN - pos + 1.
    adler_sql = f"""aggregate(sequence(0, {PNG_DATA_LEN - 1}),
      named_struct('s1', CAST(1 AS BIGINT), 's2', CAST({PNG_STREAM_LEN} AS BIGINT)),
      (acc, k) -> named_struct(
        's1', acc.s1 + CAST(conv(substr(hx, 2 * k + 1, 2), 16, 10) AS BIGINT),
        's2', acc.s2
              + CAST({PNG_STREAM_LEN}
                     - ((k div {PNG_ROW}) * {PNG_ROW + 1} + 2 + k % {PNG_ROW})
                     + 1 AS BIGINT)
                * CAST(conv(substr(hx, 2 * k + 1, 2), 16, 10) AS BIGINT)),
      acc -> named_struct('s1', acc.s1 % {_ADLER_MOD}, 's2', acc.s2 % {_ADLER_MOD}))"""
    withad = base.withColumn("ad", F.expr(adler_sql))
    adler_bytes = F.unhex(
        F.concat(
            F.lpad(F.hex(F.expr("ad.s2 div 256")), 2, "0"),
            F.lpad(F.hex(F.expr("ad.s2 % 256")), 2, "0"),
            F.lpad(F.hex(F.expr("ad.s1 div 256")), 2, "0"),
            F.lpad(F.hex(F.expr("ad.s1 % 256")), 2, "0"),
        )
    )
    idat_data = F.concat(F.lit(PNG_ZLIB_PREFIX), F.col("stream"), adler_bytes)
    idat = F.concat(
        F.lit(struct.pack(">I", _PNG_IDAT_LEN) + b"IDAT"),
        idat_data,
        F.unhex(
            F.lpad(F.hex(F.crc32(F.concat(F.lit(b"IDAT"), idat_data))), 8, "0")
        ),
    )
    content = F.concat(F.lit(PNG_SIG + PNG_IHDR), idat, F.lit(PNG_IEND))
    return withad.select(
        "doc_id",
        F.lit("image/png").alias("media_type"),
        content.alias("content"),
        F.length(content).alias("n_bytes"),
    )


def media_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: genuine PNG decode end-to-end — synthesize
    valid PNGs (:func:`media_png_table`), INFLATE + unfilter them back
    with :func:`_decode_png` via the standard decode seam, and emit
    decoded geometry plus the exact data-section histogram digest
    (fractions invert to integer counts as in media_real_decode)."""
    decoded = decode_media_features(
        media_png_table(spark, sf_dir), use_real_codecs=True
    )
    counts = F.transform(
        F.col("feature"),
        lambda x: F.round(x * PNG_DATA_LEN).cast("int").cast("string"),
    )
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.md5(F.concat_ws(",", counts)).alias("hist_digest"),
    )


MEDIA_PNG_DECODE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, hex(encode(text)) AS hx
  FROM documents
  WHERE octet_length(encode(text)) >= {PNG_DATA_LEN}
),
bytes AS (
  SELECT doc_id,
         CAST(concat('0x', substr(hx, 2 * p + 1, 2)) AS BIGINT) // 32 AS bucket
  FROM d, unnest(generate_series(0, {PNG_DATA_LEN - 1})) AS t(p)
),
hist AS (
  SELECT doc_id,
         {", ".join(f"sum(CASE WHEN bucket = {i} THEN 1 ELSE 0 END) AS c{i}"
                    for i in range(FEATURE_DIM))}
  FROM bytes GROUP BY doc_id
)
SELECT doc_id,
       CAST({PNG_W} AS INT) AS width,
       CAST({PNG_H} AS INT) AS height,
       md5(concat_ws(',', {", ".join(f"c{i}" for i in range(FEATURE_DIM))}))
         AS hist_digest
FROM hist
"""


# --------------------------------- AVI synth + frame decode (round 8)
#
# The round-7 verdict asked for one REAL video-container path through
# the existing RIFF machinery, replacing the fake-codec seam for the
# frame-sampling story the way media_png_decode did for images.
# Decode side: _avi_frames below — genuine RIFF walk ('RIFF..AVI '),
# recursive LIST descent (hdrl -> strl -> strf BITMAPINFOHEADER for
# geometry, movi -> '..db' frame chunks), then per-frame uncompressed
# DIB decode (4-byte-aligned stride, padding excluded) — the same row
# logic as _decode_bmp, over each frame chunk instead of one pixel
# array. Synth side: a FULLY VALID single-stream AVI built in pure
# Catalyst — all headers and chunk sizes are constants at fixed
# geometry, so the file is literal header bytes interleaved with the
# document's leading text bytes as frame payloads (exactly the
# media_real_table pattern). Uncompressed '00db' DIB frames are
# byte-transparent, so DuckDB reproduces the sampled-frame histogram
# from hex(encode(text)) byte arithmetic and the whole
# synthesize->container-walk->frame-decode->sample pipeline sits
# behind the driver's hash gate.

AVI_W, AVI_H = 4, 4  # 24bpp stride = 12 bytes -> zero row padding
AVI_FRAME_DATA = AVI_W * AVI_H * 3  # bytes per frame payload
AVI_FRAMES = 4
AVI_DATA_LEN = AVI_FRAME_DATA * AVI_FRAMES  # document bytes per file
AVI_SAMPLE_EVERY = 2  # sampled frame indices: 0, 2


def _avi_strf() -> bytes:
    """BITMAPINFOHEADER for the uncompressed 24bpp stream."""
    return struct.pack(
        "<IiiHHIIiiII",
        40, AVI_W, AVI_H, 1, 24, 0, AVI_FRAME_DATA, 2835, 2835, 0, 0,
    )


def _avi_header_prefix() -> bytes:
    """Everything before the first frame payload: RIFF header, hdrl
    LIST (avih + strl(strh, strf)), movi LIST header, and the first
    '00db' chunk header. Sizes are constants at fixed geometry."""
    avih = struct.pack(
        "<IIIIIIIIII4I",
        100_000, AVI_FRAME_DATA * 10, 0, 0, AVI_FRAMES, 0, 1,
        AVI_FRAME_DATA, AVI_W, AVI_H, 0, 0, 0, 0,
    )
    # AVISTREAMHEADER: flags, priority+language, initialFrames, scale,
    # rate, start, length, suggestedBufferSize, quality, sampleSize,
    # rcFrame — 2 FOURCCs + 10 dwords + 4 shorts = the canonical 56
    strh = (
        b"vids"
        + b"DIB "
        + struct.pack(
            "<IIIIIIIIII4h",
            0, 0, 0, 1, 10, 0, AVI_FRAMES, AVI_FRAME_DATA, 0, 0,
            0, 0, AVI_W, AVI_H,
        )
    )
    strl_body = b"strl" + b"strh" + struct.pack("<I", len(strh)) + strh \
        + b"strf" + struct.pack("<I", 40) + _avi_strf()
    hdrl_body = (
        b"hdrl"
        + b"avih" + struct.pack("<I", len(avih)) + avih
        + b"LIST" + struct.pack("<I", len(strl_body)) + strl_body
    )
    movi_body_len = 4 + AVI_FRAMES * (8 + AVI_FRAME_DATA)
    riff_body_len = 4 + 8 + len(hdrl_body) + 8 + movi_body_len
    return (
        b"RIFF" + struct.pack("<I", riff_body_len) + b"AVI "
        + b"LIST" + struct.pack("<I", len(hdrl_body)) + hdrl_body
        + b"LIST" + struct.pack("<I", movi_body_len) + b"movi"
        + b"00db" + struct.pack("<I", AVI_FRAME_DATA)
    )


AVI_PREFIX = _avi_header_prefix()
_AVI_FRAME_HDR = b"00db" + struct.pack("<I", AVI_FRAME_DATA)
AVI_FILE_LEN = len(AVI_PREFIX) + AVI_FRAME_DATA \
    + (AVI_FRAMES - 1) * (8 + AVI_FRAME_DATA)


def _avi_frames_parse(content: bytes) -> tuple[int, int, list[bytes]]:
    """Genuine AVI container walk: (width, height, decoded frames).

    Recursive LIST descent; geometry/bpp from the 'strf'
    BITMAPINFOHEADER, one decoded pixel-row block per '..db' (raw DIB)
    chunk — rows read at the 4-byte-aligned stride with padding bytes
    EXCLUDED, as in :func:`_decode_bmp`. Compressed ('..dc') frames
    raise: no external codecs live here, and silently histogramming
    compressed bytes would be a lie."""
    if content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise UnsupportedMediaError("not a RIFF/AVI container")
    geom: dict[str, int] = {}
    frames: list[bytes] = []
    # Real AVIs nest 2-3 LIST levels (hdrl -> strl, movi -> rec).
    # A corrupt payload of nothing but nested LIST headers (12 bytes
    # per level) would otherwise recurse ~len/12 deep and raise
    # RecursionError PAST the except wrapper below — one malformed
    # byte string failing a whole ingest query, exactly what the
    # skip-and-count contract forbids (r13 review).
    MAX_LIST_DEPTH = 32

    def walk(pos: int, end: int, depth: int = 0) -> None:
        if depth > MAX_LIST_DEPTH:
            raise UnsupportedMediaError("LIST nesting beyond any real AVI")
        while pos + 8 <= end:
            cid = content[pos : pos + 4]
            sz = struct.unpack_from("<I", content, pos + 4)[0]
            body_end = min(pos + 8 + sz, end)
            if cid == b"LIST":
                walk(pos + 12, body_end, depth + 1)  # skip the list type
            elif cid == b"strf" and "w" not in geom:
                _sz, w, h = struct.unpack_from("<Iii", content, pos + 8)
                geom["w"], geom["h"] = w, abs(h)
                geom["bpp"] = struct.unpack_from("<H", content, pos + 8 + 14)[0]
                geom["comp"] = struct.unpack_from("<I", content, pos + 8 + 16)[0]
            elif cid[2:4] == b"db":
                frames.append(content[pos + 8 : body_end])
            elif cid[2:4] == b"dc":
                raise UnsupportedMediaError("compressed AVI frames")
            pos += 8 + sz + (sz & 1)  # RIFF chunks are word-aligned

    try:
        walk(12, len(content))
        if "w" not in geom:
            raise UnsupportedMediaError("AVI missing strf header")
        if geom["comp"] != 0:
            raise UnsupportedMediaError("non-BI_RGB AVI stream")
        w, h, bpp = geom["w"], geom["h"], geom["bpp"]
        row_bytes = (bpp * w) // 8
        stride = (bpp * w + 31) // 32 * 4
        if w <= 0 or h == 0 or row_bytes <= 0:
            raise UnsupportedMediaError("degenerate AVI geometry")
        out = []
        for fr in frames:
            # validate the DECLARED strf geometry against the actual
            # frame payload before building the row list — a tiny
            # corrupt AVI declaring height 2^31 over one '00db' chunk
            # would otherwise allocate a multi-GB list, an uncatchable
            # memory bomb (r13 advisor; the exact bug class
            # _bmp_geometry closed for BMP). Python ints are unbounded
            # so the comparison is itself safe against huge values.
            if (h - 1) * stride + row_bytes > len(fr):
                raise UnsupportedMediaError(
                    "AVI frame data exceeds chunk payload"
                )
            rows = [
                fr[r * stride : r * stride + row_bytes] for r in range(h)
            ]
            out.append(b"".join(rows))
        return w, h, out
    except UnsupportedMediaError:
        raise
    except (struct.error, IndexError) as ex:
        raise UnsupportedMediaError(f"corrupt AVI: {ex}") from ex


def _decode_avi(content: bytes) -> tuple[int, int, int, list[float]]:
    """Seam-contract wrapper: histogram over ALL decoded frames."""
    w, h, frames = _avi_frames_parse(content)
    return w, h, len(frames), _hist8(b"".join(frames))


def media_avi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, media_type, content, n_bytes): one valid single-stream
    uncompressed AVI per document (>= AVI_DATA_LEN text bytes), frame
    payloads = the document's leading UTF-8 bytes in AVI_FRAME_DATA
    slices. Pure Catalyst — constant header/chunk literals concat'd
    with binary substrings (section comment)."""
    return media_avi_table_from(load_table(spark, sf_dir, "documents"))


def media_avi_table_from(docs: DataFrame) -> DataFrame:
    """The synth stage of :func:`media_avi_table` over an arbitrary
    (doc_id, text) frame — factored (r13) so the STREAMING video
    decontamination twin synthesizes per micro-batch, exactly the
    :func:`media_real_table_from` convention."""
    docs = docs.filter(
        F.length(F.col("text").cast("binary")) >= AVI_DATA_LEN
    )
    parts = [F.lit(AVI_PREFIX)]
    for i in range(AVI_FRAMES):
        if i:
            parts.append(F.lit(_AVI_FRAME_HDR))
        parts.append(
            F.expr(
                f"substring(CAST(text AS BINARY), "
                f"{i * AVI_FRAME_DATA + 1}, {AVI_FRAME_DATA})"
            )
        )
    content = F.concat(*parts)
    return docs.select(
        "doc_id",
        F.lit("video/avi").alias("media_type"),
        content.alias("content"),
        F.length(content).alias("n_bytes"),
    )


def avi_sample_frames(media: DataFrame, every_k: int = AVI_SAMPLE_EVERY) -> DataFrame:
    """REAL frame sampling over AVI payloads via ``mapInPandas``: walk
    the container, decode every frame chunk, keep frames
    0, k, 2k, ... and histogram only the sampled pixels — the genuine
    version of the fake-codec ``frame_sample`` story. Embarrassingly
    parallel, no shuffle; Arrow-batched like every codec path here."""

    def _sample(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [],
                "n_frames": [], "n_sampled": [], "feature": [],
            }
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                w, h, frames = _avi_frames_parse(bytes(content))
                sampled = frames[::every_k]
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(len(frames))
                out["n_sampled"].append(len(sampled))
                out["feature"].append(_hist8(b"".join(sampled)))
            yield pd.DataFrame(out)

    schema = (
        "doc_id bigint, width int, height int, n_frames int, "
        f"n_sampled int, feature array<double>"
    )
    return media.mapInPandas(_sample, schema=schema)


def media_avi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: genuine AVI container decode + frame sampling
    end-to-end — synthesize valid AVIs (:func:`media_avi_table`), walk
    the container and DIB-decode every frame (:func:`_avi_frames_parse`),
    sample every AVI_SAMPLE_EVERY-th frame, and emit decoded geometry
    plus the exact sampled-pixel histogram digest (fractions invert to
    integer counts as in media_real_decode)."""
    sampled_len = AVI_FRAME_DATA * len(range(0, AVI_FRAMES, AVI_SAMPLE_EVERY))
    decoded = avi_sample_frames(media_avi_table(spark, sf_dir))
    counts = F.transform(
        F.col("feature"),
        lambda x: F.round(x * sampled_len).cast("int").cast("string"),
    )
    return decoded.select(
        "doc_id",
        "width",
        "height",
        "n_frames",
        "n_sampled",
        F.md5(F.concat_ws(",", counts)).alias("hist_digest"),
    )


_AVI_SAMPLED_POS = [
    i * AVI_FRAME_DATA + p
    for i in range(0, AVI_FRAMES, AVI_SAMPLE_EVERY)
    for p in range(AVI_FRAME_DATA)
]

MEDIA_AVI_DECODE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, hex(encode(text)) AS hx
  FROM documents
  WHERE octet_length(encode(text)) >= {AVI_DATA_LEN}
),
bytes AS (
  SELECT doc_id,
         CAST(concat('0x', substr(hx, 2 * p + 1, 2)) AS BIGINT) // 32 AS bucket
  FROM d, unnest([{", ".join(str(p) for p in _AVI_SAMPLED_POS)}]) AS t(p)
),
hist AS (
  SELECT doc_id,
         {", ".join(f"sum(CASE WHEN bucket = {i} THEN 1 ELSE 0 END) AS c{i}"
                    for i in range(FEATURE_DIM))}
  FROM bytes GROUP BY doc_id
)
SELECT doc_id,
       CAST({AVI_W} AS INT) AS width,
       CAST({AVI_H} AS INT) AS height,
       CAST({AVI_FRAMES} AS INT) AS n_frames,
       CAST({AVI_FRAMES // AVI_SAMPLE_EVERY} AS INT) AS n_sampled,
       md5(concat_ws(',', {", ".join(f"c{i}" for i in range(FEATURE_DIM))}))
         AS hist_digest
FROM hist
"""


# ------------------------------------- perceptual image near-dup (r9)

# Duplicate IMAGES whose bytes differ — the multimodal member of the
# dedup family (r8 verdict #4): re-encoded, slightly-retouched, or
# noise-perturbed copies share no byte hash, but their PERCEPTUAL
# fingerprint (a difference hash over a normalized grayscale grid;
# Krawetz's dHash, the integer-only cousin of pHash) lands within a
# small hamming distance. Pipeline: real container decode
# (_pixel_grid: BMP DIB walk / P6 tokenizer) -> nearest-neighbor
# normalize to an 8x8 grid (nearest_resize — the same public-resize
# math as media_resize) -> integer grayscale (r+g+b, no division: the
# sum is order-isomorphic to the mean and exactly portable) -> 56-bit
# horizontal-gradient fingerprint -> banded hamming self-join (the
# simhash_neardup machinery: 4 bands x 14 bits; sharing >= 1 band is
# the candidate condition, so candidates are bucketed equi-join rows,
# NEVER all pairs).
#
# 100 TB shape: the decode+fingerprint pass is map-only mapInPandas
# (embarrassingly parallel, Arrow-batched); downstream of it every
# image is 8 bytes + a doc_id, so the join stage's input is ~10^-5 of
# the pixel data; the band self-join shuffles those 8-byte rows once.
# Every arithmetic step is integer, so DuckDB re-derives fingerprints
# from hex(encode(text)) byte offsets and the driver hash-gates the
# whole pipeline end-to-end.

PHASH_GRID = 8  # normalize every image to 8x8 before hashing
PHASH_BITS = (PHASH_GRID - 1) * PHASH_GRID  # 7 gradients x 8 rows = 56
IMG_NEARDUP_BANDS = 4
IMG_NEARDUP_BAND_BITS = PHASH_BITS // IMG_NEARDUP_BANDS  # 14
# RECALL BOUND (r9 advisor): with 4 bands x 14 bits, the pigeonhole
# guarantees a shared band only for hamming <= IMG_NEARDUP_BANDS - 1
# = 3. Pairs at hamming 4..6 are surfaced only when their differing
# bits happen to leave one band untouched — standard LSH candidate
# semantics, NOT a lossless enumeration (lossless recall at 6 would
# need 7 bands). The oracle applies the SAME banding, so parity is
# exact; tests/test_multimodal.py pins both directions (hamming <= 3
# always found; a 4-bit difference spread across all 4 bands missed).
IMG_NEARDUP_HAMMING_MAX = 6
# Hot-fingerprint guard (r9 verdict #2): a fingerprint carried by
# more than IMG_NEARDUP_FP_CAP images is boilerplate (flat banners,
# template graphics — dHash maps every byte-order-preserving variant
# to one hash, its job) and is EXCLUDED from pair enumeration, the
# winnow DF_CAP pattern (winnow.py): without it one viral image
# emits O(copies^2) pair rows. Same-hash cliques still get deduped —
# the pair-free media_image_dedup clusters them through their
# min-doc representative without enumeration; the pair query's
# contract is the INTERESTING pairs, and > cap copies of one
# perceptual image is a dedup decision, not a pair report. The cap
# sits above the max multiplicity of the driver corpora (3 at
# sf0.01, 11 at sf0.1 — measured r10) so driver stamps are
# unchanged; the planted-clique pytest exercises the active path.
IMG_NEARDUP_FP_CAP = 16
# Oversized-BUCKET guard: the r10 probe re-run showed the fp cap
# alone barely helps (78x vs 81x pair output at 10x data) — the real
# fanout is not same-fp cliques but hot (band, bucket) groups of
# NEAR-equal fingerprints: at sf0.1 one 14-bit band pattern covers
# 742 of 2812 images (26% of the corpus in a single candidate
# bucket, measured), i.e. the band is non-discriminative for that
# gradient shape. A (band, bucket) group of k members emits O(k^2)
# candidates, so buckets above IMG_NEARDUP_BUCKET_CAP members stop
# generating candidates entirely — the standard oversized-bucket
# skip of production LSH dedup (cf. Manku/Jain/Das Sarma, WWW 2007:
# non-discriminative tables are rotated away; FAISS IVF probes cap
# list lengths the same way). A pair whose every shared band is
# oversized is dropped — by construction those fingerprints are
# near-global boilerplate, the dedup operator's territory, while
# pairs with ANY discriminative shared band still surface. Cap 1024
# is a no-op at driver scales (max bucket 67 at sf0.01 / 742 at
# sf0.1 — measured) so stamps are unchanged; at the 10x probe the
# rotation-invariant mega-buckets (~7000 members) are dropped and
# pair output returns to near-linear.
IMG_NEARDUP_BUCKET_CAP = 1024


def image_dhash(content: bytes) -> int:
    """56-bit perceptual difference hash of a BMP/PPM payload: decode
    the real container, normalize to PHASH_GRID^2 via nearest
    neighbor, grayscale by integer channel sum, set bit (y*7+x) when
    g(x,y) > g(x+1,y). Brightness shifts and byte-level noise that
    preserve local gradient ORDER leave the hash unchanged — which is
    the point."""
    w, h, data = _pixel_grid(content)
    rz = nearest_resize(data, w, h, PHASH_GRID, PHASH_GRID)
    g = [
        rz[3 * i] + rz[3 * i + 1] + rz[3 * i + 2]
        for i in range(PHASH_GRID * PHASH_GRID)
    ]
    fp = 0
    for y in range(PHASH_GRID):
        for x in range(PHASH_GRID - 1):
            if g[y * PHASH_GRID + x] > g[y * PHASH_GRID + x + 1]:
                fp |= 1 << (y * (PHASH_GRID - 1) + x)
    return fp


# One skip accumulator per (SparkContext, modality), created lazily
# and CUMULATIVE for the context's lifetime (r13 review: the first
# cut created a fresh accumulator per plan build, which both leaked a
# registry entry per call and made a streaming drain report only its
# LAST micro-batch's skips).
_SKIP_ACCS: dict[tuple[str, str], object] = {}


def _skip_acc(sc, modality: str):
    key = (sc.applicationId, modality)
    acc = _SKIP_ACCS.get(key)
    if acc is None:
        acc = sc.accumulator(0)
        _SKIP_ACCS[key] = acc
    return acc


def media_skip_count(modality: str = "image") -> int:
    """Undecodable payloads skipped by the ``modality`` fingerprint
    passes on the ACTIVE SparkContext since its start (or the last
    :func:`reset_media_skip_counts`) — the monitoring hook the r12
    advisor asked for: a corpus where every row "deduplicates
    cleanly" because every row was dropped now shows up as skips ==
    corpus size instead of silence. Cumulative across plans and
    micro-batches by design (a streaming drain's skips sum over
    batches)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return 0
    acc = _SKIP_ACCS.get((spark.sparkContext.applicationId, modality))
    return 0 if acc is None else int(acc.value)


def image_fingerprint_skip_count() -> int:
    """:func:`media_skip_count` for the image modality (the r13
    advisor-fix name, kept as the stable alias)."""
    return media_skip_count("image")


def reset_media_skip_counts() -> None:
    """Zero every modality's skip counter on the active context —
    driver-side only (Spark permits .value assignment only there);
    timing/test harnesses call this between runs the way
    ``registry.reset_memos`` resets the session memos."""
    for acc in _SKIP_ACCS.values():
        acc.value = 0


# The corrupt-payload modes a malformed byte string can raise in each
# modality's decode chain, written once. Image (BMP/PPM via
# _pixel_grid): struct.error (truncated BMP header),
# UnsupportedMediaError (foreign magic, or declared geometry that does
# not fit the payload — the _bmp_geometry bound that also defuses the
# huge-declared-height memory bomb), ValueError (truncated P6 header:
# the tokenizer's int(b"")) and IndexError (short pixel data, normally
# pre-empted by the geometry bounds). Video: _avi_frames_parse wraps
# every struct.error / IndexError into UnsupportedMediaError, so that
# one type is the contract. Audio: the passes raise it themselves for
# a clip with no RIFF data section or too few samples. Anything else
# fails the query: a bare ``except Exception`` (the r12 cut) swallowed
# genuine regressions — a NameError from a bad edit would silently
# drop EVERY row and decontamination would report "clean".
_CORRUPT_PAYLOAD_ERRORS = {
    "image": (struct.error, UnsupportedMediaError, ValueError, IndexError),
    "audio": (UnsupportedMediaError,),
    "video": (UnsupportedMediaError,),
}


def _fingerprint_pass(
    media: DataFrame,
    modality: str,
    schema: str,
    rows_of: Callable[[bytes], list[tuple]],
) -> DataFrame:
    """The one ingest loop of every fingerprint pass: an Arrow-batched,
    map-only ``mapInPandas`` over ``media``'s (doc_id, content) rows,
    bytes in, a few 8-byte columns out, no shuffle. ``rows_of(payload)``
    returns the payload's output rows without their leading doc_id,
    ``schema`` names all output columns, doc_id first. A NULL payload,
    or one whose ``rows_of`` raises the modality's corrupt-payload
    error (``_CORRUPT_PAYLOAD_ERRORS``), is SKIPPED and COUNTED toward
    :func:`media_skip_count` — the count is a monitoring signal (task
    retries / re-executed actions can inflate it), not a query result.
    The caught set comes from ``modality``, so a pass cannot count one
    modality's skips against another's error set."""
    acc = _skip_acc(media.sparkSession.sparkContext, modality)
    caught = _CORRUPT_PAYLOAD_ERRORS[modality]
    cols = [c.split()[0] for c in schema.split(",")]

    def _fp(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                if content is None:
                    acc.add(1)
                    continue
                try:
                    rows = rows_of(bytes(content))
                except caught:
                    acc.add(1)  # corrupt/truncated/foreign container
                    continue
                out.extend((doc_id, *row) for row in rows)
            yield pd.DataFrame(out, columns=cols)

    return media.mapInPandas(_fp, schema=schema)


def image_fingerprints(media: DataFrame) -> DataFrame:
    """(doc_id, fingerprint): :func:`image_dhash` per payload through
    :func:`_fingerprint_pass`. Undecodable payloads are SKIPPED and
    counted toward ``media_skip_count("image")``, never fatal (r12
    fuzzing: a ``BM``-magic payload with a truncated header, or a
    foreign container, would otherwise kill the whole task, i.e. one
    corrupt file fails the query). Behavior-identical on the
    synthesized corpora (payloads are well-formed by construction —
    pinned by the corrupt-payload test asserting the valid rows are
    bit-identical with garbage rows present), and invisible to the
    DuckDB oracles, whose fp derivations only ever see well-formed
    rows."""
    return _fingerprint_pass(
        media, "image", "doc_id long, fingerprint long",
        lambda content: [(image_dhash(content),)],
    )


def image_neardup_pairs(
    fp: DataFrame,
    max_hamming: int = IMG_NEARDUP_HAMMING_MAX,
    fp_cap: int | None = IMG_NEARDUP_FP_CAP,
    bucket_cap: int | None = IMG_NEARDUP_BUCKET_CAP,
) -> DataFrame:
    """Banded hamming pair enumeration over a (doc_id, fingerprint)
    frame — the join stage of :func:`media_image_neardup`, factored so
    the planted-clique / recall-bound tests drive it with synthetic
    fingerprints. ``fp_cap`` is the hot-fingerprint guard and
    ``bucket_cap`` the oversized-bucket skip (constants comment
    above); ``None`` disables either (the uncapped r9 behavior, kept
    available by parameter per the verdict)."""
    mask = (1 << IMG_NEARDUP_BAND_BITS) - 1

    def band_structs(col: str) -> F.Column:
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(col, b * IMG_NEARDUP_BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(IMG_NEARDUP_BANDS)
                ]
            )
        )

    # BOTH guards derive from ONE multiplicity aggregate over the doc
    # rows (fingerprint -> n): the fp hot set is its > fp_cap slice,
    # and bucket occupancy is the SUM of surviving multiplicities per
    # (band, bucket) — computed over the vocab-sized count table, not
    # by a second aggregation over doc rows (|distinct fps| << |docs|
    # on dup-heavy corpora, which is exactly when the guards matter)
    cnts = None
    if fp_cap is not None or bucket_cap is not None:
        cnts = fp.groupBy("fingerprint").agg(F.count("*").alias("n"))
    if fp_cap is not None:
        # tiny by construction (bounded by |corpus| / fp_cap entries),
        # broadcasts at any scale — the dedup_incremental hot-set shape
        hot = cnts.filter(F.col("n") > fp_cap).select("fingerprint")
        fp = fp.join(F.broadcast(hot), "fingerprint", "left_anti")
        cnts = cnts.filter(F.col("n") <= fp_cap)
    banded = fp.select(
        "doc_id", "fingerprint", band_structs("fingerprint").alias("bb")
    ).select("doc_id", "fingerprint", "bb.band", "bb.bucket")
    if bucket_cap is not None:
        # oversized candidate buckets (> bucket_cap member rows) are
        # non-discriminative band patterns and stop generating
        # candidates; bounded by BANDS * |rows| / bucket_cap entries,
        # so the hot-bucket set broadcasts
        hot_buckets = (
            cnts.select(band_structs("fingerprint").alias("bb"), "n")
            .select("bb.band", "bb.bucket", "n")
            .groupBy("band", "bucket")
            .agg(F.sum("n").alias("occ"))
            .filter(F.col("occ") > bucket_cap)
            .select("band", "bucket")
        )
        banded = banded.join(
            F.broadcast(hot_buckets), ["band", "bucket"], "left_anti"
        )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.fingerprint").bitwiseXOR(F.col("b.fingerprint"))
            ).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def media_image_neardup(
    spark: SparkSession,
    sf_dir: str,
    max_hamming: int = IMG_NEARDUP_HAMMING_MAX,
    fp_cap: int | None = IMG_NEARDUP_FP_CAP,
    bucket_cap: int | None = IMG_NEARDUP_BUCKET_CAP,
) -> DataFrame:
    """Registered query: perceptual near-duplicate image pairs
    (doc_a, doc_b, hamming) — decode-normalize-hash each real BMP/PPM
    payload, then the banded hamming join: pairs sharing >= 1 of 4
    14-bit bands with hamming <= max_hamming, with two boilerplate
    guards — fingerprints on more than fp_cap images and candidate
    buckets above bucket_cap members are excluded (constants comment
    above has the recall bound and both cap rationales). The banded +
    capped definition is the query contract (same family as
    simhash_neardup / winnow_neardup). Tier spec:
    :data:`IMAGE_CLIP_TIER`."""
    return image_neardup_pairs(
        IMAGE_CLIP_TIER.corpus_fps(spark, sf_dir), max_hamming, fp_cap,
        bucket_cap,
    )


def _phash_gray_offsets() -> list[int]:
    """Source-byte offset of each normalized grid pixel's R channel,
    in grid order — the static arithmetic shared with
    nearest_resize(IMG_W, IMG_H -> PHASH_GRID^2)."""
    offs = []
    for y in range(PHASH_GRID):
        sy = y * IMG_H // PHASH_GRID
        for x in range(PHASH_GRID):
            sx = x * IMG_W // PHASH_GRID
            offs.append((sy * IMG_W + sx) * 3)
    return offs


def _image_fp_oracle_core() -> str:
    """Standalone SELECT producing (doc_id, fingerprint) for every
    image — the dHash pipeline re-derived from hex(encode(text))
    static byte offsets; shared by the near-dup and dedup oracles."""
    offs = _phash_gray_offsets()

    def gray(i: int) -> str:
        p = offs[i]
        return " + ".join(
            f"CAST(concat('0x', substr(hx, {2 * (p + c) + 1}, 2)) AS BIGINT)"
            for c in range(3)
        )

    g_cols = ",\n         ".join(
        f"({gray(i)}) AS g{i}" for i in range(PHASH_GRID * PHASH_GRID)
    )
    fp_terms = " + ".join(
        f"CASE WHEN g{y * PHASH_GRID + x} > g{y * PHASH_GRID + x + 1} "
        f"THEN CAST({1 << (y * (PHASH_GRID - 1) + x)} AS BIGINT) ELSE 0 END"
        for y in range(PHASH_GRID)
        for x in range(PHASH_GRID - 1)
    )
    return f"""
WITH d AS (
  SELECT doc_id, hex(encode(text)) AS hx
  FROM documents
  WHERE octet_length(encode(text)) >= {WAV_DATA_LEN} AND doc_id % 3 <> 0
),
g AS (
  SELECT doc_id,
         {g_cols}
  FROM d
)
SELECT doc_id, {fp_terms} AS fingerprint FROM g"""


def _fp_neardup_oracle(fp_core_sql: str) -> str:
    """DuckDB twin of the banded hamming pair enumeration, generic
    over the fingerprint derivation (the :func:`_fp_dedup_oracle` /
    :func:`_decontam_oracle` pattern, applied r13 to the third
    duplicated consumer): the image, audio, and video near-dup
    oracles share the banding, both clique guards, and the hamming
    filter, so one builder gates all three and the tiers can never
    drift."""
    mask = (1 << IMG_NEARDUP_BAND_BITS) - 1
    return f"""
WITH fp AS (
  SELECT doc_id, fingerprint FROM ({fp_core_sql}) t
),
hot AS (
  SELECT fingerprint FROM fp
  GROUP BY fingerprint HAVING count(*) > {IMG_NEARDUP_FP_CAP}
),
fpc AS (
  SELECT * FROM fp
  WHERE fingerprint NOT IN (SELECT fingerprint FROM hot)
),
banded0 AS (
  SELECT doc_id, fingerprint, b.b AS band,
         (fingerprint >> (b.b * {IMG_NEARDUP_BAND_BITS})) & {mask} AS bucket
  FROM fpc,
       unnest([{', '.join(str(b) for b in range(IMG_NEARDUP_BANDS))}]) AS b(b)
),
hot_buckets AS (
  SELECT band, bucket FROM banded0
  GROUP BY band, bucket HAVING count(*) > {IMG_NEARDUP_BUCKET_CAP}
),
banded AS (
  SELECT b0.* FROM banded0 b0
  WHERE NOT EXISTS (
    SELECT 1 FROM hot_buckets h
    WHERE h.band = b0.band AND h.bucket = b0.bucket
  )
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.fingerprint, b.fingerprint)) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= {IMG_NEARDUP_HAMMING_MAX}
"""


MEDIA_IMAGE_NEARDUP_ORACLE = _fp_neardup_oracle(_image_fp_oracle_core())


def media_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the dedup DECISION over perceptual image
    near-dups — cluster label (min doc_id of the cluster) and size
    for EVERY image. A pipeline keeps one image per cluster; pairs
    alone don't say which.

    Scale design (r9 probe finding): corpora are dup-heavy, and a
    popular fingerprint (flat banners, boilerplate images) forms a
    PAIR clique whose enumeration is quadratic — a 10x-data probe of
    the pair query measured 81x output precisely because dHash maps
    every byte-order-preserving variant to the same hash (its job).
    So the decision operator never enumerates same-fingerprint pairs:
    connected components run over DISTINCT fingerprints (node = the
    min-doc_id representative per fp; edge = two distinct fps sharing
    a band with hamming <= max — the UNCAPPED candidate condition of
    :func:`media_image_neardup`, which depends only on fps, so the
    clusters are IDENTICAL to CC over the UNGUARDED doc-pair graph;
    the pair query's hot-fp / oversized-bucket guards backstop pair
    ENUMERATION and are deliberately not applied here, where same-fp
    cliques already collapse to one node and the edge join is bounded
    by DISTINCT-fp diversity), and doc membership broadcasts back
    through the fp -> rep map. CC node count is bounded by content
    diversity, not corpus size.

    Output: (doc_id, cluster, cluster_size). Tier spec:
    :data:`IMAGE_CLIP_TIER`.
    """
    return _dedup(IMAGE_CLIP_TIER.corpus_fps(spark, sf_dir))


def _dedup(fp: DataFrame) -> DataFrame:
    """(doc_id, cluster, cluster_size): the :func:`fp_clusters` labels
    of a (doc_id, fingerprint) frame with each cluster's size — the
    body of every ``media_*_dedup`` query."""
    labeled = fp_clusters(fp)
    sizes = labeled.groupBy("cluster").agg(F.count("*").alias("cluster_size"))
    return labeled.join(sizes, "cluster").select(
        "doc_id", "cluster", "cluster_size"
    )


def fp_clusters(fp: DataFrame) -> DataFrame:
    """(doc_id, cluster) — connected components over the banded
    hamming graph of DISTINCT fingerprints, the shared pair-free
    cluster machinery of :func:`media_image_dedup`,
    :func:`media_audio_dedup`, and the media funnel (r11): node = the
    min-doc_id representative per fp; edge = two distinct fps sharing
    a band with hamming <= IMG_NEARDUP_HAMMING_MAX; cluster = the min
    doc_id of the component (connected_components labels by min
    node). Same-fp cliques collapse to one node, so nothing here is
    quadratic in copies; the join stage's input is bounded by
    fingerprint DIVERSITY, not corpus size."""
    from .dedup import connected_components

    # one representative doc per distinct fingerprint: same-fp docs
    # are dups by construction and collapse here — no pair enumeration
    reps = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("rep"))
    mask = (1 << IMG_NEARDUP_BAND_BITS) - 1

    def _slice(col: str, b) -> F.Column:
        return F.shiftright(F.col(col), b * IMG_NEARDUP_BAND_BITS).bitwiseAND(
            F.lit(mask)
        )

    banded = reps.select(
        "rep",
        "fingerprint",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _slice("fingerprint", b).alias("bucket"),
                    )
                    for b in range(IMG_NEARDUP_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("rep", "fingerprint", "bb.band", "bb.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    # FIRST-MATCHING-BAND emission (r15, r14 verdict #3): a near-pair
    # agrees on up to all IMG_NEARDUP_BANDS bands — on the r14 10x
    # probe's dense corpus that meant every edge emitted up to 8x and
    # a full shuffle of the inflated set just to .distinct() it back
    # down (8.1 M edges, 94.8 % of funnel wall time in the cluster
    # stage). A pair is now kept only in the LOWEST band whose slices
    # agree — an inline bitwise filter on the join output (still
    # whole-stage codegen), so the edge set arrives exactly-once by
    # construction and the distinct shuffle disappears. The edge SET
    # is unchanged (banding is lossless for hamming <= max by
    # pigeonhole, and every agreeing pair has exactly one lowest
    # agreeing band), so the clusters — and the oracles gating every
    # caller — are bit-identical.
    lowest_agreeing = (
        F.array_position(
            F.array(
                *[
                    _slice("a.fingerprint", i) == _slice("b.fingerprint", i)
                    for i in range(IMG_NEARDUP_BANDS)
                ]
            ),
            F.lit(True),
        )
        - 1
    )
    edges = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.fingerprint") < F.col("b.fingerprint")),
        )
        .filter(
            F.bit_count(
                F.col("a.fingerprint").bitwiseXOR(F.col("b.fingerprint"))
            )
            <= IMG_NEARDUP_HAMMING_MAX
        )
        .filter(F.col("a.band") == lowest_agreeing)
        .select(F.col("a.rep").alias("u"), F.col("b.rep").alias("v"))
    )
    rep_labels = connected_components(edges).select(
        F.col("node").alias("rep"), "label"
    )
    fp_rep = fp.join(reps, "fingerprint")
    return fp_rep.join(rep_labels, "rep", "left").select(
        "doc_id", F.coalesce("label", F.col("rep")).alias("cluster")
    )


def _fp_cluster_sql(p: str, fp_cte: str) -> str:
    """Prefixed CTE chain computing (doc_id, cluster) over a
    (doc_id, fingerprint) CTE — the SQL twin of :func:`fp_clusters`,
    fragment-form so one definition serves BOTH standalone dedup
    oracles and the media funnel's two-modality composition (which
    runs it twice under one ``WITH RECURSIVE``). Every non-recursive
    CTE is MATERIALIZED (DuckDB re-expands inlined CTE chains
    exponentially — the kcore lesson)."""
    mask = (1 << IMG_NEARDUP_BAND_BITS) - 1
    bands = ", ".join(str(b) for b in range(IMG_NEARDUP_BANDS))
    return f"""{p}reps AS MATERIALIZED (
  SELECT fingerprint, min(doc_id) AS rep FROM {fp_cte} GROUP BY fingerprint
),
{p}banded AS MATERIALIZED (
  SELECT rep, fingerprint, b.b AS band,
         (fingerprint >> (b.b * {IMG_NEARDUP_BAND_BITS})) & {mask} AS bucket
  FROM {p}reps, unnest([{bands}]) AS b(b)
),
{p}edges AS MATERIALIZED (
  SELECT DISTINCT a.rep AS u, b.rep AS v
  FROM {p}banded a JOIN {p}banded b
    ON a.band = b.band AND a.bucket = b.bucket
   AND a.fingerprint < b.fingerprint
  WHERE bit_count(xor(a.fingerprint, b.fingerprint))
          <= {IMG_NEARDUP_HAMMING_MAX}
),
{p}dir AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM {p}edges
  UNION ALL
  SELECT v, u FROM {p}edges
),
{p}reach(node, r) AS (
  SELECT rep, rep FROM {p}reps
  UNION
  SELECT {p}reach.node, {p}dir.dst
  FROM {p}reach JOIN {p}dir ON {p}reach.r = {p}dir.src
),
{p}lbl AS MATERIALIZED (
  SELECT node AS rep, min(r) AS label FROM {p}reach GROUP BY node
),
{p}clusters AS MATERIALIZED (
  SELECT d.doc_id, l.label AS cluster
  FROM {fp_cte} d
  JOIN {p}reps rp ON d.fingerprint = rp.fingerprint
  JOIN {p}lbl l ON rp.rep = l.rep
)"""


def _fp_dedup_oracle(fp_core_sql: str) -> str:
    """Standalone (doc_id, cluster, cluster_size) dedup oracle over a
    fingerprint-core SELECT — shared by the image and audio dedup
    oracles (one cluster-SQL definition, three consumers)."""
    return f"""
WITH RECURSIVE fp AS MATERIALIZED (
  SELECT doc_id, fingerprint FROM ({fp_core_sql}) t
),
{_fp_cluster_sql("", "fp")},
sizes AS (
  SELECT cluster, count(*) AS cluster_size FROM clusters GROUP BY cluster
)
SELECT doc_id, cluster, cluster_size FROM clusters JOIN sizes USING (cluster)
"""


MEDIA_IMAGE_DEDUP_ORACLE = _fp_dedup_oracle(_image_fp_oracle_core())


# ----------------------------- perceptual audio near-dup (r10 library)
#
# The audio counterpart of media_image_neardup: duplicate CLIPS whose
# bytes differ (re-encoded, volume-adjusted) share no byte hash, but
# their amplitude-ENVELOPE ORDER survives any positive gain change.
# The hash is the time-axis member of the Haitsma-Kalker family ("A
# Highly Robust Audio Fingerprint Based on Energy Differences", 2002,
# public): bit i = [ |v_i| > |v_{i+1}| ] over the first PHASH_BITS+1
# PCM samples — sign-of-energy-difference along time, all-integer, so
# DuckDB re-derives every bit from hex(encode(text)) static offsets.
# Multiplying every sample by any c > 0 preserves every comparison
# (volume invariance — the perceptual point, pinned by golden);
# amplitude inversion of the envelope flips the gradient bits.
# The pair stage IS image_neardup_pairs: the banded hamming join and
# both boilerplate guards are fingerprint-generic (doc_id +
# PHASH_BITS-bit integer), so audio reuses them verbatim.


def wav_volume_hash(content: bytes) -> int:
    """PHASH_BITS-bit volume-invariant audio fingerprint of a WAV
    payload: bit i set when |sample_i| > |sample_{i+1}| (signed 16-bit
    LE PCM via the shared RIFF walk). Returns -1 for non-WAV payloads
    or clips shorter than PHASH_BITS + 1 samples (callers drop
    those)."""
    data = _wav_data_section(content)
    if not data or len(data) // 2 < PHASH_BITS + 1:
        return -1
    vs = struct.unpack_from(f"<{PHASH_BITS + 1}h", data)
    return _fp_from_samples(vs)


def _fp_from_samples(vs) -> int:
    """Envelope-order bits from a decoded PCM sample sequence — the
    one definition shared by :func:`wav_volume_hash` and the fused
    :func:`wav_fp_peak` pass (which also needs the full sample list
    for the peak, so it unpacks once and calls this)."""
    fp = 0
    for i in range(PHASH_BITS):
        if abs(vs[i]) > abs(vs[i + 1]):
            fp |= 1 << i
    return fp


def _wav_samples(content: bytes, min_samples: int) -> tuple[int, ...]:
    """The signed 16-bit LE PCM samples of a WAV payload (shared RIFF
    walk). A payload with no data section or fewer than
    ``min_samples`` samples raises :class:`UnsupportedMediaError`, the
    audio passes' skip."""
    data = _wav_data_section(content)
    if not data or len(data) // 2 < min_samples:
        raise UnsupportedMediaError("no WAV data section or too few samples")
    return struct.unpack_from(f"<{len(data) // 2}h", data)


def audio_fingerprints(media: DataFrame) -> DataFrame:
    """(doc_id, fingerprint) — :func:`wav_volume_hash` per WAV payload
    through :func:`_fingerprint_pass` (the audio twin of
    :func:`image_fingerprints`). Undecodable clips (non-RIFF bytes,
    truncated PCM — the ``wav_volume_hash() == -1`` sentinel, total
    over arbitrary bytes by construction) skip per item AND count
    toward ``media_skip_count("audio")`` — the r13 review closed the
    asymmetry where image skips were counted but a mass audio skip
    still read as a clean corpus."""

    def rows_of(content: bytes) -> list[tuple]:
        fp = wav_volume_hash(content)
        if fp < 0:
            raise UnsupportedMediaError("undecodable or too-short WAV clip")
        return [(fp,)]

    return _fingerprint_pass(
        media.filter(F.col("media_type") == "audio/wav"), "audio",
        "doc_id long, fingerprint long", rows_of,
    )


def wav_fp_peak(media: DataFrame) -> DataFrame:
    """(doc_id, fingerprint, peak_abs) — the FUSED audio pass for the
    media funnel (r11): one RIFF walk + PCM unpack per clip yields
    both the envelope-order fingerprint (dedup signal) and the peak
    level (quality signal). At corpus scale the decode scan dominates
    audio curation cost, so a funnel must not pay it once per
    feature — this is the one-decode shape
    (:func:`wav_features` + :func:`audio_fingerprints` each cost a
    full pass; the funnel needs one number from each). Undecodable
    clips skip per item and count toward
    ``media_skip_count("audio")``, like :func:`audio_fingerprints`."""

    def rows_of(content: bytes) -> list[tuple]:
        vs = _wav_samples(content, PHASH_BITS + 1)
        return [(_fp_from_samples(vs), max(abs(v) for v in vs))]

    return _fingerprint_pass(
        media.filter(F.col("media_type") == "audio/wav"), "audio",
        "doc_id long, fingerprint long, peak_abs int", rows_of,
    )


def media_audio_neardup(
    spark: SparkSession,
    sf_dir: str,
    max_hamming: int = IMG_NEARDUP_HAMMING_MAX,
    fp_cap: int | None = IMG_NEARDUP_FP_CAP,
    bucket_cap: int | None = IMG_NEARDUP_BUCKET_CAP,
) -> DataFrame:
    """Registered query (r11): perceptual near-duplicate audio pairs
    (doc_a, doc_b, hamming) over the real WAV payloads —
    envelope-order fingerprints through the SAME banded hamming join
    + dual clique guards (hot-fingerprint cap + oversized-bucket
    skip) as the image family (section comment above). Library
    surface since r10; probed near output-linear at 10x data
    (measured in round 10, git history). Tier spec:
    :data:`AUDIO_CLIP_TIER`."""
    return image_neardup_pairs(
        AUDIO_CLIP_TIER.corpus_fps(spark, sf_dir), max_hamming, fp_cap,
        bucket_cap,
    )


def _audio_fp_oracle_core() -> str:
    """Standalone SELECT producing (doc_id, fingerprint) for every WAV
    doc — the envelope hash re-derived from hex(encode(text)) static
    byte offsets (the image fingerprint oracle's audio twin)."""

    def absv(i: int) -> str:
        lo = f"CAST(concat('0x', substr(hx, {4 * i + 1}, 2)) AS BIGINT)"
        hi = f"CAST(concat('0x', substr(hx, {4 * i + 3}, 2)) AS BIGINT)"
        return (
            f"abs(CASE WHEN {lo} + 256 * {hi} >= 32768 "
            f"THEN {lo} + 256 * {hi} - 65536 ELSE {lo} + 256 * {hi} END)"
        )

    a_cols = ",\n         ".join(
        f"({absv(i)}) AS a{i}" for i in range(PHASH_BITS + 1)
    )
    fp_terms = " + ".join(
        f"CASE WHEN a{i} > a{i + 1} THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(PHASH_BITS)
    )
    return f"""
WITH d AS (
  SELECT doc_id, hex(encode(text)) AS hx
  FROM documents
  WHERE octet_length(encode(text)) >= {WAV_DATA_LEN} AND doc_id % 3 = 0
),
a AS (
  SELECT doc_id,
         {a_cols}
  FROM d
)
SELECT doc_id, {fp_terms} AS fingerprint FROM a"""


MEDIA_AUDIO_NEARDUP_ORACLE = _fp_neardup_oracle(_audio_fp_oracle_core())


def media_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION over perceptual audio near-dups —
    (doc_id, cluster, cluster_size) for EVERY WAV clip, through the
    pair-free construction of :func:`media_image_dedup` (whose scale
    argument carries over verbatim): same-fingerprint cliques, the
    volume-variant copies of one clip, collapse to one node and are
    never enumerated as pairs. With the pair query's guards
    triggering, its capped output is a subset of these clusters' edge
    set (r10 advisor note). Tier spec: :data:`AUDIO_CLIP_TIER`."""
    return _dedup(AUDIO_CLIP_TIER.corpus_fps(spark, sf_dir))


MEDIA_AUDIO_DEDUP_ORACLE = _fp_dedup_oracle(_audio_fp_oracle_core())


# ------------------------------ image eval decontamination (r11)
#
# The MULTIMODAL tier of the contamination family (r10 verdict #3):
# text decontamination has exact n-gram, fuzzy winnow, and
# stored-index tiers (curation.py / winnow.py), but benchmark-IMAGE
# leakage — an eval image, re-encoded or slightly retouched, sitting
# in the training corpus — had no counterpart. This operator flags
# every TRAINING image whose perceptual fingerprint lands within
# DECONTAM_HAMMING_MAX of an EVAL-split fingerprint, exact matches
# included (hamming 0).
#
# Recall is LOSSLESS by construction: with IMG_NEARDUP_BANDS bands
# the pigeonhole guarantees any pair at hamming <= BANDS - 1 shares
# at least one untouched band, so the banded candidate join misses
# nothing at the decontamination threshold (3 = 4 - 1) — unlike the
# near-dup pair query at hamming 6, where banding is an LSH recall
# trade documented at IMG_NEARDUP_BAND_BITS. Decontamination is
# exactly the place where a silently missed match means eval leakage
# (the same reasoning that keeps decontaminate_neardup on the
# UNCAPPED fingerprint path, winnow.py).
#
# 100 TB shape (decontaminate_neardup's, re-used): the eval set is
# benchmark-sized, so its banded fingerprints BROADCAST at any
# corpus size; the training corpus pays one map-only fingerprint
# pass + a broadcast-hash join + a per-doc aggregate. The corpus
# never self-joins and never shuffles pixels. No clique guards are
# needed: the join is train x eval, bounded by the eval set, not a
# corpus self-join.

DECONTAM_HAMMING_MAX = IMG_NEARDUP_BANDS - 1  # lossless banding bound

# The image-tier membership predicate, defined ONCE: every
# image-tier split in the package (media_resize, the neardup/dedup
# family, the image decontamination tiers, media_clean_funnel) routes
# through this tuple, so a fourth media type cannot diverge the tiers.
IMAGE_MEDIA_TYPES = ("image/bmp", "image/ppm")


def _decontam_banded(df: DataFrame, fp_name: str) -> DataFrame:
    """Explode a fingerprint frame into its (band, bucket) rows —
    shared by the online and stored decontamination paths."""
    mask = (1 << IMG_NEARDUP_BAND_BITS) - 1
    return df.select(
        *df.columns,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(fp_name, b * IMG_NEARDUP_BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(IMG_NEARDUP_BANDS)
                ]
            )
        ).alias("bb"),
    ).select(*df.columns, "bb.band", "bb.bucket")


def _decontam_flags(
    train_fp: DataFrame, eval_fps: DataFrame, max_hamming: int
) -> DataFrame:
    """(doc_id, n_eval_matches, min_hamming) from a training
    (doc_id, fingerprint) frame and an eval (eval_fp) set — the
    shared consumer of the online and stored-index decontamination
    paths, so the two can never drift (the winnow
    _decontaminate_from_fps convention)."""
    train = _decontam_banded(train_fp, "fingerprint")
    ev = _decontam_banded(eval_fps, "eval_fp")
    hamming = F.bit_count(
        F.col("fingerprint").bitwiseXOR(F.col("eval_fp"))
    )
    pairs = (
        train.join(F.broadcast(ev), ["band", "bucket"])
        .filter(hamming <= max_hamming)
        .select("doc_id", "eval_fp", hamming.alias("hamming"))
        .distinct()  # a pair can share several bands; count it once
    )
    return pairs.groupBy("doc_id").agg(
        F.count("*").alias("n_eval_matches"),
        F.min("hamming").alias("min_hamming"),
    )


def _decontam_oracle(fp_core_sql: str) -> str:
    """DuckDB twin of the perceptual decontamination tier, generic
    over the fingerprint derivation (the :func:`_fp_dedup_oracle`
    pattern) — the image and audio tiers share the banding, the
    lossless hamming bound, and the per-doc aggregate, so one builder
    gates both and the tiers can never drift."""
    from .winnow import EVAL_MOD, EVAL_RESIDUE

    mask = (1 << IMG_NEARDUP_BAND_BITS) - 1
    bands = ", ".join(str(b) for b in range(IMG_NEARDUP_BANDS))
    return f"""
WITH fp AS MATERIALIZED (
  SELECT doc_id, fingerprint FROM ({fp_core_sql}) t
),
ev AS MATERIALIZED (
  SELECT DISTINCT fingerprint AS eval_fp FROM fp
  WHERE doc_id % {EVAL_MOD} = {EVAL_RESIDUE}
),
evb AS MATERIALIZED (
  SELECT eval_fp, b.b AS band,
         (eval_fp >> (b.b * {IMG_NEARDUP_BAND_BITS})) & {mask} AS bucket
  FROM ev, unnest([{bands}]) AS b(b)
),
trb AS MATERIALIZED (
  SELECT doc_id, fingerprint, b.b AS band,
         (fingerprint >> (b.b * {IMG_NEARDUP_BAND_BITS})) & {mask} AS bucket
  FROM fp, unnest([{bands}]) AS b(b)
  WHERE doc_id % {EVAL_MOD} <> {EVAL_RESIDUE}
),
pairs AS MATERIALIZED (
  SELECT DISTINCT t.doc_id, e.eval_fp,
         bit_count(xor(t.fingerprint, e.eval_fp)) AS hamming
  FROM trb t JOIN evb e ON t.band = e.band AND t.bucket = e.bucket
  WHERE bit_count(xor(t.fingerprint, e.eval_fp))
          <= {DECONTAM_HAMMING_MAX}
)
SELECT doc_id, count(*) AS n_eval_matches,
       CAST(min(hamming) AS INT) AS min_hamming
FROM pairs GROUP BY doc_id
"""


MEDIA_DECONTAMINATE_ORACLE = _decontam_oracle(_image_fp_oracle_core())


MEDIA_AUDIO_DECONTAMINATE_ORACLE = _decontam_oracle(_audio_fp_oracle_core())


# ------------------------------ perceptual video tier (r13 library)
#
# The VIDEO member of the perceptual dedup/decontamination family,
# completing modality parity across all three media container
# families this engine synthesizes and genuinely decodes: image
# (BMP/PPM -> dHash, r9), audio (WAV -> envelope-order hash, r10),
# and now video (AVI -> spatio-temporal gradient hash). A duplicate
# CLIP whose bytes differ — re-encoded at a different brightness /
# gain, container re-muxed — shares no byte hash, but the ORDER of
# its frame-luminance sequence survives any positive per-channel
# scaling or uniform brightness shift.
#
# Fingerprint: decode the real AVI container (_avi_frames_parse —
# RIFF walk, LIST descent, per-frame DIB rows), concatenate the
# decoded frames in temporal order, take the integer luminance
# g_k = r+g+b of the first PHASH_BITS+1 pixels of that stream, and
# set bit i when g_i > g_{i+1} — the time-axis member of the
# gradient-fingerprint family (Haitsma & Kalker 2002's
# sign-of-energy-difference along time, the same public construction
# behind the audio hash; image dHash is its space-axis sibling). At
# the synth geometry (4x4 24bpp, 4 frames) the 57-gray window spans
# ALL FOUR frames (16 grays per frame), so the hash is genuinely
# TEMPORAL: reordering frames changes cross-boundary and
# within-segment comparisons (pinned by test), while any positive
# gain change preserves every comparison (pinned by test). All
# arithmetic is integer over static byte offsets, so DuckDB
# re-derives every bit from hex(encode(text)) and the driver
# hash-gates the whole synthesize->container-walk->hash pipeline.
#
# Everything downstream of video_fingerprints is the SHARED
# fingerprint-generic machinery — image_neardup_pairs (banded
# hamming join + dual clique guards), fp_clusters (pair-free CC over
# distinct fps), _decontam_flags (broadcast eval, lossless
# hamming <= BANDS-1 banding) and their oracle builders
# (_fp_neardup_oracle / _fp_dedup_oracle / _decontam_oracle) — so
# the 100 TB arguments carry over verbatim: one map-only Arrow
# decode pass, 8-byte rows afterward, no corpus self-join in the
# decontamination tier, clique guards oracle-mirrored.

VIDEO_FP_GRAYS = PHASH_BITS + 1  # 57 luminances -> 56 gradient bits
VIDEO_FP_BYTES = 3 * VIDEO_FP_GRAYS  # decoded bytes consumed (<= AVI_DATA_LEN)


def avi_video_hash(content: bytes) -> int:
    """PHASH_BITS-bit gain-invariant spatio-temporal fingerprint of an
    AVI payload: decode every frame (genuine container walk), bit i
    set when luminance(pixel_i) > luminance(pixel_{i+1}) over the
    temporally-concatenated decoded pixel stream. Raises
    :class:`UnsupportedMediaError` on ANY undecodable payload —
    unlike the BMP path (where a truncated header's ``struct.error``
    genuinely escapes ``_pixel_grid``), :func:`_avi_frames_parse`
    wraps every ``struct.error``/``IndexError`` into
    UnsupportedMediaError by construction, so that one type is the
    whole raise contract here; callers on the ingest path
    skip-and-count it per the corrupt-payload contract (module
    docstring)."""
    _w, _h, frames = _avi_frames_parse(content)
    data = b"".join(frames)
    if len(data) < VIDEO_FP_BYTES:
        raise UnsupportedMediaError("too few decoded pixels for video hash")
    grays = [
        data[3 * k] + data[3 * k + 1] + data[3 * k + 2]
        for k in range(VIDEO_FP_GRAYS)
    ]
    fp = 0
    for i in range(PHASH_BITS):
        if grays[i] > grays[i + 1]:
            fp |= 1 << i
    return fp


def video_fingerprints(media: DataFrame) -> DataFrame:
    """(doc_id, fingerprint) — :func:`avi_video_hash` per AVI payload
    through :func:`_fingerprint_pass` (the video member of the
    :func:`image_fingerprints` / :func:`audio_fingerprints` family).
    Undecodable payloads (NULL, foreign magic, truncated header,
    compressed frames, too-short streams) SKIP per item and COUNT
    toward ``media_skip_count("video")``; the hash's whole raise
    contract is :class:`UnsupportedMediaError`."""
    return _fingerprint_pass(
        media, "video", "doc_id long, fingerprint long",
        lambda content: [(avi_video_hash(content),)],
    )


def media_video_neardup(
    spark: SparkSession,
    sf_dir: str,
    max_hamming: int = IMG_NEARDUP_HAMMING_MAX,
    fp_cap: int | None = IMG_NEARDUP_FP_CAP,
    bucket_cap: int | None = IMG_NEARDUP_BUCKET_CAP,
) -> DataFrame:
    """Perceptual near-duplicate video pairs (doc_a, doc_b, hamming)
    over the real AVI payloads — spatio-temporal fingerprints through
    the SAME banded hamming join + dual clique guards as the
    image/audio families (:func:`image_neardup_pairs`; section
    comment above). Tier spec: :data:`VIDEO_CLIP_TIER`."""
    return image_neardup_pairs(
        VIDEO_CLIP_TIER.corpus_fps(spark, sf_dir), max_hamming, fp_cap,
        bucket_cap,
    )


def media_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION over perceptual video near-dups —
    (doc_id, cluster, cluster_size) for EVERY clip, through the
    shared pair-free construction (:func:`fp_clusters`: CC over
    DISTINCT fingerprints, same-fp cliques collapse to one node, the
    edge join bounded by fingerprint diversity — see
    :func:`media_image_dedup` for the full scale argument, which
    carries over verbatim). Tier spec: :data:`VIDEO_CLIP_TIER`."""
    return _dedup(VIDEO_CLIP_TIER.corpus_fps(spark, sf_dir))


def _video_fp_oracle_core() -> str:
    """Standalone SELECT producing (doc_id, fingerprint) for every AVI
    doc — the spatio-temporal hash re-derived from hex(encode(text))
    static byte offsets. The synth AVI's frame payloads are the
    document's leading AVI_DATA_LEN text bytes in temporal order and
    the DIB rows carry zero padding at this geometry, so decoded
    pixel k's channels are text bytes 3k..3k+2 exactly."""

    def gray(k: int) -> str:
        return " + ".join(
            f"CAST(concat('0x', substr(hx, {2 * (3 * k + c) + 1}, 2)) AS BIGINT)"
            for c in range(3)
        )

    g_cols = ",\n         ".join(
        f"({gray(k)}) AS g{k}" for k in range(VIDEO_FP_GRAYS)
    )
    fp_terms = " + ".join(
        f"CASE WHEN g{i} > g{i + 1} THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(PHASH_BITS)
    )
    return f"""
WITH d AS (
  SELECT doc_id, hex(encode(text)) AS hx
  FROM documents
  WHERE octet_length(encode(text)) >= {AVI_DATA_LEN}
),
g AS (
  SELECT doc_id,
         {g_cols}
  FROM d
)
SELECT doc_id, {fp_terms} AS fingerprint FROM g"""


MEDIA_VIDEO_NEARDUP_ORACLE = _fp_neardup_oracle(_video_fp_oracle_core())
MEDIA_VIDEO_DEDUP_ORACLE = _fp_dedup_oracle(_video_fp_oracle_core())


MEDIA_VIDEO_DECONTAMINATE_ORACLE = _decontam_oracle(_video_fp_oracle_core())


# --------------------- frame-level video overlap (r13 library)
#
# The whole-clip hash (avi_video_hash) sees a video as ONE gradient
# sequence, so a clip EMBEDDED in a longer/reordered video — the
# classic partial-content duplication mode (intros, stock footage,
# reaction clips) — lands far away in hamming space even though
# whole frames are shared verbatim (perceptually). This operator
# works at FRAME granularity: fingerprint every decoded frame
# independently, then report document pairs sharing at least one
# distinct frame fingerprint, with the shared count. The same
# public construction as winnowing's shared-fingerprint join
# (Schleimer et al.) and the shot-level matching of video-copy
# detection literature, over exact fp equality (candidate semantics:
# equal 42-bit gain-invariant frame signature), never pairwise
# frames.
#
# Frame fingerprint: gradient comparisons of the 16 frame luminances
# at lags 1, 2, 3 -> 15+14+13 = 42 bits. Gain/brightness-invariant
# like the rest of the family (order comparisons only); 42 bits make
# chance cross-content collisions negligible at probe scales
# (~2^-42 per frame pair) while staying pure-integer, so DuckDB
# re-derives every bit from hex(encode(text)) static offsets.
#
# 100 TB shape: frame fp extraction is the SAME map-only Arrow pass
# as every fingerprint here (frames never shuffle — 8-byte rows do);
# per-doc fps are DISTINCT'd (a doc repeating its own frame counts
# once); the hot-fp guard (> VIDEO_FRAME_FP_CAP docs sharing one
# frame signature = boilerplate — black frames, title cards — the
# winnow DF_CAP / IMG_NEARDUP_FP_CAP pattern) bounds the equi-join
# fanout to cap^2 per fp, broadcast as an anti-join; the pair
# aggregate is one shuffle of 8-byte rows.

VIDEO_FRAME_FP_LAGS = (1, 2, 3)
VIDEO_FRAME_FP_GRAYS = AVI_W * AVI_H  # luminances hashed per frame (16)
VIDEO_FRAME_FP_BITS = sum(
    VIDEO_FRAME_FP_GRAYS - lag for lag in VIDEO_FRAME_FP_LAGS
)  # 42
VIDEO_FRAME_FP_CAP = 16  # hot-frame-fp guard (distinct docs per fp)


def frame_gradient_hash(grays: list[int]) -> int:
    """42-bit gain-invariant signature of ONE frame's 16 luminances:
    bit positions pack the lag-1 (15 bits), lag-2 (14), lag-3 (13)
    order comparisons in sequence."""
    fp = 0
    pos = 0
    for lag in VIDEO_FRAME_FP_LAGS:
        for j in range(len(grays) - lag):
            if grays[j] > grays[j + lag]:
                fp |= 1 << pos
            pos += 1
    return fp


def _grays(data: bytes, n: int) -> list[int]:
    """Integer luminances r+g+b of the first ``n`` RGB pixels of
    ``data`` — the input of :func:`frame_gradient_hash` in the frame
    and tile passes."""
    return [data[3 * k] + data[3 * k + 1] + data[3 * k + 2] for k in range(n)]


def video_frame_fingerprints(media: DataFrame) -> DataFrame:
    """(doc_id, frame_idx, frame_fp) — each AVI decoded once through
    :func:`_fingerprint_pass` and every frame hashed independently
    (:func:`frame_gradient_hash` over the frame's FIRST
    ``VIDEO_FRAME_FP_GRAYS`` luminances — the signature is
    fixed-width 42 bits for ANY decodable geometry; hashing whatever
    pixel count the container declares would overflow the 64-bit
    column on a well-formed 8x8 AVI, r13 review). Same skip-and-count
    contract as :func:`video_fingerprints`; a frame too small for the
    signature window skips the payload the same way. Contract
    evidence (r13 verdict #7): hypothesis totality property
    tests/test_properties.py::
    test_video_frame_fingerprints_total_over_arbitrary_bytes
    (rows-or-skip over arbitrary bytes, exact kernel agreement)."""
    need = 3 * VIDEO_FRAME_FP_GRAYS

    def rows_of(content: bytes) -> list[tuple]:
        _w, _h, frames = _avi_frames_parse(content)
        if any(len(fr) < need for fr in frames):
            raise UnsupportedMediaError("frame below the signature window")
        return [
            (i, frame_gradient_hash(_grays(fr, VIDEO_FRAME_FP_GRAYS)))
            for i, fr in enumerate(frames)
        ]

    return _fingerprint_pass(
        media, "video", "doc_id long, frame_idx int, frame_fp long", rows_of
    )


def item_fp_overlap_pairs(
    dfp: DataFrame, fp_col: str, fp_cap: int | None
) -> DataFrame:
    """(doc_a, doc_b, n_shared_fps) from a DISTINCT
    (doc_id, ``fp_col``) frame — the generic sub-item overlap join
    shared by the video frame, audio snippet-window, and image tile
    operators (r13): hot-fp guard (> ``fp_cap`` docs per signature =
    boilerplate, broadcast anti-join), keyed self-join on signature
    equality, pair aggregate. Never pairwise items; fanout bounded by
    cap^2 per signature."""
    if fp_cap is not None:
        # bounded by |distinct (doc, fp)| / fp_cap entries: broadcasts
        hot = (
            dfp.groupBy(fp_col)
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > fp_cap)
            .select(fp_col)
        )
        dfp = dfp.join(F.broadcast(hot), fp_col, "left_anti")
    a, b = dfp.alias("a"), dfp.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{fp_col}") == F.col(f"b.{fp_col}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared_fps"))
    )


def media_video_frame_overlap(
    spark: SparkSession,
    sf_dir: str,
    fp_cap: int | None = VIDEO_FRAME_FP_CAP,
) -> DataFrame:
    """(doc_a, doc_b, n_shared_fps) — video pairs sharing >= 1
    DISTINCT frame fingerprint, the partial-content overlap the
    whole-clip hash cannot see (section comment). ``fp_cap`` is the
    hot-frame guard; ``None`` disables it (kept available by
    parameter, the image_neardup_pairs convention). The join stage is
    the shared :func:`item_fp_overlap_pairs`. Tier spec:
    :data:`VIDEO_FRAME_TIER`."""
    return _overlap(VIDEO_FRAME_TIER, spark, sf_dir, fp_cap)


def _overlap(
    tier: MediaTier, spark: SparkSession, sf_dir: str, fp_cap: int | None
) -> DataFrame:
    """A sub-item tier's pairs sharing >= 1 distinct signature — the
    body of every ``*_overlap`` query."""
    return item_fp_overlap_pairs(
        tier.corpus_fps(spark, sf_dir), tier.fp_col, fp_cap
    )


def _video_frame_rows_oracle() -> str:
    """Standalone SELECT producing (doc_id, frame_idx, frame_fp) for
    every frame of every AVI doc — per-frame lag-gradient signatures
    re-derived from hex(encode(text)) static byte offsets (frame i
    pixel j's channels are text bytes 3*(16i+j)..+2 at the synth
    geometry). The overlap oracle DISTINCTs it; the frame-level
    decontamination oracle keeps frame_idx for its matched-frame
    count."""
    px = AVI_W * AVI_H

    def gray(k: int) -> str:
        return " + ".join(
            f"CAST(concat('0x', substr(hx, {2 * (3 * k + c) + 1}, 2)) AS BIGINT)"
            for c in range(3)
        )

    n_grays = px * AVI_FRAMES
    g_cols = ",\n         ".join(
        f"({gray(k)}) AS g{k}" for k in range(n_grays)
    )

    def frame_fp(i: int) -> str:
        terms = []
        pos = 0
        for lag in VIDEO_FRAME_FP_LAGS:
            for j in range(px - lag):
                terms.append(
                    f"CASE WHEN g{px * i + j} > g{px * i + j + lag} "
                    f"THEN CAST({1 << pos} AS BIGINT) ELSE 0 END"
                )
                pos += 1
        return " + ".join(terms)

    frame_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {i} AS frame_idx, {frame_fp(i)} AS frame_fp FROM g"
        for i in range(AVI_FRAMES)
    )
    # g MATERIALIZED: the 4-branch frame UNION references it four
    # times, and DuckDB would otherwise inline the 192 hex-substring
    # casts per doc into every branch (the _fp_cluster_sql rule)
    return f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, hex(encode(text)) AS hx
  FROM documents
  WHERE octet_length(encode(text)) >= {AVI_DATA_LEN}
),
g AS MATERIALIZED (
  SELECT doc_id,
         {g_cols}
  FROM d
)
SELECT doc_id, frame_idx, frame_fp FROM (
{frame_rows}
) t"""


def _video_frame_fp_oracle_core() -> str:
    """(doc_id, frame_fp) DISTINCT rows — the overlap oracle's input,
    a DISTINCT over :func:`_video_frame_rows_oracle`."""
    return f"""
SELECT DISTINCT doc_id, frame_fp FROM ({_video_frame_rows_oracle()}) r"""


def _fp_overlap_oracle(core_sql: str, fp_col: str) -> str:
    """DuckDB twin of :func:`item_fp_overlap_pairs`, generic over the
    sub-item fingerprint derivation and its column name — one
    definition for the video-frame, audio-window, and image-tile
    overlap oracles (the :func:`_fp_neardup_oracle` factoring
    pattern)."""
    return f"""
WITH dfp AS MATERIALIZED (
  SELECT doc_id, {fp_col} FROM ({core_sql}) t
),
hot AS MATERIALIZED (
  SELECT {fp_col} FROM dfp
  GROUP BY {fp_col} HAVING count(*) > {VIDEO_FRAME_FP_CAP}
),
kept AS MATERIALIZED (
  SELECT * FROM dfp
  WHERE {fp_col} NOT IN (SELECT {fp_col} FROM hot)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*) AS n_shared_fps
FROM kept a JOIN kept b
  ON a.{fp_col} = b.{fp_col} AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


MEDIA_VIDEO_FRAME_OVERLAP_ORACLE = _fp_overlap_oracle(
    _video_frame_fp_oracle_core(), "frame_fp"
)


def _sub_item_decontam_flags(
    train_rows: DataFrame,
    eval_fps: DataFrame,
    fp_col: str,
    idx_col: str,
    matched_alias: str,
) -> DataFrame:
    """(doc_id, n_eval_matches, <matched_alias>) from sub-item
    training rows and an (eval_fp) registry — the ONE exact-match
    decontamination aggregate every sub-item tier consumes (video
    frames, audio windows, image tiles; the clip tiers' banded
    :func:`_decontam_flags` counterpart), so the online and stored
    paths of all three tiers cannot drift."""
    hits = train_rows.join(
        F.broadcast(eval_fps), F.col(fp_col) == F.col("eval_fp")
    )
    return hits.groupBy("doc_id").agg(
        F.countDistinct(fp_col).alias("n_eval_matches"),
        F.countDistinct(idx_col).alias(matched_alias),
    )


def _sub_item_decontam_oracle(
    rows_sql: str, fp_col: str, idx_col: str, matched_alias: str
) -> str:
    """DuckDB twin of the sub-item (exact-signature) decontamination
    aggregate, generic over the rows derivation and its column names
    — shared by the video-frame, audio-window, and image-tile
    tiers."""
    from .winnow import EVAL_MOD, EVAL_RESIDUE

    return f"""
WITH rows_ AS MATERIALIZED (
  SELECT doc_id, {idx_col}, {fp_col}
  FROM ({rows_sql}) t
),
ev AS MATERIALIZED (
  SELECT DISTINCT {fp_col} AS eval_fp FROM rows_
  WHERE doc_id % {EVAL_MOD} = {EVAL_RESIDUE}
)
SELECT doc_id,
       count(DISTINCT {fp_col}) AS n_eval_matches,
       count(DISTINCT {idx_col}) AS {matched_alias}
FROM rows_ JOIN ev ON rows_.{fp_col} = ev.eval_fp
WHERE doc_id % {EVAL_MOD} <> {EVAL_RESIDUE}
GROUP BY doc_id
"""


MEDIA_VIDEO_FRAME_DECONTAMINATE_ORACLE = _sub_item_decontam_oracle(
    _video_frame_rows_oracle(), "frame_fp", "frame_idx", "n_frames_matched"
)


# --------------------- audio snippet windows + image tiles (r13)
#
# The sub-item granularity story, completed for the remaining two
# modalities (text has had it since the substring/winnow family;
# video got frames above):
#
# - AUDIO: a benchmark clip's SNIPPET inside a longer training clip
#   (a jingle, a sampled hook — the audio-fingerprinting literature's
#   core case, Haitsma-Kalker/Wang-style subsequence matching) moves
#   the whole-clip envelope hash arbitrarily far, but a 16-sample
#   window at a shared alignment still matches. Windows slide at
#   stride AUDIO_WIN_STRIDE over the decoded PCM; the window
#   signature is the SAME 42-bit lag-gradient kernel as video frames
#   (frame_gradient_hash), over |sample| values — gain-invariant for
#   exactly the wav_volume_hash reason.
# - IMAGE: a CROPPED copy — the classic dHash failure mode (cropping
#   changes the normalization grid, so the whole-image hash moves
#   arbitrarily) — still shares aligned 4-row TILES with its
#   original. Tiles slide at stride IMG_TILE_STRIDE_ROWS rows over
#   the decoded pixel grid; the tile signature is the same kernel
#   over r+g+b luminances.
#
# Stride-aligned exact signature equality is the match semantics
# (the frame tier's convention): perceptual tolerance lives in the
# kernel's affine invariance, alignment tolerance in the stride
# overlap (adjacent windows/tiles share half / 1-row-less of their
# content). All downstream machinery is shared and already
# cluster-checked under video: item_fp_overlap_pairs for pairs, the
# broadcast-eval aggregate for decontamination,
# _fp_overlap_oracle/_sub_item_decontam_oracle for the SQL twins.

AUDIO_WIN_SAMPLES = VIDEO_FRAME_FP_GRAYS  # 16 — the shared kernel width
AUDIO_WIN_STRIDE = 8  # 50% window overlap
IMG_TILE_ROWS = 4  # 4x4-pixel tiles on the 4-wide demo grid
IMG_TILE_STRIDE_ROWS = 3


def audio_window_fingerprints(media: DataFrame) -> DataFrame:
    """(doc_id, win_idx, win_fp) — one RIFF walk per clip through
    :func:`_fingerprint_pass`, |PCM| values, 42-bit lag-gradient
    signature per 16-sample window at stride 8. Undecodable clips
    (non-RIFF, or shorter than one window) skip per item and count
    toward ``media_skip_count("audio")``. Contract evidence (r13
    verdict #7): tests/test_properties.py::
    test_audio_window_fingerprints_total_over_arbitrary_bytes."""

    def rows_of(content: bytes) -> list[tuple]:
        av = [abs(v) for v in _wav_samples(content, AUDIO_WIN_SAMPLES)]
        starts = range(0, len(av) - AUDIO_WIN_SAMPLES + 1, AUDIO_WIN_STRIDE)
        return [
            (w, frame_gradient_hash(av[s : s + AUDIO_WIN_SAMPLES]))
            for w, s in enumerate(starts)
        ]

    return _fingerprint_pass(
        media.filter(F.col("media_type") == "audio/wav"), "audio",
        "doc_id long, win_idx int, win_fp long", rows_of,
    )


def media_audio_snippet_overlap(
    spark: SparkSession,
    sf_dir: str,
    fp_cap: int | None = VIDEO_FRAME_FP_CAP,
) -> DataFrame:
    """(doc_a, doc_b, n_shared_fps) — audio pairs sharing >= 1
    DISTINCT window signature, the snippet-level overlap the
    whole-clip envelope hash cannot see (section comment). Tier spec:
    :data:`AUDIO_WINDOW_TIER`."""
    return _overlap(AUDIO_WINDOW_TIER, spark, sf_dir, fp_cap)


def _audio_window_rows_oracle() -> str:
    """(doc_id, win_idx, win_fp) for every window of every WAV doc —
    |sample| values re-derived from hex(encode(text)) static offsets
    (the audio fp core's absv arithmetic), the 42-bit kernel per
    stride-8 window. ``a`` MATERIALIZED: the per-window UNION
    branches all reference it."""
    n_samples = WAV_DATA_LEN // 2
    n_wins = (n_samples - AUDIO_WIN_SAMPLES) // AUDIO_WIN_STRIDE + 1

    def absv(i: int) -> str:
        lo = f"CAST(concat('0x', substr(hx, {4 * i + 1}, 2)) AS BIGINT)"
        hi = f"CAST(concat('0x', substr(hx, {4 * i + 3}, 2)) AS BIGINT)"
        return (
            f"abs(CASE WHEN {lo} + 256 * {hi} >= 32768 "
            f"THEN {lo} + 256 * {hi} - 65536 ELSE {lo} + 256 * {hi} END)"
        )

    a_cols = ",\n         ".join(
        f"({absv(i)}) AS a{i}" for i in range(n_samples)
    )

    def win_fp(w: int) -> str:
        s = w * AUDIO_WIN_STRIDE
        terms = []
        pos = 0
        for lag in VIDEO_FRAME_FP_LAGS:
            for j in range(AUDIO_WIN_SAMPLES - lag):
                terms.append(
                    f"CASE WHEN a{s + j} > a{s + j + lag} "
                    f"THEN CAST({1 << pos} AS BIGINT) ELSE 0 END"
                )
                pos += 1
        return " + ".join(terms)

    win_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {w} AS win_idx, {win_fp(w)} AS win_fp FROM a"
        for w in range(n_wins)
    )
    return f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, hex(encode(text)) AS hx
  FROM documents
  WHERE octet_length(encode(text)) >= {WAV_DATA_LEN} AND doc_id % 3 = 0
),
a AS MATERIALIZED (
  SELECT doc_id,
         {a_cols}
  FROM d
)
SELECT doc_id, win_idx, win_fp FROM (
{win_rows}
) t"""


MEDIA_AUDIO_SNIPPET_OVERLAP_ORACLE = _fp_overlap_oracle(
    f"SELECT DISTINCT doc_id, win_fp FROM ({_audio_window_rows_oracle()}) r",
    "win_fp",
)
MEDIA_AUDIO_SNIPPET_DECONTAMINATE_ORACLE = _sub_item_decontam_oracle(
    _audio_window_rows_oracle(), "win_fp", "win_idx", "n_windows_matched"
)


def image_tile_fingerprints(media: DataFrame) -> DataFrame:
    """(doc_id, tile_idx, tile_fp) — real container decode once per
    image (:func:`_pixel_grid`) through :func:`_fingerprint_pass`,
    42-bit lag-gradient signature per 4-row tile at a 3-row stride
    over the file-order pixel grid. Skips count toward
    ``media_skip_count("image")``; a decodable-but-sub-tile thumbnail
    counts like any undecodable payload (a thumbnail corpus must not
    read as "clean, zero skips"). Contract evidence (r13 verdict #7):
    tests/test_properties.py::
    test_image_tile_fingerprints_total_over_arbitrary_bytes."""
    tile_px = IMG_TILE_ROWS * IMG_W  # 16 — the kernel width
    stride_px = IMG_TILE_STRIDE_ROWS * IMG_W  # 12

    def rows_of(content: bytes) -> list[tuple]:
        w, h, data = _pixel_grid(content)
        n_px = w * h
        if n_px < tile_px:
            raise UnsupportedMediaError("image smaller than one tile")
        grays = _grays(data, n_px)
        # tiles are 16-PIXEL windows at a 12-pixel stride over the
        # file-order stream (== 4-row tiles at 3-row stride on the
        # 4-wide demo geometry); bounding by PIXELS keeps the tiling
        # total on foreign widths — a row-based bound skipped valid
        # windows on an 8-wide image (r13 review)
        starts = range(0, n_px - tile_px + 1, stride_px)
        return [
            (t, frame_gradient_hash(grays[s : s + tile_px]))
            for t, s in enumerate(starts)
        ]

    return _fingerprint_pass(
        media, "image", "doc_id long, tile_idx int, tile_fp long", rows_of
    )


def media_image_tile_overlap(
    spark: SparkSession,
    sf_dir: str,
    fp_cap: int | None = VIDEO_FRAME_FP_CAP,
) -> DataFrame:
    """(doc_a, doc_b, n_shared_fps) — image pairs sharing >= 1
    DISTINCT tile signature: the CROP-surviving overlap (section
    comment; a crop moves the whole-image dHash arbitrarily because
    it changes the normalization grid, but aligned tiles still match
    exactly). Tier spec: :data:`IMAGE_TILE_TIER`."""
    return _overlap(IMAGE_TILE_TIER, spark, sf_dir, fp_cap)


def _image_tile_rows_oracle() -> str:
    """(doc_id, tile_idx, tile_fp) for every tile of every image doc
    — luminances from hex(encode(text)) static offsets (the image
    payload's data section is the leading text bytes in file order at
    the zero-padding demo geometry)."""
    tile_px = IMG_TILE_ROWS * IMG_W
    n_tiles = (IMG_H - IMG_TILE_ROWS) // IMG_TILE_STRIDE_ROWS + 1
    n_px = IMG_W * IMG_H

    def gray(p: int) -> str:
        return " + ".join(
            f"CAST(concat('0x', substr(hx, {2 * (3 * p + c) + 1}, 2)) AS BIGINT)"
            for c in range(3)
        )

    g_cols = ",\n         ".join(f"({gray(p)}) AS g{p}" for p in range(n_px))

    def tile_fp(t: int) -> str:
        s = t * IMG_TILE_STRIDE_ROWS * IMG_W
        terms = []
        pos = 0
        for lag in VIDEO_FRAME_FP_LAGS:
            for j in range(tile_px - lag):
                terms.append(
                    f"CASE WHEN g{s + j} > g{s + j + lag} "
                    f"THEN CAST({1 << pos} AS BIGINT) ELSE 0 END"
                )
                pos += 1
        return " + ".join(terms)

    tile_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {t} AS tile_idx, {tile_fp(t)} AS tile_fp FROM g"
        for t in range(n_tiles)
    )
    return f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, hex(encode(text)) AS hx
  FROM documents
  WHERE octet_length(encode(text)) >= {WAV_DATA_LEN} AND doc_id % 3 <> 0
),
g AS MATERIALIZED (
  SELECT doc_id,
         {g_cols}
  FROM d
)
SELECT doc_id, tile_idx, tile_fp FROM (
{tile_rows}
) t"""


MEDIA_IMAGE_TILE_OVERLAP_ORACLE = _fp_overlap_oracle(
    f"SELECT DISTINCT doc_id, tile_fp FROM ({_image_tile_rows_oracle()}) r",
    "tile_fp",
)
MEDIA_IMAGE_TILE_DECONTAMINATE_ORACLE = _sub_item_decontam_oracle(
    _image_tile_rows_oracle(), "tile_fp", "tile_idx", "n_tiles_matched"
)


# ------------------------------ media tier table
#
# Each media tier fingerprints its media rows one way, and every
# query of the tier is written over that: near-dup pairs and the
# dedup decision (clip tiers) or shared-signature overlap (sub-item
# tiers) over the persisted corpus fingerprints, plus four
# decontamination queries: flag the training side online, write the
# eval side's distinct fingerprints to a registry, serve the training
# side from that registry, and the stored cycle (write -> read back ->
# flag) as one query. The streaming twins (streaming/curation.py)
# drain the same tiers. What differs per tier is held once in its
# MediaTier record below, and the batch and streaming paths both read
# it from there. The eval/train split filters the RAW media rows
# before the mapInPandas fingerprint barrier (the one-decode rule).
# Clip tiers flag within ``max_hamming`` through the banded
# :func:`_decontam_flags` (lossless and broadcast, section "image eval
# decontamination"); sub-item tiers match signatures exactly through
# :func:`_sub_item_decontam_flags`.
# Integer fingerprints survive parquet losslessly, so a stored cycle is
# bit-identical to its online query and one oracle gates both.


@dataclass(frozen=True)
class MediaTier:
    """One media fingerprint tier: the spec every batch query and
    streaming twin of the tier is written over.

    ``name`` is the online decontamination query's registered name
    (the stored cycle registers as ``name + "_stored"``). ``media_fn`` synthesizes media
    rows from a (doc_id, text) frame and ``media_types`` selects the
    tier's rows from it; ``fingerprint_fn`` maps those rows to
    fingerprints in column ``fp_col``. The eval registry lives under
    ``<index_dir>/<layout>``; the stored cycle writes it to the
    per-application scratch dir ``artifact``. Sub-item tiers also name
    the item-position column ``idx_col`` and the output column
    ``matched_col`` that counts matched positions; clip tiers leave
    both ``None`` and report ``min_hamming`` instead."""

    name: str
    media_fn: Callable[[DataFrame], DataFrame]
    media_types: tuple[str, ...]
    fingerprint_fn: Callable[[DataFrame], DataFrame]
    fp_col: str
    layout: str
    artifact: str
    idx_col: str | None = None
    matched_col: str | None = None

    @property
    def out_cols(self) -> tuple[str, str, str]:
        """The flags frame's columns, which are also the drained
        streaming store's payload columns."""
        return ("doc_id", "n_eval_matches", self.matched_col or "min_hamming")

    def media(self, docs: DataFrame, where: Column | None = None) -> DataFrame:
        """The tier's media rows synthesized from (doc_id, text), with
        ``where`` (a side of the eval/train split) folded into the same
        filter."""
        pred = F.col("media_type").isin(*self.media_types)
        return self.media_fn(docs).filter(pred if where is None else pred & where)

    def corpus_fps(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """The fingerprints of every media row of the tier, one row per
        distinct (doc_id, ``fp_col``) for sub-item tiers, persisted:
        the near-dup, dedup and overlap consumers each read them more
        than once (both sides of a self-join plus the hot-set counts),
        and without it the decode pass runs per consumer."""
        docs = load_table(spark, sf_dir, "documents")
        fps = self.fingerprint_fn(self.media(docs))
        if self.idx_col is not None:
            fps = fps.select("doc_id", self.fp_col).distinct()
        return fps.persist(StorageLevel.MEMORY_AND_DISK)

    def eval_fps(self, media: DataFrame) -> DataFrame:
        """(eval_fp) — the distinct fingerprints of eval media rows."""
        return (
            self.fingerprint_fn(media)
            .select(F.col(self.fp_col).alias("eval_fp"))
            .distinct()
        )

    def flags(
        self, train_fps: DataFrame, eval_fps: DataFrame,
        max_hamming: int = DECONTAM_HAMMING_MAX,
    ) -> DataFrame:
        """Flag training fingerprints against an (eval_fp) set; the
        one consumer of the online, stored and streaming paths.
        ``max_hamming`` applies to clip tiers only."""
        if self.idx_col is None:
            return _decontam_flags(train_fps, eval_fps, max_hamming)
        return _sub_item_decontam_flags(
            train_fps, eval_fps, self.fp_col, self.idx_col, self.matched_col
        )


IMAGE_CLIP_TIER = MediaTier(
    "media_decontaminate", media_real_table_from, IMAGE_MEDIA_TYPES,
    image_fingerprints, "fingerprint", "eval_fps", "media_eval_fps",
)
AUDIO_CLIP_TIER = MediaTier(
    "media_audio_decontaminate", media_real_table_from, ("audio/wav",),
    audio_fingerprints, "fingerprint", "eval_fps", "media_audio_eval_fps",
)
VIDEO_CLIP_TIER = MediaTier(
    "media_video_decontaminate", media_avi_table_from, ("video/avi",),
    video_fingerprints, "fingerprint", "eval_fps", "media_video_eval_fps",
)
VIDEO_FRAME_TIER = MediaTier(
    "media_video_frame_decontaminate", media_avi_table_from, ("video/avi",),
    video_frame_fingerprints, "frame_fp", "frame_fps",
    "media_video_frame_fps", "frame_idx", "n_frames_matched",
)
AUDIO_WINDOW_TIER = MediaTier(
    "media_audio_snippet_decontaminate", media_real_table_from,
    ("audio/wav",), audio_window_fingerprints, "win_fp", "snippet_fps",
    "media_audio_snippet_fps", "win_idx", "n_windows_matched",
)
IMAGE_TILE_TIER = MediaTier(
    "media_image_tile_decontaminate", media_real_table_from,
    IMAGE_MEDIA_TYPES, image_tile_fingerprints, "tile_fp", "tile_fps",
    "media_image_tile_fps", "tile_idx", "n_tiles_matched",
)
DECONTAM_TIERS = (
    IMAGE_CLIP_TIER, AUDIO_CLIP_TIER, VIDEO_CLIP_TIER,
    VIDEO_FRAME_TIER, AUDIO_WINDOW_TIER, IMAGE_TILE_TIER,
)


def _is_eval() -> Column:
    """The deterministic doc_id % EVAL_MOD == EVAL_RESIDUE split shared
    with the text tiers (winnow.py)."""
    from .winnow import EVAL_MOD, EVAL_RESIDUE

    return F.col("doc_id") % EVAL_MOD == EVAL_RESIDUE


def _online(
    tier: MediaTier, spark: SparkSession, sf_dir: str,
    max_hamming: int = DECONTAM_HAMMING_MAX,
) -> DataFrame:
    media = tier.media(load_table(spark, sf_dir, "documents"))
    eval_fps = tier.eval_fps(media.filter(_is_eval()))
    train = tier.fingerprint_fn(media.filter(~_is_eval()))
    return tier.flags(train, eval_fps, max_hamming)


def _write_index(
    tier: MediaTier, spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    media = tier.media(load_table(spark, sf_dir, "documents"), _is_eval())
    tier.eval_fps(media).write.mode("overwrite").parquet(
        f"{index_dir}/{tier.layout}"
    )


def _from_index(
    tier: MediaTier, spark: SparkSession, sf_dir: str, index_dir: str,
    max_hamming: int = DECONTAM_HAMMING_MAX,
) -> DataFrame:
    media = tier.media(load_table(spark, sf_dir, "documents"), ~_is_eval())
    eval_fps = spark.read.parquet(f"{index_dir}/{tier.layout}")
    return tier.flags(tier.fingerprint_fn(media), eval_fps, max_hamming)


def _stored(
    tier: MediaTier, spark: SparkSession, sf_dir: str,
    max_hamming: int = DECONTAM_HAMMING_MAX,
) -> DataFrame:
    d = _artifact_dir(spark, sf_dir, tier.artifact)
    _write_index(tier, spark, sf_dir, d)
    return _from_index(tier, spark, sf_dir, d, max_hamming)


# The public names below each pass their tier. They are plain defs,
# not functools.partial, because ``query --describe`` prints
# ``__qualname__`` and the docstring. Every ``*_eval_write_index``
# writes ``<index_dir>/<tier.layout>`` (the benchmark registry a
# pipeline ships once and serves every ingest batch against), every
# ``*_from_index`` serves the online answer from it without decoding
# the eval side again, and every ``*_stored`` runs the write -> read
# back -> flag cycle in a per-application scratch dir
# (``sources.tables._artifact_dir``).


def media_decontaminate(
    spark: SparkSession, sf_dir: str, max_hamming: int = DECONTAM_HAMMING_MAX
) -> DataFrame:
    """(doc_id, n_eval_matches, min_hamming) — TRAINING images whose
    dHash sits within ``max_hamming`` of any EVAL-split image's, exact
    re-encodes included (hamming 0). The seeded-leak golden plants a
    retouched eval twin and pins that it flags at its true hamming.
    Tier spec: :data:`IMAGE_CLIP_TIER`."""
    return _online(IMAGE_CLIP_TIER, spark, sf_dir, max_hamming)


def media_eval_write_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    """Write :data:`IMAGE_CLIP_TIER`'s eval registry under ``index_dir``."""
    _write_index(IMAGE_CLIP_TIER, spark, sf_dir, index_dir)


def media_decontaminate_from_index(
    spark: SparkSession, sf_dir: str, index_dir: str,
    max_hamming: int = DECONTAM_HAMMING_MAX,
) -> DataFrame:
    """:func:`media_decontaminate` served from a stored registry."""
    return _from_index(IMAGE_CLIP_TIER, spark, sf_dir, index_dir, max_hamming)


def media_decontaminate_stored(
    spark: SparkSession, sf_dir: str, max_hamming: int = DECONTAM_HAMMING_MAX
) -> DataFrame:
    """:func:`media_decontaminate` as a stored cycle."""
    return _stored(IMAGE_CLIP_TIER, spark, sf_dir, max_hamming)


def media_audio_decontaminate(
    spark: SparkSession, sf_dir: str, max_hamming: int = DECONTAM_HAMMING_MAX
) -> DataFrame:
    """(doc_id, n_eval_matches, min_hamming) — TRAINING clips whose
    envelope-order fingerprint sits within ``max_hamming`` of any
    EVAL-split clip's: a benchmark's reference audio, or a
    volume-adjusted re-encode of it (the fingerprint is
    gain-invariant), in the training corpus. The sf corpora carry
    NO audio contamination (0 rows at sf0.01 and sf0.1, measured r12),
    so the oracle stamp is empty-vs-empty; the non-trivial gate is
    tests/test_multimodal.py::test_media_audio_decontaminate_seeded_leak.
    Tier spec: :data:`AUDIO_CLIP_TIER`."""
    return _online(AUDIO_CLIP_TIER, spark, sf_dir, max_hamming)


def media_audio_eval_write_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    """Write :data:`AUDIO_CLIP_TIER`'s eval registry under ``index_dir``."""
    _write_index(AUDIO_CLIP_TIER, spark, sf_dir, index_dir)


def media_audio_decontaminate_from_index(
    spark: SparkSession, sf_dir: str, index_dir: str,
    max_hamming: int = DECONTAM_HAMMING_MAX,
) -> DataFrame:
    """:func:`media_audio_decontaminate` served from a stored registry."""
    return _from_index(AUDIO_CLIP_TIER, spark, sf_dir, index_dir, max_hamming)


def media_audio_decontaminate_stored(
    spark: SparkSession, sf_dir: str, max_hamming: int = DECONTAM_HAMMING_MAX
) -> DataFrame:
    """:func:`media_audio_decontaminate` as a stored cycle."""
    return _stored(AUDIO_CLIP_TIER, spark, sf_dir, max_hamming)


def media_video_decontaminate(
    spark: SparkSession, sf_dir: str, max_hamming: int = DECONTAM_HAMMING_MAX
) -> DataFrame:
    """(doc_id, n_eval_matches, min_hamming) — TRAINING clips whose
    spatio-temporal fingerprint sits within ``max_hamming`` of any
    EVAL-split clip's: a benchmark's reference video, or a
    brightness/gain-adjusted re-encode of it (the fingerprint is
    invariant to both), in the training corpus. Tier spec:
    :data:`VIDEO_CLIP_TIER`."""
    return _online(VIDEO_CLIP_TIER, spark, sf_dir, max_hamming)


def media_video_eval_write_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    """Write :data:`VIDEO_CLIP_TIER`'s eval registry under ``index_dir``."""
    _write_index(VIDEO_CLIP_TIER, spark, sf_dir, index_dir)


def media_video_decontaminate_from_index(
    spark: SparkSession, sf_dir: str, index_dir: str,
    max_hamming: int = DECONTAM_HAMMING_MAX,
) -> DataFrame:
    """:func:`media_video_decontaminate` served from a stored registry."""
    return _from_index(VIDEO_CLIP_TIER, spark, sf_dir, index_dir, max_hamming)


def media_video_decontaminate_stored(
    spark: SparkSession, sf_dir: str, max_hamming: int = DECONTAM_HAMMING_MAX
) -> DataFrame:
    """:func:`media_video_decontaminate` as a stored cycle."""
    return _stored(VIDEO_CLIP_TIER, spark, sf_dir, max_hamming)


def media_video_frame_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, n_eval_matches, n_frames_matched) — TRAINING videos
    containing ANY frame whose 42-bit signature appears in an
    EVAL-split video: the SUB-CLIP leakage the whole-clip tier
    (:func:`media_video_decontaminate`) cannot see, since eval frames
    spliced into a longer video move the whole-clip hash arbitrarily
    far. ``n_eval_matches`` counts distinct eval signatures in the doc,
    ``n_frames_matched`` the frame positions carrying one (one eval
    frame repeated twice reads 1 / 2). Tier spec:
    :data:`VIDEO_FRAME_TIER`."""
    return _online(VIDEO_FRAME_TIER, spark, sf_dir)


def media_video_frame_eval_write_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    """Write :data:`VIDEO_FRAME_TIER`'s eval registry under ``index_dir``."""
    _write_index(VIDEO_FRAME_TIER, spark, sf_dir, index_dir)


def media_video_frame_decontaminate_from_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> DataFrame:
    """:func:`media_video_frame_decontaminate` from a stored registry."""
    return _from_index(VIDEO_FRAME_TIER, spark, sf_dir, index_dir)


def media_video_frame_decontaminate_stored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`media_video_frame_decontaminate` as a stored cycle."""
    return _stored(VIDEO_FRAME_TIER, spark, sf_dir)


def media_audio_snippet_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, n_eval_matches, n_windows_matched) — TRAINING clips
    containing ANY window whose signature appears in an EVAL-split
    clip: the sub-clip leakage the whole-clip audio tier
    (:func:`media_audio_decontaminate`) cannot see. Tier spec:
    :data:`AUDIO_WINDOW_TIER`."""
    return _online(AUDIO_WINDOW_TIER, spark, sf_dir)


def media_audio_snippet_eval_write_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    """Write :data:`AUDIO_WINDOW_TIER`'s eval registry under ``index_dir``."""
    _write_index(AUDIO_WINDOW_TIER, spark, sf_dir, index_dir)


def media_audio_snippet_decontaminate_from_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> DataFrame:
    """:func:`media_audio_snippet_decontaminate` from a stored registry."""
    return _from_index(AUDIO_WINDOW_TIER, spark, sf_dir, index_dir)


def media_audio_snippet_decontaminate_stored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`media_audio_snippet_decontaminate` as a stored cycle."""
    return _stored(AUDIO_WINDOW_TIER, spark, sf_dir)


def media_image_tile_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, n_eval_matches, n_tiles_matched) — TRAINING images
    containing ANY tile whose signature appears in an EVAL-split
    image: the CROPPED-eval-image leakage the whole-image tier
    (:func:`media_decontaminate`) cannot see. Tier spec:
    :data:`IMAGE_TILE_TIER`."""
    return _online(IMAGE_TILE_TIER, spark, sf_dir)


def media_image_tile_eval_write_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    """Write :data:`IMAGE_TILE_TIER`'s eval registry under ``index_dir``."""
    _write_index(IMAGE_TILE_TIER, spark, sf_dir, index_dir)


def media_image_tile_decontaminate_from_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> DataFrame:
    """:func:`media_image_tile_decontaminate` from a stored registry."""
    return _from_index(IMAGE_TILE_TIER, spark, sf_dir, index_dir)


def media_image_tile_decontaminate_stored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`media_image_tile_decontaminate` as a stored cycle."""
    return _stored(IMAGE_TILE_TIER, spark, sf_dir)
