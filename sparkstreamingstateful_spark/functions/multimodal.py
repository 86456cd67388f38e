"""Multimodal (image/audio/video) column support (SURVEY.md §2.11 L8).

Design: media travels as an opaque ``binary`` column plus typed metadata
(modality, byte size, magic-prefix format sniff) — the lakehouse-standard
layout for multimodal training data. Decode / feature-extraction runs as
Arrow-batched ``mapInPandas`` so each partition streams through Python in
constant memory; at 100 TB the only knobs are partition sizing
(``maxPartitionBytes`` vs media row size) and keeping metadata filters
(modality, size, format) *ahead* of the decode stage so pruning happens on
the cheap columns.

The actual codec calls (PIL/librosa/ffmpeg) are NOT available in this
container, so ``decode_media`` raises ``NotImplementedError`` unless the
deterministic fake decoder is requested — the Spark-side plumbing (schema,
UDF signature, Arrow batch shape, partitioning) is real and tested either
way.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# magic-byte prefixes for format sniffing (public file-format signatures)
MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"RIFF": "wav-or-avi",
    b"ID3": "mp3",
    b"\x00\x00\x00\x18": "mp4",
}

FEATURE_DIM = 8

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def sniff_format(data: bytes) -> str:
    for magic, fmt in MAGIC.items():
        if data[: len(magic)] == magic:
            return fmt
    return "unknown"


def decode_media(data: bytes, modality: str, *, fake: bool = False) -> list[float]:
    """Decode one media blob to a FEATURE_DIM feature vector.

    Real decoding needs codec libraries absent from this container —
    ``fake=True`` selects the deterministic stand-in (sha256-seeded), which
    keeps every downstream shape (schema, batch layout, partitioning)
    identical to production.
    """
    if not fake:
        raise NotImplementedError(
            "media codecs (PIL/librosa/ffmpeg) are not installed; "
            "pass fake=True for the deterministic stand-in decoder"
        )
    h = hashlib.sha256(data).digest()
    return [b / 255.0 for b in h[:FEATURE_DIM]]


def resize_media(data: bytes, width: int, height: int, *, fake: bool = False) -> bytes:
    """Resize one image/video-frame blob to (width, height).

    Real resizing needs PIL/ffmpeg (absent here) — ``fake=True`` selects a
    deterministic stand-in (content+dims-seeded bytes of plausible size)
    that keeps downstream schema/batch shapes production-identical."""
    if not fake:
        raise NotImplementedError(
            "image codecs (PIL/ffmpeg) are not installed; "
            "pass fake=True for the deterministic stand-in resizer"
        )
    seed = hashlib.sha256(data + f"{width}x{height}".encode()).digest()
    # deterministic pseudo-pixels, 1 byte per pixel (grayscale stand-in)
    out = (seed * (width * height // len(seed) + 1))[: width * height]
    return bytes(out)


FRAME_BYTES = 256  # fake-codec frame size (fixed-size chunks of the blob)

FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_sampled", T.LongType()),
        T.StructField("sampled_hashes", T.StringType()),
    ]
)


def sample_frames(df: DataFrame, *, every_n: int = 3) -> DataFrame:
    """Video frame sampling via Arrow-batched ``mapInPandas``: treat each
    blob as fixed-size frames, keep every ``every_n``-th, emit per-doc
    frame counts + the sampled frames' sha256 fingerprints (a string, so
    the output is driver-canonicalizer-safe). The deterministic chunking
    stands in for a real ffmpeg keyframe decode; the Spark-side plumbing
    (schema, batch iteration, constant per-partition memory) is the
    production shape. Input needs columns (doc_id, media: binary)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_frames, n_sampled, hashes = [], [], []
            for blob in (bytes(b) for b in pdf["media"]):
                frames = [
                    blob[i : i + FRAME_BYTES]
                    for i in range(0, len(blob), FRAME_BYTES)
                ]
                sampled = frames[::every_n]
                n_frames.append(len(frames))
                n_sampled.append(len(sampled))
                hashes.append(
                    ",".join(hashlib.sha256(f).hexdigest() for f in sampled)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_frames": n_frames,
                    "n_sampled": n_sampled,
                    "sampled_hashes": hashes,
                }
            )

    return df.mapInPandas(run, FRAME_SAMPLE_SCHEMA)


def extract_features(df: DataFrame, *, fake_decode: bool = True) -> DataFrame:
    """binary column → typed metadata + feature vector via mapInPandas.

    Input needs columns (doc_id, modality, media: binary). Output
    FEATURE_SCHEMA. One Arrow batch in, one out — constant memory per
    partition regardless of row count.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [bytes(b) for b in pdf["media"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [len(b) for b in blobs],
                    "format": [sniff_format(b) for b in blobs],
                    "feature": [decode_media(b, m, fake=fake_decode)
                                for b, m in zip(blobs, pdf["modality"])],
                }
            )

    return df.mapInPandas(run, FEATURE_SCHEMA)


def synthesize_stage(docs: DataFrame, synthesize) -> DataFrame:
    """(doc_id) → (doc_id, media: binary), one ``synthesize(doc_id)``
    file per row via Arrow-batched mapInPandas: the first stage of the
    decode keys, which build genuine media files from closed-form
    content."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": [synthesize(int(i)) for i in pdf["doc_id"]],
                }
            )

    return docs.mapInPandas(run, "doc_id long, media binary")


def decode_stage(media: DataFrame, decode, schema: T.StructType) -> DataFrame:
    """(doc_id, media: binary) → doc_id plus ``decode(bytes)``'s tuple
    spread over ``schema``'s fields, via Arrow-batched mapInPandas. The
    stage consumes ONLY the bytes: it never sees the generation
    arithmetic, which is what makes an oracle replay of the expected
    stats an independent check of the parser."""
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [decode(bytes(b)) for b in pdf["media"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    **{n: [o[i] for o in out] for i, n in enumerate(names)},
                }
            )

    doc_id = T.StructField("doc_id", T.LongType())
    return media.mapInPandas(run, T.StructType([doc_id, *schema.fields]))


# ----------------------------------------------------------------- BMP
# A REAL decode path (with PNG below): uncompressed 24-bit BMP is
# a pure-struct public format (Windows BITMAPINFOHEADER layout), so it
# needs no codec library. synthesize_bmp builds genuine BMP files from a
# closed-form pixel function (so a SQL oracle can replay the expected
# stats without parsing bytes); decode_bmp parses ONLY the bytes —
# header fields, row padding, bottom-up row order, BGR channel order —
# exactly what any conformant reader must do. The NotImplementedError
# gates above still cover video + lossy audio; BMP/PNG/JPEG/WAV are
# decoded for real below
# (zlib is stdlib).

BMP_HEADER_BYTES = 54  # 14-byte file header + 40-byte BITMAPINFOHEADER


def bmp_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic per-doc dimensions: widths 2..6 (3*w % 4 covers every
    pad width 0..3, so stride handling is genuinely exercised), heights
    2..4 (h >= 2 so bottom-up order is observable)."""
    return 2 + doc_id % 5, 2 + doc_id % 3


def bmp_pixel(doc_id: int, x: int, y: int) -> tuple[int, int, int]:
    """Closed-form (B, G, R) for pixel (x, y) — integer arithmetic only,
    replayed verbatim by the oracle SQL."""
    return (
        (doc_id + 2 * x + 5 * y) % 256,
        (2 * doc_id + 3 * x + y) % 256,
        (3 * doc_id + x + 4 * y) % 256,
    )


def synthesize_bmp(doc_id: int) -> bytes:
    """One valid uncompressed 24-bit BMP: positive height => rows stored
    BOTTOM-UP, each row padded to a 4-byte boundary, channels BGR."""
    import struct

    w, h = bmp_dims(doc_id)
    stride = (3 * w + 3) // 4 * 4
    rows = []
    for y in range(h - 1, -1, -1):
        row = bytearray()
        for x in range(w):
            row += bytes(bmp_pixel(doc_id, x, y))
        row += b"\x00" * (stride - 3 * w)
        rows.append(bytes(row))
    pixels = b"".join(rows)
    header = struct.pack(
        "<2sIHHI", b"BM", BMP_HEADER_BYTES + len(pixels), 0, 0, BMP_HEADER_BYTES
    )
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + dib + pixels


def decode_bmp(data: bytes):
    """Parse one BMP from bytes alone: returns (width, height, mean_b,
    mean_g, mean_r, tl_b, tl_g, tl_r) where tl_* is the TOP-LEFT visual
    pixel — in a bottom-up file that's the LAST stored row, so a decoder
    that ignores row order returns the wrong corner (means alone are
    order-blind). Handles both height signs; rejects non-24bpp and
    compressed variants loudly."""
    import struct

    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP: bad magic")
    pix_off = struct.unpack_from("<I", data, 10)[0]
    w, h_raw = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP is supported")
    h = abs(h_raw)
    stride = (3 * w + 3) // 4 * 4
    px = (
        np.frombuffer(data, np.uint8, count=stride * h, offset=pix_off)
        .reshape(h, stride)[:, : 3 * w]
        .reshape(h, w, 3)
    )
    if h_raw > 0:  # bottom-up storage: flip so px[0] is the top row
        px = px[::-1]
    means = px.reshape(-1, 3).astype(np.float64).mean(axis=0)
    tl = px[0, 0]
    return w, h, float(means[0]), float(means[1]), float(means[2]), int(tl[0]), int(tl[1]), int(tl[2])


BMP_STATS_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("tl_b", T.LongType()),
        T.StructField("tl_g", T.LongType()),
        T.StructField("tl_r", T.LongType()),
    ]
)


# ----------------------------------------------------------------- PNG
# The second REAL decode path: PNG's container is public struct + CRC32
# and its compression is zlib/DEFLATE — which the Python stdlib ships —
# so a conformant truecolor-PNG reader needs no external codec library.
# synthesize_png builds genuine PNGs from the same closed-form-pixel
# discipline as BMP (so a SQL oracle replays expected stats without
# parsing bytes), deliberately cycling ALL FIVE scanline filter types
# (None/Sub/Up/Average/Paeth, one per row) so the decoder's unfiltering
# is genuinely exercised; decode_png parses bytes alone — signature,
# chunk framing with CRC validation, IDAT concatenation, inflate, and
# per-row unfiltering. Baseline JPEG is decoded for real further below;
# video codecs stay behind the honest NotImplementedError gates above.

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def png_dims(doc_id: int) -> tuple[int, int]:
    """widths 2..6; heights 5..7 (h >= 5 so every filter type 0..4
    appears in every image — filter type = row index mod 5)."""
    return 2 + doc_id % 5, 5 + doc_id % 3


def png_pixel(doc_id: int, x: int, y: int) -> tuple[int, int, int]:
    """Closed-form (R, G, B) — integer arithmetic only, replayed
    verbatim by the oracle SQL. (PNG is RGB top-down; BMP's twin is BGR
    bottom-up — the two keys pin opposite channel/row conventions.)"""
    return (
        (doc_id + 7 * x + 3 * y) % 256,
        (2 * doc_id + x + 5 * y) % 256,
        (5 * doc_id + 2 * x + y) % 256,
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(typ: bytes, payload: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(payload))
        + typ
        + payload
        + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
    )


def synthesize_png(doc_id: int) -> bytes:
    """One valid 8-bit truecolor (color type 2) PNG; scanline filter
    type cycles y % 5 so all five filters are present."""
    import struct
    import zlib

    w, h = png_dims(doc_id)
    bpp = 3
    prev = bytes(w * bpp)
    scan = bytearray()
    for y in range(h):
        row = bytearray()
        for x in range(w):
            row += bytes(png_pixel(doc_id, x, y))
        ft = y % 5
        filt = bytearray()
        for i in range(len(row)):
            left = row[i - bpp] if i >= bpp else 0
            up = prev[i]
            upleft = prev[i - bpp] if i >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) // 2
            else:
                pred = _paeth(left, up, upleft)
            filt.append((row[i] - pred) & 0xFF)
        scan += bytes([ft]) + bytes(filt)
        prev = bytes(row)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(scan)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes):
    """Parse one truecolor PNG from bytes alone: signature, chunk
    framing (every CRC validated), IDAT concatenation, zlib inflate,
    per-row unfiltering for all five filter types. Returns (width,
    height, mean_r, mean_g, mean_b, tl_r, tl_g, tl_b). Interlaced,
    paletted, alpha, and non-8-bit variants are rejected loudly."""
    import struct
    import zlib

    import numpy as np

    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    w = h = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        typ = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(typ + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {typ!r}: CRC mismatch")
        if typ == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise NotImplementedError(
                    "only 8-bit truecolor non-interlaced PNG is supported"
                )
        elif typ == b"IDAT":
            idat += payload
        elif typ == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(bytes(idat))
    bpp = 3
    stride = w * bpp
    px = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        recon = np.zeros(stride, dtype=np.int32)
        for i in range(stride):
            left = recon[i - bpp] if i >= bpp else 0
            up = prev[i]
            upleft = prev[i - bpp] if i >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) // 2
            elif ft == 4:
                pred = _paeth(int(left), int(up), int(upleft))
            else:
                raise ValueError(f"bad filter type {ft}")
            recon[i] = (line[i] + pred) & 0xFF
        px[y] = recon.astype(np.uint8)
        prev = recon
    img = px.reshape(h, w, 3)
    means = img.reshape(-1, 3).astype(np.float64).mean(axis=0)
    tl = img[0, 0]
    return (
        w, h,
        float(means[0]), float(means[1]), float(means[2]),
        int(tl[0]), int(tl[1]), int(tl[2]),
    )


PNG_STATS_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("tl_r", T.LongType()),
        T.StructField("tl_g", T.LongType()),
        T.StructField("tl_b", T.LongType()),
    ]
)


# ----------------------------------------------------------------- WAV
# The AUDIO leg of the real-decode family: RIFF/WAVE PCM is the raw
# audio container (public struct layout, no compression), so a
# conformant reader needs nothing beyond stdlib struct + numpy. The
# synthesizer emits genuine WAV files from closed-form integer samples
# (so the SQL oracle replays expected stats without parsing bytes),
# alternating mono/stereo to pin channel de-interleaving, and inserts a
# junk LIST chunk in every third file so the decoder must genuinely
# WALK the chunk list rather than assume the canonical 44-byte layout.


def wav_params(doc_id: int) -> tuple[int, int, int]:
    """Deterministic (n_frames, n_channels, sample_rate): frames 40..52,
    channels alternate 1/2 (stereo pins de-interleaving), four distinct
    sample rates (pins fmt-chunk parsing)."""
    return 40 + doc_id % 13, 1 + doc_id % 2, 8000 + (doc_id % 4) * 4000


def wav_sample(doc_id: int, ch: int, i: int) -> int:
    """Closed-form signed PCM16 sample for channel ``ch``, frame ``i`` —
    integer arithmetic only, replayed verbatim by the oracle SQL."""
    return (doc_id * 31 + ch * 7 + i * 17) % 2048 - 1024


def synthesize_wav(doc_id: int) -> bytes:
    """One valid RIFF/WAVE file: canonical fmt chunk (PCM, 16-bit LE),
    interleaved frames, and — for doc_id % 3 == 0 — a junk LIST chunk
    between fmt and data that a layout-assuming reader trips over."""
    import struct

    n, ch, rate = wav_params(doc_id)
    frames = b"".join(
        struct.pack("<h", wav_sample(doc_id, c, i))
        for i in range(n)
        for c in range(ch)
    )
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if doc_id % 3 == 0:
        junk = b"INFOjunk"  # even-sized payload: no pad byte needed
        chunks += b"LIST" + struct.pack("<I", len(junk)) + junk
    chunks += b"data" + struct.pack("<I", len(frames)) + frames
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(data: bytes):
    """Parse one WAV from bytes alone by WALKING the chunk list (fmt may
    be followed by arbitrary chunks before data): returns (n_channels,
    sample_rate, n_frames, first_ch0, mean_ch0, peak, rms_ch0). Stats
    are exact cross-engine: channel-0 sums are integer-exact in float64
    at these sizes, the division is a single IEEE op, and sqrt is
    correctly rounded — no rounding hop needed. Rejects non-PCM and
    non-16-bit variants loudly."""
    import struct

    import numpy as np

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE magic")
    pos, end = 12, 8 + struct.unpack_from("<I", data, 4)[0]
    ch = rate = None
    frames = None
    while pos + 8 <= end:
        typ = data[pos : pos + 4]
        size = struct.unpack_from("<I", data, pos + 4)[0]
        body = data[pos + 8 : pos + 8 + size]
        if typ == b"fmt ":
            fmt_tag, ch, rate, _, _, bits = struct.unpack_from("<HHIIHH", body)
            if fmt_tag != 1 or bits != 16:
                raise NotImplementedError("only 16-bit PCM WAV is supported")
        elif typ == b"data":
            frames = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # odd chunks carry a pad byte
    if ch is None or frames is None:
        raise ValueError("WAV missing fmt or data chunk")
    sig = frames.reshape(-1, ch)
    ch0 = sig[:, 0].astype(np.int64)
    n = len(sig)
    return (
        int(ch),
        int(rate),
        n,
        int(ch0[0]),
        float(int(ch0.sum()) / n),
        int(np.abs(sig.astype(np.int64)).max()),
        float(np.sqrt(float(int((ch0 * ch0).sum())) / n)),
    )


WAV_STATS_SCHEMA = T.StructType(
    [
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("first_ch0", T.LongType()),
        T.StructField("mean_ch0", T.DoubleType()),
        T.StructField("peak", T.LongType()),
        T.StructField("rms_ch0", T.DoubleType()),
    ]
)


# ----------------------------------------------------------------- JPEG
# The ENTROPY-CODED image decode path: baseline JFIF is public spec
# (ITU T.81) — markers, Annex-K Huffman tables, byte-stuffed bitstream,
# zigzag, dequantization, IDCT — and needs no codec library, only
# struct + numpy. decode_jpeg is a COMPLETE baseline grayscale decoder
# (general DC-diff + AC run-length decoding, any quant/Huffman tables
# in the file, full 2D IDCT). The SYNTHESIZER, to keep a relational
# oracle possible for a lossy codec, emits images whose 8x8 blocks are
# each constant: a flat block's FDCT has a single DC coefficient
# 8*(v-128) that quantizes EXACTLY under Q[0]=8, so reconstruction is
# bit-predictable (IDCT float error ~1e-13 << the 0.5 rounding margin)
# while the decoder still runs the entire marker/Huffman/bitstream/
# dequant/IDCT pipeline — including the differential-DC predictor
# chain across blocks. Lossy AC content stays outside the oracle's
# reach by construction, not because the decoder skips it.

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
# ITU T.81 Annex K "typical" Huffman tables (public spec constants)
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value → (code, length) per T.81 C.2 canonical code assignment."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def jpeg_dims(doc_id: int) -> tuple[int, int]:
    """Block-grid dims: 1-2 blocks wide, 1-3 tall (8x8 blocks)."""
    return 8 * (1 + doc_id % 2), 8 * (1 + doc_id % 3)


def jpeg_block_value(doc_id: int, bx: int, by: int) -> int:
    """Closed-form gray level of block (bx, by) — replayed by the
    oracle SQL."""
    return (doc_id * 7 + bx * 13 + by * 29) % 256


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.buf.append(0x00)
                self.acc = self.n = 0

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.acc = (self.acc << pad) | ((1 << pad) - 1)
            self.buf.append(self.acc)
            if self.acc == 0xFF:
                self.buf.append(0x00)
            self.acc = self.n = 0
        return bytes(self.buf)


def synthesize_jpeg(doc_id: int) -> bytes:
    """One conformant baseline grayscale JFIF: Annex-K tables, flat
    Q=8 luminance quant table, per-block constant pixels (see module
    comment), differential-DC Huffman entropy coding, EOB per block."""
    import struct

    w, h = jpeg_dims(doc_id)
    dc_codes = _huff_codes(_DC_BITS, _DC_VALS)
    ac_codes = _huff_codes(_AC_BITS, _AC_VALS)
    bw = _BitWriter()
    pred = 0
    for by in range(h // 8):
        for bx in range(w // 8):
            dc = jpeg_block_value(doc_id, bx, by) - 128  # Q00=8 ⇒ exact
            diff = dc - pred
            pred = dc
            t = diff.bit_length() if diff != 0 else 0
            bw.put(*dc_codes[t])
            if t:
                bw.put(diff if diff > 0 else diff + (1 << t) - 1, t)
            bw.put(*ac_codes[0x00])  # EOB: all AC zero
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    dqt = seg(0xFFDB, bytes([0x00]) + bytes([8] * 64))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    dht = seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)) + seg(
        0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    )
    sos = seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof + dht + sos + scan + b"\xff\xd9"


class _BitReader:
    """MSB-first reader over an entropy-coded segment with 0xFF00
    byte-unstuffing."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos]
                if nxt != 0x00:
                    raise ValueError("unexpected marker inside scan")
                self.pos += 1
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _huff_decoder(bits: list[int], vals: list[int]):
    """(code, length) → value lookup table for sequential bit decode."""
    table = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _read_huff(r: "_BitReader", table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.bit()
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(data: bytes):
    """COMPLETE baseline grayscale JPEG decoder from bytes alone:
    marker walk, DQT/DHT/SOF0/SOS parsing, byte-unstuffed Huffman
    decode of DC diffs AND general AC run-lengths, dequantization,
    zigzag de-ordering, full 2D IDCT (orthonormal cosine matrix),
    level shift + clamp. Returns (width, height, mean_gray, tl_gray,
    min_gray, max_gray). Rejects progressive/multi-component files
    loudly."""
    import struct

    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: bad SOI")
    qt, hufftabs = {}, {}
    w = h = None
    pos = 2
    scan_off = None
    dc_id = ac_id = None
    while pos < len(data):
        marker, ln = struct.unpack_from(">HH", data, pos)
        body = data[pos + 4 : pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xFFDB:
            while body:
                pq_tq, body = body[0], body[1:]
                if pq_tq >> 4 != 0:
                    raise NotImplementedError("16-bit quant tables")
                qt[pq_tq & 15] = list(body[:64])
                body = body[64:]
        elif marker == 0xFFC4:
            while body:
                tc_th = body[0]
                bits = list(body[1:17])
                n = sum(bits)
                hufftabs[(tc_th >> 4, tc_th & 15)] = _huff_decoder(
                    bits, list(body[17 : 17 + n])
                )
                body = body[17 + n :]
        elif marker == 0xFFC0:
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body)
            if prec != 8 or ncomp != 1:
                raise NotImplementedError("only 8-bit grayscale baseline")
            if body[7] != 0x11:
                raise NotImplementedError("subsampled grayscale?")
            tq = body[8]
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3):
            raise NotImplementedError("only baseline (SOF0) is supported")
        elif marker == 0xFFDA:
            dc_id, ac_id = body[2] >> 4, body[2] & 15
            scan_off = pos
            break
    if scan_off is None or w is None:
        raise ValueError("JPEG missing SOF/SOS")
    r = _BitReader(data[scan_off:])
    q = np.array(qt[tq], dtype=np.float64)
    dc_tab, ac_tab = hufftabs[(0, dc_id)], hufftabs[(1, ac_id)]
    # orthonormal 8-point DCT-II basis
    xs = np.arange(8)
    A = np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16) / 2.0
    A[0, :] /= np.sqrt(2.0)
    img = np.zeros((h, w), dtype=np.int64)
    pred = 0
    for by in range(h // 8):
        for bx in range(w // 8):
            zz = np.zeros(64, dtype=np.float64)
            t = _read_huff(r, dc_tab)
            diff = _extend(r.bits(t), t) if t else 0
            pred += diff
            zz[0] = pred
            k = 1
            while k < 64:
                rs = _read_huff(r, ac_tab)
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL: 16 zeros
                    k += 16
                    continue
                k += rs >> 4
                size = rs & 15
                zz[k] = _extend(r.bits(size), size)
                k += 1
            coef = np.zeros(64, dtype=np.float64)
            coef[_ZIGZAG] = zz * q
            block = A.T @ coef.reshape(8, 8) @ A
            pix = np.clip(np.rint(block + 128), 0, 255).astype(np.int64)
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = pix
    return (
        int(w),
        int(h),
        float(int(img.sum()) / img.size),
        int(img[0, 0]),
        int(img.min()),
        int(img.max()),
    )


JPEG_STATS_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_gray", T.DoubleType()),
        T.StructField("tl_gray", T.LongType()),
        T.StructField("min_gray", T.LongType()),
        T.StructField("max_gray", T.LongType()),
    ]
)
