"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas UDFs.

The Spark-side machinery (schema, batch iteration, partition sizing) is
real and tested. The decode is a real stdlib ``struct`` parse for the
container formats whose headers need no codec — PNG (IHDR:
width/height/bit-depth), WAV (fmt chunk: channels/sample-rate, data
chunk: duration), JPEG (SOFn marker scan: precision/height/width/
components), GIF (logical screen descriptor) — and a clearly-labeled
deterministic fake (``fake/v1``) for anything else.

SAMPLE-level access is real for all four fixture formats:
non-interlaced 8-bit PNG pixels via stdlib zlib (inflate + unfilter,
``decode_png_pixels``), GIF pixels via a pure-python LZW codec
(``decode_gif_pixels`` — encoder too, so fixtures carry genuine
compressed bitstreams), 16-bit PCM WAV samples
(``decode_wav_samples``), and baseline grayscale JPEG via the
pure-python+numpy entropy codec in ``jpegcodec`` (Huffman + dequant +
IDCT, ``decode_jpeg_pixels``) — all feeding ``media_features`` /
``extract_features`` / ``resize_media`` with actual pixel/sample
values. Only video frame decode stays a byte-level stub, labeled at
its site — swap in pyav there in production. Pattern throughout:
binary in, ``mapInPandas``/pandas UDF over Arrow batches out, so decode
cost scales per partition and never pulls bytes to the driver.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from baker_spark.datapipe.jpegcodec import decode_jpeg_pixels, encode_gray_jpeg

DECODE_SCHEMA = (
    "doc_id long, n_bytes long, head_hex string, width int, height int, "
    "bit_depth int, channels int, sample_rate int, duration_ms int, format string"
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: byte cap fed to the FULL pixel/PCM decoders (media_features /
#: resize_media). The pure-python codecs are correctness-first and
#: CPU-bound (~0.5-4 MB/s/core, PERFORMANCE.md "Media codec envelope"),
#: so one multi-hundred-MB payload would pin an executor core for
#: minutes; past the cap the row degrades to the cheap path (features:
#: skipped like any undecodable payload; resize: passed through
#: unchanged). Header sniffing (decode_media) reads a fixed prefix and
#: needs no cap.
MAX_DECODE_BYTES = 8 * 1024 * 1024

#: sample cap INSIDE the pixel decoders. The byte cap alone doesn't
#: bound work: decode time scales with DECODED samples, and a
#: compressed payload under the byte cap can claim gigapixel dims
#: (PNG zlib ~1000:1 expansion, GIF/JPEG uint16 dims to 4.3G px).
#: Dims are known from the header before any inflate loop, so an
#: over-cap image is rejected (None, the usual out-of-envelope
#: answer) before the expensive part starts. 16.7M samples = a
#: 4096x4096 gray image ~ a few seconds/core on the slowest codec.
MAX_DECODE_PIXELS = 16 * 1024 * 1024

#: metadata defaults so every format fills the full DECODE_SCHEMA row
_ZEROES = {
    "width": 0, "height": 0, "bit_depth": 0,
    "channels": 0, "sample_rate": 0, "duration_ms": 0,
}


def with_binary_payload(df: DataFrame, text_col: str = "text", out_col: str = "payload") -> DataFrame:
    """Pack a column into binary — stands in for real image/audio bytes."""
    return df.withColumn(out_col, F.encode(F.col(text_col), "UTF-8"))


def png_bytes(width: int, height: int, bit_depth: int = 8, filler: int = 0) -> bytes:
    """A minimal syntactically-valid PNG prefix: signature + IHDR chunk
    (13-byte payload, zero CRC — header-parse fixtures don't need pixel
    data), plus ``filler`` trailing bytes. 33 + filler bytes total."""
    ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\x00" * 4
        + b"\x00" * filler
    )


def wav_bytes(channels: int, sample_rate: int, n_samples: int, bits: int = 16) -> bytes:
    """A minimal valid PCM WAV: RIFF header + fmt chunk + data chunk of
    ``n_samples`` zero frames. 44 + data_size bytes total."""
    block_align = channels * bits // 8
    data_size = n_samples * block_align
    byte_rate = sample_rate * block_align
    return (
        b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, sample_rate, byte_rate, block_align, bits)
        + b"data" + struct.pack("<I", data_size) + b"\x00" * data_size
    )


def jpeg_bytes(width: int, height: int, filler: int = 0) -> bytes:
    """A minimal syntactically-valid JPEG prefix: SOI + SOF0 (baseline,
    8-bit precision, 3 components) + EOI, plus ``filler`` trailing
    bytes. 23 + filler bytes total."""
    sof = struct.pack(">BHHB", 8, height, width, 3) + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    return (
        b"\xff\xd8"
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
        + b"\xff\xd9"
        + b"\x00" * filler
    )


def gif_bytes(width: int, height: int, filler: int = 0) -> bytes:
    """A minimal valid GIF89a: header + logical screen descriptor (color
    resolution 8, no global color table) + trailer, plus ``filler``
    trailing bytes. 14 + filler bytes total."""
    return (
        b"GIF89a"
        + struct.pack("<HH", width, height)
        + bytes([0x70, 0, 0])  # packed: color resolution 8, no GCT
        + b"\x3b"
        + b"\x00" * filler
    )


def _parse_png(payload: bytes) -> dict | None:
    """PNG IHDR parse (RFC 2083 §4.1.1): the 13-byte IHDR payload starts
    at byte 16 — width, height (big-endian u32), bit depth (u8)."""
    if len(payload) < 29 or payload[:8] != _PNG_SIG or payload[12:16] != b"IHDR":
        return None
    width, height = struct.unpack(">II", payload[16:24])
    return {
        **_ZEROES,
        "width": int(width),
        "height": int(height),
        "bit_depth": int(payload[24]),
        "format": "png",
    }


def _parse_wav(payload: bytes) -> dict | None:
    """RIFF/WAVE chunk walk: find ``fmt `` (channels u16, sample rate
    u32, byte rate u32) and ``data`` (size -> duration). A chunk walk,
    not fixed offsets — real files put LIST/INFO chunks before data."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    meta, pos = None, 12
    channels = sample_rate = byte_rate = data_size = 0
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if cid == b"fmt " and pos + 24 <= len(payload):
            _fmt, channels, sample_rate, byte_rate = struct.unpack(
                "<HHII", payload[pos + 8 : pos + 20]
            )
            meta = True
        elif cid == b"data":
            data_size = size
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if not meta:
        return None
    return {
        **_ZEROES,
        "channels": int(channels),
        "sample_rate": int(sample_rate),
        "duration_ms": int(data_size * 1000 // byte_rate) if byte_rate else 0,
        "format": "wav",
    }


#: SOFn markers carrying frame dimensions — every 0xFFC0..0xFFCF except
#: DHT (C4), JPG (C8), DAC (CC), which are table/extension segments
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def _parse_jpeg(payload: bytes) -> dict | None:
    """JPEG marker walk from SOI to the first SOFn segment (ITU T.81
    §B.2.2): precision u8, height u16, width u16, component count u8.
    Skips other segments by their length field; tolerates fill bytes
    (0xFF padding) between markers."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            return None  # lost marker sync — not a parseable JPEG
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in _JPEG_SOF:
            if pos + 10 > len(payload):
                return None
            precision, height, width, ncomp = struct.unpack(
                ">BHHB", payload[pos + 4 : pos + 10]
            )
            return {
                **_ZEROES,
                "width": int(width),
                "height": int(height),
                "bit_depth": int(precision),
                "channels": int(ncomp),
                "format": "jpeg",
            }
        if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone markers carry no length
            continue
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        pos += 2 + seglen
    return None


def _parse_gif(payload: bytes) -> dict | None:
    """GIF header + logical screen descriptor (GIF89a spec §17-18):
    width/height little-endian u16 at bytes 6-10, color resolution from
    the packed byte's bits 4-6 (stored as depth-1)."""
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    width, height = struct.unpack("<HH", payload[6:10])
    return {
        **_ZEROES,
        "width": int(width),
        "height": int(height),
        "bit_depth": ((payload[10] >> 4) & 0x7) + 1,
        "format": "gif",
    }


def decode_payload(payload: bytes) -> dict:
    """Sniff-and-parse: real stdlib header decode for PNG/WAV/JPEG/GIF;
    anything unrecognized (including truncated headers) falls back to
    the labeled deterministic fake so the pipeline shape stays total."""
    if payload is None:
        return {"n_bytes": 0, "head_hex": "", **_ZEROES, "format": "none"}
    meta = (
        _parse_png(payload)
        or _parse_wav(payload)
        or _parse_jpeg(payload)
        or _parse_gif(payload)
    )
    if meta is None:
        meta = {
            **_ZEROES,
            "width": int(len(payload) % 640),
            "height": int((len(payload) * 7) % 480),
            "format": "fake/v1",
        }
    return {"n_bytes": len(payload), "head_hex": payload[:8].hex(), **meta}


def decode_media(df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id") -> DataFrame:
    """mapInPandas decode: one Arrow batch in, one metadata batch out."""

    # the output schema's id column must be NAMED id_col: PySpark 4
    # matches pandas output columns to the schema by name
    # (serializers.py df[field.name]) — a non-default id_col otherwise
    # fails every task with KeyError: 'doc_id'
    schema = DECODE_SCHEMA.replace("doc_id long", f"{id_col} long", 1)
    names = [id_col] + [c.strip().split(" ")[0] for c in DECODE_SCHEMA.split(",")][1:]

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf[payload_col].map(decode_payload)
            out = pd.DataFrame(list(meta))
            out.insert(0, id_col, pdf[id_col].values)
            yield out[names]

    from baker_spark.session import fan_out

    # decode is per-row expensive: make sure every core gets a partition
    src = fan_out(df.select(id_col, payload_col), by=id_col)
    return src.mapInPandas(decode_batches, schema)


def with_media_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", out_col: str = "payload"
) -> DataFrame:
    """Deterministic media fixture source: rows cycle PNG / WAV / JPEG /
    GIF / raw text by ``id_col % 5``, with header fields derived
    arithmetically from the id — so an oracle can compute the EXPECTED
    width/height/channels/sample-rate independently while the decoder
    genuinely parses them out of real bytes. Runs as an Arrow-batched
    UDF (this is a stand-in for reading real media files into a binary
    column)."""

    @F.pandas_udf("binary")
    def build(ids: pd.Series, texts: pd.Series) -> pd.Series:
        def one(i, t):
            i = int(i)
            m = i % 5
            if m == 0:
                return png_bytes((i % 640) + 1, (i % 480) + 1, 8, filler=i % 7)
            if m == 1:
                return wav_bytes(1 + i % 2, 8000 * (1 + i % 3), 100 + i % 50)
            if m == 2:
                return jpeg_bytes((i % 640) + 1, (i % 480) + 1, filler=i % 9)
            if m == 3:
                return gif_bytes((i % 640) + 1, (i % 480) + 1, filler=i % 6)
            return ("" if t is None else t).encode("utf-8")

        return pd.Series([one(i, t) for i, t in zip(ids, texts)])

    return df.withColumn(out_col, build(F.col(id_col), F.col(text_col)))


FRAME_SCHEMA = "doc_id long, frame_idx int, frame binary"


def frame_sample(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    frame_bytes: int = 64,
    every: int = 4,
) -> DataFrame:
    """Video frame sampling plumbing: binary payload -> every Nth
    fixed-size window as its own row. frame_idx is the ORIGINAL window
    index in the source (0, every, 2*every, ...), not the position in
    the sampled list — a consumer reconstructing the source offset as
    frame_idx*frame_bytes, or aligning against a real decoder's frame
    numbers, needs the pre-sampling index. The stub 'decoder' slices
    byte windows; a real one yields encoded frames via pyav. Row
    explosion happens JVM-side after the pandas UDF returns
    array<binary>, so batch shape stays Arrow-friendly."""

    @F.pandas_udf("array<binary>")
    def frames(s: pd.Series) -> pd.Series:
        def cut(b):
            if b is None:
                return []
            all_frames = [b[i : i + frame_bytes] for i in range(0, len(b), frame_bytes)]
            return all_frames[::every]

        return s.map(cut)

    from baker_spark.session import fan_out

    src = fan_out(df.select(id_col, payload_col), by=id_col)
    return src.select(
        F.col(id_col),
        F.posexplode(frames(F.col(payload_col))).alias("_pos", "frame"),
    ).select(
        id_col,
        (F.col("_pos") * F.lit(every)).alias("frame_idx"),
        "frame",
    )


def extract_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id", dim: int = 8
) -> DataFrame:
    """Feature extraction plumbing: binary payload -> fixed-dim
    array<float>, directly consumable by datapipe.vectors (cosine /
    LSH / IVF). REAL sample access for every fixture format: PNG/GIF/
    baseline-JPEG payloads are pixel-decoded (zlib inflate + unfilter /
    pure-python LZW / jpegcodec Huffman + IDCT) and WAV payloads
    sample-decoded, and the stripe sums run over actual pixel/sample
    values; anything else (video, raw bytes) keeps the labeled
    byte-stripe stub. A production extractor would swap the stripe
    sum for a vision/audio model per Arrow batch."""

    @F.pandas_udf("array<float>")
    def feats(s: pd.Series) -> pd.Series:
        def vec(b):
            if b is None:
                return [0.0] * dim
            b = bytes(b)
            png = decode_png_pixels(b) or decode_gif_pixels(b) or decode_jpeg_pixels(b)
            if png is not None:
                vals = png[3]  # real pixels
            else:
                wav = decode_wav_samples(b)
                # shift signed samples to non-negative so the mod-997
                # stripe sum stays in the same value family as bytes
                vals = [v + 32768 for v in wav[2]] if wav is not None else b
            if not len(vals):
                return [0.0] * dim
            return [float(sum(vals[j::dim]) % 997) for j in range(dim)]

        return s.map(vec)

    from baker_spark.session import fan_out

    src = fan_out(df.select(id_col, payload_col), by=id_col)
    return src.select(F.col(id_col), feats(F.col(payload_col)).alias("features"))


# ---------------------------------------------------------- pixel layer ----
# Real sample access for all four fixture formats: non-interlaced PNG
# via stdlib zlib (inflate IDAT + undo scanline filters per RFC 2083
# §6), WAV PCM via struct, GIF via the pure-python LZW codec below, and
# baseline grayscale JPEG via the pure-python+numpy entropy codec in
# jpegcodec.py (canonical Huffman + dequant + IDCT).


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload)) + tag + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_pixel_bytes(width: int, height: int, seed: int = 0) -> bytes:
    """A COMPLETE valid grayscale-8 PNG (real CRCs, zlib IDAT, IEND)
    whose pixel at (x, y) is ``(x + 2*y + seed) % 256`` — arithmetic an
    oracle can regenerate independently. Scanline filters cycle
    None/Sub/Up/Average/Paeth by row, so decoding is only correct if the
    unfilter path genuinely works, not just the inflate."""
    raw = bytearray()
    prev = bytes(width)
    for y in range(height):
        line = bytes((x + 2 * y + seed) % 256 for x in range(width))
        ftype = y % 5
        raw.append(ftype)
        if ftype == 0:
            raw += line
        elif ftype == 1:  # Sub: delta vs pixel to the left
            raw += bytes((line[x] - (line[x - 1] if x else 0)) & 0xFF for x in range(width))
        elif ftype == 2:  # Up: delta vs pixel above
            raw += bytes((line[x] - prev[x]) & 0xFF for x in range(width))
        elif ftype == 3:  # Average
            raw += bytes(
                (line[x] - (((line[x - 1] if x else 0) + prev[x]) >> 1)) & 0xFF
                for x in range(width)
            )
        else:  # Paeth
            raw += bytes(
                (line[x] - _paeth(line[x - 1] if x else 0, prev[x], prev[x - 1] if x else 0)) & 0xFF
                for x in range(width)
            )
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # gray, 8-bit
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def jpeg_pixel_bytes(width: int, height: int, seed: int = 0) -> bytes:
    """A COMPLETE baseline grayscale JPEG (real Huffman-coded scan via
    jpegcodec) whose pixel at (x, y) is
    ``(5 * (x // 8) + 3 * (y // 8) + seed) % 256`` — constant within
    each 8x8 DCT block. A constant block's DCT is DC-only and an
    all-ones quantization table stores the DC exactly, so the round
    trip through the REAL float FDCT/IDCT is bit-exact and a SQL
    oracle regenerates the grid arithmetically (the AC/run-length
    paths are covered by non-constant round-trip property tests).
    Edge-replication padding keeps partial edge blocks constant too,
    so non-multiple-of-8 dimensions stay exact."""
    px = bytes(
        (5 * (x // 8) + 3 * (y // 8) + seed) % 256
        for y in range(height)
        for x in range(width)
    )
    return encode_gray_jpeg(px, width, height)


def wav_pcm_bytes(sample_rate: int, n_samples: int, seed: int = 0) -> bytes:
    """A complete mono 16-bit PCM WAV whose sample j is
    ``((37*j + seed) % 2000) - 1000`` — oracle-regenerable arithmetic."""
    data = b"".join(
        struct.pack("<h", ((37 * j + seed) % 2000) - 1000) for j in range(n_samples)
    )
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (RFC 2083 §6.6): nearest of left/above/upper-left
    to the linear estimate a + b - c, ties broken left, above, corner."""
    pt = a + b - c
    pa, pb, pc = abs(pt - a), abs(pt - b), abs(pt - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png_pixels(payload: bytes, max_pixels: int = MAX_DECODE_PIXELS):
    """Full PNG pixel decode for non-interlaced 8-bit grayscale (bpp 1)
    or truecolor (bpp 3) via stdlib zlib: walk chunks, concatenate
    IDATs, inflate, undo per-scanline filters. Returns
    ``(width, height, channels, bytearray_of_samples)`` row-major, or
    ``None`` for anything not a decodable PNG (other color types,
    interlaced, truncated, corrupt zlib, or over ``max_pixels``
    samples — the zlib-bomb guard; inflation is also length-bounded so
    a stream longer than its declared dims never materializes)."""
    if len(payload) < 8 or payload[:8] != _PNG_SIG:
        return None
    pos, width, height, channels, idat = 8, None, None, None, bytearray()
    while pos + 8 <= len(payload):
        (size,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            return None  # truncated chunk
        if tag == b"IHDR":
            if size != 13:
                return None
            width, height = struct.unpack(">II", body[:8])
            bit_depth, color_type, _comp, _filt, interlace = body[8:13]
            if bit_depth != 8 or interlace != 0 or color_type not in (0, 2):
                return None  # outside the stdlib-decodable envelope
            channels = 1 if color_type == 0 else 3
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + size  # len + tag + body + crc
    if not width or not height or channels is None or not idat:
        return None
    if width * height * channels > max_pixels:
        return None  # header claims more samples than the decode budget
    stride = width * channels
    expected = height * (1 + stride)
    try:
        # bounded inflate: never materialize more than the header's
        # declared size + 1 probe byte, whatever the stream contains
        dec = zlib.decompressobj()
        raw = dec.decompress(bytes(idat), expected)
        if len(raw) != expected:
            return None  # shorter than declared dims
        # drain to the trailer: a VALID stream ends exactly at expected.
        # An empty-input probe is NOT enough — stored (level-0) deflate
        # blocks need input to resume, so the drain feeds unconsumed_tail
        # 1 output byte at a time until the stream ends or overflows
        data = dec.unconsumed_tail
        while not dec.eof:
            out = dec.decompress(data, 1)
            data = dec.unconsumed_tail
            if out:
                return None  # longer than declared dims
            if not data:
                break  # input exhausted mid-stream: truncated
        if not dec.eof or dec.unused_data:
            return None  # truncated stream / trailing garbage
    except zlib.error:
        return None
    # unfilter, numpy-vectorized where the recurrence allows (VERDICT r9
    # #6): None is a copy, Up is one wrapping uint8 add against the
    # previous row, and Sub is a per-channel wrapping prefix sum
    # (np.add.accumulate on uint8 wraps mod 256 — exactly the & 0xFF).
    # Average and Paeth carry a serial dependency on the just-computed
    # LEFT pixel, so they stay scalar loops — but with the predictor
    # inlined (a per-pixel Python function call was half their cost).
    bpp = channels
    arr = np.frombuffer(bytes(raw), dtype=np.uint8).reshape(height, 1 + stride)
    ftypes = arr[:, 0]
    if (ftypes > 4).any():
        return None  # invalid filter type
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = ftypes[y]
        line = arr[y, 1:]
        if ftype == 0:
            row = line.copy()
        elif ftype == 1:
            # recon[x] = raw[x] + recon[x-bpp]: a wrapping prefix sum
            # down each channel column
            row = np.add.accumulate(
                line.reshape(-1, bpp), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif ftype == 2:
            row = line + prev  # uint8 add wraps mod 256
        else:
            lb = line.tolist()
            pb = prev.tolist()
            if ftype == 3:
                for x in range(stride):
                    left = lb[x - bpp] if x >= bpp else 0
                    lb[x] = (lb[x] + ((left + pb[x]) >> 1)) & 0xFF
            else:  # Paeth, predictor inlined
                for x in range(stride):
                    a = lb[x - bpp] if x >= bpp else 0
                    b = pb[x]
                    c = pb[x - bpp] if x >= bpp else 0
                    pa = b - c if b >= c else c - b
                    pb_ = a - c if a >= c else c - a
                    s = a + b - 2 * c
                    pc = s if s >= 0 else -s
                    if pa <= pb_ and pa <= pc:
                        pred = a
                    elif pb_ <= pc:
                        pred = b
                    else:
                        pred = c
                    lb[x] = (lb[x] + pred) & 0xFF
            row = np.array(lb, dtype=np.uint8)
        out[y] = row
        prev = row
    return int(width), int(height), int(bpp), bytearray(out.tobytes())


def _lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW (GIF89a spec appendix F): variable-width codes
    LSB-first, clear code emitted up front, dictionary reset at 4096.
    Pure stdlib — enough to write REAL compressed image data into the
    gif_pixel_bytes fixture so the decoder is tested against a genuine
    bitstream, not a stub."""
    clear = 1 << min_code_size
    end = clear + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    buf = b""
    for byte in data:
        nxt = buf + bytes([byte])
        if nxt in table:
            buf = nxt
            continue
        emit(table[buf])
        table[nxt] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        buf = bytes([byte])
    if buf:
        emit(table[buf])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int):
    """GIF LZW decode; returns a bytearray of pixel indices or None on
    a corrupt stream. Tolerates truncation mid-stream (GIF renderers
    do) but never emits more than ``max_pixels``."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    acc = nbits = pos = 0
    prev: bytes | None = None
    while len(out) < max_pixels:
        while nbits < width:
            if pos >= len(data):
                return out  # truncated stream: keep what decoded
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table) and code not in (clear, end):
            entry = table[code]
            if not entry:
                return None
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            return None  # code gap — corrupt
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out[:max_pixels]


def encode_gray_gif(pixels: bytes, width: int, height: int) -> bytes:
    """Assemble a COMPLETE valid grayscale GIF89a: real LZW-compressed
    image data behind a 256-entry identity palette (r=g=b=index), so a
    decoded index IS the gray value. Non-interlaced, no local color
    table. The single container-assembly site — the fixture generator
    and resize_media's GIF re-encode both call it, so a layout fix can
    never diverge between them."""
    gct = bytes(v for i in range(256) for v in (i, i, i))
    lzw = _lzw_encode(pixels, 8)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)  # block terminator
    return (
        b"GIF89a"
        + struct.pack("<HH", width, height)
        + bytes([0xF7, 0, 0])  # GCT present, 8-bit, 256 entries
        + gct
        + b","  # image descriptor
        + struct.pack("<HHHH", 0, 0, width, height)
        + b"\x00"  # no local color table, not interlaced
        + bytes([8])  # LZW min code size
        + bytes(blocks)
        + b"\x3b"
    )


def gif_pixel_bytes(width: int, height: int, seed: int = 0) -> bytes:
    """A COMPLETE valid GIF89a whose pixel at (x, y) is
    ``(3 * x + y + seed) % 256`` so an oracle regenerates the grid
    arithmetically; container assembled by :func:`encode_gray_gif`."""
    pixels = bytes((3 * x + y + seed) % 256 for y in range(height) for x in range(width))
    return encode_gray_gif(pixels, width, height)


def decode_gif_pixels(payload: bytes, max_pixels: int = MAX_DECODE_PIXELS):
    """Full GIF pixel decode via pure-python LZW for the first image of
    a non-interlaced GIF with a global color table: walks the header,
    skips extensions, inflates the LZW stream, maps indices through the
    palette's red channel (for the fixture's grayscale identity palette
    that IS the gray value). Returns ``(width, height, 1,
    bytearray_of_gray)`` or None (interlaced, local-palette, corrupt,
    or descriptor dims over ``max_pixels`` — the decode-bomb guard;
    checked before the LZW loop starts)."""
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    packed = payload[10]
    pos = 13
    palette = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        palette = payload[pos : pos + 3 * n]
        if len(palette) < 3 * n:
            return None
        pos += 3 * n
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b0 == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                return None
            _l, _t, w, h = struct.unpack("<HHHH", payload[pos + 1 : pos + 9])
            ipacked = payload[pos + 9]
            pos += 10
            if w * h > max_pixels:
                return None  # uint16 dims reach 4.3G px: budget guard
            if ipacked & 0x40:
                return None  # interlaced: out of envelope
            if ipacked & 0x80:  # local color table overrides
                n = 2 << (ipacked & 0x07)
                palette = payload[pos : pos + 3 * n]
                if len(palette) < 3 * n:
                    return None
                pos += 3 * n
            if palette is None or pos >= len(payload):
                return None
            min_code = payload[pos]
            pos += 1
            if not 2 <= min_code <= 8:
                return None
            lzw = bytearray()
            while pos < len(payload) and payload[pos] != 0:
                size = payload[pos]
                lzw += payload[pos + 1 : pos + 1 + size]
                pos += 1 + size
            idx = _lzw_decode(bytes(lzw), min_code, w * h)
            if idx is None or len(idx) < w * h:
                return None
            npal = len(palette) // 3
            # numpy LUT instead of two per-pixel python passes (round
            # 14, guide §4 batch-not-row): the range check and the
            # palette red-channel gather were ~40% of GIF decode time;
            # identical bytes out (uint8 fancy-index == palette[3*i])
            arr = np.frombuffer(bytes(idx), dtype=np.uint8)
            if arr.size and int(arr.max()) >= npal:
                return None  # (size-0: w*h == 0 keeps the old empty result)
            red = np.frombuffer(bytes(palette), dtype=np.uint8)[::3]
            gray = bytearray(red[arr].tobytes())  # red channel
            return int(w), int(h), 1, gray
        if b0 == 0x3B:
            return None  # trailer before any image
        return None  # unknown block
    return None


def decode_wav_samples(payload: bytes):
    """16-bit PCM sample read via the same RIFF chunk walk as
    ``_parse_wav``: returns ``(channels, sample_rate, list_of_ints)``
    or ``None`` if not a 16-bit PCM WAV."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, channels, rate, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            fmt_tag, channels, rate = struct.unpack("<HHI", body[:8])
            (bits,) = struct.unpack("<H", body[14:16])
            if fmt_tag != 1:  # not integer PCM
                return None
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if channels is None or data is None or bits != 16:
        return None
    n = len(data) // 2
    return int(channels), int(rate), list(struct.unpack(f"<{n}h", data[: 2 * n]))


def _pure_pixel_decode(payload: bytes):
    """bytes -> (fmt, width, height, channels, px) | None: the
    pure-python PNG (zlib) / GIF (LZW) / baseline-JPEG (jpegcodec)
    decoders, in sniff order; px is per-channel integer samples,
    row-major."""
    for fmt, dec in (
        ("png", decode_png_pixels),
        ("gif", decode_gif_pixels),
        ("jpeg", decode_jpeg_pixels),
    ):
        out = dec(payload)
        if out is not None:
            w, h, ch, px = out
            return fmt, w, h, ch, px
    return None


FEATURES_SCHEMA = (
    "doc_id long, format string, width int, height int, channels int, "
    "units long, val_sum long, val_mean_c6 long"
)


def media_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    max_decode_bytes: int | None = MAX_DECODE_BYTES,
) -> DataFrame:
    """REAL sample-level features for the decodable formats: per-payload
    unit count (pixels x channels for images, samples for WAV), exact
    sum of sample values, and the mean in micro-units
    (floor(sum*1e6/units), exact integer arithmetic — the repo's c6
    convention). Rows come out only for payloads that fully
    pixel-decode (PNG via zlib, GIF via the pure-python LZW, baseline
    grayscale JPEG via the jpegcodec entropy decoder, WAV PCM);
    anything else — including payloads over ``max_decode_bytes``, the
    CPU-bomb guard on the pure-python codecs — is skipped, keeping the
    output contract honest rather than silently fake."""

    def feat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                # pd.isna(i): a NULL id arrives as NaN after the Arrow
                # long -> float64 conversion and int(i) would raise,
                # killing the whole job for one bad row — an id-less
                # payload is skipped-and-uncounted like a null payload
                if b is None or pd.isna(i):
                    continue
                if max_decode_bytes is not None and len(b) > max_decode_bytes:
                    continue  # same honest skip as an undecodable format
                b = bytes(b)
                img = _pure_pixel_decode(b)
                if img is not None:
                    fmt, w, h, ch, px = img
                    units = len(px)
                    total = sum(px)
                    rows.append((int(i), fmt, w, h, ch, units, total,
                                 total * 1_000_000 // units if units else 0))
                    continue
                wav = decode_wav_samples(b)
                if wav is not None:
                    ch, rate, samples = wav
                    units = len(samples)
                    total = sum(samples)
                    # floor division matches the oracle's floor() on
                    # negative sums too (Python // floors toward -inf)
                    rows.append((int(i), "wav", 0, 0, ch, units, total,
                                 total * 1_000_000 // units if units else 0))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "format", "width", "height", "channels",
                         "units", "val_sum", "val_mean_c6"],
            )

    from baker_spark.session import fan_out

    src = fan_out(df.select(id_col, payload_col), by=id_col)
    # schema id column named id_col — see decode_media
    return src.mapInPandas(
        feat_batches, FEATURES_SCHEMA.replace("doc_id long", f"{id_col} long", 1)
    )


#: perceptual-hash grid: 10 columns x 6 rows = 60 bits, deliberately the
#: same width as the text simhash so dedup.banded_hamming_pairs (4 x
#: 15-bit bands, exact recall at hamming <= 3) serves both signals.
PHASH_GRID_W = 10
PHASH_GRID_H = 6


def phash60(width: int, height: int, channels: int, px) -> int | None:
    """60-bit average perceptual hash over a PHASH_GRID_W x PHASH_GRID_H
    cell grid: pixel (x, y) lands in cell (x*10//w, y*6//h); a cell's
    bit is 1 iff its mean exceeds the image mean. All comparisons are
    cross-multiplied integers (cell_sum * n_pixels > image_sum *
    cell_count), so the hash is bit-reproducible in ANSI SQL — the
    DuckDB oracle regenerates it from the arithmetic pixel grids.
    Cells left empty by images narrower/shorter than the grid hash to 0
    (deterministic, and hamming between two same-size images is
    unaffected since both have the same empty set). Multi-channel
    pixels use the per-pixel channel SUM as luminance (exact, and
    channel-weight-free so the oracle needs no float matrix).

    This is the classic aHash (average hash) construction — near-dup
    images (re-encodes, brightness-preserving crops of the fixture
    grids) collide within a few bits, unrelated images differ in ~30."""
    if width <= 0 or height <= 0 or not px:
        return None
    a = np.asarray(px, dtype=np.int64)
    if a.size != width * height * max(channels, 1):
        return None  # torn decode — refuse rather than hash garbage
    if channels > 1:
        a = a.reshape(height, width, channels).sum(axis=2, dtype=np.int64)
    else:
        a = a.reshape(height, width)
    cx = (np.arange(width, dtype=np.int64) * PHASH_GRID_W) // width
    cy = (np.arange(height, dtype=np.int64) * PHASH_GRID_H) // height
    cell = (cy[:, None] * PHASH_GRID_W + cx[None, :]).ravel()
    n_cells = PHASH_GRID_W * PHASH_GRID_H
    sums = np.zeros(n_cells, dtype=np.int64)
    np.add.at(sums, cell, a.ravel())
    counts = np.bincount(cell, minlength=n_cells).astype(np.int64)
    total = int(a.sum())
    n_px = int(a.size)
    # strict >: a uniform image hashes to 0 in both engines
    bits = (sums * n_px) > (total * counts)
    h = 0
    for idx in np.nonzero(bits & (counts > 0))[0]:
        h |= 1 << int(idx)
    return h


def media_phash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    max_decode_bytes: int | None = MAX_DECODE_BYTES,
) -> DataFrame:
    """(id, format, width, height, phash) for every payload that
    pixel-decodes as PNG/GIF/JPEG — the image half of near-dup dedup:
    feed ``phash`` to dedup.banded_hamming_pairs for hamming-banded
    image pairs exactly like text simhash. Same honest-skip contract as
    media_features (undecodable or over-budget payloads emit nothing).
    Scale shape: one mapInPandas over (id, payload) — embarrassingly
    parallel, no shuffle."""

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                # pd.isna(i): a NULL id arrives as NaN after the Arrow
                # long -> float64 conversion and int(i) would raise,
                # killing the whole job for one bad row — an id-less
                # payload is skipped-and-uncounted like a null payload
                if b is None or pd.isna(i):
                    continue
                if max_decode_bytes is not None and len(b) > max_decode_bytes:
                    continue
                b = bytes(b)
                out = _pure_pixel_decode(b)
                if out is not None:
                    fmt, w, h, ch, px = out
                    ph = phash60(w, h, ch, px)
                    if ph is not None:
                        rows.append((int(i), fmt, w, h, ph))
            yield pd.DataFrame(
                rows, columns=[id_col, "format", "width", "height", "phash"]
            )

    from baker_spark.session import fan_out

    src = fan_out(df.select(id_col, payload_col), by=id_col)
    return src.mapInPandas(
        hash_batches,
        f"{id_col} long, format string, width int, height int, phash long",
    )


def audio_fp60(samples) -> int | None:
    """60-bit delta-sign acoustic fingerprint: bit j is 1 iff sample
    j+1 > sample j, over the first 60 deltas (shorter recordings leave
    the tail bits 0 — deterministic, and hamming between equal-length
    recordings is unaffected). This is the sign-of-energy-delta
    primitive of Haitsma-Kalker-style audio fingerprinting reduced to
    its integer-exact core: re-encodes and resamplings that preserve
    the waveform's local slopes collide, unrelated audio differs in
    ~30 bits. 60 bits wide on purpose — dedup.banded_hamming_pairs
    serves audio exactly as it serves text simhash and image phash."""
    if not samples:
        return None
    h = 0
    # j ranges over deltas 0..59 — exactly 60 bits, so band 3 of the
    # 4 x 15-bit split carries full selectivity (a 59-bit fill would
    # halve its accidental-collision resistance)
    for j in range(min(60, len(samples) - 1)):
        if samples[j + 1] > samples[j]:
            h |= 1 << j
    return h


def media_audio_fp(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    max_decode_bytes: int | None = MAX_DECODE_BYTES,
) -> DataFrame:
    """(id, sample_rate, n_samples, afp) for every payload that decodes
    as 16-bit PCM WAV — the audio leg of near-dup dedup, same
    honest-skip contract and shuffle-free mapInPandas shape as
    media_phash."""

    def fp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                # pd.isna(i): a NULL id arrives as NaN after the Arrow
                # long -> float64 conversion and int(i) would raise,
                # killing the whole job for one bad row — an id-less
                # payload is skipped-and-uncounted like a null payload
                if b is None or pd.isna(i):
                    continue
                if max_decode_bytes is not None and len(b) > max_decode_bytes:
                    continue
                wav = decode_wav_samples(bytes(b))
                if wav is None:
                    continue
                ch, rate, samples = wav
                fp = audio_fp60(samples)
                if fp is not None:
                    rows.append((int(i), int(rate), len(samples), fp))
            yield pd.DataFrame(
                rows, columns=[id_col, "sample_rate", "n_samples", "afp"]
            )

    from baker_spark.session import fan_out

    src = fan_out(df.select(id_col, payload_col), by=id_col)
    return src.mapInPandas(
        fp_batches,
        f"{id_col} long, sample_rate int, n_samples int, afp long",
    )


def with_pixel_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", out_col: str = "payload"
) -> DataFrame:
    """Pixel-level media fixture: rows cycle full-pixel PNG / PCM WAV /
    LZW GIF / baseline JPEG / raw text by ``id_col % 5``, every sample
    value derived arithmetically from the id so an oracle regenerates
    the exact pixel/sample grids with generate_series. Dimensions stay
    small (<= 31x23 px, <= 79 samples) — the point is sample-exactness,
    not volume; with_media_payload remains the header-scale fixture."""

    @F.pandas_udf("binary")
    def build(ids: pd.Series, texts: pd.Series) -> pd.Series:
        def one(i, t):
            i = int(i)
            m = i % 5
            if m == 0:
                return png_pixel_bytes((i % 16) + 1, (i % 12) + 1, seed=i)
            if m == 1:
                return wav_pcm_bytes(8000 * (1 + i % 3), (i % 64) + 16, seed=i)
            if m == 2:
                return gif_pixel_bytes((i % 16) + 1, (i % 12) + 1, seed=i)
            if m == 3:
                # multi-block on purpose (up to 4x3 MCUs, non-multiple-
                # of-8 edges) so DC prediction + padding are exercised
                return jpeg_pixel_bytes((i % 24) + 8, (i % 16) + 8, seed=i)
            return ("" if t is None else t).encode("utf-8")

        return pd.Series([one(i, t) for i, t in zip(ids, texts)])

    return df.withColumn(out_col, build(F.col(id_col), F.col(text_col)))


def resize_media(
    df: DataFrame, payload_col: str = "payload", max_side: int = 8,
    audio_decimate: int = 2, max_bytes: int = 1024,
    max_decode_bytes: int | None = MAX_DECODE_BYTES,
) -> DataFrame:
    """Binary -> binary resize over Arrow batches, REAL where the
    format pixel-decodes: PNG is nearest-neighbor downscaled to fit
    ``max_side`` and re-encoded (filter 0 + zlib, a valid PNG out);
    GIF likewise through the pure-python LZW round-trip (a valid
    GIF89a out); baseline grayscale JPEG through the jpegcodec
    entropy round-trip (a valid baseline JPEG out, all-ones quant);
    WAV is decimated to every ``audio_decimate``-th sample with the
    header rewritten; anything else falls back to byte truncation at
    ``max_bytes`` (the labeled stub path — video frame re-encode
    needs codecs absent here). Payloads over ``max_decode_bytes`` pass
    through UNCHANGED (never corrupted): the cap guards executor CPU
    against decode bombs, not output size."""

    @F.pandas_udf("binary")
    def resize_one(s: pd.Series) -> pd.Series:
        def go(b):
            if b is None:
                return None
            b = bytes(b)
            if max_decode_bytes is not None and len(b) > max_decode_bytes:
                return b  # too big for the pure-python codecs: pass
                # through unchanged rather than corrupt (the guard is
                # about CPU, not output size — see MAX_DECODE_BYTES)
            png = decode_png_pixels(b)
            if png is not None:
                w, h, ch, px = png
                sw = max(1, (w + max_side - 1) // max_side)
                sh = max(1, (h + max_side - 1) // max_side)
                nw, nh = (w + sw - 1) // sw, (h + sh - 1) // sh
                stride = w * ch
                raw = bytearray()
                for y in range(nh):
                    raw.append(0)  # filter None
                    row = y * sh * stride
                    for x in range(nw):
                        o = row + x * sw * ch
                        raw += px[o : o + ch]
                ihdr = struct.pack(">IIBBBBB", nw, nh, 8, 0 if ch == 1 else 2, 0, 0, 0)
                return (
                    _PNG_SIG + _png_chunk(b"IHDR", ihdr)
                    + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
                    + _png_chunk(b"IEND", b"")
                )
            gif = decode_gif_pixels(b)
            if gif is not None:
                w, h, ch, px = gif
                sw = max(1, (w + max_side - 1) // max_side)
                sh = max(1, (h + max_side - 1) // max_side)
                nw, nh = (w + sw - 1) // sw, (h + sh - 1) // sh
                small = bytes(px[y * sh * w + x * sw] for y in range(nh) for x in range(nw))
                return encode_gray_gif(small, nw, nh)
            jpg = decode_jpeg_pixels(b)
            if jpg is not None:
                w, h, _ch, px = jpg
                sw = max(1, (w + max_side - 1) // max_side)
                sh = max(1, (h + max_side - 1) // max_side)
                nw, nh = (w + sw - 1) // sw, (h + sh - 1) // sh
                small = bytes(px[y * sh * w + x * sw] for y in range(nh) for x in range(nw))
                return encode_gray_jpeg(small, nw, nh)
            wav = decode_wav_samples(b)
            if wav is not None:
                ch, rate, samples = wav
                kept = samples[:: audio_decimate * ch] if ch == 1 else samples
                new_rate = max(1, rate // audio_decimate) if ch == 1 else rate
                data = b"".join(struct.pack("<h", v) for v in kept)
                return (
                    b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                    + b"fmt " + struct.pack(
                        "<IHHIIHH", 16, 1, ch, new_rate, new_rate * 2 * ch, 2 * ch, 16
                    )
                    + b"data" + struct.pack("<I", len(data)) + data
                )
            return b[:max_bytes]

        return s.map(go)

    return df.withColumn(payload_col, resize_one(F.col(payload_col)))
