"""Multimodal (binary) column plumbing (north-star extension).

Treats image/audio/video payloads as opaque ``binary`` columns with a
typed metadata struct, and implements the processing stages a training
-data pipeline needs — feature extraction, batch-shaped decode hooks —
as Arrow-batched ``mapInPandas`` kernels.

Every modality has a REAL decode path for its uncompressed container —
no codec library involved, each oracle-checked end-to-end through a
deterministic synthesize->decode roundtrip with closed-form expected
features:

- audio: PCM WAV via stdlib ``wave`` (`decode_wav_features`)
- image: 24-bit BMP via struct/numpy, stride- and orientation-aware
  (`decode_bmp_features`)
- video: YUV4MPEG2 (y4m) header/FRAME/raw-4:2:0 parse
  (`decode_y4m_features`)
- compressed image: PNG — chunk walk + zlib INFLATE + all-five-filter
  defiltering (`decode_png_features`); DEFLATE is in the stdlib, so
  even this compressed codec decodes for real
- compressed image: GIF — from-scratch variable-width LZW (the
  dictionary coder itself is hand-rolled, both directions)
  (`decode_gif_features`)
- compressed image: baseline JPEG, grayscale and YCbCr 4:4:4 color
  (`decode_jpeg_features`, `decode_jpeg444_features`), and
  progressive spectral-selection JPEG
  (`decode_jpeg_progressive_features`) — one header walker for all
  three, the Huffman ENTROPY CODER hand-rolled both directions, plus
  zigzag/dequantize/IDCT

Only stream codecs (H.264/Opus-class) and progressive JPEG's
successive-approximation refinement remain a clearly-marked stub
(`decode_media` raises NotImplementedError) — those need PIL / ffmpeg,
which this container does not ship. The codec-free feature
kernel (`binary_features`: exact byte length + md5 over raw bytes,
portable to DuckDB's md5(blob)) covers the payload-agnostic plumbing.

Every decoder is one plain ``_<codec>_features(buf)`` function run by
`_decode_kernel`, and every synth twin one ``_<codec>_payload(doc_id)``
function run by `_synth_kernel`; the two wrappers own the schemas, the
batch loops and the dead-letter contract.

Scale notes: kernels are column-in/column-out over Arrow batches — no
shuffle, no driver I/O; binary payloads never pass through the Python
driver. At 100 TB you partition upstream by content-size buckets so
Arrow batches stay within executor memory
(spark.sql.execution.arrow.maxRecordsPerBatch).
"""

from __future__ import annotations

import hashlib
import io
import math
import struct
import wave
import zlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.partitioning import fan_out
from pyspark.sql.types import (
    BinaryType,
    DataType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_FIELDS = [
    StructField("media_type", StringType(), True),   # image/audio/video
    StructField("codec", StringType(), True),
    StructField("width", LongType(), True),
    StructField("height", LongType(), True),
    StructField("duration_ms", LongType(), True),
]


def attach_payload(df: DataFrame, text_col: str, media_type: str = "text") -> DataFrame:
    """Synthesize an opaque binary payload column + typed metadata from a
    text column (stand-in for real image/audio bytes; utf-8 encode is
    deterministic and shared with the DuckDB oracle's encode())."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8")).withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit("utf-8").alias("codec"),
            F.lit(None).cast("long").alias("width"),
            F.lit(None).cast("long").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ),
    )


def binary_features(df: DataFrame, id_col: str, payload_col: str = "payload") -> DataFrame:
    """Codec-free per-payload features over the raw bytes, computed in an
    Arrow-batched mapInPandas kernel: byte length, md5 hex digest, and
    the first byte value (magic-number sniffing primitive)."""
    out_schema = StructType(
        [
            df.schema[id_col],
            StructField("n_bytes", LongType(), True),
            StructField("payload_md5", StringType(), True),
            StructField("first_byte", LongType(), True),
        ]
    )
    id_name = id_col

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            yield pd.DataFrame(
                {
                    id_name: pdf[id_name],
                    "n_bytes": payloads.map(lambda b: len(b) if b is not None else None),
                    "payload_md5": payloads.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest() if b is not None else None
                    ),
                    "first_byte": payloads.map(
                        lambda b: int(bytes(b)[0]) if b else None
                    ),
                }
            )

    return fan_out(df.select(id_name, payload_col)).mapInPandas(kernel, schema=out_schema)


def decode_media(df: DataFrame, payload_col: str = "payload"):
    """STUB for the remaining codec classes (H.264/Opus-class stream
    codecs, and progressive JPEG's successive-approximation refinement
    scans), which require codec libraries (PIL/ffmpeg) not installed
    in this container. On a real deployment this becomes a mapInPandas
    kernel decoding each Arrow batch to pixel/sample arrays; the batch
    shape and schema contract are exactly those of `binary_features`.
    Everything else decodes FOR REAL here: PCM WAV audio
    (`decode_wav_features`), 24-bit BMP (`decode_bmp_features`),
    YUV4MPEG2 video (`decode_y4m_features`), DEFLATE-compressed PNG
    (`decode_png_features`), LZW-compressed GIF with a hand-rolled
    dictionary coder (`decode_gif_features`), baseline JPEG in
    grayscale (`decode_jpeg_features`) and full-color YCbCr 4:4:4
    (`decode_jpeg444_features`), and progressive spectral-selection
    JPEG (`decode_jpeg_progressive_features`) — all with hand-rolled
    entropy coders."""
    raise NotImplementedError(
        "H.264/Opus-class stream decode (and progressive-JPEG "
        "successive-approximation refinement) need codec libraries "
        "(PIL/ffmpeg); WAV/BMP/y4m/PNG/GIF/baseline-JPEG/color-JPEG/"
        "progressive-JPEG decode for real here — same mapInPandas "
        "batch contract"
    )


# --- the two kernel wrappers ----------------------------------------------

_LONG, _DOUBLE, _STRING = LongType(), DoubleType(), StringType()
# pandas dtype per Spark field type: nullable ints, NaN-as-null doubles
_PANDAS_DTYPE = {"long": "Int64", "double": "float64", "string": "string"}
_IMAGE_DIMS = [("width", _LONG), ("height", _LONG), ("n_pixels", _LONG)]
_RGB_MEANS = _IMAGE_DIMS + [
    ("mean_r", _DOUBLE), ("mean_g", _DOUBLE), ("mean_b", _DOUBLE),
]


def _decode_kernel(
    df: DataFrame, id_col: str, payload_col: str,
    fields: list[tuple[str, DataType]],
    decode: Callable[[bytes], tuple], on_error: str,
) -> DataFrame:
    """Run ``decode(payload_bytes) -> tuple`` (one value per ``fields``
    entry) over ``payload_col`` in an Arrow-batched mapInPandas kernel;
    the output is ``id_col`` plus ``fields``. Column-in/column-out: no
    shuffle, payloads never touch the driver.

    The dead-letter contract of every decoder: a NULL payload is an
    all-null row. Under ``on_error='raise'`` (the default) a malformed
    payload fails the task; under ``on_error='null'`` any exception
    ``decode`` raises (a failed guard, or the ``IndexError`` /
    ``struct.error`` of a truncated payload) routes that row to an
    all-null feature row instead, mirroring the JSONL corrupt-record
    channel — filter on a NULL feature downstream to quarantine. Any
    other ``on_error`` value raises ``ValueError`` here, on the
    driver."""
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    out_schema = StructType(
        [df.schema[id_col]] + [StructField(n, t, True) for n, t in fields]
    )
    dtypes = [_PANDAS_DTYPE[t.typeName()] for _, t in fields]
    null_row = (None,) * len(fields)

    def decode_row(b) -> tuple:
        if b is None:
            return null_row
        try:
            return decode(bytes(b))
        except Exception:
            if on_error == "raise":
                raise
            return null_row

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [decode_row(b) for b in pdf[payload_col]]
            cols = list(zip(*rows)) if rows else [()] * len(fields)
            frame = {id_col: pdf[id_col]}
            for (name, _), col, dtype in zip(fields, cols, dtypes):
                frame[name] = pd.array(col, dtype=dtype)
            yield pd.DataFrame(frame)

    return df.select(id_col, payload_col).mapInPandas(kernel, schema=out_schema)


def _synth_kernel(df: DataFrame, id_col: str, build: Callable[[int], bytes]) -> DataFrame:
    """One synthesized ``payload`` per id, ``build(doc_id) -> bytes``,
    in an Arrow-batched kernel; the ids fan out first so the synthesis
    runs on every core."""
    out_schema = StructType(
        [df.schema[id_col], StructField("payload", BinaryType(), True)]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": [build(int(d)) for d in pdf[id_col]],
                }
            )

    return fan_out(df.select(id_col)).mapInPandas(kernel, schema=out_schema)


# --- WAV ------------------------------------------------------------------

def _wav_payload(doc_id: int, sample_rate: int) -> bytes:
    n_frames = 160 + (doc_id % 41) * 40
    amp = 1000 + (doc_id % 100) * 100
    i = np.arange(n_frames)
    samples = np.where(i % 8 < 4, amp, -amp).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def synth_wav_payload(df: DataFrame, id_col: str, sample_rate: int = 8000) -> DataFrame:
    """Deterministic PCM WAV synthesis (16-bit mono square wave) as an
    Arrow-batched kernel — the test-data generator for the REAL audio
    decode below. Frame count and amplitude derive from the id
    (n_frames = 160 + (id % 41)*40, amp = 1000 + (id % 100)*100), both
    multiples that keep every sample at exactly +/-amp, so downstream
    features have closed forms an SQL oracle can state without parsing
    bytes. Container-WAV via stdlib ``wave`` — no external codec."""
    return _synth_kernel(df, id_col, lambda d: _wav_payload(d, sample_rate))


def _wav_features(buf: bytes) -> tuple:
    with wave.open(io.BytesIO(buf), "rb") as w:
        ch, width, rate, nf = (
            w.getnchannels(), w.getsampwidth(), w.getframerate(), w.getnframes(),
        )
        raw = w.readframes(nf)
    # stdlib wave trusts the header frame count and returns
    # whatever bytes exist: a TRUNCATED payload would otherwise
    # produce a self-inconsistent row (n_frames from the header,
    # rms/peak over fewer actual samples). Treat short data as
    # malformed -> quarantined under on_error='null'.
    if len(raw) != nf * width * ch:
        raise ValueError("truncated PCM data")
    if width == 2:
        a = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    elif width == 1:  # 8-bit PCM is unsigned, centred on 128
        a = np.frombuffer(raw, dtype="u1").astype(np.float64) - 128.0
    else:
        raise ValueError(f"unsupported PCM sample width {width}")
    rms = math.sqrt(float(np.mean(a * a))) if a.size else 0.0
    peak = int(np.max(np.abs(a))) if a.size else 0
    return ch, rate, nf, nf * 1000 // rate, rms, peak


def decode_wav_features(
    df: DataFrame, id_col: str, payload_col: str = "payload",
    on_error: str = "raise",
) -> DataFrame:
    """REAL media decode — PCM WAV audio parsed with the stdlib ``wave``
    module inside an Arrow-batched mapInPandas kernel (no external
    codec): container header -> (channels, rate, frames), PCM frames ->
    int16 sample array -> RMS amplitude and peak. This is the actual
    decode stage of the audio pipeline, not plumbing. Same scale shape
    as `binary_features`: column-in/column-out, no shuffle, payloads
    never touch the driver. ``on_error='null'`` routes malformed
    payloads to all-null feature rows, like every decoder here
    (`_decode_kernel`); filter ``n_frames IS NULL`` downstream to
    quarantine."""
    fields = [
        ("n_channels", _LONG), ("sample_rate", _LONG), ("n_frames", _LONG),
        ("duration_ms", _LONG), ("rms", _DOUBLE), ("peak", _LONG),
    ]
    return _decode_kernel(df, id_col, payload_col, fields, _wav_features, on_error)


# --- BMP ------------------------------------------------------------------

def _synth_gradient(doc_id: int) -> np.ndarray:
    """The BMP/PNG twins' (h, w, 3) RGB image: w = 8 + id%8,
    h = 4 + id%4; R = id%100 + row, G = id%50 + col, B = id%200."""
    w, h = 8 + doc_id % 8, 4 + doc_id % 4
    rows = np.arange(h).reshape(h, 1)
    cols = np.arange(w).reshape(1, w)
    r = (doc_id % 100 + rows + np.zeros_like(cols)).astype(np.uint8)
    g = (doc_id % 50 + cols + np.zeros_like(rows)).astype(np.uint8)
    b = np.full((h, w), doc_id % 200, dtype=np.uint8)
    return np.stack([r, g, b], axis=-1)


def _bmp_payload(doc_id: int) -> bytes:
    bgr = _synth_gradient(doc_id)[..., ::-1]  # BMP stores BGR
    h, w = bgr.shape[:2]
    stride = (w * 3 + 3) // 4 * 4
    body = bytearray()
    for row in range(h - 1, -1, -1):  # bottom-up
        line = bgr[row].tobytes()
        body += line + b"\x00" * (stride - len(line))
    pix_off = 14 + 40
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    head = struct.pack("<2sIHHI", b"BM", pix_off + len(body), 0, 0, pix_off)
    return bytes(head + info + body)


def synth_bmp_payload(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic 24-bit BMP synthesis (Arrow-batched kernel) — the
    test-data generator for the REAL image decode below. Dimensions and
    channel values derive from the id (w = 8 + id%8, h = 4 + id%4;
    R = id%100 + row, G = id%50 + col, B = id%200), all < 256 so no
    modulo wrap, which gives every decoded channel mean a closed form an
    SQL oracle can state without parsing bytes. Real BMP container:
    14-byte file header + BITMAPINFOHEADER, bottom-up BGR rows padded
    to 4-byte stride — written with struct/numpy, no codec library."""
    return _synth_kernel(df, id_col, _bmp_payload)


def _bmp_features(buf: bytes) -> tuple:
    magic, _size, _r1, _r2, pix_off = struct.unpack_from("<2sIHHI", buf, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    _hs, w, h, _planes, bpp = struct.unpack_from("<IiiHH", buf, 14)
    if bpp != 24:
        raise ValueError(f"unsupported bpp {bpp}")
    # corrupt-header quarantine: zero/negative width would mean
    # empty pixel rows downstream (NaN means — a garbage row,
    # not an error), and a SHRUNK width/height still "decodes"
    # over a subset of the real pixels — plausible-looking but
    # wrong. Dims must be positive and exactly fill the file.
    if not (w > 0 and h != 0):
        raise ValueError(f"bad BMP dims {w}x{h}")
    flipped = h > 0  # positive height = bottom-up rows
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    if pix_off + stride * h != len(buf):
        raise ValueError("pixel data size mismatch")
    rows = np.frombuffer(
        buf, dtype=np.uint8, count=stride * h, offset=pix_off
    ).reshape(h, stride)[:, : w * 3]
    img = rows.reshape(h, w, 3)
    if flipped:
        img = img[::-1]
    means = img.reshape(-1, 3).mean(axis=0)  # B, G, R
    return w, h, w * h, float(means[2]), float(means[1]), float(means[0])


def decode_bmp_features(
    df: DataFrame, id_col: str, payload_col: str = "payload",
    on_error: str = "raise",
) -> DataFrame:
    """REAL image decode — uncompressed 24-bit BMP parsed with
    struct/numpy inside an Arrow-batched kernel (no codec library):
    file + info header fields, then the padded bottom-up BGR pixel rows
    to a (h, w, 3) array, reporting dimensions and exact per-channel
    means. Same scale shape and dead-letter option as every decoder
    here (`_decode_kernel`): column-in/column-out, no shuffle, no
    driver I/O."""
    return _decode_kernel(df, id_col, payload_col, _RGB_MEANS, _bmp_features, on_error)


# --- y4m ------------------------------------------------------------------

def _y4m_payload(doc_id: int) -> bytes:
    w, h = 8 + (doc_id % 4) * 2, 4 + (doc_id % 2) * 2
    nf = 2 + doc_id % 5
    out = bytearray(f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420jpeg\n".encode())
    chroma = bytes([128]) * ((w // 2) * (h // 2))
    for f in range(nf):
        out += b"FRAME\n"
        out += bytes([doc_id % 200 + f]) * (w * h)  # Y plane
        out += chroma + chroma  # U, V planes
    return bytes(out)


def synth_y4m_payload(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic YUV4MPEG2 (y4m) synthesis — the test-data generator
    for the REAL video decode below. Real container: `YUV4MPEG2 W.. H..
    F25:1 .. C420jpeg` header line, then per frame a `FRAME` line + raw
    planar 4:2:0 YUV bytes. Even dims w = 8 + (id%4)*2, h = 4 + (id%2)*2,
    n_frames = 2 + id%5; frame f's luma is uniformly id%200 + f (< 256,
    no wrap) and chroma is constant 128, so the decoded global luma mean
    has the closed form id%200 + (n_frames-1)/2 — a dyadic rational the
    SQL oracle states exactly. No codec library involved."""
    return _synth_kernel(df, id_col, _y4m_payload)


def _y4m_features(buf: bytes) -> tuple:
    nl = buf.index(b"\n")
    header = buf[:nl].decode("ascii").split(" ")
    if header[0] != "YUV4MPEG2":
        raise ValueError("not a y4m payload")
    w = h = None
    fps = None
    cs = "420"
    for tok in header[1:]:
        if tok.startswith("W"):
            w = int(tok[1:])
        elif tok.startswith("H"):
            h = int(tok[1:])
        elif tok.startswith("F"):
            num, den = tok[1:].split(":")
            fps = int(num) / int(den)
        elif tok.startswith("C"):
            cs = tok[1:]
    # w/h must be POSITIVE ints: "W-4" parses to a truthy -4 and
    # frombuffer(count=w*h) would happily read 16 garbage bytes
    if not (
        w is not None and h is not None and w > 0 and h > 0
        and cs.startswith("420")
    ):
        raise ValueError(f"unsupported y4m {header}")
    frame_bytes = w * h + 2 * ((w // 2) * (h // 2))
    pos, nf, y_sum = nl + 1, 0, 0
    while pos < len(buf):
        fnl = buf.index(b"\n", pos)
        if buf[pos:fnl].split(b" ")[0] != b"FRAME":
            raise ValueError("FRAME marker expected")
        y = np.frombuffer(buf, dtype=np.uint8, count=w * h, offset=fnl + 1)
        y_sum += int(y.sum(dtype=np.int64))
        nf += 1
        pos = fnl + 1 + frame_bytes
    if nf == 0:
        # a header cut off before its first frame: no luma to report
        raise ValueError("y4m payload has no frames")
    return w, h, nf, fps, y_sum / (w * h * nf)


def decode_y4m_features(
    df: DataFrame, id_col: str, payload_col: str = "payload",
    on_error: str = "raise",
) -> DataFrame:
    """REAL video decode — YUV4MPEG2 parsed inside an Arrow-batched
    kernel (no codec library): stream header tokens (W/H/F/C), then a
    frame loop reading each FRAME marker + raw 4:2:0 planes, reporting
    frame count, dimensions, frame rate and the global luma mean over
    all frames. Completes the modality set with the WAV audio and BMP
    image decoders."""
    fields = [
        ("width", _LONG), ("height", _LONG), ("n_frames", _LONG),
        ("fps", _DOUBLE), ("mean_y", _DOUBLE),
    ]
    return _decode_kernel(df, id_col, payload_col, fields, _y4m_features, on_error)


# --- PNG (the one COMPRESSED codec the stdlib can handle: DEFLATE via
# zlib). Shared filter math for the encoder/decoder pair below; the
# filter formulas follow the PNG spec (RFC 2083 §6) and are verified
# against hand-computed filtered bytes in the unit tests, not just by
# encode/decode symmetry.

def _png_paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_filter_row(ftype: int, raw: bytes, prior: bytes, bpp: int = 3) -> bytes:
    out = bytearray(len(raw))
    for x in range(len(raw)):
        left = raw[x - bpp] if x >= bpp else 0
        up = prior[x]
        ul = prior[x - bpp] if x >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = left
        elif ftype == 2:
            pred = up
        elif ftype == 3:
            pred = (left + up) // 2
        else:
            pred = _png_paeth(left, up, ul)
        out[x] = (raw[x] - pred) & 0xFF
    return bytes(out)


def _png_unfilter_row(ftype: int, filt: bytes, prior: bytes, bpp: int = 3) -> bytes:
    out = bytearray(len(filt))
    for x in range(len(filt)):
        left = out[x - bpp] if x >= bpp else 0
        up = prior[x]
        ul = prior[x - bpp] if x >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = left
        elif ftype == 2:
            pred = up
        elif ftype == 3:
            pred = (left + up) // 2
        elif ftype == 4:
            pred = _png_paeth(left, up, ul)
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[x] = (filt[x] + pred) & 0xFF
    return bytes(out)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_payload(doc_id: int) -> bytes:
    img = _synth_gradient(doc_id)  # PNG stores RGB
    h, w = img.shape[:2]
    scan = bytearray()
    prior = bytes(w * 3)
    for row in range(h):
        raw = img[row].tobytes()
        ftype = row % 5
        scan += bytes([ftype]) + _png_filter_row(ftype, raw, prior)
        prior = raw
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(scan)))
        + _png_chunk(b"IEND", b"")
    )


def synth_png_payload(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic truecolor PNG synthesis — test-data generator for
    the REAL compressed-codec decode below. Same gradient design as the
    BMP twin (w = 8 + id%8, h = 4 + id%4; R = id%100 + row,
    G = id%50 + col, B = id%200, all < 256) so channel means keep their
    closed forms THROUGH the compression: rows cycle all five PNG
    filter types (row % 5) before zlib DEFLATE, so the decoder's
    defilter paths are all exercised on real data."""
    return _synth_kernel(df, id_col, _png_payload)


def _png_features(buf: bytes) -> tuple:
    if buf[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, w = 8, None
    idat = bytearray()
    while pos < len(buf):
        (ln,) = struct.unpack_from(">I", buf, pos)
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + ln]
        if ctype == b"IHDR":
            w, h, depth, ctyp = struct.unpack_from(">IIBB", data, 0)
            if (depth, ctyp) != (8, 2):
                raise ValueError("only 8-bit truecolor")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("missing IHDR")
    scan = zlib.decompress(bytes(idat))
    stride = w * 3
    if len(scan) != h * (1 + stride):
        raise ValueError("bad scanline length")
    prior = bytes(stride)
    rows = []
    for row in range(h):
        off = row * (1 + stride)
        raw = _png_unfilter_row(
            scan[off], scan[off + 1 : off + 1 + stride], prior
        )
        rows.append(np.frombuffer(raw, dtype=np.uint8))
        prior = raw
    img = np.stack(rows).reshape(h, w, 3)
    means = img.reshape(-1, 3).mean(axis=0)  # R, G, B
    return w, h, w * h, float(means[0]), float(means[1]), float(means[2])


def decode_png_features(
    df: DataFrame, id_col: str, payload_col: str = "payload",
    on_error: str = "raise",
) -> DataFrame:
    """REAL COMPRESSED-codec decode — truecolor PNG parsed with only
    the stdlib: signature + chunk walk (IHDR dims/type, IDAT
    concatenation), zlib INFLATE, then per-row defiltering (all five
    PNG filter types: None/Sub/Up/Average/Paeth) to the (h, w, 3)
    pixel array and per-channel means. Same batch contract and
    dead-letter option as the other decoders."""
    return _decode_kernel(df, id_col, payload_col, _RGB_MEANS, _png_features, on_error)


def resize_dims_plan(
    df: DataFrame, max_side: int = 224,
    width_col: str = "media_meta.width", height_col: str = "media_meta.height",
) -> DataFrame:
    """Aspect-preserving resize planning (decode-free): the target
    (width, height) each image resizes to so its longer side is
    ``max_side``, never upscaling. Pure integer Catalyst expressions
    (floor division), so the plan is engine-exact and runs ahead of the
    (stubbed) decode kernel — at scale this is the column that routes
    payloads to resolution-bucketed decode batches."""
    w, h = F.col(width_col), F.col(height_col)
    g = F.greatest(w, h)
    scale_needed = g > max_side
    tw = F.when(scale_needed, F.floor(w * max_side / g)).otherwise(w).cast("long")
    th = F.when(scale_needed, F.floor(h * max_side / g)).otherwise(h).cast("long")
    return df.withColumn("target_width", tw).withColumn("target_height", th)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plumbing: expand each video payload row into frame
    timestamps (0, every_ms, ...) using the metadata duration — the
    explode that precedes per-frame decode. Pure Catalyst (sequence +
    explode); decode itself is the stubbed kernel above."""
    dur = F.coalesce(F.col("media_meta.duration_ms"), F.lit(0))
    return df.withColumn(
        "frame_ts_ms",
        F.explode(F.sequence(F.lit(0), F.greatest(dur - 1, F.lit(0)), F.lit(every_ms))),
    )


# --- GIF (LZW) ------------------------------------------------------------
# A second REAL compressed codec, with the dictionary coder written from
# scratch (PNG above reuses stdlib zlib; here the LZW bitstream itself
# is hand-rolled, both directions). GIF variant of LZW: variable code
# width starting at min_code_size+1 bits, LSB-first packing, CLEAR and
# EOI codes, width growth capped at 12 bits. Width-sync convention
# (decoder's table insertion runs one code behind the encoder's): the
# DECODER widens when its next_code reaches 1<<code_size after an
# insertion; the ENCODER widens when its next_code reaches
# (1<<code_size)+1 — exercised across the 512/1024 boundaries by
# test_lzw_roundtrip_crosses_width_boundaries.

# The decoder's single-byte root strings per minimum code size (one
# byte per root code, so 8 bits at most; a larger size raises
# KeyError, which the decoder quarantines): each image copies its base
# table instead of rebuilding it.
_LZW_DECODE_BASE = {m: {i: bytes([i]) for i in range(1 << m)} for m in range(9)}


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    data = bytes(indices)
    # root codes are the byte values themselves, one byte each
    if min_code_size > 8 or max(data, default=0) >= clear:
        raise ValueError(f"an index does not fit min code size {min_code_size}")
    # a string's code keyed by (its prefix's code << 8) | its last byte
    table: dict[int, int] = {}
    next_code = eoi + 1
    bitbuf = 0
    nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    emit(clear)
    if data:
        cur = data[0]
        for ch in data[1:]:
            key = (cur << 8) | ch
            code = table.get(key)
            if code is not None:
                cur = code
                continue
            emit(cur)
            if next_code < 4096:  # 12-bit cap: freeze the table, never CLEAR
                table[key] = next_code
                next_code += 1
                if next_code == (1 << code_size) + 1 and code_size < 12:
                    code_size += 1
            cur = ch
        emit(cur)
    emit(eoi)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    base = _LZW_DECODE_BASE[min_code_size]
    table = dict(base)
    next_code = eoi + 1
    bitbuf = 0
    nbits = 0
    pos = 0
    out = bytearray()
    prev: bytes | None = None
    while True:
        while nbits < code_size:
            if pos >= len(data):
                raise ValueError("LZW stream truncated")
            bitbuf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = bitbuf & ((1 << code_size) - 1)
        bitbuf >>= code_size
        nbits -= code_size
        if code == clear:
            table = dict(base)
            next_code = eoi + 1
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("bad LZW code")
        out += entry
        if prev is not None and next_code < 4096:  # mirror the freeze
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry


# entry i = (i, 2i, 3i), each channel clamped at 255
_GIF_SYNTH_PALETTE = bytes(
    c for i in range(256) for c in (min(i, 255), min(2 * i, 255), min(3 * i, 255))
)


def _gif_payload(doc_id: int) -> bytes:
    w, h = 8 + doc_id % 8, 4 + doc_id % 4
    idx = bytes(
        doc_id % 40 + r + c for r in range(h) for c in range(w)
    )
    lzw = _lzw_encode(idx, 8)
    blocks = bytearray()
    for off in range(0, len(lzw), 255):
        chunk = lzw[off : off + 255]
        blocks += bytes([len(chunk)]) + chunk
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 256 entries
        + _GIF_SYNTH_PALETTE
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        + bytes([8])  # LZW min code size
        + bytes(blocks)
        + b"\x00\x3b"
    )


def synth_gif_payload(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic GIF89a synthesis — the test-data twin for the GIF
    decode. 8-bit palette image, palette entry i = (i, 2i, 3i); pixel
    index at (row, col) = id%40 + row + col. With w <= 15 and h <= 7
    the max index is 39 + (7-1) + (15-1) = 59; the real headroom bound
    is 3*idx_max = 177 < 256, so no palette channel clamps and the
    means keep closed forms through the LZW compression — any envelope
    bump must keep 3*idx_max < 256 or mean_b breaks first:
    mean_idx = id%40 + (h-1)/2 + (w-1)/2, channel means
    = (1x, 2x, 3x) mean_idx. Same gradient geometry as the BMP/PNG
    twins (w = 8 + id%8, h = 4 + id%4)."""
    return _synth_kernel(df, id_col, _gif_payload)


def _gif_features(buf: bytes) -> tuple:
    if buf[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("not a GIF payload")
    sw, sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", buf, 6)
    pos = 13
    if not packed & 0x80:
        raise ValueError("global color table required")
    gct_len = 2 << (packed & 0x07)
    palette = np.frombuffer(
        buf[pos : pos + 3 * gct_len], dtype=np.uint8
    ).reshape(gct_len, 3)
    pos += 3 * gct_len
    while True:
        marker = buf[pos]
        if marker == 0x21:  # extension: label + sub-blocks
            pos += 2
            while buf[pos] != 0:
                pos += 1 + buf[pos]
            pos += 1
        elif marker == 0x2C:
            break
        else:
            raise ValueError("unexpected GIF block")
    _l, _t, w, h, ipacked = struct.unpack_from("<HHHHB", buf, pos + 1)
    if ipacked & 0x80:
        raise ValueError("local color tables unsupported")
    if ipacked & 0x40:
        raise ValueError("interlace unsupported")
    pos += 10
    min_code = buf[pos]
    pos += 1
    lzw = bytearray()
    while buf[pos] != 0:
        ln = buf[pos]
        lzw += buf[pos + 1 : pos + 1 + ln]
        pos += 1 + ln
    idx = _lzw_decode(bytes(lzw), min_code)
    if len(idx) != w * h:
        raise ValueError("decoded pixel count mismatch")
    rgb = palette[np.frombuffer(idx, dtype=np.uint8)]
    means = rgb.astype(np.float64).mean(axis=0)
    return w, h, w * h, float(means[0]), float(means[1]), float(means[2])


def decode_gif_features(
    df: DataFrame, id_col: str, payload_col: str = "payload",
    on_error: str = "raise",
) -> DataFrame:
    """REAL GIF decode with a from-scratch LZW: header + logical screen
    descriptor + global color table + image descriptor parse, then the
    hand-rolled variable-width LZW decompression of the index stream
    and palette lookup to per-channel means. Same batch contract and
    dead-letter option as the other decoders. (Single-image,
    non-interlaced, global-palette GIFs — the synth twin's envelope;
    extension blocks are skipped per spec.)"""
    return _decode_kernel(df, id_col, payload_col, _RGB_MEANS, _gif_features, on_error)


# --- JPEG (baseline) --------------------------------------------------------
# The THIRD real compressed codec, with the ENTROPY CODER written from
# scratch. One header walker, `_jpeg_scans`, parses the markers for
# the baseline and the progressive decoder alike; each decoder then
# runs canonical Huffman decode of the MSB-first bitstream (0xFF
# byte-unstuffing), DC difference coding, run/size AC symbols with
# EOB, de-zigzag, dequantize, full 2D IDCT (numpy cosine basis), level
# shift. The entropy decode is the only per-block Python: the bit
# reader fills a byte at a time and matches Huffman codes one code
# length at a time. `_jpeg_idct_blocks` transforms many blocks per
# stacked numpy pass, bitwise the one-block formula, for both
# decoders. The baseline decoder transforms a band of whole block
# rows, about _JPEG_IDCT_CHUNK blocks per component, whenever the band
# fills: one pass per file for small images, and its int64
# coefficients and float temporaries stay a few MiB beside the uint8
# planes whatever the image size. The progressive decoder keeps its
# whole coefficient grid, which its scans fill in turn. One baseline
# decoder (`_jpeg_baseline_planes`) serves grayscale and YCbCr 4:4:4
# color: interleaved MCUs (one block per component per MCU position),
# one DC difference predictor PER COMPONENT, per-component DHT/DQT
# selectors honored from the file. The synth twins restrict CONTENT
# (each 8x8 block uniform, quant table all ones) so the lossy pipeline
# is exactly invertible — every AC coefficient quantizes to zero and a
# DC-only IDCT is DC/8 exactly — giving the oracle closed forms while
# the decoder logic stays general (any quant table, any DHT set, any
# run/size stream). Color features stay in YCbCr space — no colorspace
# conversion — so the roundtrip stays exact per channel.

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
# minimal canonical DHT tables the encoder writes and the decoder reads
# back from the file (nothing is built into the decoder): DC categories
# 0..11 as 4-bit codes, AC with the single EOB symbol as a 1-bit code
_JPEG_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [1] + [0] * 15
_JPEG_AC_VALS = [0x00]  # EOB

# orthonormal DCT-II basis; IDCT = C.T @ block @ C
_k = np.arange(8)
_JPEG_IDCT_C = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16) * np.where(
    _k[:, None] == 0, np.sqrt(1 / 8), np.sqrt(2 / 8)
)
del _k
# natural (row-major) position -> zigzag index: coef = zz[..., _JPEG_UNZIGZAG]
_JPEG_UNZIGZAG = np.argsort(_JPEG_ZIGZAG)
# blocks per float IDCT pass: its float64 temporaries stay a few MiB
# whatever the image size
_JPEG_IDCT_CHUNK = 1024


def _jpeg_canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) canonical assignment per the JPEG spec."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


# one Huffman table: (length, {code: symbol}) per code length in use,
# shortest first
_HuffTable = tuple[tuple[int, dict[int, int]], ...]


def _jpeg_read_dht(body: bytes, huff: dict[tuple[int, int], _HuffTable]) -> None:
    """Add each table of one DHT segment to ``huff``, keyed (class, id)."""
    off = 0
    while off < len(body):
        cls_id = body[off]
        bits = list(body[off + 1 : off + 17])
        nv = sum(bits)
        vals = list(body[off + 17 : off + 17 + nv])
        by_len: dict[int, dict[int, int]] = {}
        for s, (c, l) in _jpeg_canonical_codes(bits, vals).items():
            by_len.setdefault(l, {})[c] = s
        huff[(cls_id >> 4, cls_id & 0x0F)] = tuple(sorted(by_len.items()))
        off += 17 + nv


def _jpeg_idct_blocks(zz: np.ndarray, q: np.ndarray) -> np.ndarray:
    """De-zigzag and dequantize int64 coefficient blocks ``zz`` of
    shape (..., n, 64) by quant tables ``q`` that broadcast against
    them, 2D IDCT, level shift and clamp: (..., n, 8, 8) uint8 pixels.
    The float pass runs _JPEG_IDCT_CHUNK blocks at a time. Each stacked
    matmul is one 8x8 gemm per block, the arithmetic of a lone block,
    so every pixel is bitwise what the one-block formula gives."""
    out = np.empty(zz.shape[:-1] + (8, 8), dtype=np.uint8)
    for s in range(0, zz.shape[-2], _JPEG_IDCT_CHUNK):
        part = zz[..., s : s + _JPEG_IDCT_CHUNK, :]
        coef = (part * q)[..., _JPEG_UNZIGZAG].astype(np.float64)
        block = _JPEG_IDCT_C.T @ coef.reshape(part.shape[:-1] + (8, 8)) @ _JPEG_IDCT_C
        # rint is np.round's kernel, minimum/maximum np.clip's, without
        # their Python wrappers
        out[..., s : s + _JPEG_IDCT_CHUNK, :, :] = np.minimum(
            np.maximum(np.rint(block + 128), 0), 255
        )
    return out


def _jpeg_tile(blocks: np.ndarray, nbh: int, nbw: int) -> np.ndarray:
    """(..., nbh * nbw, 8, 8) blocks in raster order -> (..., nbh * 8,
    nbw * 8) planes."""
    lead = blocks.shape[:-3]
    grid = blocks.reshape(lead + (nbh, nbw, 8, 8)).swapaxes(-3, -2)
    return grid.reshape(lead + (nbh * 8, nbw * 8))


class _JpegBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        # an over-wide code here means a BROKEN Huffman table (canonical
        # assignment spilled past the length's code space — a Kraft-sum
        # bug); silently masking it would emit an undecodable stream
        if not 0 <= code < (1 << length):
            raise ValueError(f"code {code} overflows {length} bits")
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


class _JpegBitReader:
    """MSB-first bits of one entropy-coded segment, 0xFF00 unstuffed.
    The accumulator fills a byte at a time and only when a bit is
    needed, so a truncated stream or a marker inside it raises exactly
    when a bit of the missing or bad byte is asked for."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0  # holds the n unread bits
        self.n = 0

    def _fill(self, k: int) -> None:
        data, pos, acc, n = self.data, self.pos, self.acc, self.n
        while n < k:
            if pos >= len(data):
                raise ValueError("JPEG entropy stream truncated")
            b = data[pos]
            pos += 1
            if b == 0xFF:  # unstuff
                if pos < len(data) and data[pos] == 0x00:
                    pos += 1
                else:
                    raise ValueError("unexpected marker in entropy data")
            acc = (acc << 8) | b
            n += 8
        self.pos, self.acc, self.n = pos, acc, n

    def bits(self, k: int) -> int:
        if self.n < k:
            self._fill(k)
        self.n -= k
        v = self.acc >> self.n
        self.acc &= (1 << self.n) - 1
        return v

    def huff(self, table: _HuffTable) -> int:
        for length, codes in table:
            if self.n < length:
                self._fill(length)
            sym = codes.get(self.acc >> (self.n - length))
            if sym is not None:
                self.n -= length
                self.acc &= (1 << self.n) - 1
                return sym
        raise ValueError("bad Huffman code")


def _jpeg_amplitude(v: int) -> tuple[int, int]:
    """(category, appended-bits) per the JPEG magnitude convention."""
    if v == 0:
        return 0, 0
    t = abs(v).bit_length()
    return t, (v if v > 0 else v + (1 << t) - 1)


def _jpeg_extend(bits: int, t: int) -> int:
    if t == 0:
        return 0
    return bits if bits >= (1 << (t - 1)) else bits - (1 << t) + 1


# --- JPEG synthesis: shared segments and symbol writers ---------------------

_JPEG_DC_CODES = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
_JPEG_AC_CODES = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)


def _jpeg_seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


_JPEG_SYNTH_DQT = _jpeg_seg(0xDB, bytes([0x00]) + bytes([1] * 64))
_JPEG_SYNTH_DHT_DC = _jpeg_seg(
    0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
)


def _jpeg_put_dc(wr: _JpegBitWriter, diff: int) -> None:
    """One DC difference: its category's code, then the amplitude bits."""
    t, amp = _jpeg_amplitude(diff)
    wr.put(*_JPEG_DC_CODES[t])
    if t:
        wr.put(amp, t)


def _jpeg_baseline_payload(w: int, h: int, block_values) -> bytes:
    """A baseline JFIF of uniform 8x8 blocks (q = all ones):
    ``block_values(bi, bj)`` gives each component's value in block
    (bi, bj); one value makes a grayscale file, three a 4:4:4 one."""
    ncomp = len(block_values(0, 0))
    wr = _JpegBitWriter()
    prev = [0] * ncomp
    for bi in range(h // 8):
        for bj in range(w // 8):
            for ci, v in enumerate(block_values(bi, bj)):
                dc = 8 * (v - 128)  # DC of a uniform block, q=1
                _jpeg_put_dc(wr, dc - prev[ci])
                prev[ci] = dc
                wr.put(*_JPEG_AC_CODES[0x00])  # EOB: all AC zero
    scan = wr.flush()
    cids = range(1, ncomp + 1)
    return (
        b"\xff\xd8"
        + _JPEG_SYNTH_DQT
        + _jpeg_seg(
            0xC0,
            struct.pack(">BHHB", 8, h, w, ncomp)
            + b"".join(bytes([cid, 0x11, 0]) for cid in cids),
        )
        + _JPEG_SYNTH_DHT_DC
        + _jpeg_seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
        + _jpeg_seg(
            0xDA,
            bytes([ncomp])
            + b"".join(bytes([cid, 0x00]) for cid in cids)
            + bytes([0, 63, 0]),
        )
        + scan
        + b"\xff\xd9"
    )


def _jpeg_payload(doc_id: int) -> bytes:
    return _jpeg_baseline_payload(
        8 * (1 + doc_id % 3), 8 * (1 + doc_id % 2),
        lambda bi, bj: (100 + doc_id % 64 + 2 * bi + 3 * bj,),
    )


def synth_jpeg_payload(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic baseline-JFIF grayscale synthesis — the twin for
    the JPEG decode. Dimensions are block multiples (w = 8*(1 + id%3),
    h = 8*(1 + id%2)); each 8x8 block is UNIFORM with value
    100 + id%64 + 2*block_row + 3*block_col, so all AC coefficients
    quantize to zero (q = all ones) and the roundtrip is exact:
    mean_gray = 100 + id%64 + (h/8 - 1) + 1.5*(w/8 - 1)."""
    return _synth_kernel(df, id_col, _jpeg_payload)


def _jpeg_entropy_end(buf: bytes, start: int) -> int:
    """Index of the marker that ends the entropy-coded data from
    ``start``: the first 0xFF followed by anything but the 0x00
    stuffing byte."""
    i = buf.find(b"\xff", start)
    while 0 <= i < len(buf) - 1:
        if buf[i + 1] != 0x00:
            return i
        i = buf.find(b"\xff", i + 2)
    raise ValueError("unterminated entropy segment")


def _jpeg_scans(buf: bytes, sof: int):
    """THE JPEG header walker, shared by the baseline (``sof`` = 0xC0)
    and progressive (0xC2) decoders. After the SOI it walks the
    segments, skipping 0xFF fill bytes before a marker (T.81 B.1.1.2)
    and any segment it does not use by its length, and stops at EOI:

    - DQT: every table of the segment, 8-bit and 64 entries each;
    - SOF0/SOF2: the decoder's own kind only (the other kind raises),
      8-bit precision, positive dims, no subsampling;
    - DHT: every table, through `_jpeg_read_dht`;
    - DRI: an interval of 0 (restarts off) is skipped; any other
      raises, as neither decoder reads RSTn markers;
    - SOS: 1-4 components (T.81 B.2.3); yields the scan, whose
      entropy-coded data runs to the next marker; the walk resumes there.

    It is lazy, so a DHT between two scans is read before the second
    is yielded. Each scan is ``(w, h, ncomp, quant, huff, comps, band,
    data)``: the SOF's dims and component count; ``{component id:
    int64 quant table}`` for every SOF component, each by the selector
    in its SOF entry (a missing table raises); the Huffman tables so
    far, keyed (class, id); the scan's ``[(component id, DC table id,
    AC table id)]``; the unparsed SOS bytes after them (Ss, Se,
    Ah<<4|Al); and the entropy-coded bytes."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}
    frame = None
    pos = 2
    while pos + 1 < len(buf):
        if buf[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = buf[pos + 1]
        if marker == 0xFF:  # fill byte before a marker
            pos += 1
            continue
        if marker == 0xD9:
            return
        (ln,) = struct.unpack_from(">H", buf, pos + 2)
        body = buf[pos + 4 : pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:
            for off in range(0, len(body), 65):
                if body[off] & 0xF0 != 0:
                    raise ValueError("8-bit quant table only")
                if len(body) < off + 65:
                    raise ValueError("quant table shorter than 64 entries")
                qts[body[off]] = np.frombuffer(body, np.uint8, 64, off + 1).astype(np.int64)
        elif marker in (0xC0, 0xC2):
            if marker != sof:
                raise ValueError(f"SOF{marker - 0xC0} frame, expected SOF{sof - 0xC0}")
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError("8-bit precision only")
            if not (w > 0 and h > 0):
                raise ValueError(f"bad JPEG dims {w}x{h}")
            qsel = {}
            for ci in range(ncomp):
                cid, samp, qid = body[6 + 3 * ci : 9 + 3 * ci]
                if samp != 0x11:
                    raise ValueError("no subsampling (4:4:4 only)")
                qsel[cid] = qid
            frame = (w, h, ncomp, qsel)
        elif marker == 0xC4:
            _jpeg_read_dht(body, huff)
        elif marker == 0xDD:
            if body != b"\x00\x00":
                raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("SOS before SOF")
            w, h, ncomp, qsel = frame
            quant = {}
            for cid, qid in qsel.items():
                if qid not in qts:
                    raise ValueError(f"no quant table {qid}")
                quant[cid] = qts[qid]
            ns = body[0]
            if not 1 <= ns <= 4:
                raise ValueError(f"SOS component count {ns}, expected 1-4")
            comps = [
                (body[1 + 2 * i], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0x0F)
                for i in range(ns)
            ]
            end = _jpeg_entropy_end(buf, pos)
            yield w, h, ncomp, quant, huff, comps, body[1 + 2 * ns :], buf[pos:end]
            pos = end


def _jpeg_baseline_planes(buf: bytes):
    """THE baseline (SOF0) JPEG decoder: the first scan `_jpeg_scans`
    yields, entropy-decoded as interleaved MCUs (DC difference + run/size
    AC), then de-zigzag, dequantize, IDCT, level shift and clamp in one
    stacked pass per band of block rows (about _JPEG_IDCT_CHUNK blocks
    of every component). One or three components — raises otherwise.
    Returns ``(w, h, ncomp, comp_order, planes)``: the SOF's component
    count, the scan's component ids in order, and each component's
    (h, w) uint8 plane by id."""
    scan = next(_jpeg_scans(buf, 0xC0), None)
    if scan is None:
        raise ValueError("no SOF0 frame or no scan")
    w, h, ncomp, quant, huff, comps, _, data = scan
    if ncomp not in (1, 3):
        raise ValueError("baseline 1/3-comp")
    rd = _JpegBitReader(data)
    # per spec the scan carries ceil(w/8) x ceil(h/8) MCUs — decode
    # into the padded grid, crop to (h, w) at the end, so
    # non-multiple-of-8 images (the common case) decode exactly
    # instead of silently truncating planes
    nbw, nbh = (w + 7) // 8, (h + 7) // 8
    # corrupt-SOF quarantine: HUGE declared dims (e.g. 0xFFFF x
    # 0xFFFF) would allocate a multi-GiB block grid BEFORE the bit
    # reader could fail — an allocation bomb per corrupt row at
    # scale. Each 8x8 block consumes >= 2 bits (DC code + EOB),
    # so the entropy stream bounds the legal block count.
    if not nbw * nbh * max(1, len(comps)) <= 4 * len(data) + 64:
        raise ValueError("declared dims exceed entropy stream capacity")
    ncs = len(comps)
    comp_order = [cid for cid, _, _ in comps]
    # per scan component: its Huffman tables and quant table
    tabs = [(huff[(0, dc)], huff[(1, ac)]) for _, dc, ac in comps]
    q = np.empty((ncs, 1, 64), dtype=np.int64)
    for ci, cid in enumerate(comp_order):
        q[ci, 0] = quant[cid]
    # the MCUs decode into a band of whole block rows, transformed into
    # the planes whenever it fills: the int64 coefficients never
    # outgrow one band of about _JPEG_IDCT_CHUNK blocks per component
    rows = max(1, _JPEG_IDCT_CHUNK // nbw)
    img = np.empty((ncs, nbh * 8, nbw * 8), dtype=np.uint8)
    zz = np.zeros((ncs, min(rows, nbh) * nbw, 64), dtype=np.int64)
    prev_dc = dict.fromkeys(comp_order, 0)  # a repeated id shares its predictor
    for bi in range(nbh):
        r = bi % rows
        for k in range(r * nbw, (r + 1) * nbw):
            for ci, cid in enumerate(comp_order):
                dc_tab, ac_tab = tabs[ci]
                t = rd.huff(dc_tab)
                prev_dc[cid] += _jpeg_extend(rd.bits(t), t)
                zz[ci, k, 0] = prev_dc[cid]
                i = 1
                while i < 64:
                    sym = rd.huff(ac_tab)
                    if sym == 0x00:  # EOB
                        break
                    if sym == 0xF0:  # ZRL
                        i += 16
                        continue
                    run, size = sym >> 4, sym & 0x0F
                    i += run
                    zz[ci, k, i] = _jpeg_extend(rd.bits(size), size)
                    i += 1
        if r + 1 == rows or bi + 1 == nbh:
            band = _jpeg_idct_blocks(zz[:, : (r + 1) * nbw], q)
            img[:, (bi - r) * 8 : (bi + 1) * 8] = _jpeg_tile(band, r + 1, nbw)
            zz[:] = 0
    # a repeated component id keeps its last block, as in MCU order
    planes = {cid: img[ci, :h, :w] for ci, cid in enumerate(comp_order)}
    return w, h, ncomp, comp_order, planes


def _jpeg_mean(plane: np.ndarray) -> float:
    """Mean of a uint8 plane. Its sum is an integer below 2**53, exact
    in any summation order, so this is bitwise the mean of a float64
    copy, without allocating that copy (8 bytes a pixel)."""
    return float(plane.mean(dtype=np.float64))


def _jpeg_features(buf: bytes) -> tuple:
    w, h, ncomp, comp_order, planes = _jpeg_baseline_planes(buf)
    if ncomp != 1:
        raise ValueError("grayscale baseline only")
    return w, h, w * h, _jpeg_mean(planes[comp_order[0]])


def decode_jpeg_features(
    df: DataFrame, id_col: str, payload_col: str = "payload",
    on_error: str = "raise",
) -> DataFrame:
    """REAL baseline JPEG decode, entropy coder and all, stdlib+numpy
    only: the header walk of `_jpeg_scans` (Huffman tables rebuilt
    FROM THE FILE), then `_jpeg_baseline_planes` on its first scan,
    its IDCT batched (one pass per band of about _JPEG_IDCT_CHUNK
    blocks, so one per file for small images and bounded memory for
    large ones). Grayscale baseline (1 component) — raises otherwise.
    Features: (width, height, n_pixels, mean_gray)."""
    fields = _IMAGE_DIMS + [("mean_gray", _DOUBLE)]
    return _decode_kernel(df, id_col, payload_col, fields, _jpeg_features, on_error)


def _jpeg444_payload(doc_id: int) -> bytes:
    return _jpeg_baseline_payload(
        8 * (1 + doc_id % 3), 8 * (1 + doc_id % 2),
        lambda bi, bj: (
            90 + doc_id % 60 + 2 * bi + 3 * bj,
            60 + doc_id % 40 + bi,
            40 + doc_id % 30 + bj,
        ),
    )


def synth_jpeg444_payload(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic baseline-JFIF 4:4:4 color synthesis. Per-block
    uniform channel values (q = all ones):
    Y = 90 + id%60 + 2*bi + 3*bj, Cb = 60 + id%40 + bi, Cr = 40 +
    id%30 + bj — closed-form channel means:
    mean_y = 90 + id%60 + (h/8-1) + 1.5*(w/8-1),
    mean_cb = 60 + id%40 + 0.5*(h/8-1), mean_cr = 40 + id%30 +
    0.5*(w/8-1)."""
    return _synth_kernel(df, id_col, _jpeg444_payload)


def _jpeg444_features(buf: bytes) -> tuple:
    w, h, _, comp_order, planes = _jpeg_baseline_planes(buf)
    if len(comp_order) == 1:  # grayscale: its one plane is Y, whatever its id
        y = _jpeg_mean(planes[comp_order[0]])
        return w, h, w * h, y, None, None
    means = [_jpeg_mean(planes[cid]) if cid in planes else None for cid in (1, 2, 3)]
    return w, h, w * h, means[0], means[1], means[2]


def decode_jpeg444_features(
    df: DataFrame, id_col: str, payload_col: str = "payload",
    on_error: str = "raise",
) -> DataFrame:
    """REAL full-color baseline JPEG decode (YCbCr 4:4:4): the same
    walk and decoder as `decode_jpeg_features`, interleaved MCUs with
    one DC predictor per component and per-component quant/Huffman
    table selectors honored from SOF/SOS. Features are per-channel
    means in YCbCr space (no colorspace conversion — the lossless part
    of the pipeline)."""
    fields = _IMAGE_DIMS + [
        ("mean_y", _DOUBLE), ("mean_cb", _DOUBLE), ("mean_cr", _DOUBLE),
    ]
    return _decode_kernel(df, id_col, payload_col, fields, _jpeg444_features, on_error)


# --- progressive JPEG (spectral selection) ---------------------------------
# The FOURTH from-scratch compressed codec: progressive-mode JPEG
# (SOF2) in its spectral-selection form — the scan structure real
# progressive encoders emit first (DC scan for every block, then AC
# band scans), decoded by accumulating per-block coefficient vectors
# ACROSS scans before one dequantize+IDCT pass. Reference parity: the
# reference pipeline treats image payloads as opaque bytes
# (gcs_to_gcs.py-style copies); the decode tier is engine extension,
# and this narrows the decode_media stub to H.264/Opus + successive-
# approximation refinement only.
#
# Envelope (documented, enforced): grayscale (1 component), 8-bit,
# Ah = 0 per scan (spectral selection WITHOUT successive-approximation
# refinement; Al >= 0 point transforms honored); the header rules,
# restart intervals among them, are `_jpeg_scans`'.
# The entropy coder is general: EOBn run coding (the progressive-only
# symbol class), ZRL, in-band (run, size) coefficients.

# custom canonical AC table for the progressive band scan: EOBn runs
# r=0..4 as 3-bit codes, longer EOBn / ZRL as 4-bit, small (run,size)
# coefficient symbols as 5-bit. Progressive encoders routinely write
# custom DHTs — the decoder reads whatever tables the file declares.
# The distribution is a COMPLETE canonical code (Kraft sum 5/8 + 4/16
# + 4/32 = 1.0): an over-full bits table makes canonical assignment
# spill past the length's code space and the writer would emit
# truncated codes (the bug `_JpegBitWriter.put` raises on).
_JPEG_PROG_AC_BITS = [0, 0, 5, 4, 4] + [0] * 11
_JPEG_PROG_AC_VALS = [
    0x00, 0x10, 0x20, 0x30, 0x40,  # EOB1..EOB16 (3-bit)
    0x50, 0x60, 0x70, 0xF0,        # EOB32/64/128, ZRL (4-bit)
    0x01, 0x02, 0x11, 0x21,        # (run, size) coefficients (5-bit)
]
_JPEG_PROG_AC_CODES = _jpeg_canonical_codes(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)


def _jpeg_progressive_payload(doc_id: int) -> bytes:
    w, h = 8 * (1 + doc_id % 3), 8 * (1 + doc_id % 2)
    nbw, nbh = w // 8, h // 8
    nblocks = nbw * nbh
    # scan 1: every block's DC diff (no AC symbols in DC scans)
    wr = _JpegBitWriter()
    prev_dc = 0
    for bi in range(nbh):
        for bj in range(nbw):
            v = 100 + doc_id % 64 + 2 * bi + 3 * bj
            dc = 8 * (v - 128)  # DC of a uniform block, q=1
            _jpeg_put_dc(wr, dc - prev_dc)
            prev_dc = dc
    dc_scan = wr.flush()
    # scan 2: the whole AC band is zero -> ONE EOBn run of
    # exactly nblocks: largest r with 2^r <= nblocks, the
    # remainder in r appended bits
    wr = _JpegBitWriter()
    r = nblocks.bit_length() - 1
    wr.put(*_JPEG_PROG_AC_CODES[r << 4])
    if r:
        wr.put(nblocks - (1 << r), r)
    ac_scan = wr.flush()
    dht_ac = _jpeg_seg(
        0xC4,
        bytes([0x10]) + bytes(_JPEG_PROG_AC_BITS) + bytes(_JPEG_PROG_AC_VALS),
    )
    # SOS: ncomp, (comp id, DC<<4|AC table sel), Ss, Se, Ah<<4|Al
    sos1 = _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00]))
    sos2 = _jpeg_seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00]))
    return (
        b"\xff\xd8" + _JPEG_SYNTH_DQT
        + _jpeg_seg(0xC2, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
        + _JPEG_SYNTH_DHT_DC
        + sos1 + dc_scan
        + dht_ac + sos2 + ac_scan
        + b"\xff\xd9"
    )


def synth_jpeg_progressive_payload(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic progressive (SOF2) grayscale synthesis — the twin
    for the progressive decode. Same content envelope as the baseline
    twin (w = 8*(1 + id%3), h = 8*(1 + id%2), uniform blocks valued
    100 + id%64 + 2*block_row + 3*block_col, quant all ones) so the
    closed form is identical: mean_gray = 100 + id%64 + (h/8 - 1)
    + 1.5*(w/8 - 1). TWO scans: scan 1 codes every block's DC
    (Ss=Se=0), scan 2 codes the 1..63 AC band (Ss=1, Se=63) as a
    single EOBn run — all ACs quantize to zero, so one EOBn symbol
    (+ its length bits) covers the whole image, exercising the
    progressive-only run coding end-to-end."""
    return _synth_kernel(df, id_col, _jpeg_progressive_payload)


def _jpeg_progressive_features(buf: bytes) -> tuple:
    zz = None  # (nblocks, 64) coefficient grid, int64
    prev_dc = n_scans = 0
    for w, h, ncomp, quant, huff, comps, band, data in _jpeg_scans(buf, 0xC2):
        if ncomp != 1:
            raise ValueError("grayscale progressive only")
        if len(comps) != 1:
            raise ValueError("one component per scan (grayscale)")
        _, dc_sel, ac_sel = comps[0]
        ss, se, ahal = band[:3]
        ah, al = ahal >> 4, ahal & 0x0F
        if ah != 0:
            raise ValueError(
                "successive-approximation refinement unsupported "
                "(spectral selection only)"
            )
        if not 0 <= ss <= se <= 63:
            raise ValueError(f"bad spectral band {ss}..{se}")
        rd = _JpegBitReader(data)
        if zz is None:
            # the first scan must be the DC scan (spec: every block's
            # DC precedes any AC band) — its entropy capacity bounds
            # the grid allocation (>= 1 bit per block), closing the
            # corrupt-SOF allocation bomb exactly as in the baseline
            # decoder
            if ss != 0:
                raise ValueError("first progressive scan must be DC")
            nbw, nbh = (w + 7) // 8, (h + 7) // 8
            if not nbw * nbh <= 8 * len(data) + 64:
                raise ValueError("declared dims exceed entropy stream capacity")
            zz = np.zeros((nbw * nbh, 64), dtype=np.int64)
            (q,) = quant.values()
        elif ss == 0:
            # one component has one DC scan: a second one would
            # re-add every DC difference onto the first scan's
            raise ValueError("second DC scan")
        nblocks = zz.shape[0]
        if ss == 0:
            dc_tab = huff[(0, dc_sel)]
            for b in range(nblocks):
                t = rd.huff(dc_tab)
                prev_dc += _jpeg_extend(rd.bits(t), t)
                zz[b, 0] = prev_dc << al
        else:
            ac_tab = huff[(1, ac_sel)]
            eob_run = 0
            for b in range(nblocks):
                if eob_run:
                    eob_run -= 1
                    continue
                kk = ss
                while kk <= se:
                    sym = rd.huff(ac_tab)
                    r, s = sym >> 4, sym & 0x0F
                    if s == 0:
                        if r == 15:  # ZRL: 16 zeros
                            kk += 16
                            continue
                        # EOBn: this block's band ends and
                        # the next (run - 1) blocks' bands
                        # are all zero
                        eob_run = (1 << r) + rd.bits(r) - 1
                        break
                    kk += r
                    if kk > se:
                        raise ValueError("coefficient run past band")
                    zz[b, kk] = _jpeg_extend(rd.bits(s), s) << al
                    kk += 1
        n_scans += 1
    if zz is None:
        raise ValueError("no scan decoded")
    img = _jpeg_tile(_jpeg_idct_blocks(zz, q), nbh, nbw)[:h, :w]
    return w, h, w * h, n_scans, _jpeg_mean(img)


def decode_jpeg_progressive_features(
    df: DataFrame, id_col: str, payload_col: str = "payload",
    on_error: str = "raise",
) -> DataFrame:
    """REAL progressive-JPEG decode (spectral selection): every scan
    of the `_jpeg_scans` walk (SOF2; DHT tables may arrive between
    scans) entropy-decoded into ONE per-block coefficient grid — DC
    scans code every block's DC diff (<< Al), AC band scans code
    zigzag indices [Ss, Se] with EOBn run symbols / ZRL / (run, size)
    coefficients — then a single batched dequantize + 2D IDCT + crop
    pass over the grid (its float temporaries bounded by
    _JPEG_IDCT_CHUNK blocks). Same Arrow mapInPandas batch contract
    and on_error='null' dead letter as every other decoder. Envelope
    enforced in-kernel (raises otherwise): grayscale, one DC scan,
    Ah = 0 (no successive-approximation refinement scans). The block
    grid is allocated only after the (mandatory first) DC scan's
    entropy capacity bounds it — a corrupt SOF declaring 0xFFFF x
    0xFFFF must quarantine, not allocate."""
    fields = _IMAGE_DIMS + [("n_scans", _LONG), ("mean_gray", _DOUBLE)]
    return _decode_kernel(
        df, id_col, payload_col, fields, _jpeg_progressive_features, on_error
    )
