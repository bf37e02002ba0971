"""Multimodal (image/audio/video) column support for training-data
pipelines (extension surface; BASELINE.json north star).

Design: media ride as opaque ``binary`` columns with typed metadata
columns beside them. Decode / feature-extraction / resize / frame-sample
run through the engine's one Arrow stage (``operators/arrow_stage.py``),
the only place Python touches data. The five decode stages are one,
:func:`_decode_stage`: decoder dict keys become typed columns. A
payload the decoder rejects fails the task, as a bad file fails a scan.

Codecs: WAV, BMP, PNG and baseline JPEG decode FOR REAL with nothing
but the standard library (the JPEG decoder lives in
``operators/jpegcodec.py``); :func:`default_decoder` sniffs the magic
bytes and dispatches, falling back to Pillow for rich formats
(progressive/subsampled JPEG, WebP, ...) when installed. The default
resizer is likewise real (stdlib decode -> nearest-neighbor -> BMP
re-encode; Pillow is the quality fast-path). Each stage still takes a
``decoder``/``resizer`` callable, and ``deterministic_fake_decoder``
remains for pure-plumbing tests.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apde_etl_spark.operators.arrow_stage import arrow_stage

#: schema of a decoded-image record appended by ``decode_images``
IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)

FEATURE_DIM = 16


def default_decoder(payload: bytes) -> dict:
    """Magic-sniffing REAL decode: WAV/BMP/PNG/JPEG route to the stdlib
    codecs below (no dependency); anything else tries Pillow and raises
    ``ValueError`` with guidance when neither path can read the bytes.
    Round 5 left this seam as a NotImplementedError; with the stdlib
    baseline-JPEG decoder (operators/jpegcodec.py) every fixture format
    decodes for real and Pillow is purely a fast-path/rich-format
    extension."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return stdlib_wav_decoder(payload)
    if payload[:2] == b"BM":
        return stdlib_bmp_decoder(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return stdlib_png_decoder(payload)
    if payload[:3] == b"\xff\xd8\xff":
        try:
            return stdlib_jpeg_decoder(payload)
        except ValueError:
            pass  # progressive/subsampled: fall through to Pillow
    try:
        return pillow_decoder(payload)
    except ImportError:
        raise ValueError(
            "unsupported media payload for the stdlib codecs "
            "(WAV/BMP/PNG/baseline-JPEG) and Pillow is not installed — "
            "install Pillow for rich formats, or pass a custom decoder"
        ) from None


def deterministic_fake_decoder(payload: bytes) -> dict:
    """Content-derived fake decode: stable pseudo-dimensions and a
    16-dim feature vector from the md5 digest. Deterministic, so tests
    and oracles can assert exact values."""
    d = hashlib.md5(payload).digest()
    return {
        "width": 64 + d[0] % 192,
        "height": 64 + d[1] % 192,
        "channels": 3,
        "format": ["jpeg", "png", "webp"][d[2] % 3],
        "features": [((b / 255.0) * 2.0 - 1.0) for b in d],
    }


def decode_images(
    df: DataFrame,
    content_col: str = "content",
    decoder: Callable[[bytes], dict] = default_decoder,
) -> DataFrame:
    """Append decoded metadata (width/height/channels/format) to each row.

    The stage keeps the full row and adds the meta columns; Arrow
    moves the binary payloads in columnar batches. Partitioning is
    whatever the upstream scan produced — no shuffle is introduced."""
    return _decode_stage(df, df.columns, content_col, decoder,
                         IMAGE_META_SCHEMA.fields)


def _decode_stage(df, keep, content_col, decoder, fields) -> DataFrame:
    """Columns ``keep`` of ``df`` plus, per field of ``fields``, the
    ``decoder(payload)[field.name]`` of each row's ``content_col``
    payload. Only ``keep`` and the payload cross the Arrow boundary."""
    src = df.select(*dict.fromkeys([*keep, content_col]))
    out_schema = T.StructType([df.schema[c] for c in keep] + list(fields))

    def run(batch):
        metas = [decoder(p) for p in batch.column(content_col).to_pylist()]
        cols = {c: batch.column(c) for c in keep}
        cols.update({f.name: [m[f.name] for m in metas] for f in fields})
        return cols

    return arrow_stage(src, out_schema, run)


def extract_features(
    df: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    decoder: Callable[[bytes], dict] = default_decoder,
) -> DataFrame:
    """(id, features array<double>) per media row — the input the
    similarity operators consume. Projection happens INSIDE the stage:
    only (id, content) cross the Arrow boundary, not the full row."""
    return _decode_stage(
        df, [id_col], content_col, decoder,
        [T.StructField("features", T.ArrayType(T.DoubleType()))])


def frame_sample_plan(
    df: DataFrame,
    every_n: int = 10,
    id_col: str = "media_id",
) -> DataFrame:
    """Video frame-sampling *plan*: emit (media_id, frame_index) rows for
    every ``every_n``-th frame given a frame_count metadata column. Pure
    native expressions (sequence + explode); the actual frame decode is a
    later Arrow stage over this plan (:func:`extract_frame_stats`)."""
    idx = F.sequence(F.lit(0), F.col("frame_count") - 1, F.lit(every_n))
    return df.select(id_col, F.explode(idx).alias("frame_index"))


def resize_images(
    df: DataFrame,
    content_col: str = "content",
    target_w: int = 224,
    target_h: int = 224,
    resizer: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Resize stage: binary in -> binary out plus (width, height) set to
    the target. ``resizer=None`` uses the REAL stdlib path
    (:func:`_default_resizer`: decode -> nearest-neighbor -> BMP);
    ``deterministic_fake_resizer`` keeps the payload's md5 lineage so
    plumbing tests can assert the transform ran per-row. Arrow batches
    carry the binaries; no shuffle is introduced — at corpus scale this
    stage pipelines directly after the scan."""
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != content_col]
        + [T.StructField(content_col, T.BinaryType())]
        + [T.StructField(c, T.IntegerType()) for c in ("width", "height")])
    fn = resizer if resizer is not None else _default_resizer
    keep = df.columns

    def run(batch):
        cols = {c: batch.column(c) for c in keep}
        cols[content_col] = [fn(p, target_w, target_h)
                             for p in batch.column(content_col).to_pylist()]
        cols["width"] = [target_w] * batch.num_rows
        cols["height"] = [target_h] * batch.num_rows
        return cols

    return arrow_stage(df, out_schema, run)


def _default_resizer(payload: bytes, w: int, h: int) -> bytes:
    """REAL stdlib resize: decode via :func:`default_decoder` (which
    exposes the raw pixel plane), nearest-neighbor sample to the target
    grid, re-encode as 24-bpp BMP (the one format the stdlib can write
    losslessly without a compressor). Pillow (:func:`pillow_resizer`)
    remains the fast-path with format-preserving re-encode and proper
    resampling filters."""
    meta = default_decoder(payload)
    src = meta.get("pixels")
    if src is None:
        raise ValueError(
            f"decoded {meta.get('format')!r} payload exposes no pixel "
            "plane to resize — pass resizer=pillow_resizer")
    sw, sh, ch = meta["width"], meta["height"], meta["pixel_channels"]
    out = bytearray(w * h * 3)
    for y in range(h):
        sy = min(sh - 1, y * sh // h)
        for x in range(w):
            sx = min(sw - 1, x * sw // w)
            o = (sy * sw + sx) * ch
            px = src[o: o + ch]
            r, g, b = (px[0], px[0], px[0]) if ch == 1 else \
                (px[0], px[1], px[2])
            d = (y * w + x) * 3
            out[d], out[d + 1], out[d + 2] = r, g, b
    return encode_bmp24_from_pixels(bytes(out), w, h)


def deterministic_fake_resizer(payload: bytes, w: int, h: int) -> bytes:
    """Content-derived fake: target dims + source digest, deterministic."""
    return f"{w}x{h}:".encode() + hashlib.md5(payload).digest()


# ---------------------------------------------------------------------------
# Audio: fixed-size sample-window chunk plan + feature stage
# ---------------------------------------------------------------------------

#: schema of a decoded-audio record appended by ``extract_audio_features``
AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def deterministic_fake_audio_decoder(payload: bytes) -> dict:
    """Content-derived fake audio decode: stable pseudo sample-rate /
    length / RMS from the md5 digest, so tests assert exact values."""
    d = hashlib.md5(payload).digest()
    return {
        "sample_rate": [8000, 16000, 44100][d[0] % 3],
        "n_samples": 8000 + int.from_bytes(d[1:4], "big") % 48000,
        "rms": round(d[4] / 255.0, 6),
    }


def audio_chunk_plan(
    df: DataFrame,
    chunk_samples: int = 16000,
    id_col: str = "media_id",
    n_samples_col: str = "n_samples",
) -> DataFrame:
    """Audio chunking *plan*: (media_id, chunk_index, start_sample,
    end_sample) rows covering ``n_samples`` in fixed windows — the audio
    twin of :func:`frame_sample_plan`. Pure native expressions
    (sequence + explode); the waveform decode consuming this plan is a
    later Arrow stage. No shuffle: the explode happens in the
    scan stage and each chunk row carries only ids and offsets."""
    n = F.col(n_samples_col)
    starts = F.sequence(F.lit(0), n - 1, F.lit(chunk_samples))
    out = df.select(id_col, n.alias("__n"), F.explode(starts).alias("start_sample"))
    return out.select(
        id_col,
        (F.col("start_sample") / chunk_samples).cast("int").alias("chunk_index"),
        F.col("start_sample").cast("long"),
        F.least(F.col("start_sample") + chunk_samples, F.col("__n"))
         .cast("long").alias("end_sample"),
    )


def extract_audio_features(
    df: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    decoder: Callable[[bytes], dict] = default_decoder,
) -> DataFrame:
    """(id, sample_rate, n_samples, rms) per audio row via
    :func:`_decode_stage`: only (id, content) cross the Arrow
    boundary."""
    return _decode_stage(df, [id_col], content_col, decoder,
                         AUDIO_META_SCHEMA.fields)


# ---------------------------------------------------------------------------
# Real codecs (stdlib — no dependency, run end-to-end in any container)
# ---------------------------------------------------------------------------
#
# The Pillow/ffmpeg seams below stay for rich formats, but these three
# are REAL decoders over real byte formats implemented with nothing but
# the standard library: WAV via ``wave`` + ``struct``, BMP via plain
# struct parsing (bottom-up BGR rows, 4-byte padding), PNG via ``zlib``
# inflate + full scanline unfiltering (all five filter types). Matching
# stdlib ENCODERS generate deterministic fixtures so the oracle can
# recompute every decoded quantity from the generator parameters.


def stdlib_wav_decoder(payload: bytes) -> dict:
    """Real WAV (RIFF PCM) decode with the stdlib ``wave`` module,
    matching the audio ``decoder`` contract of
    :func:`extract_audio_features`: sample_rate / n_samples from the
    header, rms computed from the actual PCM samples (16-bit mono)."""
    import io
    import math
    import struct
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise ValueError(
                f"stdlib_wav_decoder supports 16-bit mono PCM, got "
                f"width={w.getsampwidth()} channels={w.getnchannels()}"
            )
        n = w.getnframes()
        raw = w.readframes(n)
        samples = struct.unpack(f"<{n}h", raw)
        rms = math.sqrt(sum(s * s for s in samples) / n) if n else 0.0
        return {
            "sample_rate": w.getframerate(),
            "n_samples": n,
            "rms": rms,
            "first_sample": samples[0] if n else 0,
        }


def stdlib_bmp_decoder(payload: bytes) -> dict:
    """Real BMP decode (24-bpp uncompressed) from plain struct parsing:
    validates the BITMAPFILEHEADER/BITMAPINFOHEADER, then reads the
    bottom-up, 4-byte-padded BGR pixel rows and re-orders them to
    top-down RGB. Returns the image ``decoder`` contract
    (width/height/channels/format/features — features are the 4x4
    grayscale block means scaled to [-1, 1], like ``pillow_decoder``)
    plus ``px_sum``/``px_first`` over the decoded top-down RGB bytes so
    an oracle can check the decode byte-for-byte."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, width, height = struct.unpack_from("<IiI", payload, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if bpp != 24 or compression != 0:
        raise ValueError(f"stdlib_bmp_decoder supports 24-bpp BI_RGB, got bpp={bpp}")
    row_stride = (width * 3 + 3) & ~3
    # bottom-up BGR -> top-down RGB
    rgb = bytearray(width * height * 3)
    for y in range(height):
        src = data_off + (height - 1 - y) * row_stride
        dst = y * width * 3
        for x in range(width):
            b, g, r = payload[src + 3 * x: src + 3 * x + 3]
            rgb[dst + 3 * x] = r
            rgb[dst + 3 * x + 1] = g
            rgb[dst + 3 * x + 2] = b
    return {
        "width": width,
        "height": height,
        "channels": 3,
        "format": "bmp",
        "features": _gray_block_features(bytes(rgb), width, height, 3),
        "px_sum": sum(rgb),
        "px_first": rgb[0],
        "pixels": bytes(rgb),
        "pixel_channels": 3,
    }


def stdlib_png_decoder(payload: bytes) -> dict:
    """Real PNG decode with ``zlib``: chunk walk, IHDR parse, IDAT
    inflate, and full scanline UNFILTERING (None/Sub/Up/Average/Paeth).
    Supports bit depth 8, color types 0 (gray), 2 (RGB), 6 (RGBA),
    non-interlaced. Same return contract as :func:`stdlib_bmp_decoder`
    (px_sum/px_first over the unfiltered top-down pixel bytes)."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, width = 8, None
    idat = bytearray()
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4: pos + 8]
        body = payload[pos + 8: pos + 8 + length]
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or interlace != 0 or color not in (0, 2, 6):
                raise ValueError(
                    f"stdlib_png_decoder supports 8-bit gray/RGB/RGBA "
                    f"non-interlaced, got depth={depth} color={color} "
                    f"interlace={interlace}"
                )
            channels = {0: 1, 2: 3, 6: 4}[color]
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    out = bytearray(height * stride)
    prev = bytearray(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1: (y + 1) * (stride + 1)])
        _png_unfilter_line(line, prev, ftype, channels)
        out[y * stride: (y + 1) * stride] = line
        prev = line
    return {
        "width": width,
        "height": height,
        "channels": channels,
        "format": "png",
        "features": _gray_block_features(bytes(out), width, height, channels),
        "px_sum": sum(out),
        "px_first": out[0],
        "pixels": bytes(out),
        "pixel_channels": channels,
    }


def _png_paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_unfilter_line(line: bytearray, prev: bytes, ftype: int, bpp: int) -> None:
    """In-place inverse of PNG filter ``ftype`` (spec §9: 0=None 1=Sub
    2=Up 3=Average 4=Paeth); ``bpp`` = bytes per pixel."""
    if ftype == 0:
        return
    n = len(line)
    if ftype == 1:
        for i in range(n):
            a = line[i - bpp] if i >= bpp else 0
            line[i] = (line[i] + a) & 0xFF
    elif ftype == 2:
        for i in range(n):
            line[i] = (line[i] + prev[i]) & 0xFF
    elif ftype == 3:
        for i in range(n):
            a = line[i - bpp] if i >= bpp else 0
            line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
    elif ftype == 4:
        for i in range(n):
            a = line[i - bpp] if i >= bpp else 0
            c = prev[i - bpp] if i >= bpp else 0
            line[i] = (line[i] + _png_paeth(a, prev[i], c)) & 0xFF
    else:
        raise ValueError(f"unknown PNG filter type {ftype}")


def _gray_block_features(pixels: bytes, w: int, h: int, channels: int) -> list[float]:
    """4x4 grid of mean-grayscale block features scaled to [-1, 1] — the
    stdlib analogue of ``pillow_decoder``'s thumbnail features (mean
    pooling rather than Pillow's resampling, so values differ from PIL
    but are deterministic and library-free)."""
    feats = []
    for by in range(4):
        y0, y1 = by * h // 4, max(by * h // 4 + 1, (by + 1) * h // 4)
        for bx in range(4):
            x0, x1 = bx * w // 4, max(bx * w // 4 + 1, (bx + 1) * w // 4)
            tot = cnt = 0
            for y in range(y0, min(y1, h)):
                for x in range(x0, min(x1, w)):
                    o = (y * w + x) * channels
                    px = pixels[o: o + channels]
                    gray = sum(px[:3]) / min(3, channels) if channels >= 3 else px[0]
                    tot += gray
                    cnt += 1
            feats.append((tot / cnt if cnt else 0.0) / 255.0 * 2.0 - 1.0)
    return feats


#: schema appended by ``decode_image_stats`` — the byte-exactness stats
#: (px_sum/px_first over decoded top-down RGB bytes) beside the metadata
IMAGE_STATS_SCHEMA = T.StructType(
    IMAGE_META_SCHEMA.fields
    + [T.StructField("px_sum", T.LongType()),
       T.StructField("px_first", T.IntegerType())]
)


def decode_image_stats(
    df: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    decoder: Callable[[bytes], dict] = stdlib_bmp_decoder,
) -> DataFrame:
    """(id, width, height, channels, format, px_sum, px_first) per image
    via :func:`_decode_stage` — the oracle-checkable decode
    stage: px_sum/px_first are computed from the DECODED pixel bytes, so
    a value match proves the codec actually inverted the byte format
    (BMP bottom-up BGR rows, PNG scanline filters), not just read a
    header. Only (id, content) cross the Arrow boundary."""
    return _decode_stage(df, [id_col], content_col, decoder,
                         IMAGE_STATS_SCHEMA.fields)


# --- deterministic stdlib ENCODERS (fixture generation) --------------------

def stdlib_jpeg_decoder(payload: bytes) -> dict:
    """Real baseline-JPEG decode via the pure-stdlib codec
    (operators/jpegcodec.py: marker walk, canonical Huffman from DHT,
    entropy decode, dequantize, separable float IDCT, YCbCr->RGB for
    3-component streams). Same return contract as
    :func:`stdlib_bmp_decoder` — px_sum/px_first over the decoded
    top-down pixel bytes prove the whole pipeline, not a header read.
    Progressive/subsampled streams raise ValueError (Pillow fast-path
    in :func:`default_decoder` covers them when installed)."""
    from apde_etl_spark.operators.jpegcodec import decode_baseline_jpeg

    width, height, channels, px = decode_baseline_jpeg(payload)
    return {
        "width": width,
        "height": height,
        "channels": channels,
        "format": "jpeg",
        "features": _gray_block_features(px, width, height, channels),
        "px_sum": sum(px),
        "px_first": px[0],
        "pixels": px,
        "pixel_channels": channels,
    }


def encode_bmp24_from_pixels(rgb: bytes, width: int, height: int) -> bytes:
    """24-bpp uncompressed BMP from a top-down RGB byte plane — the
    stdlib lossless write target for the real resizer (bottom-up BGR
    rows + 4-byte padding on disk, like :func:`encode_bmp24`)."""
    import struct

    row_stride = (width * 3 + 3) & ~3
    pix = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(width):
            o = (y * width + x) * 3
            row += bytes((rgb[o + 2], rgb[o + 1], rgb[o]))  # BGR
        row += b"\x00" * (row_stride - len(row))
        pix += row
    data_off = 14 + 40
    file_size = data_off + len(pix)
    hdr = b"BM" + struct.pack("<IHHI", file_size, 0, 0, data_off)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       len(pix), 2835, 2835, 0, 0)
    return hdr + info + bytes(pix)


def encode_wav_square(
    amplitude: int, n_samples: int, sample_rate: int
) -> bytes:
    """16-bit mono PCM WAV holding a ±amplitude square wave (samples
    alternate +A, -A starting at +A). Every sample has |s| = A, so the
    exact RMS is A — an oracle can state the decoded RMS in closed form."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        frames = b"".join(
            struct.pack("<h", amplitude if i % 2 == 0 else -amplitude)
            for i in range(n_samples)
        )
        w.writeframes(frames)
    return buf.getvalue()


def pixel_value(x: int, y: int, c: int, seed: int) -> int:
    """The fixture pixel formula shared by encoder, decoder test, and
    SQL oracle: ``(3x + 7y + 11c + seed) mod 256``."""
    return (3 * x + 7 * y + 11 * c + seed) % 256


def encode_bmp24(width: int, height: int, seed: int) -> bytes:
    """24-bpp uncompressed BMP with pixels from :func:`pixel_value`
    (c = 0/1/2 for R/G/B, row-major TOP-DOWN logical order). Stored the
    way real BMPs are: bottom-up rows, BGR byte order, 4-byte padding —
    so a decoder must actually invert the layout to read it."""
    import struct

    row_stride = (width * 3 + 3) & ~3
    pix = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(width):
            r = pixel_value(x, y, 0, seed)
            g = pixel_value(x, y, 1, seed)
            b = pixel_value(x, y, 2, seed)
            row += bytes((b, g, r))  # BGR
        row += b"\x00" * (row_stride - len(row))
        pix += row
    data_off = 14 + 40
    file_size = data_off + len(pix)
    hdr = b"BM" + struct.pack("<IHHI", file_size, 0, 0, data_off)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       len(pix), 2835, 2835, 0, 0)
    return hdr + info + bytes(pix)


def encode_png_rgb(width: int, height: int, seed: int) -> bytes:
    """8-bit RGB PNG with pixels from :func:`pixel_value`, scanline
    filters CYCLING 0..4 by row (None/Sub/Up/Average/Paeth) so a decoder
    must implement every unfilter path, zlib-compressed IDAT."""
    import struct
    import zlib

    stride = width * 3
    raw_rows = []
    for y in range(height):
        row = bytearray()
        for x in range(width):
            row += bytes(pixel_value(x, y, c, seed) for c in range(3))
        raw_rows.append(row)

    filtered = bytearray()
    prev = bytearray(stride)
    for y, row in enumerate(raw_rows):
        ftype = y % 5
        enc = bytearray(stride)
        for i in range(stride):
            a = row[i - 3] if i >= 3 else 0
            b = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if ftype == 0:
                enc[i] = row[i]
            elif ftype == 1:
                enc[i] = (row[i] - a) & 0xFF
            elif ftype == 2:
                enc[i] = (row[i] - b) & 0xFF
            elif ftype == 3:
                enc[i] = (row[i] - (a + b) // 2) & 0xFF
            else:
                enc[i] = (row[i] - _png_paeth(a, b, c)) & 0xFF
        filtered += bytes([ftype]) + enc
        prev = row

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(filtered)))
            + chunk(b"IEND", b""))


# ---------------------------------------------------------------------------
# Real codecs (optional dependency activation — Pillow)
# ---------------------------------------------------------------------------

def pillow_decoder(payload: bytes) -> dict:
    """Real image decode via Pillow, matching the ``decoder`` contract of
    :func:`decode_images` / :func:`extract_features`: width/height/
    channels/format plus a FEATURE_DIM-dim feature vector (4x4 grayscale
    thumbnail, scaled to [-1, 1]). Import stays inside the function so
    the module loads without Pillow; tests/test_multimodal_codecs.py
    activates this path end-to-end whenever the dependency exists
    (pytest.importorskip) — the seam is provably one pip install from
    working."""
    import io

    from PIL import Image

    with Image.open(io.BytesIO(payload)) as im:
        im.load()
        fmt = (im.format or "unknown").lower()
        channels = len(im.getbands())
        thumb = im.convert("L").resize((4, 4))
        feats = [px / 255.0 * 2.0 - 1.0 for px in thumb.getdata()]
        return {
            "width": im.width,
            "height": im.height,
            "channels": channels,
            "format": fmt,
            "features": feats,
        }


def pillow_resizer(payload: bytes, w: int, h: int) -> bytes:
    """Real resize via Pillow, matching the ``resizer`` contract of
    :func:`resize_images`: re-encodes in the source format (PNG when the
    source format is unknown)."""
    import io

    from PIL import Image

    with Image.open(io.BytesIO(payload)) as im:
        fmt = im.format or "PNG"
        out = im.resize((w, h))
        buf = io.BytesIO()
        out.save(buf, format=fmt)
        return buf.getvalue()


# ---------------------------------------------------------------------------
# Real VIDEO codec (stdlib): YUV4MPEG2 (Y4M) uncompressed container
# ---------------------------------------------------------------------------
#
# Y4M is the standard uncompressed video interchange container (mjpegtools
# lineage; what ffmpeg emits with -f yuv4mpegpipe): an ASCII stream header
# ``YUV4MPEG2 W<w> H<h> F<num>:<den> ... C444\n`` followed by frames, each
# a ``FRAME\n`` marker plus raw planar pixel data. With C444 every frame
# is exactly 3*w*h bytes (three full-resolution planes), so frame k lives
# at a computable offset — random access without an index, which is why
# the sampled-frame decode below can seek straight to the planned frames.


def encode_y4m(width: int, height: int, n_frames: int, seed: int,
               fps: tuple[int, int] = (25, 1)) -> bytes:
    """C444 Y4M fixture: frame ``f``'s plane ``c`` holds
    ``frame_pixel_value(x, y, c, f, seed)`` at (x, y) — the
    :func:`pixel_value` formula extended with a per-frame term so an
    oracle can state any decoded frame's byte sum in closed form."""
    hdr = (f"YUV4MPEG2 W{width} H{height} F{fps[0]}:{fps[1]} "
           f"Ip A1:1 C444\n").encode("ascii")
    out = bytearray(hdr)
    for f in range(n_frames):
        out += b"FRAME\n"
        for c in range(3):
            for y in range(height):
                for x in range(width):
                    out.append(frame_pixel_value(x, y, c, f, seed))
    return bytes(out)


def frame_pixel_value(x: int, y: int, c: int, f: int, seed: int) -> int:
    """Video fixture pixel formula shared by encoder, decoder test, and
    SQL oracle: ``(3x + 7y + 11c + 13f + seed) mod 256``."""
    return (3 * x + 7 * y + 11 * c + 13 * f + seed) % 256


def stdlib_y4m_decoder(payload: bytes) -> dict:
    """Real Y4M container parse with nothing but bytes/str: validates
    the magic, reads W/H/F parameters, walks the FRAME markers (each
    may carry its own parameters up to the newline, per spec), and
    indexes every frame's plane-data offset. Only C444 is supported —
    the one colorspace where all three planes are full-resolution.
    Returns ``{width, height, n_frames, fps_num, fps_den,
    frame_offsets, frame_bytes}``; pair with :func:`y4m_frame` for the
    pixel bytes of one frame."""
    nl = payload.index(b"\n")
    parts = payload[:nl].decode("ascii").split(" ")
    if parts[0] != "YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 payload")
    params = {p[0]: p[1:] for p in parts[1:] if p}
    width, height = int(params["W"]), int(params["H"])
    fps_num, fps_den = (int(v) for v in params["F"].split(":"))
    cs = params.get("C", "420")
    if cs != "444":
        raise ValueError(f"stdlib_y4m_decoder supports C444, got C{cs}")
    frame_bytes = 3 * width * height
    offsets: list[int] = []
    pos = nl + 1
    while pos < len(payload):
        if payload[pos:pos + 5] != b"FRAME":
            raise ValueError(f"missing FRAME marker at offset {pos}")
        data = payload.index(b"\n", pos) + 1
        if data + frame_bytes > len(payload):
            raise ValueError("truncated frame payload")
        offsets.append(data)
        pos = data + frame_bytes
    return {
        "width": width,
        "height": height,
        "n_frames": len(offsets),
        "fps_num": fps_num,
        "fps_den": fps_den,
        "frame_offsets": offsets,
        "frame_bytes": frame_bytes,
    }


def y4m_frame(payload: bytes, meta: dict, frame_index: int) -> bytes:
    """Raw plane bytes (3*w*h, planes Y/Cb/Cr in file order) of one
    decoded frame — a slice at the indexed offset, because C444 frames
    are fixed-size: the random access that makes sampled-frame decode
    seek-only instead of scan-all."""
    off = meta["frame_offsets"][frame_index]
    return payload[off:off + meta["frame_bytes"]]


def extract_video_meta(
    df: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    decoder: Callable[[bytes], dict] = stdlib_y4m_decoder,
) -> DataFrame:
    """(id, width, height, n_frames, fps_num, fps_den) per video row via
    :func:`_decode_stage` — the container-header stage whose
    n_frames output feeds :func:`frame_sample_plan`. Only (id, content)
    cross the Arrow boundary; no shuffle."""
    return _decode_stage(
        df, [id_col], content_col, decoder,
        [T.StructField(c, T.IntegerType())
         for c in ("width", "height", "n_frames", "fps_num", "fps_den")])


def extract_frame_stats(
    df: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    frame_col: str = "frame_index",
    decoder: Callable[[bytes], dict] = stdlib_y4m_decoder,
) -> DataFrame:
    """(id, frame_index, px_first, px_sum) for PLANNED frames: the
    decode stage that consumes a :func:`frame_sample_plan` joined back
    onto the binary column. Each Arrow batch re-parses only the
    container header and slices the requested frame at its computed
    offset (C444 frames are fixed-size — seek, not scan). At 100 TB the
    join is id-to-id against the plan (broadcastable: the plan is ids +
    small ints) and the stage stays scan-shaped; batching all of one
    file's sampled frames per row group amortizes the header parse."""
    out_schema = T.StructType([
        df.schema[id_col], T.StructField("frame_index", T.IntegerType()),
        T.StructField("px_first", T.IntegerType()),
        T.StructField("px_sum", T.LongType())])
    # one parse per media id and task: ids map 1:1 to payloads, while
    # per-FRAME parameters make (len, prefix) keys unsafe
    meta_cache: dict = {}

    def run(batch):
        firsts, sums = [], []
        for mid, raw, fi in zip(batch.column(id_col).to_pylist(),
                                batch.column(content_col).to_pylist(),
                                batch.column(frame_col).to_pylist()):
            m = meta_cache.get(mid)
            if m is None:
                m = meta_cache[mid] = decoder(raw)
            fr = y4m_frame(raw, m, int(fi))
            firsts.append(fr[0])
            sums.append(sum(fr))
        return {id_col: batch.column(id_col),
                "frame_index": batch.column(frame_col),
                "px_first": firsts, "px_sum": sums}

    return arrow_stage(df.select(id_col, content_col, frame_col),
                       out_schema, run)
