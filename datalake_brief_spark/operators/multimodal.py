"""Multimodal column handling (SURVEY §2.14): image/audio/video as opaque
``binary`` columns plus typed metadata structs.

- ``attach_media_metadata``  — typed struct (modality, byte size, content
                               hash) from pure expressions.
- ``extract_features``       — mapInPandas over Arrow batches; per batch one
                               vectorized pass produces fixed-width feature
                               vectors. The real decoder plugs in behind
                               ``decoder=``; the default is a deterministic
                               byte-statistics baseline.
- ``decode_image``           — REAL pure-numpy decode for 24-bit BI_RGB
                               BMP, binary P6 PPM, AND 8-bit PNG (actual
                               zlib inflate + all five scanline unfilters —
                               stdlib-only, no codec dependency); remaining
                               codec formats (JPEG/WebP/...) route to an
                               import-guarded Pillow fallback, else raise
                               NotImplementedError with a clear message —
                               a deployment can always inject its own via
                               ``extract_features(decoder=...)``.
- ``decode_wav``             — REAL pure-numpy RIFF/WAVE PCM decode (8/16
                               bit, any channel count), chunk-walking the
                               container the way a real reader must.
- ``image_statistics``       — decode → per-image typed stats, the Arrow
                               batch shape a GPU featurizer needs.

At 100 TB the binary payloads dominate IO: keep them in their own parquet
column chunk (they compress independently), filter on metadata columns
first so pruned row groups never decode payload bytes.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_md5", T.StringType()),
    ]
)


def attach_media_metadata(
    df: DataFrame, binary_col: str = "payload", modality: str = "image", out: str = "media_meta"
) -> DataFrame:
    """Typed metadata struct computed JVM-side; no payload leaves the JVM."""
    b = F.col(binary_col)
    return df.withColumn(
        out,
        F.struct(
            F.lit(modality).alias("modality"),
            F.octet_length(b).cast("long").alias("n_bytes"),
            F.md5(b).alias("content_md5"),
        ),
    )


def encode_bmp(arr: "np.ndarray") -> bytes:
    """Encode an (H, W, 3) uint8 RGB array (row 0 = top) as a 24-bit
    uncompressed BI_RGB .bmp file: BITMAPFILEHEADER + BITMAPINFOHEADER,
    BGR byte order, bottom-up scanlines, rows padded to 4 bytes — the
    canonical layout every BMP reader must handle."""
    import struct

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected (H, W, 3) uint8 RGB, got shape {a.shape}")
    h, w = a.shape[:2]
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    bgr = a[::-1, :, ::-1]  # bottom-up scanlines, BGR within each pixel
    rows = []
    zeros = b"\x00" * pad
    for r in range(h):
        rows.append(bgr[r].tobytes() + zeros)
    pixel_data = b"".join(rows)
    offset = 14 + 40
    file_size = offset + len(pixel_data)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0)
    return header + info + pixel_data


def decode_bmp(payload: bytes) -> "np.ndarray":
    """Decode a 24-bit uncompressed BI_RGB .bmp to (H, W, 3) uint8 RGB with
    row 0 = top: parses both headers, honors the pixel-data offset, the
    4-byte scanline padding, BGR→RGB order, and both bottom-up (positive
    height) and top-down (negative height) layouts."""
    import struct

    buf = bytes(payload)
    if len(buf) < 54 or buf[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    offset = struct.unpack_from("<I", buf, 10)[0]
    (
        hdr_size,
        width,
        height,
        _planes,
        bit_count,
        compression,
    ) = struct.unpack_from("<IiiHHI", buf, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    if bit_count != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24-bit uncompressed BI_RGB BMP is supported "
            f"(got bit_count={bit_count}, compression={compression})"
        )
    top_down = height < 0
    h, w = abs(height), width
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    need = offset + stride * h
    if len(buf) < need:
        raise ValueError(f"truncated BMP: need {need} bytes, have {len(buf)}")
    data = np.frombuffer(buf, dtype=np.uint8, count=stride * h, offset=offset)
    rows = data.reshape(h, stride)[:, :row_bytes].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB


def encode_ppm(arr: "np.ndarray") -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as binary P6 PPM."""
    a = np.asarray(arr, dtype=np.uint8)
    h, w = a.shape[:2]
    return f"P6\n{w} {h}\n255\n".encode("ascii") + a.tobytes()


def decode_ppm(payload: bytes) -> "np.ndarray":
    """Decode binary P6 PPM (whitespace/comment-tolerant header) to
    (H, W, 3) uint8 RGB."""
    buf = bytes(payload)
    if buf[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # Header: magic, width, height, maxval — separated by whitespace,
    # '#' comments run to end-of-line.
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(buf) and buf[pos : pos + 1].isspace():
            pos += 1
        if pos < len(buf) and buf[pos : pos + 1] == b"#":
            while pos < len(buf) and buf[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(buf[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise NotImplementedError(f"only maxval=255 PPM supported, got {maxval}")
    need = w * h * 3
    data = np.frombuffer(buf, dtype=np.uint8, count=need, offset=pos)
    return data.reshape(h, w, 3).copy()


def _pillow_decode(buf: bytes) -> "np.ndarray":
    """Import-guarded Pillow fallback for codec formats (JPEG, WebP, ...)
    the native decoders don't cover. Raises NotImplementedError — not
    ImportError — when Pillow is absent, so callers see one stable
    "inject a decoder" contract either way."""
    try:
        import io

        from PIL import Image
    except ImportError:
        raise NotImplementedError(
            "compressed image format beyond native support (24-bit BMP, "
            "P6 PPM, 8-bit PNG) and Pillow is not installed; pip install "
            "Pillow or inject a decoder via extract_features(decoder=...)"
        ) from None
    with Image.open(io.BytesIO(buf)) as im:
        return np.asarray(im.convert("RGB"), dtype=np.uint8)


def decode_image(payload: bytes) -> "np.ndarray":
    """Decode an image payload to (H, W, 3) uint8 RGB. Native pure-numpy
    decoders cover 24-bit BMP, binary P6 PPM, and 8-bit PNG (real zlib
    inflate + unfilter); other codec formats (JPEG, WebP, ...) route to
    Pillow when installed, else raise NotImplementedError with the
    inject-a-decoder contract."""
    buf = bytes(payload)
    if buf[:2] == b"BM":
        return decode_bmp(buf)
    if buf[:2] == b"P6":
        return decode_ppm(buf)
    if buf[:8] == _PNG_SIG:
        try:
            return decode_png(buf)
        except NotImplementedError:
            # 16-bit / palette / interlaced PNG: Pillow handles these
            return _pillow_decode(buf)
    return _pillow_decode(buf)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(arr: "np.ndarray", filter_mode: str = "cycle") -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as a real zlib-compressed
    8-bit truecolor PNG (IHDR + IDAT + IEND, CRC-correct).

    ``filter_mode``: ``"none"`` writes every scanline with filter 0;
    ``"cycle"`` (default) cycles scanline filters 0→4 so a round-trip
    exercises every unfilter path in :func:`decode_png` — byte-exact
    output either way, the filter only changes the compressed stream."""
    import struct
    import zlib

    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"expected (H, W, 3) RGB array, got {a.shape}")
    h, w = a.shape[:2]
    bpp = 3
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.uint8)
    for y in range(h):
        row = a[y].reshape(-1)
        f = (y % 5) if filter_mode == "cycle" else 0
        left = np.concatenate([np.zeros(bpp, dtype=np.uint8), row[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.uint8), prev[:-bpp]])
        if f == 0:
            enc = row
        elif f == 1:
            enc = row - left
        elif f == 2:
            enc = row - prev
        elif f == 3:
            enc = row - ((left.astype(np.uint16) + prev) // 2).astype(np.uint8)
        else:  # 4: Paeth
            enc = row - _paeth(left, prev, upleft)
        raw.append(f)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit truecolor
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def _paeth(left: "np.ndarray", up: "np.ndarray", upleft: "np.ndarray") -> "np.ndarray":
    """Vectorized Paeth predictor (PNG filter 4), uint8 in/out."""
    a = left.astype(np.int16)
    b = up.astype(np.int16)
    c = upleft.astype(np.int16)
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def decode_png(payload: bytes) -> "np.ndarray":
    """Decode a non-interlaced 8-bit PNG (grayscale, RGB, or RGBA —
    color types 0/2/6) to (H, W, 3) uint8 RGB. Real inflate (zlib) +
    all five scanline unfilters; gray is broadcast to RGB, alpha is
    dropped. Palette/16-bit/interlaced PNGs need a codec library —
    inject one via ``extract_features(decoder=...)``."""
    import struct
    import zlib

    buf = bytes(payload)
    if buf[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or color not in (0, 2, 6):
        raise NotImplementedError(
            f"only non-interlaced 8-bit gray/RGB/RGBA PNG supported "
            f"(depth={depth}, color_type={color}, interlace={interlace}); "
            f"inject a codec-backed decoder via extract_features(decoder=...)"
        )
    ch = {0: 1, 2: 3, 6: 4}[color]
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"PNG raw stream is {len(raw)} bytes, expected {h * (stride + 1)}"
        )
    # Unfilter into one flat bytearray with per-byte Python arithmetic
    # (r13, guide §4.2 "make the per-task work fast"): the left-dependent
    # filters (1/3/4) are inherently sequential per PIXEL, and for them a
    # plain-int loop beats per-pixel numpy slicing ~5x at typical strides
    # (the old numpy form paid ~5 array-op dispatches per pixel; measured
    # 137 µs → 29 µs per 6×5 image, 12.7 ms → 1.8 ms per 64×48). The two
    # vectorizable filters (0 none / 2 up) take a zero-copy numpy view of
    # the same buffers when the scanline is wide enough to amortize it.
    out = bytearray(h * stride)
    np_rows = stride >= 1024  # numpy wins on wide scanlines for filters 0/2
    for y in range(h):
        f = raw[y * (stride + 1)]
        src = y * (stride + 1) + 1
        dst = y * stride
        p = dst - stride
        if f == 0:
            out[dst : dst + stride] = raw[src : src + stride]
        elif f == 2:
            if y == 0:
                out[dst : dst + stride] = raw[src : src + stride]
            elif np_rows:
                row = np.frombuffer(raw, np.uint8, stride, src)
                prev = np.frombuffer(
                    memoryview(out)[p : p + stride], np.uint8
                )
                out[dst : dst + stride] = (row + prev).tobytes()
            else:
                for x in range(stride):
                    out[dst + x] = (raw[src + x] + out[p + x]) & 0xFF
        elif f == 1:
            out[dst : dst + stride] = raw[src : src + stride]
            for x in range(ch, stride):
                out[dst + x] = (out[dst + x] + out[dst + x - ch]) & 0xFF
        elif f == 3:
            for x in range(stride):
                left = out[dst + x - ch] if x >= ch else 0
                up = out[p + x] if y > 0 else 0
                out[dst + x] = (raw[src + x] + ((left + up) >> 1)) & 0xFF
        elif f == 4:
            for x in range(stride):
                a = out[dst + x - ch] if x >= ch else 0
                b = out[p + x] if y > 0 else 0
                c = out[p + x - ch] if (y > 0 and x >= ch) else 0
                q = a + b - c
                pa, pb, pc = abs(q - a), abs(q - b), abs(q - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out[dst + x] = (raw[src + x] + pr) & 0xFF
        else:
            raise ValueError(f"invalid PNG scanline filter {f}")
    px = np.frombuffer(bytes(out), dtype=np.uint8).reshape(h, w, ch)
    if ch == 1:
        return np.repeat(px, 3, axis=2).copy()
    return px[:, :, :3].copy()


def encode_wav(samples: "np.ndarray", sample_rate: int = 16000) -> bytes:
    """Encode int16 PCM samples — shape (n,) mono or (n, ch) — as a
    RIFF/WAVE file (fmt + data chunks)."""
    import struct

    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    data = s.tobytes()
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple["np.ndarray", int]:
    """Decode a RIFF/WAVE PCM payload to ((n_samples, n_channels) int16,
    sample_rate). Walks the chunk list (fmt/data can be preceded by LIST,
    fact, ... chunks; chunks are word-aligned), supports 8-bit (rescaled
    to int16) and 16-bit PCM."""
    import struct

    buf = bytes(payload)
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(buf):
        cid, size = struct.unpack_from("<4sI", buf, pos)
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError(f"truncated WAVE fmt chunk ({len(body)} bytes)")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAVE missing fmt or data chunk")
    audio_format, ch, sample_rate, _br, _ba, bits = fmt
    if ch == 0:
        raise ValueError("WAVE declares 0 channels")
    if audio_format != 1:
        raise NotImplementedError(f"only PCM WAVE supported (format {audio_format})")
    if bits == 16:
        s = np.frombuffer(data, dtype="<i2")
    elif bits == 8:  # unsigned 8-bit convention
        s = (np.frombuffer(data, dtype=np.uint8).astype(np.int16) - 128) * 256
    else:
        raise NotImplementedError(f"unsupported PCM bit depth {bits}")
    n = len(s) // ch
    return s[: n * ch].reshape(n, ch).copy(), sample_rate


def _fake_byte_features(payloads: pd.Series, n_features: int) -> np.ndarray:
    """Deterministic decode-free stand-in: byte-histogram features.
    Shapes and dtypes match what a real embedding extractor would emit."""
    out = np.zeros((len(payloads), n_features), dtype=np.float32)
    for i, p in enumerate(payloads):
        if p is None or len(p) == 0:
            continue
        arr = np.frombuffer(bytes(p), dtype=np.uint8)
        hist = np.bincount(arr % n_features, minlength=n_features).astype(np.float32)
        out[i] = hist / max(len(arr), 1)
    return out


def extract_features(
    df: DataFrame,
    binary_col: str = "payload",
    id_col: str = "doc_id",
    n_features: int = 16,
    decoder: Callable[[pd.Series, int], "np.ndarray"] | None = None,
) -> DataFrame:
    """Feature extraction over Arrow batches via mapInPandas.

    The per-batch contract is what a GPU/codec stage needs at scale: the UDF
    receives whole Arrow record batches (not rows), emits fixed-width float
    vectors, and the output schema is declared so downstream plans stay
    columnar. Default ``decoder`` is the deterministic fake above.
    """
    fn = decoder or _fake_byte_features
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = fn(pdf[binary_col], n_features)
            yield pd.DataFrame({id_col: pdf[id_col], "features": list(feats)})

    return df.select(id_col, binary_col).mapInPandas(run, schema=out_schema)


def image_statistics(
    df: DataFrame,
    binary_col: str = "payload",
    id_col: str = "doc_id",
    on_error: str = "fail",
) -> DataFrame:
    """REAL decode → per-image typed statistics over Arrow batches: each
    payload is decoded (``decode_image``: BMP/PPM/PNG) and reduced to
    ``(id, width, height, mean_r, mean_g, mean_b, row0_mean)`` — the exact
    batch shape a GPU featurizer slots into. Channel means are sensitive
    to the BGR→RGB swap and row0_mean to the bottom-up flip, so the
    driver-gate oracle catches a decoder that parses bytes but gets the
    layout wrong. Stats are float64 over exact integer sums (order-
    independent), rounded at the projection.

    ``on_error``: at 100 TB one corrupt payload must not kill the job —
    ``'fail'`` raises (default: correctness gates want loud failures),
    ``'null'`` emits the id with NULL stats (quarantine with
    ``WHERE width IS NULL``), ``'skip'`` drops the row."""
    if on_error not in ("fail", "null", "skip"):
        raise ValueError(f"on_error must be fail|null|skip, got {on_error!r}")
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("mean_r", T.DoubleType()),
            T.StructField("mean_g", T.DoubleType()),
            T.StructField("mean_b", T.DoubleType()),
            T.StructField("row0_mean", T.DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, p in zip(pdf[id_col], pdf[binary_col]):
                # The WHOLE per-payload computation is governed: corrupt
                # payloads surface as struct.error / IndexError (zero-
                # dimension images) / ZeroDivisionError as readily as
                # ValueError, and all of them must honor on_error.
                try:
                    img = decode_image(p).astype(np.float64)
                    if img.size == 0:
                        # a zero-pixel image is corrupt, not a statistic:
                        # route through on_error instead of emitting NaNs
                        raise ValueError("zero-pixel image")
                    row = (
                        i,
                        img.shape[1],
                        img.shape[0],
                        round(float(img[:, :, 0].mean()), 6),
                        round(float(img[:, :, 1].mean()), 6),
                        round(float(img[:, :, 2].mean()), 6),
                        round(float(img[0].mean()), 6),
                    )
                except Exception:
                    if on_error == "fail":
                        raise
                    if on_error == "null":
                        rows.append((i, None, None, None, None, None, None))
                    continue
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.select(id_col, binary_col).mapInPandas(run, schema=out_schema)


def audio_statistics(
    df: DataFrame,
    binary_col: str = "payload",
    id_col: str = "doc_id",
    on_error: str = "fail",
) -> DataFrame:
    """REAL decode → per-clip typed statistics: each payload is decoded
    (``decode_wav``: RIFF chunk walk, PCM) and reduced to
    ``(id, n_samples, sample_rate, mean_sample, rms)``. Sums of int16
    values/squares are exactly representable doubles, so the statistics
    are order-independent and oracle-matchable. ``on_error`` as in
    :func:`image_statistics` (fail | null | skip)."""
    if on_error not in ("fail", "null", "skip"):
        raise ValueError(f"on_error must be fail|null|skip, got {on_error!r}")
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("mean_sample", T.DoubleType()),
            T.StructField("rms", T.DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, p in zip(pdf[id_col], pdf[binary_col]):
                try:
                    s, rate = decode_wav(p)
                    if s.shape[0] == 0:
                        # legitimate zero-length clip: typed NULL stats,
                        # never a NaN (NULL is oracle-comparable, NaN isn't)
                        row = (i, 0, rate, None, None)
                    else:
                        x = s.astype(np.float64)
                        row = (
                            i,
                            s.shape[0],
                            rate,
                            round(float(x.mean()), 6),
                            round(float(np.sqrt((x**2).mean())), 6),
                        )
                except Exception:
                    if on_error == "fail":
                        raise
                    if on_error == "null":
                        rows.append((i, None, None, None, None))
                    continue
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.select(id_col, binary_col).mapInPandas(run, schema=out_schema)


def sample_frames(
    df: DataFrame,
    binary_col: str = "payload",
    id_col: str = "doc_id",
    every_n_bytes: int = 1024,
    max_frames: int = 8,
) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: emits (id, frame_idx,
    frame_bytes) rows. Real codecs plug into the same shape; the stand-in
    slices the payload at fixed offsets (deterministic, dependency-free)."""
    b = F.col(binary_col)
    n_frames = F.least(
        F.greatest((F.octet_length(b) / every_n_bytes).cast("int"), F.lit(1)),
        F.lit(max_frames),
    )
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_frames - 1),
                lambda i: F.substring(b, i * every_n_bytes + 1, every_n_bytes),
            )
        ).alias("frame_idx", "frame_bytes"),
    )
