"""Multimodal column handling (SURVEY §2.10): image, audio and video as
opaque ``binary`` payloads with typed metadata, decoded and featurized
through Arrow-batched ``mapInPandas`` operators.

The row-map seam: every operator is a per-row generator handed to
:func:`_map_rows`, which streams the Arrow record batches, zips the
named input columns, flat-maps the generator over them (a row may emit
no, one or many output rows) and builds each output frame in the
column order of the declared schema; Arrow coerces the Python values
to the schema's types. Plan stability: the helper's inner function is
named ``run`` and it adds no projection before ``mapInPandas``, so
each operator's optimized plan is the one a hand-written batch loop
over the same input gives.

The codec table: ``_CODECS`` maps a payload format to the encoder of
its synthetic test pattern and to its pixel decoder. The codecs are
pure Python over the stdlib — 24-bit BMP, zlib PNG, LZW GIF (still and
animated) and PCM WAV — so :func:`encode_synthetic` builds real
containers executor-side and :func:`decode_pixels` decodes a
mixed-format frame, dispatching each row on its ``format`` column.

Scale design: payloads stay in executor memory as Arrow binary columns
and never cross a shuffle; feature outputs are narrow typed columns.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _map_rows(
    df: DataFrame, schema: str, fn: Callable[..., Iterable[tuple]], *cols: str
) -> DataFrame:
    """``mapInPandas`` of the per-row generator ``fn``: each Arrow
    batch's ``cols`` are zipped row by row, every tuple ``fn(*values)``
    yields is one output row, in the column order of the DDL
    ``schema``."""
    names = [field.split()[0] for field in schema.split(",")]

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd  # local import: executed on executors

        for pdf in batches:
            rows = [out for vals in zip(*(pdf[c] for c in cols)) for out in fn(*vals)]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema=schema)


#: output schema of the feature-extraction stage
FEATURE_SCHEMA = (
    "item_id bigint, n_bytes int, format string, "
    "width int, height int, feature_hash bigint"
)


def to_binary_payloads(df: DataFrame, id_col: str, payload_col: str, fmt: str) -> DataFrame:
    """Normalize any payload-ish column into the engine's multimodal
    shape: (item_id, payload binary, format string, n_bytes int)."""
    return df.select(
        F.col(id_col).cast("long").alias("item_id"),
        F.col(payload_col).cast("binary").alias("payload"),
        F.lit(fmt).alias("format"),
        F.octet_length(F.col(payload_col).cast("binary")).cast("int").alias("n_bytes"),
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads: width,
    height and a feature hash derived deterministically from the bytes
    (first/last byte, length), so the whole plumbing — schema,
    batching, byte access — is checkable against an oracle."""

    def rows(item_id, payload, fmt):
        b = payload or b""
        first, last = (b[0], b[-1]) if b else (0, 0)
        yield (
            item_id,
            len(b),
            fmt,
            first % 64 + 1,
            last % 64 + 1,
            len(b) * 1_000_003 + first * 31 + last,
        )

    return _map_rows(df, FEATURE_SCHEMA, rows, "item_id", "payload", "format")


#: output schema of the resize stage (payload in, payload out)
RESIZE_SCHEMA = "item_id bigint, payload binary, n_bytes int, format string"

#: resize_payloads keeps at most this many bytes of each payload
RESIZE_TARGET_BYTES = 64


def resize_payloads(df: DataFrame) -> DataFrame:
    """Resize plumbing (image downscale / audio resample stand-in):
    stride-subsample each payload to at most ``RESIZE_TARGET_BYTES``
    bytes (stride = ceil(n / target)). Deterministic and byte-exact, so
    the binary→binary Arrow round-trip is oracle-verifiable.

    Scale shape matches the real thing: the heavy payload never leaves
    the task (no shuffle), output payloads are strictly smaller, and
    downstream stages see the same multimodal schema."""

    def rows(item_id, payload, fmt):
        b = payload or b""
        rb = b[:: max(1, -(-len(b) // RESIZE_TARGET_BYTES))]
        yield item_id, rb, len(rb), fmt

    return _map_rows(df, RESIZE_SCHEMA, rows, "item_id", "payload", "format")


#: output schema of the frame sampler
FRAME_SCHEMA = "item_id bigint, frame_idx int, frame_bytes binary, frame_len int"

#: sample_frames cuts each payload into this many byte ranges
SAMPLED_FRAMES = 4


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame-sampling plumbing (video → k evenly-spaced frames): slices
    each payload into ``SAMPLED_FRAMES`` byte ranges, the last taking
    the remainder — one input row → k output rows, payload bytes
    partitioned (never duplicated), Arrow-batched. The fan-out happens
    inside the task, so no shuffle carries the heavy bytes."""

    def rows(item_id, payload):
        b = payload or b""
        step = max(1, len(b) // SAMPLED_FRAMES)
        for i in range(SAMPLED_FRAMES):
            chunk = b[i * step : (i + 1) * step if i < SAMPLED_FRAMES - 1 else None]
            yield item_id, i, chunk, len(chunk)

    return _map_rows(df, FRAME_SCHEMA, rows, "item_id", "payload")


# --- BMP: 24-bit uncompressed Windows DIB (pure Python) ---
#
# A byte-exact encoder (used to synthesize test payloads) and a
# validating decoder that undoes everything the container does —
# 4-byte row padding, bottom-up row order, BGR channel order. The
# registry query multimodal_bmp_decode hash-gates the decoded pixels
# against a serial re-derivation, so the decode is verified content,
# not plumbing.

_BMP_HEADER_SIZE = 14 + 40  # BITMAPFILEHEADER + BITMAPINFOHEADER


def bmp_encode(width: int, height: int, rgb: bytes) -> bytes:
    """Encode canonical top-down RGB pixels (len == width*height*3) as
    a 24-bit uncompressed BMP: BITMAPFILEHEADER + BITMAPINFOHEADER,
    rows bottom-up, pixels BGR, each row padded to 4 bytes."""
    import struct

    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")
    row_size = (3 * width + 3) // 4 * 4
    image_size = row_size * height
    out = bytearray()
    out += struct.pack(
        "<2sIHHI", b"BM", _BMP_HEADER_SIZE + image_size, 0, 0, _BMP_HEADER_SIZE
    )
    out += struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, image_size, 2835, 2835, 0, 0
    )
    pad = b"\x00" * (row_size - 3 * width)
    for y in range(height - 1, -1, -1):  # bottom-up
        row = rgb[y * width * 3 : (y + 1) * width * 3]
        # RGB → BGR per pixel
        for x in range(width):
            p = row[x * 3 : x * 3 + 3]
            out += bytes((p[2], p[1], p[0]))
        out += pad
    return bytes(out)


def bmp_decode(b: bytes) -> tuple[int, int, bytes]:
    """Decode a 24-bit uncompressed BMP to (width, height, canonical
    top-down RGB bytes). Validates the container loudly (magic, header
    size, bpp, compression) — a truncated or foreign payload raises
    instead of yielding garbage features."""
    import struct

    if len(b) < _BMP_HEADER_SIZE or b[:2] != b"BM":
        raise ValueError("not a BMP payload (bad magic/size)")
    offset = struct.unpack_from("<I", b, 10)[0]
    hdr_size, width, height, planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", b, 14
    )
    if hdr_size != 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP variant (hdr={hdr_size}, bpp={bpp}, "
            f"compression={compression})"
        )
    if width <= 0 or height <= 0:
        raise ValueError("unsupported BMP dimensions")
    row_size = (3 * width + 3) // 4 * 4
    if len(b) < offset + row_size * height:
        raise ValueError("truncated BMP pixel data")
    rgb = bytearray(width * height * 3)
    for y in range(height):
        src = offset + (height - 1 - y) * row_size  # stored bottom-up
        for x in range(width):
            bgr = b[src + x * 3 : src + x * 3 + 3]
            i = (y * width + x) * 3
            rgb[i : i + 3] = bytes((bgr[2], bgr[1], bgr[0]))
    return width, height, bytes(rgb)


def synthetic_bmp_pattern(
    item_id: int, width: int | None = None, height: int | None = None
) -> tuple[int, int, bytes]:
    """Deterministic per-id test image: width = id%5+2, height =
    id%3+2 (mixed widths exercise every row-padding amount 0-3) unless
    overridden (e.g. the canonical 8×8 aHash grid);
    pixel (y, x, channel) = (id·7919 + y·31 + x·3 + c) mod 256 in RGB
    order — a pure integer formula a SQL oracle re-derives exactly."""
    w = width if width is not None else item_id % 5 + 2
    h = height if height is not None else item_id % 3 + 2
    rgb = bytes(
        (item_id * 7919 + y * 31 + x * 3 + c) % 256
        for y in range(h)
        for x in range(w)
        for c in range(3)
    )
    return w, h, rgb


def _ahash_bits(pixels: bytes) -> tuple[int, list[int]]:
    """``(n_pixels, set bit positions)`` of the average hash of
    canonical RGB ``pixels``: per-pixel integer gray = r+g+b, bit p
    (row-major pixel order) set iff ``gray_p · n_pixels > Σ gray``."""
    gray = np.frombuffer(bytes(pixels), dtype=np.uint8).astype(np.int64)
    gray = gray.reshape(-1, 3).sum(axis=1)
    return len(gray), np.flatnonzero(gray * len(gray) > gray.sum()).tolist()


def perceptual_hash(df: DataFrame) -> DataFrame:
    """(item_id, width, height, pixels binary) → (item_id, n_pixels,
    phash bigint): the average-hash (aHash) perceptual fingerprint —
    per-pixel integer gray = r+g+b, bit p set iff
    ``gray_p · n_pixels > Σ gray`` (the exact-rational mean compare:
    no division, no float, ties resolve identically everywhere), bits
    packed in row-major pixel order. Two images that differ by a few
    pixels differ in a few BITS, so near-duplicate detection becomes
    small-Hamming-distance search — the SimHash discipline applied to
    decoded image content instead of token sets.

    Pure integer arithmetic over the decoded bytes (numpy int64 inside
    the same Arrow seam as the decoder), so a serial SQL oracle that
    re-derives the pixels reproduces every bit.

    LIMIT (enforced): the single-int64 packing holds at most 63 bits,
    so images with ``n_pixels > 63`` raise ValueError here instead of
    overflowing ``pd.Series(dtype='int64')`` executor-side. For
    arbitrary sizes — including the canonical 8×8 aHash grid, which is
    exactly 64 bits — use :func:`perceptual_hash_words`, which packs
    the same bits into ``array<bigint>`` words."""

    def rows(item_id, pixels):
        n, bits = _ahash_bits(pixels)
        if n > 63:
            raise ValueError(
                f"perceptual_hash packs bits into one int64 and "
                f"supports at most 63 pixels (got {n}); use "
                "perceptual_hash_words for larger images"
            )
        yield item_id, n, sum(1 << p for p in bits)

    return _map_rows(
        df, "item_id bigint, n_pixels int, phash bigint", rows, "item_id", "pixels"
    )


#: bits per fingerprint word in perceptual_hash_words: 56 = 7 whole
#: 8-bit bands per word, so band b lives entirely inside word b DIV 7
#: at byte offset b % 7 — banding never straddles a word boundary and
#: every word value stays < 2^56 (int64-safe on both engines).
PHASH_WORD_BITS = 56
PHASH_BAND_BITS = 8


def phash_band_count(n_pixels: int) -> int:
    """Bands derived from the fingerprint bit width: ``ceil(n/8)``
     8-bit bands cover all n bits, so a pair within Hamming distance
    ``d`` agrees on at least ``bands - d`` whole bands (pigeonhole) —
    any ``d < bands`` makes a banded equi-join lossless."""
    return -(-n_pixels // PHASH_BAND_BITS)


def perceptual_hash_words(df: DataFrame) -> DataFrame:
    """(item_id, width, height, pixels binary) → (item_id, n_pixels,
    words array<bigint>): the aHash fingerprint of
    :func:`perceptual_hash` for ARBITRARY image sizes — same exact-
    rational mean compare (bit p set iff ``gray_p·n > Σgray``), bits
    packed little-endian into 56-bit words (word w holds bits
    [56w, 56w+56)), so an 8×8 = 64-pixel grid — the canonical aHash
    size that overflows the single-int64 variant — emits two words and
    any size emits ``ceil(n/56)``. 56 = 7×8 keeps every 8-bit band
    inside one word: band b of :func:`phash_band_count` bands is
    ``(words[b DIV 7] >> 8·(b%7)) & 255`` on both engines, and
    Hamming distance is Σ bit_count(xor) over aligned words."""

    def rows(item_id, pixels):
        n, bits = _ahash_bits(pixels)
        words = [0] * -(-n // PHASH_WORD_BITS)
        for p in bits:
            words[p // PHASH_WORD_BITS] |= 1 << (p % PHASH_WORD_BITS)
        yield item_id, n, words

    return _map_rows(
        df,
        "item_id bigint, n_pixels int, words array<bigint>",
        rows,
        "item_id",
        "pixels",
    )


# --- second real image codec: PNG (stdlib zlib, no codec libs) ---
#
# BMP proved the decode seam with container parsing only; PNG makes it
# exercise real COMPRESSION: IDAT zlib inflate plus per-scanline filter
# reconstruction (all five filter types — None/Sub/Up/Average/Paeth —
# the encoder cycles them row by row so a decoder that botches any one
# of them fails the pixel hash). CRCs are verified on every chunk, so
# a corrupted container raises instead of yielding garbage.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4): nearest of left/up/up-left to
    the linear estimate a + b − c, ties broken left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def png_encode(width: int, height: int, rgb: bytes) -> bytes:
    """Encode canonical top-down RGB pixels (len == width*height*3) as
    an 8-bit truecolor PNG: signature + IHDR + one zlib-compressed
    IDAT + IEND. Scanline y uses filter type ``y % 5``, so every
    decoder filter path (None, Sub, Up, Average, Paeth) is exercised
    by any image of height ≥ 5 — and heights < 5 still mix filters."""
    import struct
    import zlib

    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")
    bpp = 3
    stride = width * bpp
    raw = bytearray()
    prior = bytes(stride)
    for y in range(height):
        row = rgb[y * stride : (y + 1) * stride]
        ftype = y % 5
        raw.append(ftype)
        for i in range(stride):
            left = row[i - bpp] if i >= bpp else 0
            up = prior[i]
            upleft = prior[i - bpp] if i >= bpp else 0
            if ftype == 0:
                v = row[i]
            elif ftype == 1:
                v = row[i] - left
            elif ftype == 2:
                v = row[i] - up
            elif ftype == 3:
                v = row[i] - (left + up) // 2
            else:
                v = row[i] - _paeth(left, up, upleft)
            raw.append(v & 0xFF)
        prior = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def png_decode(b: bytes) -> tuple[int, int, bytes]:
    """Decode an 8-bit truecolor PNG to (width, height, canonical
    top-down RGB bytes): chunk walk with CRC verification, IDAT zlib
    inflate, and per-scanline filter reconstruction (all five types).
    Validates the container loudly — bad signature, corrupted CRC,
    unsupported bit depth / color type / interlace, unknown filter
    type, and truncated or wrong-sized pixel data all raise."""
    import struct
    import zlib

    if b[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos = len(_PNG_SIG)
    width = height = None
    idat = bytearray()
    iend_seen = False
    while pos + 8 <= len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(b):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", b, pos + 8 + length)
        if crc != (zlib.crc32(ctype + data) & 0xFFFFFFFF):
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        pos += 12 + length
        if ctype == b"IHDR":
            width, height, depth, ctype_f, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if (depth, ctype_f, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    f"unsupported PNG variant (depth={depth}, "
                    f"color={ctype_f}, interlace={interlace}); engine "
                    "decodes 8-bit truecolor non-interlaced"
                )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            iend_seen = True
            break
    if width is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    if not iend_seen:
        raise ValueError("truncated PNG (missing IEND trailer)")
    raw = zlib.decompress(bytes(idat))
    bpp = 3
    stride = width * bpp
    if len(raw) != height * (1 + stride):
        raise ValueError("PNG pixel data has wrong decompressed size")
    rgb = bytearray(height * stride)
    prior = bytes(stride)
    for y in range(height):
        ftype = raw[y * (1 + stride)]
        line = raw[y * (1 + stride) + 1 : (y + 1) * (1 + stride)]
        row = bytearray(stride)
        for i in range(stride):
            left = row[i - bpp] if i >= bpp else 0
            up = prior[i]
            upleft = prior[i - bpp] if i >= bpp else 0
            if ftype == 0:
                v = line[i]
            elif ftype == 1:
                v = line[i] + left
            elif ftype == 2:
                v = line[i] + up
            elif ftype == 3:
                v = line[i] + (left + up) // 2
            elif ftype == 4:
                v = line[i] + _paeth(left, up, upleft)
            else:
                raise ValueError(f"unknown PNG filter type {ftype}")
            row[i] = v & 0xFF
        rgb[y * stride : (y + 1) * stride] = row
        prior = bytes(row)
    return width, height, bytes(rgb)


def wav_encode(sample_rate: int, samples: list[int]) -> bytes:
    """16-bit mono PCM WAV bytes from int16 samples via the stdlib
    ``wave`` module — a REAL audio container (RIFF/fmt/data chunks),
    no external codec libs, the audio sibling of :func:`bmp_encode`."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def wav_decode(b: bytes) -> tuple[int, int, list[int]]:
    """(sample_rate, n_samples, samples) back out of the WAV container
    — stdlib ``wave`` parse of the RIFF chunks + little-endian int16
    payload unpack."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(b), "rb") as w:
        if w.getnchannels() != 1 or w.getsampwidth() != 2:
            # ValueError (not assert: stripped under python -O) — matches
            # bmp_decode's loud-container contract; a stereo or 8-bit
            # payload must never silently mis-unpack into garbage.
            raise ValueError(
                f"unsupported WAV variant (channels={w.getnchannels()}, "
                f"sampwidth={w.getsampwidth()}); engine decodes 16-bit mono PCM"
            )
        rate = w.getframerate()
        n = w.getnframes()
        samples = list(struct.unpack(f"<{n}h", w.readframes(n)))
    return rate, n, samples


def synthetic_wav_pattern(item_id: int) -> tuple[int, list[int]]:
    """Deterministic int16 sample pattern per item: length and rate
    derive from the id; sample i = ((id·31 + i·7) mod 2048) − 1024 —
    integer, sign-alternating, reproducible in pure SQL."""
    n = item_id % 50 + 20
    rate = 8000 + (item_id % 3) * 4000
    return rate, [((item_id * 31 + i * 7) % 2048) - 1024 for i in range(n)]


def decode_wav_features(df: DataFrame) -> DataFrame:
    """(item_id, payload) → integer audio features through the REAL
    decode: sample rate and count from the container, Σ|sample| (the
    integer loudness proxy) and the zero-crossing count (the integer
    pitch proxy — strict sign changes) from the PCM payload. All-int64
    so a serial SQL oracle that re-derives the samples pins every
    value."""

    def rows(item_id, payload):
        rate, n, samples = wav_decode(bytes(payload))
        a = np.asarray(samples, dtype=np.int64)
        yield item_id, rate, n, int(np.abs(a).sum()), int((a[1:] * a[:-1] < 0).sum())

    return _map_rows(
        df,
        "item_id bigint, sample_rate int, n_samples int,"
        " sum_abs bigint, zero_crossings bigint",
        rows,
        "item_id",
        "payload",
    )


# ---------------------------------------------------------------------------
# GIF / LZW — the third compression family behind the codec seam.
# BMP proved container parsing, PNG proved zlib/deflate + scanline
# filters; GIF-LZW is a genuinely different algorithm: a variable-width
# code table built symmetrically by encoder and decoder (GIF87a layout,
# LSB-first bit packing, CLEAR/EOI control codes, 12-bit cap).
# Stdlib-only, like every codec here.
# ---------------------------------------------------------------------------

#: GIF LZW hard cap: code widths grow 3..12 bits, table ≤ 4096 entries
_GIF_MAX_CODE_BITS = 12


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW: emits CLEAR, then greedy longest-match codes
    while growing the string table; code width bumps when the next
    free code would overflow it; the table resets via CLEAR at 4096.
    Returns the packed LSB-first code stream."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    bitbuf = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    def fresh_table() -> tuple[dict, int, int]:
        return (
            {bytes([i]): i for i in range(clear)},
            eoi + 1,
            min_code_size + 1,
        )

    table, next_code, width = fresh_table()
    emit(clear, width)
    w = b""
    for k in indices:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < _GIF_MAX_CODE_BITS:
            width += 1
        if next_code > (1 << _GIF_MAX_CODE_BITS):
            emit(clear, width)
            table, next_code, width = fresh_table()
        w = bytes([k])
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """Inverse of :func:`_lzw_encode`: rebuilds the identical string
    table from the code stream (including the code==next 'cScSc' case)
    and validates loudly — an out-of-range code or a stream that never
    reaches EOI raises instead of yielding garbage pixels."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None
    bitbuf = 0
    nbits = 0
    pos = 0

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset()
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream ended before EOI")
            bitbuf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table) and code != eoi:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"corrupt LZW code {code} (table {len(table)})")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < _GIF_MAX_CODE_BITS:
                width += 1
        prev = entry


def gif_encode(
    width: int, height: int, indices: bytes, palette: bytes
) -> bytes:
    """Encode palette-indexed pixels (row-major, len == width*height)
    as a real GIF87a: logical screen descriptor, global color table
    (palette = n·3 RGB bytes, n a power of two ≥ 4), image descriptor,
    LZW-compressed data in ≤255-byte sub-blocks, trailer."""
    import struct

    n_colors = len(palette) // 3
    if n_colors * 3 != len(palette) or n_colors & (n_colors - 1) or n_colors < 4:
        raise ValueError("palette must be a power-of-two color count >= 4")
    if len(indices) != width * height:
        raise ValueError("indices length must be width*height")
    if max(indices) >= n_colors:
        raise ValueError("palette index out of range")
    mcs = max(2, n_colors.bit_length() - 1)
    out = bytearray(b"GIF87a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | (n_colors.bit_length() - 2), 0, 0])
    out += palette
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    out.append(mcs)
    stream = _lzw_encode(indices, mcs)
    for lo in range(0, len(stream), 255):
        block = stream[lo : lo + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def gif_decode(b: bytes) -> tuple[int, int, bytes]:
    """Decode a GIF87a/89a produced by :func:`gif_encode` (one image,
    global color table, no interlace/extensions) to (width, height,
    canonical top-down RGB). Validates the container loudly: magic,
    GCT presence, descriptor type, sub-block framing, index range."""
    import struct

    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (bad magic)")
    packed = b[10]
    if not packed & 0x80:
        raise ValueError("unsupported GIF: no global color table")
    n_colors = 2 << (packed & 0x07)
    pos = 13
    palette = b[pos : pos + n_colors * 3]
    if len(palette) < n_colors * 3:
        raise ValueError("truncated GIF color table")
    pos += n_colors * 3
    if pos >= len(b) or b[pos] != 0x2C:
        raise ValueError(
            f"unsupported GIF block 0x{b[pos]:02x} (extensions not supported)"
            if pos < len(b)
            else "truncated GIF (no image descriptor)"
        )
    left, top, width, height = struct.unpack_from("<HHHH", b, pos + 1)
    flags = b[pos + 9]
    if left or top or flags & 0xC0:
        raise ValueError("unsupported GIF image descriptor (LCT/interlace)")
    pos += 10
    mcs = b[pos]
    pos += 1
    stream = bytearray()
    while True:
        if pos >= len(b):
            raise ValueError("truncated GIF data sub-blocks")
        n = b[pos]
        pos += 1
        if n == 0:
            break
        stream += b[pos : pos + n]
        if len(stream) < n:
            raise ValueError("truncated GIF sub-block")
        pos += n
    indices = _lzw_decode(bytes(stream), mcs)
    if len(indices) != width * height:
        raise ValueError(
            f"GIF pixel count mismatch: {len(indices)} != {width * height}"
        )
    rgb = bytearray(width * height * 3)
    for i, idx in enumerate(indices):
        if idx >= n_colors:
            raise ValueError("GIF index out of palette range")
        rgb[i * 3 : i * 3 + 3] = palette[idx * 3 : idx * 3 + 3]
    return width, height, bytes(rgb)


#: colors in the synthetic GIF palette (fits a 4-bit LZW code)
_GIF_PATTERN_COLORS = 16


def synthetic_gif_pattern(item_id: int) -> tuple[int, int, bytes, bytes]:
    """Deterministic per-id palette image: width = id%5+6, height 8;
    index (y, x) = (id·7919 + y·31 + (x div 2)·3)
    mod 16 — the div-2 creates horizontal runs so the LZW table gets
    real multi-symbol entries; palette color c =
    ((id·37 + c·11) % 256, (id·59 + c·23) % 256, (id·83 + c·29) % 256).
    Pure integer formulas a SQL oracle re-derives exactly."""
    w = item_id % 5 + 6
    h = 8
    indices = bytes(
        (item_id * 7919 + y * 31 + (x // 2) * 3) % _GIF_PATTERN_COLORS
        for y in range(h)
        for x in range(w)
    )
    palette = bytes(
        v % 256
        for c in range(_GIF_PATTERN_COLORS)
        for v in (item_id * 37 + c * 11, item_id * 59 + c * 23, item_id * 83 + c * 29)
    )
    return w, h, indices, palette


# ---------------------------------------------------------------------------
# The codec table: per payload format, the encoder of its synthetic test
# pattern and its pixel decoder. One encoder and one decoder operator
# serve every format through it.
# ---------------------------------------------------------------------------

#: format → (payload of the synthetic pattern of ``(item_id, width,
#: height)``, decoder of a payload to ``(width, height, RGB)``). Width
#: and height pin the BMP/PNG geometry; the GIF and WAV patterns derive
#: theirs from the id, and audio has no pixel decoder.
_CODECS = {
    "bmp": (lambda i, w, h: bmp_encode(*synthetic_bmp_pattern(i, w, h)), bmp_decode),
    "png": (lambda i, w, h: png_encode(*synthetic_bmp_pattern(i, w, h)), png_decode),
    "gif": (lambda i, w, h: gif_encode(*synthetic_gif_pattern(i)), gif_decode),
    "wav": (lambda i, w, h: wav_encode(*synthetic_wav_pattern(i)), None),
}


def encode_synthetic(
    df: DataFrame,
    id_col: str,
    fmt: str,
    width: int | None = None,
    height: int | None = None,
) -> DataFrame:
    """(id) → (item_id, payload binary, format): each row becomes a
    REAL ``fmt`` file of its synthetic pattern, built executor-side in
    Arrow batches — the encode half of the genuine-codec proof.
    ``width``/``height`` pin a fixed BMP/PNG geometry (e.g. 8×8 for the
    word-packed aHash path); by default it derives from the id."""
    encode = _CODECS[fmt][0]

    def rows(item_id):
        yield item_id, encode(item_id, width, height), fmt

    return _map_rows(
        df, "item_id bigint, payload binary, format string", rows, id_col
    )


def decode_pixels(df: DataFrame) -> DataFrame:
    """(item_id, payload, format) → (item_id, width, height, pixels
    binary): each row decoded by its own format's codec — container
    stripped, canonical top-down RGB out — so one frame may mix BMP,
    PNG and GIF rows, and every downstream consumer (perceptual
    hashing, feature extraction) is codec-agnostic. A format without a
    pixel decoder raises ValueError naming it."""

    def rows(item_id, payload, fmt):
        decode = _CODECS.get(fmt, (None, None))[1]
        if decode is None:
            raise ValueError(f"no pixel decoder for payload format {fmt!r}")
        yield (item_id, *decode(bytes(payload)))

    return _map_rows(
        df,
        "item_id bigint, width int, height int, pixels binary",
        rows,
        "item_id",
        "payload",
        "format",
    )


# ---------------------------------------------------------------------------
# Animated GIF (GIF89a, multi-frame) — the VIDEO shape behind the codec
# seam: a real container holding N LZW-compressed frames, with frame
# SAMPLING (the training-pipeline read: decode every k-th frame, skip
# the rest) as a first-class operation: the genuine end-to-end decode
# beside the byte-range sample_frames plumbing.
# ---------------------------------------------------------------------------


def gif_encode_animation(
    width: int,
    height: int,
    frames: list[bytes],
    palette: bytes,
) -> bytes:
    """Encode full-frame palette-indexed frames as a real animated
    GIF89a: one global color table, per frame a Graphic Control
    Extension (a 10 centisecond delay) followed by an image descriptor
    and its own LZW stream."""
    import struct

    n_colors = len(palette) // 3
    if n_colors * 3 != len(palette) or n_colors & (n_colors - 1) or n_colors < 4:
        raise ValueError("palette must be a power-of-two color count >= 4")
    if not frames:
        raise ValueError("animation needs at least one frame")
    mcs = max(2, n_colors.bit_length() - 1)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | (n_colors.bit_length() - 2), 0, 0])
    out += palette
    for indices in frames:
        if len(indices) != width * height:
            raise ValueError("frame length must be width*height")
        if max(indices) >= n_colors:
            raise ValueError("palette index out of range")
        # Graphic Control Extension: no disposal, no transparency
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", 10) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        out.append(mcs)
        stream = _lzw_encode(indices, mcs)
        for lo in range(0, len(stream), 255):
            block = stream[lo : lo + 255]
            out.append(len(block))
            out += block
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def gif_decode_frames(b: bytes) -> tuple[int, int, list[bytes]]:
    """Decode an animated GIF to (width, height, [RGB frame, ...]).
    Accepts GIF87a/89a with a global color table and full-frame images
    (no local color tables, no interlace); extensions (GCE, comment,
    application) are walked and skipped per the sub-block framing.
    Validates loudly like the single-image decoder."""
    import struct

    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (bad magic)")
    packed = b[10]
    if not packed & 0x80:
        raise ValueError("unsupported GIF: no global color table")
    n_colors = 2 << (packed & 0x07)
    width, height = struct.unpack_from("<HH", b, 6)
    pos = 13
    palette = b[pos : pos + n_colors * 3]
    if len(palette) < n_colors * 3:
        raise ValueError("truncated GIF color table")
    pos += n_colors * 3
    frames: list[bytes] = []

    def skip_subblocks(p: int) -> int:
        while True:
            if p >= len(b):
                raise ValueError("truncated GIF sub-blocks")
            n = b[p]
            p += 1
            if n == 0:
                return p
            p += n

    while True:
        if pos >= len(b):
            raise ValueError("truncated GIF (no trailer)")
        block = b[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label byte then sub-blocks
            pos = skip_subblocks(pos + 1)
            continue
        if block != 0x2C:
            raise ValueError(f"unsupported GIF block 0x{block:02x}")
        left, top, fw, fh = struct.unpack_from("<HHHH", b, pos)
        flags = b[pos + 8]
        if left or top or (fw, fh) != (width, height) or flags & 0xC0:
            raise ValueError("unsupported GIF frame (partial/LCT/interlace)")
        pos += 9
        mcs = b[pos]
        pos += 1
        stream = bytearray()
        while True:
            if pos >= len(b):
                raise ValueError("truncated GIF data sub-blocks")
            n = b[pos]
            pos += 1
            if n == 0:
                break
            stream += b[pos : pos + n]
            pos += n
        indices = _lzw_decode(bytes(stream), mcs)
        if len(indices) != width * height:
            raise ValueError("GIF frame pixel count mismatch")
        rgb = bytearray(width * height * 3)
        for i, idx in enumerate(indices):
            if idx >= n_colors:
                raise ValueError("GIF index out of palette range")
            rgb[i * 3 : i * 3 + 3] = palette[idx * 3 : idx * 3 + 3]
        frames.append(bytes(rgb))
    if not frames:
        raise ValueError("GIF contains no image frames")
    return width, height, frames


def synthetic_gif_animation(
    item_id: int,
) -> tuple[int, int, list[bytes], bytes]:
    """Deterministic per-id animation: width = id%4+5, height 6,
    n_frames = id%3+4; frame f's index (y, x) =
    (id·7919 + f·101 + y·31 + (x div 2)·3) mod 16 over the same
    palette formula as the still pattern — pure integers a SQL oracle
    re-derives per sampled frame."""
    w = item_id % 4 + 5
    h = 6
    n_frames = item_id % 3 + 4
    frames = [
        bytes(
            (item_id * 7919 + f * 101 + y * 31 + (x // 2) * 3)
            % _GIF_PATTERN_COLORS
            for y in range(h)
            for x in range(w)
        )
        for f in range(n_frames)
    ]
    palette = bytes(
        v % 256
        for c in range(_GIF_PATTERN_COLORS)
        for v in (item_id * 37 + c * 11, item_id * 59 + c * 23, item_id * 83 + c * 29)
    )
    return w, h, frames, palette


def encode_synthetic_gif_animations(df: DataFrame, id_col: str) -> DataFrame:
    """(id) → (item_id, payload binary, format 'gif', n_frames):
    real animated GIF89a files built executor-side."""

    def rows(item_id):
        w, h, frames, pal = synthetic_gif_animation(item_id)
        yield item_id, gif_encode_animation(w, h, frames, pal), "gif", len(frames)

    return _map_rows(
        df,
        "item_id bigint, payload binary, format string, n_frames int",
        rows,
        id_col,
    )


#: sample_gif_frames decodes every GIF_FRAME_STRIDE-th frame, from 0
GIF_FRAME_STRIDE = 2


def sample_gif_frames(df: DataFrame) -> DataFrame:
    """(item_id, payload) → one row per SAMPLED frame (every
    ``GIF_FRAME_STRIDE``-th, starting at 0): (item_id, frame_idx,
    width, height, pixels binary) — the video-pipeline read: a training
    job decodes a bounded subset of frames, never the whole stream.
    Output volume is n_frames/stride per clip regardless of container
    size."""

    def rows(item_id, payload):
        w, h, frames = gif_decode_frames(bytes(payload))
        for f in range(0, len(frames), GIF_FRAME_STRIDE):
            yield item_id, f, w, h, frames[f]

    return _map_rows(
        df,
        "item_id bigint, frame_idx int, width int, height int, pixels binary",
        rows,
        "item_id",
        "payload",
    )


def gif_motion_profile(df: DataFrame) -> DataFrame:
    """(item_id, payload) → one row per CONSECUTIVE frame pair:
    (item_id, frame_from, frame_to, sad, n_bytes) where ``sad`` is the
    exact integer sum of absolute RGB differences — the shot-boundary /
    motion-estimation read of a video pipeline (a cut is a SAD spike;
    static footage is a SAD floor). Decodes through the same
    variable-width-LZW animated-GIF path as the frame sampler; output
    is n_frames−1 rows per clip regardless of resolution."""

    def rows(item_id, payload):
        w, h, frames = gif_decode_frames(bytes(payload))
        arrs = [np.frombuffer(f, dtype=np.uint8).astype(np.int64) for f in frames]
        for f in range(len(arrs) - 1):
            yield item_id, f, f + 1, int(np.abs(arrs[f] - arrs[f + 1]).sum()), w * h * 3

    return _map_rows(
        df,
        "item_id long, frame_from int, frame_to int, sad long, n_bytes int",
        rows,
        "item_id",
        "payload",
    )


#: autocorrelation lags reported by the pitch/periodicity profile
WAV_AUTOCORR_LAGS = (1, 2, 4)


def wav_autocorrelation(df: DataFrame) -> DataFrame:
    """(item_id, payload) → per-clip integer autocorrelation profile:
    R(0) = Σ s², R(ℓ) = Σ_{i≥ℓ} s(i)·s(i−ℓ) for each lag, plus the
    normalized r(ℓ) in integer ppm (R(ℓ)·1e6 DIV R(0)) — the classic
    pitch / periodicity estimator (a pure tone peaks at its period's
    lag; noise decays immediately), and the spectral-shaped audio
    feature that stays EXACT integer arithmetic where a DFT's
    transcendental twiddle factors could never cross-engine match.
    int16 samples → products ≤ 2^30, sums safe in int64 to ~10^9
    samples per clip. Decodes through the same stdlib-wave container
    path as the loudness/ZCR features; Arrow-batched, payload never
    shuffles."""

    def rows(item_id, payload):
        s = np.asarray(wav_decode(bytes(payload))[2], dtype=np.int64)
        r0 = int((s * s).sum())
        for lag in WAV_AUTOCORR_LAGS:
            rl = int((s[lag:] * s[:-lag]).sum()) if len(s) > lag else 0
            # int(a // b) in Python floors; Spark/DuckDB DIV
            # truncates toward zero — match by trunc division
            q = abs(rl) * 1_000_000 // r0 if r0 else 0
            yield item_id, lag, r0, rl, q if rl >= 0 else -q

    return _map_rows(
        df,
        "item_id long, lag int, r0 long, r_lag long, r_ppm long",
        rows,
        "item_id",
        "payload",
    )
