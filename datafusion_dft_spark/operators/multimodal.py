"""Multimodal column plumbing: binary payloads + typed metadata.

Design (the 100 TB pattern): media lives as an opaque ``binary``
column next to a typed metadata struct; decode / feature-extraction /
frame-sampling run as Arrow-batched pandas functions over
``mapInPandas`` so each task processes whole record batches without
per-row Python overhead, and the binary bytes never round-trip through
the driver.

The actual media codecs (PIL/ffmpeg/soundfile) are NOT in this
container, so ``decode_image``/``decode_audio`` raise
NotImplementedError by design; ``extract_features`` is a deterministic
byte-level stand-in that keeps the Spark-side contract — schema,
batching, partitioning — real and testable. Swap ``_fake_features``
for a real decoder without touching any plan.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "doc_id long, byte_len long, checksum8 long, n_frames long"


def to_binary_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stand-in media table: utf-8 payload bytes + typed metadata struct.

    With real media this is `spark.read.format("binaryFile")` plus a
    metadata join; the downstream plumbing is identical.

    The narrow-scan guard (`session.ensure_min_parallelism`, round 12)
    widens the one-row-group local scan so every downstream
    ``mapInArrow`` decode stage runs at full task width instead of as
    a single Python task (the full-blast-radius shape under this
    host's periodic per-vCPU degradation — SCALE.md r12); a real
    multi-split binaryFile read is already wide and the guard is a
    no-op.
    """
    from ..session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "utf-8").alias("content"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length(F.col(text_col)).alias("n_chars"),
        ).alias("meta"),
    )


def decode_image(content: bytes):
    """Full PIXEL decode requires PIL/opencv — not in this container.

    Header/structure decode (format, width, height, channels) IS
    implemented — see ``parse_image_header`` / ``decode_image_headers``.
    """
    raise NotImplementedError(
        "image pixel decode needs PIL/opencv; header parse is real — "
        "use parse_image_header / decode_image_headers"
    )


def decode_audio(content: bytes):
    """Full SAMPLE decode requires soundfile/ffmpeg — not in this container.

    Header/structure decode (format, sample rate, channels, bit depth,
    declared sample count) IS implemented — see ``parse_audio_header``
    / ``decode_audio_headers``.
    """
    raise NotImplementedError(
        "audio sample decode needs soundfile/ffmpeg; header parse is "
        "real — use parse_audio_header / decode_audio_headers"
    )


# --- real image header decode (no codec libraries required) ----------------
#
# PNG: public spec (RFC 2083 / W3C PNG) — 8-byte signature, then the
# IHDR chunk at a FIXED offset: length(4) type(4)="IHDR" width(4 BE)
# height(4 BE) bitdepth(1) colortype(1) compression(1) filter(1)
# interlace(1) crc(4). Channels derive from the color type.
# JPEG (ITU T.81): SOI marker FFD8, then a marker-segment walk — each
# segment is FF <marker> <len:2 BE> <payload>; the frame header (SOF0,
# SOF2, ... = FFC0-FFCF minus DHT/JPG/DAC at C4/C8/CC) carries
# precision(1) height(2 BE) width(2 BE) ncomponents(1).

PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type -> sample channels: 0 gray, 2 RGB, 3 palette (1 index
# channel), 4 gray+alpha, 6 RGBA.
_PNG_CT_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_JPEG_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def parse_image_header(b: bytes):
    """(format, width, height, channels) from magic bytes, else 4×None.

    The scalar reference implementation (and the JPEG path of the
    vectorized batch kernel). Reads ONLY header structure — no pixel
    data, no codec library — so it is exact, allocation-free, and
    bounded by the header size regardless of payload size.
    """
    if len(b) >= 26 and b[:8] == PNG_SIG and b[12:16] == b"IHDR":
        w = int.from_bytes(b[16:20], "big")
        h = int.from_bytes(b[20:24], "big")
        ch = _PNG_CT_CHANNELS.get(b[25])
        return "png", w, h, ch
    if len(b) >= 4 and b[0] == 0xFF and b[1] == 0xD8:
        i, n = 2, len(b)
        while i < n and b[i] == 0xFF:
            # T.81 B.1.1.2: any number of 0xFF FILL bytes may precede
            # a marker — the marker byte is the first non-FF of the run
            m = i
            while m < n and b[m] == 0xFF:
                m += 1
            if m >= n:
                break
            marker = b[m]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i = m + 1  # standalone markers carry no length
                continue
            if marker in (0xD9, 0xDA):  # EOI / start-of-scan: no SOF seen
                break
            if m + 3 > n:
                break
            seglen = int.from_bytes(b[m + 1 : m + 3], "big")
            if seglen < 2:
                break  # corrupt length — refuse to walk garbage
            if marker in _JPEG_SOF_MARKERS:
                if m + 9 > n:
                    break
                h = int.from_bytes(b[m + 4 : m + 6], "big")
                w = int.from_bytes(b[m + 6 : m + 8], "big")
                return "jpeg", w, h, b[m + 8]
            i = m + 1 + seglen
    return None, None, None, None


def _parse_image_arrays(arr):
    """Vectorized header parse over a pyarrow (large_)binary array.

    Returns (format, width, height, channels) as object/int64 numpy
    arrays with None/-1 for unparseable rows. The PNG path is fully
    vectorized — signature/IHDR checks and BE32 field reads are fancy-
    indexed gathers on the shared data buffer (PNG's fixed header
    layout is what makes this possible). JPEG's frame header sits at a
    VARIABLE offset behind a marker walk, so those rows fall back to
    the scalar parser — still bounded by header bytes, not payload.
    """
    import numpy as np
    import pyarrow as pa

    if pa.types.is_binary(arr.type):
        off_dtype = np.int32
    elif pa.types.is_large_binary(arr.type):
        off_dtype = np.int64
    else:
        raise TypeError(f"expected (large_)binary, got {arr.type}")
    offsets = np.frombuffer(arr.buffers()[1], dtype=off_dtype)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    buf = arr.buffers()[2]
    data = (
        np.frombuffer(buf, dtype=np.uint8) if buf is not None else np.empty(0, np.uint8)
    )
    n = len(arr)
    fmt = np.full(n, None, dtype=object)
    width = np.full(n, -1, dtype=np.int64)
    height = np.full(n, -1, dtype=np.int64)
    channels = np.full(n, -1, dtype=np.int64)
    starts, lens = offsets[:-1], offsets[1:] - offsets[:-1]

    cand = np.nonzero(lens >= 26)[0]
    if cand.size:
        s = starts[cand]
        ok = np.ones(cand.size, dtype=bool)
        for k, byte in enumerate(PNG_SIG + b"IHDR"):
            pos = k if k < 8 else k + 4  # IHDR type lives at offset 12
            ok &= data[s + pos] == byte
        png = cand[ok]
        if png.size:
            sp = starts[png]

            def be32(o):
                return (
                    (data[sp + o].astype(np.int64) << 24)
                    | (data[sp + o + 1].astype(np.int64) << 16)
                    | (data[sp + o + 2].astype(np.int64) << 8)
                    | data[sp + o + 3].astype(np.int64)
                )

            width[png] = be32(16)
            height[png] = be32(20)
            ct_map = np.full(256, -1, dtype=np.int64)
            for ct, ch in _PNG_CT_CHANNELS.items():
                ct_map[ct] = ch
            channels[png] = ct_map[data[sp + 25]]
            fmt[png] = "png"

    if data.size:
        first = data[np.minimum(starts, len(data) - 1)]
    else:
        first = np.zeros(n, dtype=np.uint8)
    jpeg_cand = np.nonzero((lens >= 4) & (fmt == None) & (first == 0xFF))[0]  # noqa: E711
    for i in jpeg_cand:
        # Copy only a header-sized prefix out of the Arrow buffer — a
        # full .tobytes() would materialize every multi-MB payload for
        # a walk that reads a few hundred bytes. SOF beyond 64 KiB
        # (oversized APPn/EXIF segments) retries on the full payload.
        prefix = min(lens[i], 65536)
        f, w, h, c = parse_image_header(
            data[starts[i] : starts[i] + prefix].tobytes()
        )
        if f is None and lens[i] > prefix:
            f, w, h, c = parse_image_header(
                data[starts[i] : starts[i] + lens[i]].tobytes()
            )
        if f is not None:
            fmt[i], width[i], height[i] = f, w, h
            channels[i] = -1 if c is None else c
    return fmt, width, height, channels


def decode_image_headers(
    binary_df: DataFrame, id_col: str = "doc_id", image_col: str = "image"
) -> DataFrame:
    """(id, img_format, img_width, img_height, img_channels) per row.

    Real decode of image STRUCTURE from magic bytes inside one
    ``mapInArrow`` stage — the bytes never leave the executor, no codec
    library, PNG rows fully vectorized. Unrecognized payloads yield
    NULL format/dims rather than erroring: at 100 TB a corrupt member
    must not kill the stage. The id column passes through under its own
    name and type (string ids work the same as the dedup operators')."""
    import pyarrow as pa
    from pyspark.sql import types as T

    id_field = binary_df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("img_format", T.StringType()),
            T.StructField("img_width", T.LongType()),
            T.StructField("img_height", T.LongType()),
            T.StructField("img_channels", T.LongType()),
        ]
    )

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            content = batch.column(batch.schema.get_field_index(image_col))
            fmt, w, h, ch = _parse_image_arrays(content)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index(id_col)),
                    pa.array(fmt, pa.string()),
                    _sentinel_nulls(w),
                    _sentinel_nulls(h),
                    _sentinel_nulls(ch),
                ],
                names=[id_col, "img_format", "img_width", "img_height", "img_channels"],
            )

    return binary_df.mapInArrow(run, schema=out_schema)


def plant_images(
    df: DataFrame, id_col: str = "doc_id", image_col: str = "image"
) -> DataFrame:
    """Append a deterministic, structurally VALID image per row.

    Entirely JVM-side (concat/unhex/crc32 — whole-stage codegen, no
    UDF): even ids get a PNG (signature + IHDR with a real CRC32 +
    IEND), odd ids a JFIF JPEG (SOI + APP0 + SOF0 + EOI). Dimension
    formulas (documented here, recomputed independently by the DuckDB
    oracle):

        width    = id % 317 + 1
        height   = id % 211 + 1
        png ct   = [0, 2, 6][id % 3]   -> channels 1 / 3 / 4
        jpeg nc  = 1 if id % 3 == 0 else 3

    The planted bytes are what a real decoder would accept as a valid
    header (PNG chunk CRC is the true CRC32 of type+data), so the
    header parser is exercised on spec-shaped input, not a toy format.
    """
    did = F.col(id_col)

    def be(col, hexdigits):
        return F.unhex(F.lpad(F.hex(col), hexdigits, "0"))

    w, h = did % 317 + 1, did % 211 + 1
    ct = F.element_at(F.array(F.lit(0), F.lit(2), F.lit(6)), (did % 3 + 1).cast("int"))
    ihdr_body = F.concat(
        F.unhex(F.lit("49484452")),  # "IHDR"
        be(w, 8),
        be(h, 8),
        F.unhex(F.lit("08")),  # bit depth 8
        be(ct, 2),
        F.unhex(F.lit("000000")),  # compression/filter/interlace
    )
    png = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A")),  # signature
        F.unhex(F.lit("0000000D")),  # IHDR data length = 13
        ihdr_body,
        be(F.crc32(ihdr_body), 8),  # real chunk CRC (type+data)
        F.unhex(F.lit("0000000049454E44AE426082")),  # IEND
    )
    nc = F.when(did % 3 == 0, F.lit(1)).otherwise(F.lit(3))
    sof_len = F.lit(8) + F.lit(3) * nc
    components = F.when(
        did % 3 == 0, F.unhex(F.lit("011100"))
    ).otherwise(F.unhex(F.lit("012200021101031101")))
    jpeg = F.concat(
        F.unhex(F.lit("FFD8")),  # SOI
        F.unhex(F.lit("FFE000104A46494600010100000100010000")),  # APP0 JFIF
        F.unhex(F.lit("FFC0")),  # SOF0 (baseline)
        be(sof_len, 4),
        F.unhex(F.lit("08")),  # precision
        be(h, 4),
        be(w, 4),
        be(nc, 2),
        components,
        F.unhex(F.lit("FFD9")),  # EOI
    )
    return df.withColumn(image_col, F.when(did % 2 == 0, png).otherwise(jpeg))


# --- real audio header decode (no codec libraries required) ----------------
#
# WAV (RIFF, Microsoft/IBM multimedia spec): "RIFF" <size:4 LE> "WAVE",
# then a chunk walk — each chunk is <id:4> <size:4 LE> <payload>,
# word-aligned (odd sizes carry a pad byte). The "fmt " chunk holds the
# PCM header: audio_format(2 LE) channels(2 LE) sample_rate(4 LE)
# byte_rate(4 LE) block_align(2 LE) bits_per_sample(2 LE). The "data"
# chunk's DECLARED size gives the sample count (size / block_align) —
# a header parse trusts the declaration and never reads sample bytes,
# so it is exact and bounded by header size regardless of payload size
# (the same contract as the image header parsers above).

_WAV_CANONICAL_DATA_OFF = 36  # "data" chunk id offset when fmt is first

# FLAC (public xiph.org spec): "fLaC" magic, then metadata blocks —
# 1 byte (is-last bit | type, type 0 = STREAMINFO) + 24-bit BE length.
# The spec REQUIRES STREAMINFO to be the first block, so its bit-packed
# fields sit at fixed offsets: sample rate 20 bits starting at byte 18,
# channels-1 3 bits, bits-per-sample-1 5 bits, total samples 36 bits.


def parse_audio_header(b: bytes):
    """(format, sample_rate, channels, bits, n_samples) from WAV/FLAC
    bytes, else 5×None.

    The scalar reference implementation (and the chunk-walk fallback of
    the vectorized batch kernel, for WAVs carrying extra chunks — LIST
    metadata, fact — before "data"). Reads ONLY header structure; the
    sample payload may be truncated or absent entirely and the declared
    counts still parse, matching how duration probes (ffprobe, soxi,
    metaflac) read headers without decoding samples. WAV sample count
    derives from the declared data size / block align; FLAC carries it
    directly in STREAMINFO.
    """
    if len(b) >= 42 and b[:4] == b"fLaC" and (b[4] & 0x7F) == 0:
        if int.from_bytes(b[5:8], "big") < 34:
            return None, None, None, None, None  # corrupt STREAMINFO
        rate = (b[18] << 12) | (b[19] << 4) | (b[20] >> 4)
        ch = ((b[20] >> 1) & 0x7) + 1
        bits = (((b[20] & 0x1) << 4) | (b[21] >> 4)) + 1
        nsamp = (
            ((b[21] & 0xF) << 32)
            | (b[22] << 24)
            | (b[23] << 16)
            | (b[24] << 8)
            | b[25]
        )
        return "flac", rate, ch, bits, nsamp
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None, None, None, None, None
    rate = ch = bits = None
    data_size = None
    i = 12
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        sz = int.from_bytes(b[i + 4 : i + 8], "little")
        if cid == b"fmt ":
            if sz < 16 or i + 8 + 16 > len(b):
                return None, None, None, None, None  # truncated/corrupt fmt
            body = b[i + 8 : i + 24]
            ch = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            data_size = sz
            break  # sample bytes follow — the header walk stops here
        i += 8 + sz + (sz & 1)  # RIFF chunks are word-aligned
    if rate is None:
        return None, None, None, None, None
    align = (ch or 0) * ((bits or 0) // 8)
    nsamp = data_size // align if (data_size is not None and align > 0) else None
    return "wav", rate, ch, bits, nsamp


def _parse_audio_arrays(arr):
    """Vectorized WAV/FLAC header parse over a pyarrow (large_)binary
    array.

    Returns (format, rate, channels, bits, n_samples) as object/int64
    numpy arrays with None/-1 for unparseable rows. The CANONICAL WAV
    layout (fmt chunk first, data second — what every encoder writes)
    is fully vectorized: all fields sit at fixed offsets, read as
    little-endian gathers on the shared data buffer; RIFF files with
    extra chunks before "data" fall back to the scalar chunk walk —
    still bounded by header bytes, not payload. FLAC is ALWAYS fully
    vectorized: the spec mandates STREAMINFO as the first metadata
    block, so its bit-packed fields sit at fixed offsets (big-endian
    gathers + shifts/masks).
    """
    import numpy as np
    import pyarrow as pa

    if pa.types.is_binary(arr.type):
        off_dtype = np.int32
    elif pa.types.is_large_binary(arr.type):
        off_dtype = np.int64
    else:
        raise TypeError(f"expected (large_)binary, got {arr.type}")
    offsets = np.frombuffer(arr.buffers()[1], dtype=off_dtype)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    buf = arr.buffers()[2]
    data = (
        np.frombuffer(buf, dtype=np.uint8) if buf is not None else np.empty(0, np.uint8)
    )
    n = len(arr)
    fmt = np.full(n, None, dtype=object)
    rate = np.full(n, -1, dtype=np.int64)
    channels = np.full(n, -1, dtype=np.int64)
    bits = np.full(n, -1, dtype=np.int64)
    nsamp = np.full(n, -1, dtype=np.int64)
    starts, lens = offsets[:-1], offsets[1:] - offsets[:-1]

    # RIFF/WAVE signature needs 12 bytes; the canonical fast path
    # additionally needs the full 44 (12 sig + 24 fmt + 8 data header).
    # Shorter-but-valid RIFF rows (truncated header-only probes the
    # scalar reference still parses) must fall through to the scalar
    # walk, NOT silently null out.
    riff = np.nonzero(lens >= 12)[0]
    if riff.size:
        s = starts[riff]
        ok = np.ones(riff.size, dtype=bool)
        for k, byte in enumerate(b"RIFF"):
            ok &= data[s + k] == byte
        for k, byte in enumerate(b"WAVE"):
            ok &= data[s + 8 + k] == byte
        riff, s = riff[ok], s[ok]
    if riff.size:
        # canonical fast path: "fmt " (size 16, PCM) at 12, "data" at 36
        # — probed only on rows long enough to hold the full 44-byte
        # canonical header (gathers stay in-bounds by construction)
        ok = np.zeros(riff.size, dtype=bool)
        has44 = lens[riff] >= 44
        s44 = s[has44]
        probe = np.ones(s44.size, dtype=bool)
        for k, byte in enumerate(b"fmt \x10\x00\x00\x00"):
            probe &= data[s44 + 12 + k] == byte
        for k, byte in enumerate(b"data"):
            probe &= data[s44 + _WAV_CANONICAL_DATA_OFF + k] == byte
        ok[np.nonzero(has44)[0][probe]] = True
        canon, sc = riff[ok], s[ok]
        if canon.size:

            def le(o, nbytes):
                v = np.zeros(sc.size, dtype=np.int64)
                for k in range(nbytes):
                    v |= data[sc + o + k].astype(np.int64) << (8 * k)
                return v

            channels[canon] = le(22, 2)
            rate[canon] = le(24, 4)
            align = le(32, 2)
            bits[canon] = le(34, 2)
            dsz = le(40, 4)
            nsamp[canon] = np.where(align > 0, dsz // np.maximum(align, 1), -1)
            fmt[canon] = "wav"
        # non-canonical RIFF rows (extra chunks) → scalar chunk walk
        for i in riff[~ok]:
            f, r, c, bt, ns = parse_audio_header(
                data[starts[i] : starts[i] + lens[i]].tobytes()
            )
            if f is not None:
                fmt[i] = f
                rate[i] = -1 if r is None else r
                channels[i] = -1 if c is None else c
                bits[i] = -1 if bt is None else bt
                nsamp[i] = -1 if ns is None else ns

    # FLAC fast path: "fLaC" + first-block STREAMINFO (spec-mandated
    # first, so every field is a fixed-offset BE gather)
    flac = np.nonzero((lens >= 42) & (fmt == None))[0]  # noqa: E711
    if flac.size:
        s = starts[flac]
        ok = np.ones(flac.size, dtype=bool)
        for k, byte in enumerate(b"fLaC"):
            ok &= data[s + k] == byte
        ok &= (data[s + 4] & 0x7F) == 0  # block type 0 = STREAMINFO
        # declared STREAMINFO length must cover the 34 spec bytes
        blen = (
            (data[s + 5].astype(np.int64) << 16)
            | (data[s + 6].astype(np.int64) << 8)
            | data[s + 7].astype(np.int64)
        )
        ok &= blen >= 34
        flac, s = flac[ok], s[ok]
        if flac.size:
            b = lambda o: data[s + o].astype(np.int64)  # noqa: E731
            rate[flac] = (b(18) << 12) | (b(19) << 4) | (b(20) >> 4)
            channels[flac] = ((b(20) >> 1) & 0x7) + 1
            bits[flac] = ((b(20) & 0x1) << 4 | (b(21) >> 4)) + 1
            nsamp[flac] = (
                ((b(21) & 0xF) << 32) | (b(22) << 24) | (b(23) << 16)
                | (b(24) << 8) | b(25)
            )
            fmt[flac] = "flac"
    return fmt, rate, channels, bits, nsamp


def decode_audio_headers(
    binary_df: DataFrame, id_col: str = "doc_id", audio_col: str = "audio"
) -> DataFrame:
    """(id, aud_format, aud_rate, aud_channels, aud_bits, aud_samples,
    aud_ms) per row.

    Real decode of audio STRUCTURE from RIFF bytes inside one
    ``mapInArrow`` stage — same contract as ``decode_image_headers``:
    bytes never leave the executor, no codec library, canonical-layout
    rows fully vectorized, unrecognized payloads yield NULLs rather
    than erroring. ``aud_ms`` is exact integer milliseconds
    (samples*1000 div rate) so cross-engine checks never touch floats.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    id_field = binary_df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("aud_format", T.StringType()),
            T.StructField("aud_rate", T.LongType()),
            T.StructField("aud_channels", T.LongType()),
            T.StructField("aud_bits", T.LongType()),
            T.StructField("aud_samples", T.LongType()),
            T.StructField("aud_ms", T.LongType()),
        ]
    )

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            content = batch.column(batch.schema.get_field_index(audio_col))
            yield pa.RecordBatch.from_arrays(
                [batch.column(batch.schema.get_field_index(id_col))]
                + _audio_header_arrays(content),
                names=[
                    id_col, "aud_format", "aud_rate", "aud_channels",
                    "aud_bits", "aud_samples", "aud_ms",
                ],
            )

    return binary_df.mapInArrow(run, schema=out_schema)


def _sentinel_nulls(arr) -> "object":
    """int64 pyarrow column with the -1 sentinels nulled — one
    vectorized mask instead of a per-row Python loop (this runs inside
    the Arrow stage whose per-batch Python cost is the operator
    family's measured dominant term)."""
    import pyarrow as pa

    return pa.array(arr, type=pa.int64(), mask=arr < 0)


def _audio_header_arrays(content) -> list:
    """pyarrow output columns for one batch of audio payloads."""
    import numpy as np
    import pyarrow as pa

    fmt, rate, ch, bits, nsamp = _parse_audio_arrays(content)
    ms = np.where((nsamp >= 0) & (rate > 0), nsamp * 1000 // np.maximum(rate, 1), -1)
    return [
        pa.array(fmt, pa.string()),
        _sentinel_nulls(rate),
        _sentinel_nulls(ch),
        _sentinel_nulls(bits),
        _sentinel_nulls(nsamp),
        _sentinel_nulls(ms),
    ]


# --- real video container header decode (no codec libraries required) ------
#
# MP4 / ISO-BMFF (public spec ISO/IEC 14496-12): a file is a sequence
# of boxes — size(4 BE) type(4), size==1 → 64-bit largesize follows,
# size==0 → box extends to EOF. `ftyp` (major brand) comes first;
# `moov` is a container whose `mvhd` child carries the movie header
# (version 0: timescale 4 BE + duration 4 BE after 8 bytes of times;
# version 1: 8-byte times and duration) and whose `trak` children are
# the tracks. The box walk SKIPS payloads via the declared sizes, so
# cost is O(#boxes), never O(bytes) — a multi-GB mdat is one size
# field. Layout is inherently variable (real muxers put moov before
# OR after mdat), so there is no fixed-offset vectorized path; the
# walk itself is the decoder, exactly like the JPEG marker walk.


def parse_video_header(b: bytes):
    """(format, brand, timescale, duration, n_tracks) from ISO-BMFF
    bytes, else 5×None.

    Reads ONLY box structure: payloads are skipped via declared sizes
    (moov-at-end files walk past mdat in one hop). Corrupt sizes stop
    the walk; a file with no ftyp or no mvhd yields all-Nones rather
    than raising. A duration of ALL ONES means "unknown" per the spec
    (common in fragmented MP4s) and maps to None, as does any duration
    past int64 — never an overflow.
    """
    return _parse_video_header_ex(b)[0]


def _parse_video_header_ex(b: bytes):
    """(result tuple, complete) — ``complete`` is False when any box's
    declared extent ran past the supplied bytes (or a size-0 to-EOF box
    was seen), i.e. parsing a PREFIX may have missed boxes and the
    caller should retry on the full payload before trusting counts."""
    n = len(b)
    i = 0
    brand = None
    timescale = duration = None
    tracks = 0
    seen_ftyp = False
    complete = True
    while i + 8 <= n:
        size = int.from_bytes(b[i : i + 4], "big")
        typ = b[i + 4 : i + 8]
        hdr = 8
        if size == 1:
            if i + 16 > n:
                break
            size = int.from_bytes(b[i + 8 : i + 16], "big")
            hdr = 16
        elif size == 0:
            size = n - i
            complete = False  # to-EOF box: a prefix can't bound it
        if size < hdr:
            break  # corrupt declared size — refuse to walk garbage
        if i + size > n:
            complete = False  # box tail past the supplied bytes
        if typ == b"ftyp":
            if i != 0:
                break  # spec: ftyp is the first box
            if i + hdr + 4 <= n:
                brand = b[i + hdr : i + hdr + 4].decode("latin1")
                seen_ftyp = True
        elif typ == b"moov":
            j = i + hdr
            end = min(i + size, n)
            while j + 8 <= end:
                csz = int.from_bytes(b[j : j + 4], "big")
                ct = b[j + 4 : j + 8]
                chdr = 8
                if csz == 1:
                    if j + 16 > end:
                        break
                    csz = int.from_bytes(b[j + 8 : j + 16], "big")
                    chdr = 16
                elif csz == 0:
                    csz = end - j
                if csz < chdr:
                    break
                if ct == b"mvhd" and j + chdr + 4 <= end:
                    ver = b[j + chdr]
                    # duration ALL ONES = unknown per spec (fragmented
                    # MP4s) — version-specific sentinel; v1 values past
                    # int63 can't land in the int64 output columns —
                    # all map to None, never an OverflowError
                    if ver == 0 and j + chdr + 20 <= end:
                        timescale = int.from_bytes(
                            b[j + chdr + 12 : j + chdr + 16], "big"
                        )
                        duration = int.from_bytes(
                            b[j + chdr + 16 : j + chdr + 20], "big"
                        )
                        if duration == 0xFFFFFFFF:
                            duration = None
                    elif ver == 1 and j + chdr + 32 <= end:
                        timescale = int.from_bytes(
                            b[j + chdr + 20 : j + chdr + 24], "big"
                        )
                        duration = int.from_bytes(
                            b[j + chdr + 24 : j + chdr + 32], "big"
                        )
                        if duration >= 1 << 63:
                            duration = None
                elif ct == b"trak":
                    tracks += 1
                if j + csz > end:
                    complete = False  # child tail past the moov slice
                j += csz
        i += size
    if not seen_ftyp or timescale is None:
        return (None, None, None, None, None), complete
    return ("mp4", brand, timescale, duration, tracks), complete


def decode_video_headers(
    binary_df: DataFrame, id_col: str = "doc_id", video_col: str = "video"
) -> DataFrame:
    """(id, vid_format, vid_brand, vid_timescale, vid_duration,
    vid_ms, vid_tracks) per row.

    Same contract as the image/audio decoders: one ``mapInArrow``
    stage, bytes never leave the executor, no codec library,
    unrecognized payloads yield NULLs. The box walk reads a 64 KiB
    prefix first and retries on the full payload whenever the prefix
    walk was INCOMPLETE (any box extending past the prefix — covers
    moov-at-end files AND >64 KiB faststart moovs whose trak boxes
    straddle the boundary) — the JPEG oversized-APPn pattern with a
    completeness flag.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    id_field = binary_df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("vid_format", T.StringType()),
            T.StructField("vid_brand", T.StringType()),
            T.StructField("vid_timescale", T.LongType()),
            T.StructField("vid_duration", T.LongType()),
            T.StructField("vid_ms", T.LongType()),
            T.StructField("vid_tracks", T.LongType()),
        ]
    )

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            content = batch.column(batch.schema.get_field_index(video_col))
            yield pa.RecordBatch.from_arrays(
                [batch.column(batch.schema.get_field_index(id_col))]
                + _video_header_arrays(content),
                names=[
                    id_col, "vid_format", "vid_brand", "vid_timescale",
                    "vid_duration", "vid_ms", "vid_tracks",
                ],
            )

    return binary_df.mapInArrow(run, schema=out_schema)


def _video_header_arrays(content) -> list:
    """pyarrow output columns for one batch of video payloads."""
    import numpy as np
    import pyarrow as pa

    n = len(content)
    fmt = np.full(n, None, dtype=object)
    brand = np.full(n, None, dtype=object)
    timescale = np.full(n, -1, dtype=np.int64)
    duration = np.full(n, -1, dtype=np.int64)
    tracks = np.full(n, -1, dtype=np.int64)
    for i in range(n):
        v = content[i]
        if not v.is_valid:
            continue
        raw = v.as_buffer()
        # prefix-capped walk; the full-payload retry covers BOTH
        # moov-at-end files (prefix found nothing) AND boxes straddling
        # the prefix boundary (a >64 KiB faststart moov would silently
        # undercount trak boxes without the completeness flag)
        prefix = raw[:65536].to_pybytes() if len(raw) > 65536 else raw.to_pybytes()
        (f, br, ts, dur, tr), done = _parse_video_header_ex(prefix)
        if not done and len(raw) > len(prefix):
            (f, br, ts, dur, tr), _ = _parse_video_header_ex(raw.to_pybytes())
        if f is not None:
            fmt[i], brand[i] = f, br
            timescale[i] = -1 if ts is None else ts
            duration[i] = -1 if dur is None else dur
            tracks[i] = -1 if tr is None else tr
    # int64-safe milliseconds: durations large enough that *1000 would
    # wrap report NULL ms (the duration itself is still emitted)
    ms_safe = (duration >= 0) & (timescale > 0) & (duration <= (1 << 63) // 1000 - 1)
    ms = np.where(ms_safe, duration * 1000 // np.maximum(timescale, 1), -1)
    return [
        pa.array(fmt, pa.string()),
        pa.array(brand, pa.string()),
        _sentinel_nulls(timescale),
        _sentinel_nulls(duration),
        _sentinel_nulls(ms),
        _sentinel_nulls(tracks),
    ]


def plant_video(
    df: DataFrame, id_col: str = "doc_id", video_col: str = "video"
) -> DataFrame:
    """Append a deterministic, structurally VALID MP4 header per row.

    Entirely JVM-side: ftyp (major brand isom/mp42 by id parity) +
    moov containing an mvhd v0 (true 108-byte layout: identity matrix,
    1.0 rate/volume) and 1-3 trak boxes each holding a spec-shaped
    92-byte tkhd v0 with its track id. No mdat — a header parse never
    reads samples (same truncated-file contract as the audio plants).
    Field formulas (recomputed independently by the DuckDB oracle):

        brand     = 'isom' if id % 2 == 0 else 'mp42'
        timescale = [600, 1000, 44100, 90000][id % 4]
        duration  = id % 100000 + 1          (timescale units)
        tracks    = id % 3 + 1
    """
    did = F.col(id_col)

    def be(col, hexdigits):
        return F.unhex(F.lpad(F.hex(col.cast("long")), hexdigits, "0"))

    brand = F.when(did % 2 == 0, F.lit("isom")).otherwise(F.lit("mp42"))
    timescale = F.element_at(
        F.array(F.lit(600), F.lit(1000), F.lit(44100), F.lit(90000)),
        (did % 4 + 1).cast("int"),
    )
    duration = did % 100000 + 1
    ntracks = (did % 3 + 1).cast("int")
    matrix = (
        "00010000" + "00000000" * 3 + "00010000" + "00000000" * 3 + "40000000"
    )
    mvhd = F.concat(
        F.unhex(F.lit("0000006C6D766864")),  # size 108, "mvhd"
        F.unhex(F.lit("00000000")),  # version 0 + flags
        F.unhex(F.lit("00000000" * 2)),  # creation/modification
        be(timescale, 8),
        be(duration, 8),
        F.unhex(F.lit("00010000")),  # rate 1.0
        F.unhex(F.lit("0100")),  # volume 1.0
        F.unhex(F.lit("0000" + "00000000" * 2)),  # reserved
        F.unhex(F.lit(matrix)),
        F.unhex(F.lit("00000000" * 6)),  # pre_defined
        be(ntracks + 1, 8),  # next_track_ID
    )

    def trak(k: int):
        return F.concat(
            F.unhex(F.lit("000000647472616B")),  # size 100, "trak"
            F.unhex(F.lit("0000005C746B6864")),  # size 92, "tkhd"
            F.unhex(F.lit("00000007")),  # v0 + enabled/in-movie flags
            F.unhex(F.lit("00000000" * 2)),  # creation/modification
            be(F.lit(k), 8),  # track_ID
            F.unhex(F.lit("00000000")),  # reserved
            be(duration, 8),
            F.unhex(F.lit("00000000" * 2)),  # reserved
            F.unhex(F.lit("0000" * 4)),  # layer/group/volume/reserved
            F.unhex(F.lit(matrix)),
            F.unhex(F.lit("00000000" * 2)),  # width/height (non-visual)
        )

    traks = (
        F.when(ntracks == 1, trak(1))
        .when(ntracks == 2, F.concat(trak(1), trak(2)))
        .otherwise(F.concat(trak(1), trak(2), trak(3)))
    )
    moov_size = F.lit(8 + 108) + ntracks * 100
    mp4 = F.concat(
        F.unhex(F.lit("0000001466747970")),  # size 20, "ftyp"
        brand.cast("binary"),  # major brand (4 ASCII bytes)
        F.unhex(F.lit("00000200")),  # minor version
        F.unhex(F.lit("00000000")),  # one compatible-brand slot
        be(moov_size, 8),
        F.unhex(F.lit("6D6F6F76")),  # "moov"
        mvhd,
        traks,
    )
    return df.withColumn(video_col, mp4)


def plant_audio(
    df: DataFrame, id_col: str = "doc_id", audio_col: str = "audio"
) -> DataFrame:
    """Append a deterministic, structurally VALID audio header per row.

    Entirely JVM-side (concat/unhex/shiftright — whole-stage codegen,
    no UDF): even ids get a canonical RIFF/WAVE PCM header whose
    declared "data" size encodes the sample count, odd ids a FLAC
    "fLaC" + STREAMINFO metadata block with the bit-packed rate/
    channels/bits/total-samples fields (md5 zeroed = unknown,
    spec-legal). Sample bytes themselves are omitted (a truncated file
    — header parses trust declared counts by contract, and planting
    them would add data-size bytes per row for a decode that never
    reads them). Field formulas (documented here, recomputed
    independently by the DuckDB oracle, IDENTICAL for both formats):

        rate     = [8000, 16000, 22050, 44100][id % 4]
        channels = id % 2 + 1
        bits     = 8 if id % 3 == 0 else 16
        samples  = id % 1000 + 1
        wav data sz = samples * channels * bits/8
    """
    did = F.col(id_col)

    def le(col, nbytes):
        c = col.cast("long")
        return F.unhex(
            F.concat(
                *[
                    F.lpad(F.hex(F.shiftright(c, 8 * i) % 256), 2, "0")
                    for i in range(nbytes)
                ]
            )
        )

    def byte(col):
        return F.unhex(F.lpad(F.hex(col.cast("long") % 256), 2, "0"))

    rate = F.element_at(
        F.array(F.lit(8000), F.lit(16000), F.lit(22050), F.lit(44100)),
        (did % 4 + 1).cast("int"),
    )
    ch = did % 2 + 1
    bytes_per = F.when(did % 3 == 0, F.lit(1)).otherwise(F.lit(2))
    nsamp = did % 1000 + 1
    block_align = ch * bytes_per
    data_size = nsamp * block_align
    wav = F.concat(
        F.unhex(F.lit("52494646")),  # "RIFF"
        le(F.lit(36) + data_size, 4),  # riff size = 4 + (8+16) + 8 + data
        F.unhex(F.lit("57415645")),  # "WAVE"
        F.unhex(F.lit("666D7420")),  # "fmt "
        F.unhex(F.lit("10000000")),  # fmt chunk size = 16 (LE)
        F.unhex(F.lit("0100")),  # audio format 1 = PCM (LE)
        le(ch, 2),
        le(rate, 4),
        le(rate * block_align, 4),  # byte rate
        le(block_align, 2),
        le(bytes_per * 8, 2),  # bits per sample
        F.unhex(F.lit("64617461")),  # "data"
        le(data_size, 4),
    )
    bits = bytes_per * 8
    flac = F.concat(
        F.unhex(F.lit("664C6143")),  # "fLaC"
        F.unhex(F.lit("80000022")),  # last-block | STREAMINFO, len 34
        F.unhex(F.lit("10001000")),  # min/max block size 4096
        F.unhex(F.lit("000000000000")),  # min/max frame size unknown
        byte(F.shiftright(rate, 12)),
        byte(F.shiftright(rate, 4)),
        byte(
            F.shiftleft(rate % 16, 4)
            + F.shiftleft(ch - 1, 1)
            + F.shiftright(bits - 1, 4)
        ),
        byte(F.shiftleft((bits - 1) % 16, 4) + F.shiftright(nsamp, 32) % 16),
        F.unhex(
            F.concat(
                *[
                    F.lpad(
                        F.hex(F.shiftright(nsamp.cast("long"), 8 * i) % 256), 2, "0"
                    )
                    for i in (3, 2, 1, 0)  # big-endian 32-bit sample count
                ]
            )
        ),
        F.unhex(F.lit("00" * 16)),  # md5 of samples: 0 = unknown
    )
    return df.withColumn(
        audio_col, F.when(did % 2 == 0, wav).otherwise(flac)
    )


def _fake_features(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic byte-level 'decode': length, 8-byte checksum, frame count.

    Stands in for a real feature extractor; byte math is exact so the
    whole mapInPandas path can be oracle-checked end-to-end.
    """
    content = pdf["content"]
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "byte_len": content.map(len),
            "checksum8": content.map(lambda b: int(sum(b[:8]))),
            "n_frames": content.map(lambda b: (len(b) + 255) // 256),
        }
    )


def _byte_sums(arr) -> "object":
    """Per-row sum of bytes for a (small-width) pyarrow binary array.

    Offsets + one cumulative sum over the compact data buffer — no
    per-row Python. Handles sliced arrays (non-zero ``arr.offset``) and
    empty rows; the cumsum is O(data bytes), which for the 8-byte head
    slices is ~8N.
    """
    import numpy as np
    import pyarrow as pa

    # binary carries int32 offsets, large_binary int64 — misreading one
    # as the other silently produces garbage sums, so branch explicitly
    # and refuse anything else (e.g. fixed_size_binary has no offsets).
    if pa.types.is_binary(arr.type) or pa.types.is_string(arr.type):
        off_dtype = np.int32
    elif pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type):
        off_dtype = np.int64
    else:
        raise TypeError(f"_byte_sums expects a (large_)binary array, got {arr.type}")
    offsets = np.frombuffer(arr.buffers()[1], dtype=off_dtype)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    buf = arr.buffers()[2]
    data = (
        np.frombuffer(buf, dtype=np.uint8) if buf is not None else np.empty(0, np.uint8)
    )
    csum = np.concatenate(([0], np.cumsum(data, dtype=np.int64)))
    return csum[offsets[1:]] - csum[offsets[:-1]]


def extract_features(
    binary_df: DataFrame,
    image_col: str | None = None,
    audio_col: str | None = None,
    video_col: str | None = None,
) -> DataFrame:
    """Arrow-native feature extraction over the binary column.

    ``mapInArrow``, not ``mapInPandas``: the stand-in features are pure
    byte math, so each batch computes entirely in pyarrow/numpy kernels
    (binary_length, binary_slice, an offsets+cumsum byte checksum) and
    the pandas conversion each way — the dominant cost of this
    operator's r6 DuckDB-proxy gap — is skipped. With ``image_col`` the
    SAME batch pass also runs the real image-header decode
    (``_parse_image_arrays``) and appends img_format/width/height/
    channels; with ``audio_col`` it additionally runs the real WAV/FLAC
    header decode (``_parse_audio_arrays``) and appends the aud_*
    columns; with ``video_col`` the real MP4 box walk
    (``parse_video_header``) appends the vid_* columns — one Arrow
    stage, one scan, no join, no extra Python boundary (the per-stage
    launch round trip is this operator's measured dominant cost, so
    every decoder must ride the same stage)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = FEATURE_SCHEMA
    if image_col is not None:
        schema += (
            ", img_format string, img_width long, img_height long, img_channels long"
        )
    if audio_col is not None:
        schema += (
            ", aud_format string, aud_rate long, aud_channels long,"
            " aud_bits long, aud_samples long, aud_ms long"
        )
    if video_col is not None:
        schema += (
            ", vid_format string, vid_brand string, vid_timescale long,"
            " vid_duration long, vid_ms long, vid_tracks long"
        )

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            content = batch.column(batch.schema.get_field_index("content"))
            blen = pc.cast(pc.binary_length(content), pa.int64())
            checksum = pa.array(_byte_sums(pc.binary_slice(content, 0, 8)), pa.int64())
            # (len + 255) // 256 — arrow integer divide truncates, and
            # len >= 0, so it matches Python's floor division here
            n_frames = pc.cast(pc.divide(pc.add(blen, 255), 256), pa.int64())
            arrays = [
                batch.column(batch.schema.get_field_index("doc_id")),
                blen,
                checksum,
                n_frames,
            ]
            names = ["doc_id", "byte_len", "checksum8", "n_frames"]
            if image_col is not None:
                img = batch.column(batch.schema.get_field_index(image_col))
                fmt, w, h, ch = _parse_image_arrays(img)
                arrays += [
                    pa.array(fmt, pa.string()),
                    _sentinel_nulls(w),
                    _sentinel_nulls(h),
                    _sentinel_nulls(ch),
                ]
                names += ["img_format", "img_width", "img_height", "img_channels"]
            if audio_col is not None:
                aud = batch.column(batch.schema.get_field_index(audio_col))
                arrays += _audio_header_arrays(aud)
                names += [
                    "aud_format", "aud_rate", "aud_channels",
                    "aud_bits", "aud_samples", "aud_ms",
                ]
            if video_col is not None:
                vid = batch.column(batch.schema.get_field_index(video_col))
                arrays += _video_header_arrays(vid)
                names += [
                    "vid_format", "vid_brand", "vid_timescale",
                    "vid_duration", "vid_ms", "vid_tracks",
                ]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    # guide §4: ship ONLY the consumed columns across the Arrow
    # boundary. The binary table also carries `meta` (and any other
    # payload columns) which this extractor never reads — mapInArrow is
    # a black box to the optimizer, so without this projection every
    # extra column is serialized into each Arrow batch and back out of
    # the JVM for nothing.
    needed = ["doc_id", "content"] + [
        c for c in (image_col, audio_col, video_col) if c is not None
    ]
    return binary_df.select(*needed).mapInArrow(run, schema=schema)


def extract_features_pandas(binary_df: DataFrame) -> DataFrame:
    """mapInPandas formulation, kept as the differential reference for
    the Arrow-native path (and the slot a pandas-based extractor would
    use)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _fake_features(pdf)

    return binary_df.mapInPandas(run, schema=FEATURE_SCHEMA)


def sample_frames(binary_df: DataFrame, id_col: str = "doc_id", frame_bytes: int = 256) -> DataFrame:
    """Frame sampling shape: explode each payload into fixed-size chunks.

    (id, frame_idx, frame: binary) — the video-pipeline partitioning
    pattern (one row per sampled frame, downstream feature UDFs fan out
    per frame). Pure built-ins: substring on binary slices chunks.
    """
    n = F.ceil(F.length("content") / frame_bytes).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)))
    return binary_df.select(
        F.col(id_col),
        F.explode(idx).alias("frame_idx"),
        F.expr(f"substring(content, frame_idx * {frame_bytes} + 1, {frame_bytes})").alias(
            "frame"
        ),
    )


RESIZED_SCHEMA = "doc_id long, content binary, meta struct<mime:string,n_chars:long>, resized binary, scale long"


def resize_media(binary_df: DataFrame, scale: int = 4) -> DataFrame:
    """Resize plumbing: per-payload downsample as an Arrow-batched map.

    Real image resize (PIL.Image.resize / cv2.resize) slots into the
    per-batch function; the deterministic stand-in keeps every
    ``scale``-th byte (an exact byte-level "nearest-neighbor downsample")
    so schema, batch shape, and partitioning are testable end-to-end.
    Output keeps the original columns and appends (resized, scale) —
    the production pattern where multiple resolutions ride one row.
    """
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out["resized"] = pdf["content"].map(lambda b: bytes(b[::scale]))
            out["scale"] = scale
            yield out

    return binary_df.mapInPandas(run, schema=RESIZED_SCHEMA)
