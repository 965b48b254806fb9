"""Multimodal plumbing: Arrow-batched decode/resize/frame-sample shapes.

The codecs are deliberately absent (no PIL/ffmpeg in this container);
what's under test is the Spark-side contract — schemas, mapInPandas
batch shape, exact byte math — that a real decoder drops into.
"""

from __future__ import annotations

import pytest

from datafusion_dft_spark.catalog import load_tables
from datafusion_dft_spark.operators import multimodal as mm
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def binary_docs(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    return mm.to_binary_table(docs.limit(50), "doc_id", "text")


def test_decode_stubs_raise(binary_docs):
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"RIFF")


def test_resize_media_exact_bytes(spark, binary_docs):
    out = mm.resize_media(binary_docs, scale=4)
    rows = out.select("doc_id", "content", "resized", "scale").collect()
    assert rows
    for r in rows:
        assert bytes(r.resized) == bytes(r.content)[::4]
        assert r.scale == 4
    # original columns survive (multi-resolution rides one row)
    assert {"doc_id", "content", "meta", "resized", "scale"} == set(out.columns)


def test_resize_rejects_bad_scale(binary_docs):
    with pytest.raises(ValueError):
        mm.resize_media(binary_docs, scale=0)


def test_frame_sample_reassembles(spark, binary_docs):
    """Chunks concatenated in frame_idx order must equal the payload —
    the lossless-partitioning property the video pipeline relies on."""
    frames = mm.sample_frames(binary_docs, frame_bytes=64)
    got = {}
    for r in frames.orderBy("doc_id", "frame_idx").collect():
        got.setdefault(r.doc_id, bytearray()).extend(bytes(r.frame))
    want = {r.doc_id: bytes(r.content) for r in binary_docs.collect()}
    assert {k: bytes(v) for k, v in got.items()} == want


def test_arrow_native_features_match_pandas_path(spark, binary_docs):
    """The mapInArrow formulation (skips pandas conversion both ways)
    must reproduce the mapInPandas reference byte-for-byte — including
    empty payloads and multi-frame documents."""
    from pyspark.sql import functions as F

    # add edge payloads: empty and >256-byte (multi-frame)
    extra = spark.createDataFrame(
        [(900001, ""), (900002, "x" * 700)], "doc_id long, text string"
    )
    b = binary_docs.unionByName(
        mm.to_binary_table(extra, "doc_id", "text")
    )
    via_arrow = {tuple(r) for r in mm.extract_features(b).collect()}
    via_pandas = {tuple(r) for r in mm.extract_features_pandas(b).collect()}
    assert via_arrow == via_pandas and len(via_arrow) == 52


# --- real image header decode ----------------------------------------------
# Fixture builders use struct/zlib/binascii directly from the public
# specs (W3C PNG, ITU T.81 JFIF) — a different code path than the
# parser under test, so planting and parsing can't share a bug.


def _real_png(width, height, color_type=6):
    import binascii
    import struct
    import zlib

    def chunk(typ, data):
        body = typ + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", binascii.crc32(body) & 0xFFFFFFFF
        )

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes(width * channels) for _ in range(height)
    )  # filter 0 rows of zero pixels
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _real_jpeg(width, height, ncomp=3, sof_marker=0xC0, leading_segments=()):
    import struct

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00")
    comps = b"".join(
        bytes([i + 1, 0x22 if i == 0 else 0x11, 0x00 if i == 0 else 0x01])
        for i in range(ncomp)
    )
    sof = seg(
        sof_marker, struct.pack(">BHHB", 8, height, width, ncomp) + comps
    )
    body = b"".join(seg(m, p) for m, p in leading_segments)
    return b"\xff\xd8" + app0 + body + sof + b"\xff\xd9"


def test_parse_image_header_png_fully_valid_file():
    # a COMPLETE spec-valid PNG (real zlib IDAT, real CRCs) — not just
    # a header fragment
    b = _real_png(3, 2, color_type=6)
    assert mm.parse_image_header(b) == ("png", 3, 2, 4)
    assert mm.parse_image_header(_real_png(640, 480, color_type=0)) == (
        "png", 640, 480, 1,
    )
    assert mm.parse_image_header(_real_png(1, 1, color_type=2)) == ("png", 1, 1, 3)


def test_parse_image_header_jpeg_marker_walk():
    # SOF0 baseline directly after APP0
    assert mm.parse_image_header(_real_jpeg(640, 480, 3)) == ("jpeg", 640, 480, 3)
    # progressive SOF2 behind COM + DQT segments: the walk must skip
    # unknown/variable-length segments to find the frame header
    b = _real_jpeg(
        12345, 689, 1, sof_marker=0xC2,
        leading_segments=[(0xFE, b"a comment"), (0xDB, bytes(65))],
    )
    assert mm.parse_image_header(b) == ("jpeg", 12345, 689, 1)


def test_parse_image_header_jpeg_fill_bytes():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
    marker — the walk must skip the run, not read a fill byte as the
    marker."""
    base = _real_jpeg(320, 200, 3)
    # one and many fill bytes before the first APP0 marker
    for fills in (b"\xff", b"\xff" * 7):
        padded = base[:2] + fills + base[2:]
        assert mm.parse_image_header(padded) == ("jpeg", 320, 200, 3)
    # fill bytes between segments (before the SOF marker itself)
    sof_at = base.index(b"\xff\xc0")
    padded = base[:sof_at] + b"\xff\xff\xff" + base[sof_at:]
    assert mm.parse_image_header(padded) == ("jpeg", 320, 200, 3)
    # a trailing FF run with no marker byte must not loop/crash
    assert mm.parse_image_header(b"\xff\xd8" + b"\xff" * 8) == (
        None, None, None, None,
    )


def test_decode_image_headers_string_ids(spark):
    """The id column passes through under its own name and type — a
    string id must not be forced through the old 'doc_id long'
    schema."""
    import pyarrow as pa

    pdf = spark.createDataFrame(
        [("k1", _real_png(4, 3, color_type=2)), ("k2", _real_jpeg(9, 7, 1))],
        "img_key string, image binary",
    )
    rows = {r.img_key: r for r in mm.decode_image_headers(
        pdf, id_col="img_key").collect()}
    assert rows["k1"].img_format == "png" and rows["k1"].img_width == 4
    assert rows["k2"].img_format == "jpeg" and rows["k2"].img_channels == 1


def test_parse_image_header_rejects_garbage():
    for b in (b"", b"\x89PNG", b"\xff\xd8\xff", b"hello world" * 10, bytes(64)):
        assert mm.parse_image_header(b) == (None, None, None, None)
    # JPEG with no SOF before start-of-scan
    import struct
    nosof = b"\xff\xd8" + b"\xff\xda" + struct.pack(">H", 4) + b"\x00\x00"
    assert mm.parse_image_header(nosof) == (None, None, None, None)


def test_planted_images_are_spec_valid(spark, sf_dir):
    """The JVM-planted bytes check out against an independent
    struct/binascii reading: PNG signature + IHDR layout + true CRC32,
    JFIF APP0 + SOF0 field layout."""
    import binascii
    import struct

    docs = load_tables(spark, sf_dir)["documents"].limit(40)
    rows = mm.plant_images(docs.select("doc_id"), "doc_id").collect()
    assert rows
    for r in rows:
        b = bytes(r.image)
        w, h = r.doc_id % 317 + 1, r.doc_id % 211 + 1
        if r.doc_id % 2 == 0:
            assert b[:8] == b"\x89PNG\r\n\x1a\n"
            (length,) = struct.unpack(">I", b[8:12])
            assert length == 13 and b[12:16] == b"IHDR"
            pw, ph, depth, ct = struct.unpack(">IIBB", b[16:26])
            assert (pw, ph, depth) == (w, h, 8)
            assert ct == [0, 2, 6][r.doc_id % 3]
            (crc,) = struct.unpack(">I", b[29:33])
            assert crc == binascii.crc32(b[12:29]) & 0xFFFFFFFF
            assert b[-12:] == b"\x00\x00\x00\x00IEND\xaeB`\x82"
        else:
            assert b[:2] == b"\xff\xd8" and b[2:4] == b"\xff\xe0"
            (app0_len,) = struct.unpack(">H", b[4:6])
            assert app0_len == 16 and b[6:11] == b"JFIF\x00"
            sof_at = 2 + 2 + app0_len
            assert b[sof_at : sof_at + 2] == b"\xff\xc0"
            prec, ph, pw, nc = struct.unpack(
                ">BHHB", b[sof_at + 4 : sof_at + 10]
            )
            assert (prec, ph, pw) == (8, h, w)
            assert nc == (1 if r.doc_id % 3 == 0 else 3)
            assert b[-2:] == b"\xff\xd9"


def test_decode_image_headers_distributed(spark, sf_dir):
    """plant -> mapInArrow header decode recovers the dimension
    formulas for every row; the vectorized PNG path and the scalar
    JPEG walk agree with parse_image_header row-by-row."""
    docs = load_tables(spark, sf_dir)["documents"].limit(300)
    planted = mm.plant_images(docs.select("doc_id"), "doc_id")
    out = {r.doc_id: r for r in mm.decode_image_headers(planted).collect()}
    planted_rows = {r.doc_id: bytes(r.image) for r in planted.collect()}
    assert len(out) == len(planted_rows)
    for did, r in out.items():
        want = mm.parse_image_header(planted_rows[did])
        assert (r.img_format, r.img_width, r.img_height, r.img_channels) == want
        assert r.img_format == ("png" if did % 2 == 0 else "jpeg")
        assert r.img_width == did % 317 + 1
        assert r.img_height == did % 211 + 1


def test_extract_features_with_images_single_stage(spark, binary_docs):
    """image_col rides the SAME Arrow stage: base feature columns are
    bit-identical to the image-free path, img_* columns appear, and the
    plan contains exactly one ArrowEvalPython/mapInArrow node."""
    planted = mm.plant_images(binary_docs, "doc_id")
    combined = mm.extract_features(planted, image_col="image")
    base = mm.extract_features(binary_docs)
    a = {r.doc_id: (r.byte_len, r.checksum8, r.n_frames) for r in base.collect()}
    rows = combined.collect()
    assert {r.doc_id: (r.byte_len, r.checksum8, r.n_frames) for r in rows} == a
    for r in rows:
        assert r.img_format in ("png", "jpeg") and r.img_width >= 1
    plan = combined._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both sections
    assert final.count("MapInArrow") == 1, final


# --- real audio (WAV/RIFF) header decode ------------------------------------
# Fixture builder uses struct directly from the public RIFF/WAVE spec —
# a different code path than the parser under test.


def _real_wav(rate, ch, bits, nsamples, pre_chunks=(), with_data=True):
    import struct

    align = ch * bits // 8
    data_size = nsamples * align
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, ch, rate, rate * align, align, bits
    )
    extra = b""
    for cid, payload in pre_chunks:
        extra += cid + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            extra += b"\x00"  # RIFF word alignment pad
    data = b"data" + struct.pack("<I", data_size)
    if with_data:
        data += bytes(data_size)
    body = b"WAVE" + fmt + extra + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_parse_audio_header_complete_wav():
    # a COMPLETE spec-valid PCM WAV (real sample bytes) — not just a
    # header fragment; the parser reports the SAMPLE COUNT derived from
    # the declared data size / block align
    b = _real_wav(44100, 2, 16, 1000)
    assert mm.parse_audio_header(b) == ("wav", 44100, 2, 16, 1000)
    assert mm.parse_audio_header(_real_wav(8000, 1, 8, 3)) == ("wav", 8000, 1, 8, 3)
    # truncated file (declared data, no sample bytes) still parses —
    # header probes trust declared sizes by contract
    t = _real_wav(16000, 1, 16, 500, with_data=False)
    assert mm.parse_audio_header(t) == ("wav", 16000, 1, 16, 500)


def test_parse_audio_header_chunk_walk():
    # LIST metadata + fact chunks before data — the walk must skip
    # unknown chunks; odd-size payloads carry a word-alignment pad byte
    b = _real_wav(
        22050, 2, 16, 7,
        pre_chunks=[(b"LIST", b"INFOIART" + b"x" * 5), (b"fact", bytes(4))],
    )
    assert mm.parse_audio_header(b) == ("wav", 22050, 2, 16, 7)


def test_parse_audio_header_rejects_garbage():
    import struct

    for b in (b"", b"RIFF", b"RIFF\x00\x00\x00\x00JUNK", bytes(64), b"x" * 100):
        assert mm.parse_audio_header(b) == (None, None, None, None, None)
    # fmt chunk declaring 16 bytes but truncated mid-field
    trunc = b"RIFF" + struct.pack("<I", 20) + b"WAVEfmt " + struct.pack("<I", 16) + b"\x01\x00"
    assert mm.parse_audio_header(trunc) == (None, None, None, None, None)


def test_planted_audio_is_spec_valid(spark, sf_dir):
    """The JVM-planted bytes check out against an independent struct
    reading of the RIFF/WAVE layout (all little-endian, true declared
    sizes)."""
    import struct

    docs = load_tables(spark, sf_dir)["documents"].limit(40)
    rows = mm.plant_audio(docs.select("doc_id"), "doc_id").collect()
    assert rows
    for r in rows:
        b = bytes(r.audio)
        rate = [8000, 16000, 22050, 44100][r.doc_id % 4]
        ch = r.doc_id % 2 + 1
        bits = 8 if r.doc_id % 3 == 0 else 16
        nsamp = r.doc_id % 1000 + 1
        if r.doc_id % 2 == 0:
            data_size = nsamp * ch * bits // 8
            assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
            (riff_size,) = struct.unpack("<I", b[4:8])
            assert riff_size == 36 + data_size
            assert b[12:16] == b"fmt "
            fsz, afmt, pch, prate, pbyte, palign, pbits = struct.unpack(
                "<IHHIIHH", b[16:36]
            )
            assert (fsz, afmt) == (16, 1)
            assert (pch, prate, pbits) == (ch, rate, bits)
            assert palign == ch * bits // 8 and pbyte == rate * palign
            assert b[36:40] == b"data"
            (psize,) = struct.unpack("<I", b[40:44])
            assert psize == data_size
        else:
            # FLAC: independent bit-level reading of STREAMINFO
            assert b[:4] == b"fLaC"
            assert b[4] == 0x80  # last block, type 0 = STREAMINFO
            assert int.from_bytes(b[5:8], "big") == 34
            assert struct.unpack(">HH", b[8:12]) == (4096, 4096)
            prate = (b[18] << 12) | (b[19] << 4) | (b[20] >> 4)
            pch = ((b[20] >> 1) & 0x7) + 1
            pbits = (((b[20] & 1) << 4) | (b[21] >> 4)) + 1
            pns = (
                ((b[21] & 0xF) << 32)
                | int.from_bytes(b[22:26], "big")
            )
            assert (prate, pch, pbits, pns) == (rate, ch, bits, nsamp)
            assert b[26:42] == bytes(16)  # md5 unknown
            assert len(b) == 42


def test_decode_audio_headers_distributed(spark, sf_dir):
    """plant -> mapInArrow header decode recovers the field formulas for
    every row; the vectorized canonical path agrees with
    parse_audio_header row-by-row, and aud_ms is exact integer math."""
    docs = load_tables(spark, sf_dir)["documents"].limit(300)
    planted = mm.plant_audio(docs.select("doc_id"), "doc_id")
    out = {r.doc_id: r for r in mm.decode_audio_headers(planted).collect()}
    planted_rows = {r.doc_id: bytes(r.audio) for r in planted.collect()}
    assert len(out) == len(planted_rows)
    for did, r in out.items():
        f, rate, ch, bits, ns = mm.parse_audio_header(planted_rows[did])
        assert (r.aud_format, r.aud_rate, r.aud_channels, r.aud_bits) == (
            f, rate, ch, bits,
        )
        assert f == ("wav" if did % 2 == 0 else "flac")
        assert r.aud_samples == ns == did % 1000 + 1
        assert r.aud_ms == r.aud_samples * 1000 // rate


def test_decode_audio_headers_chunk_walk_and_nulls(spark):
    """Non-canonical layouts take the scalar walk inside the vectorized
    kernel; non-RIFF payloads yield NULLs instead of erroring."""
    walk = _real_wav(8000, 1, 16, 42, pre_chunks=[(b"LIST", b"INFO" + b"y" * 9)])
    rows = spark.createDataFrame(
        [(1, walk), (2, b"not audio at all"), (3, _real_wav(44100, 2, 16, 5))],
        "doc_id long, audio binary",
    )
    got = {r.doc_id: r for r in mm.decode_audio_headers(rows).collect()}
    assert got[1].aud_format == "wav" and got[1].aud_samples == 42
    assert got[1].aud_rate == 8000
    assert got[2].aud_format is None and got[2].aud_rate is None
    assert got[3].aud_samples == 5 and got[3].aud_channels == 2


def test_extract_features_with_audio_single_stage(spark, binary_docs):
    """audio_col rides the SAME Arrow stage as the byte features and the
    image decode: base feature columns are bit-identical to the
    media-free path, aud_* columns appear, and the plan contains exactly
    one mapInArrow node."""
    planted = mm.plant_audio(mm.plant_images(binary_docs, "doc_id"), "doc_id")
    combined = mm.extract_features(planted, image_col="image", audio_col="audio")
    base = mm.extract_features(binary_docs)
    a = {r.doc_id: (r.byte_len, r.checksum8, r.n_frames) for r in base.collect()}
    rows = combined.collect()
    assert {r.doc_id: (r.byte_len, r.checksum8, r.n_frames) for r in rows} == a
    for r in rows:
        assert r.aud_format == ("wav" if r.doc_id % 2 == 0 else "flac")
        assert r.aud_rate == [8000, 16000, 22050, 44100][r.doc_id % 4]
        assert r.aud_bits == (8 if r.doc_id % 3 == 0 else 16)
        assert r.img_format in ("png", "jpeg")
    plan = combined._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both sections
    assert final.count("MapInArrow") == 1, final


def _real_flac(rate, ch, bits, nsamples, last_block=True, extra_padding=False):
    """fLaC + STREAMINFO built bit-by-bit from the xiph spec — a
    different code path than the parser under test."""
    import struct

    hdr = bytes([0x00 if not last_block else 0x80]) + b"\x00\x00\x22"
    si = struct.pack(">HH", 4096, 4096)  # min/max block size
    si += b"\x00\x00\x00" * 2  # min/max frame size unknown
    si += bytes(
        [
            (rate >> 12) & 0xFF,
            (rate >> 4) & 0xFF,
            ((rate & 0xF) << 4) | ((ch - 1) << 1) | ((bits - 1) >> 4),
            (((bits - 1) & 0xF) << 4) | ((nsamples >> 32) & 0xF),
        ]
    ) + struct.pack(">I", nsamples & 0xFFFFFFFF)
    si += bytes(16)  # md5 unknown
    out = b"fLaC" + hdr + si
    if extra_padding:  # a PADDING block after STREAMINFO (not last)
        out = out.replace(bytes([0x80]), bytes([0x00]), 1)
        out += b"\x81\x00\x00\x04" + bytes(4)
    return out


def test_parse_audio_header_flac_streaminfo():
    # 36-bit total-samples field: check a count beyond 2^32
    big = (3 << 32) | 123456
    assert mm.parse_audio_header(_real_flac(96000, 2, 24, big)) == (
        "flac", 96000, 2, 24, big,
    )
    assert mm.parse_audio_header(_real_flac(44100, 1, 16, 777)) == (
        "flac", 44100, 1, 16, 777,
    )
    # STREAMINFO not flagged last (more blocks follow) still parses
    assert mm.parse_audio_header(
        _real_flac(8000, 8, 32, 5, extra_padding=True)
    ) == ("flac", 8000, 8, 32, 5)
    # garbage: truncated, wrong first block type, short declared length
    assert mm.parse_audio_header(b"fLaC") == (None,) * 5
    assert mm.parse_audio_header(b"fLaC\x84\x00\x00\x22" + bytes(34)) == (None,) * 5
    assert mm.parse_audio_header(b"fLaC\x80\x00\x00\x10" + bytes(34)) == (None,) * 5


def test_decode_audio_headers_flac_vectorized(spark):
    """The FLAC fixed-offset fast path agrees with the scalar parser,
    mixed WAV/FLAC/garbage in one batch."""
    rows = [
        (1, _real_flac(22050, 2, 16, 999)),
        (2, _real_wav(16000, 1, 16, 42)),
        (3, b"neither format"),
        (4, _real_flac(192000, 4, 24, (1 << 35) + 7)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, audio binary")
    got = {r.doc_id: r for r in mm.decode_audio_headers(df).collect()}
    for did, payload in rows:
        want = mm.parse_audio_header(payload)
        r = got[did]
        assert (r.aud_format, r.aud_rate, r.aud_channels, r.aud_bits,
                r.aud_samples) == want
    assert got[4].aud_samples == (1 << 35) + 7  # 36-bit field survives int64


def test_media_header_parsers_never_crash_on_fuzz():
    """Hypothesis fuzz: arbitrary bytes — including truncations and
    mutations of valid headers — must parse to a tuple or all-Nones,
    never raise. This is the 'a corrupt member must not kill the
    stage at 100 TB' contract, enforced at the scalar layer both
    vectorized kernels fall back to."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    seeds = [
        _real_wav(44100, 2, 16, 9),
        _real_flac(22050, 1, 16, 9),
        _real_png(5, 4),
        _real_jpeg(5, 4),
        _real_mp4(1000, 42, tracks=2),
        _real_mp4(90000, (1 << 33) + 5, v=1, moov_at_end=True, mdat_bytes=64),
    ]

    @settings(max_examples=300, deadline=None)
    @given(
        st.one_of(
            st.binary(max_size=256),
            st.sampled_from(seeds).flatmap(
                lambda b: st.integers(0, len(b)).map(lambda i: b[:i])
            ),
            st.sampled_from(seeds).flatmap(
                lambda b: st.tuples(
                    st.integers(0, max(0, len(b) - 1)), st.integers(0, 255)
                ).map(lambda t: b[: t[0]] + bytes([t[1]]) + b[t[0] + 1 :])
            ),
        )
    )
    def check(payload):
        a = mm.parse_audio_header(payload)
        assert len(a) == 5
        i = mm.parse_image_header(payload)
        assert len(i) == 4
        v = mm.parse_video_header(payload)
        assert len(v) == 5
        # int64-safety contract: a parsed duration always fits the
        # output column (the all-ones/oversized sentinels map to None)
        if v[3] is not None:
            assert 0 <= v[3] < (1 << 63)

    check()


def test_audio_vectorized_kernel_handles_sliced_arrays():
    """pyarrow slices share buffers with a non-zero offset — the
    vectorized kernel must respect it (same contract as the image
    kernel's offset handling)."""
    import pyarrow as pa

    payloads = [
        _real_wav(8000, 1, 8, 5),
        _real_flac(44100, 2, 16, 321),
        b"junk",
        _real_wav(22050, 2, 16, 77),
    ]
    arr = pa.array(payloads, pa.binary())
    sliced = arr.slice(1, 3)  # offset=1: flac, junk, wav
    fmt, rate, ch, bits, ns = mm._parse_audio_arrays(sliced)
    assert list(fmt) == ["flac", None, "wav"]
    assert list(ns) == [321, -1, 77]
    assert list(rate) == [44100, -1, 22050]


def test_binary_dir_roundtrip_decode(spark, tmp_path):
    """The production source shape: spark.read.format('binaryFile') over
    a media directory -> header decode. Files written independently
    with the struct-built fixtures."""
    d = tmp_path / "media"
    d.mkdir()
    (d / "a.wav").write_bytes(_real_wav(16000, 1, 16, 111))
    (d / "b.flac").write_bytes(_real_flac(48000, 2, 24, 222))
    (d / "c.png").write_bytes(_real_png(12, 34, color_type=2))
    df = (
        spark.read.format("binaryFile")
        .load(str(d))
        .select(F.col("path"), F.col("content").alias("audio"))
    )
    got = {
        r.path.rsplit("/", 1)[-1]: r
        for r in mm.decode_audio_headers(df, id_col="path").collect()
    }
    assert got["a.wav"].aud_format == "wav" and got["a.wav"].aud_samples == 111
    assert got["b.flac"].aud_format == "flac" and got["b.flac"].aud_rate == 48000
    assert got["c.png"].aud_format is None  # not audio; no crash
    img = {
        r.path.rsplit("/", 1)[-1]: r
        for r in mm.decode_image_headers(
            df.withColumnRenamed("audio", "image"), id_col="path"
        ).collect()
    }
    assert (img["c.png"].img_width, img["c.png"].img_height) == (12, 34)


# --- real video (MP4/ISO-BMFF) header decode --------------------------------


def _real_mp4(ts, dur, tracks=1, brand=b"isom", v=0, moov_at_end=False,
              mdat_bytes=0):
    import struct

    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    if v == 0:
        body = b"\x00\x00\x00\x00" + bytes(8) + struct.pack(">II", ts, dur)
    else:
        body = b"\x01\x00\x00\x00" + bytes(16) + struct.pack(">IQ", ts, dur)
    body += struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
    body += bytes(10) + bytes(36) + bytes(24) + struct.pack(">I", tracks + 1)
    mvhd = box(b"mvhd", body)
    traks = b""
    for k in range(1, tracks + 1):
        tkhd = box(
            b"tkhd",
            b"\x00\x00\x00\x07" + bytes(8) + struct.pack(">I", k)
            + bytes(4) + struct.pack(">I", dur & 0xFFFFFFFF)
            + bytes(8) + bytes(8) + bytes(36) + bytes(8),
        )
        traks += box(b"trak", tkhd)
    ftyp = box(b"ftyp", brand + struct.pack(">I", 0x200) + b"mp41")
    moov = box(b"moov", mvhd + traks)
    mdat = box(b"mdat", bytes(mdat_bytes)) if mdat_bytes else b""
    return ftyp + (mdat + moov if moov_at_end else moov + mdat)


def test_parse_video_header_box_walk():
    assert mm.parse_video_header(_real_mp4(90000, 123456, tracks=2)) == (
        "mp4", "isom", 90000, 123456, 2,
    )
    # moov AFTER mdat (what real muxers write without -movflags faststart):
    # the walk skips the payload via the declared size
    b = _real_mp4(1000, 42, tracks=3, moov_at_end=True, mdat_bytes=5000)
    assert mm.parse_video_header(b) == ("mp4", "isom", 1000, 42, 3)
    # version-1 mvhd: 64-bit duration survives
    big = (1 << 33) + 5
    assert mm.parse_video_header(_real_mp4(600, big, v=1)) == (
        "mp4", "isom", 600, big, 1,
    )
    # garbage / ftyp-not-first / corrupt declared size
    assert mm.parse_video_header(b"") == (None,) * 5
    assert mm.parse_video_header(bytes(64)) == (None,) * 5
    import struct
    assert mm.parse_video_header(struct.pack(">I", 3) + b"ftypisom") == (None,) * 5


def test_planted_video_is_spec_valid(spark, sf_dir):
    """The JVM-planted MP4 parses with the independently-written
    fixture-grade reader (struct-based scalar) AND its field formulas
    hold."""
    docs = load_tables(spark, sf_dir)["documents"].limit(40)
    rows = mm.plant_video(docs.select("doc_id"), "doc_id").collect()
    assert rows
    import struct
    for r in rows:
        b = bytes(r.video)
        f, brand, ts, dur, tr = mm.parse_video_header(b)
        assert f == "mp4"
        assert brand == ("isom" if r.doc_id % 2 == 0 else "mp42")
        assert ts == [600, 1000, 44100, 90000][r.doc_id % 4]
        assert dur == r.doc_id % 100000 + 1
        assert tr == r.doc_id % 3 + 1
        # independent structural reads: ftyp first, declared moov size
        # covers mvhd + traks exactly
        assert b[4:8] == b"ftyp" and struct.unpack(">I", b[:4])[0] == 20
        (moov_size,) = struct.unpack(">I", b[20:24])
        assert b[24:28] == b"moov"
        assert moov_size == 8 + 108 + tr * 100 == len(b) - 20


def test_decode_video_headers_distributed(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"].limit(200)
    planted = mm.plant_video(docs.select("doc_id"), "doc_id")
    out = {r.doc_id: r for r in mm.decode_video_headers(planted).collect()}
    assert len(out) == 200
    for did, r in out.items():
        assert r.vid_format == "mp4"
        assert r.vid_tracks == did % 3 + 1
        assert r.vid_ms == r.vid_duration * 1000 // r.vid_timescale
    # non-video payloads yield NULLs, not errors
    mixed = spark.createDataFrame(
        [(1, _real_mp4(1000, 99)), (2, b"not a video")],
        "doc_id long, video binary",
    )
    got = {r.doc_id: r for r in mm.decode_video_headers(mixed).collect()}
    assert got[1].vid_duration == 99 and got[2].vid_format is None


def test_parse_video_header_unknown_and_oversized_durations():
    """Spec: duration ALL ONES = unknown (fragmented MP4s) -> None, per
    version; v1 durations past int64 -> None (never OverflowError in
    the int64 output columns)."""
    v0_unknown = _real_mp4(1000, 0xFFFFFFFF, v=0)
    assert mm.parse_video_header(v0_unknown) == ("mp4", "isom", 1000, None, 1)
    v1_unknown = _real_mp4(1000, 0xFFFFFFFFFFFFFFFF, v=1)
    assert mm.parse_video_header(v1_unknown) == ("mp4", "isom", 1000, None, 1)
    v1_huge = _real_mp4(1000, 1 << 63, v=1)
    assert mm.parse_video_header(v1_huge) == ("mp4", "isom", 1000, None, 1)
    # a v1 duration that happens to equal 0xFFFFFFFF is LEGITIMATE
    assert mm.parse_video_header(_real_mp4(90000, 0xFFFFFFFF, v=1)) == (
        "mp4", "isom", 90000, 0xFFFFFFFF, 1,
    )
    # decode stage: NULL duration/ms, no crash; near-int64 duration
    # reports NULL ms (the *1000 would wrap) but keeps the duration
    import pyspark.sql.functions as SF  # noqa: F401
    big_ok = (1 << 62)  # representable, but *1000 overflows
    df_rows = [(1, v1_unknown), (2, _real_mp4(600, big_ok, v=1))]
    import pyspark.sql as _s
    spark = _s.SparkSession.getActiveSession()
    df = spark.createDataFrame(df_rows, "doc_id long, video binary")
    got = {r.doc_id: r for r in mm.decode_video_headers(df).collect()}
    assert got[1].vid_duration is None and got[1].vid_ms is None
    assert got[1].vid_format == "mp4" and got[1].vid_timescale == 1000
    assert got[2].vid_duration == big_ok and got[2].vid_ms is None


def test_decode_video_headers_moov_straddles_prefix(spark):
    """A faststart MP4 whose moov exceeds the 64 KiB prefix (fat
    metadata child before the traks) must still report the full track
    count — the completeness flag forces the full-payload retry."""
    import struct

    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    base = _real_mp4(1000, 42, tracks=3)
    # splice a 70 KiB 'udta' child into moov after mvhd, before traks
    ftyp_end = 20
    (moov_size,) = struct.unpack(">I", base[20:24])
    mvhd_end = ftyp_end + 8 + 108
    fat = box(b"udta", bytes(70000))
    new_moov_payload = base[ftyp_end + 8 : mvhd_end] + fat + base[mvhd_end:]
    b = base[:ftyp_end] + box(b"moov", new_moov_payload)
    assert mm.parse_video_header(b) == ("mp4", "isom", 1000, 42, 3)
    df = spark.createDataFrame([(1, b)], "doc_id long, video binary")
    r = mm.decode_video_headers(df).collect()[0]
    assert r.vid_tracks == 3 and r.vid_duration == 42


# --- vectorized extraction vs the scalar reference parsers ------------------


def _adversarial_corpora(spark):
    """One binary table mixing real fixture bytes and adversarial
    corpora — every parser branch in one relation."""
    import random

    fixtures = [
        _real_png(640, 480, color_type=0),
        _real_png(3, 2, color_type=6),
        _real_png(1, 1, color_type=2),
        _real_jpeg(640, 480, 3),
        _real_jpeg(320, 200, 1, sof_marker=0xC2),
        _real_jpeg(
            16, 16, 3,
            leading_segments=((0xE1, bytes(300)), (0xDB, bytes(65)),
                              (0xFE, b"comment")),
        ),
        _real_wav(44100, 2, 16, 9),
        _real_wav(8000, 1, 8, 3, pre_chunks=((b"LIST", bytes(11)),)),
        _real_wav(22050, 1, 16, 5, with_data=False),
        _real_flac(22050, 1, 16, 9),
        _real_flac(44100, 2, 24, 123456, last_block=False, extra_padding=True),
        _real_mp4(1000, 42, tracks=2),
        _real_mp4(90000, (1 << 33) + 5, v=1, moov_at_end=True, mdat_bytes=64),
        _real_mp4(600, 0xFFFFFFFF, tracks=3),  # v0 unknown-duration sentinel
    ]
    rng = random.Random(1537)
    adversarial = [b"", b"\x00", bytes(range(256))]
    for b in fixtures:
        # truncations at structure-relevant prefixes + random cuts
        for cut in {1, 3, 7, 11, 19, 25, 41, len(b) // 2, max(0, len(b) - 1)}:
            adversarial.append(b[:cut])
        # seeded single-byte mutations
        for _ in range(6):
            i = rng.randrange(len(b))
            adversarial.append(b[:i] + bytes([rng.randrange(256)]) + b[i + 1:])
    rows = [(i, v, v, v, v) for i, v in enumerate(fixtures + adversarial)]
    return spark.createDataFrame(
        rows, "doc_id long, content binary, image binary, audio binary, video binary"
    )


def _scalar_features(row) -> tuple:
    """The ``extract_features`` row the scalar parsers predict."""
    c = bytes(row.content)
    afmt, rate, ch, bits, nsamp = mm.parse_audio_header(bytes(row.audio))
    aud_ms = nsamp * 1000 // rate if nsamp is not None and rate else None
    vfmt, brand, ts, dur, tracks = mm.parse_video_header(bytes(row.video))
    vid_ms = (
        dur * 1000 // ts
        if dur is not None and ts and dur <= (1 << 63) // 1000 - 1
        else None
    )
    return (
        row.doc_id, len(c), sum(c[:8]), (len(c) + 255) // 256,
        *mm.parse_image_header(bytes(row.image)),
        afmt, rate, ch, bits, nsamp, aud_ms,
        vfmt, brand, ts, dur, vid_ms, tracks,
    )


def test_extract_features_matches_scalar_parsers(spark, sf_dir):
    """The vectorized header kernels of ``extract_features`` reproduce
    the scalar parsers row by row: planted pipeline bytes, real fixture
    bytes built from the public specs, truncations, and seeded
    mutations."""
    docs = load_tables(spark, sf_dir)["documents"]
    planted = mm.plant_video(
        mm.plant_audio(
            mm.plant_images(
                mm.to_binary_table(docs.limit(120), "doc_id", "text"),
                "doc_id", "image",
            ),
            "doc_id", "audio",
        ),
        "doc_id", "video",
    ).select("doc_id", "content", "image", "audio", "video")
    adversarial = _adversarial_corpora(spark)
    # pin the planted rows so both sides see the same input
    planted = spark.createDataFrame(planted.collect(), adversarial.schema)
    for b in (planted, adversarial):
        got = sorted(
            tuple(r)
            for r in mm.extract_features(
                b, image_col="image", audio_col="audio", video_col="video"
            ).collect()
        )
        assert got == sorted(_scalar_features(r) for r in b.collect())
    assert adversarial.count() > 100  # the adversarial corpus is non-trivial
