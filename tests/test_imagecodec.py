"""Unit tests for the dependency-free PPM/BMP/PNG codecs and the real
multimodal kernels built on them (decode dispatch, nearest-neighbor resize,
P6-stream frame sampling). Pure-Python — no Spark session needed."""

from __future__ import annotations

import pytest

from pipeline_etl_ecommerce_spark.operators.imagecodec import (
    DecodeError,
    decode_bmp,
    decode_png,
    decode_ppm,
    encode_bmp,
    encode_png,
    encode_ppm,
    iter_ppm_stream,
    resize_ppm_nearest,
)
from pipeline_etl_ecommerce_spark.operators.multimodal import (
    _even_sample,
    _resize_payload,
    decode_image,
    synth_raster,
)


def _stats_of(raster: bytes, w: int) -> dict:
    return {
        "sum_r": sum(raster[0::3]),
        "sum_g": sum(raster[1::3]),
        "sum_b": sum(raster[2::3]),
        "top_left": (raster[0], raster[1], raster[2]),
        "row0_sum": sum(raster[: w * 3]),
    }


@pytest.mark.parametrize("media_id", [0, 1, 7, 123, 4567, 10**9])
def test_ppm_bmp_roundtrip_agree(media_id):
    w, h, raster = synth_raster(media_id)
    expect = _stats_of(raster, w)
    for payload in (encode_ppm(w, h, raster), encode_bmp(w, h, raster)):
        d = decode_image(payload)
        assert (d["width"], d["height"], d["channels"]) == (w, h, 3)
        assert (d["sum_r"], d["sum_g"], d["sum_b"]) == (
            expect["sum_r"],
            expect["sum_g"],
            expect["sum_b"],
        )
        assert (d["top_left_r"], d["top_left_g"], d["top_left_b"]) == expect["top_left"]
        assert d["row0_sum"] == expect["row0_sum"]


def test_p3_ascii_and_comments():
    # comments may appear anywhere whitespace is legal in the header
    p3 = b"P3 # inline\n# full line\n2 1\n# before maxval\n255\n1 2 3 4 5 6"
    d = decode_ppm(p3)
    assert (d["width"], d["height"]) == (2, 1)
    assert (d["sum_r"], d["sum_g"], d["sum_b"]) == (5, 7, 9)
    assert d["row0_sum"] == 21


def test_p6_comment_in_header():
    raster = bytes(range(6))
    payload = encode_ppm(2, 1, raster)
    assert b"#" in payload  # encoder emits a comment so decode exercises it
    assert decode_ppm(payload)["sum_b"] == 2 + 5


def test_bmp_row_padding_and_order():
    # w=9 -> row 27 bytes -> stride 28: padding byte must not leak into sums;
    # bottom-up storage must be undone for top_left/row0_sum.
    w, h = 9, 2
    raster = bytes(range(w * h * 3))
    d = decode_bmp(encode_bmp(w, h, raster))
    assert d["sum_r"] == sum(raster[0::3])
    assert (d["top_left_r"], d["top_left_g"], d["top_left_b"]) == (0, 1, 2)
    assert d["row0_sum"] == sum(raster[: w * 3])


def test_bmp_top_down_negative_height():
    # top-down BMPs store height negative and rows in logical order
    w, h = 2, 2
    raster = bytes(range(12))
    payload = bytearray(encode_bmp(w, h, raster))
    # stored bottom-up: row1 then row0. Flip height sign and swap rows to
    # produce an equivalent top-down file.
    import struct

    struct.pack_into("<i", payload, 14 + 8, -h)
    off = 54
    stride = 8
    payload[off : off + stride], payload[off + stride : off + 2 * stride] = (
        payload[off + stride : off + 2 * stride],
        payload[off : off + stride],
    )
    d = decode_bmp(bytes(payload))
    assert (d["top_left_r"], d["top_left_g"], d["top_left_b"]) == (0, 1, 2)
    assert d["row0_sum"] == sum(raster[:6])


def test_resize_nearest_floor_map():
    big = encode_ppm(4, 4, bytes(range(48)))
    small = decode_ppm(resize_ppm_nearest(big, 2, 2))
    # floor map keeps src pixels (0,0),(2,0),(0,2),(2,2)
    exp = bytes([0, 1, 2, 6, 7, 8, 24, 25, 26, 30, 31, 32])
    assert small["sum_r"] == sum(exp[0::3])
    assert small["row0_sum"] == sum(exp[:6])


def test_resize_upscale():
    src = encode_ppm(1, 1, b"\x01\x02\x03")
    up = decode_ppm(resize_ppm_nearest(src, 3, 3))
    assert (up["sum_r"], up["sum_g"], up["sum_b"]) == (9, 18, 27)


def test_ppm_stream_framing_and_sampling():
    frames_in = [encode_ppm(2, 1, bytes([i] * 6)) for i in range(5)]
    stream = b"".join(frames_in)
    parsed = [f for _o, f in iter_ppm_stream(stream)]
    assert parsed == frames_in
    # floor map j*5//2 -> frames 0 and 2
    assert list(_even_sample(len(parsed), 2)) == [0, 2]
    # more frames requested than available -> each frame once, no dupes
    assert list(_even_sample(len(parsed), 99)) == [0, 1, 2, 3, 4]


@pytest.mark.parametrize(
    "bad",
    [
        b"",
        b"P6",
        b"P6\n2 2\n255\n\x00\x00",  # truncated raster
        b"P6\n2 2\n70000\n" + b"\x00" * 24,  # 16-bit maxval unsupported
        b"P3\n1 1\n255\n1 x 3",  # non-numeric sample
        b"BMxx",
    ],
)
def test_malformed_payloads_raise_decode_error(bad):
    with pytest.raises((DecodeError, NotImplementedError)):
        decode_image(bad)


def test_truncated_bmp_raster():
    good = encode_bmp(2, 2, bytes(12))
    with pytest.raises(DecodeError):
        decode_bmp(good[:-3])


def test_compressed_formats_still_not_implemented():
    # PNG (r6) and baseline JPEG (r7) are implemented — garbage after the
    # signature is now a DecodeError from the real parsers, not a format gap.
    with pytest.raises(DecodeError):
        decode_image(b"\x89PNG\r\n\x1a\n....")
    with pytest.raises(DecodeError):
        decode_image(b"\xff\xd8\xff\xe0jpeg")
    with pytest.raises(DecodeError):
        _resize_payload(b"\xff\xd8\xff\xe0jpeg", 2, 2)


def test_stream_trailing_garbage_raises():
    stream = encode_ppm(1, 1, b"abc") + b"GARBAGE"
    with pytest.raises(DecodeError):
        list(iter_ppm_stream(stream))


def test_resize_image_stats_dead_letters_bad_payloads(spark):
    """Spark-side resize path: good payloads produce exact stats, malformed
    ones degrade to a status row (dead-letter policy) instead of failing
    the Arrow batch."""
    from pipeline_etl_ecommerce_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        resize_image_stats,
    )

    w, h, raster = synth_raster(5)
    rows = [
        (5, "image/x-portable-pixmap", encode_ppm(w, h, raster)),
        (6, "image/x-portable-pixmap", b"NOTANIMAGE"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in resize_image_stats(media, width=4, height=3).collect()}
    assert out[5]["decode_status"] == "ok" and out[5]["width"] == 4 and out[5]["height"] == 3
    assert out[6]["decode_status"].startswith("error") and out[6]["sum_r"] is None


def test_sample_frame_stats_matches_formula(spark):
    from pipeline_etl_ecommerce_spark.operators.multimodal import (
        sample_frame_stats,
        synth_stream_raster,
        synthesize_ppm_streams,
    )

    ids = spark.createDataFrame([(10,), (11,)], "media_id bigint")
    out = sample_frame_stats(synthesize_ppm_streams(ids), n_frames=2).collect()
    by_key = {(r["media_id"], r["frame_index"]): r for r in out}
    for mid in (10, 11):
        total = 2 + mid % 4
        kept = sorted({j * total // 2 for j in range(2)})
        assert [k[1] for k in sorted(by_key) if k[0] == mid] == kept
        for fi in kept:
            raster = synth_stream_raster(mid, fi)
            r = by_key[(mid, fi)]
            assert (r["sum_r"], r["sum_g"], r["sum_b"]) == (
                sum(raster[0::3]),
                sum(raster[1::3]),
                sum(raster[2::3]),
            )
            assert r["n_frames_total"] == total


def test_p3_raster_comments_and_range():
    """netpbm allows '#' comments anywhere in plain-format files, including
    between raster samples (self-review r4 fix)."""
    p3 = b"P3\n2 1\n255\n1 2 3 # mid-raster comment\n4 5 6"
    d = decode_ppm(p3)
    assert (d["sum_r"], d["sum_g"], d["sum_b"]) == (5, 7, 9)
    with pytest.raises(DecodeError, match="out of byte range"):
        decode_ppm(b"P3\n1 1\n255\n1 2 300")


def test_resize_rejects_nonpositive_target():
    src = encode_ppm(1, 1, b"\x01\x02\x03")
    with pytest.raises(ValueError, match="positive"):
        resize_ppm_nearest(src, 0, 3)
    with pytest.raises(ValueError, match="positive"):
        resize_ppm_nearest(src, 3, -1)


def test_resize_rejects_nonpositive_maxval():
    """ADVICE r4: resize previously accepted maxval == 0 and re-encoded a
    P6 that decode_ppm itself rejects; it must apply decode_ppm's own
    0 < maxval validation up front."""
    bad = b"P6\n2 2\n0\n" + bytes(12)
    with pytest.raises(DecodeError):
        resize_ppm_nearest(bad, 1, 1)


# --- hypothesis fuzz: parser totality (same contract as the WAV fuzz) -------
from hypothesis import given, settings
from hypothesis import strategies as st

from pipeline_etl_ecommerce_spark.operators.imagecodec import iter_ppm_stream


@settings(max_examples=300, deadline=None)
@given(data=st.binary(min_size=0, max_size=200))
def test_decoders_never_crash_on_arbitrary_bytes(data):
    for fn in (decode_ppm, decode_bmp):
        try:
            fn(data)
        except (DecodeError, NotImplementedError):
            pass
    try:
        list(iter_ppm_stream(data))
    except (DecodeError, NotImplementedError):
        pass
    try:
        resize_ppm_nearest(data, 2, 2)
    except (DecodeError, NotImplementedError):
        pass


@settings(max_examples=300, deadline=None)
@given(pos=st.integers(min_value=0, max_value=200), val=st.integers(min_value=0, max_value=255))
def test_single_byte_mutation_never_crashes(pos, val):
    from pipeline_etl_ecommerce_spark.operators.multimodal import synth_raster

    w, h, raster = synth_raster(7)
    for enc in (encode_ppm(w, h, raster), encode_bmp(w, h, raster)):
        payload = bytearray(enc)
        payload[pos % len(payload)] = val
        for fn in (decode_ppm, decode_bmp):
            try:
                fn(bytes(payload))
            except (DecodeError, NotImplementedError):
                pass


# --- PNG: real zlib-backed decode, all five filters, CRC discipline ---------
import struct as _struct
import zlib as _zlib

from pipeline_etl_ecommerce_spark.operators.multimodal import synth_raster_rgba


@pytest.mark.parametrize("media_id", [0, 1, 7, 123, 4567, 10**9])
def test_png_roundtrip_matches_formula(media_id):
    w, h, raster = synth_raster(media_id)
    st = decode_png(encode_png(w, h, raster))
    assert (st["width"], st["height"], st["channels"], st["maxval"]) == (w, h, 3, 255)
    assert st["sum_r"] == sum(raster[0::3])
    assert st["sum_g"] == sum(raster[1::3])
    assert st["sum_b"] == sum(raster[2::3])
    assert (st["top_left_r"], st["top_left_g"], st["top_left_b"]) == tuple(raster[:3])
    assert st["row0_sum"] == sum(raster[: w * 3])


@pytest.mark.parametrize("media_id", [0, 1, 7, 123, 4567])
def test_png_rgba_roundtrip(media_id):
    w, h, raster = synth_raster_rgba(media_id)
    assert h >= 5  # every RGBA image exercises all five filter types
    st = decode_png(encode_png(w, h, raster, channels=4))
    assert (st["width"], st["height"], st["channels"]) == (w, h, 4)
    assert st["sum_r"] == sum(raster[0::4])  # alpha (i%4==3) excluded
    assert st["sum_b"] == sum(raster[2::4])
    assert st["row0_sum"] == sum(raster[: w * 4])  # alpha included in the row


def test_png_each_filter_type_roundtrips():
    # h=5 cycles filters 0..4; a constant, a gradient, and a random-ish
    # raster stress different predictor branches (Average floor, Paeth ties)
    for pattern in (
        bytes(5 * 5 * 3),
        bytes((i % 256) for i in range(5 * 5 * 3)),
        bytes((i * 97 + 13) % 256 for i in range(5 * 5 * 3)),
    ):
        st = decode_png(encode_png(5, 5, pattern))
        assert st["sum_r"] == sum(pattern[0::3])
        assert st["row0_sum"] == sum(pattern[: 5 * 3])


def test_png_crc_corruption_rejected():
    payload = bytearray(encode_png(*synth_raster(3)[:2], synth_raster(3)[2]))
    # flip one bit inside the first IDAT body (CRC must catch it)
    idx = bytes(payload).index(b"IDAT") + 6
    payload[idx] ^= 0x01
    with pytest.raises(DecodeError):
        decode_png(bytes(payload))


def test_png_chunk_crossing_end_rejected():
    payload = bytearray(encode_png(2, 2, bytes(12)))
    # inflate the IHDR length field so the chunk crosses the payload end
    i = bytes(payload).index(b"IHDR") - 4
    payload[i : i + 4] = _struct.pack(">I", 10_000)
    with pytest.raises(DecodeError):
        decode_png(bytes(payload))


def test_png_missing_iend_rejected():
    payload = encode_png(2, 2, bytes(12))
    with pytest.raises(DecodeError):
        decode_png(payload[:-12])  # drop the IEND chunk entirely


def test_png_interlace_and_exotic_types_not_implemented():
    def make(depth, color_type, interlace):
        ihdr = _struct.pack(">IIBBBBB", 2, 2, depth, color_type, 0, 0, interlace)
        def chunk(t, b):
            return _struct.pack(">I", len(b)) + t + b + _struct.pack(
                ">I", _zlib.crc32(t + b) & 0xFFFFFFFF
            )
        raw = b"\x00" * 100  # bogus stream; type gate must fire first
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _zlib.compress(raw)) + chunk(b"IEND", b"")
        )

    # Adam7 is IMPLEMENTED since r7 — this crafted file's bogus stream now
    # fails the pass-layout size check, a malformed-file error
    with pytest.raises(DecodeError):
        decode_png(make(8, 2, 1))
    # 16-bit is IMPLEMENTED since r8 — the bogus stream fails the size
    # check, a malformed-file error, not a format gap
    with pytest.raises(DecodeError):
        decode_png(make(16, 2, 0))
    # sub-byte depths are IMPLEMENTED since r8 — the bogus stream fails
    # the size check, a malformed-file error, not a format gap
    with pytest.raises(DecodeError):
        decode_png(make(4, 0, 0))
    with pytest.raises(DecodeError):
        decode_png(make(1, 0, 0))
    # sub-byte depth on truecolor/alpha types is illegal per spec
    with pytest.raises(DecodeError, match="sub-byte depth illegal"):
        decode_png(make(4, 2, 0))
    with pytest.raises(DecodeError, match="bad bit depth"):
        decode_png(make(3, 0, 0))
    # 16-bit palette is illegal per spec, not a gap
    with pytest.raises(DecodeError, match="illegal for palette"):
        decode_png(make(16, 3, 0))
    # palette is IMPLEMENTED since r7 — this crafted file lacks its PLTE,
    # which is a malformed-file error, not a format gap
    with pytest.raises(DecodeError, match="missing PLTE"):
        decode_png(make(8, 3, 0))


def test_png_adam7_roundtrips_identical_to_sequential():
    """Adam7 storage is a pure re-layout: the interlaced encoding of any
    image decodes to stats IDENTICAL to its sequential encoding — across
    RGB/RGBA/gray and edge dims where several passes are empty."""
    from pipeline_etl_ecommerce_spark.operators.multimodal import (
        synth_raster_gray,
        synth_raster_rgba,
    )

    for mid in (0, 3, 8, 13):
        w, h, r = synth_raster(mid)
        assert decode_png(encode_png(w, h, r, interlace=True)) == decode_png(
            encode_png(w, h, r)
        )
        w, h, r = synth_raster_rgba(mid)
        assert decode_png(
            encode_png(w, h, r, channels=4, interlace=True)
        ) == decode_png(encode_png(w, h, r, channels=4))
        w, h, g = synth_raster_gray(mid)
        assert decode_png(
            encode_png(w, h, g, channels=1, interlace=True)
        ) == decode_png(encode_png(w, h, g, channels=1))
    for w, h in [(1, 1), (2, 1), (1, 2), (7, 5), (8, 8), (9, 9), (16, 2)]:
        r = bytes((i * 7 + 1) % 256 for i in range(w * h * 3))
        assert decode_png(encode_png(w, h, r, interlace=True)) == decode_png(
            encode_png(w, h, r)
        )


def test_png_corrupt_zlib_stream_rejected():
    def chunk(t, b):
        return _struct.pack(">I", len(b)) + t + b + _struct.pack(
            ">I", _zlib.crc32(t + b) & 0xFFFFFFFF
        )

    ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", b"not zlib at all") + chunk(b"IEND", b"")
    )
    with pytest.raises(DecodeError):
        decode_png(bad)


def test_png_size_mismatch_rejected():
    def chunk(t, b):
        return _struct.pack(">I", len(b)) + t + b + _struct.pack(
            ">I", _zlib.crc32(t + b) & 0xFFFFFFFF
        )

    ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)  # needs (6+1)*2 bytes
    short = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(b"\x00" * 5)) + chunk(b"IEND", b"")
    )
    with pytest.raises(DecodeError):
        decode_png(short)


def _chunk(t, b):
    return _struct.pack(">I", len(b)) + t + b + _struct.pack(
        ">I", _zlib.crc32(t + b) & 0xFFFFFFFF
    )


def test_png_zlib_bomb_rejected_before_allocation():
    # Valid CRCs, tiny payload, but IHDR claims 2^24 x 2^24 — expected raster
    # ~2^51 bytes. Must raise DecodeError from the size cap, never attempt
    # the allocation (a MemoryError here would fail the test too).
    ihdr = _struct.pack(">IIBBBBB", 1 << 24, 1 << 24, 8, 2, 0, 0, 0)
    bomb = (
        b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", _zlib.compress(b"\x00" * 64)) + _chunk(b"IEND", b"")
    )
    with pytest.raises(DecodeError, match="size cap"):
        decode_png(bomb)


def test_png_idat_overlong_inflate_rejected():
    # IHDR says 2x2 RGB (expected (6+1)*2 = 14 bytes) but the IDAT stream
    # inflates to 1 MiB. The bounded decompressobj must stop at expected+1
    # and raise, not inflate the whole stream.
    ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    over = (
        b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", _zlib.compress(b"\x00" * (1 << 20)))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(DecodeError, match="inflates past"):
        decode_png(over)


@settings(max_examples=300, deadline=None)
@given(data=st.binary(min_size=0, max_size=200))
def test_png_never_crashes_on_arbitrary_bytes(data):
    try:
        decode_png(b"\x89PNG\r\n\x1a\n" + data)
    except (DecodeError, NotImplementedError):
        pass


@settings(max_examples=300, deadline=None)
@given(pos=st.integers(min_value=0, max_value=500), val=st.integers(min_value=0, max_value=255))
def test_png_single_byte_mutation_never_crashes(pos, val):
    payload = bytearray(encode_png(*synth_raster(7)[:2], synth_raster(7)[2]))
    payload[pos % len(payload)] = val
    try:
        decode_png(bytes(payload))
    except (DecodeError, NotImplementedError):
        pass


def test_png_resize_matches_ppm_resize_pixels():
    # the PNG resize must produce pixel-identical results to the PPM path
    # (same floor index map) — decode both resized payloads and compare
    from pipeline_etl_ecommerce_spark.operators.imagecodec import resize_png_nearest

    for mid in (0, 1, 7, 123):
        w, h, raster = synth_raster(mid)
        via_ppm = decode_ppm(resize_ppm_nearest(encode_ppm(w, h, raster), 4, 3))
        via_png = decode_png(resize_png_nearest(encode_png(w, h, raster), 4, 3))
        for k in ("width", "height", "sum_r", "sum_g", "sum_b",
                  "top_left_r", "top_left_g", "top_left_b", "row0_sum"):
            assert via_ppm[k] == via_png[k], (mid, k)


def test_png_resize_rgba_keeps_alpha():
    from pipeline_etl_ecommerce_spark.operators.imagecodec import resize_png_nearest

    w, h, raster = synth_raster_rgba(3)
    st = decode_png(resize_png_nearest(encode_png(w, h, raster, channels=4), 2, 4))
    assert st["channels"] == 4
    # spot-check one mapped pixel: dst (0,0) <- src (0,0), full 4-byte copy
    assert (st["top_left_r"], st["top_left_g"], st["top_left_b"]) == tuple(raster[:3])


def test_resize_image_dispatches_png():
    w, h, raster = synth_raster(5)
    # output payload is itself a PNG of the target dims
    st = decode_png(_resize_payload(encode_png(w, h, raster), 4, 3))
    assert (st["width"], st["height"]) == (4, 3)
    with pytest.raises(DecodeError):  # malformed JPEG: real parser since r7
        _resize_payload(b"\xff\xd8\xff\xe0jpeg", 2, 2)


def test_png_palette_equals_truecolor_stats():
    """Palette encoding of a ≤256-color image decodes to IDENTICAL stats
    as its truecolor encoding — cross-representation equality."""
    from pipeline_etl_ecommerce_spark.operators.imagecodec import encode_png_palette
    from pipeline_etl_ecommerce_spark.operators.multimodal import synth_raster

    for mid in (0, 5, 9, 14):
        w, h, r = synth_raster(mid)
        assert decode_png(encode_png(w, h, r)) == decode_png(encode_png_palette(w, h, r))


def test_png_gray_and_gray_alpha_roundtrip():
    w, h = 9, 7
    g = bytes((i * 13 + 5) % 256 for i in range(w * h))
    st = decode_png(encode_png(w, h, g, channels=1))
    assert (st["channels"], st["sum_r"], st["row0_sum"]) == (1, sum(g), sum(g[:w]))
    assert st["sum_r"] == st["sum_g"] == st["sum_b"]
    ga = bytes((i * 7 + 3) % 256 for i in range(w * h * 2))
    st2 = decode_png(encode_png(w, h, ga, channels=2))
    assert st2["channels"] == 2
    assert st2["sum_r"] == sum(ga[0::2])  # alpha excluded from channel sums
    assert st2["row0_sum"] == sum(ga[: w * 2])  # but included in the row sum


def test_png_palette_structure_rejections():
    from pipeline_etl_ecommerce_spark.operators.imagecodec import encode_png_palette
    from pipeline_etl_ecommerce_spark.operators.multimodal import synth_raster

    w, h, r = synth_raster(1)
    good = encode_png_palette(w, h, r)

    def chunks(payload):
        i = 8
        out = []
        while i < len(payload):
            (ln,) = _struct.unpack(">I", payload[i : i + 4])
            out.append((payload[i + 4 : i + 8], payload[i + 8 : i + 8 + ln]))
            i += 12 + ln
        return out

    def rebuild(cs):
        body = b"\x89PNG\r\n\x1a\n"
        for t, b in cs:
            body += _struct.pack(">I", len(b)) + t + b + _struct.pack(
                ">I", _zlib.crc32(t + b) & 0xFFFFFFFF
            )
        return body

    cs = chunks(good)
    # out-of-range palette index: shrink PLTE to one entry
    shrunk = [(t, (b[:3] if t == b"PLTE" else b)) for t, b in cs]
    with pytest.raises(DecodeError, match="palette index out of range"):
        decode_png(rebuild(shrunk))
    # palette image with PLTE dropped entirely
    with pytest.raises(DecodeError, match="missing PLTE"):
        decode_png(rebuild([(t, b) for t, b in cs if t != b"PLTE"]))
    # palette tRNS is IMPLEMENTED since r7: entry 0 gets alpha 0, the rest
    # default to 255, and the output widens to RGBA
    with_trns = []
    for t, b in cs:
        with_trns.append((t, b))
        if t == b"PLTE":
            with_trns.append((b"tRNS", b"\x00"))
    st = decode_png(rebuild(with_trns))
    assert st["channels"] == 4
    # color-key tRNS on truecolor is IMPLEMENTED since r8: widens to RGBA
    w3, h3, r3 = synth_raster(3)
    tc3 = chunks(encode_png(w3, h3, r3))
    with_key = []
    for t, b in tc3:
        with_key.append((t, b))
        if t == b"IHDR":
            with_key.append((b"tRNS", b"\x00\x01\x00\x02\x00\x03"))
    assert decode_png(rebuild(with_key))["channels"] == 4
    # ...but a malformed key length is rejected
    bad_key = [
        (t, b) if t != b"tRNS" else (t, b"\x00\x01\x00") for t, b in with_key
    ]
    with pytest.raises(DecodeError, match="must be 6 bytes"):
        decode_png(rebuild(bad_key))
    # tRNS BEFORE PLTE violates chunk ordering for palette images
    trns_first = []
    for t, b in cs:
        if t == b"PLTE":
            trns_first.append((b"tRNS", b"\x00"))
        trns_first.append((t, b))
    with pytest.raises(DecodeError, match="tRNS before PLTE"):
        decode_png(rebuild(trns_first))
    # tRNS on an alpha-carrying color type (RGBA) is spec-prohibited
    w4, h4 = 3, 3
    rgba_r = bytes((i * 5) % 256 for i in range(w4 * h4 * 4))
    qa = chunks(encode_png(w4, h4, rgba_r, channels=4))
    with_trns4 = []
    for t, b in qa:
        with_trns4.append((t, b))
        if t == b"IHDR":
            with_trns4.append((b"tRNS", b"\x00\x01"))
    with pytest.raises(DecodeError, match="alpha-carrying"):
        decode_png(rebuild(with_trns4))
    # tRNS longer than the palette is malformed
    too_long = []
    for t, b in cs:
        too_long.append((t, b))
        if t == b"PLTE":
            too_long.append((b"tRNS", b"\x00" * (len(b) // 3 + 1)))
    with pytest.raises(DecodeError, match="longer than the palette"):
        decode_png(rebuild(too_long))
    # PLTE on a truecolor image rejected
    w2, h2, r2 = synth_raster(2)
    tc = chunks(encode_png(w2, h2, r2))
    with_plte = []
    for t, b in tc:
        with_plte.append((t, b))
        if t == b"IHDR":
            with_plte.append((b"PLTE", b"\x01\x02\x03"))
    with pytest.raises(DecodeError, match="non-palette"):
        decode_png(rebuild(with_plte))


def test_png_palette_trns_alpha_roundtrip():
    """Per-pixel alpha through the palette: encode_png_palette(alpha=...)
    emits tRNS and the decode expands to RGBA whose alpha channel equals
    the input alphas; stats match the RGBA definitions (alpha excluded
    from channel sums, included in row0_sum)."""
    from pipeline_etl_ecommerce_spark.operators.imagecodec import encode_png_palette

    w, h = 5, 4
    rgb = bytes((i * 11 + 2) % 256 for i in range(w * h * 3))
    alpha = bytes((i * 37) % 256 for i in range(w * h))
    st = decode_png(encode_png_palette(w, h, rgb, alpha=alpha))
    assert (st["width"], st["height"], st["channels"]) == (w, h, 4)
    assert st["sum_r"] == sum(rgb[0::3])
    assert st["sum_g"] == sum(rgb[1::3])
    assert st["sum_b"] == sum(rgb[2::3])
    rgba_row0 = sum(rgb[: w * 3]) + sum(alpha[:w])
    assert st["row0_sum"] == rgba_row0
    # identical to a direct RGBA encoding of the same pixels
    rgba = bytearray()
    for i in range(w * h):
        rgba += rgb[3 * i : 3 * i + 3] + bytes([alpha[i]])
    assert st == decode_png(encode_png(w, h, bytes(rgba), channels=4))


def test_png_16bit_roundtrip_all_color_types():
    """Depth-16 decode: big-endian sample pairs, filter left-distance
    channels*2 bytes, cycling filters (h >= 5 exercises all five),
    sequential AND Adam7 — stats replay the integer sample formula."""
    w, h = 7, 6
    for ch in (1, 2, 3, 4):
        raster = [(i * 101 + 97) % 65536 for i in range(w * h * ch)]
        for interlace in (False, True):
            st = decode_png(
                encode_png(w, h, raster, channels=ch, depth=16, interlace=interlace)
            )
            assert (st["width"], st["height"], st["channels"]) == (w, h, ch)
            assert st["maxval"] == 65535
            if ch <= 2:
                assert st["sum_r"] == sum(raster[0::ch])
                assert st["top_left_r"] == raster[0]
            else:
                assert st["sum_r"] == sum(raster[0::ch])
                assert st["sum_g"] == sum(raster[1::ch])
                assert st["sum_b"] == sum(raster[2::ch])
            assert st["row0_sum"] == sum(raster[: w * ch])


def test_png_16bit_resize_floor_map():
    """16-bit resize keeps the depth and replays the floor index map."""
    from pipeline_etl_ecommerce_spark.operators.imagecodec import resize_png_nearest

    sw, sh, dw, dh = 8, 6, 4, 3
    raster = [(i * 257 + 13) % 65536 for i in range(sw * sh * 3)]
    out = decode_png(resize_png_nearest(encode_png(sw, sh, raster, depth=16), dw, dh))
    assert (out["width"], out["height"], out["maxval"]) == (dw, dh, 65535)
    expect = []
    for dy in range(dh):
        sy = dy * sh // dh
        for dx in range(dw):
            sx = dx * sw // dw
            expect.extend(raster[(sy * sw + sx) * 3 : (sy * sw + sx) * 3 + 3])
    assert out["sum_r"] == sum(expect[0::3])
    assert out["row0_sum"] == sum(expect[: dw * 3])


def test_png_colorkey_truecolor_and_gray():
    """Color-key tRNS: alpha 0 exactly where the pixel equals the key,
    maxval elsewhere; channels widen 3->4 / 1->2; sums exclude alpha,
    row0_sum includes it — the exact definitions the oracle replays."""
    w, h = 6, 5
    r8 = bytes((i * 7 + 3) % 32 for i in range(w * h * 3))
    key = (r8[0], r8[1], r8[2])
    st = decode_png(encode_png(w, h, r8, channels=3, color_key=key))
    assert st["channels"] == 4 and st["maxval"] == 255
    assert st["sum_r"] == sum(r8[0::3])

    def a(p):
        return 0 if (r8[3 * p], r8[3 * p + 1], r8[3 * p + 2]) == key else 255

    assert st["row0_sum"] == sum(r8[: w * 3]) + sum(a(p) for p in range(w))
    assert sum(1 for p in range(w * h) if a(p) == 0) >= 1

    g = bytes((i * 3 + 1) % 16 for i in range(w * h))
    stg = decode_png(encode_png(w, h, g, channels=1, color_key=g[0]))
    assert stg["channels"] == 2
    assert stg["sum_r"] == sum(g)
    ga = [0 if v == g[0] else 255 for v in g[:w]]
    assert stg["row0_sum"] == sum(g[:w]) + sum(ga)

    # 16-bit color key: the key is compared at full sample width
    r16 = [(i * 301 + 5) % 65536 for i in range(w * h * 3)]
    key16 = (r16[0], r16[1], r16[2])
    st16 = decode_png(encode_png(w, h, r16, channels=3, depth=16, color_key=key16))
    assert st16["channels"] == 4 and st16["maxval"] == 65535
    alpha0 = 0 if (r16[0], r16[1], r16[2]) == key16 else 65535
    assert alpha0 == 0  # top-left always matches its own key
    # interlaced storage decodes to identical stats (pure re-layout)
    st16i = decode_png(
        encode_png(w, h, r16, channels=3, depth=16, color_key=key16, interlace=True)
    )
    assert st16 == st16i


def test_png_colorkey_encoder_validation():
    w, h = 3, 3
    r = bytes(w * h * 3)
    with pytest.raises(ValueError, match="gray/truecolor"):
        encode_png(w, h, bytes(w * h * 4), channels=4, color_key=(1, 2, 3))
    with pytest.raises(ValueError, match="out of range"):
        encode_png(w, h, r, channels=3, color_key=(0, 0, 256))
    with pytest.raises(ValueError, match="out of range"):
        encode_png(w, h, [0] * (w * h), channels=1, depth=16, color_key=70000)
    with pytest.raises(ValueError, match="out of range"):
        encode_png(w, h, [70000] * (w * h), channels=1, depth=16)


def test_png_16bit_key_above_255_never_matches_8bit():
    """Spec: at depth 8 a tRNS sample value > 255 matches nothing — the
    image stays fully opaque but still widens to the alpha form."""
    import struct as _s

    w, h = 4, 5
    r = bytes((i * 7) % 256 for i in range(w * h * 3))
    good = encode_png(w, h, r, channels=3, color_key=(r[0], r[1], r[2]))
    # patch the tRNS body to carry a high-byte value (512, 0, 0)
    out, i = bytearray(good[:8]), 8
    while i < len(good):
        (ln,) = _s.unpack(">I", good[i : i + 4])
        t = good[i + 4 : i + 8]
        body = good[i + 8 : i + 8 + ln]
        if t == b"tRNS":
            body = b"\x02\x00\x00\x00\x00\x00"
        out += _s.pack(">I", len(body)) + t + body + _s.pack(
            ">I", _zlib.crc32(t + body) & 0xFFFFFFFF
        )
        i += 12 + ln
    st = decode_png(bytes(out))
    assert st["channels"] == 4
    # all alphas are 255: row0_sum = rgb row + w*255
    assert st["row0_sum"] == sum(r[: w * 3]) + w * 255


class TestSubByteDepth:
    """Depths 1/2/4 (r8): MSB-first bit packing, packed-byte filters,
    per-pass packing under Adam7, palette indices, color-key, guards."""

    @pytest.mark.parametrize("depth", [1, 2, 4])
    @pytest.mark.parametrize("interlace", [False, True])
    def test_gray_roundtrip_all_paddings(self, depth, interlace):
        mx = (1 << depth) - 1
        for w in (1, 3, 7, 8, 9, 13):
            h = 6  # all five filters + one repeat
            r = bytes((w * 13 + i * 3) % (mx + 1) for i in range(w * h))
            from pipeline_etl_ecommerce_spark.operators.imagecodec import _png_raster

            p = encode_png(w, h, r, channels=1, depth=depth, interlace=interlace)
            gw, gh, ch, smp, gm = _png_raster(p)
            assert (gw, gh, ch, gm) == (w, h, 1, mx)
            assert bytes(smp) == r

    def test_palette_subbyte_roundtrip(self):
        from pipeline_etl_ecommerce_spark.operators.imagecodec import (
            _png_raster,
            encode_png_palette,
        )

        pal = [(250, 0, 0), (0, 250, 0), (0, 0, 250), (9, 9, 9)]
        for depth in (1, 2, 4):
            nc = min(len(pal), 1 << depth)
            w, h = 7, 5
            idx = [(x * 3 + y) % nc for y in range(h) for x in range(w)]
            raster = bytes(b for i in idx for b in pal[i])
            p = encode_png_palette(w, h, raster, depth=depth)
            gw, gh, ch, smp, mx = _png_raster(p)
            assert (gw, gh, ch, mx) == (w, h, 3, 255)
            assert bytes(smp) == raster

    def test_colorkey_on_subbyte_gray(self):
        from pipeline_etl_ecommerce_spark.operators.imagecodec import _png_raster

        p = encode_png(6, 4, bytes([0, 1, 2, 3] * 6), channels=1, depth=2, color_key=1)
        _w, _h, ch, smp, mx = _png_raster(p)
        assert ch == 2 and mx == 3
        assert all(smp[2 * i + 1] == (0 if smp[2 * i] == 1 else 3) for i in range(24))

    def test_stats_formula(self):
        from pipeline_etl_ecommerce_spark.operators.multimodal import (
            synth_raster_lowdepth,
        )

        for mid in range(9):
            w, h, dep, r = synth_raster_lowdepth(mid)
            st = decode_png(encode_png(w, h, r, channels=1, depth=dep))
            assert st["maxval"] == (1 << dep) - 1
            assert st["sum_r"] == st["sum_g"] == st["sum_b"] == sum(r)
            assert st["row0_sum"] == sum(r[:w])

    def test_sample_out_of_range_rejected_at_encode(self):
        with pytest.raises(ValueError, match="out of range"):
            encode_png(2, 1, bytes([4, 0]), channels=1, depth=2)

    def test_subbyte_rgb_rejected_at_encode(self):
        with pytest.raises(ValueError, match="grayscale"):
            encode_png(2, 1, bytes(6), channels=3, depth=4)

    def test_palette_too_many_colors_for_depth(self):
        from pipeline_etl_ecommerce_spark.operators.imagecodec import encode_png_palette

        raster = bytes(b for i in range(8) for b in (i * 30, 0, 0))  # 8 colors
        with pytest.raises(ValueError, match="more than 2 bits"):
            encode_png_palette(8, 1, raster, depth=2)

    def test_truncation_totality(self):
        p = encode_png(9, 6, bytes(i % 4 for i in range(54)), channels=1, depth=2, interlace=True)
        for cut in range(len(p)):
            try:
                decode_png(p[:cut])
            except (DecodeError, NotImplementedError):
                pass


class TestPerceptualDhash:
    """r9: dHash kernel + banded Hamming pairing."""

    def test_dhash_bit_packing_pinned(self, spark):
        """A synthetic raster with a known gradient pattern must pack
        MSB-first into (hi, lo): strictly increasing grayscale rows set
        every gradient bit -> hi = lo = 0xFFFFFFFF."""
        from pipeline_etl_ecommerce_spark.operators.imagecodec import encode_ppm
        from pipeline_etl_ecommerce_spark.operators.multimodal import perceptual_dhash

        w, h = 9, 8
        raster = bytes(
            v for y in range(h) for x in range(w) for v in (x * 20, x * 20, x * 20)
        )
        media = spark.createDataFrame(
            [(1, encode_ppm(w, h, raster))], "media_id long, payload binary"
        )
        row = perceptual_dhash(media).collect()[0]
        assert row["hash_status"] == "ok"
        assert row["dhash_hi"] == 0xFFFFFFFF and row["dhash_lo"] == 0xFFFFFFFF

    def test_band_join_is_pigeonhole_complete(self, spark):
        """dhash_near_pairs must return EXACTLY the brute-force Hamming<=3
        set on random hashes (banding is a plan detail, never a recall
        loss), and must reject thresholds the 4-band scheme can't cover."""
        import itertools
        import random

        import pytest

        from pipeline_etl_ecommerce_spark.operators.multimodal import dhash_near_pairs

        rng = random.Random(99)
        base = [rng.randrange(1 << 32) for _ in range(2)]
        rows = []
        for i in range(40):
            hi, lo = base[0], base[1]
            for _ in range(rng.randrange(0, 5)):  # flip 0-4 random bits
                bit = rng.randrange(64)
                if bit < 32:
                    hi ^= 1 << (31 - bit)
                else:
                    lo ^= 1 << (63 - bit)
            rows.append((i, 9, 8, hi, lo, "ok"))
        df = spark.createDataFrame(
            rows,
            "media_id long, width long, height long, dhash_hi long, dhash_lo long, hash_status string",
        )
        got = {
            (r["media_a"], r["media_b"]): r["hamming"]
            for r in dhash_near_pairs(df).collect()
        }
        expect = {}
        for (i, _, _, ha, la, _), (j, _, _, hb, lb, _) in itertools.combinations(rows, 2):
            d = bin(ha ^ hb).count("1") + bin(la ^ lb).count("1")
            if d <= 3:
                expect[(i, j)] = d
        assert got == expect
        with pytest.raises(ValueError, match="pigeonhole"):
            dhash_near_pairs(df, max_hamming=4)

    def test_multiprobe_band_join_is_complete_to_7(self, spark):
        """dhash_near_pairs_multiprobe must return EXACTLY the brute-force
        Hamming<=7 set (single-bit multi-probe is pigeonhole-complete at
        floor(7/4)=1 flip per surviving band), and reject thresholds the
        scheme can't cover."""
        import itertools
        import random

        import pytest

        from pipeline_etl_ecommerce_spark.operators.multimodal import (
            dhash_near_pairs_multiprobe,
        )

        rng = random.Random(31)
        base = [rng.randrange(1 << 32) for _ in range(2)]
        rows = []
        for i in range(40):
            hi, lo = base[0], base[1]
            for _ in range(rng.randrange(0, 10)):  # flip 0-9 random bits
                bit = rng.randrange(64)
                if bit < 32:
                    hi ^= 1 << (31 - bit)
                else:
                    lo ^= 1 << (63 - bit)
            rows.append((i, 9, 8, hi, lo, "ok"))
        df = spark.createDataFrame(
            rows,
            "media_id long, width long, height long, dhash_hi long, dhash_lo long, hash_status string",
        )
        got = {
            (r["media_a"], r["media_b"]): r["hamming"]
            for r in dhash_near_pairs_multiprobe(df).collect()
        }
        expect = {}
        for (i, _, _, ha, la, _), (j, _, _, hb, lb, _) in itertools.combinations(rows, 2):
            d = bin(ha ^ hb).count("1") + bin(la ^ lb).count("1")
            if d <= 7:
                expect[(i, j)] = d
        assert got == expect
        with pytest.raises(ValueError, match="multi-probe"):
            dhash_near_pairs_multiprobe(df, max_hamming=8)

    def test_dhash_format_independent(self, spark):
        """r10 (r9 verdict item 4): the SAME pixels stored as PPM, BMP, PNG
        and GIF must hash IDENTICALLY — the dHash is a pixel property, and
        the kernel now routes through the full format dispatch. A JPEG of
        a SMOOTH raster (band-tight codec) must also agree: its decoded
        gradient signs survive the lossy round-trip by construction."""
        from pipeline_etl_ecommerce_spark.operators.gifcodec import encode_gif
        from pipeline_etl_ecommerce_spark.operators.imagecodec import (
            encode_bmp,
            encode_png,
            encode_ppm,
        )
        from pipeline_etl_ecommerce_spark.operators.jpegcodec import encode_jpeg
        from pipeline_etl_ecommerce_spark.operators.multimodal import (
            perceptual_dhash,
            synth_raster_smooth,
        )

        w, h, raster = synth_raster_smooth(7)
        encs = [
            encode_ppm(w, h, raster),
            encode_bmp(w, h, raster),
            encode_png(w, h, raster),
            encode_gif(w, h, raster),
            encode_jpeg(w, h, raster, subsampling="4:4:4"),
        ]
        media = spark.createDataFrame(
            [(i, p) for i, p in enumerate(encs)], "media_id long, payload binary"
        )
        rows = perceptual_dhash(media).collect()
        assert all(r["hash_status"] == "ok" for r in rows)
        hashes = {(r["dhash_hi"], r["dhash_lo"]) for r in rows}
        assert len(hashes) == 1, f"format-dependent hashes: {hashes}"

    def test_dhash_dead_letters_undecodable(self, spark):
        """Non-image payloads and truncated images dead-letter with a
        status row; decodable neighbors in the same batch still hash."""
        from pipeline_etl_ecommerce_spark.operators.imagecodec import encode_ppm
        from pipeline_etl_ecommerce_spark.operators.multimodal import perceptual_dhash

        ok = encode_ppm(9, 8, bytes((i * 7) % 256 for i in range(9 * 8 * 3)))
        media = spark.createDataFrame(
            [(0, ok), (1, b"\x00\x01mp4ftyp"), (2, ok[:10]), (3, None)],
            "media_id long, payload binary",
        )
        got = {r["media_id"]: r["hash_status"] for r in perceptual_dhash(media).collect()}
        assert got[0] == "ok"
        assert got[1].startswith("error: NotImplementedError")
        assert got[2].startswith("error: DecodeError")
        assert got[3].startswith("error:")
