"""AVI/MJPEG container codec (operators/videocodec.py): structure,
round-trip fidelity, honest guards, and malformed-input totality."""

from __future__ import annotations

import struct

import pytest

from pipeline_etl_ecommerce_spark.operators.imagecodec import DecodeError
from pipeline_etl_ecommerce_spark.operators.jpegcodec import encode_jpeg
from pipeline_etl_ecommerce_spark.operators.multimodal import synth_video_raster
from pipeline_etl_ecommerce_spark.operators.videocodec import (
    decode_avi_frame,
    demux_avi,
    encode_avi_mjpeg,
    sample_avi_frames,
)


def _make_avi(mid: int = 3, n: int | None = None, fps: int = 25) -> tuple[bytes, int, int, int]:
    n = n if n is not None else 2 + mid % 3
    frames = []
    w = h = 0
    for f in range(n):
        w, h, r = synth_video_raster(mid, f)
        frames.append(encode_jpeg(w, h, r))
    return encode_avi_mjpeg(w, h, frames, fps=fps), w, h, n


class TestRoundTrip:
    def test_header_facts(self):
        avi, w, h, n = _make_avi(mid=5, fps=24)
        info = demux_avi(avi)
        assert (info["width"], info["height"], info["n_frames"], info["fps"]) == (w, h, n, 24)
        assert info["handler"] == "MJPG"

    def test_every_frame_decodes_in_band(self):
        avi, w, h, n = _make_avi(mid=7)
        info = demux_avi(avi)
        for i in range(n):
            st = decode_avi_frame(avi, info, i)
            _, _, orig = synth_video_raster(7, i)
            assert st["width"] == w and st["height"] == h
            assert max(abs(a - b) for a, b in zip(st["raster"], orig)) <= 4

    def test_wrong_sampled_frame_always_out_of_band(self):
        # the f*53 synth term guarantees >= 5 gray-level separation for any
        # Δf ∈ {1, 2} — a sampler that picks a neighboring frame can never
        # stay inside the ±4 fidelity band, for EVERY id class
        for mid in range(29):
            avi, _, _, n = _make_avi(mid=mid, n=3)
            info = demux_avi(avi)
            rasters = [decode_avi_frame(avi, info, i)["raster"] for i in range(3)]
            for a in range(3):
                for b in range(a + 1, 3):
                    assert max(
                        abs(x - y) for x, y in zip(rasters[a], rasters[b])
                    ) > 4, (mid, a, b)

    def test_sampling_floor_map_and_lazy_decode(self):
        avi, _, _, n = _make_avi(mid=2, n=4)
        rows = sample_avi_frames(avi, 2)
        assert [r["frame_index"] for r in rows] == [0, 2]
        assert all(r["n_frames_total"] == 4 for r in rows)

    def test_sample_more_than_total_takes_each_once(self):
        avi, _, _, n = _make_avi(mid=1, n=2)
        assert [r["frame_index"] for r in sample_avi_frames(avi, 9)] == [0, 1]

    def test_odd_sized_jpeg_frames_pad_to_even(self):
        # force an odd-length frame payload; the chunk pad byte must keep
        # the following chunk aligned
        for mid in range(8):
            avi, _, _, n = _make_avi(mid=mid)
            assert demux_avi(avi)["n_frames"] == n


class TestGuards:
    def test_not_riff(self):
        with pytest.raises(DecodeError):
            demux_avi(b"\x00" * 32)

    def test_riff_but_not_avi(self):
        with pytest.raises(DecodeError):
            demux_avi(b"RIFF" + struct.pack("<I", 4) + b"WAVE")

    def test_non_mjpeg_handler_raises_honestly(self):
        avi, *_ = _make_avi(mid=3)
        assert b"MJPG" in avi
        h264 = avi.replace(b"vidsMJPG", b"vidsH264", 1)
        with pytest.raises(NotImplementedError, match="inter-frame"):
            demux_avi(h264)

    def test_frame_count_mismatch(self):
        avi, *_ = _make_avi(mid=3, n=2)
        # corrupt avih.dwTotalFrames (offset: find 'avih' chunk data + 16)
        pos = avi.index(b"avih") + 8 + 16
        bad = avi[:pos] + struct.pack("<I", 99) + avi[pos + 4 :]
        with pytest.raises(DecodeError, match="dwTotalFrames"):
            demux_avi(bad)

    def test_idx1_disagreement(self):
        avi, *_ = _make_avi(mid=3, n=2)
        pos = avi.index(b"idx1") + 8 + 12  # first entry's dwSize
        bad = avi[:pos] + struct.pack("<I", 1) + avi[pos + 4 :]
        with pytest.raises(DecodeError, match="idx1"):
            demux_avi(bad)

    def test_chunk_overrun(self):
        avi, *_ = _make_avi(mid=3)
        with pytest.raises(DecodeError):
            demux_avi(avi[: len(avi) // 2])

    def test_empty_clip_rejected_at_encode(self):
        with pytest.raises(ValueError):
            encode_avi_mjpeg(4, 4, [])

    def test_truncation_totality(self):
        # every truncation either parses to a valid prefix or raises a
        # typed error — never an unhandled exception
        avi, *_ = _make_avi(mid=6)
        for cut in range(0, len(avi), 37):
            try:
                demux_avi(avi[:cut])
            except (DecodeError, NotImplementedError):
                pass


