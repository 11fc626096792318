"""RIFF AVI container with MJPEG video — the REAL video path.

Closes the "H.264-class video still raises" residual halfway honestly: an
actual container demux (RIFF chunk walk, header parse, ``movi`` stream
scan, ``idx1`` cross-check) feeding the repo's own baseline JPEG codec
(`jpegcodec.py`) per frame. MJPEG-in-AVI is a real interchange format
(every "motion JPEG" camera emits it) and is the densest video format
expressible without an entropy-coded inter-frame decoder; H.264/H.265/VP9
still raise :class:`NotImplementedError` honestly (they need a reference
DPB + CABAC, a library-scale effort with no pure-stdlib route).

Layout notes (public spec: Microsoft "AVI RIFF File Reference" / OpenDML):

- RIFF file = ``RIFF <size> AVI  <chunks>``; every chunk is
  ``<fourcc><uint32 LE size><data><pad to even>``.
- ``LIST hdrl``: ``avih`` (MainAVIHeader, 14 uint32 = 56 bytes) then one
  ``LIST strl`` per stream: ``strh`` (AVIStreamHeader, 56 bytes incl. the
  rcFrame int16×4) + ``strf`` (BITMAPINFOHEADER, 40 bytes, biCompression
  = 'MJPG').
- ``LIST movi``: ``00dc`` compressed-video chunks, one JPEG per frame.
- ``idx1``: 16-byte entries (ckid, flags, offset-from-movi-fourcc, size)
  — written by this encoder and CROSS-CHECKED by the decoder (entry count
  and per-entry size must agree with the movi walk), because real-world
  demuxers trust idx1 and a corrupt index is the classic AVI failure.

Scale design: the codec is a per-payload kernel — Spark-side it runs under
``multimodal.row_kernel`` exactly like the image codecs (Arrow batches, linear
map-only work, widened via the cost-based media policy: MJPEG weight =
JPEG's). Frame sampling decodes ONLY the sampled frames — the demux walk
is header arithmetic, so sampling k of n frames costs k decodes + O(n)
offsets, the property that makes 100 TB video scan-sample-extract viable.
"""

from __future__ import annotations

import struct

from .imagecodec import DecodeError


def _chunk(fourcc: bytes, data: bytes) -> bytes:
    pad = b"\x00" if len(data) % 2 else b""
    return fourcc + struct.pack("<I", len(data)) + data + pad


def _list(list_type: bytes, data: bytes) -> bytes:
    return _chunk(b"LIST", list_type + data)


def encode_avi_mjpeg(
    width: int,
    height: int,
    jpeg_frames: list[bytes],
    *,
    fps: int = 25,
) -> bytes:
    """Wrap pre-encoded JPEG payloads into a spec-shaped single-stream AVI."""
    if not jpeg_frames:
        raise ValueError("avi: at least one frame required")
    n = len(jpeg_frames)
    max_bytes = max(len(f) for f in jpeg_frames)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        max_bytes * fps,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags = AVIF_HASINDEX
        n,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        max_bytes,  # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,  # dwReserved
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII",
            0,  # dwFlags
            0, 0,  # wPriority, wLanguage
            0,  # dwInitialFrames
            1,  # dwScale
            fps,  # dwRate (rate/scale = fps)
            0,  # dwStart
            n,  # dwLength (frames)
            max_bytes,  # dwSuggestedBufferSize
            0xFFFFFFFF,  # dwQuality (default)
            0,  # dwSampleSize (0 = varying)
        )
        + struct.pack("<4h", 0, 0, width, height)  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,  # biSize
        width,
        height,
        1,  # biPlanes
        24,  # biBitCount
        b"MJPG",  # biCompression
        width * height * 3,  # biSizeImage (uncompressed bound)
        0, 0, 0, 0,
    )
    hdrl = _list(b"hdrl", _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))
    # movi data + idx1 offsets (offset convention: from the 'movi' fourcc).
    movi_data = b""
    idx_entries = []
    for f in jpeg_frames:
        offset = 4 + len(movi_data)  # 4 = the 'movi' fourcc itself
        idx_entries.append(struct.pack("<4sIII", b"00dc", 0x10, offset, len(f)))
        movi_data += _chunk(b"00dc", f)
    movi = _list(b"movi", movi_data)
    idx1 = _chunk(b"idx1", b"".join(idx_entries))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _iter_chunks(buf: bytes, pos: int, end: int):
    while pos + 8 <= end:
        fourcc = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        data_start = pos + 8
        if data_start + size > end:
            raise DecodeError("avi: chunk overruns its parent")
        yield fourcc, data_start, size
        pos = data_start + size + (size % 2)


def demux_avi(payload: bytes) -> dict:
    """Parse container structure WITHOUT decoding frames: header facts +
    per-frame (offset, size) spans + idx1 cross-check. Raises
    :class:`DecodeError` on malformed files and ``NotImplementedError``
    for non-MJPEG codecs (H.264-class streams need a real decoder)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise DecodeError("avi: not a RIFF AVI file")
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    end = min(8 + riff_size, len(payload))
    avih = None
    handler = None
    frames: list[tuple[int, int]] = []
    idx1: list[tuple[bytes, int, int]] = []
    for fourcc, start, size in _iter_chunks(payload, 12, end):
        if fourcc == b"LIST":
            ltype = payload[start : start + 4]
            if ltype == b"hdrl":
                for f2, s2, z2 in _iter_chunks(payload, start + 4, start + size):
                    if f2 == b"avih":
                        avih = struct.unpack_from("<14I", payload, s2)
                    elif f2 == b"LIST" and payload[s2 : s2 + 4] == b"strl":
                        for f3, s3, z3 in _iter_chunks(payload, s2 + 4, s2 + z2):
                            if f3 == b"strh" and payload[s3 : s3 + 4] == b"vids":
                                handler = payload[s3 + 4 : s3 + 8]
            elif ltype == b"movi":
                for f2, s2, z2 in _iter_chunks(payload, start + 4, start + size):
                    if f2[2:4] in (b"dc", b"db"):
                        frames.append((s2, z2))
        elif fourcc == b"idx1":
            for off in range(0, size - size % 16, 16):
                ckid, _flags, coff, csize = struct.unpack_from("<4sIII", payload, start + off)
                idx1.append((ckid, coff, csize))
    if avih is None:
        raise DecodeError("avi: missing avih header")
    if handler is None:
        raise DecodeError("avi: no video stream header")
    if handler not in (b"MJPG", b"mjpg"):
        raise NotImplementedError(
            f"avi: codec {handler!r} requires an inter-frame video decoder; "
            "only MJPEG streams decode in this environment"
        )
    if avih[4] != len(frames):
        raise DecodeError(
            f"avi: avih.dwTotalFrames={avih[4]} but movi has {len(frames)} video chunks"
        )
    if idx1:
        vid_idx = [e for e in idx1 if e[0][2:4] in (b"dc", b"db")]
        if len(vid_idx) != len(frames) or any(
            e[2] != z for e, (_s, z) in zip(vid_idx, frames)
        ):
            raise DecodeError("avi: idx1 disagrees with the movi chunk walk")
    micro = avih[0]
    return {
        "width": avih[8],
        "height": avih[9],
        "n_frames": len(frames),
        "fps": round(1_000_000 / micro) if micro else 0,
        "handler": handler.decode("ascii"),
        "frame_spans": frames,
    }


def decode_avi_frame(payload: bytes, info: dict, frame_index: int) -> dict:
    """Decode ONE frame (by movi position) through the baseline JPEG codec."""
    from .jpegcodec import decode_jpeg

    start, size = info["frame_spans"][frame_index]
    return decode_jpeg(payload[start : start + size])


def sample_avi_frames(payload: bytes, n_frames: int) -> list[dict]:
    """Evenly-spaced frame sample (floor map ``j*total//n``, the shared
    sampling convention) decoding ONLY the kept frames."""
    info = demux_avi(payload)
    total = info["n_frames"]
    keep = (
        range(total)
        if n_frames >= total
        else sorted({j * total // n_frames for j in range(n_frames)})
    )
    out = []
    for i in keep:
        st = decode_avi_frame(payload, info, i)
        out.append(
            {
                "frame_index": i,
                "n_frames_total": total,
                "width": st["width"],
                "height": st["height"],
                "raster": st["raster"],
            }
        )
    return out
