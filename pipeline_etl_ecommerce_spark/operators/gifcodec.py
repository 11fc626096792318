"""GIF87a/89a codec, stdlib-only — both directions REAL.

Completes the common-raster matrix (PPM/BMP/PNG/JPEG/WAV/AVI + GIF): full
LZW (variable code width 3..12 bits, LSB-first packing, CLEAR/EOI codes,
dictionary reset at 4096), global color table in first-appearance order,
the 4-pass GIF interlace, extension-block skipping (GCE/comment/
application), and strict structural checks (sub-block framing, trailer,
index range). Exactly lossless for ≤ 256 distinct colors, so the catalog
oracle is the SAME pixel formula as the truecolor rows — a
cross-representation equality proof, like the palette-PNG row.

Same adversarial encode → opaque bytes → decode discipline as the other
codecs: the encoder is only used by the synth stage; the decoder sees
bytes it must actually parse. Spark-side both run under the Arrow-batched
``multimodal.row_kernel`` (cost-based media widen applies — LZW is a per-byte
Python loop, weight class with PNG).

Public spec: GIF89a (CompuServe, 1990); LZW per the spec's Appendix F.
"""

from __future__ import annotations

import struct

from .imagecodec import DecodeError

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))

# Decompression-bomb guard: a 13-byte header may declare a logical screen up
# to 65535x65535 (a 12.9 GB RGB canvas) with no relation to payload size —
# LZW legitimately compresses, so payload length cannot bound the canvas the
# way PPM/BMP raster checks do. Real decoders cap decoded pixels for exactly
# this reason (e.g. Pillow's MAX_IMAGE_PIXELS); 2^24 pixels (a 4096x4096
# canvas, 48 MB RGB) is orders of magnitude above anything this engine
# encodes while keeping worst-case decode work bounded.
MAX_CANVAS_PIXELS = 1 << 24


def _interlaced_row_order(height: int) -> list[int]:
    out = []
    for start, step in _INTERLACE_PASSES:
        out.extend(range(start, height, step))
    return out


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """The code WIDTH is driven by a mirror of the DECODER's table length
    (clear+2 roots plus one append per data code after the first), not by
    the encoder's own assignment count — the two disagree by one at the
    final data code of a power-of-two boundary, where the decoder widens
    before reading EOI but the encoder has no assignment left to trigger
    on (hypothesis found the exact 11-index counterexample)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    dec_len = clear + 2  # decoder-side table length mirror
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def emit_clear() -> None:
        nonlocal table, next_code, width, dec_len, first_after_clear
        emit(clear)
        table = {bytes([i]): i for i in range(clear)}
        next_code = eoi + 1
        width = min_code_size + 1
        dec_len = clear + 2
        first_after_clear = True

    first_after_clear = True
    emit_clear()

    def emit_data(code: int) -> None:
        nonlocal dec_len, width, first_after_clear
        emit(code)
        if first_after_clear:
            first_after_clear = False  # decoder's first read appends nothing
        else:
            dec_len += 1
        if dec_len == (1 << width) and width < 12:
            width += 1

    seq = b""
    for b in indices:
        cand = seq + bytes([b])
        if cand in table:
            seq = cand
            continue
        emit_data(table[seq])
        seq = bytes([b])
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
        else:
            emit_clear()
    if seq:
        emit_data(table[seq])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int, expected: int) -> bytes:
    if not 2 <= min_code_size <= 11:
        raise DecodeError("gif: LZW minimum code size out of range")
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    acc = 0
    nbits = 0
    prev: bytes | None = None
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise DecodeError("gif: LZW stream ended before EOI")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise DecodeError("gif: first LZW code not in table")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise DecodeError("gif: LZW code beyond table")
        out.extend(entry)
        if len(out) > expected:
            raise DecodeError("gif: LZW output exceeds image size")
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) != expected:
        raise DecodeError(f"gif: decoded {len(out)} indices, expected {expected}")
    return bytes(out)


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i + 255 <= len(data) or len(data) - i > 0:
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out.extend(chunk)
        i += 255
        if i >= len(data):
            break
    out.append(0)
    return bytes(out)


def encode_gif(width: int, height: int, raster: bytes, *, interlace: bool = False) -> bytes:
    """Encode top-down RGB bytes as a single-image GIF89a (global color
    table in first-appearance order; exactly lossless for ≤ 256 colors)."""
    if width <= 0 or height <= 0:
        raise ValueError("dimensions must be positive")
    if len(raster) != width * height * 3:
        raise ValueError("raster size mismatch")
    colors: dict[bytes, int] = {}
    indices = bytearray(width * height)
    for i in range(width * height):
        c = bytes(raster[3 * i : 3 * i + 3])
        idx = colors.get(c)
        if idx is None:
            idx = len(colors)
            if idx >= 256:
                raise ValueError("gif: needs <= 256 distinct colors")
            colors[c] = idx
        indices[i] = idx
    # color table size: power of two >= ncolors, min 2 entries
    gct_bits = 1
    while (1 << gct_bits) < len(colors):
        gct_bits += 1
    gct = b"".join(colors) + b"\x00" * ((1 << gct_bits) * 3 - len(colors) * 3)
    if interlace:
        rows = bytearray()
        for y in _interlaced_row_order(height):
            rows.extend(indices[y * width : (y + 1) * width])
        indices = rows
    mcs = max(2, gct_bits)
    lzw = _lzw_encode(bytes(indices), mcs)
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", width, height, 0x80 | (gct_bits - 1), 0, 0)
        + gct
        + b"\x2c"
        + struct.pack("<HHHHB", 0, 0, width, height, 0x40 if interlace else 0)
        + bytes([mcs])
        + _sub_blocks(lzw)
        + b"\x3b"
    )


def iter_gif_frames(payload: bytes):
    """Yield every frame of a (possibly animated) GIF as a full-canvas
    top-down RGB raster ``(canvas_w, canvas_h, raster, interlaced)``.

    Sub-rectangle frames composite onto the running canvas ("do not
    dispose" semantics — each frame paints over the previous; the synth
    path emits full frames, and compositing keeps real-world animations
    decodable). The canvas starts as the logical-screen background color.
    Extension blocks (GCE/NETSCAPE/comment) are skipped per spec. Raises
    :class:`DecodeError` on malformed input — totality is fuzz-tested."""
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise DecodeError("gif: bad signature")
    sw, sh, packed, bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 1 << ((packed & 0x07) + 1)
        if pos + 3 * n > len(payload):
            raise DecodeError("gif: truncated global color table")
        gct = payload[pos : pos + 3 * n]
        pos += 3 * n
    if sw <= 0 or sh <= 0:
        raise DecodeError("gif: empty logical screen")
    if sw * sh > MAX_CANVAS_PIXELS:
        raise DecodeError("gif: logical screen exceeds decoder pixel limit")
    bg_rgb = gct[3 * bg : 3 * bg + 3] if gct and 3 * bg + 3 <= len(gct) else b"\x00\x00\x00"
    # Allocated lazily at the first image descriptor: malformed payloads
    # (the fuzz corpus) mostly die in block parsing and must not pay a
    # canvas-sized fill first.
    canvas: bytearray | None = None
    saw_image = False
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            if not saw_image:
                raise DecodeError("gif: no image data before trailer")
            return
        if block == 0x21:  # extension: label + sub-blocks
            if pos >= len(payload):
                raise DecodeError("gif: truncated extension")
            pos += 1
            while True:
                if pos >= len(payload):
                    raise DecodeError("gif: truncated extension sub-blocks")
                sz = payload[pos]
                pos += 1 + sz
                if sz == 0:
                    break
            continue
        if block != 0x2C:
            raise DecodeError(f"gif: unexpected block 0x{block:02x}")
        if pos + 9 > len(payload):
            raise DecodeError("gif: truncated image descriptor")
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        if w <= 0 or h <= 0 or left + w > sw or top + h > sh:
            raise DecodeError("gif: image exceeds logical screen")
        ct = gct
        if ipacked & 0x80:
            n = 1 << ((ipacked & 0x07) + 1)
            if pos + 3 * n > len(payload):
                raise DecodeError("gif: truncated local color table")
            ct = payload[pos : pos + 3 * n]
            pos += 3 * n
        if ct is None:
            raise DecodeError("gif: no color table for image")
        if pos >= len(payload):
            raise DecodeError("gif: missing LZW minimum code size")
        mcs = payload[pos]
        pos += 1
        data = bytearray()
        while True:
            if pos >= len(payload):
                raise DecodeError("gif: truncated image sub-blocks")
            sz = payload[pos]
            pos += 1
            if sz == 0:
                break
            if pos + sz > len(payload):
                raise DecodeError("gif: truncated image sub-block")
            data.extend(payload[pos : pos + sz])
            pos += sz
        if canvas is None:
            canvas = bytearray(bg_rgb * (sw * sh))
        indices = _lzw_decode(bytes(data), mcs, w * h)
        ncolors = len(ct) // 3
        if any(i >= ncolors for i in indices):
            raise DecodeError("gif: palette index out of range")
        if ipacked & 0x40:  # undo interlace
            rows = bytearray(w * h)
            for src_row, y in enumerate(_interlaced_row_order(h)):
                rows[y * w : (y + 1) * w] = indices[src_row * w : (src_row + 1) * w]
            indices = bytes(rows)
        for y in range(h):
            crow = ((top + y) * sw + left) * 3
            for x in range(w):
                idx = indices[y * w + x]
                canvas[crow + 3 * x : crow + 3 * x + 3] = ct[3 * idx : 3 * idx + 3]
        saw_image = True
        yield sw, sh, bytes(canvas), bool(ipacked & 0x40)
    raise DecodeError("gif: stream ended without trailer")


def decode_gif(payload: bytes) -> dict:
    """First frame of a GIF as the decoded-RGB stats dict (same shape as
    ``imagecodec.decode_ppm``) with the raster under ``"raster"`` — frame
    SAMPLING over animations is :func:`sample_gif_frames`."""
    for w, h, raster, interlaced in iter_gif_frames(payload):
        sums = [sum(raster[c::3]) for c in range(3)]
        return {
            "width": w,
            "height": h,
            "channels": 3,
            "maxval": 255,
            "sum_r": sums[0],
            "sum_g": sums[1],
            "sum_b": sums[2],
            "top_left_r": raster[0],
            "top_left_g": raster[1],
            "top_left_b": raster[2],
            "row0_sum": sum(raster[: w * 3]),
            "interlaced": interlaced,
            "raster": raster,
        }
    raise DecodeError("gif: no frames")  # pragma: no cover — iter raises first


def encode_gif_animation(
    width: int, height: int, frames: list[bytes], *, delay_cs: int = 10
) -> bytes:
    """Encode full-frame RGB rasters as an animated GIF89a: one shared
    first-appearance global color table over the UNION of frame colors
    (<= 256 across the whole clip), a NETSCAPE2.0 loop extension, and a
    Graphic Control Extension (delay in centiseconds) before each frame."""
    if not frames:
        raise ValueError("gif: at least one frame required")
    if any(len(f) != width * height * 3 for f in frames):
        raise ValueError("raster size mismatch")
    colors: dict[bytes, int] = {}
    frame_indices = []
    for raster in frames:
        idx = bytearray(width * height)
        for i in range(width * height):
            c = bytes(raster[3 * i : 3 * i + 3])
            j = colors.get(c)
            if j is None:
                j = len(colors)
                if j >= 256:
                    raise ValueError("gif: animation needs <= 256 distinct colors overall")
                colors[c] = j
            idx[i] = j
        frame_indices.append(bytes(idx))
    gct_bits = 1
    while (1 << gct_bits) < len(colors):
        gct_bits += 1
    gct = b"".join(colors) + b"\x00" * ((1 << gct_bits) * 3 - len(colors) * 3)
    mcs = max(2, gct_bits)
    out = bytearray()
    out += b"GIF89a" + struct.pack("<HHBBB", width, height, 0x80 | (gct_bits - 1), 0, 0) + gct
    # NETSCAPE2.0 loop-forever application extension
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for idx in frame_indices:
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
        out += bytes([mcs]) + _sub_blocks(_lzw_encode(idx, mcs))
    out += b"\x3b"
    return bytes(out)


def sample_gif_frames(payload: bytes, n_frames: int) -> list[dict]:
    """Evenly-spaced frame sample of an animated GIF (floor map
    ``j*total//n``, the shared sampling convention). The LZW stream of
    every frame must be decoded to composite the running canvas (GIF
    frames are deltas, unlike AVI's independent MJPEG frames), so the
    demux cost is linear in clip length — the honest format tradeoff."""
    frames = [(w, h, raster) for w, h, raster, _il in iter_gif_frames(payload)]
    total = len(frames)
    keep = (
        range(total)
        if n_frames >= total
        else sorted({j * total // n_frames for j in range(n_frames)})
    )
    return [
        {
            "frame_index": i,
            "n_frames_total": total,
            "width": frames[i][0],
            "height": frames[i][1],
            "raster": frames[i][2],
        }
        for i in keep
    ]
