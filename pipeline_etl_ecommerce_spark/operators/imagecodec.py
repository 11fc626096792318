"""Dependency-free image codecs: netpbm PPM (P6 binary / P3 ASCII),
Windows BMP (24-bit uncompressed BI_RGB), and PNG (8-bit RGB/RGBA,
non-interlaced — stdlib ``zlib`` carries the DEFLATE layer).

These are REAL decoders — they parse the public on-disk formats byte-for-byte
(netpbm spec for PPM; the BITMAPFILEHEADER/BITMAPINFOHEADER layout for BMP)
with no imaging library, so the multimodal path in ``operators/multimodal.py``
has a genuinely executable kernel in this sandbox. Reference parity: the
reference pipeline treats media as opaque blobs and defers decode to workers
(`tarefa_consolidar_dados.php` has no media path at all); this module is part
of the LLM-data extension surface the brief requires.

Decode output is exact-integer pixel statistics (dimensions, per-channel sums,
top-left pixel, top-row sum) rather than pixel arrays: the stats are what a
curation pipeline filters on, they are order- and padding-sensitive enough to
prove the parser handles BMP's bottom-up padded rows and BGR ordering, and
they hash stably for the DuckDB oracle.

Also provided, same spirit:
- ``resize_ppm_nearest``: real nearest-neighbor resampling (decode → index-map
  → re-encode P6). The standard floor mapping ``src = dst * src_dim // dst_dim``
  is reproducible in SQL, so the oracle can verify resized pixels exactly.
- ``iter_ppm_stream``: splits a concatenated-P6 stream (the netpbm "video"
  framing used by ``ffmpeg -f image2pipe -vcodec ppm``) into frames — a real
  container parse for the frame-sampling kernel.

Scale note: all functions are per-payload and allocation-light (one bytes scan,
no per-pixel Python objects — channel sums come from ``bytes`` slicing +
``sum``/``memoryview`` strides), sized for the Arrow-batched
``multimodal.row_kernel`` stages, where the payload column is projected away
immediately after this stage.
"""

from __future__ import annotations

import struct
import sys
import zlib
from array import array

__all__ = [
    "DecodeError",
    "decode_bmp",
    "decode_png",
    "decode_ppm",
    "encode_bmp",
    "encode_png",
    "encode_png_palette",
    "encode_ppm",
    "iter_ppm_stream",
    "resize_png_nearest",
    "resize_ppm_nearest",
]


class DecodeError(ValueError):
    """Malformed or unsupported payload (distinct from 'library missing')."""


# Hard ceiling on any decoded raster (filter bytes included): a curation
# pipeline's thumbnails/pages sit far below this, and the bound is what turns
# a crafted zlib bomb into a DecodeError instead of an executor MemoryError.
_MAX_RASTER_BYTES = 256 * 1024 * 1024


# --------------------------------------------------------------------------
# PPM (netpbm): P6 = binary RGB, P3 = ASCII RGB. Header tokens are separated
# by whitespace; '#' starts a comment running to end-of-line (valid anywhere
# whitespace is). After the maxval token, P6 requires EXACTLY ONE whitespace
# byte before raster data.
# --------------------------------------------------------------------------


def _ppm_header_tokens(payload: bytes, n_tokens: int) -> tuple[list[int], int]:
    """Read ``n_tokens`` decimal header tokens after the magic, skipping
    whitespace and comments. Returns (tokens, offset_after_last_token)."""
    tokens: list[int] = []
    i = 2  # past the 2-byte magic
    n = len(payload)
    while len(tokens) < n_tokens:
        # skip whitespace and comments
        while i < n:
            c = payload[i]
            if c in b" \t\r\n\x0b\x0c":
                i += 1
            elif c == 0x23:  # '#'
                while i < n and payload[i] not in b"\r\n":
                    i += 1
            else:
                break
        start = i
        while i < n and payload[i : i + 1].isdigit():
            i += 1
        if start == i:
            raise DecodeError("ppm: truncated or non-numeric header token")
        tokens.append(int(payload[start:i]))
    return tokens, i


def _p3_raster(text: bytes, n_bytes: int) -> bytes:
    """Parse a P3 ASCII raster. The netpbm spec allows '#' comments anywhere
    in plain-format files, including between raster samples — strip them
    before tokenizing (self-review r4: the first version crashed on
    spec-valid files with raster comments)."""
    import re

    cleaned = re.sub(rb"#[^\n\r]*", b"", text)
    try:
        samples = [int(t) for t in cleaned.split()]
    except ValueError as e:
        raise DecodeError("ppm: non-numeric P3 sample") from e
    if len(samples) < n_bytes:
        raise DecodeError("ppm: truncated P3 raster")
    if any(not 0 <= s <= 255 for s in samples[:n_bytes]):
        raise DecodeError("ppm: P3 sample out of byte range")
    return bytes(samples[:n_bytes])


def _channel_sums(raster: bytes | memoryview) -> tuple[int, int, int]:
    """Per-channel byte sums of interleaved RGB without a per-pixel loop:
    stride-3 memoryview slices keep this C-speed on large rasters."""
    mv = memoryview(bytes(raster))
    return sum(mv[0::3]), sum(mv[1::3]), sum(mv[2::3])


def decode_ppm(payload: bytes) -> dict:
    """Parse a P6 (binary) or P3 (ASCII) PPM and return exact pixel stats.

    Returns width, height, channels (3), maxval, per-channel sums over the
    whole image, the top-left pixel, and the sum of the first (top) row —
    the row stat distinguishes a correct parse from one that got the row
    geometry wrong.
    """
    magic = payload[:2]
    if magic not in (b"P6", b"P3"):
        raise DecodeError(f"ppm: bad magic {magic!r}")
    (width, height, maxval), off = _ppm_header_tokens(payload, 3)
    if width <= 0 or height <= 0:
        raise DecodeError("ppm: non-positive dimensions")
    if not (0 < maxval < 65536):
        raise DecodeError("ppm: maxval out of range")
    if maxval > 255:
        raise DecodeError("ppm: 16-bit samples not supported")
    n_bytes = width * height * 3
    if magic == b"P6":
        # exactly one whitespace byte after maxval, then raster
        if off >= len(payload) or payload[off] not in b" \t\r\n":
            raise DecodeError("ppm: missing raster separator")
        raster = payload[off + 1 : off + 1 + n_bytes]
        if len(raster) != n_bytes:
            raise DecodeError("ppm: truncated raster")
    else:  # P3: ASCII sample values
        raster = _p3_raster(payload[off:], n_bytes)
    sum_r, sum_g, sum_b = _channel_sums(raster)
    return {
        "width": width,
        "height": height,
        "channels": 3,
        "maxval": maxval,
        "sum_r": sum_r,
        "sum_g": sum_g,
        "sum_b": sum_b,
        "top_left_r": raster[0],
        "top_left_g": raster[1],
        "top_left_b": raster[2],
        "row0_sum": sum(raster[: width * 3]),
        "raster": bytes(raster),  # r9: the perceptual-hash kernel needs pixels
    }


def encode_ppm(width: int, height: int, raster: bytes, *, maxval: int = 255) -> bytes:
    """Encode interleaved RGB bytes as binary P6 (with a comment line, so the
    decoder's comment handling is exercised by every round-trip)."""
    if len(raster) != width * height * 3:
        raise ValueError("raster size mismatch")
    header = b"P6\n# synthetic\n%d %d\n%d\n" % (width, height, maxval)
    return header + raster


def iter_ppm_stream(payload: bytes):
    """Yield (offset, frame_bytes) for each P6 image in a concatenated-P6
    stream — the framing ``ffmpeg -f image2pipe -vcodec ppm`` produces.
    Raises DecodeError on trailing garbage or a truncated final frame."""
    i, n = 0, len(payload)
    while i < n:
        if payload[i : i + 2] != b"P6":
            raise DecodeError(f"ppm-stream: bad frame magic at offset {i}")
        chunk = payload[i:]
        (w, h, maxval), off = _ppm_header_tokens(chunk, 3)
        if off >= len(chunk) or chunk[off] not in b" \t\r\n":
            raise DecodeError("ppm-stream: missing raster separator")
        end = off + 1 + w * h * 3
        if end > len(chunk):
            raise DecodeError("ppm-stream: truncated frame")
        yield i, chunk[:end]
        i += end


def resize_ppm_nearest(payload: bytes, width: int, height: int) -> bytes:
    """Real nearest-neighbor resize of a P6/P3 PPM, returned re-encoded as P6.

    Uses the floor index map ``src_x = dst_x * src_w // dst_w`` (and same for
    y) — the conventional scale mapping, chosen because it is exactly
    reproducible in the SQL oracle."""
    if width <= 0 or height <= 0:
        raise ValueError("resize: target dimensions must be positive")
    magic = payload[:2]
    if magic not in (b"P6", b"P3"):
        raise DecodeError(f"ppm: bad magic {magic!r}")
    (src_w, src_h, maxval), off = _ppm_header_tokens(payload, 3)
    if src_w <= 0 or src_h <= 0:
        raise DecodeError("ppm: non-positive dimensions")
    if maxval > 255:
        raise DecodeError("ppm: 16-bit samples not supported")
    if maxval <= 0:
        # same 0 < maxval validation decode_ppm performs — otherwise a
        # maxval-0 input re-encodes to a P6 that decode_ppm itself rejects
        raise DecodeError("ppm: maxval must be positive")
    n_bytes = src_w * src_h * 3
    if magic == b"P6":
        if off >= len(payload) or payload[off] not in b" \t\r\n":
            raise DecodeError("ppm: missing raster separator")
        raster = payload[off + 1 : off + 1 + n_bytes]
        if len(raster) != n_bytes:
            raise DecodeError("ppm: truncated raster")
    else:
        raster = _p3_raster(payload[off:], n_bytes)
    out = bytearray(width * height * 3)
    row_stride = src_w * 3
    for dy in range(height):
        sy = dy * src_h // height
        src_row = sy * row_stride
        drow = dy * width * 3
        for dx in range(width):
            s = src_row + (dx * src_w // width) * 3
            d = drow + dx * 3
            out[d : d + 3] = raster[s : s + 3]
    return encode_ppm(width, height, bytes(out), maxval=maxval)


# --------------------------------------------------------------------------
# BMP: 14-byte BITMAPFILEHEADER + 40-byte BITMAPINFOHEADER, 24 bpp, BI_RGB
# (uncompressed). Rows are stored bottom-up (positive biHeight), each padded
# to a 4-byte boundary, pixels in BGR order — three traps a fake decoder
# would miss and the stats below would expose.
# --------------------------------------------------------------------------

_BMP_FILE_HDR = struct.Struct("<2sIHHI")  # magic, file size, res1, res2, data offset
_BMP_INFO_HDR = struct.Struct("<IiiHHIIiiII")


def decode_bmp(payload: bytes) -> dict:
    """Parse a 24-bit uncompressed BMP and return the same stat dict shape as
    :func:`decode_ppm` (maxval fixed at 255). Handles bottom-up and top-down
    row order and per-row padding."""
    if len(payload) < 54:
        raise DecodeError("bmp: truncated header")
    magic, _file_size, _r1, _r2, data_off = _BMP_FILE_HDR.unpack_from(payload, 0)
    if magic != b"BM":
        raise DecodeError(f"bmp: bad magic {magic!r}")
    (hdr_size, width, height, planes, bpp, compression, _img_size,
     _xppm, _yppm, _clr_used, _clr_imp) = _BMP_INFO_HDR.unpack_from(payload, 14)
    if hdr_size < 40:
        raise DecodeError("bmp: unsupported header size")
    if planes != 1 or bpp != 24 or compression != 0:
        raise DecodeError("bmp: only 24-bit uncompressed (BI_RGB) supported")
    bottom_up = height > 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise DecodeError("bmp: bad dimensions")
    row_bytes = width * 3
    stride = (row_bytes + 3) & ~3  # rows padded to 4-byte boundary
    if data_off + stride * height > len(payload):
        raise DecodeError("bmp: truncated raster")
    sum_r = sum_g = sum_b = 0
    top_left = None
    row0_sum = 0
    rgb = bytearray(width * height * 3)  # logical top-down RGB (r10: dhash needs pixels)
    for logical_y in range(height):
        stored_y = (height - 1 - logical_y) if bottom_up else logical_y
        start = data_off + stored_y * stride
        row = payload[start : start + row_bytes]  # padding excluded
        # BGR on disk
        sb, sg, sr = _channel_sums(row)
        sum_r += sr
        sum_g += sg
        sum_b += sb
        d = logical_y * width * 3
        rgb[d : d + row_bytes : 3] = row[2::3]
        rgb[d + 1 : d + row_bytes : 3] = row[1::3]
        rgb[d + 2 : d + row_bytes : 3] = row[0::3]
        if logical_y == 0:
            top_left = (row[2], row[1], row[0])
            row0_sum = sum(row)
    return {
        "width": width,
        "height": height,
        "channels": 3,
        "maxval": 255,
        "sum_r": sum_r,
        "sum_g": sum_g,
        "sum_b": sum_b,
        "top_left_r": top_left[0],
        "top_left_g": top_left[1],
        "top_left_b": top_left[2],
        "row0_sum": row0_sum,
        "raster": bytes(rgb),
    }


# --------------------------------------------------------------------------
# PNG (RFC 2083 / W3C spec): 8-byte signature, then CRC-protected chunks.
# Scope: EVERY legal depth (1/2/4/8/16), color types 0 (grayscale), 2
# (RGB), 3 (palette — PLTE-indexed, the ubiquitous web form), 4
# (gray+alpha), 6 (RGBA), sequential AND Adam7-interlaced layouts — the
# DEFLATE layer is stdlib zlib, the scanline FILTER layer (all five types:
# None/Sub/Up/Average/Paeth) is implemented here over BYTES (the 16-bit
# left-neighbor distance is channels*2 bytes per spec; sub-byte depths
# filter the bit-PACKED row bytes at distance 1 and unpack MSB-first per
# spec §7.2, including per-pass packing under Adam7), and interlaced
# streams unfilter each of the 7 pass sub-images independently before the
# deinterlace scatter. CRCs are VERIFIED (a decoder that skips them accepts
# silently corrupted chunks). Palette rasters expand to RGB at decode — or
# RGBA when a tRNS chunk supplies per-entry alpha; filtering for type 3
# operates on INDEX bytes (bpp=1) per spec. COLOR-KEY tRNS (types 0/2:
# one 2-byte-per-sample transparent color) widens decode to gray+alpha /
# RGBA with alpha = 0 exactly where the pixel equals the key.
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §6.6): nearest of left/up/up-left to the
    linear estimate a + b - c, ties resolved left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunks(payload: bytes):
    """Yield (type, body) with CRC verification and strict bounds: a chunk
    whose declared length crosses the payload end raises (the RIFF lesson —
    never slice-and-tolerate)."""
    i, n = 8, len(payload)
    while i < n:
        if i + 8 > n:
            raise DecodeError("png: truncated chunk header")
        (length,) = struct.unpack(">I", payload[i : i + 4])
        ctype = payload[i + 4 : i + 8]
        if i + 12 + length > n:
            raise DecodeError(f"png: {ctype!r} chunk crosses payload end")
        body = payload[i + 8 : i + 8 + length]
        (crc,) = struct.unpack(">I", payload[i + 8 + length : i + 12 + length])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise DecodeError(f"png: CRC mismatch in {ctype!r} chunk")
        yield ctype, body
        i += 12 + length
        if ctype == b"IEND":
            return
    raise DecodeError("png: missing IEND chunk")


def _unfilter(raw: bytes, width: int, height: int, bpp: int) -> bytes:
    """Undo per-scanline filtering: each stored row is a filter-type byte
    followed by width*bpp filtered bytes; reconstruction references the
    reconstructed prior row and left neighbor (distance = bpp bytes)."""
    stride = width * bpp
    if len(raw) != (stride + 1) * height:
        raise DecodeError("png: decompressed stream size mismatch")
    out = bytearray(stride * height)
    prior = bytes(stride)
    for y in range(height):
        base = y * (stride + 1)
        ft = raw[base]
        cur = bytearray(raw[base + 1 : base + 1 + stride])
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif ft == 2:  # Up
            for x in range(stride):
                cur[x] = (cur[x] + prior[x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((left + prior[x]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                c = prior[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + _paeth(a, prior[x], c)) & 0xFF
        else:
            raise DecodeError(f"png: unknown filter type {ft}")
        out[y * stride : (y + 1) * stride] = cur
        prior = bytes(cur)
    return bytes(out)


# samples per pixel at depth 8, by color type
_PNG_SAMPLES = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 pass grid (PNG spec §8.2): (x_start, y_start, x_step, y_step).
# Pass p covers pixels (x0 + i*xs, y0 + j*ys); empty passes store nothing.
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _adam7_pass_dims(width: int, height: int) -> list[tuple[int, int, int, int, int, int]]:
    """(x0, y0, xs, ys, pass_width, pass_height) per pass, in pass order."""
    out = []
    for x0, y0, xs, ys in _ADAM7:
        pw = (width - x0 + xs - 1) // xs if width > x0 else 0
        ph = (height - y0 + ys - 1) // ys if height > y0 else 0
        out.append((x0, y0, xs, ys, pw, ph))
    return out


def _adam7_deinterlace(
    raw: bytes, width: int, height: int, samples: int
) -> bytes:
    """Unfilter the 7 consecutive pass sub-images and scatter their pixels
    to the full raster's positions."""
    out = bytearray(width * height * samples)
    pos = 0
    for x0, y0, xs, ys, pw, ph in _adam7_pass_dims(width, height):
        if pw == 0 or ph == 0:
            continue
        size = (pw * samples + 1) * ph
        sub = _unfilter(raw[pos : pos + size], pw, ph, samples)
        pos += size
        for j in range(ph):
            y = y0 + j * ys
            srow = j * pw * samples
            for i in range(pw):
                x = x0 + i * xs
                d = (y * width + x) * samples
                s = srow + i * samples
                out[d : d + samples] = sub[s : s + samples]
    if pos != len(raw):
        raise DecodeError("png: interlaced stream size mismatch")
    return bytes(out)


def _unpack_row(row: bytes, width: int, depth: int) -> bytes:
    """MSB-first bit-packed scanline → one sample value per byte (spec
    §7.2: pixels pack left-to-right from the high bits; padding bits at
    the row end are discarded)."""
    per = 8 // depth
    mask = (1 << depth) - 1
    return bytes(
        (row[i // per] >> (8 - depth * (i % per + 1))) & mask for i in range(width)
    )


def _subbyte_samples(raw: bytes, width: int, height: int, depth: int, interlace: int) -> bytes:
    """Reconstruct a sub-byte-depth (1/2/4) single-sample image: filters
    run over the PACKED row bytes (bpp = 1 — the spec floors the left
    distance at one byte), then each row unpacks to ``width`` samples.
    Adam7 packs each pass's rows independently (per-pass row byte width),
    exactly like the byte-depth pass layout."""
    if interlace == 0:
        rb = (width * depth + 7) // 8
        rows = _unfilter(raw, rb, height, 1)
        return b"".join(
            _unpack_row(rows[y * rb : (y + 1) * rb], width, depth) for y in range(height)
        )
    out = bytearray(width * height)
    pos = 0
    for x0, y0, xs, ys, pw, ph in _adam7_pass_dims(width, height):
        if pw == 0 or ph == 0:
            continue
        rb = (pw * depth + 7) // 8
        size = (rb + 1) * ph
        sub = _unfilter(raw[pos : pos + size], rb, ph, 1)
        pos += size
        for j in range(ph):
            vals = _unpack_row(sub[j * rb : (j + 1) * rb], pw, depth)
            y = y0 + j * ys
            for i in range(pw):
                out[y * width + x0 + i * xs] = vals[i]
    if pos != len(raw):
        raise DecodeError("png: interlaced stream size mismatch")
    return bytes(out)


def _png_raster(payload: bytes) -> tuple[int, int, int, "bytes | array", int]:
    """Parse a PNG at any legal depth (1/2/4/8/16) to its reconstructed
    top-down raster:
    ``(width, height, channels, samples, maxval)``. ``channels`` is 1
    (gray), 2 (gray+alpha), 3 (RGB — truecolor OR palette expanded through
    PLTE), or 4 (RGBA); a color-key tRNS on types 0/2 widens 1→2 / 3→4.
    ``samples`` is interleaved per-sample values — ``bytes`` at depth 8,
    ``array('H')`` at depth 16 (big-endian pairs decoded to ints);
    ``maxval`` is 255 or 65535."""
    if payload[:8] != _PNG_SIG:
        raise DecodeError("png: bad signature")
    ihdr = None
    plte: bytes | None = None
    trns: bytes | None = None
    idat: list[bytes] = []
    saw_iend = False
    for ctype, body in _png_chunks(payload):
        if ctype == b"IHDR":
            if ihdr is not None:
                raise DecodeError("png: duplicate IHDR")
            if len(body) != 13:
                raise DecodeError("png: IHDR length != 13")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            if ihdr is None:
                raise DecodeError("png: PLTE before IHDR")
            if plte is not None:
                raise DecodeError("png: duplicate PLTE")
            if idat:
                raise DecodeError("png: PLTE after IDAT")
            if len(body) == 0 or len(body) % 3 != 0 or len(body) > 768:
                raise DecodeError("png: bad PLTE length")
            plte = body
        elif ctype == b"tRNS":
            if ihdr is None:
                raise DecodeError("png: tRNS before IHDR")
            if trns is not None:
                raise DecodeError("png: duplicate tRNS")
            if idat:
                raise DecodeError("png: tRNS after IDAT")
            if ihdr[3] == 3 and plte is None:
                # spec orders PLTE before tRNS for palette images — reject
                # at chunk time with the same strictness as PLTE-after-IDAT
                raise DecodeError("png: tRNS before PLTE")
            trns = body
        elif ctype == b"IDAT":
            if ihdr is None:
                raise DecodeError("png: IDAT before IHDR")
            idat.append(body)
        elif ctype == b"IEND":
            saw_iend = True
        # ancillary chunks (tEXt, pHYs, …) are skipped after CRC check
    if ihdr is None:
        raise DecodeError("png: missing IHDR")
    if not saw_iend:
        raise DecodeError("png: missing IEND chunk")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if width <= 0 or height <= 0 or width > 1 << 24 or height > 1 << 24:
        raise DecodeError("png: bad dimensions")
    if comp != 0 or filt != 0:
        raise DecodeError("png: unknown compression/filter method")
    if interlace not in (0, 1):
        raise DecodeError("png: bad interlace flag")
    if color_type not in _PNG_SAMPLES:
        raise DecodeError("png: bad color type")
    if depth not in (1, 2, 4, 8, 16):
        raise DecodeError("png: bad bit depth")
    if depth < 8 and color_type not in (0, 3):
        # spec: sub-byte depths are legal only for grayscale and palette
        raise DecodeError("png: sub-byte depth illegal for this color type")
    if depth == 16 and color_type == 3:
        raise DecodeError("png: 16-bit depth is illegal for palette images")
    if color_type == 3 and plte is None:
        raise DecodeError("png: palette image missing PLTE")
    if color_type != 3 and plte is not None:
        raise DecodeError("png: PLTE on a non-palette color type")
    if trns is not None:
        if color_type in (4, 6):
            # spec prohibits tRNS when the color type already carries alpha
            raise DecodeError("png: tRNS on an alpha-carrying color type")
        if color_type == 0 and len(trns) != 2:
            raise DecodeError("png: gray color-key tRNS must be 2 bytes")
        if color_type == 2 and len(trns) != 6:
            raise DecodeError("png: truecolor color-key tRNS must be 6 bytes")
        if color_type == 3 and len(trns) > len(plte) // 3:
            raise DecodeError("png: tRNS longer than the palette")
    if not idat:
        raise DecodeError("png: missing IDAT")
    samples = _PNG_SAMPLES[color_type]
    # filter left-neighbor distance, in BYTES (spec: floor at 1 byte for
    # bit-packed scanlines — sub-byte filters reference the previous BYTE)
    bpp = max(1, samples * depth // 8)

    def _row_bytes(w: int) -> int:
        return (w * samples * depth + 7) // 8

    maxval = (1 << depth) - 1
    # Bound the inflate BEFORE allocating: a crafted stream with valid CRCs
    # could otherwise force a multi-GB allocation (zlib amplifies ~1000x)
    # ahead of _unfilter's size check. Expected bytes are fixed by IHDR:
    # (row bytes + 1 filter byte) per row for the sequential layout;
    # for Adam7, the sum of the 7 filtered pass sub-images.
    if interlace == 0:
        expected = (_row_bytes(width) + 1) * height
    else:
        expected = sum(
            (_row_bytes(pw) + 1) * ph
            for _x0, _y0, _xs, _ys, pw, ph in _adam7_pass_dims(width, height)
            if pw and ph
        )
    if expected > _MAX_RASTER_BYTES:
        raise DecodeError("png: raster exceeds decode size cap")
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(b"".join(idat), expected + 1)
    except zlib.error as e:
        raise DecodeError("png: corrupt IDAT zlib stream") from e
    if len(raw) > expected or dec.unconsumed_tail:
        raise DecodeError("png: IDAT inflates past the IHDR raster size")
    if not dec.eof and not dec.unused_data and dec.decompress(b"", 1):
        raise DecodeError("png: IDAT inflates past the IHDR raster size")
    if depth < 8:
        recon = _subbyte_samples(raw, width, height, depth, interlace)
    elif interlace == 1:
        recon = _adam7_deinterlace(raw, width, height, bpp)
    else:
        recon = _unfilter(raw, width, height, bpp)
    if color_type == 3:
        # expand indices through the palette (filtering already ran on the
        # INDEX bytes — the spec's bpp for type 3); a tRNS chunk adds a
        # per-entry alpha (255 beyond its length) and widens to RGBA
        n_entries = len(plte) // 3
        out_ch = 4 if trns is not None else 3
        out = bytearray(width * height * out_ch)
        for i, idx in enumerate(recon):
            if idx >= n_entries:
                raise DecodeError("png: palette index out of range")
            o = out_ch * i
            out[o : o + 3] = plte[3 * idx : 3 * idx + 3]
            if out_ch == 4:
                out[o + 3] = trns[idx] if idx < len(trns) else 255
        return width, height, out_ch, bytes(out), 255
    if depth == 16:
        # big-endian 2-byte samples → ints
        vals = array("H")
        vals.frombytes(recon)
        if sys.byteorder == "little":
            vals.byteswap()
        recon = vals
    if trns is not None and color_type in (0, 2):
        # color-key transparency: alpha = 0 exactly where the pixel equals
        # the key (2 bytes per sample in tRNS regardless of depth; at depth
        # 8 a key sample > 255 can never match, per spec)
        key = tuple(
            (trns[2 * s] << 8) | trns[2 * s + 1] for s in range(samples)
        )
        out_ch = samples + 1
        n_px = width * height
        expanded = [0] * (n_px * out_ch)
        for p in range(n_px):
            s0 = p * samples
            d0 = p * out_ch
            px = tuple(recon[s0 + c] for c in range(samples))
            for c in range(samples):
                expanded[d0 + c] = px[c]
            expanded[d0 + samples] = 0 if px == key else maxval
        if depth == 16:
            return width, height, out_ch, array("H", expanded), maxval
        return width, height, out_ch, bytes(expanded), maxval
    return width, height, samples, recon, maxval


def decode_png(payload: bytes) -> dict:
    """Parse an 8- or 16-bit PNG and return the same stat dict shape as
    :func:`decode_ppm`. ``channels``: 1 = grayscale, 2 = gray+alpha
    (native OR color-key-widened), 3 = RGB (truecolor or palette-expanded),
    4 = RGBA (native, palette+tRNS, or truecolor+color-key). For gray
    forms the three channel sums and top-left values replicate the gray
    channel (alpha excluded from sums); ``row0_sum`` always covers ALL
    decoded samples of row 0 including alpha — every definition is
    replayed exactly by the SQL oracles. ``maxval`` is 255 or 65535."""
    width, height, channels, recon, maxval = _png_raster(payload)
    if channels <= 2:
        gray_sum = sum(recon[0::channels])
        sums = (gray_sum, gray_sum, gray_sum)
        top = (recon[0], recon[0], recon[0])
    else:
        sums = (sum(recon[0::channels]), sum(recon[1::channels]), sum(recon[2::channels]))
        top = (recon[0], recon[1], recon[2])
    return {
        "width": width,
        "height": height,
        "channels": channels,
        "maxval": maxval,
        "sum_r": sums[0],
        "sum_g": sums[1],
        "sum_b": sums[2],
        "top_left_r": top[0],
        "top_left_g": top[1],
        "top_left_b": top[2],
        "row0_sum": sum(recon[: width * channels]),
    }


def resize_png_nearest(payload: bytes, width: int, height: int) -> bytes:
    """Real nearest-neighbor resize of an 8-bit RGB/RGBA PNG, returned
    re-encoded as PNG with the same channel count. Same floor index map as
    :func:`resize_ppm_nearest` (``src = dst * src_dim // dst_dim``), so the
    SQL oracle replays resized pixels exactly."""
    if width <= 0 or height <= 0:
        raise ValueError("resize: target dimensions must be positive")
    src_w, src_h, channels, raster, maxval = _png_raster(payload)
    depth = 16 if maxval == 65535 else 8
    n_samples = width * height * channels
    out = array("H", bytes(2 * n_samples)) if depth == 16 else bytearray(n_samples)
    row_stride = src_w * channels
    for dy in range(height):
        src_row = (dy * src_h // height) * row_stride
        drow = dy * width * channels
        for dx in range(width):
            s = src_row + (dx * src_w // width) * channels
            d = drow + dx * channels
            out[d : d + channels] = raster[s : s + channels]
    if depth == 16:
        return encode_png(width, height, out.tolist(), channels=channels, depth=16)
    return encode_png(width, height, bytes(out), channels=channels)


def encode_png(
    width: int,
    height: int,
    raster: "bytes | Sequence[int]",
    *,
    channels: int = 3,
    interlace: bool = False,
    depth: int = 8,
    color_key: "tuple[int, ...] | int | None" = None,
) -> bytes:
    """Encode top-down interleaved samples as a valid PNG whose row
    filters CYCLE through all five types (row y uses filter y % 5), so a
    decoder must implement every filter to round-trip any image taller
    than four rows — the same adversarial-encoder discipline as the BMP
    bottom-up/BGR/padding transforms. ``channels`` picks the color type:
    1 → grayscale (0), 2 → gray+alpha (4), 3 → truecolor (2), 4 → RGBA (6).
    ``interlace=True`` stores the Adam7 layout: seven independently
    filtered pass sub-images in pass order (empty passes store nothing).
    ``depth=16`` packs each sample as a big-endian pair (``raster`` is then
    a sequence of ints 0..65535); the filters still run over BYTES with the
    spec's left distance of channels*2. ``color_key`` (gray int or RGB
    tuple, channels 1/3 only) emits the tRNS transparent-color chunk."""
    if channels not in (1, 2, 3, 4):
        raise ValueError("png: channels must be 1, 2, 3 (RGB) or 4 (RGBA)")
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError("png: encode depth must be 1, 2, 4, 8 or 16")
    if depth < 8 and channels != 1:
        raise ValueError("png: sub-byte depth is only legal for grayscale")
    if len(raster) != width * height * channels:
        raise ValueError("raster size mismatch")
    if width <= 0 or height <= 0:
        raise ValueError("dimensions must be positive")
    trns = b""
    if color_key is not None:
        if channels not in (1, 3):
            raise ValueError("png: color_key is only legal for gray/truecolor")
        key = (color_key,) if isinstance(color_key, int) else tuple(color_key)
        if len(key) != channels or any(not 0 <= k < (1 << depth) for k in key):
            raise ValueError("png: color_key sample out of range")
        trns = b"".join(struct.pack(">H", k) for k in key)
    if depth == 16:
        try:
            packed = array("H", raster)
        except OverflowError as e:
            raise ValueError("png: 16-bit sample out of range") from e
        if sys.byteorder == "little":
            packed.byteswap()
        raster = packed.tobytes()
    elif not isinstance(raster, (bytes, bytearray)):
        raster = bytes(raster)
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    if depth < 8:
        # bit-packed grayscale: pack each (pass) row MSB-first, filters run
        # over the packed bytes (bpp = 1) — the decoder's mirror image
        if any(v >= (1 << depth) for v in raster):
            raise ValueError("png: sample out of range for sub-byte depth")
        if not interlace:
            return _png_container(
                width,
                height,
                color_type,
                _png_filter_rows(
                    _pack_rows(raster, width, height, depth),
                    (width * depth + 7) // 8,
                    height,
                    1,
                ),
                trns=trns,
                depth=depth,
            )
        parts = []
        for x0, y0, xs, ys, pw, ph in _adam7_pass_dims(width, height):
            if pw == 0 or ph == 0:
                continue
            sub = bytes(
                raster[(y0 + j * ys) * width + (x0 + i * xs)]
                for j in range(ph)
                for i in range(pw)
            )
            parts.append(
                _png_filter_rows(
                    _pack_rows(sub, pw, ph, depth), (pw * depth + 7) // 8, ph, 1
                )
            )
        return _png_container(
            width, height, color_type, b"".join(parts), trns=trns, interlace=1, depth=depth
        )
    bpp = channels * (depth // 8)
    if not interlace:
        return _png_container(
            width,
            height,
            color_type,
            _png_filter_rows(raster, width, height, bpp),
            trns=trns,
            depth=depth,
        )
    parts = []
    for x0, y0, xs, ys, pw, ph in _adam7_pass_dims(width, height):
        if pw == 0 or ph == 0:
            continue
        sub = bytearray(pw * ph * bpp)
        for j in range(ph):
            y = y0 + j * ys
            for i in range(pw):
                x = x0 + i * xs
                s = (y * width + x) * bpp
                d = (j * pw + i) * bpp
                sub[d : d + bpp] = raster[s : s + bpp]
        parts.append(_png_filter_rows(bytes(sub), pw, ph, bpp))
    return _png_container(
        width, height, color_type, b"".join(parts), trns=trns, interlace=1, depth=depth
    )


def _pack_rows(samples: bytes, width: int, height: int, depth: int) -> bytes:
    """One-sample-per-byte rows → MSB-first bit-packed scanlines (the
    encoder mirror of :func:`_unpack_row`; row-end padding bits zero)."""
    per = 8 // depth
    rb = (width * depth + 7) // 8
    out = bytearray(rb * height)
    for y in range(height):
        for i in range(width):
            out[y * rb + i // per] |= samples[y * width + i] << (8 - depth * (i % per + 1))
    return bytes(out)


def _png_filter_rows(raster: bytes, width: int, height: int, bpp: int) -> bytes:
    """Apply the cycling per-row filters (y % 5) over ``bpp``-byte pixels —
    shared by the truecolor/gray and the palette (index-byte) encoders."""
    stride = width * bpp
    prior = bytes(stride)
    filtered = bytearray()
    for y in range(height):
        cur = raster[y * stride : (y + 1) * stride]
        ft = y % 5
        filtered.append(ft)
        if ft == 0:
            filtered += cur
        elif ft == 1:  # Sub
            filtered += bytes(
                (cur[x] - (cur[x - bpp] if x >= bpp else 0)) & 0xFF
                for x in range(stride)
            )
        elif ft == 2:  # Up
            filtered += bytes((cur[x] - prior[x]) & 0xFF for x in range(stride))
        elif ft == 3:  # Average
            filtered += bytes(
                (cur[x] - (((cur[x - bpp] if x >= bpp else 0) + prior[x]) >> 1))
                & 0xFF
                for x in range(stride)
            )
        else:  # Paeth
            filtered += bytes(
                (
                    cur[x]
                    - _paeth(
                        cur[x - bpp] if x >= bpp else 0,
                        prior[x],
                        prior[x - bpp] if x >= bpp else 0,
                    )
                )
                & 0xFF
                for x in range(stride)
            )
        prior = cur
    return bytes(filtered)


def _png_container(
    width: int,
    height: int,
    color_type: int,
    filtered: bytes,
    *,
    plte: bytes = b"",
    trns: bytes = b"",
    interlace: int = 0,
    depth: int = 8,
) -> bytes:
    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, depth, color_type, 0, 0, interlace)
    # split IDAT in two so multi-chunk reassembly is exercised by round-trips
    z = zlib.compress(filtered, 6)
    mid = max(1, len(z) // 2) if len(z) > 1 else len(z)
    idats = chunk(b"IDAT", z[:mid]) + (chunk(b"IDAT", z[mid:]) if z[mid:] else b"")
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"tEXt", b"Comment\x00synthetic")  # ancillary chunk to skip
        + (chunk(b"PLTE", plte) if plte else b"")
        + (chunk(b"tRNS", trns) if trns else b"")
        + idats
        + chunk(b"IEND", b"")
    )


def encode_png_palette(
    width: int, height: int, raster: bytes, *, alpha: bytes | None = None, depth: int = 8
) -> bytes:
    """Encode top-down RGB(A) bytes as an 8-bit PALETTE PNG (color type 3,
    the ubiquitous web form): PLTE holds the distinct colors in
    first-appearance order, the stored raster is one index byte per pixel,
    and the cycling row filters run over the INDEX bytes (bpp=1) — exactly
    lossless for any image with ≤ 256 distinct colors, so the decode
    oracle is the same pixel formula as the truecolor row. ``alpha`` (one
    byte per PIXEL, same order as the raster) emits a tRNS chunk carrying
    each palette entry's alpha — distinctness is then per (color, alpha)
    tuple, matching the decoder's RGBA expansion."""
    if len(raster) != width * height * 3:
        raise ValueError("raster size mismatch")
    if alpha is not None and len(alpha) != width * height:
        raise ValueError("alpha size mismatch")
    if width <= 0 or height <= 0:
        raise ValueError("dimensions must be positive")
    colors: dict[bytes, int] = {}
    indices = bytearray(width * height)
    for i in range(width * height):
        c = bytes(raster[3 * i : 3 * i + 3]) + (
            bytes([alpha[i]]) if alpha is not None else b""
        )
        idx = colors.get(c)
        if idx is None:
            idx = len(colors)
            if idx >= 256:
                raise ValueError("png: palette encoding needs <= 256 distinct colors")
            colors[c] = idx
        indices[i] = idx
    plte = b"".join(c[:3] for c in colors)  # insertion order == index order
    trns = bytes(c[3] for c in colors) if alpha is not None else b""
    if depth != 8:
        # sub-byte palette: the stored image is the bit-packed INDEX plane
        # (filters still run over the packed bytes, bpp = 1)
        if depth not in (1, 2, 4):
            raise ValueError("png: palette depth must be 1, 2, 4 or 8")
        if len(colors) > (1 << depth):
            raise ValueError(
                f"png: {len(colors)} colors need more than {depth} bits per index"
            )
        return _png_container(
            width,
            height,
            3,
            _png_filter_rows(
                _pack_rows(bytes(indices), width, height, depth),
                (width * depth + 7) // 8,
                height,
                1,
            ),
            plte=plte,
            trns=trns,
            depth=depth,
        )
    return _png_container(
        width,
        height,
        3,
        _png_filter_rows(bytes(indices), width, height, 1),
        plte=plte,
        trns=trns,
    )


def encode_bmp(width: int, height: int, raster: bytes) -> bytes:
    """Encode top-down interleaved RGB bytes as a standard bottom-up padded
    24-bit BMP (so decode must actually undo both transforms)."""
    if len(raster) != width * height * 3:
        raise ValueError("raster size mismatch")
    row_bytes = width * 3
    stride = (row_bytes + 3) & ~3
    pad = b"\x00" * (stride - row_bytes)
    rows = []
    for stored_y in range(height):
        logical_y = height - 1 - stored_y  # bottom-up
        row = raster[logical_y * row_bytes : (logical_y + 1) * row_bytes]
        # RGB → BGR
        bgr = bytearray(row)
        bgr[0::3], bgr[2::3] = row[2::3], row[0::3]
        rows.append(bytes(bgr) + pad)
    data = b"".join(rows)
    data_off = 14 + 40
    file_hdr = _BMP_FILE_HDR.pack(b"BM", data_off + len(data), 0, 0, data_off)
    info_hdr = _BMP_INFO_HDR.pack(40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return file_hdr + info_hdr + data
