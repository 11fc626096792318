"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed through one Arrow row-kernel wrapper
(:func:`row_kernel`, over ``mapInArrow``) that every media stage shares.

Since round 4 the uncompressed-format kernels are REAL: ``decode_image``
dispatches on the payload magic to the dependency-free PPM/BMP parsers in
``operators/imagecodec.py``, ``resize_image_stats`` does genuine
nearest-neighbor resampling of PPM payloads, and ``sample_frame_stats``
splits concatenated-P6 streams (the ``ffmpeg -f image2pipe -vcodec ppm``
framing). Since round 6 PNG (8-bit RGB/RGBA, non-interlaced, all five
scanline filters) decodes for real too — stdlib zlib carries DEFLATE — and
since round 7 so does baseline JPEG (in-file Huffman tables,
dequant/zigzag/IDCT, YCbCr, 4:4:4 + 4:2:0 MCU interleave;
``operators/jpegcodec.py``) — and since round 8 PROGRESSIVE
JPEG (SOF2: spectral selection + successive approximation), GIF (full LZW
incl. animation), and MJPEG-in-AVI video. Only H.264-class video and the
arithmetic-coded/lossless/12-bit JPEG modes still raise
NotImplementedError — those genuinely need codec libraries absent from this
environment. ``fake_decode`` et al.
remain as the deterministic stand-ins some plumbing tests inject.

Scale notes: binary payloads ride the shuffle only if you shuffle them —
keep decode/feature-extract as the FIRST map stage after the scan, project
the bytes away, and only the small feature columns move afterwards.
``spark.sql.files.maxPartitionBytes`` bounds the per-task batch footprint.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# media row: opaque payload + typed metadata (mime drives the kernel choice)
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime_type", StringType()),
        StructField("payload", BinaryType()),
    ]
)


def row_kernel(
    df: DataFrame,
    in_cols: list[str],
    fn: Callable[..., dict | Iterable[dict]],
    schema: StructType,
    *,
    errors: tuple[type[BaseException], ...] = (),
    status_col: str | None = None,
) -> DataFrame:
    """Run a per-row Python kernel over ``df[in_cols]`` as one Arrow-batched
    ``mapInArrow`` stage: RecordBatches in and out, no pandas step, so an
    int64 column keeps every bit even in a batch that holds NULLs.

    ``fn`` receives one row's ``in_cols`` values positionally (a NULL
    binary payload arrives as ``b""``) and returns one output row as a
    dict, or an iterable of dicts for a one-to-many stage; keys missing
    from a row are NULL, keys outside ``schema`` are ignored. The key
    column ``in_cols[0]`` is copied into every output row. An exception in
    ``errors`` adds one dead-letter row — the key, ``status_col`` set to
    ``"error: <ExceptionName>"``, every other column NULL — after whatever
    rows a generator kernel yielded before it raised. Any other exception
    fails the task."""
    key = in_cols[0]
    arrow_schema = to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = [
                [b"" if v is None else v for v in c.to_pylist()]
                if pa.types.is_binary(c.type) or pa.types.is_large_binary(c.type)
                else c.to_pylist()
                for c in batch.columns
            ]
            rows = []
            for args in zip(*cols):
                try:
                    out = fn(*args)
                    for row in [out] if isinstance(out, dict) else out:
                        row[key] = args[0]
                        rows.append(row)
                except errors as e:
                    rows.append({key: args[0], status_col: f"error: {type(e).__name__}"})
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return df.select(*in_cols).mapInArrow(run, schema)


FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType()),
        StructField("content_hash", StringType()),
        StructField("decode_status", StringType()),
    ]
)


def decode_image(payload: bytes) -> dict:
    """REAL image decode: dispatches on the payload magic to the pure-Python
    PPM (P6/P3), 24-bit BMP, PNG (every legal depth), GIF, and baseline +
    progressive JPEG parsers (:mod:`.imagecodec`, :mod:`.gifcodec`,
    :mod:`.jpegcodec`; PNG's DEFLATE layer is stdlib zlib, JPEG's
    Huffman/DCT layers are implemented in full). H.264-class video and
    arithmetic-coded JPEG still require a codec library."""
    from .gifcodec import decode_gif
    from .imagecodec import decode_bmp, decode_png, decode_ppm
    from .jpegcodec import decode_jpeg

    if payload[:2] in (b"P6", b"P3"):
        return decode_ppm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        stats = decode_gif(payload)
        stats.pop("raster", None)
        stats.pop("interlaced", None)
        return stats
    if payload[:2] == b"\xff\xd8":
        stats = decode_jpeg(payload)
        stats.pop("raster", None)  # feature rows carry stats, not pixels
        return stats
    raise NotImplementedError(
        "H.264-class formats require a codec library; PPM, uncompressed BMP, "
        "PNG, GIF, and baseline/progressive JPEG decode in this environment"
    )


def fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in kernel: byte length + md5. Exercises the same
    batch path a real decoder would."""
    return {
        "n_bytes": len(payload),
        "content_hash": hashlib.md5(payload).hexdigest(),
        "decode_status": "ok",
    }


def extract_features(media: DataFrame, kernel=fake_decode) -> DataFrame:
    """Feature extraction over binary payloads through :func:`row_kernel`.

    Arrow moves the bytes into Python in columnar batches (never row-at-a-
    time pickling); output carries only small feature columns. A kernel
    that raises NotImplementedError yields a ``decoder_unavailable`` row."""

    def features(_media_id, payload):
        try:
            return kernel(payload)
        except NotImplementedError:
            return {"decode_status": "decoder_unavailable"}

    return row_kernel(media, ["media_id", "payload"], features, FEATURE_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_bytes", LongType()),
        StructField("content_hash", StringType()),
        StructField("resize_status", StringType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_index", LongType()),
        StructField("n_bytes", LongType()),
        StructField("frame_hash", StringType()),
        StructField("sample_status", StringType()),
    ]
)


def _resize_payload(payload: bytes, width: int, height: int) -> bytes:
    """Format-dispatching nearest-neighbor resize (floor index map
    ``src = dst * src_dim // dst_dim`` — SQL-reproducible) for the real
    codecs: PPM stays PPM, PNG stays PNG (RGB or RGBA), JPEG decodes,
    resamples, and re-encodes 4:4:4 (lossy by format definition — the
    decoded-pixel band, not a byte hash, is the verification contract).
    H.264-class formats still require a codec library."""
    from .imagecodec import resize_png_nearest, resize_ppm_nearest

    if payload[:2] in (b"P6", b"P3"):
        return resize_ppm_nearest(payload, width, height)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return resize_png_nearest(payload, width, height)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from .gifcodec import decode_gif, encode_gif

        st = decode_gif(payload)
        return encode_gif(
            width, height, _nearest_rgb(st["raster"], st["width"], st["height"], width, height)
        )
    if payload[:2] == b"\xff\xd8":
        from .jpegcodec import decode_jpeg, encode_jpeg

        st = decode_jpeg(payload)
        return encode_jpeg(
            width, height, _nearest_rgb(st["raster"], st["width"], st["height"], width, height)
        )
    raise NotImplementedError(
        "resize of H.264-class formats requires a codec library; "
        "PPM, PNG, GIF, and baseline JPEG resize in this environment"
    )


def _nearest_rgb(src: bytes, sw: int, sh: int, width: int, height: int) -> bytes:
    """Floor-map nearest-neighbor resample of a top-down RGB raster (the
    shared ``src = dst * src_dim // dst_dim`` convention the oracles replay)."""
    if width <= 0 or height <= 0:
        raise ValueError("resize: target dimensions must be positive")
    out = bytearray(width * height * 3)
    for dy in range(height):
        srow = (dy * sh // height) * sw * 3
        drow = dy * width * 3
        for dx in range(width):
            s = srow + (dx * sw // width) * 3
            d = drow + dx * 3
            out[d : d + 3] = src[s : s + 3]
    return bytes(out)


def fake_resize(payload: bytes, width: int, height: int) -> dict:
    """Deterministic stand-in: 'resize' = truncate the payload to the target
    pixel budget. Same batch path, schema, and output size profile as a real
    resampler."""
    out = payload[: width * height]
    return {
        "n_bytes": len(out),
        "content_hash": hashlib.md5(out).hexdigest(),
        "resize_status": "ok",
    }


def resize_media(media: DataFrame, *, width: int, height: int) -> DataFrame:
    """Resize over binary payloads (:func:`row_kernel` over
    :func:`fake_resize`): one output row per input, carrying the resized
    payload's size/hash instead of the bytes (project the heavy column away
    before anything shuffles). Every row carries the target dims."""

    def resize(_media_id, payload):
        return fake_resize(payload, width, height) | {"width": width, "height": height}

    return row_kernel(media, ["media_id", "payload"], resize, RESIZE_SCHEMA)


def _even_sample(total: int, n_frames: int) -> Iterable[int]:
    """``n_frames`` evenly spaced indices out of ``total`` (floor map
    ``j*total//n``); every index once when there are fewer frames than
    requested."""
    if n_frames >= total:
        return range(total)
    return sorted({j * total // n_frames for j in range(n_frames)})


def fake_frame_sample(payload: bytes, n_frames: int) -> list[dict]:
    """Deterministic stand-in: split the payload into n_frames contiguous
    chunks (integer-division boundaries) and emit one row per 'frame'."""
    size = len(payload)
    frames = []
    for i in range(n_frames):
        chunk = payload[i * size // n_frames : (i + 1) * size // n_frames]
        frames.append(
            {
                "frame_index": i,
                "n_bytes": len(chunk),
                "frame_hash": hashlib.md5(chunk).hexdigest(),
                "sample_status": "ok",
            }
        )
    return frames


def sample_frames(media: DataFrame, *, n_frames: int = 4, kernel=fake_frame_sample) -> DataFrame:
    """One-to-MANY :func:`row_kernel` stage: each media row yields
    ``n_frames`` frame rows (the UDTF-ish shape a video pipeline needs —
    batch in, bigger batch out). Frame payload bytes never leave the stage;
    only index + hash + size do."""

    def frames(_media_id, payload):
        try:
            return kernel(payload, n_frames)
        except NotImplementedError:
            return [{"sample_status": "decoder_unavailable"}]

    return row_kernel(media, ["media_id", "payload"], frames, FRAME_SCHEMA)


# --------------------------------------------------------------------------
# Real-decode stats path: synthesize valid PPM/BMP payloads from a
# deterministic, SQL-reproducible pixel formula, then decode them with the
# REAL parsers and emit exact-integer stats the DuckDB oracle replays.
# --------------------------------------------------------------------------

IMAGE_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("maxval", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("top_left_r", LongType()),
        StructField("top_left_g", LongType()),
        StructField("top_left_b", LongType()),
        StructField("row0_sum", LongType()),
        StructField("decode_status", StringType()),
    ]
)


def synth_raster(media_id: int) -> tuple[int, int, bytes]:
    """Deterministic top-down RGB raster for ``media_id``: dims
    ``w = 8 + id%5``, ``h = 4 + id%3``; byte at linear index ``i`` is
    ``(id*31 + i*7) % 256``. Chosen to be exactly replayable in SQL
    (generate_series + modular arithmetic) so the decode is oracle-checkable."""
    w, h = 8 + media_id % 5, 4 + media_id % 3
    n = w * h * 3
    base = media_id * 31
    raster = ((base + 7 * np.arange(n)) % 256).astype(np.uint8).tobytes()
    return w, h, raster


def synth_raster_rgba(media_id: int) -> tuple[int, int, bytes]:
    """RGBA twin of :func:`synth_raster`: dims ``w = 4 + id%4``,
    ``h = 5 + id%3`` (h ≥ 5 so every image exercises ALL FIVE PNG filter
    types under the cycling encoder); byte at linear index ``i`` over
    ``w*h*4`` is ``(id*37 + i*11) % 256``."""
    w, h = 4 + media_id % 4, 5 + media_id % 3
    n = w * h * 4
    base = media_id * 37
    raster = ((base + 11 * np.arange(n)) % 256).astype(np.uint8).tobytes()
    return w, h, raster


def synth_raster_gray(media_id: int) -> tuple[int, int, bytes]:
    """Single-channel twin of :func:`synth_raster` for the grayscale PNG
    row: dims ``w = 8 + id%5``, ``h = 4 + id%3``; byte at linear index
    ``i`` over ``w*h`` is ``(id*41 + i*13) % 256``."""
    w, h = 8 + media_id % 5, 4 + media_id % 3
    base = media_id * 41
    return w, h, ((base + 13 * np.arange(w * h)) % 256).astype(np.uint8).tobytes()


def synth_raster_mod32(media_id: int) -> tuple[int, int, bytes]:
    """Low-cardinality twin of :func:`synth_raster` for the COLOR-KEY PNG
    row: same dims, byte ``i`` is ``(id*31 + i*7) % 32``. The % 32 period
    makes the key (pixel 0's triple) recur every 32 pixels — images larger
    than 32 px carry MULTIPLE transparent pixels, so the alpha compare is
    exercised beyond the trivial top-left match."""
    w, h = 8 + media_id % 5, 4 + media_id % 3
    base = media_id * 31
    return w, h, ((base + 7 * np.arange(w * h * 3)) % 32).astype(np.uint8).tobytes()


def synth_raster_16bit(media_id: int) -> tuple[int, int, list[int]]:
    """16-bit-sample twin for the depth-16 PNG row: same dims, sample
    ``i`` over ``w*h*3`` is ``(id*97 + i*101) % 65536`` — values above 255
    in every image, so a decoder that truncates to bytes fails the hash."""
    w, h = 8 + media_id % 5, 4 + media_id % 3
    base = media_id * 97
    return w, h, ((base + 101 * np.arange(w * h * 3)) % 65536).tolist()


def synth_raster_lowdepth(media_id: int) -> tuple[int, int, int, bytes]:
    """Sub-byte grayscale twin: ``(w, h, depth, samples)`` with depth
    rotating 1/2/4 on id%3 (so every catalog round exercises all three
    bit-packings), dims ``w = 8 + id%5``, ``h = 4 + id%3``, sample ``i`` =
    ``(id*29 + i*7) % (maxval+1)`` — the full value range at every depth,
    so a decoder that mis-shifts the MSB-first packing fails the sums."""
    depth = (1, 2, 4)[media_id % 3]
    w, h = 8 + media_id % 5, 4 + media_id % 3
    mx = (1 << depth) - 1
    samples = ((media_id * 29 + 7 * np.arange(w * h)) % (mx + 1)).astype(np.uint8)
    return w, h, depth, samples.tobytes()


def synth_raster_smooth(media_id: int) -> tuple[int, int, bytes]:
    """SMOOTH deterministic RGB raster for the lossy-codec (JPEG) row: dims
    ``w = 16 + id%9``, ``h = 16 + id%5`` (multiple MCUs each way, incl.
    partial 16×16 MCUs at 4:2:0), pixel ``(x, y, c)`` value
    ``id%29 + x*3 + y*2 + c*17`` (max 169 < 255 — no modular wrap, so the
    image has no artificial high-frequency edges and the near-lossless
    encode stays inside a tight pixel band)."""
    w, h = 16 + media_id % 9, 16 + media_id % 5
    base = media_id % 29
    vals = (
        base
        + 2 * np.arange(h)[:, None, None]
        + 3 * np.arange(w)[None, :, None]
        + 17 * np.arange(3)[None, None, :]
    )
    return w, h, vals.astype(np.uint8).tobytes()


def jpeg_subsampling_for(media_id: int) -> str:
    """Catalog contract: ids rotate through all three common component
    layouts — id%3 = 0 → 4:4:4 (one 8×8 MCU), 1 → 4:2:0 (16×16 MCUs,
    2×2-averaged chroma), 2 → 4:2:2 (16×8 MCUs, 2×1-averaged chroma) —
    and the oracle replays the choice from the id. DRI rotates on id%4
    independently, so restart markers co-occur with every layout across
    the table (ids 0, 4, 8 mod 12)."""
    return ("4:4:4", "4:2:0", "4:2:2")[media_id % 3]


# Relative per-BYTE Python-kernel cost by format, used to decide whether
# synthesize_images pays one repartition exchange to escape the 1-split
# cliff. Calibrated from the r7 bench: ppm/bmp are header+slice work (~1x);
# png adds zlib DEFLATE + five per-byte filter loops both directions
# (~40x); jpeg adds per-block DCT/IDCT + Huffman entropy coding (~200x).
# 16-bit png doubles the bytes per sample on the same loops.
_KERNEL_WEIGHT = {
    "ppm": 1,
    "bmp": 1,
    "png": 40,
    "png_rgba": 40,
    "png_palette": 40,
    "png_gray": 40,
    "png_colorkey": 40,
    "png_16bit": 80,
    "png_lowdepth": 40,
    "gif": 40,  # LZW is a per-byte Python loop both directions — PNG class
    "jpeg": 200,
    "jpeg_progressive": 250,  # multi-scan entropy layer on top of the DCT cost
}
_WIDEN_WEIGHT_MIN = 40


def synthesize_images(media_ids: DataFrame, *, fmt: str) -> DataFrame:
    """:func:`row_kernel` encode stage: one valid PPM/BMP/PNG/JPEG payload per id.
    The encoder is separate from the decoder on purpose — the decode stage
    receives opaque bytes it must actually parse (headers, comments, BMP
    bottom-up padded BGR rows, JPEG entropy stream), not a dict handed
    around the side."""
    from .imagecodec import encode_bmp, encode_png, encode_png_palette, encode_ppm
    from .jpegcodec import encode_jpeg

    encode = {
        "ppm": lambda w, h, r: encode_ppm(w, h, r),
        "bmp": encode_bmp,
        "png": None,  # id-dependent Adam7 interlacing, handled below
        "png_rgba": lambda w, h, r: encode_png(w, h, r, channels=4),
        "png_palette": encode_png_palette,
        "gif": None,  # id-dependent interlacing, handled below
        "png_gray": lambda w, h, r: encode_png(w, h, r, channels=1),
        "png_colorkey": None,  # key derives from the raster, handled below
        "png_16bit": None,  # id-dependent Adam7 interlacing, handled below
        "png_lowdepth": None,  # id-dependent depth + interlacing, handled below
        "jpeg": None,  # id-dependent subsampling, handled below
        "jpeg_progressive": None,  # id-dependent subsampling, handled below
    }[fmt]
    mime = {
        "ppm": "image/x-portable-pixmap",
        "bmp": "image/bmp",
        "png": "image/png",
        "png_rgba": "image/png",
        "png_palette": "image/png",
        "png_gray": "image/png",
        "png_colorkey": "image/png",
        "png_16bit": "image/png",
        "png_lowdepth": "image/png",
        "gif": "image/gif",
        "jpeg": "image/jpeg",
        "jpeg_progressive": "image/jpeg",
    }[fmt]
    raster_fn = {
        "jpeg_progressive": synth_raster_smooth,
        "png_rgba": synth_raster_rgba,
        "png_gray": synth_raster_gray,
        "png_colorkey": synth_raster_mod32,
        "png_16bit": synth_raster_16bit,
        "jpeg": synth_raster_smooth,
    }.get(fmt, synth_raster)

    # The id frame usually comes off a one-split parquet scan (split sizing
    # is BYTE-based), but for COMPRESSED formats the kernel's cost per BYTE
    # is enormous — the measured 1-split cliff: the 2000-image JPEG row ran
    # its whole encode+decode on ONE core (30.4 s) until this widen (the
    # importance._widen lesson applied to the media path; 2.24 s after).
    # COST-BASED (r7 verdict item 5): the widen's one exchange is only paid
    # when the per-byte kernel weight clears _WIDEN_WEIGHT_MIN — png*/jpeg
    # run zlib/DCT/per-byte-filter Python loops (measured 10-100x the ppm/
    # bmp constants), while ppm/bmp encode+decode are memcpy-grade slicing
    # that a single core finishes faster than the shuffle costs (r7 bench:
    # unconditional widen bought jpeg 13.6x but taxed ppm 2.7x / bmp 2.0x).
    # No-op either way when the input already has enough splits; the
    # synth/decode outputs are per-row, so redistribution cannot move any
    # result. At real scale the id frame arrives multi-split and neither
    # branch changes the plan.
    from .importance import _widen

    media_ids = media_ids.select("media_id")
    if _KERNEL_WEIGHT[fmt] >= _WIDEN_WEIGHT_MIN:
        media_ids = _widen(media_ids)

    def synth(media_id):
        w, h, raster = raster_fn(media_id)
        if fmt == "jpeg":
            # ids % 4 == 0 carry a DRI restart interval: the decoder
            # must handle byte-aligned RSTn + predictor resets every
            # round (coefficients are identical, so the decoded
            # pixels — and the band oracle — are unchanged).
            # Independent of the id%3 subsampling rotation, so DRI
            # runs against every component layout.
            payload = encode_jpeg(
                w, h, raster,
                subsampling=jpeg_subsampling_for(media_id),
                restart_interval=2 if media_id % 4 == 0 else 0,
            )
        elif fmt == "jpeg_progressive":
            # full Annex G script: DC successive approximation + per-
            # component spectral bands each with a refinement pass —
            # every progressive decoder path runs on every image; the
            # same id%3 subsampling rotation as the baseline row
            from .jpegcodec import encode_jpeg_progressive

            payload = encode_jpeg_progressive(
                w, h, raster, subsampling=jpeg_subsampling_for(media_id)
            )
        elif fmt == "png":
            # ids % 7 == 0 store the Adam7 interlaced layout — the
            # decoder reassembles the 7 pass sub-images every round
            # (pure re-layout: decoded pixels — and the formula
            # oracle — are unchanged)
            payload = encode_png(w, h, raster, interlace=media_id % 7 == 0)
        elif fmt == "png_colorkey":
            # key = pixel 0's triple: every image carries at least
            # one transparent pixel, the % 32 raster period adds
            # more at p = 32, 64 where the image is large enough
            payload = encode_png(
                w, h, raster, color_key=(raster[0], raster[1], raster[2])
            )
        elif fmt == "png_16bit":
            # same interlace rotation as the truecolor row: the
            # depth-16 Adam7 path runs at every SF
            payload = encode_png(w, h, raster, depth=16, interlace=media_id % 7 == 0)
        elif fmt == "png_lowdepth":
            # depth rotates 1/2/4 on id%3 inside the synth; the
            # same id%7 interlace rotation as the other PNG rows,
            # so sub-byte Adam7 (per-pass bit packing) runs every
            # round
            w, h, dep, raster = synth_raster_lowdepth(media_id)
            payload = encode_png(
                w, h, raster, channels=1, depth=dep, interlace=media_id % 7 == 0
            )
        elif fmt == "gif":
            # ids % 5 == 0 store the 4-pass GIF interlace — the
            # decoder reassembles the row order every round (pure
            # re-layout; the formula oracle is unchanged)
            from .gifcodec import encode_gif

            payload = encode_gif(w, h, raster, interlace=media_id % 5 == 0)
        else:
            payload = encode(w, h, raster)
        return {"mime_type": mime, "payload": payload}

    return row_kernel(media_ids, ["media_id"], synth, MEDIA_SCHEMA)


def extract_image_stats(media: DataFrame) -> DataFrame:
    """:func:`row_kernel` REAL-decode stage over binary payloads: parses each
    payload with :func:`decode_image` (PPM/BMP dispatch) and emits exact
    pixel stats. Malformed payloads degrade to a status row instead of
    failing the batch (dead-letter semantics, same policy as the JSON
    quarantine ingest)."""
    from .imagecodec import DecodeError

    return row_kernel(
        media, ["media_id", "payload"],
        lambda _media_id, payload: decode_image(payload) | {"decode_status": "ok"},
        IMAGE_STATS_SCHEMA,
        errors=(DecodeError, NotImplementedError), status_col="decode_status",
    )


def resize_image_stats(media: DataFrame, *, width: int, height: int) -> DataFrame:
    """:func:`row_kernel` REAL-resize stage: nearest-neighbor-resample each payload
    (format-dispatched — PPM or PNG, floor index map), then decode the
    RESIZED image and emit its exact pixel stats — which the SQL oracle
    reproduces by replaying the index map over the synthesis formula.
    Proves the resampler end-to-end, not just that some bytes came back."""
    from .imagecodec import DecodeError

    def resized_stats(_media_id, payload):
        return decode_image(_resize_payload(payload, width, height)) | {"decode_status": "ok"}

    return row_kernel(
        media, ["media_id", "payload"], resized_stats, IMAGE_STATS_SCHEMA,
        errors=(DecodeError, NotImplementedError), status_col="decode_status",
    )


FRAME_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_index", LongType()),
        StructField("n_frames_total", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("sample_status", StringType()),
    ]
)


def synth_stream_raster(media_id: int, frame_index: int) -> bytes:
    """Frame ``frame_index`` (4x2 RGB) of the deterministic per-id P6
    stream: byte i is ``(id*31 + frame*131 + i*7) % 256`` — SQL-replayable
    like synth_raster."""
    base = media_id * 31 + frame_index * 131
    return bytes((base + i * 7) % 256 for i in range(4 * 2 * 3))


def synthesize_ppm_streams(media_ids: DataFrame) -> DataFrame:
    """One concatenated-P6 stream per id (the ffmpeg image2pipe framing):
    ``2 + id % 4`` frames of 4x2. Encode stage only — the sampling stage
    must genuinely split and parse the stream."""
    from .imagecodec import encode_ppm

    def synth(media_id):
        stream = b"".join(
            encode_ppm(4, 2, synth_stream_raster(media_id, f)) for f in range(2 + media_id % 4)
        )
        return {"mime_type": "video/x-ppm-stream", "payload": stream}

    return row_kernel(media_ids, ["media_id"], synth, MEDIA_SCHEMA)


def sample_frame_stats(media: DataFrame, *, n_frames: int) -> DataFrame:
    """:func:`row_kernel` REAL frame sampling with decoded stats: split the
    concatenated-P6 stream, keep ``n_frames`` evenly spaced frames (floor map
    ``j*total//n``), decode each kept frame and emit its channel sums — all
    replayable by the oracle. One-to-many (UDTF shape); payload bytes never
    leave the stage."""
    from .imagecodec import DecodeError, decode_ppm, iter_ppm_stream

    def frame_stats(_media_id, payload):
        frames = [f for _o, f in iter_ppm_stream(payload)]
        for i in _even_sample(len(frames), n_frames):
            d = decode_ppm(frames[i])
            yield {
                "frame_index": i,
                "n_frames_total": len(frames),
                "sum_r": d["sum_r"],
                "sum_g": d["sum_g"],
                "sum_b": d["sum_b"],
                "sample_status": "ok",
            }

    return row_kernel(
        media, ["media_id", "payload"], frame_stats, FRAME_STATS_SCHEMA,
        errors=(DecodeError, NotImplementedError), status_col="sample_status",
    )


# --------------------------------------------------------------------------
# Real audio-decode stats path (the audio leg of the image/video/audio triad):
# synthesize valid RIFF/WAVE PCM-16 payloads from a deterministic,
# SQL-reproducible sample formula, then decode them with the REAL chunk-walk
# parser in operators/audiocodec.py and emit exact-integer stats the DuckDB
# oracle replays.
# --------------------------------------------------------------------------

AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", LongType()),
        StructField("channels", LongType()),
        StructField("bits", LongType()),
        StructField("n_frames", LongType()),
        StructField("sum_all", LongType()),
        StructField("sum_ch0", LongType()),
        StructField("sum_ch1", LongType()),
        StructField("peak_abs", LongType()),
        StructField("first_sample", LongType()),
        StructField("decode_status", StringType()),
    ]
)


def synth_pcm(media_id: int) -> tuple[int, int, list[int]]:
    """Deterministic interleaved PCM stream for ``media_id``: channels
    ``1 + id%2``, frames ``12 + id%7``, sample rate ``8000 + (id%3)*4000``;
    interleaved sample at linear index ``i`` is ``(id*37 + i*11) % 4096 -
    2048``. Exactly replayable in SQL (generate_series + modular
    arithmetic), so the decode is oracle-checkable."""
    channels = 1 + media_id % 2
    n_frames = 12 + media_id % 7
    rate = 8000 + (media_id % 3) * 4000
    samples = [(media_id * 37 + i * 11) % 4096 - 2048 for i in range(channels * n_frames)]
    return rate, channels, samples


def synthesize_wavs(media_ids: DataFrame) -> DataFrame:
    """:func:`row_kernel` encode stage: one valid RIFF/WAVE payload per id (odd-sized
    JUNK chunk ahead of ``fmt `` — the decode stage must genuinely walk the
    chunk list, not read fixed offsets)."""
    from .audiocodec import encode_wav

    return row_kernel(
        media_ids, ["media_id"],
        lambda media_id: {"mime_type": "audio/wav", "payload": encode_wav(*synth_pcm(media_id))},
        MEDIA_SCHEMA,
    )


def extract_audio_stats(media: DataFrame) -> DataFrame:
    """:func:`row_kernel` REAL-decode stage over binary payloads: parses each WAV
    with :func:`.audiocodec.decode_wav` (chunk walk, pad bytes, channel
    de-interleave) and emits exact sample stats. Malformed payloads degrade
    to a status row (dead-letter semantics, same policy as the image path)."""
    from .audiocodec import DecodeError, decode_wav

    return row_kernel(
        media, ["media_id", "payload"],
        lambda _media_id, payload: decode_wav(payload) | {"decode_status": "ok"},
        AUDIO_STATS_SCHEMA,
        errors=(DecodeError, NotImplementedError), status_col="decode_status",
    )


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_frames", LongType()),
        StructField("energy_ch0", LongType()),
        StructField("zero_crossings_ch0", LongType()),
        StructField("sum_abs_delta_ch0", LongType()),
        StructField("peak_abs_ch0", LongType()),
        StructField("feature_status", StringType()),
    ]
)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Waveform FEATURE extraction over decoded PCM (channel 0): energy
    (sum of squared samples — int16² × reasonable clip lengths stays well
    inside int64), zero crossings (sign flips between consecutive frames;
    0 counts as non-negative, the pinned convention the oracle replays),
    total variation (sum |Δ| between consecutive frames), and peak |v|.
    All exact integers, so the SQL oracle replays them through LAG over the
    synth formula — no float summation order to diverge on. This is the
    audio twin of the image stats stage: a curation pipeline gates clips on
    exactly these (silence ⇒ energy ≈ 0, clipping ⇒ peak at full scale,
    noise ⇒ high ZCR)."""
    from .audiocodec import DecodeError, decode_wav_samples

    def features(_media_id, payload):
        _rate, nch, pcm = decode_wav_samples(payload)
        # vectorized (r9): pure integer reductions over int64 —
        # exact, identical to the former generator loops
        ch0 = np.asarray(pcm[0::nch], dtype=np.int64)
        return {
            "n_frames": int(ch0.size),
            "energy_ch0": int((ch0 * ch0).sum()),
            "zero_crossings_ch0": int(((ch0[:-1] < 0) != (ch0[1:] < 0)).sum()),
            "sum_abs_delta_ch0": int(np.abs(ch0[1:] - ch0[:-1]).sum()),
            "peak_abs_ch0": int(np.abs(ch0).max()) if ch0.size else 0,
            "feature_status": "ok",
        }

    return row_kernel(
        media, ["media_id", "payload"], features, AUDIO_FEATURES_SCHEMA,
        errors=(DecodeError, NotImplementedError), status_col="feature_status",
    )


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Adapter for tests/benchmarks: treat document text bytes as an opaque
    payload so the multimodal path has real data to chew on."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text/plain").alias("mime_type"),
        F.col("text").cast("binary").alias("payload"),
    )


# --------------------------------------------------------------------------
# Lossy-codec (JPEG) band-stats path: the decoded raster is deterministic
# (pure-Python IEEE arithmetic) but NOT SQL-replayable (an IDCT in an
# oracle is not realistic), so the row follows the tolerance-band oracle
# convention (sketch_profile_lineitem): exact header facts (dims, channels,
# subsampling read from SOF) hash directly; pixel fidelity is asserted as
# booleans computed IN the kernel against the regenerated original raster,
# which the oracle replays as literal TRUE — a decode drift flips the
# boolean and fails the value hash loudly.
# --------------------------------------------------------------------------

JPEG_BAND_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("subsampling", StringType()),
        StructField("pixels_in_band", BooleanType()),
        StructField("sums_in_band", BooleanType()),
        StructField("decode_status", StringType()),
    ]
)

# Measured on the smooth synth raster: worst per-pixel abs err = 1 at both
# subsamplings with the all-ones quant tables. Bands carry 4× headroom for
# the color-transform corner cases a future image might hit; a REAL decoder
# bug (wrong zigzag, block placement, upsample layout, channel swap) shows
# errors of tens-to-hundreds and lands far outside.
JPEG_MAX_ABS_PIXEL_ERR = 4
JPEG_MAX_MEAN_CHANNEL_ERR = 2.0


def _band_errors(got: bytes, orig: bytes) -> tuple[int, bool, int]:
    """Exact fidelity-band inputs, vectorized (r9): per-pixel max abs error
    and whether every channel's abs sum delta stays within
    ``JPEG_MAX_MEAN_CHANNEL_ERR * n_px``. Pure integer ops — identical
    values to the former per-pixel generator loops, ~10× less kernel CPU."""
    g = np.frombuffer(got, dtype=np.uint8).astype(np.int64)
    o = np.frombuffer(orig, dtype=np.uint8).astype(np.int64)
    max_err = int(np.abs(g - o).max()) if g.size else 0
    n_px = g.size // 3
    sums_ok = all(
        abs(int(g[c::3].sum()) - int(o[c::3].sum()))
        <= JPEG_MAX_MEAN_CHANNEL_ERR * n_px
        for c in range(3)
    )
    return max_err, sums_ok, n_px


def jpeg_decode_band_stats(media: DataFrame) -> DataFrame:
    """:func:`row_kernel` REAL-JPEG-decode stage: parse each payload with the
    baseline decoder, regenerate the pre-encode raster from the media id
    (``synth_raster_smooth``) and emit header facts + fidelity-band
    booleans. Malformed payloads degrade to a status row (dead-letter
    semantics, same policy as the other decode stages)."""
    from .imagecodec import DecodeError
    from .jpegcodec import decode_jpeg

    def band_stats(media_id, payload):
        st = decode_jpeg(payload)
        w, h, orig = synth_raster_smooth(media_id)
        got = st["raster"]
        dims_ok = st["width"] == w and st["height"] == h and len(got) == len(orig)
        if dims_ok:
            max_err, sums_ok, _ = _band_errors(got, orig)
        else:
            max_err, sums_ok = None, False
        return {
            "width": st["width"],
            "height": st["height"],
            "channels": st["channels"],
            "subsampling": st["subsampling"],
            "pixels_in_band": bool(
                dims_ok and max_err is not None and max_err <= JPEG_MAX_ABS_PIXEL_ERR
            ),
            "sums_in_band": bool(dims_ok and sums_ok),
            "decode_status": "ok",
        }

    return row_kernel(
        media, ["media_id", "payload"], band_stats, JPEG_BAND_SCHEMA,
        errors=(DecodeError, NotImplementedError), status_col="decode_status",
    )


# --------------------------------------------------------------------------
# REAL video: AVI/MJPEG (NEW r8, operators/videocodec.py). Same adversarial
# encode→opaque-bytes→decode discipline as the image rows, and the same
# tolerance-band oracle convention as JPEG (MJPEG frames ARE baseline
# JPEGs): container facts (dims, frame count, fps, sampled indices) hash
# exactly; per-frame pixel fidelity is a kernel-computed band boolean vs
# the regenerated per-frame raster.
# --------------------------------------------------------------------------


def synth_video_raster(media_id: int, frame_index: int) -> tuple[int, int, bytes]:
    """Per-frame smooth raster: dims ``w = 8 + id%5``, ``h = 8 + id%3``
    (constant across a clip — AVI streams are fixed-dimension; smaller than
    the JPEG row's frames on purpose — the clip runs ~5 JPEG kernel passes
    per id and the NEW surface under test is the container, while MCU
    interleave is already exercised by jpeg_decode_stats: 16+ dims measured
    10.5 s at sf0.1, these 2.5-3x less), pixel
    ``(x, y, c)`` of frame ``f`` = ``(id*7 + f*53) % 29 + x*3 + y*2 + c*17``
    (max 169 < 255: smooth, band-tight — the JPEG-row design). The
    ``f*53`` frame term guarantees any two frames a sampler could confuse
    (Δf ∈ {1, 2}: 53 ≡ 24, 106 ≡ 19 mod 29) differ by ≥ 5 gray levels —
    strictly outside the ±4 band, so a wrong sampled index always flips
    ``pixels_in_band`` (a ``f*13`` term measured as close as 3)."""
    w, h = 8 + media_id % 5, 8 + media_id % 3
    base = (media_id * 7 + frame_index * 53) % 29
    vals = (
        base
        + 2 * np.arange(h)[:, None, None]
        + 3 * np.arange(w)[None, :, None]
        + 17 * np.arange(3)[None, None, :]
    )
    return w, h, vals.astype(np.uint8).tobytes()


def synthesize_avis(media_ids: DataFrame) -> DataFrame:
    """:func:`row_kernel` encode stage: one valid single-stream MJPEG AVI per id
    with ``2 + id%3`` frames; even ids encode frames 4:4:4, odd 4:2:0, so
    both MCU layouts cross the container path every round; fps = 12 + id%5
    exercises the dwRate/dwScale arithmetic."""
    from .importance import _widen
    from .jpegcodec import encode_jpeg
    from .videocodec import encode_avi_mjpeg

    def synth(media_id):
        frames = []
        w = h = 0
        for f in range(2 + media_id % 3):
            w, h, raster = synth_video_raster(media_id, f)
            frames.append(
                encode_jpeg(w, h, raster, subsampling="4:4:4" if media_id % 2 == 0 else "4:2:0")
            )
        payload = encode_avi_mjpeg(w, h, frames, fps=12 + media_id % 5)
        return {"mime_type": "video/x-msvideo", "payload": payload}

    # MJPEG = JPEG per frame: always above the cost-based widen threshold.
    return row_kernel(_widen(media_ids.select("media_id")), ["media_id"], synth, MEDIA_SCHEMA)


DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("dhash_hi", LongType()),
        StructField("dhash_lo", LongType()),
        StructField("hash_status", StringType()),
    ]
)

def decode_image_raster(payload: bytes) -> tuple[int, int, np.ndarray]:
    """REAL pixel decode for the perceptual-hash path: dispatch on the
    payload magic like :func:`decode_image`, but return the RASTER as an
    ``(h, w)`` int64 GRAYSCALE array instead of the stats dict. Grayscale
    is the repo's integer convention per channel layout: RGB and RGBA use
    ``(r+g+b) div 3`` (alpha excluded), gray and gray+alpha use the gray
    sample directly (``(v+v+v) div 3 == v``, the decode_png replication
    rule). Covers every format the repo decodes losslessly or lossily:
    PPM (P6/P3), 24-bit BMP, PNG at every legal depth/color type, GIF
    (first frame), and baseline/progressive JPEG. Anything else raises
    ``NotImplementedError`` (dead-letter at the kernel)."""
    from .gifcodec import decode_gif
    from .imagecodec import _png_raster, decode_bmp, decode_ppm
    from .jpegcodec import decode_jpeg

    if payload[:2] in (b"P6", b"P3"):
        st = decode_ppm(payload)
        w, h, ch, seq = st["width"], st["height"], 3, st["raster"]
    elif payload[:2] == b"BM":
        st = decode_bmp(payload)
        w, h, ch, seq = st["width"], st["height"], 3, st["raster"]
    elif payload[:8] == b"\x89PNG\r\n\x1a\n":
        w, h, ch, seq, _maxval = _png_raster(payload)
    elif payload[:6] in (b"GIF87a", b"GIF89a"):
        st = decode_gif(payload)
        w, h, ch, seq = st["width"], st["height"], 3, st["raster"]
    elif payload[:2] == b"\xff\xd8":
        st = decode_jpeg(payload)
        w, h, ch, seq = st["width"], st["height"], st["channels"], st["raster"]
    else:
        raise NotImplementedError(
            "H.264-class formats require a codec library; PPM, uncompressed "
            "BMP, PNG, GIF, and baseline/progressive JPEG decode here"
        )
    if isinstance(seq, (bytes, bytearray)):  # 8-bit rasters
        flat = np.frombuffer(seq, dtype=np.uint8).astype(np.int64)
    else:  # 16-bit PNGs (array('H')) and list-expanded color-key forms
        flat = np.asarray(seq, dtype=np.int64)
    arr = flat.reshape(h, w, ch) if ch > 1 else flat.reshape(h, w)
    if ch == 1:
        return w, h, arr
    if ch == 2:  # gray + alpha: hash the gray plane
        return w, h, arr[:, :, 0]
    return w, h, arr[:, :, :3].sum(axis=2) // 3  # RGB(A): alpha excluded


def perceptual_dhash(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) over REAL decoded images (r9;
    r10: EVERY decodable format via :func:`decode_image_raster`, not PPM
    only): decode the payload, integer grayscale, nearest-neighbor
    resample to the canonical 9×8 grid (the repo's floor-index
    convention, ``sx = dx·sw div 9``), one horizontal-gradient bit per
    cell pair — 64 bits packed MSB-first into two unsigned-32-bit values
    carried in signed int64 longs ``(dhash_hi, dhash_lo)`` so Hamming
    pairing stays in signed-int64 ``bit_count(xor)`` on BOTH engines. The
    standard near-duplicate IMAGE signal: crops/recompressions/brightness
    shifts that defeat byte hashing keep the gradient signs; because the
    hash is computed from decoded PIXELS, the same image stored as PPM,
    BMP, PNG or GIF hashes IDENTICALLY (pinned in tests). One
    :func:`row_kernel` stage, dead-letter rows on malformed/undecodable
    payloads (the media-path policy)."""
    from .imagecodec import DecodeError  # gif/jpeg codecs raise this same class

    def dhash(_media_id, payload):
        w, h, gray = decode_image_raster(payload)
        sub = gray[np.ix_((np.arange(8) * h) // 8, (np.arange(9) * w) // 9)]
        bits = (sub[:, 1:] > sub[:, :-1]).astype(np.int64).reshape(64)
        weights = np.int64(1) << (31 - np.arange(32, dtype=np.int64))
        return {
            "width": w,
            "height": h,
            "dhash_hi": int((bits[:32] * weights).sum()),
            "dhash_lo": int((bits[32:] * weights).sum()),
            "hash_status": "ok",
        }

    return row_kernel(
        media, ["media_id", "payload"], dhash, DHASH_SCHEMA,
        errors=(DecodeError, NotImplementedError), status_col="hash_status",
    )


def dhash_near_pairs(hashes: DataFrame, *, max_hamming: int = 3) -> DataFrame:
    """Hamming-banded pairing over :func:`perceptual_dhash` output — the
    SimHash recipe (operators/dedupe.simhash_near_pairs) at the image
    grain: 4 disjoint 16-bit bands per hash; by pigeonhole any pair within
    ``max_hamming <= 3`` bit flips shares at least one intact band, so the
    candidate join is an equi-join on (band index, band value) — never
    all-pairs — and the exact ``bit_count(xor)`` verify runs only on
    candidates. Returns ``(media_a, media_b, hamming)``."""
    if not 0 <= max_hamming <= 3:
        raise ValueError("4-band pigeonhole guarantees max_hamming <= 3 only")
    h = hashes.filter(F.col("hash_status") == "ok").select(
        "media_id", "dhash_hi", "dhash_lo"
    )
    bands = h.select(
        "media_id",
        "dhash_hi",
        "dhash_lo",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("b"), F.shiftright("dhash_hi", 16).bitwiseAND(F.lit(0xFFFF)).alias("v")),
                F.struct(F.lit(1).alias("b"), F.col("dhash_hi").bitwiseAND(F.lit(0xFFFF)).alias("v")),
                F.struct(F.lit(2).alias("b"), F.shiftright("dhash_lo", 16).bitwiseAND(F.lit(0xFFFF)).alias("v")),
                F.struct(F.lit(3).alias("b"), F.col("dhash_lo").bitwiseAND(F.lit(0xFFFF)).alias("v")),
            )
        ).alias("band"),
    )
    a = bands.select(
        F.col("band"),
        F.col("media_id").alias("media_a"),
        F.col("dhash_hi").alias("__ha"),
        F.col("dhash_lo").alias("__la"),
    )
    b = bands.select(
        F.col("band"),
        F.col("media_id").alias("media_b"),
        F.col("dhash_hi").alias("__hb"),
        F.col("dhash_lo").alias("__lb"),
    )
    return (
        a.join(b, "band")
        .filter(F.col("media_a") < F.col("media_b"))
        .select("media_a", "media_b", "__ha", "__la", "__hb", "__lb")
        .distinct()
        .withColumn(
            "hamming",
            (
                F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
                + F.bit_count(F.col("__la").bitwiseXOR(F.col("__lb")))
            ).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("media_a", "media_b", "hamming")
    )


def dhash_near_pairs_multiprobe(hashes: DataFrame, *, max_hamming: int = 7) -> DataFrame:
    """:func:`dhash_near_pairs` extended to ``Hamming <= 7`` by MULTI-PROBE
    banding (r10, the r9 verdict's optional recall extension): with 4
    disjoint 16-bit bands, <= 7 bit flips leave SOME band with <= 1 flip
    (pigeonhole: floor(7/4) = 1), so the probe side emits each band's value
    plus its 16 single-bit-flip variants (17 keys/band) and joins the other
    side's EXACT band values — complete for the threshold, proven against
    brute force in tests. One directional probe suffices: if a pair's band
    differs by exactly one bit, flipping that bit of A's value IS B's value.

    Cost shape vs the <= 3 row: probe-side rows ×17 (4·17 = 68 keys/image
    vs 4) and looser candidate buckets — the standard multi-probe LSH
    trade (Lv et al. 2007) of index fan-out for recall radius, still an
    equi-join, never all-pairs. Returns ``(media_a, media_b, hamming)``."""
    if not 0 <= max_hamming <= 7:
        raise ValueError(
            "4-band single-bit multi-probe guarantees max_hamming <= 7 only"
        )
    h = hashes.filter(F.col("hash_status") == "ok").select(
        "media_id", "dhash_hi", "dhash_lo"
    )
    band_vals = [
        F.struct(F.lit(0).alias("b"), F.shiftright("dhash_hi", 16).bitwiseAND(F.lit(0xFFFF)).alias("v")),
        F.struct(F.lit(1).alias("b"), F.col("dhash_hi").bitwiseAND(F.lit(0xFFFF)).alias("v")),
        F.struct(F.lit(2).alias("b"), F.shiftright("dhash_lo", 16).bitwiseAND(F.lit(0xFFFF)).alias("v")),
        F.struct(F.lit(3).alias("b"), F.col("dhash_lo").bitwiseAND(F.lit(0xFFFF)).alias("v")),
    ]
    exact = h.select(
        F.explode(F.array(*band_vals)).alias("band"),
        F.col("media_id").alias("media_b"),
        F.col("dhash_hi").alias("__hb"),
        F.col("dhash_lo").alias("__lb"),
    ).select("band.b", "band.v", "media_b", "__hb", "__lb")
    # probe side: each band value and its 16 single-bit flips, built as a
    # flat 68-struct literal-mask array (mask 0 keeps the exact key). The
    # array is generated as ONE SQL string for a single F.expr call: the
    # Column-API loop issued ~300 py4j round trips and cost ~1 s of pure
    # driver-side construction per invocation (measured, guide §7.3) for
    # the identical codegen'd plan.
    band_sql = [
        "(shiftright(dhash_hi, 16) & 65535)",
        "(dhash_hi & 65535)",
        "(shiftright(dhash_lo, 16) & 65535)",
        "(dhash_lo & 65535)",
    ]
    masks = [0] + [1 << i for i in range(16)]
    probe_structs = ",".join(
        f"named_struct('b', {b}, 'v', ({expr} ^ {mask}))"
        for b, expr in enumerate(band_sql)
        for mask in masks
    )
    probes = h.select(
        F.expr(f"explode(array({probe_structs}))").alias("probe"),
        F.col("media_id").alias("media_a"),
        F.col("dhash_hi").alias("__ha"),
        F.col("dhash_lo").alias("__la"),
    ).select("probe.b", "probe.v", "media_a", "__ha", "__la")
    return (
        probes.join(exact, ["b", "v"])
        .filter(F.col("media_a") < F.col("media_b"))
        .select("media_a", "media_b", "__ha", "__la", "__hb", "__lb")
        .distinct()
        .withColumn(
            "hamming",
            (
                F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
                + F.bit_count(F.col("__la").bitwiseXOR(F.col("__lb")))
            ).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("media_a", "media_b", "hamming")
    )


AVI_BAND_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_index", LongType()),
        StructField("n_frames_total", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("fps", LongType()),
        StructField("pixels_in_band", BooleanType()),
        StructField("sample_status", StringType()),
    ]
)


def avi_frame_band_stats(media: DataFrame, *, n_frames: int = 2) -> DataFrame:
    """:func:`row_kernel` REAL demux+decode stage: walk the RIFF container, verify
    idx1 against the movi scan, decode ONLY the ``n_frames`` sampled frames
    through the baseline JPEG codec, and band-check each against the
    regenerated ``synth_video_raster``. One output row per sampled frame;
    malformed payloads degrade to a status row (dead-letter semantics)."""
    from .imagecodec import DecodeError
    from .videocodec import demux_avi, sample_avi_frames

    def frame_bands(media_id, payload):
        info_rows = sample_avi_frames(payload, n_frames)
        fps = demux_avi(payload)["fps"]
        for fr in info_rows:
            w, h, orig = synth_video_raster(media_id, fr["frame_index"])
            got = fr["raster"]
            dims_ok = fr["width"] == w and fr["height"] == h and len(got) == len(orig)
            max_err = _band_errors(got, orig)[0] if dims_ok else None
            yield {
                "frame_index": fr["frame_index"],
                "n_frames_total": fr["n_frames_total"],
                "width": fr["width"],
                "height": fr["height"],
                "fps": fps,
                "pixels_in_band": bool(
                    dims_ok and max_err is not None and max_err <= JPEG_MAX_ABS_PIXEL_ERR
                ),
                "sample_status": "ok",
            }

    return row_kernel(
        media, ["media_id", "payload"], frame_bands, AVI_BAND_SCHEMA,
        errors=(DecodeError, NotImplementedError, ValueError), status_col="sample_status",
    )


AUDIO_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_index", LongType()),
        StructField("frame_energy", LongType()),
        StructField("frame_peak", LongType()),
        StructField("frame_status", StringType()),
    ]
)


def extract_audio_frames(media: DataFrame, *, window: int = 8, hop: int = 4) -> DataFrame:
    """Framed (short-time) audio features over decoded channel 0: the
    hop/window framing every speech/audio curation pipeline uses (VAD,
    silence trimming, loudness gating run per FRAME, not per clip — a clip
    whose average energy passes can still hide silent halves). One row per
    frame with exact-integer energy and peak, so the SQL oracle replays the
    framing arithmetic (frame f covers ch0 samples [f*hop, f*hop+window));
    clips shorter than one window emit zero rows. Scale: map-only kernel,
    one output row per frame — the 100 TB shape is identical to the image
    band rows."""
    from .audiocodec import DecodeError, decode_wav_samples

    def frames(_media_id, payload):
        _rate, nch, pcm = decode_wav_samples(payload)
        ch0 = pcm[0::nch]
        n = len(ch0)
        for f in range((n - window) // hop + 1 if n >= window else 0):
            fr = ch0[f * hop : f * hop + window]
            yield {
                "frame_index": f,
                "frame_energy": sum(v * v for v in fr),
                "frame_peak": max(abs(v) for v in fr),
                "frame_status": "ok",
            }

    return row_kernel(
        media, ["media_id", "payload"], frames, AUDIO_FRAME_SCHEMA,
        errors=(DecodeError, NotImplementedError), status_col="frame_status",
    )


def synthesize_gif_animations(media_ids: DataFrame) -> DataFrame:
    """:func:`row_kernel` encode stage: one animated GIF per id with ``2 + id%3``
    full frames from ``synth_video_raster`` (the AVI row's formula — the
    same clip in a lossless format, so this row's oracle is EXACT where
    AVI's is banded), NETSCAPE loop extension, per-frame GCE delays."""
    from .gifcodec import encode_gif_animation
    from .importance import _widen

    def synth(media_id):
        frames = [synth_video_raster(media_id, f)[2] for f in range(2 + media_id % 3)]
        w, h, _ = synth_video_raster(media_id, 0)
        payload = encode_gif_animation(w, h, frames, delay_cs=4 + media_id % 7)
        return {"mime_type": "image/gif", "payload": payload}

    return row_kernel(_widen(media_ids.select("media_id")), ["media_id"], synth, MEDIA_SCHEMA)


GIF_ANIM_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_index", LongType()),
        StructField("n_frames_total", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("sample_status", StringType()),
    ]
)


def gif_anim_frame_stats(media: DataFrame, *, n_frames: int = 2) -> DataFrame:
    """:func:`row_kernel` REAL animated-GIF sampling: iterate the LZW frames
    (compositing canvases — GIF frames are deltas), keep the evenly-spaced
    sample, and emit EXACT per-frame channel sums the formula oracle
    replays (lossless codec ⇒ exact hash, no band needed)."""
    from .gifcodec import sample_gif_frames
    from .imagecodec import DecodeError

    def frame_stats(_media_id, payload):
        for fr in sample_gif_frames(payload, n_frames):
            raster = fr["raster"]
            yield {
                "frame_index": fr["frame_index"],
                "n_frames_total": fr["n_frames_total"],
                "width": fr["width"],
                "height": fr["height"],
                "sum_r": sum(raster[0::3]),
                "sum_g": sum(raster[1::3]),
                "sum_b": sum(raster[2::3]),
                "sample_status": "ok",
            }

    return row_kernel(
        media, ["media_id", "payload"], frame_stats, GIF_ANIM_SCHEMA,
        errors=(DecodeError, NotImplementedError), status_col="sample_status",
    )
