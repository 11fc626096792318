"""Dependency-free audio codec: RIFF/WAVE PCM (16-bit LE, mono or stereo).

Same contract as :mod:`.imagecodec` — a REAL decoder for a public on-disk
format (the Microsoft RIFF container with a ``fmt `` chunk and interleaved
PCM ``data``), no audio library, so the multimodal path has a genuinely
executable audio kernel in this sandbox. Reference parity: the reference
pipeline has no media path at all (`tarefa_consolidar_dados.php` is pure
tabular); this module is part of the LLM-data extension surface.

The parser is a proper chunk walk, not fixed offsets: it skips unknown
chunks (JUNK/LIST/...), honors RIFF's odd-size pad byte, and validates the
``fmt `` contract (PCM format tag 1, 16-bit, block-align consistency) —
the synthetic payloads deliberately lead with an odd-sized JUNK chunk so a
decoder that assumes ``fmt `` at byte 12 or forgets padding misaligns and
fails loudly.

Decode output is exact-integer sample statistics (frame count, per-channel
sums, peak amplitude, first sample) rather than waveforms: the stats are
what an audio-curation pipeline filters on (silence/clipping detection),
they are interleaving-sensitive enough to prove channel de-interleaving,
and they hash stably for the DuckDB oracle.

Scale note: per-payload and allocation-light (one ``array('h')`` bulk
parse, channel sums via slice strides), sized for the Arrow-batched
``multimodal.row_kernel`` stages, where the payload column is projected away
after this stage.
"""

from __future__ import annotations

import struct
import sys
from array import array
from collections.abc import Sequence

from .imagecodec import DecodeError

__all__ = ["DecodeError", "decode_wav", "encode_wav"]


def encode_wav(
    sample_rate: int,
    channels: int,
    samples: Sequence[int],
    *,
    junk: bytes = b"odd!!",
) -> bytes:
    """Build a valid RIFF/WAVE file: ``RIFF`` header, an odd-sized ``JUNK``
    filler chunk (pad-byte handling is part of the format), ``fmt `` (PCM,
    16-bit), then interleaved LE ``data``. ``samples`` is the interleaved
    int16 stream (frame f, channel c at index ``f * channels + c``)."""
    if channels < 1:
        raise ValueError("encode_wav: channels must be >= 1")
    if len(samples) % channels:
        raise ValueError("encode_wav: sample count not a multiple of channels")
    data = array("h", samples)
    if sys.byteorder == "big":
        data.byteswap()
    payload = data.tobytes()
    block_align = channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align, block_align, 16
    )
    chunks = b""
    for cid, body in ((b"JUNK", junk), (b"fmt ", fmt), (b"data", payload)):
        chunks += cid + struct.pack("<I", len(body)) + body
        if len(body) & 1:
            chunks += b"\x00"  # RIFF: chunks are word-aligned via a pad byte
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav_samples(payload: bytes) -> tuple[int, int, "array"]:
    """Parse a RIFF/WAVE PCM-16 payload to ``(sample_rate, channels,
    interleaved int16 samples)`` — the raster-level twin of
    :func:`decode_wav` for feature-extraction stages that need the
    waveform itself (energy, zero-crossing rate), sharing the same strict
    chunk walk. Same error contract as :func:`decode_wav`."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise DecodeError("wav: not a RIFF/WAVE payload")
    riff_size = struct.unpack("<I", payload[4:8])[0]
    end = 8 + riff_size
    if end > len(payload):
        raise DecodeError("wav: RIFF size exceeds payload")
    fmt = None
    data = None
    i = 12
    while i + 8 <= end:
        cid = payload[i : i + 4]
        size = struct.unpack("<I", payload[i + 4 : i + 8])[0]
        if i + 8 + size > end:
            # Bound the body by the declared RIFF end, not the buffer: a chunk
            # crossing the container boundary must not consume trailing bytes.
            raise DecodeError(f"wav: {cid!r} chunk crosses the RIFF boundary")
        body = payload[i + 8 : i + 8 + size]
        if len(body) < size:
            raise DecodeError(f"wav: truncated {cid!r} chunk")
        if cid == b"fmt " and fmt is None:
            if size < 16:
                raise DecodeError("wav: fmt chunk shorter than 16 bytes")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data" and data is None:
            data = body
        i += 8 + size + (size & 1)  # odd chunks carry one pad byte
    if fmt is None or data is None:
        raise DecodeError("wav: missing fmt or data chunk")
    audio_format, channels, sample_rate, _byte_rate, block_align, bits = fmt
    if audio_format != 1:
        raise NotImplementedError(
            f"wav: compressed format tag {audio_format} requires a codec library; "
            "only PCM decodes in this environment"
        )
    if bits != 16:
        raise NotImplementedError("wav: only 16-bit PCM decodes in this environment")
    if channels < 1 or block_align != channels * 2:
        raise DecodeError("wav: inconsistent fmt (block align vs channels)")
    if len(data) % block_align:
        raise DecodeError("wav: data chunk is not a whole number of frames")
    pcm = array("h")
    pcm.frombytes(data)
    if sys.byteorder == "big":
        pcm.byteswap()
    return sample_rate, channels, pcm


def decode_wav(payload: bytes) -> dict:
    """Parse a RIFF/WAVE PCM-16 payload into exact-integer stats.

    Returns ``sample_rate``, ``channels``, ``bits``, ``n_frames``,
    ``sum_all`` (every sample), ``sum_ch0``/``sum_ch1`` (per-channel sums;
    ``sum_ch1`` is None for mono), ``peak_abs`` (max |sample|), and
    ``first_sample``. Raises :class:`DecodeError` on malformed input and
    NotImplementedError for non-PCM or non-16-bit streams (those genuinely
    need a decoder library)."""
    sample_rate, channels, pcm = decode_wav_samples(payload)
    n = len(pcm)
    return {
        "sample_rate": sample_rate,
        "channels": channels,
        "bits": 16,
        "n_frames": n // channels,
        "sum_all": sum(pcm),
        "sum_ch0": sum(pcm[0::channels]) if n else 0,
        "sum_ch1": (sum(pcm[1::channels]) if channels > 1 else None),
        "peak_abs": max((abs(s) for s in pcm), default=0),
        "first_sample": pcm[0] if n else None,
    }
