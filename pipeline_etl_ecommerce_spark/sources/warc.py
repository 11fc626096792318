"""WARC (ISO 28500) record source — the on-disk format of web-scale
training corpora (Common Crawl ships WARC/WET/WAT; a 100 TB text pipeline's
first stage is exactly this parse).

Dependency-free and strict, same discipline as the image/audio codecs:
- records are ``WARC/1.0`` header blocks (CRLF line endings, ``Name: value``
  fields) followed by exactly ``Content-Length`` payload bytes and the
  mandatory ``\\r\\n\\r\\n`` record separator — declared lengths are
  enforced against the buffer (the RIFF lesson: never slice-and-tolerate);
- the Common Crawl layout stores EACH RECORD as its own gzip member,
  concatenated — the reader sniffs the 0x1f8b magic and inflates members
  sequentially with ``zlib`` (wbits=31), so a stream is either wholly
  member-gzipped or plain, per file, exactly like the real corpus;
- unknown header fields are preserved (parsed by name, not offset).

Spark integration is the established two-stage synth → parse shape: the
parse stage receives opaque bytes it must genuinely decode, one Arrow batch
at a time, map-only (``parse_warc_streams``, on the media path's shared
``multimodal.row_kernel``). At scale each input row is
one WARC file (or byte-range split) and record fan-out happens inside the
kernel — no shuffle until whatever aggregation follows.

Reference parity: the reference pipeline has no web-corpus source (its
ingest is REST/JSON/MySQL, SURVEY.md §2.1); this module is part of the
LLM-data extension surface the brief requires.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.multimodal import MEDIA_SCHEMA, row_kernel


class WarcError(ValueError):
    """Malformed WARC framing (bad version line, missing Content-Length,
    truncated payload, bad record separator, corrupt gzip member)."""


_CRLF = b"\r\n"
_GZIP_MAGIC = b"\x1f\x8b"


def encode_warc_record(
    record_id: str,
    warc_type: str,
    target_uri: str,
    payload: bytes,
    *,
    gzip_member: bool = False,
) -> bytes:
    """One spec-shaped record: WARC/1.0 version line, the core named
    fields, Content-Length framing, trailing double-CRLF. With
    ``gzip_member`` the record is wrapped as its own gzip member (the
    Common Crawl file layout)."""
    head = (
        b"WARC/1.0\r\n"
        + f"WARC-Type: {warc_type}\r\n".encode()
        + f"WARC-Record-ID: <urn:uuid:{record_id}>\r\n".encode()
        + f"WARC-Target-URI: {target_uri}\r\n".encode()
        + f"Content-Length: {len(payload)}\r\n".encode()
        + b"\r\n"
    )
    raw = head + payload + b"\r\n\r\n"
    if gzip_member:
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        return co.compress(raw) + co.flush()
    return raw


def _inflate_members(stream: bytes) -> bytes:
    """Concatenated gzip members → concatenated plaintext, strictly: each
    member must terminate, trailing garbage that is not another member
    raises."""
    out = []
    buf = stream
    while buf:
        if buf[:2] != _GZIP_MAGIC:
            raise WarcError("warc: trailing bytes after last gzip member")
        d = zlib.decompressobj(31)
        try:
            out.append(d.decompress(buf))
        except zlib.error as e:
            raise WarcError("warc: corrupt gzip member") from e
        if not d.eof:
            raise WarcError("warc: truncated gzip member")
        buf = d.unused_data
    return b"".join(out)


def iter_warc_records(stream: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield ``(headers, payload)`` per record. Accepts either a plain
    concatenation of records or the member-gzipped layout (sniffed from
    the first two bytes)."""
    if stream[:2] == _GZIP_MAGIC:
        stream = _inflate_members(stream)
    pos, n = 0, len(stream)
    while pos < n:
        end = stream.find(_CRLF + _CRLF, pos)
        if end < 0:
            raise WarcError("warc: unterminated header block")
        lines = stream[pos:end].split(_CRLF)
        if not lines or not lines[0].startswith(b"WARC/"):
            raise WarcError("warc: missing WARC version line")
        if lines[0] not in (b"WARC/1.0", b"WARC/1.1"):
            raise WarcError(f"warc: unsupported version {lines[0]!r}")
        headers: dict[str, str] = {}
        for ln in lines[1:]:
            k, sep, v = ln.partition(b": ")
            if not sep:
                raise WarcError(f"warc: malformed header line {ln!r}")
            headers[k.decode("ascii")] = v.decode("utf-8", "replace")
        if "Content-Length" not in headers:
            raise WarcError("warc: record missing Content-Length")
        try:
            length = int(headers["Content-Length"])
        except ValueError as e:
            raise WarcError("warc: non-integer Content-Length") from e
        if length < 0:
            raise WarcError("warc: negative Content-Length")
        body_start = end + 4
        body_end = body_start + length
        if body_end + 4 > n:
            raise WarcError("warc: payload crosses stream end")
        if stream[body_end : body_end + 4] != _CRLF + _CRLF:
            raise WarcError("warc: missing record separator after payload")
        yield headers, stream[body_start:body_end]
        pos = body_end + 4


WARC_RECORD_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("record_index", LongType()),
        StructField("warc_type", StringType()),
        StructField("target_uri", StringType()),
        StructField("content_length", LongType()),
        StructField("payload_hash", StringType()),
        StructField("compressed", LongType()),
        StructField("parse_status", StringType()),
    ]
)


def parse_warc_streams(media: DataFrame) -> DataFrame:
    """REAL-parse stage over binary WARC streams (one ``row_kernel`` stage):
    one output row per record (type, URI, declared length, payload md5,
    whether the stream arrived member-gzipped). Malformed streams degrade
    to a status row after the records parsed before the fault (dead-letter
    semantics, same policy as the image/audio paths); the row keeps
    ``compressed`` and the error message."""

    def records(_media_id, raw):
        compressed = 1 if raw[:2] == _GZIP_MAGIC else 0
        try:
            for idx, (headers, body) in enumerate(iter_warc_records(raw)):
                yield {
                    "record_index": idx,
                    "warc_type": headers.get("WARC-Type"),
                    "target_uri": headers.get("WARC-Target-URI"),
                    "content_length": len(body),
                    "payload_hash": hashlib.md5(body).hexdigest(),
                    "compressed": compressed,
                    "parse_status": "ok",
                }
        except WarcError as e:
            yield {"compressed": compressed, "parse_status": f"error: {e}"[:120]}

    return row_kernel(media, ["media_id", "payload"], records, WARC_RECORD_SCHEMA)


def synthesize_warc_streams(media_ids: DataFrame) -> DataFrame:
    """Synth stage: per id, a valid multi-record WARC stream built from the
    SQL-replayable formula — ``2 + id%3`` records, record ``j`` carrying a
    ``20 + (id+j)%15``-char lowercase payload ``chr(97 + (id*43 + j*17 +
    i*7) % 26)``; even ids arrive as per-record gzip members (the Common
    Crawl layout), odd ids plain. The parse stage sees only opaque bytes."""

    def synth(mid):
        parts = []
        for j in range(2 + mid % 3):
            length = 20 + (mid + j) % 15
            body = bytes(97 + (mid * 43 + j * 17 + i * 7) % 26 for i in range(length))
            parts.append(
                encode_warc_record(
                    f"{mid:08d}-{j:04d}",
                    "response" if j % 2 == 0 else "request",
                    f"http://example.com/{mid}/{j}",
                    body,
                    gzip_member=mid % 2 == 0,
                )
            )
        return {"mime_type": "application/warc", "payload": b"".join(parts)}

    return row_kernel(media_ids, ["media_id"], synth, MEDIA_SCHEMA)


# --------------------------------------------------------------------------
# Web-ingest composition (r8): WARC response records carrying HTML bodies,
# parsed to page grain for operators/webtext.py — the full Common-Crawl
# ingest path (WARC framing → record walk → HTML body → text extraction →
# URL canonicalization) as one composed, oracle-checkable pipeline.
# --------------------------------------------------------------------------

WARC_PAGE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("record_index", LongType()),
        StructField("target_uri", StringType()),
        StructField("html", StringType()),
        StructField("parse_status", StringType()),
    ]
)


def parse_warc_pages(media: DataFrame) -> DataFrame:
    """Page-grain parse (one ``row_kernel`` stage): one row per RESPONSE
    record with the decoded HTML body (UTF-8, replacement on invalid bytes
    — dead-letter stays row-level like the other media parsers)."""

    def pages(_media_id, raw):
        try:
            for idx, (headers, body) in enumerate(iter_warc_records(raw)):
                if headers.get("WARC-Type") == "response":
                    yield {
                        "record_index": idx,
                        "target_uri": headers.get("WARC-Target-URI"),
                        "html": body.decode("utf-8", errors="replace"),
                        "parse_status": "ok",
                    }
        except WarcError as e:
            yield {"parse_status": f"error: {e}"[:120]}

    return row_kernel(media, ["media_id", "payload"], pages, WARC_PAGE_SCHEMA)


def synthesize_warc_html_streams(media_ids: DataFrame) -> DataFrame:
    """Synth stage: per id, ``2 + id%3`` RESPONSE records whose bodies are
    small HTML pages built from the SQL-replayable formula — body text
    ``chr(97 + (id*43 + j*17 + i*7) % 26)`` over ``20 + (id+j)%15`` chars
    wrapped in h1/p/script markup, URI carrying an uppercase host, a :80
    default port and a utm param (so the canonicalizer has real work).
    Even ids arrive as per-record gzip members, odd plain."""

    def synth(mid):
        parts = []
        for j in range(2 + mid % 3):
            length = 20 + (mid + j) % 15
            text = "".join(chr(97 + (mid * 43 + j * 17 + i * 7) % 26) for i in range(length))
            html = (
                f"<html><body><h1>Page {mid}/{j}</h1><p>{text}</p>"
                "<script>var hidden = 1;</script></body></html>"
            )
            parts.append(
                encode_warc_record(
                    f"{mid:08d}-{j:04d}",
                    "response",
                    f"http://Example.com:80/p/{mid}?id={j}&utm_x=1",
                    html.encode("utf-8"),
                    gzip_member=mid % 2 == 0,
                )
            )
        return {"mime_type": "application/warc", "payload": b"".join(parts)}

    return row_kernel(media_ids, ["media_id"], synth, MEDIA_SCHEMA)
