"""WARC source connector — the raw Common-Crawl container.

The pipeline's canonical input is an Iceberg/parquet pages table
(url, warc_ts, html, ...), but the upstream artifact a crawl actually
ships is WARC: concatenated records, each individually gzipped (the
member-per-record convention that makes *.warc.gz randomly seekable
by offset).  ``read_warc`` turns a directory of WARC files into that
pages DataFrame so the KG job can start from the raw dump:

- file-level parallelism (``binaryFile`` source, one task per WARC
  file) — the Common-Crawl layout is ~1 GB per file and tens of
  thousands of files per crawl, so file granularity IS the right
  partitioning at 100 TB; no shuffle, records fan out inside the
  Arrow batch;
- only ``WARC-Type: response`` records become rows (request /
  warcinfo / metadata records are skipped, like every CC consumer);
- the HTTP envelope is stripped: the row's ``html`` is the HTTP body.

Parsing is pure stdlib (gzip members via zlib, headers via bytes
splits).  A writer builds fixtures; corrupt members/records raise
ValueError; ``expand_warc_records``' ``corrupt`` policy decides whether
that fails the task or ends the file.
"""

from __future__ import annotations

import datetime as dt
import gzip
import zlib
from typing import Iterator, List, Tuple

_CRLF2 = b"\r\n\r\n"


# ---------------------------------------------------------------------------
# writer (fixtures)
# ---------------------------------------------------------------------------

def encode_warc_gz(records: List[Tuple[str, dt.datetime, bytes]]) -> bytes:
    """(url, warc_ts, html_bytes) rows -> *.warc.gz bytes: one gzip
    MEMBER per record (the CC seekability convention), each record a
    WARC/1.0 response wrapping a minimal HTTP/1.1 200 response."""
    out = bytearray()
    for url, ts, html in records:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Length: " + str(len(html)).encode() + _CRLF2 + html
        )
        hdr = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Target-URI: " + url.encode() + b"\r\n"
            b"WARC-Date: " + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode() + b"\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(http)).encode() + _CRLF2
        )
        # mtime=0: no write time in the member header, so the same
        # records always encode to the same bytes
        out += gzip.compress(hdr + http + _CRLF2, mtime=0)
    return bytes(out)


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------

def _gzip_members(payload: bytes) -> Iterator[bytes]:
    """Yield each gzip member of a multi-member stream.  The input is
    wrapped in a memoryview so the per-member tail slice is O(1) — a
    1 GB CC file has ~50k members, and a bytes slice per member would
    be quadratic memcpy."""
    view = memoryview(payload)
    pos = 0
    while pos < len(view):
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        try:
            member = d.decompress(view[pos:])
        except zlib.error as exc:
            raise ValueError(f"bad gzip member at offset {pos}: {exc}") from exc
        if not d.eof:
            raise ValueError(f"truncated gzip member at offset {pos}")
        yield member
        consumed = len(view) - pos - len(d.unused_data)
        if consumed <= 0:
            raise ValueError("gzip member consumed no bytes")
        pos += consumed


def _split_records(chunks: Iterator[bytes]) -> Iterator[tuple[dict, bytes]]:
    """(headers, block) per WARC record from a chunk stream.  Records
    are parsed as soon as they are complete in the buffer — with the
    CC member-per-record convention the buffer never holds more than
    one record, but records spanning chunk boundaries are handled (the
    WARC spec does not forbid them)."""
    buf = bytearray()
    for chunk in chunks:
        buf += chunk
        while True:
            # tolerate leading record-separator CRLFs (they may arrive
            # in a later chunk than the record they terminate)
            start = 0
            while buf.startswith(b"\r\n", start):
                start += 2
            if start:
                del buf[:start]
            head_end = buf.find(_CRLF2)
            if head_end < 0:
                break
            if not buf.startswith(b"WARC/"):
                raise ValueError("missing WARC/ record header")
            headers: dict = {}
            for line in bytes(buf[:head_end]).split(b"\r\n")[1:]:
                k, _, v = line.partition(b":")
                headers[k.strip().lower().decode("utf-8", "replace")] = (
                    v.strip().decode("utf-8", "replace")
                )
            try:
                length = int(headers["content-length"])
            except (KeyError, ValueError) as exc:
                raise ValueError("WARC record missing Content-Length") from exc
            if length < 0:
                # a corrupt negative length would otherwise slice an
                # empty body, delete nothing from the buffer and loop
                # forever yielding the same record
                raise ValueError(f"negative WARC Content-Length {length}")
            body_start = head_end + len(_CRLF2)
            if body_start + length > len(buf):
                break  # body not complete yet; wait for more chunks
            yield headers, bytes(buf[body_start : body_start + length])
            del buf[: body_start + length]
    if buf.strip(b"\r\n"):
        raise ValueError("truncated WARC record at end of payload")


def _http_body(block: bytes) -> bytes:
    split = block.find(_CRLF2)
    return block[split + len(_CRLF2):] if split >= 0 else block


def iter_warc(payload: bytes) -> Iterator[Tuple[str, dt.datetime, bytes]]:
    """Stream (url, warc_ts, html_bytes) response rows out of
    *.warc(.gz) bytes — one record in flight at a time (the CC
    member-per-record layout decompresses and parses incrementally);
    non-response records are skipped.  warc_ts is UTC-aware
    (WARC-Date is defined as UTC)."""
    chunks = (
        _gzip_members(payload)
        if payload[:2] == b"\x1f\x8b"
        else iter((payload,))
    )
    for headers, block in _split_records(chunks):
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        date = headers.get("warc-date")
        if not url or not date:
            raise ValueError("response record missing URI/Date")
        ts = dt.datetime.strptime(date[:19], "%Y-%m-%dT%H:%M:%S").replace(
            tzinfo=dt.timezone.utc
        )
        yield url, ts, _http_body(block)


def parse_warc(payload: bytes) -> List[Tuple[str, dt.datetime, bytes]]:
    """Materialized iter_warc (small payloads / tests)."""
    return list(iter_warc(payload))


def expand_warc_records(files, schema, corrupt: str):
    """binaryFile rows -> one ``schema`` row per WARC response record:
    (url, warc_ts, html), then null for every further field of
    ``schema``.  Records stream out of iter_warc inside one
    ``crossing.fan_out`` and leave in bounded batches, so a 1 GB crawl
    file never becomes one batch.

    ``corrupt``: ``"fail"`` — a bad byte fails the task — or
    ``"skip"`` — keep every record parsed before the first bad byte of
    a file and drop the rest of THAT file only (the fuzz gate pins
    that parse errors are always ValueError, so "skip" can't mask a
    programming bug)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField

    from ..operators.crossing import fan_out

    def records(content):
        try:
            for url, ts, html in iter_warc(content):
                yield url, int(ts.timestamp()) * 1_000_000, html  # whole seconds
        except ValueError:
            if corrupt == "fail":
                raise
            # "skip": the rest of this file; prior records kept

    fields = [schema["url"], StructField("warc_us", LongType(), False), schema["html"]]
    return fan_out(files, (), ("content",), records, fields).select(
        "url", "warc_ts", "html",
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields[3:]],
    )


def read_warc(spark, path: str, corrupt: str = "fail"):
    """Directory (or glob) of *.warc / *.warc.gz files -> DataFrame
    (url, warc_ts, html).  One input task per FILE (binaryFile
    source); records fan out inside the Arrow batch, so the only
    parallelism knob is the file count — exactly the Common-Crawl
    layout's contract.  html carries the HTTP response body bytes.

    ``corrupt``: ``"fail"`` (default, strict) or ``"skip"`` (see
    expand_warc_records) — at crawl scale some files WILL be truncated
    and one of them must not kill a 100 TB ingest."""
    if corrupt not in ("fail", "skip"):
        raise ValueError(f"corrupt must be 'fail' or 'skip', got {corrupt!r}")
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("url", StringType(), False),
            StructField("warc_ts", TimestampType(), False),
            StructField("html", BinaryType(), False),
        ]
    )
    files = spark.read.format("binaryFile").load(path)
    return expand_warc_records(files, schema, corrupt)
