"""WARC source — native Common-Crawl ingestion (ISO 28500 / WARC 1.1).

The north rule's input is "Iceberg tables of Common-Crawl-style web
pages"; upstream of that table sits the crawl archive itself: directories
of ``*.warc.gz`` files, one gzip member per record (the Common Crawl
layout, which is what makes per-record random access possible). The
reference's closest analogs are its S3 binary scan + JSONL manifest
sources (S1/S2, ``file_utils.py:19-50``, ``data/base.py:480-526``); WARC
is the Spark-first addition that lets this engine land the pages table
straight from a crawl without an external ETL step.

Plan shape: ``binaryFile`` scan (one row per archive file — the natural
parallel grain; Common Crawl ships ~1 GB files in the tens of thousands,
so a 1000-executor cluster is saturated by file count alone) → one
Arrow-batched ``mapInPandas`` stage that gunzips, walks records, keeps
``response``/``resource`` records, strips the HTTP envelope, and emits
rows in ``PAGES_INPUT_SCHEMA`` (url, warc_ts, html, text=NULL, lang=NULL
— ``text`` is this engine's *output*, computed by the extraction
pipeline).

Memory profile: decompression is **member-at-a-time**
(:func:`iter_gzip_members`, a ``zlib.decompressobj`` loop over the gzip
member chain). Because the Common-Crawl layout puts exactly one record
per gzip member, task memory for the decode stage is bounded by the
*largest single record* (~1 MB typical, spec-capped by crawler truncation
limits), NOT the ~5 GB a whole decompressed archive would occupy — only
the compressed blob (~1 GB, the ``binaryFile`` row) plus one record is
ever resident. Archives written as a single gzip member degrade
gracefully to whole-archive decompression (one "member" = everything),
which is the correctness-preserving worst case. Output rows are flushed
to Arrow in fixed-size chunks so the pandas staging buffer is bounded
too.

Everything is stdlib (``zlib``) — no third-party deps. The tests'
fixture writer (``tests/test_warc_source.py::write_warc_gz``) emits
spec-shaped member-per-record archives.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..operators.fused import skip_unchanged_zip_rereads
from ..schemas import PAGES_INPUT_SCHEMA

_CRLF = b"\r\n"
_KEEP_TYPES = {"response", "resource"}


def iter_gzip_members(raw: bytes) -> Iterator[bytes]:
    """Yield the decompressed bytes of each gzip member in ``raw``, one at
    a time — the streaming alternative to ``gzip.decompress`` (which
    materializes the whole ~4-5× expansion at once). In the Common-Crawl
    member-per-record layout each yield is exactly one WARC record, so
    peak decompressed residency = max record size, not archive size.

    Non-gzip input is yielded whole (uncompressed ``.warc``)."""
    if raw[:2] != b"\x1f\x8b":
        yield raw
        return
    # Compressed input is fed in fixed chunks (zero-copy memoryview
    # slices): ``unused_data`` after a member boundary is then at most one
    # chunk, so total work is O(archive) — handing zlib the whole
    # remaining buffer per member would copy the tail into unused_data
    # every iteration (O(members × archive)).
    chunk_sz = 1 << 18
    mv = memoryview(raw)
    pos, n = 0, len(raw)
    while pos < n:
        if raw[pos:pos + 2] != b"\x1f\x8b":
            break  # trailing garbage after the last member — done
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        parts = []
        feed = pos
        try:
            while not d.eof and feed < n:
                end = min(feed + chunk_sz, n)
                parts.append(d.decompress(mv[feed:end]))
                feed = end
        except zlib.error:
            if parts:
                yield b"".join(parts)
            return  # corrupt member: salvage its prefix, stop the walk
        yield b"".join(parts)
        if not d.eof:  # truncated final member: emitted what we got
            break
        pos = feed - len(d.unused_data)


def iter_warc_records(raw: bytes) -> Iterator[tuple[dict, bytes]]:
    """Walk a DEcompressed WARC stream → (headers, body) per record.

    Tolerant reader: headers are case-insensitively keyed, records with a
    bad/missing Content-Length resync by searching the next ``WARC/``
    magic (warn-don't-fail channel, SURVEY §4 — one mangled record must
    not sink a 1 GB archive)."""
    pos = 0
    n = len(raw)
    while pos < n:
        start = raw.find(b"WARC/", pos)
        if start < 0:
            return
        hdr_end = raw.find(_CRLF + _CRLF, start)
        if hdr_end < 0:
            return
        lines = raw[start:hdr_end].split(_CRLF)
        headers: dict[str, str] = {}
        for line in lines[1:]:
            k, sep, v = line.decode("utf-8", errors="replace").partition(":")
            if sep:
                headers[k.strip().lower()] = v.strip()
        body_start = hdr_end + 4
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            length = None
        if length is not None and body_start + length <= n:
            body = raw[body_start:body_start + length]
            pos = body_start + length
        else:
            # missing, non-numeric, or OVERSTATED length (one corrupt
            # digit must not sink the rest of a 1 GB archive): resync on
            # the next record magic and take what lies before it
            nxt = raw.find(b"WARC/", body_start)
            body = raw[body_start:nxt if nxt >= 0 else n]
            pos = nxt if nxt >= 0 else n
        yield headers, body


def strip_http_envelope(body: bytes, warc_type: str | None = "response") -> bytes:
    """``response`` record payloads are full HTTP messages; the page bytes
    start after the header block. ``resource`` records carry raw content
    and pass through unchanged — even when that raw content legitimately
    begins with ``HTTP/`` (the strip is gated on the record type, not a
    body-prefix sniff)."""
    if warc_type != "response":
        return body
    if body[:5] in (b"HTTP/", b"http/"):
        cut = body.find(_CRLF + _CRLF)
        if cut >= 0:
            return body[cut + 4:]
    return body


def parse_warc_date(value: str | None) -> datetime | None:
    """WARC-Date (ISO 8601, UTC) → tz-naive UTC datetime (the session
    timezone convention; the input hint's ``warc_ts:timestamp``)."""
    if not value:
        return None
    try:
        dt = datetime.fromisoformat(value.replace("Z", "+00:00"))
        if dt.tzinfo is not None:
            dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
        return dt
    except ValueError:
        return None


def records_to_page_rows(raw: bytes) -> Iterator[dict]:
    """Decompressed WARC bytes → PAGES_INPUT_SCHEMA-shaped dicts (only
    ``response``/``resource`` records that carry a target URI)."""
    for headers, body in iter_warc_records(raw):
        if headers.get("warc-type") not in _KEEP_TYPES:
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        yield {
            "url": url,
            "warc_ts": parse_warc_date(headers.get("warc-date")),
            "html": strip_http_envelope(body, headers.get("warc-type")),
            "text": None,
            "lang": None,
        }


def read_warc(spark: SparkSession, path: str,
              glob: str = "*.warc.gz") -> DataFrame:
    """Directory of WARC archives → pages DataFrame (PAGES_INPUT_SCHEMA).

    One input row (= one archive file) per task is the parallel grain;
    the output row explosion happens inside the Arrow stage, so no
    shuffle exists anywhere on this path — scale = executors × files.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path", "content")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        cols = [f.name for f in PAGES_INPUT_SCHEMA]
        flush_rows = 512  # bound the pandas staging buffer, not just zlib
        for b in batches:
            for content in b["content"]:
                rows: list[dict] = []
                # member-at-a-time: peak decompressed residency = one
                # record (Common-Crawl layout), not the whole archive
                for member in iter_gzip_members(bytes(content)):
                    rows.extend(records_to_page_rows(member))
                    if len(rows) >= flush_rows:
                        yield pd.DataFrame(rows, columns=cols)
                        rows = []
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(run, schema=PAGES_INPUT_SCHEMA)
