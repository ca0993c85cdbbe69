"""WARC source (sources/warc.py): record walking, envelope stripping,
date parsing, and the end-to-end Common-Crawl-shaped path — fixture
.warc.gz → read_warc → extraction pipeline → byte-identical text."""

from __future__ import annotations

import gzip
import io
from datetime import datetime

from amazon_textract_transformer_pipeline_spark.sources import synthetic_pages_df
from amazon_textract_transformer_pipeline_spark.sources.warc import (
    iter_warc_records,
    parse_warc_date,
    read_warc,
    records_to_page_rows,
    strip_http_envelope,
)

_CRLF = b"\r\n"


def write_warc_gz(path: str, pages: list[dict],
                  with_request_records: bool = True) -> None:
    """Fixture writer: member-per-record ``.warc.gz`` exactly like the
    Common Crawl layout (each record its own gzip member). ``pages`` rows:
    {url, date: datetime, html: bytes}. Also emits the non-page record
    types a real crawl interleaves (warcinfo, request) so readers must
    actually filter."""

    def record(rtype: str, headers: dict[str, str], body: bytes) -> bytes:
        head = [b"WARC/1.0",
                f"WARC-Type: {rtype}".encode()]
        head += [f"{k}: {v}".encode() for k, v in headers.items()]
        head.append(f"Content-Length: {len(body)}".encode())
        return _CRLF.join(head) + _CRLF + _CRLF + body + _CRLF + _CRLF

    out = io.BytesIO()
    info = b"software: attp-spark-fixture\r\n"
    out.write(gzip.compress(record("warcinfo", {
        "Content-Type": "application/warc-fields"}, info)))
    for i, p in enumerate(pages):
        date = p["date"].strftime("%Y-%m-%dT%H:%M:%SZ")
        common = {"WARC-Target-URI": p["url"], "WARC-Date": date,
                  "WARC-Record-ID": f"<urn:uuid:fixture-{i}>"}
        if with_request_records:
            req = (b"GET / HTTP/1.1\r\nHost: fixture\r\n\r\n")
            out.write(gzip.compress(record("request", {
                **common, "Content-Type":
                    "application/http; msgtype=request"}, req)))
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; "
                b"charset=utf-8\r\n\r\n" + p["html"])
        out.write(gzip.compress(record("response", {
            **common, "Content-Type":
                "application/http; msgtype=response"}, http)))
    with open(path, "wb") as f:
        f.write(out.getvalue())


def test_warc_record_walk_and_resync():
    good = (b"WARC/1.0\r\nWARC-Type: resource\r\n"
            b"WARC-Target-URI: http://a/\r\nContent-Length: 5\r\n\r\n"
            b"hello\r\n\r\n")
    # middle record lies about its length -> reader resyncs on next magic
    bad = (b"WARC/1.0\r\nWARC-Type: resource\r\n"
           b"WARC-Target-URI: http://b/\r\nContent-Length: oops\r\n\r\n"
           b"junkjunk\r\n\r\n")
    tail = (b"WARC/1.0\r\nWARC-Type: resource\r\n"
            b"WARC-Target-URI: http://c/\r\nContent-Length: 3\r\n\r\n"
            b"bye\r\n\r\n")
    recs = list(iter_warc_records(good + bad + tail))
    assert [r[0]["warc-target-uri"] for r in recs] == \
        ["http://a/", "http://b/", "http://c/"]
    assert recs[0][1] == b"hello" and recs[2][1] == b"bye"

    rows = list(records_to_page_rows(good + bad + tail))
    assert [r["url"] for r in rows] == ["http://a/", "http://b/", "http://c/"]


def test_http_envelope_and_date():
    body = b"HTTP/1.1 200 OK\r\nX: y\r\n\r\n<html>hi</html>"
    assert strip_http_envelope(body) == b"<html>hi</html>"
    raw = b"<html>raw resource</html>"
    assert strip_http_envelope(raw) == raw  # resource records pass through

    assert parse_warc_date("2026-01-15T10:00:00Z") == datetime(2026, 1, 15, 10)
    assert parse_warc_date("2026-01-15T12:00:00+02:00") == \
        datetime(2026, 1, 15, 10)  # normalized to UTC, tz-naive
    assert parse_warc_date("not-a-date") is None
    assert parse_warc_date(None) is None


def test_read_warc_end_to_end_byte_identical(spark, tmp_path):
    """Synthetic pages → member-per-record .warc.gz fixtures (2 archives,
    interleaved warcinfo/request records) → read_warc → extraction →
    extracted_text byte-identical to the synthetic oracle text."""
    from amazon_textract_transformer_pipeline_spark.operators.assembly import (
        assemble_text,
    )
    from amazon_textract_transformer_pipeline_spark.operators.frontend import (
        html_to_words,
    )

    src = synthetic_pages_df(spark, 24, seed=11).collect()
    half = len(src) // 2
    for ix, chunk in enumerate((src[:half], src[half:])):
        write_warc_gz(
            str(tmp_path / f"part-{ix}.warc.gz"),
            [{"url": r.url, "date": r.warc_ts or datetime(2026, 1, 15),
              "html": bytes(r.html)} for r in chunk],
        )

    pages = read_warc(spark, str(tmp_path))
    got = pages.select("url", "warc_ts", "html").collect()
    assert len(got) == len(src)  # request/warcinfo records filtered out
    by_url = {r.url: r for r in got}
    sample = src[0]
    assert bytes(by_url[sample.url].html) == bytes(sample.html)

    out = assemble_text(html_to_words(pages)).join(
        spark.createDataFrame([(r.url, r.text) for r in src],
                              "url: string, text: string"), "url")
    assert out.count() == len(src)
    assert out.filter("extracted_text <> text").count() == 0


def test_warc_overstated_length_resyncs():
    """A numerically wrong (too large) Content-Length must not swallow the
    rest of the archive — reader resyncs on the next record magic."""
    good = (b"WARC/1.0\r\nWARC-Type: resource\r\n"
            b"WARC-Target-URI: http://a/\r\nContent-Length: 5\r\n\r\n"
            b"hello\r\n\r\n")
    liar = (b"WARC/1.0\r\nWARC-Type: resource\r\n"
            b"WARC-Target-URI: http://b/\r\nContent-Length: 5000\r\n\r\n"
            b"tiny\r\n\r\n")
    tail = (b"WARC/1.0\r\nWARC-Type: resource\r\n"
            b"WARC-Target-URI: http://c/\r\nContent-Length: 3\r\n\r\n"
            b"bye\r\n\r\n")
    rows = list(records_to_page_rows(good + liar + tail))
    assert [r["url"] for r in rows] == ["http://a/", "http://b/", "http://c/"]
    assert bytes(rows[2]["html"]) == b"bye"


def test_iter_gzip_members_streams_member_at_a_time():
    """Member chain walk: each yield is exactly one member's bytes; a
    truncated final member salvages its decodable prefix; non-gzip input
    passes through whole; trailing garbage stops the walk cleanly."""
    import gzip as _gz

    from amazon_textract_transformer_pipeline_spark.sources.warc import (
        iter_gzip_members,
    )

    members = [b"alpha" * 100, b"b", b"", b"gamma" * 5000]
    raw = b"".join(_gz.compress(m) for m in members)
    assert list(iter_gzip_members(raw)) == members

    # non-gzip: passthrough
    assert list(iter_gzip_members(b"WARC/1.0\r\n")) == [b"WARC/1.0\r\n"]

    # trailing garbage after the last member: members still all decode
    assert list(iter_gzip_members(raw + b"\x00garbage")) == members

    # truncated final member: prefix of earlier members intact, no raise
    cut = raw[: len(raw) - 20]
    got = list(iter_gzip_members(cut))
    assert got[:3] == members[:3] and len(got) == 4
    assert members[3].startswith(got[3])

    # corrupt middle member: earlier members intact, walk stops, no raise
    bad = bytearray(raw)
    bad[len(_gz.compress(members[0])) + 12] ^= 0xFF
    got = list(iter_gzip_members(bytes(bad)))
    assert got[0] == members[0]


def test_strip_http_envelope_gated_on_record_type():
    """A *resource* record whose raw content legitimately begins with
    'HTTP/' must pass through unchanged — the strip is response-only."""
    payload = b"HTTP/1.1 is a protocol\r\n\r\nbody text"
    assert strip_http_envelope(payload, "resource") == payload
    assert strip_http_envelope(payload, "response") == b"body text"

    rec = (b"WARC/1.0\r\nWARC-Type: resource\r\n"
           b"WARC-Target-URI: http://doc/\r\n"
           b"Content-Length: %d\r\n\r\n" % len(payload)) + payload + b"\r\n\r\n"
    rows = list(records_to_page_rows(rec))
    assert bytes(rows[0]["html"]) == payload
