"""WARC reader (sources/warc.py): record walking, gzip members,
error routing, and the crawl-to-triples end-to-end path."""

from __future__ import annotations

import gzip

from pyspark.sql import functions as F

from argo_spark.sources.warc import (
    iter_warc_records, pages_from_warc, parse_warc_col, parse_warc_pages,
    warc_record_col,
)


def _rec(url: bytes, ts: bytes, html: bytes) -> bytes:
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
    return (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " + url
        + b"\r\nWARC-Date: " + ts + b"\r\nContent-Length: "
        + str(len(http)).encode() + b"\r\n\r\n" + http + b"\r\n\r\n"
    )


def test_record_walk_is_length_delimited():
    info = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            b"Content-Length: 4\r\n\r\nxyzw\r\n\r\n")
    data = (
        info
        + _rec(b"http://a/", b"2026-01-01T00:00:00Z", b"<html>A</html>")
        + _rec(b"http://b/", b"2026-01-02T03:04:05Z",
               b"<html>WARC/1.0 inside body</html>")
    )
    rows, err = parse_warc_pages(data)
    assert err is None and len(rows) == 2  # warcinfo skipped
    assert rows[0][0] == "http://a/"
    # a payload containing "WARC/1.0" must not desync the walk
    assert rows[1][2] == b"<html>WARC/1.0 inside body</html>"
    assert rows[0][1].year == 2026


def test_gzip_multi_member():
    gz = b"".join(
        gzip.compress(chunk)
        for chunk in (
            _rec(b"http://c/", b"2026-01-01T00:00:00Z", b"<p>C</p>"),
            _rec(b"http://d/", b"2026-01-01T00:00:00Z", b"<p>D</p>"),
        )
    )
    rows, err = parse_warc_pages(gz)
    assert err is None and [r[0] for r in rows] == ["http://c/", "http://d/"]


def test_truncation_keeps_prior_records():
    good = _rec(b"http://e/", b"2026-01-01T00:00:00Z", b"E")
    bad = _rec(b"http://f/", b"2026-01-01T00:00:00Z", b"ok")[:-10]
    rows, err = parse_warc_pages(good + bad)
    assert len(rows) == 1 and "truncated" in err
    rows2, err2 = parse_warc_pages(b"not a warc at all")
    assert rows2 == [] and "expected WARC/" in err2


def test_writer_column_roundtrips(spark):
    """warc_record_col output re-parses to the exact (url, html)
    relation — the identity contract the entry oracle replays."""
    df = spark.createDataFrame(
        [("http://x/1", "<html>é and WARC/1.0</html>"),
         ("http://x/2", "two\r\n\r\nblank-line body")],
        "url string, html string",
    ).select(
        "url",
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        "html",
    )
    recs = df.select(
        F.lit("mem").alias("path"),
        F.encode(
            warc_record_col(F.col("url"), F.col("warc_ts"), F.col("html")),
            "UTF-8",
        ).alias("content"),
    )
    out = parse_warc_col(recs).where("error IS NULL")
    got = {
        (r.url, bytes(r.html).decode("utf-8")) for r in out.collect()
    }
    want = {(r.url, r.html) for r in df.collect()}
    assert got == want


def test_warc_to_triples_end_to_end(spark, tmp_path):
    """Crawl segment -> pages_from_warc -> extract_triples_df equals
    direct extraction over the same synthetic pages (the north-star
    ingestion path)."""
    from argo_spark.extract.rdfa import extract_triples_df
    from argo_spark.pages import synthesize_pages

    pages = synthesize_pages(spark, 24).select("url", "warc_ts", "html")
    rows = pages.collect()
    seg = b"".join(
        gzip.compress(
            _rec(
                r.url.encode(),
                r.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode(),
                r.html if isinstance(r.html, (bytes, bytearray))
                else r.html.encode(),
            )
        )
        for r in rows
    )
    p = tmp_path / "seg-00000.warc.gz"
    p.write_bytes(seg)
    got_pages, errs = pages_from_warc(spark, str(p))
    assert errs.count() == 0
    assert got_pages.count() == 24
    want = {
        tuple(r)
        for r in extract_triples_df(pages).select(
            "s_value", "p_value", "o_value", "url"
        ).collect()
    }
    got = {
        tuple(r)
        for r in extract_triples_df(
            got_pages.select("url", "warc_ts", "html")
        ).select("s_value", "p_value", "o_value", "url").collect()
    }
    assert got == want


def test_warc_registry_cli_source(spark, tmp_path):
    """The rdf CLI accepts .warc.gz sources directly: registry
    dispatch -> pages -> RDFa+JSON-LD extraction -> triples."""
    from argo_spark.pages import synthesize_pages
    from argo_spark.sinks.registry import FORMATS, format_from_filename

    fmt = format_from_filename("seg-00000.warc.gz")
    assert fmt is not None and fmt.id == "warc" and fmt.reader is not None
    rows = synthesize_pages(spark, 8).select("url", "warc_ts", "html").collect()
    seg = b"".join(
        gzip.compress(_rec(
            r.url.encode(),
            r.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode(),
            r.html if isinstance(r.html, (bytes, bytearray))
            else r.html.encode(),
        ))
        for r in rows
    )
    p = tmp_path / "seg.warc.gz"
    p.write_bytes(seg)
    triples, errors = FORMATS["warc"].reader(spark, str(p))
    assert errors.count() == 0
    assert triples.count() > 0
    assert triples.where("p_value = 'http://schema.org/mentions'").count() > 0


def test_hostile_records_quarantine_not_hang():
    """Review regressions: a negative Content-Length walked the record
    cursor BACKWARDS (infinite executor hang); a truncated .warc.gz
    raised EOFError through the except clause. Both must be error
    rows."""
    rows, err = parse_warc_pages(b"WARC/1.0\r\nContent-Length: -33\r\n\r\n")
    assert rows == [] and "negative" in err
    rows, err = parse_warc_pages(
        gzip.compress(_rec(b"http://x/", b"2026-01-01T00:00:00Z", b"x"))[:-5]
    )
    # the cut removed only the gzip trailer: the streaming reader
    # (round 6) salvages the complete record AND reports the
    # truncation — the round-5 batch reader threw the record away
    assert [r[0] for r in rows] == ["http://x/"] and "bad gzip" in err
    # a cut inside the deflate data loses the record but must still
    # be an error row, never an exception
    rows, err = parse_warc_pages(
        gzip.compress(_rec(b"http://x/", b"2026-01-01T00:00:00Z", b"x"))[:20]
    )
    assert rows == [] and "bad gzip" in err


def test_http_transfer_and_content_encodings():
    """Review regression: raw-capture WARCs store the response AS
    SENT — chunked framing must be decoded and gzip Content-Encoding
    decompressed, or the extractor scans framing/compressed bytes as
    html; malformed chunking routes to the error row."""
    html = b"<html>chunked body</html>"
    chunked = b"%x\r\n%s\r\n0\r\n\r\n" % (len(html), html)
    http = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" + chunked
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://c/"
           b"\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "
           + str(len(http)).encode() + b"\r\n\r\n" + http + b"\r\n\r\n")
    rows, err = parse_warc_pages(rec)
    assert err is None and rows[0][2] == html
    gz_body = gzip.compress(b"<html>gz body</html>")
    http = b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + gz_body
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://g/"
           b"\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "
           + str(len(http)).encode() + b"\r\n\r\n" + http + b"\r\n\r\n")
    rows, err = parse_warc_pages(rec)
    assert err is None and rows[0][2] == b"<html>gz body</html>"
    bad = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nzz\r\nx"
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://z/"
           b"\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "
           + str(len(bad)).encode() + b"\r\n\r\n" + bad + b"\r\n\r\n")
    rows, err = parse_warc_pages(rec)
    assert rows == [] and "chunk" in err


def test_wet_conversion_records(spark, tmp_path):
    """WET support: 'conversion' records (plain-text payload, no HTTP
    envelope) flow through docs_from_wet into the documents shape an
    LLM-data pipeline starts from."""
    from argo_spark.sources.warc import docs_from_wet

    def wet_rec(url: bytes, text: bytes) -> bytes:
        return (
            b"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: " + url
            + b"\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "
            + str(len(text)).encode() + b"\r\n\r\n" + text + b"\r\n\r\n"
        )

    info = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            b"Content-Length: 2\r\n\r\nxy\r\n\r\n")
    seg = gzip.compress(
        info
        + wet_rec(b"http://a/", "héllo extracted text".encode())
        + wet_rec(b"http://b/", b"second doc")
    )
    p = tmp_path / "seg.warc.wet.gz"
    p.write_bytes(seg)
    docs, errs = docs_from_wet(spark, str(p))
    assert errs.count() == 0
    got = {(r.url, r.text) for r in docs.collect()}
    assert got == {("http://a/", "héllo extracted text"),
                   ("http://b/", "second doc")}
    # the documents shape feeds the text ops directly
    from argo_spark.ops.textstats import document_stats

    stats = document_stats(docs.withColumnRenamed("url", "doc_id"))
    assert stats.count() == 2


def test_read_cdxj(spark, tmp_path):
    """CDXJ index parse: SURT key + timestamp + JSON metadata ->
    typed columns; malformed JSON yields NULL metadata, not errors;
    the mime/status filter plan is map-only (no exchange)."""
    from argo_spark.sources.warc import read_cdxj

    lines = "\n".join([
        'org,example)/page/1 20260101000000 {"url": "http://example.org/page/1",'
        ' "status": "200", "mime": "text/html", "digest": "AAAA",'
        ' "filename": "seg-00000.warc.gz", "offset": "845", "length": "292"}',
        'org,example)/page/2 20260102030405 {"url": "http://example.org/page/2",'
        ' "status": "404", "mime": "text/html", "filename": "seg-00001.warc.gz",'
        ' "offset": "0", "length": "100"}',
        "org,example)/broken 20260101000000 {not json",
    ])
    p = tmp_path / "cdx-00000.cdxj"
    p.write_text(lines)
    df = read_cdxj(spark, str(p))
    rows = {r.urlkey: r for r in df.collect()}
    assert rows["org,example)/page/1"].status == 200
    assert rows["org,example)/page/1"].offset == 845
    assert rows["org,example)/page/1"].ts.year == 2026
    assert rows["org,example)/page/2"].status == 404
    assert rows["org,example)/broken"].url is None  # advisory, not fatal
    ok = df.where("mime = 'text/html' AND status = 200")
    assert ok.count() == 1
    # index sweeps must stay map-only: no exchange in the plan
    assert "Exchange" not in ok._jdf.queryExecution().executedPlan().toString()


def test_streaming_parse_bounds_buffering():
    """Round-6 memory-profile fix: the record walker must consume the
    stream incrementally — the first page row comes out after reading
    only a small prefix of a many-record file, never the whole
    payload (the round-5 parse materialized the full decompressed
    segment before emitting anything)."""
    import io

    from argo_spark.sources.warc import iter_warc_page_rows

    data = b"".join(
        _rec(b"http://s/%d" % i, b"2026-01-01T00:00:00Z", b"x" * 100_000)
        for i in range(100)
    )

    class CountingReader(io.BytesIO):
        bytes_read = 0

        def read(self, n=-1):
            out = super().read(n)
            CountingReader.bytes_read += len(out)
            return out

    CountingReader.bytes_read = 0
    it = iter_warc_page_rows(CountingReader(data))
    url, ts, html = next(it)
    assert url == "http://s/0" and len(html) == 100_000
    # one record is ~100 KB and the chunk size is 1 MB: after the
    # first row at most a few chunks may be buffered, not the ~10 MB
    # file
    assert CountingReader.bytes_read < len(data) // 4, (
        CountingReader.bytes_read, len(data))
    # and the remainder still parses completely
    assert sum(1 for _ in it) == 99


def test_streaming_parse_gzip_members():
    """Per-member gzip (the on-spec .warc.gz layout) streams through
    the same walker; rows parsed before a truncation are kept."""
    recs = [
        _rec(b"http://g/%d" % i, b"2026-01-01T00:00:00Z", b"y" * 10_000)
        for i in range(10)
    ]
    members = b"".join(gzip.compress(r) for r in recs)
    rows, err = parse_warc_pages(members)
    assert err is None and len(rows) == 10
    # truncate inside the LAST member: the first nine records survive
    rows, err = parse_warc_pages(members[:-50])
    assert len(rows) == 9 and "gzip" in err.lower()


def test_member_gzip_reader_read_n_is_capped():
    """read(n) returns at most n bytes (it used to hand out a whole
    decompressed chunk), and chunked reads concatenate to the full
    multi-member payload."""
    import io
    import random

    from argo_spark.sources.warc import _MemberGzipReader

    rng = random.Random(5)
    parts = [
        b"warc " * 3000,
        bytes(rng.randrange(256) for _ in range(8000)),
        b"",
        "caf\u00e9 ".encode() * 500,
    ]
    payload = b"".join(parts)
    members = b"".join(gzip.compress(p) for p in parts)
    for sizes in ([1, 10, 4096], [rng.randint(1, 3000) for _ in range(40)]):
        reader = _MemberGzipReader(io.BytesIO(members))
        got = bytearray()
        i = 0
        while True:
            n = sizes[i % len(sizes)]
            i += 1
            chunk = reader.read(n)
            assert len(chunk) <= n, (n, len(chunk))
            if not chunk:
                break
            got += chunk
        assert bytes(got) == payload
    assert _MemberGzipReader(io.BytesIO(members)).read() == payload


def test_wet_invalid_utf8_is_replaced_not_fatal(spark, tmp_path):
    """docs_from_wet must never crash on a dirty WET payload: invalid
    UTF-8 bytes decode with U+FFFD substitution (the extractors'
    errors='replace' policy), not MALFORMED_CHARACTER_CODING."""
    from argo_spark.sources.warc import docs_from_wet

    conv = (
        b"WARC/1.0\r\nWARC-Type: conversion\r\n"
        b"WARC-Target-URI: http://w/1\r\n"
        b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
        b"Content-Length: 5\r\n\r\na\xffb\xfec\r\n\r\n"
    )
    p = tmp_path / "seg.warc"
    p.write_bytes(conv)
    docs, errors = docs_from_wet(spark, str(p), persist=False)
    assert errors.count() == 0
    [row] = docs.collect()
    assert row.text == "a�b�c"
