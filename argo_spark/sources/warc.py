"""WARC reader — Common-Crawl segments into the pages table.

The north-star input is "an Iceberg table of Common-Crawl-style web
pages (url, warc_ts, html)"; the crawl itself ships as WARC files
(ISO 28500), ~1 GB ``.warc.gz`` segments, millions of them. This
module parses WARC into exactly that pages shape so the flagship
extractor runs straight off a crawl dump:

    pages_from_warc(spark, "s3a://.../segments/*.warc.gz")
        -> DataFrame(url string, warc_ts timestamp, html binary)
        -> extract_triples_df(...)

Format facts the parser relies on (ISO 28500 / WARC 1.0-1.1):

* a record is ``WARC/1.x CRLF headers CRLF CRLF payload`` followed by
  ``CRLF CRLF``; the payload size is the ``Content-Length`` header —
  records are length-delimited, never scanned for terminators (a
  payload may contain anything, including ``WARC/1.0``);
* ``.warc.gz`` compresses EACH RECORD as its own gzip member so
  readers can resync; Python's gzip handles the concatenated-member
  stream transparently, so decompress-then-parse is exact;
* response records carry an HTTP response as payload — the html is
  the body after the first CRLF CRLF (we keep bytes; charset decoding
  belongs to the extractor, which already decodes utf-8/replace).

Distribution: one WARC FILE per task via ``binaryFile`` (Spark's
whole-file binary source) + ``mapInPandas`` — Common Crawl's ~1 GB
segment granularity IS the parallelism unit (the same shape the
public sparkcc utilities use); no shuffle, no driver involvement.
A malformed file yields one error row instead of killing the job
(the CLI quarantine contract); a malformed RECORD ends that file's
parse at the failure point, keeping every record before it.
"""

from __future__ import annotations

import gzip
import io
import zlib
from datetime import datetime, timezone
from typing import Iterable, Iterator, List, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from argo_spark.sources.documents import split_quarantine


class WarcError(Exception):
    pass


def _parse_headers(block: bytes) -> dict:
    """WARC header block -> {lowercased-name: value} (values may be
    folded per RFC 822 continuation lines)."""
    headers: dict = {}
    last = None
    for line in block.split(b"\r\n"):
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + line.strip().decode("utf-8", "replace")
            continue
        name, sep, value = line.partition(b":")
        if not sep:
            raise WarcError(f"bad header line {line[:60]!r}")
        last = name.strip().decode("ascii", "replace").lower()
        headers[last] = value.strip().decode("utf-8", "replace")
    return headers


def iter_warc_records(data: bytes) -> Iterator[Tuple[dict, bytes]]:
    """-> (headers, payload) per record over in-memory bytes (thin
    wrapper over the streaming walker — same semantics, same
    errors)."""
    return iter_warc_records_stream(io.BytesIO(data))


_STREAM_CHUNK = 1 << 20  # 1 MB reads from the (gzip) stream


def iter_warc_records_stream(fobj) -> Iterator[Tuple[dict, bytes]]:
    """-> (headers, payload) per record from a binary file-like
    object. Length-delimited walk: the version line + header block
    end at CRLF CRLF, Content-Length bytes of payload follow, then
    the CRLF CRLF record separator.

    STREAMING (round 6, closes the round-5 'weak' item): the buffer
    holds one in-flight record plus one read chunk, so peak task
    memory is O(largest record), not O(decompressed segment) — a
    ~1 GB .warc.gz no longer expands to a 4-5 GB bytes object in the
    task. Wrap the compressed stream in gzip.GzipFile: WARC gzip
    members decompress incrementally and member boundaries are
    handled transparently."""
    buf = b""
    eof = False

    def fill() -> bool:
        nonlocal buf, eof
        if eof:
            return False
        chunk = fobj.read(_STREAM_CHUNK)
        if not chunk:
            eof = True
            return False
        buf += chunk
        return True

    while True:
        # tolerate extra blank separators between records
        while True:
            while len(buf) < 2 and fill():
                pass
            if buf[:2] == b"\r\n":
                buf = buf[2:]
            else:
                break
        if not buf:
            if not fill():
                return
            continue
        while len(buf) < 5 and fill():
            pass
        if not buf.startswith(b"WARC/"):
            raise WarcError(
                f"expected WARC/ record header, got {buf[:20]!r}"
            )
        while (hdr_end := buf.find(b"\r\n\r\n")) < 0:
            if not fill():
                raise WarcError("unterminated WARC header block")
        version_end = buf.find(b"\r\n")
        headers = _parse_headers(buf[version_end + 2:hdr_end])
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise WarcError("missing/bad Content-Length")
        if length < 0:
            # a negative length would walk the cursor BACKWARDS and
            # loop forever on the same record
            raise WarcError(f"negative Content-Length {length}")
        body_start = hdr_end + 4
        while len(buf) < body_start + length:
            if not fill():
                raise WarcError("truncated WARC payload")
        yield headers, buf[body_start:body_start + length]
        buf = buf[body_start + length:]


def _dechunk(body: bytes) -> bytes:
    """Decode HTTP/1.1 chunked transfer coding (hex-size line, chunk,
    CRLF, ... , 0-size terminator). Raises WarcError on malformed
    framing so the record routes to the error row instead of
    emitting chunk-size lines interleaved with the html."""
    out = []
    pos = 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise WarcError("bad chunked body: missing size line")
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            raise WarcError(f"bad chunk size {size_tok[:20]!r}")
        if size == 0:
            return b"".join(out)
        start = eol + 2
        chunk = body[start:start + size]
        if len(chunk) != size:
            raise WarcError("truncated chunk")
        out.append(chunk)
        pos = start + size + 2  # skip the chunk's trailing CRLF


def _http_body(payload: bytes) -> bytes:
    """HTTP response payload -> body bytes. Raw-capture WARCs (wget
    --warc-file, warcprox, ...) store the response AS SENT, so the
    stored header block is consulted: chunked transfer coding is
    decoded and a gzip/deflate Content-Encoding is decompressed —
    otherwise downstream extraction would scan chunk-size framing or
    compressed bytes as if they were html. A payload without an HTTP
    header block is returned whole (resource records)."""
    if payload[:5] != b"HTTP/":
        return payload
    end = payload.find(b"\r\n\r\n")
    if end < 0:
        return payload
    head = payload[:end].decode("latin-1").lower()
    body = payload[end + 4:]
    if "chunked" in _http_header(head, "transfer-encoding"):
        body = _dechunk(body)
    enc = _http_header(head, "content-encoding")
    if "gzip" in enc or "deflate" in enc:
        try:
            body = (
                gzip.decompress(body)
                if body[:2] == b"\x1f\x8b"
                else zlib.decompress(body, -zlib.MAX_WBITS)
            )
        except (OSError, EOFError, zlib.error) as e:
            raise WarcError(f"bad Content-Encoding body: {e}")
    return body


def _http_header(head_lower: str, name: str) -> str:
    """Value of ``name`` in a lowercased HTTP header block, '' when
    absent."""
    for line in head_lower.split("\r\n")[1:]:
        k, sep, v = line.partition(":")
        if sep and k.strip() == name:
            return v.strip()
    return ""


def _parse_date(v: str) -> Optional[datetime]:
    """WARC-Date is W3C-NOTE-datetime (a UTC ISO 8601 instant)."""
    try:
        return datetime.strptime(v, "%Y-%m-%dT%H:%M:%SZ").replace(
            tzinfo=timezone.utc
        )
    except ValueError:
        try:
            return datetime.fromisoformat(v.replace("Z", "+00:00"))
        except ValueError:
            return None


def iter_warc_page_rows(
    fobj,
) -> Iterator[Tuple[str, Optional[datetime], bytes]]:
    """Streaming page rows (url, warc_ts, html) from an open WARC
    stream (plain or the raw .warc.gz — gzip is detected and
    decompressed member-by-member). ``response``/``resource``/
    ``conversion`` records yield rows; request/metadata/warcinfo are
    skipped. Raises WarcError on a malformed record (the caller keeps
    rows already yielded — per-file quarantine); gzip corruption
    surfaces as the underlying OSError/EOFError/zlib.error at the
    failure point."""
    head = fobj.read(2)
    if head == b"\x1f\x8b":
        # push the sniffed bytes back by concatenating streams
        fobj = _MemberGzipReader(_PrefixedStream(head, fobj))
    else:
        fobj = _PrefixedStream(head, fobj)
    for headers, payload in iter_warc_records_stream(fobj):
        # "conversion" = Common Crawl's WET extracted-text records
        # (payload is plain text, no HTTP envelope — _http_body
        # passes it through untouched)
        if headers.get("warc-type") not in (
            "response", "resource", "conversion"
        ):
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        # W3C/IIPC tooling sometimes angle-bracket-quotes the URI
        if url.startswith("<") and url.endswith(">"):
            url = url[1:-1]
        ts = _parse_date(headers.get("warc-date", ""))
        yield url, ts, _http_body(payload)


class _MemberGzipReader:
    """Incremental multi-member gzip reader (read()-only).

    Unlike gzip.GzipFile — whose read() raises on a truncated or
    corrupt member and DISCARDS everything it decompressed in that
    call — this reader hands out all bytes decompressed before the
    failure and raises only when asked to go past it, so a partially
    downloaded segment still yields every complete record before the
    cut (the per-file quarantine contract). Memory is O(one chunk):
    members decompress via zlib.decompressobj(31) with bounded
    max_length."""

    def __init__(self, raw):
        self._raw = raw
        self._buf = b""  # compressed bytes pending
        self._dec = None
        self._raw_eof = False
        self._error: Optional[BaseException] = None

    def _fill(self) -> bool:
        if self._raw_eof:
            return False
        chunk = self._raw.read(_STREAM_CHUNK)
        if not chunk:
            self._raw_eof = True
            return False
        self._buf += chunk
        return True

    def read(self, n: int = -1) -> bytes:
        out = bytearray()
        while n < 0 or len(out) < n:
            if self._error is not None:
                if out:
                    break  # hand out what we have; raise next call
                raise self._error
            if self._dec is None:
                if not self._buf and not self._fill():
                    break  # clean EOF at a member boundary
                self._dec = zlib.decompressobj(31)
            # cap at what the caller still wants: read(n) returns at
            # most n bytes (file-object contract); the rest stays in
            # unconsumed_tail for the next call
            limit = _STREAM_CHUNK if n < 0 else min(_STREAM_CHUNK, n - len(out))
            try:
                chunk = self._dec.decompress(self._buf, limit)
            except zlib.error as e:
                self._error = OSError(f"invalid gzip data: {e}")
                continue
            if self._dec.eof:
                self._buf = self._dec.unused_data
                self._dec = None
            else:
                self._buf = self._dec.unconsumed_tail
            out += chunk
            if self._dec is not None and not self._buf:
                if not self._fill():
                    # raw EOF inside a member: truncated download
                    self._error = EOFError(
                        "compressed gzip member truncated"
                    )
                    continue
        return bytes(out)


class _PrefixedStream:
    """Minimal read()-only stream: a sniffed prefix followed by the
    rest of the underlying file object."""

    def __init__(self, prefix: bytes, fobj):
        self._prefix = prefix
        self._fobj = fobj

    def read(self, n: int = -1) -> bytes:
        if self._prefix:
            if n is None or n < 0 or n >= len(self._prefix):
                out, self._prefix = self._prefix, b""
                if n is not None and n >= 0:
                    n -= len(out)
                    return out + (self._fobj.read(n) if n > 0 else b"")
                return out + self._fobj.read(-1)
            out, self._prefix = self._prefix[:n], self._prefix[n:]
            return out
        return self._fobj.read(n)


def parse_warc_pages(
    data: bytes,
) -> Tuple[List[Tuple[str, Optional[datetime], bytes]], Optional[str]]:
    """WARC file bytes (plain or multi-member gzip) -> page rows
    (url, warc_ts, html) from ``response``/``resource`` records.
    Returns (rows_before_failure, error_or_None). Decompression is
    incremental (iter_warc_page_rows), so rows parsed before a gzip
    truncation are kept too."""
    rows: List[Tuple[str, Optional[datetime], bytes]] = []
    try:
        for row in iter_warc_page_rows(io.BytesIO(data)):
            rows.append(row)
        return rows, None
    except WarcError as e:
        return rows, str(e)
    except (OSError, EOFError, zlib.error) as e:
        # EOFError = truncated member (a partially-downloaded
        # segment, the common real-world corruption); zlib.error =
        # bit rot inside a member
        return rows, f"bad gzip: {e}"


WARC_SCHEMA = (
    "url string, warc_ts timestamp, html binary, path string, error string"
)


def pages_from_warc(
    spark: SparkSession, path: str, persist: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Read WARC segment files into (pages_df, errors_df); pages has
    the north-star input columns (url, warc_ts, html binary) plus the
    source ``path`` for lineage. One file per task (binaryFile
    whole-file source) — parallelism is segment count, the crawl's
    natural unit.

    ``persist`` (default on) caches the PARSED frame
    (MEMORY_AND_DISK): pages and errors are two filters over one
    decompress-and-parse, and every real consumer touches both (the
    CLI counts the quarantine, the pipeline reads the pages) — often
    through multiple extractors. Without the persist each consumer
    re-decompresses every ~1 GB segment; spilling parsed pages to
    local disk is strictly cheaper. Pass False for single-shot
    streaming-style consumption."""
    raw = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )
    parsed = parse_warc_col(raw)
    if persist:
        from pyspark import StorageLevel

        parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
    return split_quarantine(parsed, "path", "error")


_BATCH_ROWS = 1024
_BATCH_BYTES = 32 << 20  # flush a page batch at 32 MB of html


def parse_warc_col(
    df: DataFrame, content_col: str = "content", path_col: str = "path"
) -> DataFrame:
    """Arrow-batched distributed WARC parse over (path, content
    binary) rows.

    Pages stream OUT as bounded Arrow batches while the segment
    decompresses member-by-member (iter_warc_page_rows), so peak task
    memory is O(compressed segment + one batch) instead of the
    decompressed segment plus every parsed row — the round-5 'weak'
    memory profile. (The compressed bytes themselves are one
    binaryFile cell; bounding THAT would need a custom streaming
    datasource.)"""

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "warc_ts", "html", "path", "error"]
        for pdf in batches:
            for path, content in zip(pdf[path_col], pdf[content_col]):
                rows: list = []
                n_bytes = 0
                err = None
                try:
                    for url, ts, html in iter_warc_page_rows(
                        io.BytesIO(bytes(content))
                    ):
                        rows.append((url, ts, html, path, None))
                        n_bytes += len(html)
                        if len(rows) >= _BATCH_ROWS or n_bytes >= _BATCH_BYTES:
                            yield pd.DataFrame(rows, columns=cols)
                            rows, n_bytes = [], 0
                except WarcError as e:
                    err = str(e)
                except (OSError, EOFError, zlib.error) as e:
                    err = f"bad gzip: {e}"
                if err is not None:
                    rows.append((None, None, None, path, err))
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return df.select(path_col, content_col).mapInPandas(
        fn, schema=WARC_SCHEMA
    )


def warc_record_col(url, warc_ts, html):
    """Column expression building ONE complete WARC response record
    (version line, headers with exact octet Content-Length, HTTP
    response wrapper) as a string — the writer half of the identity
    oracle and a handy test-fixture generator. CRLF discipline and
    length-delimiting follow ISO 28500 so the output re-parses with
    iter_warc_records."""
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), html
    )
    return F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        url,
        F.lit("\r\nWARC-Date: "),
        F.date_format(warc_ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit("\r\nContent-Length: "),
        F.octet_length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
        F.lit("\r\n\r\n"),
    )


def docs_from_wet(
    spark: SparkSession, path: str, persist: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Read WET files (Common Crawl's extracted-text sidecars —
    WARC ``conversion`` records with plain-text payloads) into a
    documents frame (url string, warc_ts timestamp, text string) +
    an errors frame. This is the usual STARTING POINT of an LLM-data
    pipeline: the output plugs straight into ops/textstats,
    ops/dedup, ops/corpus with ``text_col="text"``."""
    pages, errors = pages_from_warc(spark, path, persist=persist)
    # binary -> string CAST, not decode(…,'UTF-8'): decode raises
    # MALFORMED_CHARACTER_CODING under ANSI for any invalid byte (one
    # dirty WET record would fail the whole job, violating the
    # module's quarantine contract), while the cast substitutes U+FFFD
    # — the same errors='replace' policy the extractors use, and
    # byte-identical on valid UTF-8.
    docs = pages.select(
        "url", "warc_ts",
        F.col("html").cast("string").alias("text"),
        "path",
    )
    return docs, errors


# ---------------------------------------------------------------------------
# CDXJ index (the crawl's per-URL catalog) — filter BEFORE fetching
# segments. A CC-style cdxj line is:
#     <urlkey (SURT)> <timestamp yyyyMMddHHmmss> <JSON metadata>
# where the JSON carries url/status/mime/filename/offset/length. At
# 100 TB the index is how a job avoids reading 99% of the corpus:
# select the (filename, offset, length) ranges first, fetch only
# those segments.
# ---------------------------------------------------------------------------

CDX_JSON_SCHEMA = (
    "url string, status string, mime string, digest string, "
    "filename string, offset string, length string, languages string"
)


def read_cdxj(spark: SparkSession, path: str) -> DataFrame:
    """CDXJ index files -> typed index frame (see parse_cdxj_lines).
    A `WHERE mime = 'text/html' AND status = 200` index sweep is a
    map-only job at any corpus size (plan-asserted in
    tests/test_warc.py)."""
    return parse_cdxj_lines(spark.read.text(path))


def parse_cdxj_lines(lines: DataFrame) -> DataFrame:
    """CDXJ lines (column ``value``) -> DataFrame(urlkey, ts
    timestamp, url, status int, mime, digest, filename, offset long,
    length long, languages). Pure codegen (split + from_json +
    try_cast — no Python in the plan): predicate pushdown and column
    pruning reach the scan. Malformed JSON cells become NULL metadata
    columns (try-parse), never errors — index rows are advisory, the
    WARC reader re-validates."""
    urlkey = F.substring_index(F.col("value"), " ", 1)
    rest = F.expr("substring(value, length(substring_index(value, ' ', 1)) + 2)")
    ts_raw = F.substring_index(rest, " ", 1)
    meta_raw = F.expr(
        "substring(substring(value, length(substring_index(value, ' ', 1)) + 2),"
        " length(substring_index(substring(value,"
        " length(substring_index(value, ' ', 1)) + 2), ' ', 1)) + 2)"
    )
    meta = F.from_json(meta_raw, CDX_JSON_SCHEMA)
    return lines.select(
        urlkey.alias("urlkey"),
        F.to_timestamp(ts_raw, "yyyyMMddHHmmss").alias("ts"),
        meta["url"].alias("url"),
        meta["status"].try_cast("int").alias("status"),
        meta["mime"].alias("mime"),
        meta["digest"].alias("digest"),
        meta["filename"].alias("filename"),
        meta["offset"].try_cast("long").alias("offset"),
        meta["length"].try_cast("long").alias("length"),
        meta["languages"].alias("languages"),
    )
