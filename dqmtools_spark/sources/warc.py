"""WARC ingestion — the format Common Crawl actually ships.

Turns ``*.warc.gz`` files (one gzip MEMBER per record, the CC
convention — also tolerates a single-member stream) into the
north-rule pages table (``schemas.PAGES_SCHEMA``: url, warc_ts, html,
text, lang), keeping only ``WARC-Type: response`` records and
stripping the HTTP envelope so ``html`` is the raw payload the
pipeline's extract step expects.  ``text``/``lang`` are NULL at
ingest — they are pipeline OUTPUTS.

Spark shape: ``spark.read.format("binaryFile")`` (one task per WARC
file — Common Crawl segments are ~1 GiB, already the right task
granule; 90k files = 90k tasks) -> ``mapInPandas`` exploding each
file's records into frames of at most
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, parsed as each
frame fills, shuffle-free.  The quality pipeline does not ship
``html`` back to the JVM: ``pipeline.python_phase`` on a
``read_warc`` frame runs this explode and the page scoring in one
``mapInArrow`` (binaryFile -> one Python pass -> phase-1 rows,
:func:`warc_page_frames` shared by both).  Malformed members and
records are COUNTED AND SKIPPED, not raised: at 100 TB a corrupt
member must cost one counter bump, not a stage retry
(``_corrupt_members`` column when ``keep_stats=True``).

Pure-Python parsing (zlib multi-member decompression, WARC/1.0 header
block, HTTP response split) — no external WARC library exists in this
container; the fixture writer emits spec-shaped records for tests.
"""

from __future__ import annotations

import gzip
import io
import itertools
import zlib
from collections.abc import Generator, Iterable, Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dqmtools_spark.schemas import PAGES_SCHEMA


# decompression-bomb guard for untrusted crawls: one WARC record
# (one gzip member) above this expanded size is rejected as corrupt
# (a real CC response record is <= a few MB; a crafted member can
# claim ~1000x expansion and exhaust executor memory BEFORE the
# MemoryError guard could catch anything)
MAX_MEMBER_BYTES = 1 << 30  # 1 GiB

# the per-file columns read_warc(keep_stats=True) adds
_STATS_SCHEMA = T.StructType(
    [
        T.StructField("_source_file", T.StringType(), True),
        T.StructField("_corrupt_members", T.IntegerType(), True),
    ]
)


def split_gzip_members(
    data: bytes, max_member_bytes: int = MAX_MEMBER_BYTES
) -> Iterator[bytes]:
    """Decompress a concatenation of gzip members one member at a
    time (the WARC.gz layout: one record per member).  A member whose
    EXPANDED size exceeds ``max_member_bytes`` raises ValueError with
    the decompression abandoned mid-stream — bounded memory on
    crafted input.

    Each member's decompressor gets views of the input that start at
    1 KiB and double up to 64 KiB, so the bytes fed to a member (and
    copied into ``unused_data`` past its end) are below twice its
    compressed size plus 1 KiB: linear in the file size, where feeding
    the rest of the file to every member is quadratic."""
    view = memoryview(data)
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        parts, total = [], 0
        fed, buf, step = pos, b"", 1 << 10
        while not d.eof:
            if not buf:
                if fed >= len(data):
                    raise ValueError("truncated gzip member")
                buf = view[fed : fed + step]
                fed += len(buf)
                step = min(2 * step, 1 << 16)
            out = d.decompress(buf, 1 << 20)  # 1 MiB output chunks
            parts.append(out)
            total += len(out)
            if total > max_member_bytes:
                raise ValueError(
                    f"gzip member exceeds {max_member_bytes} bytes expanded"
                )
            nxt = d.unconsumed_tail
            if not out and len(nxt) >= len(buf) > 0:
                # no output and no input consumed: the stream is stuck
                raise ValueError("truncated gzip member")
            buf = nxt
        yield b"".join(parts)
        consumed = fed - pos - len(d.unused_data) - len(d.unconsumed_tail)
        if consumed <= 0:
            raise ValueError("gzip member consumed no bytes")
        pos += consumed


def parse_warc_records(raw: bytes) -> Iterator[dict]:
    """Parse WARC/1.0-1.1 records out of an UNCOMPRESSED byte stream
    (one or many records).  Yields
    {type, uri, date, content_type, payload} — ``payload`` is the
    record content block, HTTP envelope included."""
    pos = 0
    n = len(raw)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and raw[pos : pos + 2] in (b"\r\n", b"\n"):
            pos += 2 if raw[pos : pos + 2] == b"\r\n" else 1
        if pos >= n:
            return
        if not raw[pos:].startswith(b"WARC/"):
            raise ValueError(f"expected WARC version line at {pos}")
        hdr_end = raw.find(b"\r\n\r\n", pos)
        sep = 4
        if hdr_end == -1:
            hdr_end = raw.find(b"\n\n", pos)
            sep = 2
        if hdr_end == -1:
            raise ValueError("unterminated WARC header block")
        headers: dict[str, str] = {}
        lines = raw[pos:hdr_end].decode("utf-8", "replace").splitlines()
        for line in lines[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError) as e:
            raise ValueError("missing/bad Content-Length") from e
        body_start = hdr_end + sep
        if body_start + length > n:
            raise ValueError("WARC content block truncated")
        yield {
            "type": headers.get("warc-type", ""),
            "uri": headers.get("warc-target-uri"),
            "date": headers.get("warc-date"),
            "content_type": headers.get("content-type", ""),
            "payload": raw[body_start : body_start + length],
        }
        pos = body_start + length


def split_http_response(payload: bytes) -> tuple[dict[str, str], bytes]:
    """HTTP response bytes -> (headers, body).  Raises ValueError when
    the payload is not an HTTP response."""
    if not payload.startswith(b"HTTP/"):
        raise ValueError("payload is not an HTTP response")
    hdr_end = payload.find(b"\r\n\r\n")
    sep = 4
    if hdr_end == -1:
        hdr_end = payload.find(b"\n\n")
        sep = 2
    if hdr_end == -1:
        raise ValueError("unterminated HTTP header block")
    headers: dict[str, str] = {}
    for line in payload[:hdr_end].decode("latin-1").splitlines()[1:]:
        if ":" in line:
            k, v = line.split(":", 1)
            headers[k.strip().lower()] = v.strip()
    return headers, payload[hdr_end + sep :]


def _parse_warc_date(s: str | None) -> datetime | None:
    if not s:
        return None
    try:
        return datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ").replace(
            tzinfo=timezone.utc
        )
    except ValueError:
        return None


def iter_warc_pages(data: bytes) -> Generator[dict, None, int]:
    """One .warc.gz file's bytes -> its page rows, one at a time; the
    generator returns the file's corrupt member count.  Rows carry
    url/warc_ts/html; text/lang are None (pipeline outputs)."""
    corrupt = 0
    pos_iter = split_gzip_members(data)
    while True:
        try:
            member = next(pos_iter)
        except StopIteration:
            break
        except (ValueError, zlib.error, MemoryError):
            corrupt += 1
            break  # stream position is unrecoverable past a bad member
        try:
            for rec in parse_warc_records(member):
                if rec["type"] != "response" or not rec["uri"]:
                    continue
                try:
                    _http, body = split_http_response(rec["payload"])
                except ValueError:
                    corrupt += 1
                    continue
                yield {
                    "url": rec["uri"],
                    "warc_ts": _parse_warc_date(rec["date"]),
                    "html": body,
                    "text": None,
                    "lang": None,
                }
        except ValueError:
            corrupt += 1
    return corrupt


def warc_gz_to_pages(data: bytes) -> tuple[list[dict], int]:
    """One .warc.gz file's bytes -> (page rows, corrupt member count):
    :func:`iter_warc_pages` drained into a list."""
    rows: list[dict] = []
    pages = iter_warc_pages(data)
    while True:
        try:
            rows.append(next(pages))
        except StopIteration as done:
            return rows, done.value


def _chunks(rows: Iterable[dict], size: int | None) -> Iterator[list[dict]]:
    """Consecutive lists of at most ``size`` rows (all rows when None)."""
    rows = iter(rows)
    while chunk := list(itertools.islice(rows, size)):
        yield chunk


def arrow_batch_rows(spark: SparkSession) -> int | None:
    """``spark.sql.execution.arrow.maxRecordsPerBatch``, the row bound
    of every frame a WARC explode yields; None when it is unlimited
    (zero or negative)."""
    n = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    return n if n > 0 else None


def warc_page_frames(
    files: Iterable[pd.DataFrame], max_rows: int | None, keep_stats: bool = False
) -> Iterator[pd.DataFrame]:
    """binaryFile batches (``path``, ``content``) -> pages frames of at
    most ``max_rows`` rows, each from one file, in file order.  Rows
    are parsed as the frame fills, so a 1 GiB segment is never one
    pandas frame.  ``keep_stats`` adds ``_source_file`` and the file's
    ``_corrupt_members`` to every row; that count is known only at the
    end of the file, so this form holds a file's rows until then."""
    cols = PAGES_SCHEMA.fieldNames() + (_STATS_SCHEMA.fieldNames() if keep_stats else [])
    for batch in files:
        for path, content in zip(batch["path"], batch["content"]):
            if keep_stats:
                rows, corrupt = warc_gz_to_pages(bytes(content))
                for r in rows:
                    r["_source_file"] = path
                    r["_corrupt_members"] = corrupt
            else:
                rows = iter_warc_pages(bytes(content))
            for chunk in _chunks(rows, max_rows):
                yield pd.DataFrame(chunk, columns=cols)


def read_warc(
    spark: SparkSession, path: str, keep_stats: bool = False
) -> DataFrame:
    """``*.warc.gz`` files under ``path`` -> pages DataFrame
    (PAGES_SCHEMA; + ``_source_file``/``_corrupt_members`` when
    ``keep_stats``).  One Arrow task per file; no shuffle.

    Without ``keep_stats`` the returned frame records its binaryFile
    scan as ``_warc_files``, so
    :func:`~dqmtools_spark.pipeline.python_phase` can parse and score
    the files in one Python pass; any transformation returns a new
    frame without it."""
    schema = PAGES_SCHEMA
    if keep_stats:
        schema = T.StructType(PAGES_SCHEMA.fields + _STATS_SCHEMA.fields)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz")
        .load(path)
        .select("path", "content")
    )
    max_rows = arrow_batch_rows(spark)

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return warc_page_frames(batches, max_rows, keep_stats)

    pages = files.mapInPandas(explode, schema=schema)
    if not keep_stats:
        pages._warc_files = files
    return pages


# ------------------------------------------------------------ fixture


def write_warc_gz(records: list[dict], member_per_record: bool = True) -> bytes:
    """Fixture writer: [{uri, date, body, status?, type?}] ->
    spec-shaped .warc.gz bytes (one gzip member per record by default,
    the Common Crawl layout; one big member otherwise)."""
    raws = []
    for rec in records:
        body = rec["body"]
        status = rec.get("status", 200)
        http = (
            f"HTTP/1.1 {status} OK\r\n"
            f"Content-Type: text/html\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body
        rtype = rec.get("type", "response")
        hdr = (
            "WARC/1.0\r\n"
            f"WARC-Type: {rtype}\r\n"
            + (f"WARC-Target-URI: {rec['uri']}\r\n" if rec.get("uri") else "")
            + (f"WARC-Date: {rec['date']}\r\n" if rec.get("date") else "")
            + "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode()
        raws.append(hdr + http + b"\r\n\r\n")
    if member_per_record:
        out = io.BytesIO()
        for raw in raws:
            out.write(gzip.compress(raw))
        return out.getvalue()
    return gzip.compress(b"".join(raws))
