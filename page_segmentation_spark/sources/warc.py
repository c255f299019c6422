"""WARC (Web ARChive, ISO 28500) ingestion source and sink.

Common Crawl — the corpus the north-star Iceberg table is built from —
publishes page captures as ``.warc.gz`` files: a concatenation of
records, each ``WARC/1.0\\r\\n`` + header lines + blank line +
``Content-Length`` payload octets + ``\\r\\n\\r\\n``.  Crawl WARCs gzip
each record as its *own gzip member*, so a file is a concatenation of
gzip members and any member boundary is a valid resume point.

This module turns WARC files into the engine's pages shape
(``url, warc_ts, html, ...`` — see :mod:`..sources.pages_schema`):

  * :func:`read_warc` — ``spark.read.format("binaryFile")`` over a path
    glob, then Arrow-batched ``mapInArrow`` calling the pure-Python
    record parser.  One task per WARC file: that is the standard
    Common-Crawl processing grain (a crawl is ~90k files of ~1 GB, so
    file-level parallelism saturates any cluster; gzip members are not
    splittable without an external index, and ``binaryFile`` cannot
    split mid-file anyway).
  * :func:`parse_warc_bytes` — the shared pure parser (also used by
    tests and usable from a plain Python oracle).
  * :func:`build_warc` — deterministic WARC writer (per-record gzip
    members like Common Crawl, or plain) used for fixtures and as the
    export sink's serializer.

Scale notes: payload bytes never leave the JVM<->Arrow columnar path as
Python objects row-by-row; headers are parsed per record in the worker.
``spark.sql.files.maxPartitionBytes`` does not split binaryFile rows, so
per-file memory is bounded by the largest WARC member — crawl files are
capped at ~1 GB which fits executor memory; for larger archives use
:func:`read_warc_ranges` with a :func:`shard_ranges` manifest (each
shard starts on a gzip-member boundary and parses independently).

Analog of the reference's dataset loading (lib/dataset.py:131-198): the
reference reads page images from disk into arrays; here the "image" is
the raw HTTP response body captured in the WARC record.
"""

from __future__ import annotations

import gzip
import io
import zlib
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from page_segmentation_spark.packaging import freeze_worker_heap

#: WARC record types we materialize as rows (warcinfo/request/metadata
#: records are crawl bookkeeping, not page content).
_CONTENT_TYPES = ("response", "resource", "conversion")

WARC_SCHEMA = (
    "url string, warc_ts timestamp, html binary, rec_type string, "
    "http_status int, warc_file string"
)
_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("rec_type", pa.string()),
        ("http_status", pa.int32()),
        ("warc_file", pa.string()),
    ]
)


def _gunzip_members(data: bytes) -> bytes:
    """Decompress a concatenation of gzip members (the Common-Crawl WARC
    layout).  Plain (non-gzip) input is returned unchanged."""
    if data[:2] != b"\x1f\x8b":
        return data
    # member-by-member zlib.decompressobj (NOT GzipFile.read: a chunked
    # GzipFile read that hits a truncated trailing member raises and
    # discards every byte already decoded in that call) — a truncated or
    # corrupt member (interrupted crawl upload) keeps all complete
    # members; the record parser then stops at the first incomplete
    # record.  Never raise on crawl dirt.
    out = bytearray()
    pos = 0
    while pos < len(data) and data[pos : pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            chunk = d.decompress(data[pos:])
        except zlib.error:
            break
        if not d.eof:  # truncated member: no complete trailer
            break
        out += chunk
        pos = len(data) - len(d.unused_data)
    return bytes(out)


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        if b":" not in line:
            continue
        k, _, v = line.partition(b":")
        headers[k.strip().decode("ascii", "replace").lower()] = (
            v.strip().decode("utf-8", "replace")
        )
    return headers


def _http_split(payload: bytes) -> tuple[int | None, bytes]:
    """Split an HTTP response payload into (status, body).  Non-HTTP
    payloads (resource/conversion records) come back as (None, payload)."""
    if not payload.startswith(b"HTTP/"):
        return None, payload
    head, sep, body = payload.partition(b"\r\n\r\n")
    if not sep:
        return None, payload
    status_line = head.split(b"\r\n", 1)[0].split()
    try:
        status = int(status_line[1])
    except (IndexError, ValueError):
        status = None
    return status, body


def parse_warc_bytes(data: bytes, warc_file: str = "") -> Iterator[dict]:
    """Yield one dict per content record of a WARC byte string (gzip'd
    per-member or plain).  Malformed trailing bytes degrade gracefully:
    parsing stops at the first record without a well-formed header block
    (same contract as the HTML/PDF parsers — never raise on crawl dirt).
    """
    raw = _gunzip_members(data)
    pos = 0
    n = len(raw)
    while pos < n:
        # skip inter-record padding
        while pos < n and raw[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            return
        if not raw.startswith(b"WARC/", pos):
            # mid-stream dirt (one corrupt record must not discard the
            # rest of the file — the gzip-member layout makes every later
            # record independently recoverable): resync by scanning for
            # the next record header.  False positives (a literal
            # "WARC/" inside a payload) only occur here AFTER corruption
            # already broke record framing — the resynced parse then
            # requires a full well-formed header block anyway.
            nxt = raw.find(b"WARC/", pos + 1)
            if nxt < 0:
                return  # trailing dirt — stop, keep what we have
            pos = nxt
            continue
        head_end = raw.find(b"\r\n\r\n", pos)
        if head_end < 0:
            return
        headers = _parse_headers(raw[pos:head_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            # malformed record: skip its header block and resync
            nxt = raw.find(b"WARC/", head_end)
            if nxt < 0:
                return
            pos = nxt
            continue
        body_start = head_end + 4
        payload = raw[body_start : body_start + length]
        pos = body_start + length
        rec_type = headers.get("warc-type", "")
        if rec_type in _CONTENT_TYPES:
            status, body = _http_split(payload)
            yield {
                "url": headers.get("warc-target-uri", ""),
                "warc_ts": headers.get("warc-date", ""),
                "html": body,
                "rec_type": rec_type,
                "http_status": status,
                "warc_file": warc_file,
            }


def _warc_ts_to_us(ts: str) -> int | None:
    """'2024-01-01T00:00:00Z' (WARC/1.0) or '...:00.123456Z' (WARC/1.1
    permits fractional seconds) -> epoch microseconds (UTC), None if
    unparseable.  Pure arithmetic so workers need no tz database."""
    import calendar
    import time

    base, _, frac = ts.rstrip("Z").partition(".")
    try:
        st = time.strptime(base, "%Y-%m-%dT%H:%M:%S")
        us = int(frac[:6].ljust(6, "0")) if frac.isdigit() else 0
        return calendar.timegm(st) * 1_000_000 + us
    except ValueError:
        return None


#: binaryFile source schema (needed explicitly by the streaming reader)
BINARY_FILE_DDL = (
    "path string, modificationTime timestamp, length long, content binary"
)


#: flush the output RecordBatch when accumulated body bytes reach this
#: (pa.binary() carries 32-bit offsets, hard cap 2 GiB per array; a
#: ~1 GB crawl .warc.gz inflates past that, so ONE batch per input file
#: would raise ArrowCapacityError — bounded flushing keeps worker memory
#: and every output array far below the cap).
FLUSH_BYTES = 256 * 1024 * 1024
FLUSH_RECORDS = 65_536


def _bounded_batches(recs: Iterator[dict]) -> Iterator[pa.RecordBatch]:
    """Accumulate parsed records into Arrow RecordBatches, flushing on
    the FLUSH_BYTES / FLUSH_RECORDS bounds; always emits at least one
    (possibly empty) batch so the schema is established."""
    cols: dict[str, list] = {f.name: [] for f in _ARROW_SCHEMA}
    acc_bytes = 0

    def _flush() -> pa.RecordBatch:
        nonlocal acc_bytes
        out = pa.RecordBatch.from_arrays(
            [pa.array(cols[f.name], type=f.type) for f in _ARROW_SCHEMA],
            schema=_ARROW_SCHEMA,
        )
        for v in cols.values():
            v.clear()
        acc_bytes = 0
        return out

    emitted = False
    for rec in recs:
        cols["url"].append(rec["url"])
        cols["warc_ts"].append(_warc_ts_to_us(rec["warc_ts"]))
        cols["html"].append(rec["html"])
        cols["rec_type"].append(rec["rec_type"])
        cols["http_status"].append(rec["http_status"])
        cols["warc_file"].append(rec["warc_file"])
        acc_bytes += len(rec["html"] or b"")
        if acc_bytes >= FLUSH_BYTES or len(cols["url"]) >= FLUSH_RECORDS:
            emitted = True
            yield _flush()
    if cols["url"] or not emitted:
        yield _flush()


def _record_batch_kernel(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    freeze_worker_heap()

    def recs() -> Iterator[dict]:
        for batch in batches:
            d = batch.to_pydict()
            for fpath, content in zip(d["path"], d["content"]):
                yield from parse_warc_bytes(content, warc_file=fpath)

    yield from _bounded_batches(recs())


def warc_records(files: DataFrame) -> DataFrame:
    """Apply the WARC record parser to a binaryFile-shaped DataFrame
    (``path``, ``content`` columns; batch or streaming) -> content
    records ``(url, warc_ts, html, rec_type, http_status, warc_file)``.

    Plan shape: scan -> ArrowEvalPython (the parse kernel) —
    embarrassingly parallel, no shuffle.  Output RecordBatches are
    flushed every FLUSH_BYTES body bytes / FLUSH_RECORDS records so no
    Arrow binary array ever approaches the 2 GiB 32-bit-offset cap,
    whatever one input file inflates to.
    """
    return files.select("path", "content").mapInArrow(
        _record_batch_kernel, WARC_SCHEMA
    )


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC files at ``path`` (glob ok) -> DataFrame of content records.
    Chain with the parse stage for extraction straight off a crawl; see
    :func:`warc_records` for the plan shape."""
    return warc_records(spark.read.format("binaryFile").load(path))


# ------------------------------------------------- byte-range sharding

RANGE_MANIFEST_SCHEMA = "path string, offset long, length long"


def warc_member_offsets(data: bytes) -> list[int]:
    """Byte offsets of every gzip member start in a per-record-gzip'd
    WARC (the Common-Crawl layout).  Walking requires inflating each
    member once (gzip carries no member index), which is why shard
    manifests are computed ONCE at crawl-publish time and reused; for
    plain (uncompressed) input returns [0]."""
    if data[:2] != b"\x1f\x8b":
        return [0]
    offsets = []
    pos = 0
    while pos < len(data) and data[pos : pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            d.decompress(data[pos:])
        except zlib.error:
            break
        if not d.eof:
            break
        offsets.append(pos)
        pos = len(data) - len(d.unused_data)
    return offsets


def shard_ranges(
    path: str, target_bytes: int, data: bytes | None = None
) -> list[tuple[str, int, int]]:
    """Split one .warc.gz into byte-range shards of ~``target_bytes``
    compressed size, each starting AND ending on a gzip-member boundary
    (so every shard parses independently and their union is exactly the
    whole file — no record is split or double-read).  Returns
    ``[(path, offset, length)]`` manifest rows for
    :func:`read_warc_ranges`."""
    if data is None:
        with open(path, "rb") as f:
            data = f.read()
    bounds = warc_member_offsets(data) + [len(data)]
    shards: list[tuple[str, int, int]] = []
    start = bounds[0] if bounds else 0
    for i in range(1, len(bounds)):
        if bounds[i] - start >= target_bytes or i == len(bounds) - 1:
            shards.append((path, start, bounds[i] - start))
            start = bounds[i]
    return shards


def _ranged_kernel(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    freeze_worker_heap()

    def recs() -> Iterator[dict]:
        for batch in batches:
            d = batch.to_pydict()
            for path, off, ln in zip(d["path"], d["offset"], d["length"]):
                local = path[7:] if path.startswith("file://") else (
                    path[5:] if path.startswith("file:") else path
                )
                with open(local, "rb") as f:
                    f.seek(off)
                    data = f.read(ln)
                yield from parse_warc_bytes(data, warc_file=path)

    yield from _bounded_batches(recs())


def read_warc_ranges(spark: SparkSession, shards) -> DataFrame:
    """WARC ingestion from a manifest of byte-range shards — the scale
    path for archives LARGER than executor memory, where whole-file
    ``binaryFile`` rows (which Spark cannot split) would not fit.

    ``shards``: a DataFrame with RANGE_MANIFEST_SCHEMA columns, or a
    list of ``(path, offset, length)`` tuples (e.g. from
    :func:`shard_ranges`).  Each shard must start on a gzip-member
    boundary — any member boundary is a valid resume point, so shard
    parses are independent and their union is byte-identical to the
    whole-file read (pinned by test_warc_range_shards).  Workers read
    only their range (seek+read here; a ranged GET against object
    storage in a real deployment), so per-task memory is bounded by the
    shard size, not the archive size."""
    if not isinstance(shards, DataFrame):
        shards = spark.createDataFrame(
            [(p, int(o), int(ln)) for p, o, ln in shards],
            RANGE_MANIFEST_SCHEMA,
        )
    return shards.select("path", "offset", "length").mapInArrow(
        _ranged_kernel, WARC_SCHEMA
    )


# ------------------------------------------------------------------ writer


def _record(rec_type: str, url: str, ts: str, payload: bytes) -> bytes:
    ctype = (
        "application/http; msgtype=response"
        if rec_type == "response"
        else "text/plain"  # conversion/resource records (WET shape)
    )
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {rec_type}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts}\r\n"
        f"Content-Type: {ctype}\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode("ascii")
    return head + payload + b"\r\n\r\n"


def build_warc(
    records: list[dict],
    per_record_gzip: bool = True,
) -> bytes:
    """Serialize ``[{url, ts, body(bytes), status?, rec_type?}]`` into
    WARC bytes.  ``per_record_gzip=True`` reproduces the Common-Crawl
    member-per-record layout; deterministic (gzip mtime pinned to 0)."""
    out = bytearray()
    for r in records:
        rec_type = r.get("rec_type", "response")
        if rec_type == "response":
            status = r.get("status", 200)
            payload = (
                f"HTTP/1.1 {status} OK\r\n"
                f"Content-Type: text/html; charset=UTF-8\r\n\r\n"
            ).encode("ascii") + r["body"]
        else:
            payload = r["body"]
        rec = _record(rec_type, r["url"], r["ts"], payload)
        if per_record_gzip:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(rec)
            out += buf.getvalue()
        else:
            out += rec
    return bytes(out)


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Common-Crawl WET (extracted-text) ingestion: WET files are WARC
    files whose ``conversion`` records carry the ALREADY-EXTRACTED
    plain text of each page, so this source feeds the text funnel
    (C4/Gopher/langid/dedup — ``plans.training_corpus.
    corpus_features_from_text``) directly, skipping the HTML parse and
    extraction stages entirely.  Same plan shape as :func:`read_warc`
    (binaryFile scan -> one Arrow parse stage, no shuffle); the decode
    to string is a JVM-side projection."""
    recs = read_warc(spark, path)
    from pyspark.sql import functions as F

    return recs.where(F.col("rec_type") == "conversion").select(
        "url",
        "warc_ts",
        F.decode(F.col("html"), "UTF-8").alias("text"),
        "warc_file",
    )


def build_wet(records: list[dict], per_record_gzip: bool = True) -> bytes:
    """Serialize ``[{url, ts, text}]`` into WET bytes (WARC conversion
    records, text/plain payloads, per-record gzip members like the
    published Common-Crawl WET layout); deterministic."""
    return build_warc(
        [
            {
                "url": r["url"],
                "ts": r["ts"],
                "rec_type": "conversion",
                "body": r["text"].encode("utf-8"),
            }
            for r in records
        ],
        per_record_gzip=per_record_gzip,
    )


def write_wet(
    df: DataFrame,
    output_dir: str,
    url_col: str = "url",
    text_col: str = "clean_text",
    ts: str = "2024-01-01T00:00:00Z",
) -> int:
    """Export a corpus table as sharded WET files — the format the
    open-data ecosystem already consumes (one ``part-NNNNN.warc.wet.gz``
    per partition, conversion records with per-record gzip members,
    rows serialized in deterministic url order within each shard).

    Embarrassingly parallel: each task serializes ITS partition with
    :func:`build_wet` and writes one shard via write-temp-then-rename
    (idempotent under task retries — a re-executed task atomically
    replaces its own shard); a ``_SUCCESS`` marker lands after the
    action completes.  Returns the number of non-empty shards.  At
    cluster scale ``output_dir`` is a mounted object store; repartition
    upstream to choose the shard count/size."""
    import os

    from pyspark.sql import functions as F

    os.makedirs(output_dir, exist_ok=True)
    pruned = df.select(
        F.col(url_col).alias("url"), F.col(text_col).alias("text")
    )

    def dump(pid: int, it):
        rows = sorted((r["url"], r["text"]) for r in it)
        if not rows:
            return iter(())
        payload = build_wet(
            [{"url": u, "ts": ts, "text": t or ""} for u, t in rows]
        )
        final = os.path.join(output_dir, f"part-{pid:05d}.warc.wet.gz")
        tmp = final + ".inprogress"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, final)  # atomic publish
        return iter((1,))

    n = (
        pruned.rdd.mapPartitionsWithIndex(dump, preservesPartitioning=True)
        .sum()
    )
    with open(os.path.join(output_dir, "_SUCCESS"), "w") as f:
        f.write("")
    return int(n)
