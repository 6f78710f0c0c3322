"""WARC (ISO 28500 / WARC 1.1) web-archive ingestion.

Reference equivalent: the batch file scan was an unimplemented TODO
(``src/batch/batch_etl.py:12-20``); this module extends the engine's
first-class file-scan surface (S11, ``sources/files.py``) to the
standard web-archive container, so the crawl-hygiene stack (URL
canonicalization, PSL/robots gating, main-content extraction, quality
scoring, dedup) runs end-to-end from capture files — the shape every
CommonCrawl-derived 100 TB corpus build actually starts from. Built
from the public specs only: ISO 28500 (WARC), RFC 9110/9112 (HTTP
message framing, chunked transfer coding), and the CDX(J) index
conventions published by the web-archiving community.

Layout recap (ISO 28500 §4): a WARC file is a concatenation of
records, each

    WARC/1.1<CRLF>
    <named-field>: <value><CRLF> ...        (header block)
    <CRLF>
    <Content-Length octets of block>
    <CRLF><CRLF>                            (record trailer)

``.warc.gz`` files are a concatenation of independent gzip MEMBERS,
one record per member (ISO 28500 annex D recommends this so archives
stay splittable) — decoded member-by-member here, so one corrupt
member quarantines one record, never the file.

Execution shape: file bytes arrive as ``binaryFile`` rows
(``files.read_binary_files``) and records are extracted in ONE
Arrow-batched ``mapInPandas`` pass (``warc_records``) — the per-record
byte slicing is inherently imperative (Content-Length framing), which
is exactly the "(b) Pandas-UDF-backed" tier; everything downstream of
the parse (status filters, URL keys, aggregation) stays in JVM column
expressions. Malformed records are quarantined IN-BAND (``valid =
false`` + ``error``), the r10 #5 observability rule: a 100 TB ingest
must be able to audit its drop rate with one aggregate.

Scale notes:
  * offsets/lengths are emitted in the STORED file's coordinates
    (compressed-member offsets for .warc.gz — the CDX convention), so
    a downstream ranged-fetch can re-read any single record without
    rescanning the file;
  * one file = one parse task; at CommonCrawl shapes (~1 GiB files,
    10⁵–10⁶ of them) parallelism comes from the file count. Listing
    beyond 10⁷ files should move to a manifest table
    (``files.read_binary_files`` note);
  * digests verify AT THE EDGE (``*_digest_ok``): shipping a corrupt
    payload into a multi-week corpus build costs far more than one
    sha1 per record at ingest.
"""

from __future__ import annotations

import base64
import hashlib
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GZIP_MAGIC = b"\x1f\x8b"

_CRLF = b"\r\n"

# output schema of warc_records (one row per WARC record, valid or not)
WARC_RECORDS_SCHEMA = (
    "path string, record_offset long, record_length long, "
    "warc_version string, warc_type string, record_id string, "
    "target_uri string, warc_date string, content_type string, "
    "content_length long, block_digest_ok boolean, "
    "payload_digest_ok boolean, http_status int, http_reason string, "
    "http_content_type string, http_location string, "
    "http_payload binary, valid boolean, error string"
)

_PANDAS_DTYPES = {
    "path": "object",
    "record_offset": "int64",
    "record_length": "int64",
    "warc_version": "object",
    "warc_type": "object",
    "record_id": "object",
    "target_uri": "object",
    "warc_date": "object",
    "content_type": "object",
    "content_length": "Int64",
    "block_digest_ok": "boolean",  # nullable (None = no digest claimed)
    "payload_digest_ok": "boolean",
    "http_status": "Int64",
    "http_reason": "object",
    "http_content_type": "object",
    "http_location": "object",
    "http_payload": "object",
    "valid": "bool",
    "error": "object",
}


# ---------------------------------------------------------------------------
# byte-level parsing (pure Python, runs inside the Arrow batch pass)
# ---------------------------------------------------------------------------


_GZ_CHUNK = 1 << 20


def split_gzip_members(data: bytes) -> Iterator[tuple[int, int, bytes | None]]:
    """Yield ``(compressed_offset, compressed_length, decompressed)``
    per gzip member of a multi-member stream. A member that fails CRC
    or truncates yields ``decompressed = None`` (caller quarantines)
    and iteration stops — past a broken member the next boundary is
    unknowable without a byte-wise magic scan, which false-positives
    on 0x1f8b inside compressed payloads.

    The decompressor is fed fixed-size chunks, never the whole tail:
    a tail slice per member is O(members x filesize) byte copying —
    tens of TB of memcpy on a CommonCrawl-shape file (~1 GiB, tens of
    thousands of members), the exact layout this module recommends.
    At most one chunk overshoots a member boundary, so the re-slice
    cost is bounded by the chunk size."""
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out = bytearray()
        p = pos
        try:
            while p < n and not d.eof:
                chunk = data[p : p + _GZ_CHUNK]
                out += d.decompress(chunk)
                p += len(chunk)
            if not d.eof:  # truncated final member
                yield pos, n - pos, None
                return
        except zlib.error:
            yield pos, n - pos, None
            return
        end = p - len(d.unused_data)
        yield pos, end - pos, bytes(out)
        pos = end


def _parse_headers(raw: bytes) -> tuple[dict[str, str], str]:
    """Parse a CRLF (bare-LF tolerated) header block into a dict keyed
    by lower-cased field name, last occurrence winning, plus the first
    line (version / status line). Continuation lines (obs-fold) append
    to the previous value with one space, per RFC 9112 §5.2."""
    lines = raw.decode("latin-1").split("\n")
    first = lines[0].rstrip("\r")
    headers: dict[str, str] = {}
    last_key: str | None = None
    for line in lines[1:]:
        line = line.rstrip("\r")
        if not line:
            continue
        if line[0] in " \t" and last_key is not None:
            headers[last_key] = headers[last_key] + " " + line.strip()
            continue
        key, sep, value = line.partition(":")
        if not sep:
            continue  # junk line: ignored, like robots keying
        last_key = key.strip().lower()
        headers[last_key] = value.strip()
    return headers, first


def _digest_ok(claimed: str | None, payload: bytes) -> bool | None:
    """Verify a WARC digest field (``sha1:B32...`` / ``sha256:...``,
    base32 per the spec's labelled-digest examples, hex tolerated).
    None when no digest was claimed or the algorithm is unknown —
    'unverifiable' must stay distinguishable from 'failed'."""
    if not claimed:
        return None
    algo, sep, value = claimed.partition(":")
    if not sep:
        return None
    algo = algo.strip().lower()
    if algo not in ("sha1", "sha256"):
        return None
    digest = hashlib.new(algo, payload).digest()
    value = value.strip()
    b32 = base64.b32encode(digest).decode("ascii")
    return value.upper().rstrip("=") in (b32.rstrip("="), digest.hex().upper())


def dechunk(payload: bytes) -> bytes:
    """Decode an RFC 9112 §7.1 chunked transfer coding. Raises
    ValueError on malformed framing (caller quarantines)."""
    out = bytearray()
    pos = 0
    while True:
        eol = payload.find(_CRLF, pos)
        if eol < 0:
            raise ValueError("chunked: missing size line")
        size_token = payload[pos:eol].split(b";", 1)[0].strip()
        # pure hex digits only: int(x, 16) would also accept '-6',
        # '+6', '0x6' and '6_0' — a negative size moves pos BACKWARDS
        # into an infinite loop, pinning an executor task forever
        if not size_token or any(c not in b"0123456789abcdefABCDEF" for c in size_token):
            raise ValueError(f"chunked: bad size {size_token!r}")
        size = int(size_token, 16)
        pos = eol + 2
        if size == 0:
            return bytes(out)  # trailers (if any) are framing, not payload
        if pos + size > len(payload):
            raise ValueError("chunked: truncated chunk data")
        out += payload[pos : pos + size]
        pos += size
        if payload[pos : pos + 2] != _CRLF:
            raise ValueError("chunked: missing chunk terminator")
        pos += 2


def http_charset(content_type: str | None) -> str | None:
    """Extract ``charset=`` from a Content-Type value (lower-cased,
    quotes stripped), None when absent."""
    if not content_type:
        return None
    for part in content_type.split(";")[1:]:
        key, sep, value = part.partition("=")
        if sep and key.strip().lower() == "charset":
            return value.strip().strip('"').strip("'").lower() or None
    return None


def parse_http_response(block: bytes) -> dict:
    """Split an HTTP/1.x response message into status / reason /
    headers / payload. Chunked transfer coding is decoded (the stored
    payload digest, if any, refers to the bytes AS STORED, so digest
    verification happens before de-chunking — documented choice
    matching how crawlers record WARC-Payload-Digest). Raises
    ValueError on an unparseable status line."""
    # head/body boundary = the FIRST blank line under either newline
    # convention (same rule as the record parser): an LF-framed header
    # block followed by a payload that happens to contain CRLFCRLF
    # must not donate payload bytes to the header block
    crlf_sep = block.find(b"\r\n\r\n")
    lf_sep = block.find(b"\n\n")
    if crlf_sep >= 0 and (lf_sep < 0 or crlf_sep <= lf_sep):
        head, payload = block[:crlf_sep], block[crlf_sep + 4 :]
    elif lf_sep >= 0:
        head, payload = block[:lf_sep], block[lf_sep + 2 :]
    else:
        head, payload = block, b""
    headers, status_line = _parse_headers(head)
    parts = status_line.split(" ", 2)
    if len(parts) < 2 or not parts[0].upper().startswith("HTTP/"):
        raise ValueError(f"bad status line {status_line!r}")
    try:
        status = int(parts[1])
    except ValueError as exc:
        raise ValueError(f"bad status code {parts[1]!r}") from exc
    reason = parts[2] if len(parts) > 2 else ""
    stored_payload = payload
    # RFC 9112 §6.1: Transfer-Encoding is a coding LIST and chunked,
    # when present, must be the FINAL coding — 'gzip, chunked' is
    # spec-legal and must still de-chunk (an exact-match test would
    # ship raw chunk framing downstream with valid=true)
    te = headers.get("transfer-encoding", "")
    if te and te.split(",")[-1].strip().lower() == "chunked":
        payload = dechunk(payload)
    return {
        "status": status,
        "reason": reason,
        "headers": headers,
        "payload": payload,
        "stored_payload": stored_payload,
    }


def parse_warc_stream(data: bytes, base_offset: int = 0, stored_length: int | None = None) -> Iterator[dict]:
    """Iterate WARC records in an UNCOMPRESSED byte buffer. Yields one
    dict per record with raw fields + block bytes; a framing failure
    yields a single ``valid=False`` record covering the unparseable
    remainder and stops (Content-Length is the only framing — after a
    lie there is no trustworthy resync point in plain WARC; per-member
    gzip archives don't have this failure domain, see
    ``split_gzip_members``).

    ``base_offset``/``stored_length`` let gzip callers report offsets
    in the stored (compressed) file's coordinates, the CDX convention:
    EVERY record parsed out of one member — extra records past the
    first and quarantine rows included — carries the member's
    (base_offset, stored_length), because the member is the smallest
    stored unit a ranged fetch can re-read (mixing the compressed base
    with uncompressed in-member positions would point outside the
    file).
    """
    gz = stored_length is not None
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate stray CRLFs between records (some writers pad)
        while pos < n and data[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            return
        start = pos
        # header/body boundary = the FIRST blank line under either
        # convention: a bare-LF header block still has a CRLFCRLF
        # further on (the record trailer), so take the earlier match
        crlf_end = data.find(b"\r\n\r\n", pos)
        lf_end = data.find(b"\n\n", pos)
        if crlf_end >= 0 and (lf_end < 0 or crlf_end + 1 <= lf_end):
            head_end, lf_only = crlf_end, False
        else:
            head_end, lf_only = lf_end, True
        if head_end < 0:
            yield _invalid(*_rec_coords(gz, base_offset, stored_length, start, n), "truncated header block")
            return
        head = data[pos:head_end]
        headers, first = _parse_headers(head)
        if not first.upper().startswith("WARC/"):
            yield _invalid(*_rec_coords(gz, base_offset, stored_length, start, n), f"bad version line {first!r}")
            return
        if any(
            line[:1] not in (b" ", b"\t")  # obs-folds belong to a named field
            and (i := line.find(b"WARC/")) >= 0
            and line.find(b":", 0, i) < 0
            for line in head.split(b"\n")[1:]
        ):
            # a version line INSIDE a header block means a truncated
            # record ran into the next one (possibly mid-line, so the
            # WARC/ token need not start the line) — parsing the merged
            # block would frame on the WRONG Content-Length and
            # silently swallow records. A legitimate field VALUE
            # containing "WARC/" keeps its name's ':' BEFORE the token
            # and is not flagged.
            yield _invalid(*_rec_coords(gz, base_offset, stored_length, start, n), "framing merge: embedded version line")
            return
        body_start = head_end + (2 if lf_only else 4)
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            yield _invalid(*_rec_coords(gz, base_offset, stored_length, start, n), "missing/bad Content-Length")
            return
        if body_start + clen > n:
            yield _invalid(*_rec_coords(gz, base_offset, stored_length, start, n), "truncated block")
            return
        block = data[body_start : body_start + clen]
        pos = body_start + clen
        # consume the record trailer (two CRLFs); tolerate a short tail
        for _ in range(2):
            if data[pos : pos + 2] == _CRLF:
                pos += 2
            elif data[pos : pos + 1] == b"\n":
                pos += 1
        offset, length = _rec_coords(gz, base_offset, stored_length, start, n)
        if not gz:
            length = pos - start
        yield {
            "offset": offset,
            "length": length,
            "version": first,
            "headers": headers,
            "block": block,
            "valid": True,
            "error": None,
        }


def _rec_coords(gz: bool, base_offset: int, stored_length: int | None, start: int, n: int) -> tuple[int, int]:
    """Stored-file coordinates of the record beginning at uncompressed
    position ``start``: the containing member's (offset, length) in
    gzip mode, the record's own byte range in plain mode (length of a
    plain INVALID row = the whole unparseable remainder)."""
    if gz:
        return base_offset, stored_length
    return base_offset + start, n - start


def _invalid(offset: int, length: int, error: str) -> dict:
    return {
        "offset": offset,
        "length": length,
        "version": None,
        "headers": {},
        "block": b"",
        "valid": False,
        "error": error,
    }


def iter_warc_file(data: bytes) -> Iterator[dict]:
    """Record iterator over either container: multi-member gzip
    (.warc.gz — offsets/lengths in compressed coordinates) or plain
    WARC bytes."""
    if data[:2] == GZIP_MAGIC:
        for off, length, member in split_gzip_members(data):
            if member is None:
                yield _invalid(off, length, "corrupt gzip member")
                return
            yield from parse_warc_stream(member, base_offset=off, stored_length=length)
    else:
        yield from parse_warc_stream(data)


def _record_row(path: str, rec: dict, need_payload: bool = True) -> dict:
    """Flatten one parsed record (+ HTTP sub-parse for responses) into
    the WARC_RECORDS_SCHEMA row dict. ``need_payload=False`` (r12) is
    the header-only projection for CDX-style consumers: the HTTP
    sub-parse still runs in full (``valid`` / status / header columns
    are identical), but the payload bytes are not shipped out of the
    parser and the per-record digest hashing is skipped —
    ``http_payload`` / ``*_digest_ok`` read NULL."""
    headers = rec["headers"]
    block = rec["block"]
    row = {
        "path": path,
        "record_offset": rec["offset"],
        "record_length": rec["length"],
        "warc_version": rec["version"],
        "warc_type": headers.get("warc-type"),
        "record_id": headers.get("warc-record-id"),
        "target_uri": headers.get("warc-target-uri"),
        "warc_date": headers.get("warc-date"),
        "content_type": headers.get("content-type"),
        "content_length": len(block) if rec["valid"] else None,
        "block_digest_ok": None,
        "payload_digest_ok": None,
        "http_status": None,
        "http_reason": None,
        "http_content_type": None,
        "http_location": None,
        "http_payload": None,
        "valid": rec["valid"],
        "error": rec["error"],
    }
    if not rec["valid"]:
        return row
    if need_payload:
        row["block_digest_ok"] = _digest_ok(headers.get("warc-block-digest"), block)
    ctype = (headers.get("content-type") or "").lower()
    if "msgtype=response" in ctype.replace(" ", "") or (
        row["warc_type"] == "response" and ctype.startswith("application/http")
    ):
        try:
            http = parse_http_response(block)
        except ValueError as exc:
            row["valid"] = False
            row["error"] = f"http: {exc}"
            return row
        if need_payload:
            row["payload_digest_ok"] = _digest_ok(
                headers.get("warc-payload-digest"), http["stored_payload"]
            )
        row["http_status"] = http["status"]
        row["http_reason"] = http["reason"]
        row["http_content_type"] = http["headers"].get("content-type")
        row["http_location"] = http["headers"].get("location")
        if need_payload:
            row["http_payload"] = http["payload"]
    return row


# ---------------------------------------------------------------------------
# DataFrame operator
# ---------------------------------------------------------------------------


def warc_records(df: DataFrame, need_payload: bool = True) -> DataFrame:
    """Explode binary WARC/WARC.GZ payload rows into typed record rows
    in one Arrow pass — schema ``WARC_RECORDS_SCHEMA``. Input shape is
    ``binaryFile``'s (``files.read_binary_files``) or any (path,
    content) pair. NULL payloads are skipped (no archive at all);
    malformed records/members survive as ``valid = false`` rows with
    the failure reason, so the drop rate is one aggregate away.

    ``need_payload=False`` (r12, guide §4: pass only the columns the
    consumer needs across the Python→JVM boundary) is the header-only
    projection for CDX/offset-index consumers: framing, HTTP sub-parse,
    ``valid`` and every header column are byte-identical, but payload
    bytes never leave the parser and per-record digest hashing is
    skipped — ``http_payload`` / ``*_digest_ok`` read NULL. At capture
    scale that removes ~99% of the Arrow bytes shipped into the JVM
    for queries that only read the envelope."""
    from cdc_pipeline_spark.operators.partitioning import ensure_parallelism as spread

    narrow = spread(df.select("path", "content"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            batch = batch[batch["content"].notna()]
            rows = [
                _record_row(path, rec, need_payload)
                for path, content in zip(batch["path"], batch["content"])
                for rec in iter_warc_file(bytes(content))
            ]
            # explicit dtypes: an empty batch must not infer null-typed
            # columns against the declared schema (ADVICE r10 pattern)
            out = pd.DataFrame(
                {
                    name: pd.Series(
                        [r[name] for r in rows], dtype=_PANDAS_DTYPES[name]
                    )
                    for name in _PANDAS_DTYPES
                }
            )
            yield out

    return narrow.mapInPandas(run, WARC_RECORDS_SCHEMA)


_BINARY_FILE_SCHEMA = "path string, modificationTime timestamp, length long, content binary"


def stream_warc_records(spark, path: str, glob: str | None = None) -> DataFrame:
    """Streaming WARC ingest: new capture files landing in ``path``
    explode into typed record rows micro-batch by micro-batch — the
    continuously-fed bronze layer of a crawl pipeline. Spark's
    ``binaryFile`` source streams whole files, so each file is parsed
    exactly once per trigger; ``warc_records`` is stateless
    (mapInPandas), so the stream needs no watermark and restarts
    cleanly from the file-source checkpoint. Offsets/lengths stay in
    stored-file coordinates, exactly as in batch — a downstream CDX
    twin sees identical rows either way (golden-tested)."""
    reader = spark.readStream.format("binaryFile").schema(_BINARY_FILE_SCHEMA)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return warc_records(reader.load(path))


# ---------------------------------------------------------------------------
# serialization (fixtures, tests, and the write direction)
# ---------------------------------------------------------------------------


def write_warc_files(df: DataFrame, directory: str) -> DataFrame:
    """WARC write direction: serialize (warc_type, headers map, block
    binary) rows into one archive shard per partition — re-sharding /
    re-publishing a filtered or deduplicated corpus back into the
    format downstream crawlers and replayers consume. Records stream
    to the shard file one at a time (memory = one record, not one
    shard), each as its own gzip member so the output stays
    ranged-fetchable and split-safe (ISO 28500 annex D).

    Returns a manifest DataFrame — (path, n_records, n_bytes) per
    written shard, empty partitions skipped — which materializes the
    writes when acted on (the foreachPartition-with-receipt sink
    pattern: the manifest IS the audit trail a 100 TB republish
    needs). Paths are deterministic per partition id, so a retried
    task overwrites its own shard instead of duplicating it
    (idempotent under Spark's task re-execution). Writes land on the
    executor-visible filesystem (local/NFS); an object store needs a
    filesystem layer mounted, as with any side-effect sink."""
    import os

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        path = os.path.join(directory, f"part-{pid:05d}.warc.gz")
        n_records = 0
        n_bytes = 0
        out = None
        try:
            for batch in batches:
                for warc_type, headers, block in zip(
                    batch["warc_type"], batch["headers"], batch["block"]
                ):
                    rec = gzip_member(
                        build_record(str(warc_type), dict(headers or {}), bytes(block or b""))
                    )
                    if out is None:
                        os.makedirs(directory, exist_ok=True)
                        out = open(path, "wb")
                    out.write(rec)
                    n_records += 1
                    n_bytes += len(rec)
        finally:
            if out is not None:
                out.close()
        if n_records:
            yield pd.DataFrame(
                {
                    "path": pd.Series([path], dtype="object"),
                    "n_records": pd.Series([n_records], dtype="int64"),
                    "n_bytes": pd.Series([n_bytes], dtype="int64"),
                }
            )

    narrow = df.select("warc_type", "headers", "block")
    return narrow.mapInPandas(run, "path string, n_records long, n_bytes long")


def build_record(warc_type: str, headers: dict[str, str], block: bytes) -> bytes:
    """Serialize one WARC record (spec field order is free; we emit
    WARC-Type first, then caller headers, then Content-Length)."""
    lines = ["WARC/1.1".encode("ascii"), b"WARC-Type: " + warc_type.encode("ascii")]
    for key, value in headers.items():
        lines.append(f"{key}: {value}".encode("latin-1"))
    lines.append(f"Content-Length: {len(block)}".encode("ascii"))
    return _CRLF.join(lines) + _CRLF * 2 + block + _CRLF * 2


def gzip_member(data: bytes) -> bytes:
    """One deterministic gzip member (mtime pinned to 0 so archives are
    byte-reproducible across runs — required by replay tests)."""
    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    # a fixed header needs mtime=0: compressobj already writes mtime=0
    return co.compress(data) + co.flush()


def build_warc(records: list[bytes], per_record_gzip: bool = False) -> bytes:
    """Concatenate serialized records into a .warc (or, member-per-
    record, a .warc.gz) byte string."""
    if per_record_gzip:
        return b"".join(gzip_member(r) for r in records)
    return b"".join(records)


def http_response_block(
    status: int,
    reason: str,
    headers: dict[str, str],
    payload: bytes,
) -> bytes:
    lines = [f"HTTP/1.1 {status} {reason}".encode("latin-1")]
    lines += [f"{k}: {v}".encode("latin-1") for k, v in headers.items()]
    return _CRLF.join(lines) + _CRLF * 2 + payload


def payload_digest_header(payload: bytes, algo: str = "sha256") -> str:
    """Spec-style labelled digest value (base32, as WARC writers emit
    for sha1; same convention kept for sha256)."""
    digest = hashlib.new(algo, payload).digest()
    return f"{algo}:{base64.b32encode(digest).decode('ascii')}"
