"""Avro Object Container Files (OCF) from scratch — the jar-free batch
Avro lake/interchange format, completing the S11 format matrix
(parquet/CSV/JSON/ORC/XML/binaryFile/**avro**).

Implements the **public Avro 1.11 container spec** over the existing
binary codec (``avro_codec.compile_encoder/compile_decoder``):

  * header: magic ``Obj\\x01`` + metadata map (``avro.schema``,
    ``avro.codec``) + a 16-byte sync marker;
  * data blocks: record count (zig-zag long), byte size (zig-zag long),
    serialized records, sync marker repeated after every block;
  * codecs: ``null`` (default) and ``deflate`` (raw RFC-1951 stream via
    zlib at wbits −15 — bounded on decompress: the byte budget is
    enforced WITH ``decompressobj(...).decompress(data, max_length)``,
    never after, so a hostile deflate bomb costs at most the budget).

Same deliberate subset as the codec module: no schema resolution
(reader uses the embedded writer schema), no enums/fixed/recursive
types, no snappy (not in the container's stdlib).

Scale shape (``sources.files.read_avro/write_avro``): OCF is a
ROW-ORIENTED interchange edge like XML, not a lake format — no column
pruning, no predicate pushdown, whole-file decode in Python. The Spark
plumbing is still fully parallel: the writer encodes each partition
into one container file inside an Arrow ``mapInPandas`` pass (no
driver funnel, no shuffle), and the reader decodes one file per task
from a ``binaryFile`` scan. Convert to parquet at the boundary; a
100 TB pipeline should meet Avro only at ingest edges (Kafka, vendor
feeds), exactly like the reference meets it only on the wire
(``src/streaming/kafka_sources.py:66-84``).
"""

from __future__ import annotations

import hashlib
import json
import zlib
from typing import Iterable, Iterator

from cdc_pipeline_spark.sources.avro_codec import (
    _Cursor,
    _zigzag_bytes,
    compile_decoder,
    compile_encoder,
)

MAGIC = b"Obj\x01"
_CODECS = ("null", "deflate")
DEFAULT_MAX_BLOCK_BYTES = 1 << 26  # 64 MiB decoded per block


def _sync_marker(schema_json: str, salt: str) -> bytes:
    """Deterministic 16-byte sync marker (spec says 'randomly generated';
    determinism makes retried task attempts byte-identical, which is
    what makes the tmp+rename write idempotent)."""
    return hashlib.sha256(f"{schema_json}\x00{salt}".encode()).digest()[:16]


def ocf_header_bytes(schema_json: str, codec: str, sync: bytes) -> bytes:
    """Container header: magic + metadata map + sync marker."""
    if codec not in _CODECS:
        raise ValueError(f"unsupported Avro codec {codec!r} (supported: {_CODECS})")
    out = bytearray()
    out += MAGIC
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    out += _zigzag_bytes(len(meta))
    for k, v in sorted(meta.items()):
        kb = k.encode()
        out += _zigzag_bytes(len(kb))
        out += kb
        out += _zigzag_bytes(len(v))
        out += v
    out += _zigzag_bytes(0)  # metadata map terminator
    out += sync
    return bytes(out)


def ocf_block_bytes(
    records: Iterable[dict], encode, codec: str, sync: bytes
) -> bytes:
    """One data block (possibly empty → b'') — count, size, payload,
    sync. Streaming writers append these after one header."""
    block = bytearray()
    count = 0
    for rec in records:
        block += encode(rec)
        count += 1
    if not count:
        return b""
    payload = bytes(block)
    if codec == "deflate":
        co = zlib.compressobj(wbits=-15)
        payload = co.compress(payload) + co.flush()
    out = bytearray()
    out += _zigzag_bytes(count)
    out += _zigzag_bytes(len(payload))
    out += payload
    out += sync
    return bytes(out)


def write_ocf_bytes(
    records: Iterable[dict],
    schema_json: str,
    codec: str = "null",
    records_per_block: int = 1000,
) -> bytes:
    """Serialize records into one complete OCF byte string."""
    encode = compile_encoder(schema_json)
    sync = _sync_marker(schema_json, "")
    out = bytearray(ocf_header_bytes(schema_json, codec, sync))
    batch: list[dict] = []
    for rec in records:
        batch.append(rec)
        if len(batch) >= records_per_block:
            out += ocf_block_bytes(batch, encode, codec, sync)
            batch = []
    out += ocf_block_bytes(batch, encode, codec, sync)
    return bytes(out)


def read_ocf_schema(blob: bytes) -> str:
    """Parse just the header and return the embedded writer schema JSON."""
    schema_json, _codec, _sync, _cur = _read_header(blob)
    return schema_json


def _read_header(blob: bytes) -> tuple[str, str, bytes, _Cursor]:
    cur = _Cursor(blob)
    if cur.take(4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = cur.read_long()
        if n == 0:
            break
        if n < 0:  # block byte-size form
            cur.read_long()
            n = -n
        for _ in range(n):
            key = cur.take(cur.read_long()).decode("utf-8")
            meta[key] = cur.take(cur.read_long())
    schema_raw = meta.get("avro.schema")
    if schema_raw is None:
        raise ValueError("OCF header missing avro.schema")
    codec = meta.get("avro.codec", b"null").decode("utf-8") or "null"
    if codec not in _CODECS:
        raise ValueError(f"unsupported Avro codec {codec!r} (supported: {_CODECS})")
    sync = cur.take(16)
    return schema_raw.decode("utf-8"), codec, sync, cur


def read_ocf_bytes(
    blob: bytes, max_block_bytes: int = DEFAULT_MAX_BLOCK_BYTES
) -> Iterator[dict]:
    """Iterate the records of one OCF blob (embedded writer schema)."""
    schema_json, codec, sync, cur = _read_header(blob)
    decode = compile_decoder(schema_json)
    while cur.pos < len(cur.buf):
        count = cur.read_long()
        size = cur.read_long()
        if count < 0 or size < 0:
            raise ValueError("corrupt OCF block header (negative count/size)")
        data = cur.take(size)
        if codec == "deflate":
            do = zlib.decompressobj(wbits=-15)
            # bound enforced DURING decompress — a deflate bomb cannot
            # allocate past the budget before the check fires
            data = do.decompress(data, max_block_bytes + 1)
            if len(data) > max_block_bytes or not do.eof or do.unused_data:
                # unused_data: trailing garbage after the deflate stream
                # is rejected like every other trailing-bytes case here
                raise ValueError(
                    f"OCF deflate block exceeds max_block_bytes={max_block_bytes}"
                    if len(data) > max_block_bytes or not do.eof
                    else "trailing bytes after OCF deflate stream"
                )
        elif size > max_block_bytes:
            raise ValueError(
                f"OCF block of {size} bytes exceeds max_block_bytes={max_block_bytes}"
            )
        inner = _Cursor(data)
        reader = decode.reader  # type: ignore[attr-defined]
        for _ in range(count):
            yield reader(inner)
        if inner.pos != len(inner.buf):
            raise ValueError("trailing bytes after OCF block records")
        if cur.take(16) != sync:
            raise ValueError("OCF sync marker mismatch (corrupt or split block)")
