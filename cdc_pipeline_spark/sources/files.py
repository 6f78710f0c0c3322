"""File sources (batch + streaming).

Reference equivalent: the batch file scan was an unimplemented TODO
(``src/batch/batch_etl.py:12-20``); the new engine makes file scans a
first-class source. For tests, a file-backed streaming reader stands in
for the Kafka source (same DataFrame shape downstream).

Scale notes:
  * readers always pass a declared schema — no inference job over 100 TB;
  * filters/projections applied by callers reach the parquet scan
    (PushedFilters / ReadSchema) because nothing here materializes;
  * ``maxFilesPerTrigger`` bounds micro-batch size for streaming reads
    the way ``maxOffsetsPerTrigger`` would for Kafka.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pyspark.sql import functions as F

from cdc_pipeline_spark import schemas as schema_registry

# Columns that some generators store as parquet TIMESTAMP(NANOS) — Spark
# has no nanos type, so those arrive as nanosecond longs
# (spark.sql.legacy.parquet.nanosAsLong) and are floor-converted to µs
# TimestampType here, matching DuckDB's ns→µs truncation so oracle
# comparisons agree. Detected from the parquet footer per path (cached):
# current testdata writes plain µs timestamps, which need no conversion.
_MAYBE_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

_nanos_cols_cache: dict[str, tuple[str, ...]] = {}


def _nanos_ts_cols(path: str, name: str) -> tuple[str, ...]:
    """Which of the table's timestamp columns are physically nanos in this file."""
    if name not in _MAYBE_NANOS_TS_COLS:
        return ()
    cached = _nanos_cols_cache.get(path)
    if cached is not None:
        return cached
    try:
        import pyarrow.parquet as pq

        arrow_schema = pq.read_schema(path)
        cols = tuple(
            c
            for c in _MAYBE_NANOS_TS_COLS[name]
            if str(arrow_schema.field(c).type) == "timestamp[ns]"
        )
    except Exception:
        cols = ()
    _nanos_cols_cache[path] = cols
    return cols


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (``{sf_dir}/{name}.parquet``) with its declared schema."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Runtime-set so the engine also works on sessions it didn't build
    # (the correctness driver constructs its own SparkSession): nanos
    # parquet handling + UTC so date_format/window labels are stable.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    nanos_cols = _nanos_ts_cols(path, name)
    declared = schema_registry.TESTDATA.get(name)
    if name == "events" and nanos_cols:
        # the nanos file must be READ with long-typed ts (the conversion
        # below restores TimestampType)
        declared = schema_registry.EVENTS_NANOS
    reader = spark.read
    if declared is not None:
        reader = reader.schema(declared)
    df = reader.parquet(path)
    for col in nanos_cols:
        # integer `div` keeps full precision (ns longs overflow double)
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table as a DataFrame."""
    return {name: load_table(spark, sf_dir, name) for name in schema_registry.TESTDATA_TABLE_NAMES}


def read_json(spark: SparkSession, path: str, schema: StructType, **options) -> DataFrame:
    """Batch JSON-lines scan with declared schema."""
    return spark.read.options(**options).schema(schema).json(path)


def stream_parquet(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """File-backed streaming source (test stand-in for the Kafka reader).

    Produces the same downstream DataFrame shape as
    ``sources.kafka_avro.read_cdc_stream`` so every streaming transform is
    testable without brokers (reference used only Kafka,
    ``src/streaming/kafka_sources.py:55-63``).
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Batch scan of raw files as rows — Spark's ``binaryFile`` format:
    (path, modificationTime, length, content BINARY). The ingestion edge
    for multimodal corpora (images/audio/video landed as object-store
    blobs): pair with ``operators.multimodal`` to decode/feature-extract
    the ``content`` column via Arrow batches.

    ``glob`` filters by filename pattern at LISTING time (no content
    read for excluded files); ``max_bytes`` pushes
    ``spark.sql.sources.binaryFile.maxLength``-style protection as a
    length predicate — it prunes on the file-status column, so oversized
    blobs are never loaded. At 100 TB the listing itself parallelizes
    over the driver-side file index; prefer fewer, larger objects or a
    manifest table when file counts reach 10⁷+.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= F.lit(int(max_bytes)))
    return df


def read_orc(spark: SparkSession, path: str, schema: StructType | None = None, **options) -> DataFrame:
    """Batch ORC scan. Like parquet, ORC is columnar with embedded
    schema, predicate pushdown, and column pruning — a declared schema
    is optional (pass one to pin the contract against drifted files;
    Spark then projects/casts to it per file rather than trusting the
    footer)."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "error", **options) -> None:
    """ORC writer counterpart (snappy by default, like parquet)."""
    df.write.mode(mode).options(**options).orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    schema: StructType,
    row_tag: str = "row",
    **options,
) -> DataFrame:
    """Batch XML scan (Spark 4's built-in ``xml`` source; no external
    package). Schema is REQUIRED here, unlike ORC: XML carries no type
    metadata, so inference would both cost a full extra pass over the
    data and guess strings/decimals differently run to run — the
    declared-schema-everywhere policy (module docstring) matters most
    on exactly this format."""
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .options(**options)
        .schema(schema)
        .load(path)
    )


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "error",
    **options,
) -> None:
    """XML writer counterpart. XML is an INTERCHANGE edge, not a lake
    format — row-oriented, no pushdown, no pruning; use it to accept or
    emit third-party feeds and convert to parquet/ORC at the boundary."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .mode(mode)
        .options(**options)
        .save(path)
    )


def write_avro(
    df: DataFrame,
    path: str,
    codec: str = "null",
    mode: str = "error",
    min_files: int | None = None,
) -> None:
    """Jar-free Avro OCF writer (``sources.avro_ocf``): each partition
    encodes into ONE container file inside an Arrow ``mapInArrow``
    pass — no shuffle, no driver funnel — streamed block-by-block per
    Arrow batch (partition size never buffers in worker memory beyond
    one batch). Files land as ``part-{pid:05d}.avro`` via tmp+rename
    with a deterministic sync marker, so a retried task attempt
    rewrites byte-identical output (idempotent under task retries).

    ``min_files`` floors the encode parallelism: when the incoming
    frame has FEWER partitions (a dimension-sized parquet scan arrives
    as ONE split, so the whole pure-Python encode — and the one-task-
    per-file decode any reader pays later — would serialize onto one
    core), it is round-robin repartitioned up to ``min_files`` first.
    Pass ``spark.sparkContext.defaultParallelism`` for a scale-adaptive
    floor; inputs already at or above the floor are left untouched, so
    a 100 TB frame never pays a repartition for this knob. The
    aggregate VALUES downstream queries compute are partition-order
    independent by the engine's own groupBy contract (measured on the
    orders mirror: encode+decode 7.6 s -> ~1.3 s at local[32]).

    Arrow-native row extraction (``RecordBatch.to_pylist``), NOT a
    pandas detour: a nullable long column keeps exact Python ints (no
    float64 widening under nulls, so values past 2^53 are lossless),
    and genuine NaN doubles stay distinct from nulls (NaN encodes as an
    Avro double, null as the union's null branch). Timestamps arrive
    tz-aware in the session zone and encode as ``timestamp-micros`` on
    the true epoch — including timestamps nested in structs/arrays.
    Like XML, Avro here is an INTERCHANGE edge: row-oriented, no
    pushdown — convert to parquet at the boundary. Local/shared-
    filesystem paths only (object stores need a committer; write
    parquet there instead).
    """
    import os
    import shutil

    from cdc_pipeline_spark.sources.avro_codec import (
        compile_encoder,
        spark_to_avro_schema,
    )
    from cdc_pipeline_spark.sources.avro_ocf import (
        _sync_marker,
        ocf_block_bytes,
        ocf_header_bytes,
    )

    if mode not in ("error", "overwrite"):
        # validated BEFORE the exists-branch: a typo'd mode must fail on
        # the first (fresh-path) run, not silently write then error next
        raise ValueError(f"write_avro supports modes error/overwrite, got {mode!r}")
    if os.path.exists(path):
        if mode == "overwrite":
            shutil.rmtree(path)
        else:
            raise FileExistsError(f"write_avro target exists: {path}")
    os.makedirs(path, exist_ok=True)
    if min_files is not None and min_files > 1:
        if df.rdd.getNumPartitions() < min_files:
            df = df.repartition(min_files)
    schema_json = spark_to_avro_schema(df.schema)

    def gen(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        encode = compile_encoder(schema_json)
        sync = _sync_marker(schema_json, str(pid))
        # tmp name is PER-ATTEMPT: concurrent attempts of the same
        # partition (speculation, zombie retries) must not interleave
        # writes into one tmp file; each attempt builds its own and the
        # byte-identical winners race harmlessly at the atomic rename
        tmp = os.path.join(path, f".part-{pid:05d}-{ctx.taskAttemptId()}.avro.tmp")
        final = os.path.join(path, f"part-{pid:05d}.avro")
        n = 0
        fh = None
        try:
            for batch in batches:
                if not batch.num_rows:
                    continue
                recs = batch.to_pylist()
                if fh is None:
                    fh = open(tmp, "wb")
                    fh.write(ocf_header_bytes(schema_json, codec, sync))
                for lo in range(0, len(recs), 1000):
                    fh.write(
                        ocf_block_bytes(
                            recs[lo : lo + 1000], encode, codec, sync
                        )
                    )
                n += len(recs)
        finally:
            if fh is not None:
                fh.close()
        if fh is not None:
            os.replace(tmp, final)
            yield pa.RecordBatch.from_pydict({"path": [final], "n_records": [n]})

    manifest = df.mapInArrow(gen, schema="path string, n_records long")
    manifest.collect()  # bounded: one row per non-empty partition


def _arrow_schema_utc(schema: StructType):
    """Arrow schema for a Spark ``StructType`` with every timestamp
    mapped to a tz=UTC Arrow instant (so naive-UTC datetimes from the
    Avro decoder land as the correct instants in any session zone).

    Prefers pyspark's own converter (``pyspark.sql.pandas.types
    .to_arrow_schema`` — a PRIVATE module whose ``timestamp_utc`` kwarg
    exists in the pinned 4.1.2 but carries no stability guarantee) and
    falls back to a local structural mapping of the type tree, so a
    pyspark upgrade can only lose the shortcut, never break the reader
    at import time (ADVICE r7)."""
    try:
        from pyspark.sql.pandas.types import to_arrow_schema  # private API

        return to_arrow_schema(schema, timestamp_utc=True)
    except (ImportError, TypeError):
        pass
    import pyarrow as pa
    from pyspark.sql import types as T

    def conv(dt):
        if isinstance(dt, T.StructType):
            return pa.struct(
                [pa.field(f.name, conv(f.dataType), nullable=f.nullable) for f in dt.fields]
            )
        if isinstance(dt, T.ArrayType):
            return pa.list_(pa.field("element", conv(dt.elementType), nullable=dt.containsNull))
        if isinstance(dt, T.MapType):
            return pa.map_(conv(dt.keyType), pa.field("value", conv(dt.valueType), nullable=dt.valueContainsNull))
        if isinstance(dt, T.TimestampType):
            return pa.timestamp("us", tz="UTC")
        if isinstance(dt, T.TimestampNTZType):
            return pa.timestamp("us")
        if isinstance(dt, T.DecimalType):
            return pa.decimal128(dt.precision, dt.scale)
        scalar = {
            T.StringType: pa.string,
            T.BinaryType: pa.binary,
            T.BooleanType: pa.bool_,
            T.ByteType: pa.int8,
            T.ShortType: pa.int16,
            T.IntegerType: pa.int32,
            T.LongType: pa.int64,
            T.FloatType: pa.float32,
            T.DoubleType: pa.float64,
            T.DateType: pa.date32,
            T.NullType: pa.null,
        }.get(type(dt))
        if scalar is None:
            raise TypeError(f"_arrow_schema_utc: unsupported Spark type {dt}")
        return scalar()

    return pa.schema(
        [pa.field(f.name, conv(f.dataType), nullable=f.nullable) for f in schema.fields]
    )


def read_avro(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """Jar-free Avro OCF reader: ``binaryFile`` scan (one task per
    container file — parallel across the files ``write_avro`` laid
    down) + Arrow ``mapInPandas`` block decode with the embedded writer
    schema. Pass ``schema`` to pin the output contract (and to skip the
    driver-side single-header peek an inference read performs); the
    decode itself always uses the embedded schema — no resolution, by
    the codec module's contract, and a pinned schema whose field names
    don't match the embedded writer schema raises per file (silently
    all-null columns would contradict this contract). Corrupt
    containers raise (a silently short table is worse than a loud file
    name); corrupt single records cannot exist in a container whose
    sync markers verify."""
    from cdc_pipeline_spark.sources.avro_codec import avro_to_spark_schema
    from cdc_pipeline_spark.sources.avro_ocf import read_ocf_bytes, read_ocf_schema

    blobs = read_binary_files(spark, path, glob="*.avro")
    if schema is None:
        first = blobs.select("content").limit(1).collect()
        if not first:
            raise ValueError(
                f"read_avro: no .avro files under {path} and no schema given"
            )
        schema = avro_to_spark_schema(read_ocf_schema(bytes(first[0]["content"])))
    out_schema = schema
    out_cols = out_schema.fieldNames()
    # Arrow-native output (no pandas detour): nullable longs stay exact
    # ints past 2^53, NaN doubles stay distinct from nulls, and the
    # decoder's naive-UTC datetimes map onto tz=UTC Arrow instants —
    # Spark renders them in the session zone with no manual shift
    arrow_schema = _arrow_schema_utc(out_schema)

    def gen(batches):
        import json as _json

        import pyarrow as pa

        for batch in batches:
            for blob in batch.column(0).to_pylist():
                raw = bytes(blob)
                emb = _json.loads(read_ocf_schema(raw))
                emb_names = sorted(f["name"] for f in emb.get("fields", []))
                if emb_names != sorted(out_cols):
                    raise ValueError(
                        "read_avro: pinned schema fields "
                        f"{sorted(out_cols)} do not match embedded writer "
                        f"schema fields {emb_names}"
                    )
                recs = list(read_ocf_bytes(raw))
                yield pa.RecordBatch.from_pylist(recs, schema=arrow_schema)

    return blobs.select("content").mapInArrow(gen, schema=out_schema)
