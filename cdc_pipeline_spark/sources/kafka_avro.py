"""Kafka + Confluent-Avro CDC sources.

Reference source chain (SURVEY §2.1 S1–S8,
``src/streaming/kafka_sources.py``): Kafka stream reader → strip 5-byte
Confluent wire header (magic byte + schema id) → ``from_avro``
PERMISSIVE decode → drop nulls → CDC op filter → ZonedTimestamp
normalize. This module reproduces that chain Spark-first.

Broker-dependent pieces only build the plan (no connection at
plan-build), so everything here is importable and unit-testable without
Kafka; the wire-header strip and JSON decode are pure Column transforms
tested against synthetic binary columns.

Scale notes: ``maxOffsetsPerTrigger`` bounds micro-batch size (the
reference instead wiped checkpoints + startingOffsets=latest to dodge
backlog, FLOW.md:105-107 — we keep durable checkpoints and rate-limit
instead); ``minPartitions`` can oversplit hot topic partitions.
"""

from __future__ import annotations

import json
import urllib.request

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from cdc_pipeline_spark.operators.cdc import normalize_cdc

CONFLUENT_HEADER_BYTES = 5  # 1 magic byte + 4-byte schema id


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """S1: raw Kafka stream (key/value binary + metadata columns)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load()


def strip_confluent_header(column: str = "value") -> Column:
    """S2: drop the 5-byte Confluent wire prefix from an Avro payload."""
    return F.expr(f"substring({column}, {CONFLUENT_HEADER_BYTES + 1}, length({column}) - {CONFLUENT_HEADER_BYTES})")


def confluent_schema_id(column: str = "value") -> Column:
    """Big-endian int schema id from bytes 2–5 of the wire header (useful
    for schema-evolution routing; the reference ignores it)."""
    byte = lambda i: F.expr(f"cast(conv(hex(substring({column}, {i}, 1)), 16, 10) as int)")
    return (byte(2) * 16777216 + byte(3) * 65536 + byte(4) * 256 + byte(5)).alias("schema_id")


def avro_available(spark: SparkSession) -> bool:
    """Capability probe: can this session analyze a ``from_avro`` plan?
    False when the spark-avro jar isn't on the classpath (the decode
    chain then stays plan-gated; AVRO_NOT_LOADED is raised at ANALYSIS
    time, so probing costs one tiny unresolved plan, no execution)."""
    from pyspark.sql.avro.functions import from_avro

    probe = spark.createDataFrame([(b"",)], "value binary")
    try:
        probe.select(
            from_avro("value", '{"type":"record","name":"P","fields":[]}')
        ).schema  # .schema forces analysis without execution
        return True
    except Exception:
        return False


def decode_avro(df: DataFrame, avro_schema_json: str) -> DataFrame:
    """S3: PERMISSIVE Avro decode of the header-stripped payload; corrupt
    records decode to NULL and are dropped (kafka_sources.py:66-84).

    Raises Spark's ``AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE``
    AnalysisException when the spark-avro jar is absent — gate call
    sites with :func:`avro_available`."""
    from pyspark.sql.avro.functions import from_avro  # requires spark-avro jar at runtime

    decoded = df.select(
        from_avro(strip_confluent_header("value"), avro_schema_json, {"mode": "PERMISSIVE"}).alias("data")
    )
    return decoded.filter(F.col("data").isNotNull()).select("data.*")


def decode_avro_auto(df: DataFrame, avro_schema_json: str) -> DataFrame:
    """S3 with capability dispatch: the JVM ``from_avro`` path when the
    spark-avro jar is present (codegen, strictly faster), else the
    spec-based pure-Python Arrow decoder (``sources.avro_codec``). Both
    share the PERMISSIVE + null-drop contract, so call sites and tests
    are path-agnostic."""
    if avro_available(df.sparkSession):
        return decode_avro(df, avro_schema_json)
    from cdc_pipeline_spark.sources.avro_codec import decode_avro_python

    return decode_avro_python(df.select(strip_confluent_header("value").alias("value")), avro_schema_json)


def avro_reader_schema(
    struct,
    record_name: str,
    zoned_ts_cols: tuple[str, ...] = (),
    uuid_cols: tuple[str, ...] = (),
    json_cols: tuple[str, ...] = (),
    defaults: dict | None = None,
) -> str:
    """Derive the Avro READER schema for a declared StructType, following
    the Debezium writer-schema conventions the reference documents
    (``/root/reference/src/streaming/schemas.py:174-180``): union member
    ORDER must match the registered writer schema or spark-avro's
    PERMISSIVE mode nulls every record.

      * non-nullable field, no default      → plain type
      * non-nullable field with default     → plain type + ``connect.default``
      * nullable field WITH a default value → **non-null-first** union
        ``[{type…}, "null"]`` with that default (Debezium emits the
        defaulted member first);
      * nullable field, no default          → null-first union
        ``["null", {type…}]`` with default null;
      * TIMESTAMPTZ columns (``zoned_ts_cols``) → ISO-string logical type
        ``io.debezium.time.ZonedTimestamp``; UUID/JSONB likewise ride as
        connect-named strings;
      * other TimestampType columns → ``{"type":"long","logicalType":
        "timestamp-millis"}`` (direct producer topics).

    The result feeds :func:`decode_avro` / :func:`read_cdc_stream`; unit
    tests pin the union orderings so a future jar drop decodes against
    registry-registered writer schemas without NULL storms.
    """
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        TimestampType,
    )

    defaults = defaults or {}
    scalar = {
        LongType: "long",
        StringType: "string",
        DoubleType: "double",
        IntegerType: "int",
        BooleanType: "boolean",
    }
    fields = []
    for f in struct.fields:
        name = f.name
        if name in zoned_ts_cols:
            typed: dict | str = {
                "type": "string",
                "connect.version": 1,
                "connect.name": "io.debezium.time.ZonedTimestamp",
            }
        elif name in uuid_cols:
            typed = {"type": "string", "connect.version": 1, "connect.name": "io.debezium.data.Uuid"}
        elif name in json_cols:
            typed = {"type": "string", "connect.version": 1, "connect.name": "io.debezium.data.Json"}
        elif isinstance(f.dataType, TimestampType):
            typed = {"type": "long", "logicalType": "timestamp-millis"}
        else:
            typed = scalar[type(f.dataType)]
        if name in defaults:
            default = defaults[name]
            if isinstance(typed, str):
                typed = {"type": typed}
            typed["connect.default"] = default
            if f.nullable:
                fields.append({"name": name, "type": [typed, "null"], "default": default})
            else:
                fields.append({"name": name, "type": typed, "default": default})
        elif not f.nullable:
            fields.append({"name": name, "type": typed})
        else:
            fields.append({"name": name, "type": ["null", typed], "default": None})
    return json.dumps({"type": "record", "name": record_name, "fields": fields})


def read_cdc_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    avro_schema_json: str,
    timestamp_columns: list[str] | None = None,
    **kafka_opts,
) -> DataFrame:
    """S4+S5: full CDC chain — Kafka → header strip → Avro decode → op
    filter → timestamp normalization. Decode dispatches on jar
    availability (``decode_avro_auto``)."""
    raw = read_kafka_stream(spark, bootstrap_servers, topic, **kafka_opts)
    decoded = decode_avro_auto(raw, avro_schema_json)
    return normalize_cdc(decoded, timestamp_columns or [])


def read_json_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema: StructType,
    **kafka_opts,
) -> DataFrame:
    """S8: JSON-valued topic (e.g. re-emitted aggregate snapshots)."""
    raw = read_kafka_stream(spark, bootstrap_servers, topic, **kafka_opts)
    return (
        raw.select(F.from_json(F.col("value").cast("string"), schema).alias("data"))
        .filter(F.col("data").isNotNull())
        .select("data.*")
    )


def parse_json_with_dlq(
    df: DataFrame,
    schema: StructType,
    carry_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Decode a JSON string column into (good, dead_letter) frames.

    The reference's decoders silently drop undecodable rows
    (``read_json_stream`` filter, matching its Avro PERMISSIVE+null-drop
    chain); production CDC wants the failures ROUTED, not dropped — a
    corrupt upstream producer is an incident to alert on, and the raw
    payloads are the evidence. PERMISSIVE mode with a corrupt-record
    column splits the stream in one pass:

      * ``good`` — parsed columns (+ carried metadata columns);
      * ``dead_letter`` — the raw payload + carried metadata, exactly
        the rows where parsing failed; point it at any sink (the K4
        capped list makes a fine incident buffer).

    Both frames are projections of one decode — Catalyst computes
    ``from_json`` once per row, and for file/Kafka sources the split
    predicates push into the same scan. Works identically on batch and
    streaming frames.
    """
    from pyspark.sql.types import StructField

    if any(f.name == "_corrupt" for f in schema.fields):
        raise ValueError("schema may not already contain a _corrupt field")
    schema_with_corrupt = StructType(
        list(schema.fields) + [StructField("_corrupt", StringType())]
    )
    parsed = df.select(
        *carry_cols,
        F.col("value").cast("string").alias("__raw"),
        F.from_json(
            F.col("value").cast("string"),
            schema_with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("__data"),
    )
    # from_json yields NULL struct for totally unparseable input and a
    # struct with _corrupt set for partially-invalid input — both are
    # dead letters
    is_bad = F.col("__data").isNull() | F.col("__data._corrupt").isNotNull()
    good = (
        parsed.filter(~is_bad)
        .select(*carry_cols, "__data.*")
        .drop("_corrupt")
    )
    dead = parsed.filter(is_bad).select(
        *carry_cols, F.col("__raw").alias("raw_payload")
    )
    return good, dead


def write_kafka_json(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    key_col: str | None = None,
    output_mode: str = "update",
):
    """K1: windowed aggregate rows → Kafka as (key, JSON value)
    (kpi_aggregator.py:217-243)."""
    key = F.col(key_col).cast("string") if key_col else F.lit("snapshot")
    payload = df.select(
        key.alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .start()
    )


def fetch_schema_from_registry(registry_url: str, subject: str, timeout: int = 10) -> str:
    """S10: latest writer schema from a Confluent-compatible Schema
    Registry (fetched once at job startup, driver-side, exactly as the
    reference does at kafka_sources.py:41-52 — avoids PERMISSIVE-mode
    all-NULL decodes from writer/reader schema drift)."""
    url = f"{registry_url.rstrip('/')}/subjects/{subject}/versions/latest"
    with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310 — infra-internal URL
        return json.loads(resp.read())["schema"]
