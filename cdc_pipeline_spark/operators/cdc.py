"""CDC semantics: Debezium-envelope normalization + latest-state views.

Reference behavior (``src/streaming/kafka_sources.py:75-99``):
  * keep only op ∈ {c, u, r} (drop deletes) — ``:86``
  * ZonedTimestamp ISO-8601 strings → TimestampType via a 3-format
    ``coalesce(to_timestamp(...))`` — ``:92-99``

The reference accepts double-counting when an order row appears twice in
one window (insert 'pending' + update 'completed',
``DESCRIPTION.md:1096-1101``; SURVEY §7.5.4). This module adds the
latest-state-per-key view CDC correctness needs at scale:
``row_number() over (partition by key order by version desc)`` in batch,
``dropDuplicates`` after watermark in streaming.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

CDC_UPSERT_OPS = ("c", "u", "r")

# The three timestamp layouts Debezium ZonedTimestamp emits
# (kafka_sources.py:92-99): 6-digit-µs with literal Z, seconds with Z,
# and whatever the session default parser accepts.
_TS_FORMATS = ("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'", "yyyy-MM-dd'T'HH:mm:ssX")


def parse_cdc_timestamp(col: Column) -> Column:
    """3-way coalesce timestamp parse for ISO-8601 CDC strings.

    ``try_to_timestamp`` (not ``to_timestamp``): under ANSI mode a
    format mismatch would otherwise throw instead of falling through to
    the next format."""
    attempts = [F.try_to_timestamp(col, F.lit(fmt)) for fmt in _TS_FORMATS]
    attempts.append(F.try_to_timestamp(col))
    return F.coalesce(*attempts)


def filter_upserts(df: DataFrame) -> DataFrame:
    """Keep create/update/snapshot rows; drop deletes (kafka_sources.py:86)."""
    return df.filter(F.col("__op").isin(*CDC_UPSERT_OPS))


def normalize_cdc(df: DataFrame, timestamp_columns: list[str]) -> DataFrame:
    """Op filter + timestamp normalization — the standard post-decode step."""
    out = filter_upserts(df)
    for name in timestamp_columns:
        out = out.withColumn(name, parse_cdc_timestamp(F.col(name)))
    return out


def latest_state(
    df: DataFrame,
    key_cols: list[str],
    version_cols: list[str],
    tie_breakers: list[str] | None = None,
) -> DataFrame:
    """Latest row image per key (batch form).

    ``row_number() over (partition by key order by version desc)`` — keeps
    the final state of each entity so downstream counts don't double-count
    multi-row CDC lifecycles (pending→completed updates). ``version_cols``
    is typically ``[__source_ts_ms]`` or an updated_at column;
    ``tie_breakers`` make the pick deterministic when versions collide.

    Scale: one shuffle on the entity key; with AQE skew handling this is
    the canonical "compaction" shape. For streaming, prefer
    ``dropDuplicatesWithinWatermark`` (exactly-once-ish per key within the
    watermark horizon).
    """
    order = [F.col(c).desc() for c in version_cols]
    order += [F.col(c).desc() for c in (tie_breakers or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def soft_delete_filter(df: DataFrame) -> DataFrame:
    """Drop rows flagged deleted by the unwrap transform ('true' string)."""
    return df.filter((F.col("__deleted").isNull()) | (F.col("__deleted") != F.lit("true")))


def scd2_history(
    df: DataFrame,
    key_cols: list[str],
    version_col: str,
    attr_cols: list[str],
    tie_breakers: list[str] | None = None,
    compress: bool = True,
) -> DataFrame:
    """SCD Type-2 history from a CDC upsert stream: one validity-interval
    row per attribute state — ``valid_from`` (the row's version),
    ``valid_to`` (the NEXT version for the key, NULL while current) and
    ``is_current``. The other half of CDC consumption next to
    :func:`latest_state`: compaction keeps the end state, SCD2 keeps the
    full history queryable by as-of time.

    ``compress=True`` first drops rows whose tracked attributes are
    null-safe-equal to the key's previous row (no-op updates — Debezium
    re-emits full row images on any column's change), so intervals span
    real transitions only.

    Scale: both passes are window functions over the same
    (key, version, tie) ordering — ONE shuffle on the key; the second
    window reuses the first's partitioning (no new Exchange).
    """
    order = [F.col(version_col).asc()] + [F.col(c).asc() for c in (tie_breakers or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    state = F.struct(*[F.col(c) for c in attr_cols])
    out = df
    if compress:
        out = (
            out.withColumn("__prev_state", F.lag(state).over(w))
            .filter(
                F.col("__prev_state").isNull() | ~F.col("__prev_state").eqNullSafe(state)
            )
            .drop("__prev_state")
        )
    return out.select(
        *key_cols,
        *attr_cols,
        F.col(version_col).alias("valid_from"),
        F.lead(version_col).over(w).alias("valid_to"),
        F.lead(version_col).over(w).isNull().alias("is_current"),
    )
