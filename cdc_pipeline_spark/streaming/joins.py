"""Stream-stream joins with watermarked state cleanup.

The reference never joins two live streams (its enrichment is
fat-event denormalization upstream — FLOW.md:42-55); a complete engine
needs the real thing: correlating two unbounded streams (order placed ~
error observed, impression ~ click) with BOUNDED state. Structured
Streaming does this natively when both sides carry watermarks and the
join condition constrains event time on both sides — the state store
then evicts rows older than the watermark minus the interval, so state
is O(rate × interval), not O(stream).

Scale rules encoded here:
  * both sides MUST be watermarked — an unbounded side makes the state
    store grow forever (Spark rejects some modes, silently hoards state
    in others);
  * the time-interval predicate (lower AND upper bound) is what lets the
    state manager compute eviction; an equi-join on key alone never
    frees state;
  * inner joins emit as matches arrive; outer joins additionally emit
    NULL-padded rows only after the watermark passes the interval (late
    matches can no longer arrive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_time: str,
    right_time: str,
    max_delay: str = "interval 10 seconds",
    left_watermark: str = "30 seconds",
    right_watermark: str = "30 seconds",
    how: str = "inner",
) -> DataFrame:
    """Join two streams on key equality + a bounded event-time interval:
    right row must land within ``[left_time, left_time + max_delay]``.

    Column names are disambiguated with ``l_`` / ``r_`` prefixes (both
    sides often share a schema); the join keys keep the left's values
    under their bare names.
    """
    if left_time in key_cols or right_time in key_cols:
        raise ValueError(
            "left_time/right_time must not be join keys: key columns keep "
            "bare names while the interval predicate uses l_/r_ prefixes"
        )
    lt, rt = f"l_{left_time}", f"r_{right_time}"
    lprefixed = left.withWatermark(left_time, left_watermark).select(
        *[F.col(c) for c in key_cols],
        *[
            F.col(c).alias(f"l_{c}")
            for c in left.columns
            if c not in key_cols
        ],
    )
    rprefixed = right.withWatermark(right_time, right_watermark).select(
        *[F.col(c).alias(f"__rk_{c}") for c in key_cols],
        *[
            F.col(c).alias(f"r_{c}")
            for c in right.columns
            if c not in key_cols
        ],
    )
    key_eq = [lprefixed[k] == rprefixed[f"__rk_{k}"] for k in key_cols]
    interval = (F.col(rt) >= F.col(lt)) & (
        F.col(rt) <= F.col(lt) + F.expr(max_delay)
    )
    cond = interval
    for eq in key_eq:
        cond = eq & cond
    joined = lprefixed.join(rprefixed, cond, how)
    # outer joins: an unmatched RIGHT row has NULL left-side keys, so
    # the bare key must coalesce from the right's __rk_ twin — dropping
    # it unconditionally would emit unattributable all-NULL-key rows
    out_cols = [
        F.coalesce(F.col(k), F.col(f"__rk_{k}")).alias(k) for k in key_cols
    ] + [F.col(c) for c in joined.columns if c not in key_cols and not c.startswith("__rk_")]
    return joined.select(*out_cols)


def stream_static_enrich(stream: DataFrame, dim: DataFrame, on: list[str] | str) -> DataFrame:
    """Enrich a stream with a STATIC dimension table — the stateless
    streaming join: no watermark, no state store, because the static
    side is fully known at plan time.

    Dim freshness caveat: for a plain file-backed dim (parquet/CSV read
    via ``spark.read``) the file listing is cached in the relation's
    InMemoryFileIndex at read time, so files replaced or added AFTER the
    DataFrame was built are generally NOT re-resolved per micro-batch.
    Per-batch refresh holds for catalog/lakehouse-backed dims (Hive
    table, Delta/Iceberg — their snapshot resolves at execution), or
    re-read the dim inside a ``foreachBatch`` when file-level refresh is
    required.

    The dim side is broadcast: on a cluster every executor holds the dim
    once and the stream never shuffles — the streaming twin of
    ``operators.enrich.enrich_with_dim``. A dim too large to broadcast
    calls for pre-denormalizing upstream instead (the reference's
    fat-event approach, FLOW.md:42-55).
    """
    return stream.join(F.broadcast(dim), on, "left")
