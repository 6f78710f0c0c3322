"""Temporal joins Spark lacks as built-ins: as-of join and range join.

Both are implemented as compositions of existing DataFrame ops (the
preferred strategy for custom operators — no Python in the path, full
Catalyst optimization), not UDFs:

* **as-of join** — "for each left row, the most recent right row at or
  before its timestamp, per key". Implemented with the union-merge
  trick: tag both sides, union, sort within key by (ts, side), and
  carry the right side's columns forward with
  ``last(col, ignorenulls=True)`` over a running frame. One shuffle on
  the key, no range explosion — state is one row, the classic
  merge-join formulation. (A naive ``left join right ON ts <= ts`` +
  row_number explodes to |L|×|R| per key first.)

* **range join** — pairs within a bounded time distance. Implemented
  with coarse time-bucket blocking: join on (key, bucket) for the
  bucket and its successor, then exact filter. Candidates are
  data-proportional to bucket co-occupancy, never |L|×|R|.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_time: str,
    right_time: str,
    right_value_cols: list[str] | None = None,
    right_tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Left as-of join: every left row gains the right row with the
    greatest ``right_time <= left_time`` for the same key (NULLs when no
    such row).

    Duplicate right rows at the same (key, time) are collapsed first to
    the one with the greatest tiebreaker values — making the result
    deterministic (DuckDB's native ASOF JOIN, used as the test oracle,
    is otherwise free to pick any of the tied rows).
    """
    right_value_cols = right_value_cols or [
        c for c in right.columns if c not in key_cols and c != right_time
    ]
    # SQL ASOF semantics (and the DuckDB oracle) use null-REJECTING key
    # equality; Window.partitionBy groups NULL keys together and would
    # match them. Right rows with a NULL key can match nothing — drop
    # them, so NULL-key left rows correctly carry NULLs.
    for kc in key_cols:
        right = right.filter(F.col(kc).isNotNull())
    if right_tiebreakers:
        from cdc_pipeline_spark.operators.cdc import latest_state

        right = latest_state(right, key_cols + [right_time], right_tiebreakers)

    # The right side's value columns travel as ONE struct: `last(struct,
    # ignorenulls)` then picks the latest right ROW wholesale. Carrying
    # columns individually would back-fill a NULL field of the matched
    # row from an older row — a blended row that never existed.
    right_struct = F.struct(*[F.col(c) for c in right_value_cols])
    l_tagged = left.select(
        *key_cols,
        F.col(left_time).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
        F.lit(None).cast(
            right.select(right_struct.alias("__rrow")).schema["__rrow"].dataType
        ).alias("__rrow"),
    )
    r_tagged = right.select(
        *key_cols,
        F.col(right_time).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(l_tagged.schema["__lrow"].dataType).alias("__lrow"),
        right_struct.alias("__rrow"),
    )
    merged = l_tagged.unionByName(r_tagged)
    # right rows sort before left rows at equal ts → "<=" semantics
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.select(
        "*", F.last(F.col("__rrow"), ignorenulls=True).over(w).alias("__asof")
    )
    return carried.filter(F.col("__is_left") == 1).select(
        F.col("__lrow.*"),
        *[F.col("__asof")[c].alias(c) for c in right_value_cols],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_time: str,
    right_time: str,
    max_gap_seconds: int,
) -> DataFrame:
    """Bounded-gap pair join: (l, r) with same key and
    ``l.time < r.time <= l.time + max_gap``.

    Blocking: both sides get ``bucket = floor(epoch/max_gap)``; the left
    probes its own bucket and the next one — any qualifying pair falls
    in one of the two — then the exact predicate filters. Candidate
    count is Σ per-(key,bucket) occupancy products, never |L|×|R|.
    """
    right_suffix = "_r"
    l = left.withColumn("__le", F.col(left_time).cast("double")).withColumn(
        "__bucket", F.floor(F.col("__le") / max_gap_seconds).cast("long")
    )
    r = right.select(
        *[F.col(k).alias(f"__rk_{k}") for k in key_cols],
        *[F.col(c).alias(f"{c}{right_suffix}") for c in right.columns if c not in key_cols],
    )
    r = r.withColumn("__re", F.col(f"{right_time}{right_suffix}").cast("double")).withColumn(
        "__rbucket", F.floor(F.col("__re") / max_gap_seconds).cast("long")
    )
    probes = l.withColumn("__probe", F.explode(F.array(F.col("__bucket"), F.col("__bucket") + 1)))
    key_eq = [F.col(k) == F.col(f"__rk_{k}") for k in key_cols]
    lower = F.col("__re") > F.col("__le")
    joined = probes.join(
        r, key_eq + [F.col("__probe") == F.col("__rbucket")]
    ).filter(lower & (F.col("__re") <= F.col("__le") + max_gap_seconds))
    return joined.drop(
        "__le", "__bucket", "__probe", "__re", "__rbucket", *[f"__rk_{k}" for k in key_cols]
    )
