"""Sort / limit / top-k operators (SURVEY.md §2.7).

The reference does its ranking driver-side after ``collect()`` (Python
``sorted`` in ``region_aggregator.py:53-65``; ``orderBy().limit(n)`` in
``kpi_aggregator.py:60-67``, ``activity_enricher.py:19-26``). The engine
keeps ranking distributed: global ``orderBy().limit(k)`` compiles to
TakeOrderedAndProject (per-partition heap + tiny driver merge — no full
sort, no full shuffle), and grouped top-k uses a ``row_number`` window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """Global top-k → TakeOrderedAndProject. Pass deterministic
    tie-breaker columns; at scale a non-deterministic limit is a flaky
    test and an irreproducible result."""
    return df.orderBy(*order_by).limit(k)


def latest(df: DataFrame, time_order: list[Column]) -> DataFrame:
    """Latest-row pick (reference's per-batch `.limit(1)` pattern)."""
    return top_k(df, time_order, 1)


def grouped_top_k(df: DataFrame, partition_by: list[str], order_by: list[Column], k: int, rank_col: str = "rank") -> DataFrame:
    """Top-k within each group via ``row_number`` — one shuffle on the
    group key; at scale prefer this over per-group collects."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def grouped_top_k_salted(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    k: int,
    salt_col: str,
    n_salts: int = 32,
) -> DataFrame:
    """Two-phase grouped top-k for LOW-cardinality groups: the plain
    window sends EVERY row of a group through one reducer — with 4
    groups over a 100 TB candidate set that is 4 tasks doing all the
    work. Phase 1 ranks within ``(group, salt)`` — ``n_salts``×
    parallelism, keeping ≤ k rows per salt; phase 2 ranks the surviving
    ≤ k·n_salts rows per group (tiny). Output is IDENTICAL to
    ``grouped_top_k`` whenever ``order_by`` is a total order: each
    group's true top-k survives phase 1 from whichever salt bucket each
    row landed in (the same superset argument as ``skew.salted_agg``).
    The salt is ``pmod(xxhash64(salt_col), n_salts)`` — deterministic,
    so plans replay identically under task retries."""
    salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salts))
    w1 = Window.partitionBy(*partition_by, "__salt").orderBy(*order_by)
    pruned = (
        df.withColumn("__salt", salt)
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .drop("__salt", "__r1")
    )
    return grouped_top_k(pruned, partition_by, order_by, k, "rank")
