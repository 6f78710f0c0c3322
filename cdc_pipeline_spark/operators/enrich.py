"""Dimension enrichment via broadcast joins.

The reference *designed* a two-level static-reference lookup — broadcast
equi-join on (country_code, city_pattern), then fallback broadcast join on
country_code with ``coalesce`` of region names (``DESCRIPTION.md:871-893``)
— but shipped fat-event denormalization instead (``FLOW.md:42-55``). This
module implements the designed join path as the engine's enrichment
operator: at 100 TB you cannot re-emit fat events, you broadcast the dims.

Scale posture: dimension tables are small (country/city mappings, users,
products) → ``F.broadcast`` pins BroadcastHashJoin, zero shuffle on the
fact side, and the fact scan keeps its partitioning for downstream aggs.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)


def broadcast_enrich(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str] | None = None,
    how: str = "left",
    max_broadcast_rows: int | None = None,
) -> DataFrame:
    """Left broadcast equi-join of a fact stream/table with a dimension.

    ``max_broadcast_rows=None`` (default) pins the hint unconditionally —
    the contract is then that ``dim`` is a genuinely tiny static
    reference (city/country maps). For dimensions that GROW with the
    data (users, products — fact-sized at 100×), pass a row budget: the
    dim's size is probed once at plan-build time with a bounded
    ``limit(n+1).count()`` (never a full scan past the budget), and an
    over-budget dim joins WITHOUT the hint so AQE picks the strategy —
    a forced broadcast hint bypasses AQE's demotion and OOMs the
    driver/executors on a fact-sized "dimension".
    """
    if max_broadcast_rows is not None:
        probed = dim.limit(max_broadcast_rows + 1).count()
        if probed > max_broadcast_rows:
            _LOG.warning(
                "broadcast_enrich: dim exceeds max_broadcast_rows=%d; "
                "omitting the broadcast hint (AQE decides the join strategy)",
                max_broadcast_rows,
            )
            return fact.join(dim, on=on, how=how)
    return fact.join(F.broadcast(dim), on=on, how=how)


def two_level_region_lookup(
    fact: DataFrame,
    city_map: DataFrame,
    country_map: DataFrame,
) -> DataFrame:
    """Two-level region resolution (DESCRIPTION.md:871-893).

    1. city-pattern prefix match — the city level handles splits like
       US East/West; overlapping patterns resolve to the LONGEST match;
    2. fallback broadcast join on country_code alone;
    3. ``coalesce(city_region, country_region, 'Unknown')``.

    The city map is by definition a small static dim, so the pattern
    level is evaluated as a PURE EXPRESSION: patterns are collected
    once, sorted longest-first, and compiled into an array literal the
    fact scan filters with ``F.filter(...)[0]`` — no join fanout, no
    per-row dedup. (An earlier join-based variant needed a row_number
    window partitioned by a per-row id to resolve overlaps — a full
    fact-table shuffle, the opposite of what a broadcast-dim lookup
    should cost at 100 TB.) The country level stays a broadcast join.
    """
    patterns = sorted(
        city_map.select("country_code", "city_pattern", "region_name").collect(),
        key=lambda r: (-len(r["city_pattern"]), r["city_pattern"]),
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(r["country_code"]).alias("c"),
                F.lit(r["city_pattern"]).alias("p"),
                F.lit(r["region_name"]).alias("r"),
            )
            for r in patterns
        ]
    ) if patterns else F.array().cast("array<struct<c:string,p:string,r:string>>")
    matches = F.filter(
        entries,
        lambda e: (e["c"] == F.col("country_code")) & F.col("city").startswith(e["p"]),
    )
    # sorted longest-first at build time → element 0 IS the longest match
    city_region = F.when(F.size(matches) > 0, matches[0]["r"])

    country_dim = country_map.select(
        F.col("country_code").alias("__co_country"),
        F.col("region_name").alias("__co_region"),
    )
    step1 = fact.withColumn("__cm_region", city_region)
    step2 = step1.join(
        F.broadcast(country_dim), step1["country_code"] == F.col("__co_country"), "left"
    )
    return step2.withColumn(
        "region_name", F.coalesce(F.col("__cm_region"), F.col("__co_region"), F.lit("Unknown"))
    ).drop("__cm_region", "__co_country", "__co_region")
