"""Activity-feed enrichment projection (reference
``src/streaming/transforms/activity_enricher.py:29-55``).

A pure scalar projection: event-type → action mapping via a chained
``when``, ``concat`` id prefixing, ``coalesce`` display-name fallback,
conditional purchase amount, ISO timestamp formatting, "City, CC"
location. Entirely Column built-ins → stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_pipeline_spark.operators.templates import template


def enrich_activity(
    df: DataFrame,
    id_col: str = "id",
    event_type_col: str = "event_type",
    user_col: str = "user_display_name",
    amount_col: str = "amount",
    time_col: str = "created_at",
    city_col: str = "city",
    country_col: str = "country_code",
    action_map: dict[str, str] | None = None,
    purchase_event: str = "checkout_complete",
    default_action: str = "view",
) -> DataFrame:
    """Shape raw events into the activity contract
    ``{id: evt_<id>, user, action, amount?, timestamp, location}``
    (activity_enricher.py:30-55; contract DESCRIPTION.md:443-462)."""
    if action_map is None:  # `or` would override an EXPLICIT empty map
        action_map = {
            "checkout_complete": "purchase",
            "login": "login",
            "add_to_cart": "cart",
        }
    return df.select(*_projection(
        id_col, event_type_col, user_col, amount_col, time_col, city_col, country_col,
        tuple(action_map.items()), purchase_event, default_action,
    ))


@template
def _projection(id_col, event_type_col, user_col, amount_col, time_col, city_col, country_col, actions,
                purchase_event, default_action):
    event_type = F.col(event_type_col)
    action = None
    for event_value, action_value in actions:
        action = (F if action is None else action).when(event_type == event_value, F.lit(action_value))
    action = F.lit(default_action) if action is None else action.otherwise(F.lit(default_action))
    return (
        F.concat(F.lit("evt_"), F.col(id_col).cast("string")).alias("id"),
        F.coalesce(F.col(user_col).cast("string"), F.lit("Guest")).alias("user"),
        action.alias("action"),
        F.when(event_type == purchase_event, F.col(amount_col)).alias("amount"),
        F.date_format(F.col(time_col), "yyyy-MM-dd'T'HH:mm:ss").alias("timestamp"),
        F.concat_ws(", ", F.col(city_col), F.col(country_col)).alias("location"),
    )
