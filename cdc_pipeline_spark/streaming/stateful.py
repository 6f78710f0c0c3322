"""Custom stateful streaming operators.

Consecutive-breach alerting: the reference DESIGNED an N-consecutive-
breach alert state machine (Normal→Pending→Firing,
``DESCRIPTION.md:1246-1265``, vestigial sketch ``redis_sink.py:32-49``)
but never built it — its shipped alerts are stateless per-batch
threshold checks (kpi_aggregator.py:105-143). This module builds the
designed semantics with ``applyInPandasWithState``: state is one
(count, status) pair per rule key, grouped state lives in the state
store (checkpointed, partitioned by key — scales with #rules, not
#events).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ALERT_OUTPUT_SCHEMA = StructType(
    [
        StructField("rule_id", StringType()),
        StructField("consecutive_breaches", IntegerType()),
        StructField("status", StringType()),
        StructField("last_observed_epoch", LongType()),
    ]
)

ALERT_STATE_SCHEMA = StructType(
    [
        StructField("count", IntegerType()),
        StructField("status", StringType()),
        # highest window_end already folded: an update-mode upstream
        # re-emits the SAME window as late events revise it, and
        # counting each re-emission would fire after one bad window
        StructField("last_window", LongType()),
    ]
)
# STATE SCHEMA HISTORY: last_window was ADDED after the first release of
# this schema. Stateful state schemas cannot evolve in place — a
# checkpoint written with the 2-field schema replayed against the 3-field
# declaration yields short state tuples, so the processor below unpacks
# defensively (missing last_window defaults to 0, which only risks
# double-counting one window's revisions right at the upgrade boundary).
# For a clean cut, recreate the alert checkpoint on upgrade.


def _unpack_alert_state(raw) -> tuple[int, str, int]:
    count, status, *rest = tuple(raw)
    return int(count), str(status), int(rest[0]) if rest and rest[0] is not None else 0


def _fold_breaches(
    all_rows: pd.DataFrame,
    status_col: str,
    time_col: str,
    count: int,
    status: str,
    last_window: int,
    n_breaches: int,
) -> tuple[int, str, int, int]:
    """Shared Normal→Pending→Firing fold. Each WINDOW counts at most
    once (first revision seen wins): within the batch keep one row per
    window_end, and skip windows ≤ the already-folded high-water mark."""
    # mergesort (stable) — Arrow-chunk arrival order is nondeterministic,
    # and an unstable sort would make "first revision of a window" (and
    # hence the folded alert state) vary between reruns of the same batch
    all_rows = all_rows.sort_values(time_col, kind="mergesort").drop_duplicates(
        subset=[time_col], keep="first"
    )
    last_epoch = 0
    for _, row in all_rows.iterrows():
        epoch = int(row[time_col])
        last_epoch = epoch
        if epoch <= last_window:
            continue  # a revision of an already-counted window
        last_window = epoch
        if row[status_col] == "firing":
            count += 1
            status = "firing" if count >= n_breaches else "pending"
        else:
            count = 0
            status = "normal"
    return count, status, last_window, last_epoch


def consecutive_breach_alerts(evaluated: DataFrame, n_breaches: int = 3) -> DataFrame:
    """Normal→Pending→Firing state machine over a per-window rule-status
    stream (output of operators.aggregates.alert_frame applied to
    windowed metrics).

    Input rows: (rule_id, status ∈ {ok, firing}, window_end epoch...).
    Per rule key, a breach row increments the counter, an ok row resets
    it; status becomes 'firing' only at ≥ n_breaches consecutive
    breaches, 'pending' below that, 'normal' on ok.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (rule_id,) = key
        count, status, last_window = (
            _unpack_alert_state(state.get) if state.exists else (0, "normal", 0)
        )
        last_epoch = 0
        # A key's rows can span multiple Arrow chunks of the iterator —
        # concatenate first, THEN sort, or the fold would process the
        # breach/ok sequence out of time order across chunk boundaries.
        chunks = list(pdfs)
        if chunks:
            count, status, last_window, last_epoch = _fold_breaches(
                pd.concat(chunks, ignore_index=True),
                "status", "window_end", count, status, last_window, n_breaches,
            )
        state.update((count, status, last_window))
        yield pd.DataFrame(
            {
                "rule_id": [rule_id],
                "consecutive_breaches": [count],
                "status": [status],
                "last_observed_epoch": [last_epoch],
            }
        )

    return evaluated.groupBy("rule_id").applyInPandasWithState(
        update,
        outputStructType=ALERT_OUTPUT_SCHEMA,
        stateStructType=ALERT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
