"""Read-side serving layer (REST + SSE) over the streaming kv contract."""

from cdc_pipeline_spark.serving.service import CHANNEL_TO_EVENT, CONTRACT, SnapshotService

__all__ = ["CHANNEL_TO_EVENT", "CONTRACT", "SnapshotService"]
