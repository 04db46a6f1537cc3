from .joins import (
    click_purchase_attribution,
    interval_join_streams,
    interval_join_streams_outer,
)
from .sinks import (
    dedup_store_delete_batch,
    dedup_store_upsert_batch,
    neardup_delete_batch,
    neardup_upsert_batch,
    search_index_delete_batch,
    search_index_upsert_batch,
    sink,
    takedown_fanout_batch,
    vector_index_delete_batch,
    vector_index_upsert_batch,
)
from .stateful import gap_filled_stream, user_running_stats
from .windows import (
    events_stream_from_dir,
    sessionized_stream,
    sliding_stream,
    stream_to_parquet,
    streaming_dedup,
    streaming_dedup_within_watermark,
    tumbling_stream,
)

__all__ = [
    "click_purchase_attribution",
    "dedup_store_delete_batch",
    "dedup_store_upsert_batch",
    "events_stream_from_dir",
    "gap_filled_stream",
    "interval_join_streams",
    "neardup_delete_batch",
    "neardup_upsert_batch",
    "search_index_delete_batch",
    "search_index_upsert_batch",
    "interval_join_streams_outer",
    "sessionized_stream",
    "sink",
    "sliding_stream",
    "stream_to_parquet",
    "streaming_dedup",
    "streaming_dedup_within_watermark",
    "takedown_fanout_batch",
    "tumbling_stream",
    "user_running_stats",
    "vector_index_delete_batch",
    "vector_index_upsert_batch",
]
