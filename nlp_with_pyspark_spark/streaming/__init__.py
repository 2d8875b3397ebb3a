from .joins import (
    click_purchase_attribution,
    interval_join_streams,
    interval_join_streams_outer,
)
from .sinks import (
    incremental_dedup_sink,
    neardup_dedup_sink,
    neardup_upsert_batch,
    search_index_sink,
    search_index_upsert_batch,
    takedown_fanout_batch,
    takedown_fanout_sink,
    vector_index_sink,
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
    "events_stream_from_dir",
    "gap_filled_stream",
    "incremental_dedup_sink",
    "interval_join_streams",
    "neardup_dedup_sink",
    "neardup_upsert_batch",
    "search_index_sink",
    "search_index_upsert_batch",
    "interval_join_streams_outer",
    "sessionized_stream",
    "sliding_stream",
    "stream_to_parquet",
    "streaming_dedup",
    "streaming_dedup_within_watermark",
    "takedown_fanout_batch",
    "takedown_fanout_sink",
    "tumbling_stream",
    "user_running_stats",
    "vector_index_sink",
    "vector_index_upsert_batch",
]
