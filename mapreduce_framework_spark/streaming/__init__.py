from mapreduce_framework_spark.streaming.windows import (
    read_events_stream,
    run_sink_stream,
    run_stream_to_memory,
    streaming_tumbling_counts,
)
from mapreduce_framework_spark.streaming.state import streaming_kv_state

__all__ = [
    "read_events_stream",
    "run_sink_stream",
    "run_stream_to_memory",
    "streaming_tumbling_counts",
    "streaming_kv_state",
]
