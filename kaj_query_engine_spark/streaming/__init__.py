from kaj_query_engine_spark.streaming.ops import (
    read_stream_table,
    stream_corpus_filter,
    stream_interval_join,
    run_available_now,
    run_available_now_all,
    stream_session_stats,
    stream_stateful_user_totals,
    stream_static_enrich,
    stream_tumbling_agg,
    streaming_dedup,
)

__all__ = [
    "stream_static_enrich",
    "read_stream_table",
    "stream_corpus_filter",
    "stream_interval_join",
    "run_available_now",
    "run_available_now_all",
    "stream_session_stats",
    "stream_stateful_user_totals",
    "stream_tumbling_agg",
    "streaming_dedup",
]
