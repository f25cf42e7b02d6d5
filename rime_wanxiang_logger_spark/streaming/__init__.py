from . import twin  # noqa: F401
from .twin import (  # noqa: F401
    EVENTS_STREAM_SCHEMA,
    attribution_stream,
    decontaminate_stream,
    dedup_admit_stream,
    dedup_stream,
    hourly_rollup_stream,
    read_events_stream,
    read_rime_jsonl_stream,
    run_stream_to_memory,
    session_window_stream,
    stateful_asof_stream,
    stateful_page_rank_stream,
    stream_to_parquet_foreachbatch,
)
