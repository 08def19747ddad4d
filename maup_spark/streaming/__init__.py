from .assign_stream import streaming_assign_counts, streaming_windowed_events
from .harness import run_available_now
from .novelty import novelty_batch, streaming_novelty
from .sessions import sessionize_batch, streaming_sessionize
from .twins import (
    dedup_batch,
    read_merged_profile,
    streaming_crawl_dedup,
    streaming_decontaminate,
    streaming_dedup,
    streaming_dsir_filter,
    streaming_extract_text,
    streaming_lm_filter,
    streaming_pii_scrub,
    streaming_profile,
)

__all__ = [
    "dedup_batch",
    "novelty_batch",
    "read_merged_profile",
    "run_available_now",
    "sessionize_batch",
    "streaming_assign_counts",
    "streaming_crawl_dedup",
    "streaming_decontaminate",
    "streaming_dedup",
    "streaming_dsir_filter",
    "streaming_extract_text",
    "streaming_lm_filter",
    "streaming_novelty",
    "streaming_pii_scrub",
    "streaming_profile",
    "streaming_sessionize",
    "streaming_windowed_events",
]
