"""Structured Streaming surface (SURVEY §2.8 analogs).

The reference is batch-only; these are the streaming re-expressions of
its lifecycle: checkpointed incremental extraction (run/draft resume ≙
Trigger.AvailableNow over a file source with a streaming checkpoint) and
gap-based sessionization (TextBlockParser.php:219-263 Y-gap grouping ≙
session_window).
"""

from .stream import (read_transcript_stream, run_stream_extract,
                     sessionize_by_gap)

__all__ = [
    "read_transcript_stream", "run_stream_extract", "sessionize_by_gap",
]
