"""Structured Streaming surface.

The reference is strictly batch (SURVEY.md §1.4 — no watermarks, windows
or stateful ops anywhere), so this module is an *extension*: the same
engine operators applied to unbounded inputs, for pipelines that analyze
a continuously-crawled corpus.  Streams are encoded by the
``upe_encoded`` stream sink (:mod:`..sources.spark_datasource`).
"""

from .jobs import (
    streaming_event_counts,
    streaming_quality_scores,
    streaming_running_totals,
)

__all__ = [
    "streaming_event_counts",
    "streaming_quality_scores",
    "streaming_running_totals",
]
