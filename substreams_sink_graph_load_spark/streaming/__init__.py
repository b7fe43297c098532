"""Structured Streaming wrapper — the reference's ``graphload run`` role
(SURVEY §2.10, §3.1) re-expressed as readStream -> foreachBatch incremental
SCD-2 with cross-batch open-version state.
"""

from .run import StreamingSink, run_stream

__all__ = ["StreamingSink", "run_stream"]
