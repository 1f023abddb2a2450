"""Structured Streaming surface.

The reference has NO streaming operators (SURVEY.md §2.10) — its
resumability contract is batch-level. The engine therefore treats
streaming as an *ingestion mode*: checkpointed ``Trigger.AvailableNow``
file streams feeding the same batch pipeline (exactly-once per file),
all in ``streaming/annotate.py``.
"""
