"""Structured Streaming surface (SURVEY §2.14).

The reference has no streaming; the engine keeps every transform a pure
``DataFrame -> DataFrame`` function so the same code runs under
``readStream``. This package adds the streaming-only pieces: watermarks,
windowed/sessionized aggregation, the foreachBatch upsert sink and
incremental dedup.
"""
