"""Structured Streaming surfaces over event and document streams: windowed
counts (``stream``), sessions (``sessionize``), streaming exact dedup
(``dedup_stream``) and interval joins (``join_stream``). None of them writes
to a store.

Import the submodule you need; this package re-exports nothing.
"""
