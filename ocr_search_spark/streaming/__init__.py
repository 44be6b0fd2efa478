"""Structured Streaming surfaces over event and document streams."""

from .stream import windowed_event_counts

__all__ = ["windowed_event_counts"]
