"""Structured-Streaming analogs of the reference's continuous modes
(SURVEY.md §2.8 S-series)."""

from . import jobs, stateful  # noqa: F401

__all__ = ["jobs", "stateful"]
