"""Shared test helper for the DIS reader's read plan."""

from __future__ import annotations


def planned_ranges(tasks) -> list:
    """The offset ranges of a reader's ``partitions()`` read tasks, in
    plan order."""
    return [r for t in tasks for r in t.ranges]
