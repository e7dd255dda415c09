"""Helpers for reading the streaming pipelines' batchId-versioned
directories (``{table}/batch_id=N``) in tests."""

from __future__ import annotations

import os


def latest_batch_id(*tables: str) -> int:
    """The highest N with a ``batch_id=N`` directory under any of
    ``tables``."""
    return max(
        int(d.split("=")[1])
        for t in tables
        for d in os.listdir(t)
        if d.startswith("batch_id=")
    )
