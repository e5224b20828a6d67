"""Crash injection for the commit protocols of `twitter_flink_spark.commit`."""

from __future__ import annotations

import os


class CrashAfter:
    """Stands in for the ``os`` module inside `twitter_flink_spark.commit`:
    the first ``k`` renames succeed and every later one raises — a crash
    between two renames. Records the basenames it moved."""

    def __init__(self, k: int):
        self.k, self.moved = k, []

    def __getattr__(self, name):
        return getattr(os, name)

    def rename(self, src, dst):
        if len(self.moved) >= self.k:
            raise OSError("injected crash")
        os.rename(src, dst)
        self.moved.append(os.path.basename(dst))
