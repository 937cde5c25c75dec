"""The benchmark's view of round boundaries: a ``RoundStore`` that
timestamps each ``commit_round``.  It changes nothing the crawl sees."""

from __future__ import annotations

import os
import time
from typing import Tuple

from hepcrawl_spark.frontier.checkpoint import RoundStore


class TimedStore(RoundStore):
    def __init__(self, spark, root: str):
        super().__init__(spark, root)
        self.commits = []  # (round, perf_counter at commit start, at end)

    def commit_round(self, n, tables, meta=None):
        t0 = time.perf_counter()
        super().commit_round(n, tables, meta)
        self.commits.append((n, t0, time.perf_counter()))

    def round_dir(self, n: int) -> str:
        return self._round_dir(n)


def dir_usage(path: str) -> Tuple[int, int]:
    """(bytes, files) under ``path``."""
    sizes = [os.path.getsize(os.path.join(d, f))
             for d, _, files in os.walk(path) for f in files]
    return sum(sizes), len(sizes)
