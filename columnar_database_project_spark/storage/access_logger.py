"""Access logging + rolling history — the ML-prefetch training tap.

Re-expresses reference access_logger.py with the §2.5.5 fix: the
reference rewrites the entire JSON file on every query (O(n²) total
I/O); we append JSON-lines. Event schema gains ``query_id`` (the
reference logs only ``{"ts", "block"}``, access_logger.py:29-38).

``GlobalHistory`` is driver-side state exactly like the reference's
deque (access_logger.py:47-58) — it is control-plane, not data-plane.
Both classes are lock-guarded (the reference has a daemon-thread race,
SURVEY §2.5.6).
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import deque


class AccessLogger:
    """Append-only JSONL access log: one line per touched block."""

    def __init__(self, path: str):
        self.path = path
        self._lock = threading.Lock()
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)

    def log(
        self,
        block_ids: list[int],
        ts: float | None = None,
        query_id: str | None = None,
    ) -> None:
        ts = ts if ts is not None else time.time()
        lines = "".join(
            json.dumps({"ts": ts, "query_id": query_id, "block": int(b)}) + "\n"
            for b in block_ids
        )
        with self._lock, open(self.path, "a") as f:
            f.write(lines)

    def read_events(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with self._lock, open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def block_sequence(self) -> list[int]:
        """Flat chronological block-id sequence (training input)."""
        return [e["block"] for e in self.read_events()]

    def to_spark(self, spark):
        """Log as a DataFrame — enables Spark-side training-set builds
        (window over the log table) at scale."""
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("ts", T.DoubleType()),
                T.StructField("query_id", T.StringType()),
                T.StructField("block", T.LongType()),
            ]
        )
        return spark.createDataFrame(self.read_events() or [], schema=schema)


class GlobalHistory:
    """Rolling in-memory history of recent block accesses (reference
    access_logger.py:47-58), lock-guarded."""

    def __init__(self, maxlen: int = 200):
        self._dq: deque[int] = deque(maxlen=maxlen)
        self._lock = threading.Lock()

    def record(self, block_id: int) -> None:
        with self._lock:
            self._dq.append(int(block_id))

    def record_many(self, block_ids: list[int]) -> None:
        with self._lock:
            self._dq.extend(int(b) for b in block_ids)

    def get_sequence(self, n: int | None = None) -> list[int]:
        with self._lock:
            seq = list(self._dq)
        if n is None:
            return seq
        return seq[-n:] if n > 0 else []

    def __len__(self) -> int:
        with self._lock:
            return len(self._dq)
