"""PrefetchScheduler — top-K next-block prediction from access history.

Re-expresses reference prefetch_scheduler.py:36-182: load model +
mappings, keep a per-query ring buffer of recent accesses, and suggest
top-K blocks to prefetch — encode the last ≤64 ids (dropping unknowns),
keep the last ``model.context`` of them (need ≥3 left, reference :110),
forward pass, mask the pad logit, sigmoid, top-k, drop cached/unknown
ids.

Deviation from the reference, which scores all 64 ids
(prefetch_scheduler.py:171): the model is scored on the context length
it was trained on (5 ids for the shipped trainer), not on inputs 13×
longer than any it has seen. On a replay of the ``block_replay``
trajectory that raised the cache hit ratio and held or raised prefetch
precision, and it cuts a suggestion from 64 recurrence steps to 5. An
untrained or legacy model (``context == 0``) still scores all 64.
"""

from __future__ import annotations

from collections import defaultdict, deque

import numpy as np

from columnar_database_project_spark.ml.lstm import PAD, LSTMPrefetcher, _sigmoid
from columnar_database_project_spark.ml.training_set import TrainingSet

MAX_SEQ = 64        # ids encoded; scored only when model.context is 0 (reference :171)
MIN_HISTORY = 3     # reference prefetch_scheduler.py:110
RING = 64           # reference prefetch_scheduler.py:85-90


class PrefetchScheduler:
    def __init__(
        self,
        model: LSTMPrefetcher,
        id2idx: dict[int, int],
        idx2id: dict[int, int],
    ) -> None:
        self.model = model
        self.id2idx = id2idx
        self.idx2id = idx2id
        self._per_query: dict[str, deque[int]] = defaultdict(
            lambda: deque(maxlen=RING)
        )

    @classmethod
    def from_files(cls, model_path: str, mappings_path: str) -> "PrefetchScheduler":
        id2idx, idx2id, _ = TrainingSet.load_mappings(mappings_path)
        return cls(LSTMPrefetcher.load(model_path), id2idx, idx2id)

    # ------------------------------------------------------------ access
    def register_access(self, query_id: str, block_id: int) -> None:
        self._per_query[query_id].append(int(block_id))

    def sequence_for(self, query_id: str) -> list[int]:
        return list(self._per_query[query_id])

    # --------------------------------------------------------- inference
    def suggest_topk_prefetch(
        self,
        query_id: str = "GLOBAL",
        sequence: list[int] | None = None,
        k: int = 10,
        exclude_blocks: set[int] | None = None,
    ) -> list[tuple[int, float]] | None:
        """Top-K (block_id, probability), or None when history is too
        short after dropping unknown ids (reference :92-182); ``[]``
        when ``k <= 0``. Scores the last ``model.context`` known ids."""
        if k <= 0:
            return []
        seq = sequence if sequence is not None else self.sequence_for(query_id)
        enc = [self.id2idx[b] for b in seq[-MAX_SEQ:] if b in self.id2idx]
        enc = enc[-(self.model.context or MAX_SEQ):]
        if len(enc) < MIN_HISTORY:
            return None
        logits = self.model.forward([enc])[0]
        logits[PAD] = -1e9
        probs = _sigmoid(logits)
        exclude = exclude_blocks or set()
        order = np.argsort(-probs)
        out: list[tuple[int, float]] = []
        for idx in order:
            block = self.idx2id.get(int(idx))
            if block is None or block in exclude:
                continue
            out.append((block, float(probs[idx])))
            if len(out) >= k:
                break
        return out
