"""ML prefetch stack: LSTM gradient/learning, training set, scheduler,
model persistence, evaluation — mirroring the reference's pipeline
(smoke_test.py:5-68) with actual assertions."""

from __future__ import annotations

import numpy as np
import pytest

from columnar_database_project_spark.ml.evaluate import evaluate
from columnar_database_project_spark.ml.lstm import LSTMPrefetcher, _sigmoid
from columnar_database_project_spark.ml.prefetch import PrefetchService
from columnar_database_project_spark.ml.scheduler import MAX_SEQ, PrefetchScheduler
from columnar_database_project_spark.ml.synthetic import generate_mixed_logs
from columnar_database_project_spark.ml.training_set import (
    WINDOW,
    TrainingSet,
    build_from_sequence,
)
from columnar_database_project_spark.storage.access_logger import GlobalHistory
from columnar_database_project_spark.storage.block_cache import BlockCache


class TestTrainingSet:
    def test_vocab_reserves_zero(self):
        ts = build_from_sequence([7, 8, 7, 9, 8, 7], window=2)
        assert 0 not in ts.id2idx.values()
        assert ts.vocab_size == 4  # 3 distinct + pad

    def test_windowing(self):
        ts = build_from_sequence([1, 2, 3, 4, 5], window=3)
        assert len(ts.inputs) == 2
        # windows are consecutive, label is the next element
        decoded = [[ts.idx2id[i] for i in w] for w in ts.inputs]
        assert decoded == [[1, 2, 3], [2, 3, 4]]
        assert [ts.idx2id[l] for l in ts.labels] == [4, 5]

    def test_save_load_mappings(self, tmp_path):
        ts = build_from_sequence([5, 6, 5, 7, 6, 5, 6], window=2)
        ts.save(str(tmp_path / "ds.json"), str(tmp_path / "map.json"))
        id2idx, idx2id, vocab = TrainingSet.load_mappings(str(tmp_path / "map.json"))
        assert id2idx == ts.id2idx
        assert idx2id == ts.idx2id
        assert vocab == ts.vocab_size


class TestLSTM:
    def test_gradients_match_numeric(self):
        m = LSTMPrefetcher(num_tokens=6, embed_dim=3, hidden_dim=4, seed=1)
        seqs = [[1, 2, 3], [4, 5]]
        mh = np.zeros((2, 6))
        mh[0, 2] = 1
        mh[1, 5] = 1

        def loss_fn():
            probs = _sigmoid(m.forward(seqs))
            eps = 1e-12
            return -np.mean(
                mh * np.log(probs + eps) + (1 - mh) * np.log(1 - probs + eps)
            )

        before = loss_fn()
        # a few optimizer steps must reduce the loss
        for _ in range(10):
            m.train_step(seqs, mh, lr=3e-2)
        assert loss_fn() < before

    def test_learns_sequential_pattern(self):
        seq = generate_mixed_logs(2000, seed=7)
        ts = build_from_sequence(seq)
        split = int(len(ts.inputs) * 0.8)
        m = LSTMPrefetcher(ts.vocab_size)
        m.fit(ts.inputs[:split], ts.labels[:split], epochs=8)
        metrics = evaluate(m, ts.inputs[split:], ts.labels[split:])
        # mostly-sequential workload: next block is predictable
        assert metrics["hit@1"] > 0.35
        assert metrics["hit@10"] > 0.6
        assert metrics["mrr"] > 0.4

    def test_variable_length_batches(self):
        m = LSTMPrefetcher(num_tokens=10)
        logits = m.forward([[1], [2, 3, 4, 5], [6, 7]])
        assert logits.shape == (3, 10)
        # a padded short sequence scores identically to its unpadded self
        solo = m.forward([[1]])
        np.testing.assert_allclose(logits[0], solo[0], atol=1e-10)

    def test_save_load_roundtrip(self, tmp_path):
        m = LSTMPrefetcher(num_tokens=12, seed=3)
        path = str(tmp_path / "model.npz")
        m.save(path)
        m2 = LSTMPrefetcher.load(path)
        seqs = [[1, 2, 3]]
        np.testing.assert_allclose(m.forward(seqs), m2.forward(seqs))


class _ReferenceLSTM(LSTMPrefetcher):
    """The per-step forward loop the hoisted kernel replaced: re-gathers
    the embedding and projects it every step, three separate gate
    sigmoids, and a float-mask blend of h/c for every batch. Kept as
    the reference the kernel is checked against; ``train_step`` runs
    its BPTT over this loop's cache."""

    def forward(self, seqs, cache=False):
        x, lengths = self._pad_batch(seqs)
        p = self.params
        B, T = x.shape
        H = self.hidden_dim
        h = np.zeros((B, H))
        c = np.zeros((B, H))
        steps = []
        for t in range(T):
            emb = p["E"][x[:, t]]
            mask = (t < lengths).astype(float)[:, None]
            z = emb @ p["Wx"] + h @ p["Wh"] + p["b"]
            i_g = _sigmoid(z[:, :H])
            f_g = _sigmoid(z[:, H : 2 * H])
            g_g = np.tanh(z[:, 2 * H : 3 * H])
            o_g = _sigmoid(z[:, 3 * H :])
            c_new = f_g * c + i_g * g_g
            h_new = o_g * np.tanh(c_new)
            c_next = mask * c_new + (1 - mask) * c
            h_next = mask * h_new + (1 - mask) * h
            if cache:
                steps.append(
                    dict(
                        emb=emb, h_prev=h, c_prev=c, i=i_g, f=f_g, g=g_g, o=o_g,
                        c_new=c_new, mask=mask, tok=x[:, t],
                    )
                )
            h, c = h_next, c_next
        logits = h @ p["Wy"] + p["by"]
        if cache:
            return logits, dict(steps=steps, h_last=h, x=x, lengths=lengths)
        return logits


def _reference_twin(model: LSTMPrefetcher) -> _ReferenceLSTM:
    ref = _ReferenceLSTM(model.num_tokens, model.embed_dim, model.hidden_dim)
    ref.params = {k: v.copy() for k, v in model.params.items()}
    ref.context = model.context
    return ref


class TestForwardKernel:
    """The hoisted forward kernel against the per-step reference loop.
    Summation order differs (the bias is added to the projection before
    ``h @ Wh``), so results agree to float64 rounding, not bit for bit."""

    @pytest.mark.parametrize(
        "seqs",
        [
            [[3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5]],                  # single sequence
            [[1, 2, 3, 4], [5, 6, 7, 8], [9, 10, 11, 1]],         # uniform batch
            [[1], [2, 3, 4, 5, 6, 7], [8, 9], [10, 11, 1, 2]],    # ragged batch
            [[7]],                                                # T = 1
            [[4], [4], [11]],                                     # T = 1, batch
            [[2, 2, 2, 0, 2, 0, 0, 3, 3], [0, 5, 0, 5, 5]],       # repeats + mid PAD
        ],
        ids=["single", "uniform", "ragged", "t1", "t1_batch", "repeats_pad"],
    )
    def test_logits_match_reference(self, seqs):
        m = LSTMPrefetcher(num_tokens=12, seed=5)
        # a trained-looking model: nonzero biases and a nonzero PAD row
        rng = np.random.RandomState(9)
        m.params["b"] = rng.normal(0, 0.5, m.params["b"].shape)
        m.params["by"] = rng.normal(0, 0.5, m.params["by"].shape)
        m.params["E"][0] = rng.normal(0, 0.5, m.embed_dim)
        ref = _reference_twin(m)
        np.testing.assert_allclose(m.forward(seqs), ref.forward(seqs), rtol=0, atol=1e-10)

    def test_train_steps_match_reference_on_ragged_prefixes(self):
        from columnar_database_project_spark.ml.alt_trainer import (
            build_prefix_dataset,
        )

        seq = generate_mixed_logs(400, seed=13)
        queries = [seq[i : i + 12] for i in range(0, len(seq) - 12, 12)]
        inputs, labels, id2idx, _ = build_prefix_dataset(queries)
        m = LSTMPrefetcher(num_tokens=len(id2idx) + 1, seed=2)
        ref = _reference_twin(m)
        for step in range(5):
            batch = list(range(step * 32, step * 32 + 32))
            seqs = [inputs[i] for i in batch]
            assert len({len(s) for s in seqs}) > 1          # ragged
            mh = np.zeros((len(batch), m.num_tokens))
            mh[np.arange(len(batch)), [labels[i] for i in batch]] = 1.0
            for mode in ("ce", "bce"):
                loss = m.train_step(seqs, mh, lr=1e-2, loss_mode=mode)
                ref_loss = ref.train_step(seqs, mh, lr=1e-2, loss_mode=mode)
                assert abs(loss - ref_loss) <= 1e-10
                for k in m.params:
                    np.testing.assert_allclose(
                        m.params[k], ref.params[k], rtol=0, atol=1e-10, err_msg=k
                    )

    def test_scheduler_suggestions_match_reference(self):
        seq = generate_mixed_logs(1500, seed=3)
        ts = build_from_sequence(seq)
        m = LSTMPrefetcher(ts.vocab_size, seed=7)
        m.fit(ts.inputs, ts.labels, epochs=4)
        sched = PrefetchScheduler(m, ts.id2idx, ts.idx2id)
        ref = PrefetchScheduler(_reference_twin(m), ts.id2idx, ts.idx2id)
        replay = generate_mixed_logs(3000, seed=17)
        rng = np.random.RandomState(17)
        for _ in range(1000):
            end = int(rng.randint(3, len(replay)))
            window = replay[max(0, end - int(rng.randint(3, 80))) : end]
            cached = set(window[-32:])
            got = sched.suggest_topk_prefetch(sequence=window, k=10, exclude_blocks=cached)
            want = ref.suggest_topk_prefetch(sequence=window, k=10, exclude_blocks=cached)
            assert (got is None) == (want is None)
            if got is not None:
                assert [b for b, _ in got] == [b for b, _ in want]
                np.testing.assert_allclose(
                    [p for _, p in got], [p for _, p in want], rtol=0, atol=1e-12
                )


class TestScheduler:
    def _trained(self):
        seq = generate_mixed_logs(1500, seed=3)
        ts = build_from_sequence(seq)
        m = LSTMPrefetcher(ts.vocab_size)
        m.fit(ts.inputs, ts.labels, epochs=6)
        return PrefetchScheduler(m, ts.id2idx, ts.idx2id), seq

    def test_topk_suggestions(self):
        sched, seq = self._trained()
        out = sched.suggest_topk_prefetch(sequence=seq[:40], k=5)
        assert out is not None and len(out) == 5
        blocks = [b for b, _ in out]
        assert len(set(blocks)) == 5
        probs = [p for _, p in out]
        assert probs == sorted(probs, reverse=True)

    def test_short_history_returns_none(self):
        sched, _ = self._trained()
        assert sched.suggest_topk_prefetch(sequence=[1, 2]) is None

    def test_unknown_ids_dropped(self):
        sched, seq = self._trained()
        assert sched.suggest_topk_prefetch(sequence=[99999, 99998, 99997]) is None

    def test_exclusions_respected(self):
        sched, seq = self._trained()
        base = sched.suggest_topk_prefetch(sequence=seq[:40], k=3)
        excl = {b for b, _ in base}
        out = sched.suggest_topk_prefetch(sequence=seq[:40], k=3, exclude_blocks=excl)
        assert out is not None
        assert not ({b for b, _ in out} & excl)

    def test_register_access_ring(self):
        sched, _ = self._trained()
        for i in range(100):
            sched.register_access("q1", i)
        seq = sched.sequence_for("q1")
        assert len(seq) == 64     # ring buffer cap (reference :85-90)
        assert seq[-1] == 99

    def test_nonpositive_k_suggests_nothing(self):
        sched, seq = self._trained()
        assert sched.suggest_topk_prefetch(sequence=seq[:40], k=0) == []
        assert sched.suggest_topk_prefetch(sequence=seq[:40], k=-3) == []
        cache = BlockCache(capacity=32)
        history = GlobalHistory()
        history.record_many(seq[:40])
        svc = PrefetchService(
            sched, _PlaceholderPrefetcher(cache), history, cache, k=0
        )
        assert svc.run_once() == 0
        assert svc.issued_log == [] and len(cache) == 0

    def test_from_files_roundtrip(self, tmp_path):
        seq = generate_mixed_logs(800, seed=5)
        ts = build_from_sequence(seq)
        m = LSTMPrefetcher(ts.vocab_size)
        m.fit(ts.inputs, ts.labels, epochs=2)
        mp = str(tmp_path / "model.npz")
        mapp = str(tmp_path / "mappings.json")
        m.save(mp)
        ts.save(str(tmp_path / "ds.json"), mapp)
        sched = PrefetchScheduler.from_files(mp, mapp)
        assert sched.suggest_topk_prefetch(sequence=seq[:30], k=3)


class _PlaceholderPrefetcher:
    """A ``Prefetcher`` without I/O: a load caches the block id itself."""

    def __init__(self, cache: BlockCache) -> None:
        self.cache = cache

    def prefetch_block(self, block_id: int) -> bool:
        if self.cache.contains(block_id):
            return False
        self.cache.put(block_id, block_id)
        return True


def _replay(sched: PrefetchScheduler, accesses: list[int]) -> tuple[float, float]:
    """(hit ratio, prefetch precision) of ``accesses`` served from a
    ``BlockCache(32)`` of placeholders with a ``PrefetchService`` cycle
    after every 5 accesses — the ``block_replay`` loop without reads."""
    cache = BlockCache(capacity=32)
    history = GlobalHistory(maxlen=500)
    svc = PrefetchService(sched, _PlaceholderPrefetcher(cache), history, cache)
    pending: set[int] = set()
    hits = prefetch_hits = 0
    for i, b in enumerate(accesses, 1):
        hit = cache.get(b) is not None
        if not hit:
            cache.put(b, b)
        hits += hit
        if b in pending:
            prefetch_hits += hit
            pending.discard(b)
        history.record(b)
        if i % 5 == 0:
            seen = len(svc.issued_log)
            svc.run_once()
            pending.update(svc.issued_log[seen:])
    return hits / len(accesses), prefetch_hits / max(1, svc.prefetched)


class TestScoringWindow:
    """The scheduler scores the context length the model was trained on
    (``LSTMPrefetcher.context``), falling back to ``MAX_SEQ`` ids for an
    untrained or legacy model."""

    @staticmethod
    def _scored_lengths(model: LSTMPrefetcher) -> list[int]:
        """Record the sequence lengths every later ``forward`` scores."""
        lengths: list[int] = []
        forward = model.forward

        def spy(seqs, cache=False):
            lengths.extend(len(s) for s in seqs)
            return forward(seqs, cache)

        model.forward = spy
        return lengths

    def test_fit_on_windows_sets_context(self):
        ts = build_from_sequence(generate_mixed_logs(300, seed=4))
        m = LSTMPrefetcher(ts.vocab_size)
        assert m.context == 0
        m.fit(ts.inputs, ts.labels, epochs=1)
        assert m.context == WINDOW == 5

    def test_alt_trainer_prefixes_set_longest_prefix(self):
        from columnar_database_project_spark.ml.alt_trainer import (
            MAX_PREFIX,
            build_prefix_dataset,
        )

        seq = generate_mixed_logs(400, seed=6)
        for qlen, want in ((8, 7), (30, MAX_PREFIX)):
            queries = [seq[i : i + qlen] for i in range(0, len(seq) - qlen, qlen)]
            inputs, labels, id2idx, _ = build_prefix_dataset(queries)
            m = LSTMPrefetcher(len(id2idx) + 1)
            m.fit(inputs, labels, epochs=1)
            assert m.context == max(len(s) for s in inputs) == want

    def test_long_history_scores_last_context_known_ids(self):
        seq = generate_mixed_logs(1500, seed=3)
        ts = build_from_sequence(seq)
        m = LSTMPrefetcher(ts.vocab_size, seed=7)
        m.fit(ts.inputs, ts.labels, epochs=2)
        sched = PrefetchScheduler(m, ts.id2idx, ts.idx2id)
        unknown = 10**6
        history = list(seq[200:270])
        history[-2] = history[-6] = history[-40] = unknown
        assert len(history) >= MAX_SEQ
        known = [b for b in history[-MAX_SEQ:] if b in ts.id2idx]
        scored = self._scored_lengths(m)
        got = sched.suggest_topk_prefetch(sequence=history, k=10)
        want = sched.suggest_topk_prefetch(sequence=known[-m.context :], k=10)
        assert scored == [5, 5]
        assert got == want
        # the unknown ids are dropped before the cut, not counted in it
        assert sched.suggest_topk_prefetch(sequence=history[-5:], k=10) != got

    def test_zero_context_scores_max_seq(self, tmp_path):
        seq = generate_mixed_logs(600, seed=8)
        ts = build_from_sequence(seq)
        untrained = LSTMPrefetcher(ts.vocab_size, seed=1)
        assert untrained.context == 0
        history = seq[:100]
        scored = self._scored_lengths(untrained)
        PrefetchScheduler(untrained, ts.id2idx, ts.idx2id).suggest_topk_prefetch(
            sequence=history
        )
        assert scored == [MAX_SEQ]

        # a legacy .npz, saved before the field existed, loads as 0
        trained = LSTMPrefetcher(ts.vocab_size, seed=1)
        trained.fit(ts.inputs, ts.labels, epochs=1)
        path = str(tmp_path / "legacy.npz")
        trained.save(path)
        fields = dict(np.load(path))
        del fields["context"]
        np.savez(path, **fields)
        legacy = LSTMPrefetcher.load(path)
        assert legacy.context == 0
        scored = self._scored_lengths(legacy)
        PrefetchScheduler(legacy, ts.id2idx, ts.idx2id).suggest_topk_prefetch(
            sequence=history
        )
        assert scored == [MAX_SEQ]

    def test_save_load_keeps_context(self, tmp_path):
        ts = build_from_sequence(generate_mixed_logs(300, seed=2))
        m = LSTMPrefetcher(ts.vocab_size)
        m.fit(ts.inputs, ts.labels, epochs=1)
        path = str(tmp_path / "model.npz")
        m.save(path)
        assert LSTMPrefetcher.load(path).context == m.context == 5

    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_trained_window_predicts_no_worse_than_max_seq(self, seed):
        # block_replay's model and trajectory (training log of 2,000
        # events, model seed 7, 8 epochs; the first 4,000 accesses of its
        # replay log). Measured hit ratio 64 ids → 5 ids: 0.582 → 0.592,
        # 0.570 → 0.636, 0.572 → 0.612 on seeds 1-3.
        ts = build_from_sequence(generate_mixed_logs(2000, seed=seed))
        m = LSTMPrefetcher(ts.vocab_size, seed=7)
        m.fit(ts.inputs, ts.labels, epochs=8)
        sched = PrefetchScheduler(m, ts.id2idx, ts.idx2id)
        accesses = generate_mixed_logs(4000, seed=seed + 7919)
        hit, precision = _replay(sched, accesses)
        m.context = 0
        hit_64, precision_64 = _replay(sched, accesses)
        assert hit >= hit_64
        assert precision >= precision_64


class TestAltTrainer:
    def test_c15_prefix_ce_pipeline(self):
        # C15 (reference model.py:203-343): prefix dataset, CE loss,
        # 80/20 split, accuracy eval. A sequential synthetic workload
        # must be learnable far above chance.
        from columnar_database_project_spark.ml.alt_trainer import (
            build_prefix_dataset,
            train_alt,
        )

        seq = generate_mixed_logs(1200, seed=11)
        queries = [seq[i : i + 12] for i in range(0, len(seq) - 12, 12)]
        inputs, labels, id2idx, _ = build_prefix_dataset(queries)
        assert len(inputs) == len(labels) == sum(len(q) - 1 for q in queries)
        assert all(1 <= lab < len(id2idx) + 1 for lab in labels)
        assert max(len(s) for s in inputs) <= 20          # MAX_PREFIX cap

        model, report = train_alt(queries, epochs=4, seed=3)
        assert report["train_loss"][-1] < report["train_loss"][0]
        chance = 3.0 / report["vocab_size"]
        assert report["hit@3"] > 5 * chance               # learned, not random
        assert 0.0 <= report["accuracy"] <= 1.0
        assert report["n_eval"] > 0

    def test_empty_dataset_raises(self):
        # blocks with <2 accesses yield zero prefix samples — a clear
        # error beats fitting an empty model
        from columnar_database_project_spark.ml.alt_trainer import train_alt

        import pytest as _pytest

        with _pytest.raises(ValueError, match="no prefix samples"):
            train_alt([[7]], epochs=1)
        with _pytest.raises(ValueError, match="no prefix samples"):
            train_alt([], epochs=1)

    def test_tiny_dataset_keeps_holdout_or_reports_none(self):
        from columnar_database_project_spark.ml.alt_trainer import train_alt

        # 2 samples → 1 train / 1 eval (holdout preserved)
        _, rep = train_alt([[1, 2, 3]], epochs=1)
        assert rep["n_train"] == 1 and rep["n_eval"] == 1
        assert rep["accuracy"] is not None

        # 1 sample → trained on it, eval metrics explicitly None
        _, rep1 = train_alt([[4, 5]], epochs=1)
        assert rep1["n_train"] == 1 and rep1["n_eval"] == 0
        assert rep1["accuracy"] is None and rep1["mrr"] is None


class TestBuildWithSpark:
    """C13's cluster-side builder: the r7 rewrite replaced the naive
    unpartitioned W.orderBy("ts") (single-task sort of the whole
    fleet log) with time-bucketed windows + seam carry. Parity with
    the driver-side builder is the correctness bar."""

    def _log_df(self, spark, seq, t0=1000.0, dt=1.5):
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "ts": [t0 + i * dt for i in range(len(seq))],
                    "query_id": ["q"] * len(seq),
                    "block": seq,
                }
            )
        )

    def test_matches_driver_builder_across_buckets(self, spark):
        from columnar_database_project_spark.ml.training_set import (
            build_from_sequence,
            build_with_spark,
        )

        seq = generate_mixed_logs(400, seed=5)
        want = build_from_sequence(seq)
        for n_buckets in (1, 4, 9):
            got = build_with_spark(
                spark, self._log_df(spark, seq), n_buckets=n_buckets
            )
            assert got.id2idx == want.id2idx
            assert got.vocab_size == want.vocab_size
            assert got.inputs == want.inputs
            assert got.labels == want.labels

    def test_empty_log_edge(self, spark):
        from columnar_database_project_spark.ml.training_set import (
            build_with_spark,
        )

        ts = build_with_spark(spark, self._log_df(spark, [1]).limit(0))
        assert ts.inputs == [] and ts.labels == [] and ts.vocab_size == 1

    def test_no_unpartitioned_window_in_source(self):
        """Structural pin: the builder must never regress to a global
        W.orderBy without partitionBy (the single-task fleet-log sort
        the r7 rewrite removed)."""
        import inspect

        from columnar_database_project_spark.ml import training_set

        src = inspect.getsource(training_set.build_with_spark)
        assert "W.partitionBy" in src
        # every window in the builder must start from a partitionBy
        # chain; a bare W.orderBy(...) is the regression this pins
        for line in src.splitlines():
            if "W.orderBy" in line:
                raise AssertionError(f"unpartitioned window: {line.strip()}")
