"""ML prefetch stack: LSTM gradient/learning, training set, scheduler,
model persistence, evaluation — mirroring the reference's pipeline
(smoke_test.py:5-68) with actual assertions."""

from __future__ import annotations

import numpy as np
import pytest

from columnar_database_project_spark.ml.evaluate import evaluate
from columnar_database_project_spark.ml.lstm import LSTMPrefetcher, _sigmoid
from columnar_database_project_spark.ml.scheduler import PrefetchScheduler
from columnar_database_project_spark.ml.synthetic import generate_mixed_logs
from columnar_database_project_spark.ml.training_set import (
    TrainingSet,
    build_from_sequence,
)


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
