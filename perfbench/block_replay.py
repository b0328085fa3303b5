"""block_replay: a seeded block-access log replayed over a microblock layout.

Set-up cuts sf0.1 ``orders`` into 140 microblocks of about 1,070 rows,
one parquet file of one row group per block (the layout
``MicroBlockWriter`` produces), indexes them with ``MicroBlockIndex``,
and trains the LSTM prefetch model on a ``generate_mixed_logs`` training
sequence drawn from the seed. Set-up runs ``SETUP_REPS`` times;
``setup_s`` is the median.

One client, closed loop, over a ``generate_mixed_logs`` access sequence
drawn from the seed. Each access asks ``BlockCache(32)`` for the block;
on a miss the block is read from parquet with ``read_block`` and
``put`` into the cache; the access then serves the block's rows. After
every 5 accesses one ``PrefetchService.run_once`` cycle, with the
service's defaults, runs inline: the scheduler suggests the next blocks
and the package's ``Prefetcher`` loads them into the same cache. Timed
ops are the accesses; the inline cycles count in the busy time behind
``ops_per_s``.

No JVM starts. The package's block path (``read_block``, ``Prefetcher``,
``BlockCache``, ``PrefetchService``) takes its Spark session as an
argument and uses only ``read.parquet`` and a scheduler-pool property of
it; ``ArrowSession`` stands in for it, so blocks are read with pyarrow
and cached as Arrow tables, as the reference engine caches them. A
Spark block read costs 100-300 ms on a 4-core box, so a run of a few
seconds would hold a few dozen accesses; this way it holds thousands,
and cache replacement and prediction, not Spark's per-job overhead, set
the numbers. What it leaves out is Spark's side of a block: the
DataFrame a read builds and the persist and unpersist that a put and an
eviction do.

Why: this is the paper's thesis layer. The access log walks three hot
ranges of 26, 31 and 36 blocks (93 in all), with in-range noise and
jumps, so the hot set is about three times the 32-block cache:
replacement and prediction both matter. Spark SQL planning and
``operators.*`` stay idle.

Correctness: each served block's row count is compared with the
block's parquet footer.
"""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq

from harness import Recorder, mean_ms

USES_SPARK = False
CACHE_BLOCKS = 32
N_BLOCKS = 140
SETUP_REPS = 3
PREFETCH_EVERY = 5
TRAIN_EVENTS = 2000
LSTM_EPOCHS = 8
WARM_ACCESSES = 200
# The loop moves to the next allowed CPU every ROTATE_EVERY accesses
# (about 0.1 s): on a shared host one core can be contended for a minute
# while the others are not, and a loop left on it reads that core's
# neighbours, not the program. Rotating averages the run over the cores,
# as the Spark workloads' tasks are averaged over them.
ROTATE_EVERY = 50
MAX_ACCESSES = 200_000


class ArrowSession:
    """The part of a SparkSession the package's block path uses:
    ``read.parquet(path)`` gives the file as a pyarrow Table, read
    with ``ParquetFile`` on the calling thread, as the reference engine
    reads a block (``read_table``'s dataset scan costs a small block
    four times as much and hands work to pool threads, whose wake-ups
    wait on the scheduler of a shared host); the scheduler-pool
    property a prefetch sets is ignored."""

    class _Reader:
        @staticmethod
        def parquet(path: str):
            with pq.ParquetFile(path) as block:
                return block.read(use_threads=False)

    class _Context:
        @staticmethod
        def setLocalProperty(_key, _value) -> None:
            pass

    read = _Reader()
    sparkContext = _Context()


def instrument(ctx) -> None:
    from columnar_database_project_spark.ml.lstm import LSTMPrefetcher
    from columnar_database_project_spark.ml.prefetch import Prefetcher
    from columnar_database_project_spark.ml.scheduler import PrefetchScheduler

    t = ctx.tracer
    t.instrument(LSTMPrefetcher, "fit", "ml.lstm.fit")
    t.instrument(PrefetchScheduler, "suggest_topk_prefetch", "ml.scheduler.suggest")
    t.instrument(Prefetcher, "prefetch_block", "ml.prefetch.read")


def run(ctx) -> dict:
    from columnar_database_project_spark.ml.lstm import LSTMPrefetcher
    from columnar_database_project_spark.ml.prefetch import Prefetcher, PrefetchService
    from columnar_database_project_spark.ml.scheduler import PrefetchScheduler
    from columnar_database_project_spark.ml.synthetic import generate_mixed_logs
    from columnar_database_project_spark.ml.training_set import build_from_sequence
    from columnar_database_project_spark.sources.index import MicroBlockIndex
    from columnar_database_project_spark.sources.microblock import read_block
    from columnar_database_project_spark.storage.access_logger import GlobalHistory
    from columnar_database_project_spark.storage.block_cache import BlockCache

    session, tracer, rec = ArrowSession(), ctx.tracer, ctx.rec

    def setup(i):
        path = os.path.join(ctx.run_dir, f"blocks{i}")
        os.makedirs(path)
        orders = pq.read_table(os.path.join(ctx.data_dir, "orders.parquet"))
        rows = math.ceil(orders.num_rows / N_BLOCKS)
        for b in range(N_BLOCKS):
            pq.write_table(
                orders.slice(b * rows, rows), os.path.join(path, f"part-{b:05d}.parquet"),
                row_group_size=rows, compression="snappy",
            )
        index = MicroBlockIndex.build(path, table_id="orders")
        ts = build_from_sequence(generate_mixed_logs(TRAIN_EVENTS, seed=ctx.seed))
        model = LSTMPrefetcher(ts.vocab_size, seed=7)
        model.fit(ts.inputs, ts.labels, epochs=LSTM_EPOCHS)
        return index, PrefetchScheduler(model, ts.id2idx, ts.idx2id)

    (index, scheduler), setup_s = ctx.timed_setup(setup, reps=SETUP_REPS)
    footer_rows = {
        b: pq.ParquetFile(index.block_file(b)).metadata.num_rows
        for b in range(index.num_blocks)
    }

    def replay(accesses: list[int], r: Recorder, window: bool) -> dict:
        """Serve ``accesses`` in order from a fresh cache, with a
        prefetch cycle after every ``PREFETCH_EVERY``; with ``window``
        stop at the first cycle boundary after ``ctx.seconds``."""
        cache = BlockCache(capacity=CACHE_BLOCKS)
        history = GlobalHistory(maxlen=500)
        service = PrefetchService(
            scheduler, Prefetcher(session, index, cache), history, cache
        )
        pending: set[int] = set()
        served = {"hits": 0, "prefetch_hits": 0, "accesses": 0, "hit_s": 0.0}

        def access(b: int) -> int:
            table = cache.get(b)
            if table is None:
                with tracer.span("sources.microblock.read"):
                    table = read_block(session, index, b)
                with tracer.span("storage.block_cache.put"):
                    cache.put(b, table)
            return table.num_rows

        def cycle():
            with tracer.span("ml.prefetch.cycle"):
                return service.run_once()

        cpus = sorted(os.sched_getaffinity(0))
        start = rec.clock()
        for b in accesses:
            hit = cache.contains(b)
            busy = r.busy
            r.op("read", lambda: access(b),
                 check=lambda n: None if n == footer_rows[b] else f"block {b}: {n} rows, footer {footer_rows[b]}")
            served["accesses"] += 1
            if hit:
                served["hits"] += 1
                served["hit_s"] += r.busy - busy
            if b in pending:
                served["prefetch_hits"] += hit
                pending.discard(b)
            history.record(b)
            if served["accesses"] % PREFETCH_EVERY == 0:
                seen = len(service.issued_log)
                r.work("prefetch", cycle)
                pending.update(service.issued_log[seen:])
                if served["accesses"] % ROTATE_EVERY == 0:
                    turn = served["accesses"] // ROTATE_EVERY
                    os.sched_setaffinity(0, {cpus[turn % len(cpus)]})
                if window and not ctx.window_open(start):
                    break
        os.sched_setaffinity(0, cpus)
        served.update(evictions=cache.evictions, issued=service.prefetched)
        cache.clear()
        return served

    ctx.enter("warm")
    warm = Recorder(tracer=tracer)
    replay(generate_mixed_logs(WARM_ACCESSES, seed=ctx.seed + 104_729), warm, window=False)
    rec.absorb_failures(warm)

    ctx.enter("run")
    got = replay(generate_mixed_logs(MAX_ACCESSES, seed=ctx.seed + 7_919), rec, window=True)

    e2e = {
        "setup_s": setup_s,
        "ops_per_s": rec.ops_per_s(),
        "read_mean_ms": rec.mean_ms("read"),
        "read_p50_ms": rec.latency_ms("read", 50),
        "read_p90_ms": rec.latency_ms("read", 90),
    }
    notes = {
        "read_p50_ms": rec.latency_note("read", 50),
        "read_p90_ms": rec.latency_note("read", 90),
        "write_p50_ms": "read-only workload",
        "write_p75_ms": "read-only workload",
        "write_kb_per_op": "read-only workload",
        "space_amp": "read-only workload",
    }
    out = {"end_to_end": e2e, "notes": notes}
    if tracer.enabled:
        st, st_setup = tracer.self_times("run"), tracer.self_times("setup")
        n = max(1, got["accesses"])
        out["per_layer"] = {
            "storage.block_cache.hit_ratio": got["hits"] / n,
            "storage.block_cache.evictions": got["evictions"] / n,
            "storage.block_cache.put_ms": mean_ms(st, "storage.block_cache.put"),
            "storage.block_cache.hit_serve_ms": 1000 * got["hit_s"] / max(1, got["hits"]),
            "sources.microblock.read_ms": mean_ms(st, "sources.microblock.read"),
            "ml.prefetch.precision": got["prefetch_hits"] / max(1, got["issued"]),
            "ml.scheduler.suggest_ms": mean_ms(st, "ml.scheduler.suggest"),
            "ml.prefetch.issued": got["issued"] / n,
            "ml.prefetch.read_ms": mean_ms(st, "ml.prefetch.read"),
            "ml.prefetch.cycle_ms": mean_ms(st, "ml.prefetch.cycle"),
            "ml.lstm.fit_s": mean_ms(st_setup, "ml.lstm.fit") / 1000,
        }
    return out
