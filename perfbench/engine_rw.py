"""engine_rw: reads beside merge-on-read writes through the engine façade.

Set-up copies sf0.1 ``lineitem`` into a ``ManifestStore``, sorted on
``l_orderkey`` and written in the reference's 16,384-row microblocks,
and wraps it in a ``MicroBlockEngine`` with a ``MicroBlockIndex`` (via
``register_manifest``), an ``AccessLogger`` and a ``GlobalHistory``.

One client, closed loop, in cycles of three reads and one write:

- the reads go through ``query_cached``: two ``l_orderkey`` point
  lookups and one one-week ``l_shipdate`` range aggregate, with keys and
  weeks drawn Zipf-skewed from the seed, so repeated keys can hit the
  result cache;
- the write is the engine's MoR delete, update or merge verb, in that
  rotation, with its defaults (auto-compaction on), followed by
  ``register_manifest``. Which rows it touches comes from the seed.

Every cycle has the same shape, and the window runs whole rounds of
three cycles (one write of each verb), so runs with different seeds
time the same mix of work. The timed round is the first after set-up:
it includes the first calls of the read and write paths and the first
auto-compaction. A warm-up round first would add 15-25 s to every run,
and the spread of a workload is measured over many runs.

Why: the façade, WHERE extraction, index prediction, access log,
result cache, manifest read path and deletion-vector compaction do the
work; ``operators.*`` is idle. Writes run beside reads, so a gain for
one that costs the other shows up in the same run. With the defaults,
the first auto-compaction re-blocks the table to 131,072-row blocks,
after which a single-row write taints a whole block and compacts again;
that behaviour is measured, not hidden.

Correctness: every DML is mirrored in DuckDB, every read is compared
with the mirror, and the whole table is compared after the window; each
final comparison that differs counts as one failed op.

Tracing splits a read that misses the result cache in two: the façade
(``engine.query``: SQL to plan, WHERE extraction, index prediction,
access log) and ``storage.manifests.read``, the delivery of that plan
(``toPandas`` inside ``query_cached``), which scans the live snapshot's
files and applies its deletion vectors. The deletion-vector read tax is
paid there. ``storage.manifests.snapshot`` is ``ManifestStore.read``,
which only builds the snapshot's lazy plan and runs on the write path
(``register_manifest`` after each write).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pandas as pd

import oracle
from harness import Recorder, SparkStatus, dir_files, mean_ms

POINT_SQL = (
    "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax "
    "FROM lineitem WHERE l_orderkey = {key}"
)
RANGE_SQL = (
    "SELECT count(*) AS n, sum(l_extendedprice) AS revenue FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < TIMESTAMP '{hi}'"
)
FIRST_WEEK = dt.datetime(1995, 1, 2)
N_WEEKS = 356
ZIPF_S = 1.1
CYCLE_READS = ("point", "point", "range")
VERBS = ("delete", "update", "merge")
SUMMARY_SQL = (
    "SELECT count(*) AS n, count(DISTINCT l_orderkey) AS orders, sum(l_linenumber) AS lines, "
    "sum(l_quantity) AS qty, sum(l_extendedprice) AS price, sum(l_tax) AS tax FROM lineitem"
)


class Zipf:
    """Ranks 0..n-1 with P(rank r) ∝ 1/(r+1)^s, mapped to items through
    a seeded permutation so hot items are spread over the table."""

    def __init__(self, items: np.ndarray, s: float, rng: np.random.Generator) -> None:
        w = 1.0 / np.arange(1, len(items) + 1) ** s
        self.cdf = np.cumsum(w) / w.sum()
        self.items = rng.permutation(items)
        self.rng = rng

    def draw(self):
        return self.items[int(np.searchsorted(self.cdf, self.rng.random()))]


def instrument(ctx) -> None:
    from columnar_database_project_spark import catalog
    from columnar_database_project_spark.plans import sql_where
    from columnar_database_project_spark.sources.index import MicroBlockIndex
    from columnar_database_project_spark.sources.microblock import MicroBlockWriter
    from columnar_database_project_spark.storage import cow
    from columnar_database_project_spark.storage.access_logger import AccessLogger
    from columnar_database_project_spark.storage.manifests import ManifestStore
    from pyspark.sql.classic.dataframe import DataFrame

    t = ctx.tracer

    def predicted(args, _kw, blocks):
        t.add("index.predicted", len(blocks))
        t.add("index.blocks", args[0].num_blocks)

    def rewritten(_args, _kw, report):
        t.add("cow.files_rewritten", report.get("files_rewritten", 0))

    def compacted(_args, _kw, report):
        if report.get("compacted"):
            t.add("cow.compactions")
            t.add("cow.files_rewritten", report.get("files_rewritten", 0))

    t.instrument(catalog, "load_table", "catalog.load")
    t.instrument(sql_where, "extract_where", "plans.sql_where.extract")
    t.instrument(MicroBlockIndex, "predict_blocks_for_sql", "sources.index.predict", predicted)
    t.instrument(MicroBlockIndex, "build_from_files", "sources.index.build")
    t.instrument(MicroBlockWriter, "write", "sources.microblock.write")
    t.instrument(AccessLogger, "log", "storage.access_logger.log")
    t.instrument(ManifestStore, "read", "storage.manifests.snapshot")
    # The package delivers a DataFrame only in query_cached, so during
    # the run this span is the execution of a read over the snapshot.
    t.instrument(DataFrame, "toPandas", "storage.manifests.read")
    t.instrument(cow, "delete_where_mor", "storage.cow.delete_mor", rewritten)
    t.instrument(cow, "update_where_mor", "storage.cow.update_mor", rewritten)
    t.instrument(cow, "merge_mor", "storage.cow.merge_mor", rewritten)
    t.instrument(cow, "compact_manifest", "storage.cow.compact", compacted)


def _live_bytes(store) -> int:
    return sum(os.path.getsize(f) for f in store.files_for())


def run(ctx) -> dict:
    import duckdb
    from pyspark.sql import types as T

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.engine import MicroBlockEngine
    from columnar_database_project_spark.sources.microblock import REFERENCE_BLOCK_ROWS
    from columnar_database_project_spark.storage.access_logger import AccessLogger, GlobalHistory
    from columnar_database_project_spark.storage.cow import (
        init_manifest_table,
        mor_compaction_debt,
    )
    from columnar_database_project_spark.storage.manifests import ManifestStore

    spark, tracer, rec = ctx.spark, ctx.tracer, ctx.rec
    source = os.path.join(ctx.data_dir, "lineitem.parquet")

    def setup(i):
        root = os.path.join(ctx.run_dir, f"store{i}")
        lineitem = load_table(spark, ctx.data_dir, "lineitem")
        store = ManifestStore(root)
        init_manifest_table(
            spark, store,
            lineitem.repartitionByRange(4, "l_orderkey")
            .sortWithinPartitions("l_orderkey", "l_linenumber"),
            block_rows=REFERENCE_BLOCK_ROWS,
        )
        engine = MicroBlockEngine(
            spark,
            logger=AccessLogger(os.path.join(root, "access_log.jsonl")),
            history=GlobalHistory(maxlen=500),
        )
        engine.register_manifest("lineitem", store)
        return store, engine

    (store, engine), setup_s = ctx.timed_setup(setup)
    schema = T.StructType.fromJson(json.loads(store.schema_json()))
    initial_bytes = _live_bytes(store)
    mirror = duckdb.connect()
    mirror.execute("SET enable_progress_bar = false")
    mirror.execute(f"CREATE TABLE lineitem AS SELECT * FROM read_parquet('{source}')")
    dtypes = mirror.execute("SELECT * FROM lineitem LIMIT 0").df().dtypes.to_dict()
    status = SparkStatus(spark) if tracer.enabled else None
    written = {"bytes": 0}
    touched: set[int] = set()

    rng = np.random.default_rng(ctx.seed)
    n_orders = mirror.execute("SELECT max(l_orderkey) + 1 FROM lineitem").fetchone()[0]
    keys = Zipf(np.arange(n_orders), ZIPF_S, rng)
    weeks = Zipf(np.arange(N_WEEKS), ZIPF_S, rng)

    def next_read(kind: str) -> str:
        if kind == "point":
            return POINT_SQL.format(key=int(keys.draw()))
        lo = FIRST_WEEK + dt.timedelta(weeks=int(weeks.draw()))
        return RANGE_SQL.format(lo=lo, hi=lo + dt.timedelta(weeks=1))

    def read(r: Recorder, sql: str) -> None:
        def query():
            with tracer.span("engine.query"):
                return engine.query_cached(sql)

        result = r.op(
            "read", query,
            check=lambda got: oracle.mismatch(
                oracle.canonical(got), oracle.canonical(mirror.execute(sql).df())
            ),
        )
        if status is not None:
            scanned = status.delta()["scan_rows"]
            if scanned and result is not None:
                tracer.add("read.rows_returned", len(result))
                tracer.add("read.rows_scanned", scanned)

    def lines_of(key: int) -> pd.DataFrame:
        return mirror.execute(
            "SELECT * FROM lineitem WHERE l_orderkey = ? ORDER BY l_linenumber", [key]
        ).df()

    def write(r: Recorder, verb: str) -> None:
        """One MoR write on seeded rows; the mirror applies it only if
        the engine's write succeeded."""
        key = int(keys.draw())
        touched.add(key)
        current = lines_of(key)
        if verb == "delete":
            pred = f"l_orderkey = {key}"
            if len(current):
                line = int(current.l_linenumber.iloc[int(rng.integers(len(current)))])
                pred += f" AND l_linenumber = {line}"
            apply = lambda: engine.delete_where_mor("lineitem", pred, store)  # noqa: E731
            mirrored = [(f"DELETE FROM lineitem WHERE {pred}", None)]
        elif verb == "update":
            pred = f"l_orderkey = {key}"
            apply = lambda: engine.update_where_mor(  # noqa: E731
                "lineitem", pred, {"l_quantity": "l_quantity + 1"}, store
            )
            mirrored = [(f"UPDATE lineitem SET l_quantity = l_quantity + 1 WHERE {pred}", None)]
        else:
            rows = current.assign(l_tax=0.05)
            new = {
                "l_orderkey": key,
                "l_partkey": int(rng.integers(20_000)),
                "l_suppkey": int(rng.integers(1_000)),
                "l_linenumber": int(current.l_linenumber.max()) + 1 if len(current) else 1,
                "l_quantity": float(rng.integers(1, 51)),
                "l_extendedprice": round(float(rng.uniform(900, 100_000)), 2),
                "l_discount": 0.02, "l_tax": 0.05,
                "l_returnflag": "N", "l_linestatus": "O",
                "l_shipdate": pd.Timestamp("1998-06-01"),
            }
            rows = pd.concat([rows, pd.DataFrame([new])], ignore_index=True)
            rows = rows.astype(dtypes)
            updates = spark.createDataFrame(rows[[f.name for f in schema.fields]], schema)
            apply = lambda: engine.merge_mor("lineitem", updates, "l_orderkey", store)  # noqa: E731
            mirrored = [
                (f"DELETE FROM lineitem WHERE l_orderkey = {key}", None),
                ("INSERT INTO lineitem SELECT * FROM rows", rows),
            ]

        def op():
            report = apply()
            engine.register_manifest("lineitem", store)
            return report

        before = dir_files(store.root)
        failed_before = r.failed
        r.op("write", op)
        if r.failed != failed_before:
            return
        for sql, frame in mirrored:
            if frame is not None:
                mirror.register("rows", frame)
            mirror.execute(sql)
        if r is rec:
            written["bytes"] += sum(
                size for path, size in dir_files(store.root).items()
                if before.get(path) != size
            )
        if status is not None:
            status.delta()
            tracer.add("cow.dv_rows", mor_compaction_debt(store)["dv_rows"])
            tracer.add("writes")

    def cycle(r: Recorder, verb: str) -> None:
        for kind in CYCLE_READS:
            read(r, next_read(kind))
        write(r, verb)

    ctx.enter("run")
    stats0 = engine.result_cache_stats()
    start = rec.clock()
    while ctx.window_open(start):
        for verb in VERBS:
            cycle(rec, verb)
    stats1 = engine.result_cache_stats()

    ctx.enter("check")
    # Final table: whole-table counts and sums, plus every row of every
    # order a write touched, against the mirror.
    in_list = ", ".join(str(k) for k in sorted(touched))
    for sql in (SUMMARY_SQL, f"SELECT * FROM lineitem WHERE l_orderkey IN ({in_list})"):
        try:
            final = oracle.mismatch(
                oracle.canonical(engine.query(sql).toPandas()),
                oracle.canonical(mirror.execute(sql).df()),
            )
        except Exception as exc:
            final = f"{type(exc).__name__}: {exc}"
        if final:
            rec.fail(f"final table differs from the mirror: {final}")
    mirror.close()

    n_writes = len(rec.samples["write"])
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": rec.ops_per_s(),
        "read_mean_ms": rec.mean_ms("read"),
        "read_p50_ms": rec.latency_ms("read", 50),
        "read_p90_ms": rec.latency_ms("read", 90),
        "write_p50_ms": rec.latency_ms("write", 50),
        "write_p75_ms": rec.latency_ms("write", 75),
        "write_kb_per_op": written["bytes"] / 1024 / n_writes if n_writes else None,
        "space_amp": _live_bytes(store) / initial_bytes,
    }
    notes = {k: rec.latency_note(kind, q) for k, kind, q in (
        ("read_p50_ms", "read", 50), ("read_p90_ms", "read", 90),
        ("write_p50_ms", "write", 50), ("write_p75_ms", "write", 75),
    )}
    out = {"end_to_end": e2e, "notes": notes}
    if tracer.enabled:
        st, st_setup = tracer.self_times("run"), tracer.self_times("setup")
        w = max(1.0, tracer.counter("writes"))
        lookups = sum(stats1[k] - stats0[k] for k in ("hits", "misses", "bypassed"))
        out["per_layer"] = {
            "engine.query_ms": mean_ms(st, "engine.query"),
            "engine.result_cache_hit_ratio": (stats1["hits"] - stats0["hits"]) / max(1, lookups),
            "plans.sql_where.extract_ms": mean_ms(st, "plans.sql_where.extract"),
            "sources.index.predict_ms": mean_ms(st, "sources.index.predict"),
            "sources.index.blocks_predicted_ratio":
                tracer.counter("index.predicted") / max(1.0, tracer.counter("index.blocks")),
            "storage.access_logger.log_ms": mean_ms(st, "storage.access_logger.log"),
            "spark.rows_useful_ratio":
                tracer.counter("read.rows_returned") / max(1.0, tracer.counter("read.rows_scanned")),
            "storage.cow.delete_mor_ms": mean_ms(st, "storage.cow.delete_mor"),
            "storage.cow.update_mor_ms": mean_ms(st, "storage.cow.update_mor"),
            "storage.cow.merge_mor_ms": mean_ms(st, "storage.cow.merge_mor"),
            "storage.cow.compactions": tracer.counter("cow.compactions") / w,
            "storage.cow.compact_ms": mean_ms(st, "storage.cow.compact"),
            "storage.cow.files_rewritten": tracer.counter("cow.files_rewritten") / w,
            "storage.cow.dv_rows_live": tracer.counter("cow.dv_rows") / w,
            "storage.manifests.read_ms": mean_ms(st, "storage.manifests.read"),
            "storage.manifests.snapshot_ms": mean_ms(st, "storage.manifests.snapshot"),
            "sources.index.build_ms": mean_ms(st, "sources.index.build"),
            "session.start_s": ctx.session_start_s,
            "catalog.load_ms": mean_ms(st_setup, "catalog.load"),
            "sources.microblock.write_s": mean_ms(st_setup, "sources.microblock.write") / 1000,
        }
    return out
