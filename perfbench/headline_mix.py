"""headline_mix: the 14 ``bench.HEADLINE`` registry queries at sf0.1.

One client, closed loop. Each pass runs every headline query once, in an
order drawn from the seed; each query rebuilds its DataFrame and
delivers it with ``toPandas()``, as the headline gate does. The window
runs whole passes, so every run times the same query mix.

The timed pass is the first after set-up, so it includes the
first-call costs of each query (code generation, JIT, Python worker
start), which make it about twice as long as a later pass. An untimed
warm pass first would take as long again and does not fit the time one
run may take; ``bench.py`` stays the warm, best-of-8 view of the same
queries.

Why: the ``operators.*`` builders, Catalyst planning, execution and Arrow
delivery do almost all the work. The engine façade, zone-map index,
caches and storage layers are bypassed, so this workload is their
no-change control.

Correctness: every result is compared with the query's DuckDB oracle
(``oracle_sql()``), whose canonical frames are computed once per
dataset and cached under ``.perfbench_work/oracle``.
"""

from __future__ import annotations

import hashlib
import os
import random

import pandas as pd

import oracle
from harness import SparkStatus, mean_ms

MODULES = ("relational", "events", "text", "dedup", "similarity")
# The set-up (a session with its catalog loaded) is cheap enough to
# repeat; setup_s is the median of the repetitions.
SETUP_REPS = 3


def instrument(ctx) -> None:
    from columnar_database_project_spark import catalog

    ctx.tracer.instrument(catalog, "load_table", "catalog.load")


def _oracle_frames(ctx, names: list[str], oracles: dict[str, str]) -> dict[str, pd.DataFrame]:
    import duckdb

    from columnar_database_project_spark.catalog import TESTDATA_TABLES

    cache = os.path.join(ctx.work_dir, "oracle")
    os.makedirs(cache, exist_ok=True)
    # Keyed on the tables' bytes as well as the SQL, so a frame cached
    # for other data is never reused.
    data = hashlib.sha1()
    for t in TESTDATA_TABLES:
        with open(os.path.join(ctx.data_dir, f"{t}.parquet"), "rb") as fh:
            data.update(fh.read())
    out: dict[str, pd.DataFrame] = {}
    con = None
    for name in names:
        key = hashlib.sha1((data.hexdigest() + oracles[name]).encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{name}-{key}.parquet")
        if os.path.exists(path):
            out[name] = pd.read_parquet(path)
            continue
        if con is None:
            con = duckdb.connect()
            con.execute("SET enable_progress_bar = false")
            for t in TESTDATA_TABLES:
                p = os.path.join(ctx.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        frame = oracle.canonical(con.execute(oracles[name]).df())
        tmp = f"{path}.tmp{os.getpid()}"
        frame.to_parquet(tmp, index=False)
        os.replace(tmp, path)
        out[name] = frame
    if con is not None:
        con.close()
    return out


def run(ctx) -> dict:
    import bench
    import __spark_entry__ as entry
    from columnar_database_project_spark.catalog import TESTDATA_TABLES, load_table
    from columnar_database_project_spark.session import tune_for_scale

    names = list(bench.HEADLINE)
    queries = entry.queries()
    want = _oracle_frames(ctx, names, entry.oracle_sql())
    sf, tracer, rec = ctx.data_dir, ctx.tracer, ctx.rec

    def setup(_i):
        session = ctx.spark.newSession()
        tune_for_scale(session, sf)
        for t in TESTDATA_TABLES:
            load_table(session, sf, t)
        return session

    spark, setup_s = ctx.timed_setup(setup, reps=SETUP_REPS)
    status = SparkStatus(spark) if tracer.enabled else None

    def execute(name: str) -> pd.DataFrame:
        fn = queries[name]
        if not tracer.enabled:
            return fn(spark, sf).toPandas()
        with tracer.span(f"operators.{fn.__module__.rsplit('.', 1)[-1]}.build"):
            df = fn(spark, sf)
        tracer.add("operators.build_jobs", status.delta()["jobs"])
        with tracer.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.exec"):
            table = df.toArrow()
        with tracer.span("spark.deliver"):
            pdf = table.to_pandas()
        for k, v in status.delta().items():
            tracer.add(f"spark.{k}", v)
        tracer.add("queries")
        return pdf

    def check(name):
        return lambda pdf: oracle.mismatch(oracle.canonical(pdf), want[name])

    ctx.enter("run")
    rng = random.Random(ctx.seed)
    start = rec.clock()
    while ctx.window_open(start):
        order = list(names)
        rng.shuffle(order)
        for name in order:
            rec.op("read", lambda: execute(name), check=check(name))

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
        n = max(1.0, tracer.counter("queries"))
        per = {f"operators.{m}.build_ms": mean_ms(st, f"operators.{m}.build") for m in MODULES}
        per.update({
            "operators.build_jobs": tracer.counter("operators.build_jobs") / n,
            "spark.plan_ms": mean_ms(st, "spark.plan"),
            "spark.exec_ms": mean_ms(st, "spark.exec"),
            "spark.deliver_ms": mean_ms(st, "spark.deliver"),
            "spark.jobs": tracer.counter("spark.jobs") / n,
            "spark.scan_bytes": tracer.counter("spark.scan_bytes") / n,
            "spark.shuffle_bytes": tracer.counter("spark.shuffle_bytes") / n,
            "session.start_s": ctx.session_start_s,
            "catalog.load_ms": mean_ms(st_setup, "catalog.load"),
        })
        out["per_layer"] = per
    return out
