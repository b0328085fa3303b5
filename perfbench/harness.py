"""Closed-loop op recording, percentiles and process accounting.

Percentiles use the nearest-rank definition. A timing is reported as a
median and as tail percentiles; a tail percentile (above the median) is
reported only when at least ``MIN_BEYOND`` samples lie beyond it, so a
p75 needs 40 samples and a p90 needs 100.
"""

from __future__ import annotations

import math
import os
import statistics
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Any

MIN_BEYOND = 10
# Cap on --seconds, so a run ends well inside a three-minute limit.
MAX_WINDOW_S = 60.0


def rank(n: int, q: float) -> int:
    """1-based nearest rank of the ``q``-th percentile of ``n`` samples."""
    return max(1, math.ceil(q / 100.0 * n))


def percentile(samples: list[float], q: float) -> float | None:
    """The ``q``-th percentile, or ``None`` when there are no samples or
    a tail percentile is below the sample floor."""
    n = len(samples)
    if n < min_samples(q):
        return None
    return sorted(samples)[rank(n, q) - 1]


def min_samples(q: float) -> int:
    """Fewest samples for which ``percentile(samples, q)`` is reported."""
    n = 1
    while q > 50 and n - rank(n, q) < MIN_BEYOND:
        n += 1
    return n


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles``
    gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


class Recorder:
    """Times each op of a single-client closed loop and counts failures.

    An op that raises counts as failed and leaves no latency sample. An
    op whose ``check`` returns a reason counts as failed (a wrong
    result) but keeps its latency sample: the work was done. Checks run
    outside the timed interval; ``busy`` is the summed op time, the
    denominator of throughput."""

    def __init__(self, clock=time.perf_counter, tracer=None) -> None:
        self.clock = clock
        self.tracer = tracer  # its op id advances with every op
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.busy = 0.0
        self.problems: list[str] = []

    def op(self, kind: str, fn, check=None):
        self.attempted += 1
        self._next_op()
        t0 = self.clock()
        try:
            result = fn()
        except Exception:
            self.busy += self.clock() - t0
            self._fail(f"{kind}: {traceback.format_exc(limit=3)}")
            return None
        dt = self.clock() - t0
        self.busy += dt
        self.samples[kind].append(dt)
        if check is not None:
            reason = check(result)
            if reason:
                self._fail(f"{kind}: wrong result: {reason}")
        return result

    def work(self, kind: str, fn):
        """Inline work that is not an op of its own (a prefetch cycle
        between accesses): timed into ``busy`` and ``samples[kind]``; if
        it raises, it counts as one attempted and failed op."""
        self._next_op()
        t0 = self.clock()
        try:
            result = fn()
        except Exception:
            self.busy += self.clock() - t0
            self.attempted += 1
            self._fail(f"{kind}: {traceback.format_exc(limit=3)}")
            return None
        dt = self.clock() - t0
        self.busy += dt
        self.samples[kind].append(dt)
        return result

    def fail(self, reason: str) -> None:
        """One attempted op that failed outside ``op``: a wrong final
        table, say, found after the window."""
        self.attempted += 1
        self._fail(reason)

    def absorb_failures(self, warm: "Recorder") -> None:
        """Count every failed op of an untimed warm-up as a failed op
        here; its completed ops stay out of the throughput."""
        reasons = warm.problems + ["(reason not kept)"] * (warm.failed - len(warm.problems))
        for reason in reasons:
            self.fail(f"warm-up {reason}")

    def _next_op(self) -> None:
        if self.tracer is not None:
            self.tracer.op += 1

    def _fail(self, reason: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(reason)

    @property
    def completed(self) -> int:
        return self.attempted - self.failed

    def ops_per_s(self) -> float:
        return self.completed / self.busy if self.busy > 0 else 0.0

    def latency_ms(self, kind: str, q: float) -> float | None:
        p = percentile(self.samples.get(kind, []), q)
        return None if p is None else 1000.0 * p

    def mean_ms(self, kind: str) -> float | None:
        xs = self.samples.get(kind, [])
        return 1000.0 * sum(xs) / len(xs) if xs else None

    def latency_note(self, kind: str, q: float) -> str:
        n = len(self.samples.get(kind, []))
        need = min_samples(q)
        return f"n={n}" if n >= need else f"n={n} < {need}, below the sample floor"


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum over ``pids`` of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def dir_files(root: str) -> dict[str, int]:
    """path → size of every regular file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class SparkStatus:
    """Job and stage totals from the driver's status store, read as
    deltas since the previous call. The listener bus is drained first so
    the stages of an action that just returned are counted."""

    def __init__(self, spark) -> None:
        ctx = spark.sparkContext
        self.sc = ctx._jsc.sc()
        self.store = self.sc.statusStore()
        self._stage_args = (
            None, False, False,
            ctx._gateway.new_array(ctx._jvm.double, 0),
            ctx._jvm.java.util.ArrayList(),
        )
        self.last_job = -1
        self.last_stage = -1
        self.delta()

    def delta(self) -> dict[str, float]:
        """Totals over jobs and stages that started since the last call.
        Both lists come newest first, so the walk stops at the first
        id already counted."""
        self.sc.listenerBus().waitUntilEmpty()
        out = {"jobs": 0.0, "scan_bytes": 0.0, "scan_rows": 0.0,
               "shuffle_bytes": 0.0}
        jobs = self.store.jobsList(None)
        top = self.last_job
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= self.last_job:
                break
            top = max(top, jid)
            out["jobs"] += 1
        self.last_job = top
        stages = self.store.stageList(*self._stage_args)
        top = self.last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self.last_stage:
                break
            top = max(top, sid)
            out["scan_bytes"] += s.inputBytes()
            out["scan_rows"] += s.inputRecords()
            out["shuffle_bytes"] += s.shuffleWriteBytes()
        self.last_stage = top
        return out


@dataclass
class Context:
    """What a workload gets: its inputs' seed, the measuring window,
    where to keep data, and the sinks for op timings and spans."""

    seed: int
    seconds: float
    data_dir: str
    run_dir: str
    work_dir: str
    tracer: Any
    rec: Recorder
    spark: Any = None
    session_start_s: float = 0.0
    phases: list = field(default_factory=list)

    def enter(self, phase: str) -> None:
        """Start run phase ``phase`` (setup, warm, run, check): spans
        are tagged with it and its wall time is reported."""
        self.tracer.phase = phase
        self.phases.append((phase, time.perf_counter()))

    def window_open(self, start: float) -> bool:
        """True until ``seconds`` have passed since ``start``. Workloads
        check it between whole units (a pass of queries, a round of
        read/write cycles), so every run times the same mix."""
        return time.perf_counter() - start < min(self.seconds, MAX_WINDOW_S)

    def timed_setup(self, build, reps: int = 1) -> tuple[Any, float]:
        """Run ``build(i)`` for i in ``range(reps)``; return the last
        result and the median duration in seconds."""
        times, state = [], None
        self.enter("setup")
        for i in range(reps):
            t0 = time.perf_counter()
            state = build(i)
            times.append(time.perf_counter() - t0)
        return state, statistics.median(times)


def mean_ms(self_times: dict, name: str) -> float:
    """Mean self time per call of span ``name`` in ms (0 if never called)."""
    total, calls = self_times.get(name, (0.0, 0))
    return 1000.0 * total / calls if calls else 0.0

