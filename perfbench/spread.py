"""Run-to-run spread of the end-to-end metrics, and tracing overhead.

    python3 perfbench/spread.py --workload engine_rw --seeds 1-10 [--seconds 10] [--overhead]

Runs the benchmark once per seed, one run at a time, and prints each
metric's median and quartile spread, (Q3 - Q1) / median, next to its
bound from BENCHMARK.json. With ``--overhead`` each seed is also run
traced, and the traced minus untraced medians are printed: the cost of
tracing. Seeds 1-10 are the tuning seeds; claims are checked on a
second set (101-110) that was not used while tuning.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from harness import quartile_spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["lines"] = lines[:-1]
    return result


def e2e_from_lines(lines: list[str]) -> dict[str, float]:
    """The end-to-end block a run prints before its JSON line."""
    values, inside = {}, False
    for line in lines:
        if line.startswith("end-to-end"):
            inside = True
            continue
        if inside:
            if not line.startswith("  "):
                break
            name, value = line.split()[:2]
            if value != "n/a":
                values[name] = float(value)
    return values


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    runs, traced = [], []
    for seed in seeds(args.seeds):
        r = run_once(args.workload, seed, seconds, 0)
        runs.append(r)
        print(f"seed {seed}: correct={r['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        if args.overhead:
            traced.append(e2e_from_lines(run_once(args.workload, seed, seconds, 1)["lines"]))
    print(f"{args.workload}: {len(runs)} runs, all correct: {all(r['correct'] for r in runs)}")
    for m in spec["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(values)
        spread = quartile_spread(values) if len(values) >= 2 else float("nan")
        line = f"  {m['name']:<14} median {med:.6g} {m['unit']:<4} spread {spread:.3f} bound {m['bound']}"
        if traced:
            t = [v[m["name"]] for v in traced if m["name"] in v]
            if t:
                line += f"  traced-minus-untraced {statistics.median(t) - med:+.4g}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
