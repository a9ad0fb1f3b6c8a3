#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py --workloads bulk_validate,checkpoint_explain --seeds 1-10
    python3 perfbench/sweep.py --seeds 1-10 --trace-seeds 1 --out perfbench/baseline_nproc4.json

For every workload and metric it prints the median, the quartiles and
the spread (distance between the first and third quartile as a share
of the median, from ``statistics.quantiles(values, n=4)``) next to the
metric's bound in BENCHMARK.json. Runs are sequential: concurrent runs
would share the cores they measure. ``--out`` writes every run's result
and the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds_arg(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=ROOT,
    )
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "metrics": {}}
        sys.stderr.write(p.stderr[-3000:])
    return {"seed": seed, "trace": trace, "exit": p.returncode, "wall_s": wall,
            "report": [l for l in lines[:-1] if not l.startswith("{")], **result}


def spread(values) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-5"))
    ap.add_argument("--trace-seeds", type=seeds_arg, default=[])
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"host": {"nproc": len(os.sched_getaffinity(0)), "machine": platform.machine(),
                       "python": platform.python_version()},
              "run_seconds": args.seconds, "workloads": {}}
    why = {w["name"]: w["why"] for w in bench["workloads"]}
    ok = True
    for wl in args.workloads.split(","):
        runs = []
        for seed in args.seeds:
            r = run_once(wl, seed, args.seconds, 0)
            runs.append(r)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"{wl} seed={seed} exit={r['exit']} correct={r['correct']} wall={r['wall_s']:.1f}s {vals}", flush=True)
            ok &= r["exit"] == 0
        summary = {}
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
            if vals:
                summary[name] = {**spread(vals), "bound": bounds[name]}
                s = summary[name]
                print(f"  {name:14s} median={s['median']:.4g} q1={s['q1']:.4g} q3={s['q3']:.4g} "
                      f"spread={s['spread']:.3f} bound={s['bound']}")
        traced = [run_once(wl, seed, args.seconds, 1) for seed in args.trace_seeds]
        for r in traced:
            print(f"{wl} traced seed={r['seed']} exit={r['exit']} correct={r['correct']} wall={r['wall_s']:.1f}s")
            ok &= r["exit"] == 0
        record["workloads"][wl] = {
            "why": why.get(wl, ""),
            "input": next((l for r in runs for l in r["report"] if l.startswith("# workload")), ""),
            "end_to_end": summary,
            "runs": runs,
            "traced": traced,
            "wall_s": spread([r["wall_s"] for r in runs + traced]),
        }
    if args.out:
        Path(args.out).write_text(json.dumps(record, indent=1) + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
