#!/usr/bin/env python3
"""Benchmark of the validation engine (compiler, checkpoint, explain,
operators/profile, shapes_io, session).

    python3 perfbench/run.py --workload bulk_validate --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. One process drives ``local[<nproc - 1>]``
with one client and one operation at a time (a closed loop). A run:

1. starts the session, writes the seeded input, does the workload's own
   set-up and a fixed number of warm-up operations (``setup_s``): op
   time keeps falling for the first few ops while the JVM compiles the
   driver's hot paths, and a fixed count starts every run's window at
   the same point of that curve, past its steepest part;
2. runs operations until ``--seconds`` have passed and reports their
   median;
3. checks every operation's outputs against DuckDB, outside any timed
   region, and checks that the gate rejects a tampered relation;
4. prints one line per metric (median, tail, sample count) and, as the
   last line, one JSON object: the end-to-end metrics with ``--trace 0``,
   the per-layer metrics with ``--trace 1``.

With ``--trace 1`` the run alternates untraced and traced operations,
starting and ending on an untraced one.
Traced ones record spans and Spark counters around every call into a
layer; their gap to the untraced ops on either side is the tracing
overhead. Spans, self times and counters go to
``.perfbench_work/traces/``.

Every file the run writes, Spark's and the JVM's temporary files
included, stays under ``.perfbench_work/`` in the checkout. The exit
code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"
#: driver JVM heap. The session's own default (24g) is more than this
#: host has; 1g holds every workload's input and keeps the JVM's resident
#: set, which peak_rss_mb reads, from drifting with heap growth.
DRIVER_MEMORY = "1g"

#: end-to-end metrics (--trace 0) and per-layer metrics (--trace 1) put
#: in the result line; BENCHMARK.json lists the same names
END_TO_END = {"setup_s": "s", "op_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "datagen.write_s": "s",
    "shapes_io.load_s": "s",
    "compiler.build_s": "s",
    "compiler.eager_jobs": "count",
    "compiler.plan_parts": "count",
    "compiler.analysis_ms": "ms",
    "compiler.optimization_ms": "ms",
    "compiler.planning_ms": "ms",
    "compiler.exchanges": "count",
    "compiler.scan_nodes": "count",
    "execute.s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.input_records": "count",
    "execute.input_bytes": "bytes",
    "execute.input_passes": "ratio",
    "execute.shuffle_write_bytes": "bytes",
    "execute.shuffle_read_bytes": "bytes",
    "execute.cpu_s": "s",
    "execute.cpu_util": "ratio",
    "execute.gc_s": "s",
    "reconcile.residual_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
}
#: |residual| of the traced validation step, as a share of the step,
#: above which layer sums are reported as not reconciling; the residual
#: is driver time no layer owns (py4j calls, job scheduling gaps, file
#: commits, the runner's manifests)
RECONCILE_TOLERANCE = 0.15


def _isolate(work: Path) -> None:
    """Point every temporary-file location at `work` before Spark starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "pyspark-shell"
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
              "SPARK_GRAFT_MAX_PARTITION_BYTES", "SPARK_GRAFT_PROC_CPUS"):
        os.environ.pop(k, None)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def summary(values) -> dict:
    """Median, the highest percentile with at least ten samples beyond
    it (none below 20 samples), max and count."""
    v = sorted(values)
    n = len(v)
    out = {"median": statistics.median(v), "max": v[-1], "n": n}
    if n >= 20:
        p = int(100 * (1 - 10 / n))
        out[f"p{p}"] = v[min(n - 1, int(p / 100 * n))]
    return out


def fmt(name: str, unit: str, values) -> str:
    s = summary(values)
    tail = " ".join(f"{k}={s[k]:.4g}" for k in s if k.startswith("p"))
    return f"{name:34s} {s['median']:.6g} {unit}  ({tail + ' ' if tail else ''}max={s['max']:.4g}, n={s['n']})"


class Ctx:
    def __init__(self, spark, seed, work, tracer, collector):
        self.spark, self.seed, self.work = spark, seed, str(work)
        self.tracer, self.collector = tracer, collector
        self.setup: dict = {}


def common_layers(wl, op, cores: int) -> dict:
    """Compiler and execute layers of the op's validation step, from the
    traced engines and the step's job groups; the residual says how far
    their sum is from the step's wall time."""
    from collect import plan_counts

    col = wl.ctx.collector
    step = wl.validate_step
    group = op["groups"][step]
    engines = op["engines"][step]
    reports = [r for e in engines for r in e.reports]
    build_s = sum(t for e in engines for t in e.build_times)
    plans = [plan_counts(r.violations) for r in reports]
    ex = col.stats(col.job_ids(group))
    m = {
        "shapes_io.load_s": op["steps"]["load"],
        "compiler.build_s": build_s,
        "compiler.eager_jobs": len(col.job_ids(group + ".build")),
        "compiler.plan_parts": sum(r.metrics.get("n_plan_parts", 0) for r in reports),
    }
    for k in ("analysis_ms", "optimization_ms", "planning_ms", "exchanges", "scan_nodes"):
        m[f"compiler.{k}"] = sum(p[k] for p in plans)
    m.update({
        "execute.s": ex["busy_s"],
        "execute.jobs": ex["jobs"],
        "execute.stages": ex["stages"],
        "execute.tasks": ex["tasks"],
        "execute.failed_tasks": ex["failed_tasks"],
        "execute.input_records": ex["input_records"],
        "execute.input_bytes": ex["input_bytes"],
        "execute.input_passes": ex["input_records"] / wl.n_rows,
        "execute.shuffle_write_bytes": ex["shuffle_write_bytes"],
        "execute.shuffle_read_bytes": ex["shuffle_read_bytes"],
        "execute.spill_bytes": ex["spill_bytes"],
        "execute.cpu_s": ex["cpu_s"],
        "execute.cpu_util": ex["cpu_s"] / (ex["busy_s"] * cores) if ex["busy_s"] else 0.0,
        "execute.gc_s": ex["gc_s"],
        "execute.rows_out": ex["output_records"],
    })
    step_s = op["steps"][step]
    layers = build_s + (m["compiler.optimization_ms"] + m["compiler.planning_ms"]) / 1e3 + ex["busy_s"]
    m["reconcile.residual_ratio"] = abs(step_s - layers) / step_s
    return m


def run_workload(args) -> int:
    work = WORK_ROOT / f"{args.workload}-s{args.seed}-{os.getpid()}"
    _isolate(work)
    sys.path.insert(0, str(ROOT))
    from collect import Collector
    from oracle import Oracle
    from spans import Tracer
    from workloads import WORKLOADS
    from xpshacl_spark.session import get_spark

    # one core is left to the driver: its Python process, the JVM's JIT
    # and GC threads. With a task thread on every core those compete
    # with the tasks, the JIT warms up more slowly and op times spread
    # more from run to run (on a 4-vCPU VM, five seeds each, local[3]
    # gave a narrower op_s spread than local[2] or local[4])
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    spark = oracle = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{cores}]", driver_memory=DRIVER_MEMORY)
        session_s = time.perf_counter() - t0
        tracer = Tracer(enabled=False)
        ctx = Ctx(spark, args.seed, work, tracer, Collector(spark))
        wl = WORKLOADS[args.workload](ctx)

        # -- set-up ------------------------------------------------------
        write_s = wl.write_input(wl.input_dir, wl.n_convs, args.seed)
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        oracle = Oracle(wl.input_dir, str(work / "tmp"))
        wl.n_rows = oracle.n_rows()
        ops = []
        failed = 0

        def run_op(op_id: str, traced: bool, warmup: int = -1) -> dict:
            nonlocal failed
            op = {"id": op_id, "dir": str(work / "ops" / op_id), "steps": {}, "traced": traced,
                  "warmup": warmup >= 0, "cold": warmup == 0}
            tracer.enabled = traced
            tracer.op_id = op_id
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    wl.op(op)
                op["op_s"] = time.perf_counter() - t
                if traced:
                    ctx.collector.drain()
                    op["layers"] = {**common_layers(wl, op, cores), **wl.layer_metrics(op)}
            except Exception:
                traceback.print_exc()
                op["error"] = True
                failed += 1
            finally:
                tracer.enabled = False
            ops.append(op)
            steps = " ".join(f"{k}={v:.3f}" for k, v in op["steps"].items())
            print(f"perfbench op {op_id} op_s={op.get('op_s', float('nan')):.3f} {steps}", file=sys.stderr)
            return op

        warm = [run_op(f"warmup{k}", traced=False, warmup=k) for k in range(wl.warmup_ops)]
        warmup_s = sum(op.get("op_s", 0.0) for op in warm)
        setup_s = session_s + write_s + prepare_s + warmup_s

        # -- measured window: closed loop, one op at a time ---------------
        # The traced run traces every odd op and ends on an untraced one,
        # so each traced op sits between two untraced ops; comparing them
        # cancels what is left of the JVM's warm-up drift.
        start = time.perf_counter()
        i = 0
        while True:
            run_op(f"op{i:03d}", traced=bool(args.trace) and i % 2 == 1)
            i += 1
            if time.perf_counter() - start >= args.seconds and (not args.trace or (i >= 3 and i % 2 == 1)):
                break
        jvm_kb, py_kb = _vm_hwm_kb(spark.sparkContext._gateway.proc.pid), _vm_hwm_kb("self")
        peak_rss_mb = (jvm_kb + py_kb) / 1024

        # -- correctness gate, outside every timed region ------------------
        wl.expectations(oracle)
        for op in ops:
            if op.get("error") or op["warmup"]:
                continue
            errs = wl.check(op)
            if errs:
                failed += 1
                op["error"] = True
                print(f"CHECK FAILED {op['id']}: " + "; ".join(errs[:10]), file=sys.stderr)
        gate_live = tamper_rejected(wl, oracle, ops)
        if not gate_live:
            print("CHECK FAILED: the gate accepted a tampered violations relation", file=sys.stderr)

        measured = [op for op in ops if not op["warmup"] and not op.get("error")]
        plain = [op for op in measured if not op["traced"]]
        traced_ops = [op for op in measured if op["traced"]]
        attempted = len(ops)
        correct = failed == 0 and gate_live and bool(plain) and (bool(traced_ops) or not args.trace)

        # -- report ------------------------------------------------------
        print(f"# workload {wl.name}: seed {args.seed}, {wl.n_rows} input turns, "
              f"local[{cores}], {len(measured)} measured ops in {args.seconds}s")
        print(fmt("setup_s", "s", [setup_s]))
        print(fmt("session.start_s", "s", [session_s]))
        print(fmt("datagen.write_s", "s", [write_s]))
        for k, v in ctx.setup.items():
            print(fmt(k, "s", [v]))
        print(fmt("warmup_s", "s", [warmup_s]) + "  ops: " + " ".join(f"{op.get('op_s', 0.0):.3f}" for op in warm))
        if plain:
            print(fmt("op_s", "s", [op["op_s"] for op in plain]))
            for s in wl.steps:
                print(fmt(f"{s}_s", "s", [op["steps"][s] for op in plain]))
            if wl.name == "bulk_validate":
                print(fmt("turns_per_s", "turns/s", [wl.n_rows / op["steps"]["validate"] for op in plain]))
        print(fmt("peak_rss_mb", "MB", [peak_rss_mb]) + f"  jvm={jvm_kb / 1024:.0f} python={py_kb / 1024:.0f}")
        print(f"{'failed_ops':34s} {failed / attempted:.6g} ratio  ({failed} of {attempted})")

        units = PER_LAYER if args.trace else END_TO_END
        if args.trace and not correct:
            metrics = {}
        elif args.trace:
            metrics = layer_report(wl, args, plain, traced_ops, session_s, write_s, tracer)
        else:
            metrics = {
                "setup_s": setup_s,
                "op_s": statistics.median(op["op_s"] for op in plain) if plain else 0.0,
                "peak_rss_mb": peak_rss_mb,
            }
        result = {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
        }
        print(json.dumps(result))
        return 0 if correct else 1
    finally:
        if oracle is not None:
            oracle.close()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def tamper_rejected(wl, oracle, ops) -> bool:
    """Copy one checked op's violations minus one row and confirm the
    gate's count comparison rejects the copy."""
    from oracle import diff_counts

    op = next((o for o in reversed(ops) if not o.get("error")), None)
    if op is None:
        return False
    src = wl.violations_glob(op)
    dst = os.path.join(op["dir"], "tampered.parquet")
    oracle.con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}', hive_partitioning = false) OFFSET 1) "
        f"TO '{dst}' (FORMAT PARQUET)"
    )
    return bool(diff_counts(wl.expected, oracle.counts(dst)))


def layer_report(wl, args, plain, traced_ops, session_s, write_s, tracer) -> dict:
    """Median per-layer metrics over the traced ops; prints every metric
    and writes spans, self times and per-op counters to the trace file."""
    keys = sorted({k for op in traced_ops for k in op["layers"]})
    med = {k: statistics.median(op["layers"][k] for op in traced_ops) for k in keys}
    med["session.start_s"] = session_s
    med["datagen.write_s"] = write_s
    by_id = {op["id"]: op for op in plain}
    ratios = []
    for op in traced_ops:
        k = int(op["id"][2:])
        around = [by_id.get(f"op{j:03d}") for j in (k - 1, k + 1)]
        if all(around):
            ratios.append(op["op_s"] / statistics.mean(o["op_s"] for o in around) - 1)
    med["trace.overhead_ratio"] = statistics.median(ratios) if ratios else 0.0
    print(f"# traced: {len(traced_ops)} ops; untraced: {len(plain)} ops")
    for k in sorted(med):
        print(f"{k:34s} {med[k]:.6g}")
    worst = max(op["layers"]["reconcile.residual_ratio"] for op in traced_ops)
    line = f"# reconcile: build + optimization + planning + execute vs {wl.validate_step}_s: worst |residual| {worst:.3f}"
    if wl.validate_step == "validate":
        line += f", {'within' if worst <= RECONCILE_TOLERANCE else 'OUTSIDE'} tolerance {RECONCILE_TOLERANCE}"
    else:
        line += " (the rest is the runner's own driver time: manifests, listings, job gaps)"
    print(line)
    out = WORK_ROOT / "traces"
    out.mkdir(parents=True, exist_ok=True)
    with open(out / f"{wl.name}-s{args.seed}.json", "w") as f:
        json.dump(
            {
                "workload": wl.name,
                "seed": args.seed,
                "metrics": med,
                "ops": [{"id": op["id"], "op_s": op["op_s"], "steps": op["steps"], "layers": op["layers"]}
                        for op in traced_ops],
                "self_times": tracer.self_times(),
                "spans": tracer.dump(),
            },
            f,
            indent=1,
        )
    return med


def selftest() -> int:
    work = WORK_ROOT / f"selftest-{os.getpid()}"
    _isolate(work)
    sys.path.insert(0, str(ROOT))
    import selftest as st
    from xpshacl_spark.session import get_spark

    spark = None
    try:
        spark = get_spark(app_name="perfbench-selftest", master="local[2]", driver_memory=DRIVER_MEMORY)
        errs = st.run_all(spark, str(work))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    for e in errs:
        print("SELFTEST FAILED: " + e, file=sys.stderr)
    print("selftest: " + ("ok" if not errs else f"{len(errs)} failures"))
    return 0 if not errs else 1


def main() -> int:
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("bulk_validate", "wide_suite", "checkpoint_explain"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="check the collector and the gate, then exit")
    args = ap.parse_args()
    if not (ROOT / "xpshacl_spark" / "__init__.py").is_file():
        print(f"xpshacl_spark not found under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    if args.selftest:
        return selftest()
    if not args.workload:
        ap.error("--workload is required")
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
