"""Self-tests of the benchmark's own instruments, run by
``python3 perfbench/run.py --selftest``.

* The collector, pinned on a query whose counters are known exactly:
  ``groupBy(id % k).count()`` over an n-row parquet table has one
  shuffle exchange and one file scan, reads n input records, fails no
  task and returns k rows.
* The correctness gate: a flagship validation over a small table passes
  the DuckDB comparison, and the same relation with one row removed, or
  with one row duplicated, fails it.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from collect import Collector, plan_counts
from oracle import Oracle, diff_counts


def collector_pin(spark, work: str, n: int = 10000, k: int = 7) -> list[str]:
    path = os.path.join(work, "range")
    spark.range(n).write.parquet(path)
    df = spark.read.parquet(path).groupBy((F.col("id") % k).alias("g")).count()
    col = Collector(spark)
    with col.group("selftest.pin"):
        rows = df.collect()
    col.drain()
    st = col.group_stats("selftest.pin")
    plan = plan_counts(df)
    got = {
        "exchanges": plan["exchanges"],
        "scan_nodes": plan["scan_nodes"],
        "input_records": st["input_records"],
        "failed_tasks": st["failed_tasks"],
        "rows": len(rows),
    }
    want = {"exchanges": 1, "scan_nodes": 1, "input_records": n, "failed_tasks": 0, "rows": k}
    errs = [f"collector {key}: expected {want[key]}, got {got[key]}" for key in want if got[key] != want[key]]
    if not st["jobs"] >= 1 or not st["busy_s"] > 0:
        errs.append(f"collector saw {st['jobs']} jobs busy {st['busy_s']}s")
    if not plan["analysis_ms"] >= 0 or not plan["planning_ms"] >= 0:
        errs.append(f"collector phases {plan}")
    return errs


def gate_rejects_tampering(spark, work: str) -> list[str]:
    from xpshacl_spark.compiler import ValidationEngine
    from xpshacl_spark.datagen import roles_dim, tools_dim, transcripts
    from xpshacl_spark.suites import transcript_shapes

    inp, out = os.path.join(work, "t"), os.path.join(work, "v")
    transcripts(spark, n_convs=300, seed=5).write.parquet(inp)
    eng = ValidationEngine(spark, dims={"roles": roles_dim(spark), "tools": tools_dim(spark)})
    eng.validate(spark.read.parquet(inp), transcript_shapes(), ["conv_id", "turn_idx"]).violations.write.parquet(out)
    oracle = Oracle(inp, work)
    try:
        expected = oracle.flagship()
        errs = [f"gate rejected the engine's own relation: {e}" for e in diff_counts(expected, oracle.counts(f"{out}/*.parquet"))]
        for name, sql in (
            ("dropped", "SELECT * FROM v OFFSET 1"),
            ("duplicated", "SELECT * FROM v UNION ALL (SELECT * FROM v LIMIT 1)"),
        ):
            dst = os.path.join(work, f"{name}.parquet")
            oracle.con.execute(f"CREATE OR REPLACE VIEW v AS SELECT * FROM read_parquet('{out}/*.parquet')")
            oracle.con.execute(f"COPY ({sql}) TO '{dst}' (FORMAT PARQUET)")
            if not diff_counts(expected, oracle.counts(dst)):
                errs.append(f"gate accepted a relation with one row {name}")
        return errs
    finally:
        oracle.close()


def run_all(spark, work: str) -> list[str]:
    return collector_pin(spark, work) + gate_rejects_tampering(spark, work)
