"""The benchmark's three workloads.

Each workload builds its transcript input from ``datagen.transcripts``
with the run's seed, and then runs closed-loop operations, one at a
time from one client. An operation is a fixed sequence of steps; each
step is one call a user of the engine would make, timed end to end
(outputs are always forced through a parquet sink).

* ``bulk_validate``: execution-heavy. The flagship suite plus MaxGap,
  a Drift check against a second-seed baseline and a ForeignKey into
  the >1024-row conversations dim, so all four plan classes appear: the
  fused row scan, the hash(conv_id) exchange, the global aggregation
  and the big-dim anti-join. Steps: ``load``, ``validate``, ``profile``.
* ``checkpoint_explain``: the runner's path. Steps: ``load``, ``run``
  (checkpointed run into an empty directory), ``kill`` (a run that fails
  after 3 shapes), ``resume`` (a second run over the killed directory),
  ``explain`` (cold cache) and ``explain_warm`` (the cache reloaded).
* ``wide_suite``: compile-heavy. 60 generated single-constraint shapes
  plus the 7 flagship shapes over a small input with
  ``salt_partitions="auto"``. Steps: ``load``, ``validate``. It runs the
  same way but is not in BENCHMARK.json's gated set: the time a full
  set of gated runs may take holds that set to two workloads.

Every op starts with ``load``: the suite, written to JSON at set-up, is
read back with ``shapes_io.load_shapes`` as a runner invocation reads
its shapes file.

The engine, runner, cache and generator come from factories on the
context, so the traced run swaps in the proxies of ``spans.py`` and the
untraced run uses the library classes directly.
"""

from __future__ import annotations

import contextlib
import os
import random
import time

from pyspark.sql import functions as F

from xpshacl_spark.checkpoint import CheckpointedRunner
from xpshacl_spark.compiler import ValidationEngine
from xpshacl_spark.datagen import ROLES, TOOLS, conversations, roles_dim, tools_dim, transcripts
from xpshacl_spark.explain import Explainer
from xpshacl_spark.operators.profile import profile_relation
from xpshacl_spark.shapes import (
    Drift,
    ForeignKey,
    GroupMinCount,
    InSet,
    MaxInclusive,
    MaxLength,
    MinInclusive,
    MinLength,
    Pattern,
    Shape,
)
from xpshacl_spark.shapes_io import load_shapes, save_shapes
from xpshacl_spark.suites import transcript_shapes

from oracle import Oracle, diff_counts, psi, sql_list
from spans import CountingCache, TracedEngine, TracedGenerator, TracedRunner

KEYS = ["conv_id", "turn_idx"]
NS = "http://xpshacl.org/perfbench#"


class Workload:
    """Base: input generation, the timed step helper and the op loop's
    hooks. Subclasses set `name`, `n_convs`, `steps` and `validate_step`
    and implement `prepare`, `op` and `check`."""

    name = ""
    n_convs = 0
    steps: tuple = ()
    #: the step whose compiler/execute layers the traced run decomposes
    validate_step = ""
    #: warm-up ops before the measured window; the first one is cold
    warmup_ops = 2
    #: the steps of the cold warm-up op (default: all of them)
    cold_steps: tuple = ()

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = ctx.seed
        self.input_dir = os.path.join(ctx.work, "input")
        self.n_rows = 0

    # -- set-up ------------------------------------------------------------

    def write_input(self, path: str, n_convs: int, seed: int, inject: bool = True) -> float:
        t0 = time.perf_counter()
        transcripts(self.spark, n_convs=n_convs, seed=seed, inject=inject, partitions=8).write.mode(
            "overwrite"
        ).parquet(path)
        return time.perf_counter() - t0

    def prepare(self) -> None:
        """Workload-specific set-up after the input is written; ends
        with `save_suite`."""

    def save_suite(self, shapes: list) -> None:
        self.suite = shapes
        self.shapes_path = os.path.join(self.ctx.work, "shapes.json")
        save_shapes(self.shapes_path, shapes)

    def dims(self) -> dict:
        return {"roles": roles_dim(self.spark), "tools": tools_dim(self.spark)}

    def engine(self, op: dict, step: str):
        """A fresh engine for `step` of `op`, as a runner invocation
        builds one (so the eager FK probes are paid every time)."""
        if not self.ctx.tracer.enabled:
            return ValidationEngine(self.spark, dims=self.dims())
        eng = TracedEngine(self.spark, self.dims(), self.ctx.tracer, self.ctx.collector, op["groups"][step] + ".build")
        op.setdefault("engines", {}).setdefault(step, []).append(eng)
        return eng

    def read_input(self):
        return self.spark.read.parquet(self.input_dir)

    # -- the op ------------------------------------------------------------

    def step(self, op: dict, name: str, fn) -> None:
        """Run one timed step of an op; in the traced run it is a span
        and a job group of its own."""
        if op["cold"] and self.cold_steps and name not in self.cold_steps:
            return
        group = f"{op['id']}.{name}"
        op.setdefault("groups", {})[name] = group
        tr = self.ctx.tracer
        tagged = self.ctx.collector.group(group) if tr.enabled else contextlib.nullcontext()
        with tr.span(f"step.{name}"), tagged:
            t0 = time.perf_counter()
            fn()
            op["steps"][name] = time.perf_counter() - t0

    def load(self, op: dict) -> None:
        def go():
            op["shapes"] = load_shapes(self.shapes_path)

        self.step(op, "load", go)

    def check_suite(self, op: dict) -> list[str]:
        return [] if op["shapes"] == self.suite else ["the loaded suite differs from the saved one"]

    def op(self, op: dict) -> None:
        raise NotImplementedError

    def check(self, op: dict) -> list[str]:
        raise NotImplementedError

    def expectations(self, oracle: Oracle) -> None:
        """Compute the oracle's expectations once, after the window."""

    def violations_glob(self, op: dict) -> str:
        return f"{op['dir']}/violations/*.parquet"

    def layer_metrics(self, op: dict) -> dict:
        """Workload-specific per-layer metrics of one traced op."""
        return {}


# ---------------------------------------------------------------------------
# bulk_validate
# ---------------------------------------------------------------------------

DRIFT = dict(expression="length(text)", lo=0.0, hi=4000.0, bins=40, stat="psi", threshold=0.05)
MAX_GAP_S = 120.0
PROFILE_COLS = ["turn_idx", "ts"]


class BulkValidate(Workload):
    name = "bulk_validate"
    n_convs = 12000
    steps = ("load", "validate", "profile")
    validate_step = "validate"

    def prepare(self):
        # the drift baseline: a defect-free table from a second seed
        self.baseline_dir = os.path.join(self.ctx.work, "baseline")
        self.ctx.setup["datagen.baseline_write_s"] = self.write_input(
            self.baseline_dir, self.n_convs // 4, self.seed + 1000, inject=False
        )
        d = DRIFT
        e = F.expr(d["expression"])
        width = (d["hi"] - d["lo"]) / d["bins"]
        bucket = (
            F.when(e < d["lo"], F.lit(-1))
            .when(e >= d["hi"], F.lit(d["bins"]))
            .otherwise(F.floor((e - F.lit(d["lo"])) / F.lit(width)).cast("int"))
        )
        row = (
            self.spark.read.parquet(self.baseline_dir)
            .where(e.isNotNull())
            .agg(*[F.count(F.when(bucket == b, 1)).alias(f"b{b + 1}") for b in range(-1, d["bins"] + 1)])
            .collect()[0]
        )
        self.baseline = tuple(int(row[f"b{i}"]) for i in range(d["bins"] + 2))
        self.n_dim = self.n_convs - self.n_convs // 100
        self.save_suite(
            transcript_shapes(max_gap_seconds=MAX_GAP_S, drift=Drift(baseline=self.baseline, **DRIFT))
            + [
                Shape(
                    NS + "ConvRefShape",
                    (ForeignKey(("conv_id",), "conversations", ("conv_id",)),),
                    name="ConvRefShape",
                    description="every turn belongs to a registered conversation",
                )
            ]
        )

    def dims(self):
        # the last 1% of conversation ids are missing from the dim, so
        # the anti-join has violations to find
        return {
            **super().dims(),
            "conversations": conversations(self.spark, self.n_dim, self.seed).select("conv_id"),
        }

    def op(self, op):
        out = op["dir"]

        def validate():
            rep = self.engine(op, "validate").validate(self.read_input(), op["shapes"], KEYS)
            rep.violations.write.parquet(os.path.join(out, "violations"))
            op["report"] = rep

        def profile():
            prof = profile_relation(self.read_input(), PROFILE_COLS)
            prof.write.parquet(os.path.join(out, "profile"))

        self.load(op)
        self.step(op, "validate", validate)
        self.step(op, "profile", profile)

    def expectations(self, oracle):
        exp = oracle.flagship()
        exp[("LatencyShape", "MaxGapConstraintComponent")] = oracle.max_gap(MAX_GAP_S)
        exp[("ConvRefShape", "ClassConstraintComponent")] = oracle.fk_missing_conv(self.n_dim)
        d = DRIFT
        base = oracle.length_histogram(f"{self.baseline_dir}/*.parquet", d["lo"], d["hi"], d["bins"])
        cur = oracle.length_histogram(f"{self.input_dir}/*.parquet", d["lo"], d["hi"], d["bins"])
        self.baseline_ok = tuple(base) == self.baseline
        self.stat = psi(base, cur)
        exp[("TextLenDriftShape", "DistributionConstraintComponent")] = int(self.stat > d["threshold"])
        self.expected = exp
        self.profile_expected = oracle.profile(PROFILE_COLS)
        self.oracle = oracle

    def check(self, op):
        o, out = self.oracle, op["dir"]
        errs = self.check_suite(op)
        if not self.baseline_ok:
            errs.append("drift baseline differs from DuckDB's histogram")
        glob = self.violations_glob(op)
        errs += diff_counts(self.expected, o.counts(glob))
        vals = o.con.execute(
            f"SELECT value FROM read_parquet('{glob}') WHERE constraint_component = 'DistributionConstraintComponent'"
        ).fetchall()
        if vals and abs(float(vals[0][0]) - self.stat) > 1e-6:
            errs.append(f"drift statistic {vals[0][0]} != oracle {self.stat:.6f}")
        rows = o.con.execute(
            "SELECT \"column\", n_rows, n_nulls, min_value, max_value, n_distinct "
            f"FROM read_parquet('{out}/profile/*.parquet')"
        ).fetchall()
        got = {r[0]: tuple(r[1:]) for r in rows}
        for c, e in self.profile_expected.items():
            if got.get(c) != tuple(e):
                errs.append(f"profile {c}: expected {tuple(e)}, got {got.get(c)}")
        return errs

    def layer_metrics(self, op):
        col = self.ctx.collector
        st = col.group_stats(op["groups"]["profile"])
        return {
            "profile.s": op["steps"]["profile"],
            "profile.jobs": st["jobs"],
            "profile.input_passes": st["input_records"] / self.n_rows,
        }


# ---------------------------------------------------------------------------
# wide_suite
# ---------------------------------------------------------------------------

N_WIDE = 60
#: the generated suite is the same on every run: a seed that changed the
#: shapes would change how much work an op is, on top of which rows fail
WIDE_SUITE_SEED = 0
TARGETS = ["role = 'user'", "role = 'assistant'", "tool IS NOT NULL", "turn_idx < 10"]
WHERES = ["role = 'user'", "role = 'assistant'", "tool IS NOT NULL", "length(text) > 1500", "turn_idx >= 5", "ts IS NULL"]
PATTERNS = {
    "role": ["^[a-z]+$", "^(user|assistant|system|tool)$", "^[a-z]{4,9}$"],
    "tool": ["^tool-[0-9]+$", "^tool-[01][0-9]$"],
    "text": ["^[0-9a-f]+", "^[0-9a-f ]+x*$"],
}


def wide_shapes(seed: int, n: int) -> list[tuple[Shape, str]]:
    """`n` generated single-constraint shapes, each paired with the
    DuckDB query that counts its violations. Kinds cycle through range,
    length, pattern, in-set, grouped min-count and small-dim FK; about a
    third of the shapes carry a target. Parameters are drawn so that no
    shape flags more than a few percent of the turns."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        kind = ("range", "length", "pattern", "inset", "mincount", "fk")[i % 6]
        target = rng.choice(TARGETS) if rng.random() < 0.35 else None
        tsql = f"coalesce(({target}), false)" if target else "true"
        if kind == "range":
            col = "turn_idx"
            if rng.random() < 0.5:
                b = rng.randint(0, 2)
                c, ok = MinInclusive(col, b), f"{col} >= {b}"
            else:
                b = rng.randint(300, 700)
                c, ok = MaxInclusive(col, b), f"{col} <= {b}"
        elif kind == "length":
            col = "text"
            if rng.random() < 0.5:
                n_ = rng.randint(1, 40)
                c, ok = MinLength(col, n_), f"length({col}) >= {n_}"
            else:
                n_ = rng.randint(1950, 4400)
                c, ok = MaxLength(col, n_), f"length({col}) <= {n_}"
        elif kind == "pattern":
            col = rng.choice(sorted(PATTERNS))
            pat = rng.choice(PATTERNS[col])
            c, ok = Pattern(col, pat), f"regexp_matches({col}, '{pat}')"
        elif kind in ("inset", "fk"):
            col = rng.choice(["role", "tool"])
            pool = ROLES if col == "role" else TOOLS
            if kind == "fk":
                c = ForeignKey((col,), "roles" if col == "role" else "tools", (col,))
                vals = pool
            else:
                # every role; all but a few tools (each under 1% of turns)
                vals = pool if col == "role" else sorted(rng.sample(pool, len(pool) - rng.randint(1, 3)))
                c = InSet(col, tuple(vals))
            ok = f"{col} IN ({sql_list(vals)})"
        if kind == "mincount":
            k, where = rng.randint(1, 4), rng.choice(WHERES)
            c = GroupMinCount(("conv_id",), k, where=where, column="conv_id")
            sql = (
                "SELECT count(*) FROM (SELECT conv_id FROM t GROUP BY conv_id HAVING "
                f"count(*) FILTER (WHERE {tsql} AND coalesce(({where}), false)) < {k})"
            )
        else:
            sql = f"SELECT count(*) FROM t WHERE {tsql} AND {col} IS NOT NULL AND NOT ({ok})"
        sid = f"W{i:03d}_{kind}"
        out.append((Shape(NS + sid, (c,), target=target, name=sid), sql))
    return out


class WideSuite(Workload):
    name = "wide_suite"
    n_convs = 2000
    steps = ("load", "validate")
    validate_step = "validate"

    def prepare(self):
        self.generated = wide_shapes(WIDE_SUITE_SEED, N_WIDE)
        self.save_suite([s for s, _ in self.generated] + transcript_shapes())

    def op(self, op):
        out = op["dir"]

        def validate():
            rep = self.engine(op, "validate").validate(
                self.read_input(), op["shapes"], KEYS, salt_partitions="auto"
            )
            rep.violations.write.parquet(os.path.join(out, "violations"))
            op["report"] = rep

        self.load(op)
        self.step(op, "validate", validate)

    def expectations(self, oracle):
        exp = oracle.flagship()
        for shape, sql in self.generated:
            c = shape.constraints[0]
            exp[(shape.shape_id.split("#")[-1], c.component())] = oracle.scalar(sql)
        self.expected = exp
        self.oracle = oracle

    def check(self, op):
        return self.check_suite(op) + diff_counts(self.expected, self.oracle.counts(self.violations_glob(op)))


# ---------------------------------------------------------------------------
# checkpoint_explain
# ---------------------------------------------------------------------------

KILL_AFTER = 3


class CheckpointExplain(Workload):
    name = "checkpoint_explain"
    n_convs = 1000
    steps = ("load", "run", "kill", "resume", "explain", "explain_warm")
    validate_step = "run"
    # a whole cold op would take most of a run's time budget; the cold
    # op's run step warms the per-shape plans that kill and resume repeat
    cold_steps = ("load", "run")

    def prepare(self):
        self.save_suite(transcript_shapes())

    def runner(self, engine, out):
        if self.ctx.tracer.enabled:
            return TracedRunner(engine, out, self.ctx.tracer)
        return CheckpointedRunner(engine, out)

    def explainer(self, cache):
        gen = TracedGenerator(self.ctx.tracer) if self.ctx.tracer.enabled else None
        return Explainer(self.spark, cache=cache, generator=gen)

    def op(self, op):
        out = op["dir"]
        full, killed = os.path.join(out, "full"), os.path.join(out, "killed")
        cache_path = os.path.join(out, "cache", "explanations.parquet")

        def run():
            runner = self.runner(self.engine(op, "run"), full)
            op["report"] = runner.run(self.read_input(), op["shapes"], KEYS)

        def kill():
            try:
                self.runner(self.engine(op, "kill"), killed).run(
                    self.read_input(), op["shapes"], KEYS, fail_after=KILL_AFTER
                )
            except RuntimeError as e:
                if "simulated failure" not in str(e):
                    raise
            else:
                raise RuntimeError("fail_after did not stop the run")

        def resume():
            self.runner(self.engine(op, "resume"), killed).run(self.read_input(), op["shapes"], KEYS)

        def explain(name):
            def go():
                cache = CountingCache(cache_path, self.ctx.tracer)
                full_df = self.explainer(cache).explain_full(op["report"], op["shapes"], df=self.read_input())
                full_df.write.parquet(os.path.join(out, name))
                op[name + "_cache"] = cache

            return go

        self.load(op)
        self.step(op, "run", run)
        self.step(op, "kill", kill)
        self.step(op, "resume", resume)
        self.step(op, "explain", explain("explain"))
        self.step(op, "explain_warm", explain("explain_warm"))

    def expectations(self, oracle):
        self.expected = oracle.flagship()
        self.oracle = oracle

    def violations_glob(self, op):
        return f"{op['dir']}/full/violations/*/*.parquet"

    def check(self, op):
        o, out = self.oracle, op["dir"]
        full = self.violations_glob(op)
        errs = self.check_suite(op) + diff_counts(self.expected, o.counts(full))
        if o.digest(full) != o.digest(f"{out}/killed/violations/*/*.parquet"):
            errs.append("resumed relation's multiset digest differs from the full run's")
        n_viol = sum(self.expected.values())
        for name in ("explain", "explain_warm"):
            n, missing = o.con.execute(
                "SELECT count(*), count(*) FILTER (WHERE natural_language_explanation IS NULL) "
                f"FROM read_parquet('{out}/{name}/*.parquet')"
            ).fetchone()
            if n != n_viol or missing:
                errs.append(f"{name}: {n} rows for {n_viol} violations, {missing} without explanation")
        warm = op["explain_warm_cache"]
        if not warm.gets or warm.hits != warm.gets:
            errs.append(f"warm explain hit {warm.hits} of {warm.gets} cache probes")
        return errs

    def layer_metrics(self, op):
        col, tr = self.ctx.collector, self.ctx.tracer
        g = op["groups"]
        n_shapes = len(self.suite)
        run_st = col.group_stats(g["run"], g["run"] + ".build")
        run_calls = len(op["engines"]["run"][0].reports)
        resume_calls = len(op["engines"]["resume"][0].reports)
        bytes_written = files_written = 0
        for root, _, files in os.walk(os.path.join(op["dir"], "full")):
            for f in files:
                files_written += 1
                bytes_written += os.path.getsize(os.path.join(root, f))
        n_viol = op["report"].metrics["total_violations"]
        ex_ids = col.job_ids(g["explain"])
        ex_st = col.stats(ex_ids)
        sig_ids = [j for j in ex_ids if "pipeline.py" in col.job_name(j)]
        sim_ids = [j for j in ex_ids if "context.py" in col.job_name(j)]
        sim_st = col.stats(sim_ids)
        cold, warm = op["explain_cache"], op["explain_warm_cache"]
        return {
            "checkpoint.validate_calls": run_calls,
            "checkpoint.jobs": run_st["jobs"],
            "checkpoint.input_passes": run_st["input_records"] / self.n_rows,
            "checkpoint.bytes_written": bytes_written,
            "checkpoint.files_written": files_written,
            "checkpoint.bytes_per_violation": bytes_written / max(n_viol, 1),
            "checkpoint.report_s": sum(s["end"] - s["start"] for s in tr.op_spans(op["id"], "checkpoint.report")),
            "checkpoint.resume_skip_ratio": (n_shapes - resume_calls) / n_shapes,
            "explain.signatures": cold.gets,
            "explain.signatures_s": col.stats(sig_ids)["busy_s"],
            "explain.jobs": ex_st["jobs"],
            "explain.input_passes": sim_st["input_records"] / self.n_rows,
            "explain.cache_hit_ratio": warm.hits / max(warm.gets, 1),
            "explain.cache_entries_added": cold.added,
            "explain.fanout_rows": ex_st["output_records"],
        }


WORKLOADS = {w.name: w for w in (BulkValidate, WideSuite, CheckpointExplain)}

