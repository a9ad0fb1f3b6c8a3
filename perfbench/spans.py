"""In-memory spans for the traced run, and the thin proxies that put
spans inside the runner and the explainer.

A span is (name, start, end, parent, op id). Spans live in a list until
the run ends and are written out once. A layer's self time is its span
durations minus the part of each interval that its child spans cover.

The proxies subclass library classes and only add bookkeeping around
the parent method: they never change arguments or results.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict

from collect import union_length
from xpshacl_spark.checkpoint import CheckpointedRunner
from xpshacl_spark.compiler import ValidationEngine
from xpshacl_spark.explain import ExplanationCache
from xpshacl_spark.explain.generator import ExplanationGenerator


class Tracer:
    """Span recorder. With `enabled=False` every span is a no-op, so the
    same workload code serves the untraced and the traced run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.monotonic(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def op_spans(self, op_id: str, name: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id and s["name"] == name]

    def self_times(self) -> dict:
        """{layer: {"calls", "total_s", "self_s"}} over all spans."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            dur = s["end"] - s["start"]
            covered = union_length((c["start"], c["end"]) for c in children[i])
            agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]


class TracedEngine(ValidationEngine):
    """Puts each `validate()` in a span and in the op's build job group,
    so eager probe jobs are told apart from execution, and keeps every
    report so its plan can be inspected after the op."""

    def __init__(self, spark, dims, tracer: Tracer, collector, build_group: str):
        super().__init__(spark, dims=dims)
        self._tracer = tracer
        self._collector = collector
        self._build_group = build_group
        self.reports = []
        self.build_times: list[float] = []

    def validate(self, df, shapes, key_cols, salt_partitions=0):
        with self._tracer.span("compiler.validate"), self._collector.group(self._build_group):
            t0 = time.perf_counter()
            rep = super().validate(df, shapes, key_cols, salt_partitions=salt_partitions)
            self.build_times.append(time.perf_counter() - t0)
        self.reports.append(rep)
        return rep


class TracedRunner(CheckpointedRunner):
    """Spans the assembly of the checkpointed relation."""

    def __init__(self, engine, output_dir, tracer: Tracer):
        super().__init__(engine, output_dir)
        self._tracer = tracer

    def report(self, key_cols):
        with self._tracer.span("checkpoint.report"):
            return super().report(key_cols)


class CountingCache(ExplanationCache):
    """Counts cache probes, hits and additions; spans them when traced.
    The counts also feed the warm-cache correctness check, so this proxy
    is used in the untraced run too (a counter per probe, no clock)."""

    def __init__(self, path, tracer: Tracer):
        self._tracer = tracer
        self.gets = self.hits = self.added = 0
        super().__init__(path)

    def get_explanation(self, sig, language="en"):
        with self._tracer.span("explain.cache_get"):
            out = super().get_explanation(sig, language)
        self.gets += 1
        self.hits += out is not None
        return out

    def add_violation(self, sig, explanation, language="en"):
        with self._tracer.span("explain.cache_add"):
            super().add_violation(sig, explanation, language)
        self.added += 1

    def save(self):
        with self._tracer.span("explain.cache_save"):
            super().save()


class TracedGenerator(ExplanationGenerator):
    def __init__(self, tracer: Tracer):
        super().__init__()
        self._tracer = tracer

    def generate(self, violation, tree, context, language="en"):
        with self._tracer.span("explain.generate"):
            return super().generate(violation, tree, context, language)
