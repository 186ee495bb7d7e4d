"""Spans and Spark counters for the traced run.

Spans are recorded only around calls the benchmark makes into the
program's layers, or around the program's layer functions as one plan
module imported them (``wrap_imports``); nothing inside the program is
edited. Each span runs under its own Spark job group, so jobs a call
launches eagerly are billed to that call, and the span's Spark counters
are read right after it ends: the status store keeps only the last
1,000 jobs and stages.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

PKG = "whale_sightings_spark"
SPARK_COUNTERS = ("jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes", "spill_bytes")


def layer_of(module: str) -> str:
    """``whale_sightings_spark.operators.clean`` -> ``operators``."""
    parts = module.split(".")
    return parts[1] if len(parts) > 1 and parts[0] == PKG else parts[0]


class Tracer:
    """Keeps spans in memory; a disabled tracer records nothing and sets
    no job group, so untraced runs pay nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seq = 0
        self.self_s = 0.0  # time the tracer spends reading counters

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        self._seq += 1
        group = f"bench-{self._seq}-{name}"
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._seq, "name": name, "parent": parent, "group": group,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(self._seq)
        parent_group = self.spans[parent - 1]["group"] if parent else None
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                t0 = time.perf_counter()
                rec.update(self._counters(group))
                if parent_group:
                    self.sc.setJobGroup(parent_group, self.spans[parent - 1]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self.self_s += time.perf_counter() - t0

    def add_group(self, rec: dict, group: str) -> None:
        """Bill the jobs of another job group (a stream's run id) to ``rec``."""
        t0 = time.perf_counter()
        for k, v in self._counters(group).items():
            rec[k] = rec.get(k, 0) + v
        self.self_s += time.perf_counter() - t0

    def _counters(self, group: str) -> dict:
        sc = self.sc
        jsc = sc._jsc.sc()
        bus = jsc.listenerBus()
        try:
            bus.waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 - older signatures; counters may lag
            pass
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        out = dict.fromkeys(SPARK_COUNTERS, 0)
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stages never ran
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def wrap_imports(self, module) -> None:
        """Give every program function that ``module`` imported by name a
        span named ``<layer>.<function>``."""
        if not self.enabled:
            return
        for attr, fn in list(vars(module).items()):
            mod = getattr(fn, "__module__", None) or ""
            if (callable(fn) and not isinstance(fn, type) and mod.startswith(PKG + ".")
                    and mod != module.__name__):
                setattr(module, attr, self._wrapped(f"{layer_of(mod)}.{fn.__name__}", fn))

    def _wrapped(self, name: str, fn):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return call

    def dump(self, path: str, t0: float) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                row = dict(s)
                row["start"] = round(s["start"] - t0, 6)
                row["end"] = round(s["end"] - t0, 6)
                f.write(json.dumps(row) + "\n")


#: every per-layer metric, in output order, with its unit. Both workloads
#: print all of them: a layer a workload never reaches reads 0, so only
#: counts, bytes and shares may be workload-specific; every time here is
#: measured on both. Row counts that only the input decides are checked
#: and printed, not listed.
PER_LAYER = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.gc_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "sources.share": "1",
    "functions.share": "1",
    "operators.share": "1",
    "plans.share": "1",
    "streaming.share": "1",
    "plans.pipeline_jobs": "count",
    "sources.raw_read_amplification": "1",
    "operators.dirty_ingest_failures": "count",
    "plans.oracle_probe_mismatches": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "trace.op_s": "s",
    "trace.overhead_s": "s",
}


def per_layer(tr: Tracer, *, setup_s: float, op_s: float, gc_ms: int,
              build, execs, op_spans) -> dict:
    """The per-layer metrics every workload shares, plus zeros for the
    workload-specific counts; the workload overwrites those it has.

    Only spans inside one of ``op_spans`` (the measured ops) count. ``build``
    and ``execs`` name the spans that build plans and the spans that run
    Spark actions. A layer's share is the wall time inside calls into it
    (outermost call per layer) over the ops' wall time; a call into one
    layer that calls another counts for both."""
    ops = [s for s in tr.spans if s["name"] in op_spans]
    measured = [s for s in tr.spans
                if any(o["start"] <= s["start"] and s["end"] <= o["end"] for o in ops)]

    def enclosing(s, pred):
        return any(p is not s and p["start"] <= s["start"] and s["end"] <= p["end"] and pred(p)
                   for p in measured)

    def seconds(names):
        return sum(s["end"] - s["start"] for s in measured
                   if s["name"] in names and not enclosing(s, lambda p: p["name"] in names))

    def inside(names):
        return [s for s in measured if s["name"] in names or enclosing(s, lambda p: p["name"] in names)]

    op_wall = seconds(op_spans) or 1e-9
    layer_s: dict[str, float] = {}
    for s in measured:
        layer = s["name"].split(".")[0]
        if s["name"] not in op_spans and not enclosing(
                s, lambda p: p["name"] not in op_spans and p["name"].split(".")[0] == layer):
            layer_s[layer] = layer_s.get(layer, 0.0) + s["end"] - s["start"]
    out = {name: {"value": 0, "unit": unit} for name, unit in PER_LAYER.items()}

    def put(name, value):
        out[name]["value"] = value

    put("session.start_s", setup_s)
    put("plans.build_s", seconds(build))
    put("plans.build_jobs", sum(s.get("jobs", 0) for s in inside(build)))
    put("spark.plan_s", seconds(["spark.plan"]))
    put("spark.exec_s", seconds(execs))
    put("spark.gc_s", gc_ms / 1000.0)
    for k in SPARK_COUNTERS:
        put(f"spark.{k}", sum(s.get(k, 0) for s in measured))
    for layer in ("sources", "functions", "operators", "plans", "streaming"):
        put(f"{layer}.share", layer_s.get(layer, 0.0) / op_wall)
    put("trace.op_s", op_s)
    put("trace.overhead_s", tr.self_s)
    return out


def stage_seconds(tr: Tracer, op_span: str) -> dict[str, float]:
    """Wall seconds per span name inside the first ``op_span``."""
    op = next(s for s in tr.spans if s["name"] == op_span)
    out: dict[str, float] = {}
    for s in tr.spans:
        if s is not op and op["start"] <= s["start"] and s["end"] <= op["end"]:
            out[s["name"]] = round(out.get(s["name"], 0.0) + s["end"] - s["start"], 3)
    return out
