"""Per-layer tracing from outside the library.

Spans (name, start, end, parent) are recorded around the library's public
layer functions by wrapping them in place, and each span sets its own Spark
job group, so every job is attributed to the innermost span that ran it.
After every benchmark op the tracer drains Spark's listener bus and reads
the core status store (jobs, stages), the SQL status store (per-execution
plan metrics, including the Python-worker metrics), the block manager's
RDD storage and the codegen compile counter. The stores keep only the last
1,000 jobs and stages, hence the read after every op.

A span around a lazy DataFrame function covers only what the call does
eagerly (planning, probe jobs); the deferred work runs in the op's action
and shows in the op's Spark totals.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import sys
import time
import types
from contextlib import contextmanager
from datetime import datetime

# (module, attribute, layer): the layer functions the spans wrap
WRAPPED = [
    ("sparkglm_spark.formula", "parse_formula", "encoding"),
    ("sparkglm_spark.functions.encoding", "model_matrix_levels", "encoding"),
    ("sparkglm_spark.functions.encoding", "model_matrix", "encoding"),
    ("sparkglm_spark.plans.gram", "gram_aggregate", "gram"),
    ("sparkglm_spark.operators.lm", "lm", "fit"),
    ("sparkglm_spark.operators.lm", "lm_grouped", "fit"),
    ("sparkglm_spark.operators.glm", "glm", "fit"),
    ("sparkglm_spark.operators.glm", "glm_grouped", "fit"),
    ("sparkglm_spark.operators.dedup", "minhash_index", "dedup"),
    ("sparkglm_spark.operators.dedup", "minhash_match_pairs", "dedup"),
    ("sparkglm_spark.operators.dedup", "minhash_dedup_pairs", "dedup"),
    ("sparkglm_spark.operators.dedup", "minhash_dedup_against", "dedup"),
    ("sparkglm_spark.operators.pipeline", "prepare_training_corpus", "pipeline"),
]
# (module, class, static method, layer)
WRAPPED_STATIC = [
    ("sparkglm_spark.operators.lm", "LM", "fit", "fit"),
    ("sparkglm_spark.operators.glm", "GLM", "fit", "fit"),
]

# SQL plan metrics of Python-worker nodes, by the names Spark gives them
PY_METRICS = {
    "time to run Python workers": "pyworker.s",
    "time to start Python workers": "pyworker.boot_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_received",
}
IO_METRICS = {"number of written files": "io.files_written", "written output": "io.bytes_written"}

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as the store formats it: "20,480", "1093.8 KiB",
    "3 ms", or a "total (min, med, max ...)" header line followed by the
    total. Sizes come back in bytes and times in seconds."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Records spans and per-op Spark records for one benchmark run."""

    def __init__(self, spark, threshold: float) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._json = jvm.org.apache.spark.status.api.v1.JacksonMessageWriter().mapper()
        self._stage_args = [getattr(self._store, f"stageData$default${i}")() for i in range(2, 6)]
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        # the verify filters compare an estimate or exact Jaccard to this literal
        self._verify_marker = f">= {threshold}"
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.persist_calls = 0
        self._stack: list[int] = []
        self._seen_stages: set[tuple[int, int]] = set()
        self._patches: list[tuple[object, str, object]] = []
        self._last_job = max((j["jobId"] for j in self._jobs()), default=-1)
        self._last_exec = self._max_execution()

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, "group": f"perfbench-span-{sid}",
        }
        self.spans.append(rec)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            rec["end"] = time.time()

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer) as rec:
                if name == "gram_aggregate":
                    rec["k"] = len(args[1] if len(args) > 1 else kwargs["x_cols"])
                    rec["weighted"] = kwargs.get("weight_col") is not None
                    rec["has_y"] = (args[2] if len(args) > 2 else kwargs.get("y_col")) is not None
                return fn(*args, **kwargs)

        return wrapper

    def _replace_everywhere(self, orig, new) -> None:
        """Point every module-level alias of `orig` in the library, or a
        bound method of it, at `new`, so `from x import f` copies are
        traced too."""
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith("sparkglm_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, new)
                elif isinstance(val, types.MethodType) and val.__func__ is orig:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, types.MethodType(new, val.__self__))

    def install(self) -> None:
        for modname, attr, layer in WRAPPED:
            orig = getattr(importlib.import_module(modname), attr)
            self._replace_everywhere(orig, self._wrap(orig, attr, layer))
        for modname, cls_name, attr, layer in WRAPPED_STATIC:
            cls = getattr(importlib.import_module(modname), cls_name)
            orig = cls.__dict__[attr]
            self._patches.append((cls, attr, orig))
            setattr(cls, attr, staticmethod(self._wrap(orig.__func__, f"{cls_name}.{attr}", layer)))
        from sparkglm_spark.plans.caching import CacheRegistry

        orig_persist = CacheRegistry.persist

        @functools.wraps(orig_persist)
        def persist(registry, df):
            self.persist_calls += 1
            return orig_persist(registry, df)

        self._patches.append((CacheRegistry, "persist", orig_persist))
        CacheRegistry.persist = persist
        self._replace_everywhere(orig_persist, persist)

    def uninstall(self) -> None:
        for owner, attr, val in reversed(self._patches):
            setattr(owner, attr, val)
        self._patches.clear()

    # ------------------------------------------------------------ stores

    def _jobs(self) -> list[dict]:
        return json.loads(self._json.writeValueAsString(self._store.jobsList(None)))

    def _stages(self, stage_id: int) -> list[dict]:
        return json.loads(self._json.writeValueAsString(self._store.stageData(stage_id, *self._stage_args)))

    def _max_execution(self) -> int:
        execs = self._sql.executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)

    @contextmanager
    def op(self, name: str, kind: str):
        """Wrap one benchmark op: a root span, then one record of what the
        stores saw while it ran."""
        persist0 = self.persist_calls
        compiles0 = self._codegen.getCount()
        root = None
        try:
            with self.span(f"op:{name}", "op") as root:
                yield
        finally:
            self._record(name, kind, root, persist0, compiles0)

    def _record(self, name: str, kind: str, root: dict, persist0: int, compiles0: int) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        rec = {
            "op": name, "kind": kind, "span": root["id"], "start": root["start"], "end": root["end"],
            "wall_s": root["end"] - root["start"],
            "cache.persist_calls": self.persist_calls - persist0,
            "spark.codegen_compiles": self._codegen.getCount() - compiles0,
        }
        rec.update(self._read_jobs(root))
        rec.update(self._read_sql())
        rdds = json.loads(self._json.writeValueAsString(self._store.rddList(False)))
        rec["cache.bytes"] = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds)
        self.ops.append(rec)

    def _read_jobs(self, root: dict) -> dict:
        span_of = {s["group"]: s for s in self.spans}
        out = {k: 0 for k in (
            "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
            "spark.gc_s", "spark.input_bytes", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
            "spark.output_bytes", "encoding.jobs",
        )}
        intervals = []
        jobs = [j for j in self._jobs() if j["jobId"] > self._last_job]
        for job in jobs:
            self._last_job = max(self._last_job, job["jobId"])
            out["spark.jobs"] += 1
            span = span_of.get(job.get("jobGroup"))
            if span is not None and span["name"] == "model_matrix_levels":
                out["encoding.jobs"] += 1
            t0, t1 = _epoch(job.get("submissionTime")), _epoch(job.get("completionTime"))
            if t0 is not None and t1 is not None:
                intervals.append((t0, t1))
            for sid in job["stageIds"]:
                for st in self._stages(sid):
                    # a stage a later job reuses is listed again under that job
                    attempt = (st["stageId"], st["attemptId"])
                    if st["status"] not in ("COMPLETE", "FAILED") or attempt in self._seen_stages:
                        continue
                    self._seen_stages.add(attempt)
                    out["spark.stages"] += 1
                    out["spark.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                    out["spark.executor_run_s"] += st["executorRunTime"] / 1e3
                    out["spark.executor_cpu_s"] += st["executorCpuTime"] / 1e9
                    out["spark.gc_s"] += st["jvmGcTime"] / 1e3
                    out["spark.input_bytes"] += st["inputBytes"]
                    out["spark.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    out["spark.shuffle_read_bytes"] += st["shuffleReadBytes"]
                    out["spark.output_bytes"] += st["outputBytes"]
        out["job_covered_s"] = _covered(intervals, root["start"], root["end"])
        return out

    def _read_sql(self) -> dict:
        out = {k: 0.0 for k in (*PY_METRICS.values(), *IO_METRICS.values())}
        out.update({"dedup.candidate_pairs": 0, "dedup.verified_pairs": 0, "dedup.match_small_path": 0})
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= self._last_exec:
                continue
            values = self._sql.executionMetrics(eid)

            def metric(m) -> float:
                v = values.get(m.accumulatorId())
                return parse_metric(v.get()) if v.isDefined() else 0.0

            seen: set[int] = set()
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                desc = node.desc()
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.accumulatorId() in seen:
                        continue
                    seen.add(m.accumulatorId())
                    name = m.name()
                    if name in PY_METRICS:
                        out[PY_METRICS[name]] += metric(m)
                    elif name in IO_METRICS:
                        out[IO_METRICS[name]] += metric(m)
                    elif name == "number of output rows":
                        if "Join" in node.name() and "band#" in desc and "bucket#" in desc:
                            out["dedup.candidate_pairs"] += int(metric(m))
                        elif self._verify_marker in desc and ("Filter" in node.name() or "Join" in node.name()):
                            out["dedup.verified_pairs"] += int(metric(m))
                if "MapInPandas" in node.name() and "est_jaccard" in desc:
                    out["dedup.match_small_path"] = 1
            self._last_exec = max(self._last_exec, eid)
        return out

    # ------------------------------------------------------------ report

    def _span_seconds(self, name: str | None = None, layer: str | None = None) -> float:
        """Summed duration of matching spans, not counting a span nested in
        another matching span."""
        def match(s):
            return (name is None or s["name"] == name) and (layer is None or s["layer"] == layer)

        total = 0.0
        for s in self.spans:
            if not match(s) or s["end"] is None:
                continue
            p = s["parent"]
            while p is not None and not match(self.spans[p]):
                p = self.spans[p]["parent"]
            if p is None:
                total += s["end"] - s["start"]
        return total

    def layer_totals(self) -> dict:
        """Span-derived layer metrics over everything traced so far."""
        grams = [s for s in self.spans if s["name"] == "gram_aggregate"]
        cols = sum(k * (k + 1) // 2 + (k + 2 if s["has_y"] else 0) + 1 + (3 if s["weighted"] else 0)
                   for s in grams for k in [s["k"]])
        return {
            "encoding.s": self._span_seconds(layer="encoding"),
            "gram.calls": len(grams),
            "gram.s": self._span_seconds(name="gram_aggregate"),
            "gram.agg_columns": cols,
            "dedup.signature_s": self._span_seconds(name="minhash_index"),
            "dedup.match_pairs_s": self._span_seconds(name="minhash_match_pairs"),
            "dedup.batch_pairs_s": self._span_seconds(name="minhash_dedup_pairs"),
            "pipeline.s": self._span_seconds(name="prepare_training_corpus"),
        }

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f, indent=1)
