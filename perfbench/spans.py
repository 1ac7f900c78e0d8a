"""Tracing for the ``--trace 1`` run: spans recorded around the engine's
public functions, patched at run time (the package itself is not edited),
plus per-op job, stage, task and shuffle counts from Spark's event log.

A span is (id, parent id, layer, function, start, end). Spans are kept in
memory, reduced once after the run and written to
``.perfbench_spans/<workload>-s<seed>.jsonl`` in the checkout. A layer's
self time is its span's duration minus the part of it that its child
spans cover; the op's own span (layer ``op``) holds what no patched
function accounts for, so child plus self time equals each op's time. Spans started in `run_concurrently`'s pool
threads name the `run_concurrently` span as their parent.

Event-log counts are attributed to an op by time window: a job, stage or
task belongs to the op whose start and end enclose its submission or
launch time. Ops run one at a time (closed loop, one client), and jobs
fired from `run_concurrently` threads carry no job group, so the window is
the attribution that holds for every job.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from common import RunContext, median
from tool_calls import TOOLS

PKG = "ai_powered_data_pipeline_assistant_spark"
LAYERS = (
    "op",
    "api.tools",
    "functions.caching",
    "plans.sql_gate",
    "operators",
    "catalog",
    "execution",
    "streaming.crawl_pipeline",
    "streaming.neardup",
    "streaming.jobs",
    "sources.layout",
    "spark.collect",
)
PER_LAYER_UNITS: dict[str, str] = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_bytes_per_op": "B",
    "catalog.load_table_calls_per_op": "count",
    "catalog.load_table_s_per_op": "s",
    "execution.materialize_calls_per_op": "count",
    "execution.materialize_s_per_op": "s",
    "execution.run_concurrently_s_per_op": "s",
    "jvm_peak_rss_mb": "MB",
    "trace_overhead_ratio": "1",
    **{f"self_s_per_op.{layer}": "s" for layer in LAYERS},
    # tool_calls
    "api.execute_s_p50": "s",
    "operators.build_s_p50": "s",
    "api.collect_s_p50": "s",
    "sql_gate.safe_sql_s_p50": "s",
    "api.cache_hit_ratio": "1",
    "api.refused_ratio": "1",
    **{f"tool.{t}.op_p50_s": "s" for t in TOOLS},
    # crawl_ingest
    "neardup.gate_s_p50": "s",
    "layout.index_append_s_p50": "s",
    "jobs.curated_append_s_p50": "s",
    "crawl.self_s_p50": "s",
    "crawl.dup_ratio": "1",
    "crawl.state_files": "count",
    "crawl.index_files": "count",
    "crawl.stored_bytes_per_doc": "B/doc",
}


class Tracer:
    def __init__(self):
        self.spans: list[tuple[int, int | None, str, str, float, float]] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str = ""):
        enter = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else getattr(self._local, "inherited", None)
        sid = next(self._ids)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent, layer, name, t0, t1))
                self.overhead_s += (t0 - enter) + (time.perf_counter() - t1)

    def wrap(self, layer: str, fn):
        tracer = self
        name = fn.__name__

        def traced(*args, **kwargs):
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def _traced_run_concurrently(self, fn):
        tracer = self

        def in_thread(parent, thunk):
            def run():
                tracer._local.inherited = parent
                try:
                    return thunk()
                finally:
                    tracer._local.inherited = None

            return run

        def traced(*thunks):
            with tracer.span("execution", "run_concurrently") as sid:
                return fn(*(in_thread(sid, t) for t in thunks))

        traced.__wrapped__ = fn
        return traced

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _patch_everywhere(self, original, replacement) -> None:
        """Replace every reference to ``original`` held by a loaded module
        of the package (modules bind imported functions at import time)."""
        import sys

        for name, mod in list(sys.modules.items()):
            if not name.startswith(PKG) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._set(mod, attr, replacement)

    def install(self) -> None:
        import importlib

        mods = {
            m: importlib.import_module(f"{PKG}.{m}")
            for m in (
                "registry", "catalog", "execution", "api.tools", "functions.caching",
                "operators.relational", "operators.aggregates", "operators.vector",
                "operators.pipeline", "streaming.crawl_pipeline", "streaming.neardup",
                "streaming.jobs", "sources.layout",
            )
        }
        tools = mods["api.tools"]
        self._set(tools.ToolRegistry, "execute",
                  self.wrap("api.tools", tools.ToolRegistry.execute))
        cache = mods["functions.caching"].TTLCache
        self._set(cache, "get", self.wrap("functions.caching", cache.get))
        self._set(cache, "put", self.wrap("functions.caching", cache.put))
        self._patch_everywhere(tools.safe_sql, self.wrap("plans.sql_gate", tools.safe_sql))
        for mod, fn in (
            ("operators.relational", "scan_project"),
            ("operators.relational", "newest_n"),
            ("operators.aggregates", "status_counts"),
            ("operators.aggregates", "quality_metrics"),
            ("operators.vector", "cosine_topk"),
            ("operators.pipeline", "search_pipeline"),
        ):
            orig = getattr(mods[mod], fn)
            self._patch_everywhere(orig, self.wrap("operators", orig))
        registry = mods["registry"]
        all_queries = registry.all_queries

        def traced_queries():
            return {k: self.wrap("operators", f) for k, f in all_queries().items()}

        self._set(registry, "all_queries", traced_queries)
        catalog = mods["catalog"]
        self._patch_everywhere(catalog.load_table, self.wrap("catalog", catalog.load_table))
        execution = mods["execution"]
        self._patch_everywhere(execution.materialize,
                               self.wrap("execution", execution.materialize))
        self._patch_everywhere(execution.run_concurrently,
                               self._traced_run_concurrently(execution.run_concurrently))
        for mod, fn, layer in (
            ("streaming.crawl_pipeline", "process_crawl_batch", "streaming.crawl_pipeline"),
            ("streaming.neardup", "process_neardup_batch", "streaming.neardup"),
            ("streaming.jobs", "idempotent_append", "streaming.jobs"),
            ("sources.layout", "append_ivfpq_layout", "sources.layout"),
        ):
            orig = getattr(mods[mod], fn)
            self._patch_everywhere(orig, self.wrap(layer, orig))
        from pyspark.sql import DataFrame
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

        for cls in {DataFrame, ClassicDataFrame}:
            if "collect" in vars(cls):
                self._set(cls, "collect", self.wrap("spark.collect", vars(cls)["collect"]))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines, times in seconds from the first."""
        t0 = min((s[4] for s in self.spans), default=0.0)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for sid, parent, layer, name, start, end in self.spans:
                fh.write(json.dumps({
                    "id": sid, "parent": parent, "layer": layer, "function": name,
                    "start_s": round(start - t0, 6), "end_s": round(end - t0, 6),
                }) + "\n")

    # ---- reduction ----
    def report(self, ctx: RunContext, events_dir: str) -> dict[str, float]:
        """Per-layer metrics over the timed ops (warm-up and checks are
        outside every op span and drop out)."""
        ops = ctx.ops
        n = max(1, len(ops))
        by_id = {s[0]: s for s in self.spans}
        children: dict[int, list[tuple]] = {}
        for s in self.spans:
            children.setdefault(s[1], []).append(s)

        def root(s):
            while s[1] in by_id:
                s = by_id[s[1]]
            return s

        roots = {s[0]: root(s) for s in self.spans}
        op_spans = [s for s in self.spans if s[2] == "op"]
        in_op = [s for s in self.spans if roots[s[0]][2] == "op"]

        def dur(s) -> float:
            return s[5] - s[4]

        def self_time(s) -> float:
            covered, end = 0.0, s[4]
            for a, b in sorted((c[4], c[5]) for c in children.get(s[0], [])):
                a, b = max(a, end), min(b, s[5])
                if b > a:
                    covered += b - a
                    end = b
            return dur(s) - covered

        def spans_of(layer: str, name: str | None = None) -> list[tuple]:
            return [s for s in in_op if s[2] == layer and (name is None or s[3] == name)]

        out: dict[str, float] = {}
        for layer in LAYERS:
            out[f"self_s_per_op.{layer}"] = sum(self_time(s) for s in spans_of(layer)) / n
        loads = spans_of("catalog")
        mats = spans_of("execution", "materialize")
        out["catalog.load_table_calls_per_op"] = len(loads) / n
        out["catalog.load_table_s_per_op"] = sum(map(dur, loads)) / n
        out["execution.materialize_calls_per_op"] = len(mats) / n
        out["execution.materialize_s_per_op"] = sum(map(dur, mats)) / n
        out["execution.run_concurrently_s_per_op"] = (
            sum(map(dur, spans_of("execution", "run_concurrently"))) / n
        )
        out["trace_overhead_ratio"] = self.overhead_s / (sum(map(dur, op_spans)) or 1.0)

        def p50_per_op(layer: str, parent_layer: str | None = None) -> float:
            """Median over the ops that reached ``layer`` of its time per op."""
            per_op: dict[int, float] = {}
            for s in spans_of(layer):
                if parent_layer is None or by_id.get(s[1], (0, 0, ""))[2] == parent_layer:
                    op = roots[s[0]][0]
                    per_op[op] = per_op.get(op, 0.0) + dur(s)
            return median(list(per_op.values()))

        out["api.execute_s_p50"] = p50_per_op("api.tools")
        out["operators.build_s_p50"] = p50_per_op("operators")
        out["api.collect_s_p50"] = p50_per_op("spark.collect", "api.tools")
        out["sql_gate.safe_sql_s_p50"] = p50_per_op("plans.sql_gate")
        out["neardup.gate_s_p50"] = p50_per_op("streaming.neardup")
        out["layout.index_append_s_p50"] = p50_per_op("sources.layout")
        out["jobs.curated_append_s_p50"] = p50_per_op("streaming.jobs")
        out["crawl.self_s_p50"] = median(
            [self_time(s) for s in spans_of("streaming.crawl_pipeline")]
        )
        out.update(event_log_counts(events_dir, ops))
        return out


def event_log_counts(events_dir: str, ops) -> dict[str, float]:
    """Jobs, stages, tasks and shuffle bytes written per op, from the
    Spark event log, attributed by each op's wall-clock window."""
    windows = [(op.t0_epoch * 1000.0, op.t1_epoch * 1000.0) for op in ops]

    def in_op(ms) -> bool:
        return ms is not None and any(a <= ms <= b for a, b in windows)

    jobs = stages = tasks = shuffle = 0
    for path in glob.glob(os.path.join(events_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs += in_op(ev.get("Submission Time"))
                elif kind == "SparkListenerStageCompleted":
                    stages += in_op(ev["Stage Info"].get("Submission Time"))
                elif kind == "SparkListenerTaskEnd":
                    if in_op(ev["Task Info"].get("Launch Time")):
                        tasks += 1
                        metrics = ev.get("Task Metrics") or {}
                        shuffle += (metrics.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
    n = max(1, len(ops))
    return {
        "spark.jobs_per_op": jobs / n,
        "spark.stages_per_op": stages / n,
        "spark.tasks_per_op": tasks / n,
        "spark.shuffle_bytes_per_op": shuffle / n,
    }
