"""Spans and Spark metrics for the traced run (``--trace 1``).

A span (name, layer, start, end, parent, run) wraps every call the
benchmark makes into a layer's public function and every action that
executes it: the call span holds plan building (Spark is lazy), the
action span holds execution. While a traced job runs, the tracer also
wraps a few calls that cross from one layer into another inside the
engine, from the outside (module attributes are swapped, no engine file
changes): the curves range decompositions the store makes, the planner's
``choose_strategy`` and ``DataFrameReader.parquet`` (partition discovery).

Every span sets a Spark job group, so each Spark job is charged to the
innermost span that was open when it was submitted. After each traced
job the tracer reads, from Spark's in-memory status stores,

- every SQL execution's plan graph and operator metrics. The graph is
  the plan that actually ran: adaptive execution rewrites it as stages
  finish. Each execution is charged to the span open at its submission.
  This includes the executions that run inside engine calls;
- every job's stages and their task metrics;
- for action spans, the operator counts of the final adaptive plan of the
  DataFrame the action ran on.

Operators are mapped to layers by kind (parquet scans and writes to the
store, candidate joins and refine UDFs to the join operator) and by the
name of the Python UDF they run. Spans and counts stay in memory and are
written as JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import re
import statistics
import time

SOURCES, CURVES = "sources", "curves"
PLANNER, STORE, CHECKPOINT = "plans.planner", "plans.store", "plans.checkpoint"
SJ, KNN, TILING = "operators.spatial_join", "operators.knn", "operators.tiling"
LAYERS = (SOURCES, CURVES, PLANNER, STORE, CHECKPOINT, SJ, KNN, TILING)

# Python UDF name (as the engine defines it) -> layer whose code runs in it
UDF_LAYER = {"parse_coords": SOURCES, "enc": CURVES, "env": STORE,
             "refine": SJ, "cover": SJ}
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas")
JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")

# per-layer metrics and their units; every traced run prints all of them
PER_LAYER = {
    "sources.geoparse_s": "s", "sources.geoparse_python_s": "s",
    "sources.rows_parsed_frac": "fraction",
    "curves.decompose_s": "s", "curves.ranges_per_query": "count",
    "curves.key_python_s": "s",
    "planner.choose_s": "s", "planner.est_scan_frac": "fraction",
    "planner.est_over_actual": "ratio",
    "store.open_s": "s", "store.scan_s": "s", "store.files_read": "count",
    "store.files_total": "count", "store.files_read_frac": "fraction",
    "store.bytes_read": "bytes", "store.write_s": "s",
    "store.files_written": "count", "store.bytes_written": "bytes",
    "store_bytes_per_input_byte": "ratio",
    "checkpoint.stage_s": "s", "checkpoint.post_write_jobs": "count",
    "checkpoint.post_write_s": "s",
    "spatial_join.prepare_s": "s", "spatial_join.cover_cells": "count",
    "spatial_join.candidates": "count", "spatial_join.matches": "count",
    "spatial_join.match_per_candidate": "ratio",
    "spatial_join.interior_frac": "fraction",
    "spatial_join.refine_python_s": "s", "spatial_join.python_bytes": "bytes",
    "spatial_join.exchange_bytes": "bytes",
    "knn.s": "s", "knn.rounds": "count", "knn.candidates_per_result": "ratio",
    "knn.fallback_queries": "count",
    "tiling.density_s": "s", "tiling.pyramid_s": "s", "tiling.cells_out": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_cpu_frac": "fraction",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.python_share": "fraction",
    "spark.driver_gap_s": "s",
    **{f"self.{layer.rsplit('.', 1)[-1]}_s": "s" for layer in LAYERS},
    "self.harness_s": "s",
    "trace.job_s": "s", "trace.overhead_s": "s", "trace.overhead_frac": "fraction",
    "error_rate": "fraction",
}

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: "1,234", "0.0 B", "512 ms", or a
    "total (min, med, max ...)\\n4.5 s (...)" summary (its total)."""
    line = text.strip().split("\n")[-1].split(" (")[0].strip()
    parts = line.replace(",", "").split()
    try:
        value = float(parts[0])
    except (IndexError, ValueError):
        return 0.0
    return value * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else value


class NullTracer:
    """Tracing off: every hook is a no-op."""

    @contextlib.contextmanager
    def span(self, name, layer, action=None):
        yield

    @contextlib.contextmanager
    def job(self, i):
        yield

    def count(self, key, value):
        pass


class Tracer:
    """Tracing on: see the module docstring."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.cc = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.jsc.statusStore()
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.run = None
        self.active = False
        self.next_exec = 0
        self.jobs: list[dict] = []       # per traced job: summed counts
        self.setup: dict[str, float] = {}
        self.executions: list[dict] = []  # every SQL execution read, with its operators
        self.counts: dict[str, float] = {}
        self._patched = []
        self._patch()

    # -- spans -------------------------------------------------------------

    def _group(self):
        if self.stack:
            self.sc.setJobGroup(f"pb{self.stack[-1]['id']}", self.stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name, layer, action=None):
        rec = {"id": len(self.spans) + len(self.stack), "name": name, "layer": layer,
               "parent": self.stack[-1]["id"] if self.stack else None,
               "run": self.run, "start": time.time(), "action": action is not None}
        self.stack.append(rec)
        self._group()
        ok = False
        try:
            yield rec
            ok = True
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self._group()
            if ok and action is not None:
                rec["plan_shape"] = self.plan_shape(action)
            self.spans.append(rec)

    def count(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value

    @contextlib.contextmanager
    def job(self, i):
        """One traced job: collect its Spark metrics when it ends."""
        self.run, self.active, self.counts = i, True, {}
        first_span = len(self.spans)
        self._skip_executions()
        t0 = time.time()
        with self.span("job", "job"):
            yield
        self.active = False
        counts = self.collect(self.spans[first_span:], t0, time.time())
        if i == "setup":
            self.setup = counts
        else:
            self.jobs.append(counts)

    # -- calls between layers inside the engine ----------------------------

    def _wrap(self, owner, attr, name, layer, after=None):
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, fn))

    def _patch(self):
        from pyspark.sql.readwriter import DataFrameReader

        from geomesa_spark.curves.xz2 import XZ2SFC
        from geomesa_spark.plans import planner, store

        def ranges(out):
            self.count("curves.ranges", len(out))

        def chosen(plan):
            self.count("planner.choices", 1)
            self.count("planner.est_scan", plan["costs"][plan["chosen"]])

        self._wrap(store, "z2_ranges", "z2_ranges", CURVES, ranges)
        self._wrap(store, "z3_ranges", "z3_ranges", CURVES, ranges)
        # on the class, not the store's instance: UDFs pickle that instance
        self._wrap(XZ2SFC, "ranges", "xz2_ranges", CURVES, ranges)
        self._wrap(planner, "choose_strategy", "choose_strategy", PLANNER, chosen)
        self._wrap(DataFrameReader, "parquet", "read.parquet", STORE)

    def close(self):
        """Put the wrapped engine attributes back."""
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched = []

    # -- Spark metrics -----------------------------------------------------

    def plan_shape(self, df) -> dict[str, int]:
        """Operator counts of the final (adaptive) physical plan of ``df``."""
        plan = df._jdf.queryExecution().executedPlan()
        counts: dict[str, int] = {}
        todo = [plan]
        while todo:
            node = todo.pop()
            name = node.nodeName()
            if name == "AdaptiveSparkPlan":
                todo.append(node.executedPlan())
                continue
            if name.endswith("QueryStage"):
                todo.append(node.plan())
                continue
            counts[name] = counts.get(name, 0) + 1
            todo.extend(self.cc.asJava(node.children()))
        return counts

    def _skip_executions(self) -> None:
        """Move past the executions of untraced work (set-up, untraced jobs)."""
        self.jsc.listenerBus().waitUntilEmpty(30_000)
        while not self.sql_store.execution(self.next_exec).isEmpty():
            self.next_exec += 1

    def _executions(self) -> list[dict]:
        """Finished SQL executions submitted since the last call."""
        out = []
        while True:
            e = self.sql_store.execution(self.next_exec)
            if e.isEmpty() or e.get().completionTime().isEmpty():
                return out
            e = e.get()
            self.next_exec += 1
            metrics = {int(k): v for k, v in
                       self.cc.asJava(self.sql_store.executionMetrics(e.executionId())).items()}
            nodes, seen = [], set()
            graph = self.sql_store.planGraph(e.executionId())
            for n in self.cc.asJava(graph.allNodes()):
                m = {}
                for pm in self.cc.asJava(n.metrics()):
                    acc = int(pm.accumulatorId())
                    v = metrics.get(acc)
                    if v is not None and acc not in seen:  # a node can appear twice
                        seen.add(acc)
                        m[pm.name()] = parse_metric(v)
                if m:
                    nodes.append({"id": n.id(), "name": n.name(), "desc": n.desc()[:300],
                                  "metrics": m})
            # edges run from a child operator to its parent
            edges = [(ed.fromId(), ed.toId()) for ed in self.cc.asJava(graph.edges())]
            out.append({"id": e.executionId(), "start": e.submissionTime() / 1e3,
                        "end": e.completionTime().get().getTime() / 1e3,
                        "nodes": nodes, "edges": edges})

    def _stage(self, sid: int) -> dict | None:
        st = self.app_store.lastStageAttempt(sid)
        if st.submissionTime().isEmpty() or st.completionTime().isEmpty():
            return None  # skipped stage
        return {"tasks": st.numCompleteTasks(), "run_s": st.executorRunTime() / 1e3,
                "cpu_s": st.executorCpuTime() / 1e9, "gc_s": st.jvmGcTime() / 1e3,
                "shuffle_write": st.shuffleWriteBytes(), "spill": st.diskBytesSpilled(),
                "start": st.submissionTime().get().getTime() / 1e3,
                "end": st.completionTime().get().getTime() / 1e3}

    def collect(self, spans: list[dict], t0: float, t1: float) -> dict:
        """Per-layer counts of one traced job."""
        self.jsc.listenerBus().waitUntilEmpty(30_000)
        c: dict[str, float] = dict(self.counts)

        def add(key, v):
            c[key] = c.get(key, 0.0) + v

        # span time per layer, and self time
        kids: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in spans:
            dur = s["end"] - s["start"]
            own = dur - kids.get(s["id"], 0.0)
            layer = s["layer"] if s["layer"] in LAYERS else "harness"
            add(f"self.{layer.rsplit('.', 1)[-1]}_s", own)
            add(f"span.{s['layer']}.{s['name']}", dur)

        # Spark jobs and stages, by job group
        stages, n_jobs = {}, 0
        for s in spans:
            for jid in self.sc.statusTracker().getJobIdsForGroup(f"pb{s['id']}"):
                n_jobs += 1
                for sid in self.cc.asJava(self.app_store.job(jid).stageIds()):
                    if sid not in stages:
                        stages[sid] = self._stage(sid)
        stages = [v for v in stages.values() if v]
        add("spark.jobs", n_jobs)
        for k in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write", "spill"):
            add(f"stage.{k}", sum(st[k] for st in stages))
        busy, last = 0.0, t0
        for st in sorted(stages, key=lambda st: st["start"]):
            lo, hi = max(st["start"], last), min(st["end"], t1)
            if hi > lo:
                busy += hi - lo
                last = hi
        add("spark.driver_gap_s", (t1 - t0) - busy)

        # SQL executions, charged to the innermost span open at submission
        for ex in self._executions():
            owner = None
            for s in spans:
                if s["start"] <= ex["start"] <= s["end"] and (
                        owner is None or s["start"] >= owner["start"]):
                    owner = s
            if owner is None:
                continue
            self._charge(ex, owner["layer"], add)
            self.executions.append({**ex, "span": owner["id"], "layer": owner["layer"]})
        return c

    def _charge(self, ex: dict, layer: str, add) -> None:
        dur = ex["end"] - ex["start"]
        has_scan = has_write = False
        for n in ex["nodes"]:
            name, m = n["name"], n["metrics"]
            if name in PYTHON_NODES:
                udfs = re.findall(r"\b([A-Za-z_]\w*)\(", n["desc"].split("]")[0])
                udf_layer = next((UDF_LAYER[u] for u in udfs if u in UDF_LAYER), layer)
                if layer == KNN and udf_layer == SJ:
                    udf_layer = KNN  # the kNN query-cover UDF is also named "cover"
                py_s = m.get("time to run Python workers", 0.0)
                add("python.s", py_s)
                add(f"python.{udf_layer}.s", py_s)
                add(f"python.{udf_layer}.bytes", m.get("data sent to Python workers", 0.0)
                    + m.get("data returned from Python workers", 0.0))
                add(f"python.{udf_layer}.rows", m.get("number of output rows", 0.0))
            elif name.startswith("Scan parquet"):
                has_scan = True
                add("store.files_read", m.get("number of files read", 0.0))
                if layer == PLANNER:
                    add("planner.files_read", m.get("number of files read", 0.0))
                add("store.bytes_read", m.get("size of files read", 0.0))
            elif "InsertIntoHadoopFsRelationCommand" in name:
                has_write = True
                add("store.files_written", m.get("number of written files", 0.0))
                add("store.bytes_written", m.get("written output", 0.0))
            elif name in JOIN_NODES and re.search(r"__(cell|gi)__", n["desc"]):
                add(f"join.{layer}.candidates", m.get("number of output rows", 0.0))
            elif name == "BroadcastNestedLoopJoin" and layer == KNN:
                # the completeness fallback: stragglers are its broadcast side
                kids = {a for a, b in ex["edges"] if b == n["id"]}
                add("knn.fallback_queries", sum(
                    k["metrics"].get("number of output rows", 0.0) for k in ex["nodes"]
                    if k["id"] in kids and k["name"] == "BroadcastExchange"))
            elif layer == SJ and (name == "Generate" or (
                    name in ("LocalTableScan", "Scan ExistingRDD")
                    and re.search(r"__(cell|gi)__", n["desc"]))):
                # cover rows: exploded grid cells, or a prepared cell table
                add("spatial_join.cover_cells", m.get("number of output rows", 0.0))
            elif name == "Exchange":
                add(f"exchange.{layer}.bytes", m.get("data size", 0.0))
        if has_write:
            add("store.write_s", dur)
        elif has_scan and layer in (STORE, PLANNER, TILING):
            add("store.scan_s", dur)
        if layer == CHECKPOINT and not has_write:
            add("checkpoint.post_write_jobs", 1)
            add("checkpoint.post_write_s", dur)

    # -- report ------------------------------------------------------------

    def report(self, walls: list[float], traced: list[float], error_rate: float) -> dict:
        """Per-layer metrics: per-job means over the traced jobs."""
        n = max(1, len(self.jobs))
        tot: dict[str, float] = {}
        for j in self.jobs:
            for k, v in j.items():
                tot[k] = tot.get(k, 0.0) + v
        g = {k: v / n for k, v in tot.items()}
        # the write side (ingest, store writes) runs in set-up
        w = self.setup

        def ratio(a, b):
            return a / b if b else 0.0

        def span(layer, name):
            return g.get(f"span.{layer}.{name}", 0.0)

        queries = g.get("queries", 0.0)
        files_total = g.get("store.files_total", 0.0)
        cand_sj = g.get(f"join.{SJ}.candidates", 0.0)
        boundary = g.get(f"python.{SJ}.rows", 0.0)
        matches = g.get("spatial_join.matches", 0.0)
        knn_cand = g.get(f"join.{KNN}.candidates", 0.0)
        results = g.get("knn.results", 0.0)
        files_read_frac = ratio(g.get("store.files_read", 0.0), files_total)
        est = ratio(g.get("planner.est_scan", 0.0), g.get("planner.choices", 0.0))
        out = {
            "sources.geoparse_s": w.get(f"span.{SOURCES}.geoparse", 0.0),
            "sources.geoparse_python_s": w.get(f"python.{SOURCES}.s", 0.0),
            "sources.rows_parsed_frac": w.get("sources.rows_parsed_frac", 0.0),
            "curves.decompose_s": sum(span(CURVES, f) for f in
                                      ("z2_ranges", "z3_ranges", "xz2_ranges")),
            "curves.ranges_per_query": ratio(g.get("curves.ranges", 0.0), queries),
            "curves.key_python_s": w.get(f"python.{CURVES}.s", 0.0),
            "planner.choose_s": span(PLANNER, "choose_strategy"),
            "planner.est_scan_frac": est,
            "planner.est_over_actual": ratio(est, ratio(g.get("planner.files_read", 0.0),
                                                        g.get("planner.files_total", 0.0))),
            "store.open_s": span(STORE, "read.parquet"),
            "store.scan_s": g.get("store.scan_s", 0.0),
            "store.files_read": g.get("store.files_read", 0.0),
            "store.files_total": files_total,
            "store.files_read_frac": files_read_frac,
            "store.bytes_read": g.get("store.bytes_read", 0.0),
            "store.write_s": w.get("store.write_s", 0.0),
            "store.files_written": w.get("store.files_written", 0.0),
            "store.bytes_written": w.get("store.bytes_written", 0.0),
            "store_bytes_per_input_byte": w.get("store_bytes_per_input_byte", 0.0),
            "checkpoint.stage_s": w.get(f"span.{CHECKPOINT}.run_stage", 0.0),
            "checkpoint.post_write_jobs": w.get("checkpoint.post_write_jobs", 0.0),
            "checkpoint.post_write_s": w.get("checkpoint.post_write_s", 0.0),
            "spatial_join.prepare_s": span(SJ, "prepare_pip_polys"),
            "spatial_join.cover_cells": g.get("spatial_join.cover_cells", 0.0),
            "spatial_join.candidates": cand_sj,
            "spatial_join.matches": matches,
            "spatial_join.match_per_candidate": ratio(matches, cand_sj),
            "spatial_join.interior_frac": (ratio(cand_sj - boundary, cand_sj)
                                           if g.get("spatial_join.prepared") else 0.0),
            "spatial_join.refine_python_s": g.get(f"python.{SJ}.s", 0.0),
            "spatial_join.python_bytes": g.get(f"python.{SJ}.bytes", 0.0),
            "spatial_join.exchange_bytes": g.get(f"exchange.{SJ}.bytes", 0.0),
            "knn.s": span(KNN, "knn_join") + span(KNN, "collect"),
            "knn.rounds": g.get("knn.rounds", 0.0),
            "knn.candidates_per_result": ratio(knn_cand, results),
            "knn.fallback_queries": g.get("knn.fallback_queries", 0.0),
            "tiling.density_s": span(TILING, "density_points"),
            "tiling.pyramid_s": span(TILING, "density_pyramid") + span(TILING, "collect"),
            "tiling.cells_out": g.get("tiling.cells_out", 0.0),
            "spark.jobs": g.get("spark.jobs", 0.0),
            "spark.tasks": g.get("stage.tasks", 0.0),
            "spark.task_cpu_frac": ratio(g.get("stage.cpu_s", 0.0), g.get("stage.run_s", 0.0)),
            "spark.gc_s": g.get("stage.gc_s", 0.0),
            "spark.shuffle_write_bytes": g.get("stage.shuffle_write", 0.0),
            "spark.spill_bytes": g.get("stage.spill", 0.0),
            "spark.python_share": ratio(g.get("python.s", 0.0), g.get("stage.run_s", 0.0)),
            "spark.driver_gap_s": g.get("spark.driver_gap_s", 0.0),
        }
        for layer in LAYERS + ("harness",):
            key = f"self.{layer.rsplit('.', 1)[-1]}_s"
            out[key] = g.get(key, 0.0)
        base = statistics.median(walls) if walls else 0.0
        tj = statistics.median(traced) if traced else 0.0
        out["trace.job_s"] = tj
        out["trace.overhead_s"] = tj - base
        out["trace.overhead_frac"] = ratio(tj - base, base)
        out["error_rate"] = error_rate
        self.close()
        return {k: {"value": out[k], "unit": PER_LAYER[k]} for k in PER_LAYER}

