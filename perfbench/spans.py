"""Spans and per-layer counters, read from outside the program.

The traced run records one root span per operation and one child span
per public call the benchmark makes. After each operation it reads
Spark's own records:

* jobs, stages and tasks from the application status store
  (``SparkContext.statusStore``); a job becomes a child of the call
  span whose interval contains its submission time;
* the executed physical plan of every SQL execution, captured with a
  ``QueryExecutionListener`` registered by the benchmark. The walk
  descends through AQE's final plan, query stages and cached
  relations and sums the SQL metrics per layer.

Units of the SQL metrics (pinned by tests/test_trace_units.py):
``timing`` metrics are milliseconds, ``nsTiming`` nanoseconds,
``size`` bytes.
"""

from __future__ import annotations

import inspect
import re
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import union_length

# python evaluation nodes -> layer, by the name of the function Spark
# evaluates (the engine's UDF / mapInPandas / applyInPandas function)
UDF_LAYER = {
    "_udf": "geocode",               # operators.geocode.hex_cell(s)_udf
    "pip_exact": "pip_join",         # operators.pip_join refine
    "local_topk": "knn",             # operators.knn fallback
    "decode": "sources.decode",      # sources.tiff range reader
    "scan": "sources.decode",        # sources.warc range reader
    "extract_text": "sources.extract",
    "run_patch": "overlap",
    "reduce_cell": "overlap",
    "<lambda>": "vectorize.tile_facts",  # polygonize_tiles tile pass
    "build_polygon": "vectorize.rings",
    "stats": "annotations",
    "geo_bounds": "annotations",
    "keys": "dedup",
    "sig_udf": "dedup",
}

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas")
JOIN_NODES = ("BroadcastHashJoinExec", "SortMergeJoinExec",
              "ShuffledHashJoinExec", "BroadcastNestedLoopJoinExec",
              "CartesianProductExec")
AGG_NODES = ("HashAggregateExec", "ObjectHashAggregateExec",
             "SortAggregateExec")


def _metrics(node) -> dict[str, float]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().value())
    return out


def _udf_name(node) -> str:
    for attr in ("udfs", "func"):
        try:
            v = getattr(node, attr)()
        except Exception:  # py4j raises when the node has no such member
            continue
        if attr == "udfs":
            return ",".join(v.apply(i).name() for i in range(v.size()))
        return v.name()
    return "?"


class PlanTotals:
    """Per-layer sums over the walked plans of one operation."""

    def __init__(self, seen_cached: dict[int, set[str]]):
        self.python = defaultdict(lambda: defaultdict(float))
        self.sums = defaultdict(float)
        self.maxes = defaultdict(float)
        self.udf_names: set[str] = set()
        self._seen_cached = seen_cached

    def walk_execution(self, qe) -> None:
        out_names = [a.name() for a in _seq(qe.executedPlan().output())]
        self._join_rows = 0.0
        layers, rows = self._walk(qe.executedPlan(), None)
        self.sums["join_rows"] += self._join_rows
        if out_names == ["nid1", "nid2"]:
            # the connected-components border graph collect
            # (operators.vectorize.connected_components)
            self.maxes["cc.border_edges"] = max(self.maxes["cc.border_edges"],
                                                rows)

    def _walk(self, node, owner):
        """Returns (layers found in the subtree, max rows output)."""
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return self._walk(node.finalPhysicalPlan(), owner)
        if cls.endswith("QueryStageExec"):
            return self._walk(node.plan(), owner)
        if cls == "InMemoryTableScanExec":
            rows = _metrics(node).get("numOutputRows", 0.0)
            plan = node.relation().cachedPlan()
            key = plan.hashCode()
            if key not in self._seen_cached:  # sum its metrics once per op
                self._seen_cached[key], _ = self._walk(plan, owner)
            return self._seen_cached[key], rows
        layers: set[str] = set()
        rows = 0.0
        if node.nodeName().startswith(PYTHON_NODES):
            udf = _udf_name(node)
            self.udf_names.add(udf)
            layer = UDF_LAYER.get(udf.split(",")[0], "python.other")
            m = _metrics(node)
            p = self.python[layer]
            p["total_ms"] += m.get("pythonTotalTime", 0.0)
            # pythonInitTime is left out: worker.py stamps its start
            # before it blocks for the next task, so on a reused worker
            # that metric counts the idle time since the previous task
            p["boot_ms"] += m.get("pythonBootTime", 0.0)
            p["sent"] += m.get("pythonDataSent", 0.0)
            p["received"] += m.get("pythonDataReceived", 0.0)
            p["rows"] += m.get("pythonNumRowsReceived", 0.0)
            layers.add(layer)
            owner = layer
        elif cls == "FileSourceScanExec":
            m = _metrics(node)
            self.sums["scan_ms"] += m.get("scanTime", 0.0)
            self.sums["scan_bytes"] += m.get("filesSize", 0.0)
        elif cls == "ShuffleExchangeExec":
            m = _metrics(node)
            self.sums["shuffle_bytes"] += m.get("shuffleBytesWritten", 0.0)
            self.sums["shuffle_write_ns"] += m.get("shuffleWriteTime", 0.0)
            if owner == "overlap":
                self.sums["overlap_shuffle_bytes"] += m.get(
                    "shuffleBytesWritten", 0.0)
        elif cls == "BroadcastExchangeExec":
            m = _metrics(node)
            self.sums["broadcast_bytes"] += m.get("dataSize", 0.0)
            self.sums["broadcast_rows"] += m.get("numOutputRows", 0.0)
        elif cls in AGG_NODES:
            m = _metrics(node)
            self.sums["agg_ms"] += m.get("aggTime", 0.0)
            self.sums["spill_bytes"] += m.get("spillSize", 0.0)
            self.maxes["agg_peak_bytes"] = max(self.maxes["agg_peak_bytes"],
                                               m.get("peakMemory", 0.0))
        elif cls == "DataWritingCommandExec":
            m = _metrics(node)
            self.sums["write_ms"] += (m.get("taskCommitTime", 0.0)
                                      + m.get("jobCommitTime", 0.0))
        if cls in JOIN_NODES or cls in AGG_NODES or cls == "FilterExec":
            m = _metrics(node)
            rows = m.get("numOutputRows", 0.0)
            if cls in JOIN_NODES:
                self._join_rows = max(self._join_rows, rows)
        sub_rows = 0.0
        for child in _seq(node.children()):
            sub, r = self._walk(child, owner)
            layers |= sub
            sub_rows = max(sub_rows, r)
        if cls in JOIN_NODES and "dedup" in layers:
            # the LSH bucket self-join: candidate pairs before verify
            self.maxes["dedup_candidates"] = max(
                self.maxes["dedup_candidates"], rows)
        return layers, max(rows, sub_rows)


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _opt_ms(opt):
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class _Listener:
    """QueryExecutionListener implemented in Python through py4j: it
    only stores the execution; the walk happens on the main thread."""

    def __init__(self):
        self.got = []

    def onSuccess(self, func, qe, duration_ns):
        self.got.append((time.time() - duration_ns / 1e9, qe))

    def onFailure(self, func, qe, exc):
        self.got.append((time.time(), qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _cc_lines():
    from geo_inference_spark.operators import vectorize

    src, start = inspect.getsourcelines(vectorize.connected_components)
    return vectorize.__file__, start, start + len(src)


_CALLSITE = re.compile(r" at (.+):(\d+)$")


class Tracer:
    """No-op unless ``enabled``; see the module docstring."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.overhead_s = 0.0
        if not enabled:
            return
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.gateway = spark.sparkContext._gateway
        ensure_callback_server_started(self.gateway)
        self.listener = _Listener()
        spark._jsparkSession.listenerManager().register(self.listener)
        self.store = spark._jsc.sc().statusStore()
        self.bus = spark._jsc.sc().listenerBus()
        self._last_job = max([j.jobId() for j in _seq(self.store.jobsList(None))],
                             default=-1)
        self._cc_file, self._cc_lo, self._cc_hi = _cc_lines()
        self._op = None

    def close(self) -> None:
        if self.enabled:
            # the callback server is a daemon thread; it ends with the process
            self.spark._jsparkSession.listenerManager().unregister(self.listener)

    @contextmanager
    def call(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            self._op["calls"].append({"name": name, "start": t0,
                                      "end": time.time()})

    def begin_op(self, i: int) -> None:
        if self.enabled:
            self.bus.waitUntilEmpty()
            self.listener.got.clear()
            self._op = {"op": i, "calls": [], "start": time.time()}

    def end_op(self, extra: dict | None = None) -> None:
        """Close the op span and read Spark's records of it."""
        if not self.enabled:
            return
        op = self._op
        op["end"] = time.time()
        t0 = time.perf_counter()
        self.bus.waitUntilEmpty()
        jobs = self._new_jobs()
        seen: dict[int, set[str]] = {}
        per_call = defaultdict(lambda: PlanTotals(seen))
        for t, qe in list(self.listener.got):
            per_call[self._call_of(op, t)].walk_execution(qe)
        self.listener.got.clear()
        op.update(self._summarize(op, jobs, per_call))
        op.update(extra or {})
        self.ops.append(op)
        self._spans_of(op, jobs)
        self.overhead_s += time.perf_counter() - t0

    def _new_jobs(self) -> list[dict]:
        out = []
        for j in _seq(self.store.jobsList(None)):
            if j.jobId() <= self._last_job:
                continue
            stages = []
            for sid in _seq(j.stageIds()):
                try:
                    s = self.store.lastStageAttempt(sid)
                except Exception:  # stage skipped (shuffle reused): no attempt
                    continue
                durs = []
                for t in _seq(self.store.taskList(sid, s.attemptId(), 100000)):
                    d = t.duration()
                    if d.isDefined():
                        durs.append(float(d.get()))
                stages.append({
                    "stage": sid, "failed": s.numFailedTasks(),
                    "task_ms": durs,
                    "start": _opt_ms(s.submissionTime()),
                    "end": _opt_ms(s.completionTime()),
                })
            out.append({"job": j.jobId(), "name": j.name(),
                        "start": _opt_ms(j.submissionTime()),
                        "end": _opt_ms(j.completionTime()),
                        "stages": stages})
        out.sort(key=lambda r: r["job"])
        if out:
            self._last_job = out[-1]["job"]
        # jobs AQE submits for query stages carry an internal call
        # site; they belong to the next job with a python call site
        site = None
        for j in reversed(out):
            m = _CALLSITE.search(j["name"])
            if m and m.group(1).endswith(".py"):
                site = (m.group(1), int(m.group(2)))
            j["site"] = site
        return out

    def _call_of(self, op, t):
        for c in op["calls"]:
            if t is not None and c["start"] - 0.001 <= t <= c["end"] + 0.001:
                return c["name"]
        return None

    def _summarize(self, op, jobs, per_call) -> dict:
        wall = op["end"] - op["start"]
        by_call = defaultdict(list)
        cc_ms = 0.0
        for j in jobs:
            j["call"] = self._call_of(op, j["start"])
            by_call[j["call"]].append(j)
            site = j["site"]
            if (site and site[0] == self._cc_file
                    and self._cc_lo <= site[1] < self._cc_hi
                    and j["start"] is not None and j["end"] is not None):
                cc_ms += 1000.0 * (j["end"] - j["start"])
        job_iv = [(j["start"], j["end"]) for j in jobs
                  if j["start"] is not None and j["end"] is not None]
        tasks = [d for j in jobs for s in j["stages"] for d in s["task_ms"]]
        skew = 0.0
        for j in jobs:
            for s in j["stages"]:
                d = sorted(s["task_ms"])
                if len(d) >= 4 and d[len(d) // 2] > 0:
                    skew = max(skew, d[-1] / d[len(d) // 2])
        knn_calls = [c for c in op["calls"] if c["name"] == "knn.knn_join"]
        knn_s = sum(c["end"] - c["start"] for c in knn_calls)
        knn_jobs = by_call.get("knn.knn_join", [])
        knn_iv = [(max(j["start"], c["start"]), min(j["end"], c["end"]))
                  for j in knn_jobs for c in knn_calls
                  if j["start"] is not None and j["end"] is not None]
        python = defaultdict(lambda: defaultdict(float))
        plan = defaultdict(float)
        names: set[str] = set()
        for t in per_call.values():
            for layer, vals in t.python.items():
                for k, v in vals.items():
                    python[layer][k] += v
            for k, v in t.sums.items():
                plan[k] += v
            for k, v in t.maxes.items():
                plan[k] = max(plan[k], v)
            names |= t.udf_names
        knn_plan = per_call["knn.knn_join"].sums if "knn.knn_join" in per_call else {}
        return {
            "wall": wall,
            "jobs": len(jobs),
            "tasks": len(tasks),
            "tasks_failed": sum(s["failed"] for j in jobs for s in j["stages"]),
            "task_skew": skew,
            "driver_self_s": wall - union_length(job_iv),
            "cc_s": cc_ms / 1000.0,
            "knn_call_s": knn_s,
            "knn_jobs": len(knn_jobs),
            "knn_driver_s": knn_s - union_length(knn_iv),
            "knn_join_rows": knn_plan.get("join_rows", 0.0),
            "python": {k: dict(v) for k, v in python.items()},
            "plan": dict(plan),
            "udf_names": sorted(names),
        }

    def _spans_of(self, op, jobs) -> None:
        root = len(self.spans)
        self.spans.append({"id": root, "parent": None, "kind": "op",
                           "name": f"op{op['op']}", "start": op["start"],
                           "end": op["end"]})
        call_ids = {}
        for c in op["calls"]:
            call_ids[c["name"]] = len(self.spans)
            self.spans.append({"id": len(self.spans), "parent": root,
                               "kind": "call", **c})
        for j in jobs:
            jid = len(self.spans)
            self.spans.append({
                "id": jid, "parent": call_ids.get(j["call"], root),
                "kind": "job", "name": j["name"], "start": j["start"],
                "end": j["end"]})
            for s in j["stages"]:
                self.spans.append({
                    "id": len(self.spans), "parent": jid, "kind": "stage",
                    "name": f"stage{s['stage']}", "start": s["start"],
                    "end": s["end"], "task_ms": s["task_ms"]})
