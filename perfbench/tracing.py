"""Per-layer tracing for the traced benchmark run.

Two sources, both read from the benchmark's own files:

- Python spans. ``Tracer.install`` wraps the public entry points of the
  program's modules (plus the catalog's manifest writer, the one place
  a manifest write can be counted) and records a span per call: name,
  start, end, parent span and the operation it belongs to. A lazy call
  such as ``RecEngine.recommend`` or ``RecSQL.sql`` returns a plan, so
  its span is plan-build time; execution shows up in the operation's
  collect. Self time is a span minus its direct children.
- Spark's status store. Every traced operation runs under its own job
  group; afterwards the jobs of that group are read from the
  application status store (it works with the UI disabled): wall time
  covered by jobs, stages, tasks, executor run and CPU time, shuffle
  write and input bytes. Wall time of the operation not covered by any
  job is driver time (planning, Python, driver collects).

Spans stay in memory; ``layer_metrics`` reduces them at the end.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from collections import defaultdict
from typing import Any, Callable, Optional

from py4j.protocol import Py4JJavaError

PROGRAM = "recdb_postgresql_spark"

# (span name, module, class or None, attribute). Span names use the
# program's module names.
TARGETS = [
    ("sql_rewriter.sql", "plans.sql_rewriter", "RecSQL", "sql"),
    ("engine.recommend", "engine", "RecEngine", "recommend"),
    ("engine.recommend_from_view", "engine", "RecEngine",
     "recommend_from_view"),
    ("engine.create_recommender", "engine", "RecEngine",
     "create_recommender"),
    ("engine.materialize_predictions", "engine", "RecEngine",
     "materialize_predictions"),
    ("engine.record_insert", "engine", "RecEngine", "record_insert"),
    ("catalog.put", "catalog", "RecCatalog", "put"),
    ("catalog.add_model_table", "catalog", "RecCatalog", "add_model_table"),
    ("catalog.load_models", "catalog", "RecCatalog", "load_models"),
    ("catalog.update_meta", "catalog", "RecCatalog", "update_meta"),
    ("catalog.manifest_write", "catalog", "RecCatalog", "_save_manifest"),
    ("cf.normalize_events", "operators.cf", None, "normalize_events"),
    ("cf.train_item_cos", "operators.cf", None, "train_item_cos"),
    ("cf.train_item_pearson", "operators.cf", None, "train_item_pearson"),
    ("cf.train_user_cos", "operators.cf", None, "train_user_cos"),
    ("cf.train_user_pearson", "operators.cf", None, "train_user_pearson"),
    ("cf.predict_item_cf", "operators.cf", None, "predict_item_cf"),
    ("cf.predict_user_cf", "operators.cf", None, "predict_user_cf"),
    ("svd.train_funk_svd", "operators.svd", None, "train_funk_svd"),
    ("svd.predict_svd", "operators.svd", None, "predict_svd"),
    ("mat.materialize", "functions.mat", None, "materialize"),
    ("event_store.append", "sources.event_store", "EventStore", "append"),
    ("event_store.read", "sources.event_store", "EventStore", "read"),
    ("readers.load_table", "sources.readers", None, "load_table"),
]


def _create_method(args: tuple, kwargs: dict) -> Optional[str]:
    """The ``method`` argument of RecEngine.create_recommender(self,
    name, events, userkey, itemkey, eventval, method, ...), so set-up
    time can be split by method."""
    return kwargs.get("method", args[6] if len(args) > 6 else None)


class Tracer:
    """Span recorder plus per-operation Spark statistics."""

    def __init__(self, spark, nproc: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.nproc = nproc
        self.phase = "setup"
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.missing: set[str] = set()
        self._stack: list[int] = []
        self._patches: list[tuple[Any, str, Any]] = []
        self._op: Optional[dict] = None

    # -- spans ---------------------------------------------------------
    def _wrap(self, name: str, fn: Callable) -> Callable:
        tagger = _create_method if name == "engine.create_recommender" else None

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = {"name": name, "phase": self.phase,
                    "op": self._op["i"] if self._op else None,
                    "parent": self._stack[-1] if self._stack else None,
                    "tag": tagger(args, kwargs) if tagger else None,
                    "t0": time.perf_counter(), "t1": None}
            self.spans.append(span)
            self._stack.append(len(self.spans) - 1)
            try:
                return fn(*args, **kwargs)
            finally:
                span["t1"] = time.perf_counter()
                self._stack.pop()
        return traced

    def _patch(self, owner: Any, attr: str, new: Any) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        for name, mod, cls, attr in TARGETS:
            m = importlib.import_module(f"{PROGRAM}.{mod}")
            owner = getattr(m, cls) if cls else m
            orig = owner.__dict__.get(attr)
            if orig is None:
                self.missing.add(name)
                continue
            new = self._wrap(name, orig)
            self._patch(owner, attr, new)
            if cls is None:
                # names imported with ``from module import fn`` are
                # separate bindings: patch every alias in the program
                for other in list(sys.modules.values()):
                    if (other is not m and other is not None
                            and getattr(other, "__name__", "").startswith(PROGRAM)
                            and other.__dict__.get(attr) is orig):
                        self._patch(other, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- operations ----------------------------------------------------
    def begin_op(self) -> None:
        i = len(self.ops)
        self._op = {"i": i, "group": f"perfbench-op-{i}"}
        self.sc.setJobGroup(self._op["group"], "perfbench")

    def end_op(self, kind: str, wall_s: float) -> None:
        op, self._op = self._op, None
        op.update(kind=kind, wall_ms=wall_s * 1000.0)
        op.update(self._spark_stats(op["group"]))
        self.ops.append(op)

    def _spark_stats(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict(jobs=0, stages=0, tasks=0, run_ms=0.0, cpu_ms=0.0,
                   shuffle_write=0.0, input_bytes=0.0, covered_ms=0.0)
        spans = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            try:
                job = store.job(jid)
            except Py4JJavaError:  # evicted past spark.ui.retainedJobs
                continue
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            sids = job.stageIds()
            for k in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(k))
                except Py4JJavaError:  # an earlier job's stage, evicted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["run_ms"] += st.executorRunTime()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["shuffle_write"] += st.shuffleWriteBytes()
                out["input_bytes"] += st.inputBytes()
        # wall covered by the union of the op's job intervals
        end = None
        for a, b in sorted(spans):
            if end is None or a > end:
                out["covered_ms"] += b - a
                end = b
            elif b > end:
                out["covered_ms"] += b - end
                end = b
        return out

    # -- reduction -----------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        """Per-layer figures of the traced loop (per operation) and of
        the traced set-up (per call)."""
        loop, setup = defaultdict(list), defaultdict(list)
        kids_s = defaultdict(float)  # span index -> time in direct children
        for i, sp in enumerate(self.spans):
            (loop if sp["phase"] == "loop" else setup)[sp["name"]].append(i)
            if sp["parent"] is not None:
                kids_s[sp["parent"]] += sp["t1"] - sp["t0"]

        def ms(ix: list[int], own: bool = False) -> float:
            """Total inclusive (or self) time of spans ``ix``, in ms."""
            return 1000.0 * sum(self.spans[i]["t1"] - self.spans[i]["t0"]
                                - (kids_s[i] if own else 0.0) for i in ix)

        def per_call(ix: list[int], scale: float = 1.0) -> float:
            return ms(ix) * scale / len(ix) if ix else 0.0

        def outer(name: str) -> list[int]:
            return [i for i in loop[name] if self.spans[i]["parent"] is None
                    or self.spans[self.spans[i]["parent"]]["name"] != name]

        ops = self.ops
        n = max(len(ops), 1)

        def per_op(key: str) -> float:
            return sum(o[key] for o in ops) / n

        wall = sum(o["wall_ms"] for o in ops)
        cpu = sum(o["cpu_ms"] for o in ops)
        inserts = {o["i"] for o in ops if o["kind"] == "insert"}
        appends = loop["event_store.append"]
        m = {
            "driver.gap_ms_per_op": per_op("wall_ms") - per_op("covered_ms"),
            "engine.recommend_plan_ms":
                ms(outer("engine.recommend") + outer("engine.recommend_from_view")) / n,
            "sql_rewriter.rewrite_ms": ms(loop["sql_rewriter.sql"], own=True) / n,
            "catalog.load_models_ms": ms(loop["catalog.load_models"]) / n,
            "catalog.manifest_writes_per_op": len(loop["catalog.manifest_write"]) / n,
            "catalog.manifest_write_ms": ms(loop["catalog.manifest_write"]) / n,
            "spark.jobs_per_op": per_op("jobs"),
            "spark.exec_ms_per_op": per_op("covered_ms"),
            "spark.stages_per_op": per_op("stages"),
            "spark.tasks_per_op": per_op("tasks"),
            "spark.executor_run_ms_per_op": per_op("run_ms"),
            "spark.executor_cpu_ms_per_op": per_op("cpu_ms"),
            "spark.shuffle_write_bytes_per_op": per_op("shuffle_write"),
            "spark.input_bytes_per_op": per_op("input_bytes"),
            "spark.core_utilization": cpu / (wall * self.nproc) if wall else 0.0,
            "mat.materialize_calls_per_op": len(loop["mat.materialize"]) / n,
            "mat.materialize_ms_per_op": ms(outer("mat.materialize")) / n,
            "cf.train_calls_per_op":
                sum(len(v) for k, v in loop.items() if k.startswith("cf.train_")) / n,
            "engine.record_insert_ms": per_call(
                [i for i in loop["engine.record_insert"]
                 if self.spans[i]["op"] in inserts]),
            "engine.retrains": float(sum(o["kind"] == "retrain" for o in ops)),
            "catalog.put_s": per_call(loop["catalog.put"], 1e-3),
            "event_store.append_self_ms":
                ms(appends, own=True) / len(appends) if appends else 0.0,
            "event_store.read_ms": per_call(loop["event_store.read"]),
        }
        for method in ("itemcoscf", "usercoscf", "svd"):
            m[f"engine.create_s.{method}"] = per_call(
                [i for i in setup["engine.create_recommender"]
                 if self.spans[i]["tag"] == method], 1e-3)
        m["engine.materialize_view_s"] = per_call(
            setup["engine.materialize_predictions"], 1e-3)
        m["svd.train_s"] = per_call(setup["svd.train_funk_svd"], 1e-3)
        m["readers.load_ms"] = per_call(setup["readers.load_table"])
        return m


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
