"""Layer tracing from outside the engine.

``Tracer.install`` wraps the public entry point of each layer by
replacing every module attribute of ``rdfind_spark`` bound to it (the
staged engine imports ``build_capture_tables``, ``capture_overlaps``,
``remove_implied_cinds`` and ``materialize`` by name, so one function can
have several bindings), and wraps the DataFrame actions the engine uses.
Each wrapper records a span (name, layer, start, end, parent, op) and sets
the Spark job group of its thread to the span, so the stages Spark runs
can be read back per span from the status store when the run ends.

Lazy layers (``capture_candidates``, ``capture_overlaps``,
``extract_cinds``, ``capture_value_sketches``, ``graph_components``)
return a plan and do their work in a later action of the caller.  Such an
action is attributed to the lazy layer when its analyzed plan contains
the layer's output plan; each lazy output is claimed by the first such
action.  Every other action belongs to the layer that runs it.  Actions
on a thread with no open span (the ``defer_frequent`` daemon thread, the
staged engine's background pool) become spans of their own under the
``background`` layer.

Spans live in memory; ``snapshot`` returns them as plain data when the
run ends.
"""

from __future__ import annotations

import itertools
import re
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

# (module, function, layer); the layer names follow the modules
LAYER_FUNCS = [
    ("rdfind_spark.sources.triples", "triple_view", "sources"),
    ("rdfind_spark.sources.skew", "zipf_triples", "sources"),
    ("rdfind_spark.operators.captures", "capture_candidates", "captures"),
    ("rdfind_spark.operators.cind", "build_capture_tables", "prefix"),
    ("rdfind_spark.operators.cind", "capture_overlaps", "pairs"),
    ("rdfind_spark.operators.cind", "capture_value_sketches", "sketch"),
    ("rdfind_spark.operators.cind", "extract_cinds", "extract"),
    ("rdfind_spark.operators.cind", "remove_implied_cinds", "minimality"),
    ("rdfind_spark.operators.cind", "discover_cinds", "cind"),
    ("rdfind_spark.operators.staged", "discover_cinds_staged", "staged"),
    ("rdfind_spark.util", "materialize", "util.materialize"),
    ("rdfind_spark.functions.graph", "hub_pruned_sym_edges", "graph"),
    ("rdfind_spark.functions.graph", "graph_components", "graph"),
]
# context-manager factories: the span covers the with-block
CONTEXT_FUNCS = [("rdfind_spark.util", "loop_shuffle_partitions", "util.loop")]
DATAFRAME_ACTIONS = (
    "count", "collect", "take", "head", "first", "isEmpty", "toPandas",
    "toArrow", "toLocalIterator", "localCheckpoint", "checkpoint",
)
GROUP_PREFIX = "bench-"
UNTRACED_GROUP = "bench-untraced"
_TREE_PREFIX = re.compile(r"^[\s:+\-]*")


def plan_lines(df: DataFrame) -> list[str]:
    """The analyzed plan of ``df`` one node per line, tree drawing removed.
    A subtree prints as a contiguous block of its parent's lines."""
    text = df._jdf.queryExecution().analyzed().treeString()
    return [_TREE_PREFIX.sub("", line) for line in text.splitlines()]


def contains_block(lines: list[str], block: list[str]) -> bool:
    n = len(block)
    if not n:
        return False
    return any(
        lines[i : i + n] == block
        for i, line in enumerate(lines)
        if line == block[0]
    )


def _dataframes(out) -> list:
    if isinstance(out, DataFrame):
        return [out]
    if isinstance(out, tuple):
        return [o for o in out if isinstance(o, DataFrame)]
    return []


def _is_materialized(df: DataFrame) -> bool:
    if df.storageLevel.useMemory or df.storageLevel.useDisk:
        return True
    return df._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.outputs: dict[int, list] = {}  # span id -> DataFrames it returned
        self.inputs: dict[int, object] = {}  # span id -> first positional argument
        self.op: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._lazy: list[dict] = []
        self._restore: list = []

    # ---- spans ---------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, kind: str = "layer"):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "kind": kind,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "thread": threading.get_ident(),
            "t0": time.time(),
            "t1": None,
            "facts": {},
        }
        prev = (
            self.sc.getLocalProperty("spark.jobGroup.id"),
            self.sc.getLocalProperty("spark.job.description"),
        )
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sid}")
        self.sc.setLocalProperty("spark.job.description", layer)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
            self.sc.setLocalProperty("spark.job.description", prev[1])
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op_span(self, name: str):
        with self.span(name, "bench.op", kind="op") as rec:
            self.op = rec["id"]
            rec["op"] = rec["id"]
            try:
                yield rec
            finally:
                self.op = None

    def _action_layer(self, df: DataFrame) -> str:
        stack = self._stack()
        if not stack:
            return "background"
        open_ids = {s["id"] for s in stack}
        lines = None
        for lazy in reversed(self._lazy):
            if lazy["consumed"] or lazy["op"] != self.op or lazy["parent"] not in open_ids:
                continue
            if lines is None:
                lines = plan_lines(df)
            if contains_block(lines, lazy["lines"]):
                lazy["consumed"] = True
                return lazy["layer"]
        top = stack[-1]
        return "bench.sink" if top["kind"] == "op" else top["layer"]

    @contextmanager
    def action(self, name: str, df: DataFrame):
        if getattr(self._local, "in_action", False):
            yield None
            return
        self._local.in_action = True
        try:
            kind = "action" if self._stack() else "background"
            layer = self._action_layer(df)
            with self.span(name, layer, kind=kind) as rec:
                yield rec
        finally:
            self._local.in_action = False

    @contextmanager
    def paused(self):
        """Run the benchmark's own actions (digests, row-count probes)
        without spans, their jobs under the ``UNTRACED_GROUP`` job group."""
        was = getattr(self._local, "in_action", False)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self._local.in_action = True
        self.sc.setLocalProperty("spark.jobGroup.id", UNTRACED_GROUP)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self._local.in_action = was

    def _note(self, rec: dict, args: tuple, out) -> None:
        frames = _dataframes(out)
        self.outputs[rec["id"]] = frames
        if args:
            self.inputs[rec["id"]] = args[0]
        if isinstance(out, DataFrame) and not _is_materialized(out):
            rec["facts"]["lazy"] = True
            self._lazy.append(
                {
                    "layer": rec["layer"],
                    "op": self.op,
                    "parent": rec["parent"],
                    "lines": plan_lines(out),
                    "consumed": False,
                }
            )

    # ---- patching ------------------------------------------------------

    def _rebind(self, orig, wrapper) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == "rdfind_spark" or mod_name.startswith("rdfind_spark.")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is orig:
                    setattr(mod, attr, wrapper)
                    self._restore.append((mod, attr, orig))

    def _wrap_layer(self, fn, layer: str):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(fn.__name__, layer) as rec:
                out = fn(*args, **kwargs)
                tracer._note(rec, args, out)
                return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_context(self, fn, layer: str):
        tracer = self

        def wrapper(spark, *args, **kwargs):
            inner = fn(spark, *args, **kwargs)

            @contextmanager
            def traced():
                with tracer.span(fn.__name__, layer) as rec, inner:
                    rec["facts"]["partitions"] = int(spark.conf.get("spark.sql.shuffle.partitions"))
                    yield

            return traced()

        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_action(self, owner, name: str, frame_of):
        orig = getattr(owner, name)
        tracer = self

        def wrapper(obj, *args, **kwargs):
            with tracer.action(name, frame_of(obj)):
                return orig(obj, *args, **kwargs)

        setattr(owner, name, wrapper)
        self._restore.append((owner, name, orig))

    def install(self) -> None:
        import importlib

        for mod_name, fn_name, layer in LAYER_FUNCS:
            fn = getattr(importlib.import_module(mod_name), fn_name)
            self._rebind(fn, self._wrap_layer(fn, layer))
        for mod_name, fn_name, layer in CONTEXT_FUNCS:
            fn = getattr(importlib.import_module(mod_name), fn_name)
            self._rebind(fn, self._wrap_context(fn, layer))
        # the session's concrete classes: PySpark's classic DataFrame
        # overrides the actions of the public base class
        probe = self.spark.range(0)
        for name in DATAFRAME_ACTIONS:
            self._wrap_action(type(probe), name, lambda df: df)
        self._wrap_action(type(probe.write), "save", lambda w: w._df)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # ---- Spark side ----------------------------------------------------

    def spark_records(self, since: float) -> tuple[list[dict], dict[int, dict]]:
        """Jobs submitted since ``since`` (epoch seconds) with the span whose
        job group they carry (None if they carry none), and the stages
        they ran, each stage under the first job that lists it."""
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            sub = j.submissionTime()
            if not sub.isDefined() or sub.get().getTime() < since * 1000:
                continue
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            span = None
            if group and group.startswith(GROUP_PREFIX) and group[len(GROUP_PREFIX):].isdigit():
                span = int(group[len(GROUP_PREFIX):])
            stage_ids = []
            sit = j.stageIds().iterator()
            while sit.hasNext():
                stage_ids.append(int(sit.next()))
            jobs.append({"id": int(j.jobId()), "group": group, "span": span, "stages": stage_ids})
        jobs.sort(key=lambda j: j["id"])
        stages: dict[int, dict] = {}
        for job in jobs:
            for sid in job["stages"]:
                if sid in stages:
                    continue
                try:
                    s = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage every job skipped has no attempt
                    continue
                if s.status().toString() != "COMPLETE" or not s.submissionTime().isDefined():
                    continue
                summary = store.taskSummary(sid, s.attemptId(), quantiles)
                med = top = 0.0
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    med, top = float(run.apply(0)), float(run.apply(1))
                stages[sid] = {
                    "job": job["id"],
                    "span": job["span"],
                    "tasks": int(s.numTasks()),
                    "run_ms": int(s.executorRunTime()),
                    "cpu_ns": int(s.executorCpuTime()),
                    "gc_ms": int(s.jvmGcTime()),
                    "shuffle_write_b": int(s.shuffleWriteBytes()),
                    "spill_disk_b": int(s.diskBytesSpilled()),
                    "spill_mem_b": int(s.memoryBytesSpilled()),
                    "t0": s.submissionTime().get().getTime() / 1000.0,
                    "t1": s.completionTime().get().getTime() / 1000.0,
                    "task_ms_median": med,
                    "task_ms_max": top,
                }
        return jobs, stages
