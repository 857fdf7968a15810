"""Per-layer metrics from a trace, and the trace reader.

``layer_metrics`` turns the trace a ``--trace 1`` run writes (spans, the
Spark jobs and stages attributed to them, and row-count probes) into the
``per_layer`` metrics of ``BENCHMARK.json``.  Run as a script it prints
the per-layer table of each op, the layer coverage of each op's wall and,
given the result record of an untraced run, the tracing overhead:

    python3 perfbench/report.py perfbench/.work/traces/<workload>-seed<n>.json \\
        [--untraced perfbench/.work/runs/<workload>-seed<n>-trace0.json]

A layer's self time is the duration of its spans minus the part their
child spans cover; an action that runs a lazy layer's plan counts for that
layer (see ``layertrace.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from config import TRACED_OPS as CYCLE_OPS  # noqa: E402
from stats import covered, self_times  # noqa: E402

MB = 1e6

# (name, unit, better) — the per_layer list of BENCHMARK.json, in order
PER_LAYER = [
    ("sources.triples", "count", "higher"),
    ("sources.scan_s", "s", "lower"),
    ("captures.rows", "count", "lower"),
    ("captures.per_triple", "ratio", "lower"),
    ("captures.wall_s", "s", "lower"),
    ("prefix.wall_s", "s", "lower"),
    ("prefix.dcap_rows", "count", "lower"),
    ("prefix.frequent", "count", "lower"),
    ("prefix.capf_rows", "count", "lower"),
    ("prefix.useful_frac", "ratio", "higher"),
    ("prefix.shuffle_write_mb", "MB", "lower"),
    ("prefix.spill_mb", "MB", "lower"),
    ("prefix.task_skew", "ratio", "lower"),
    ("pairs.wall_s", "s", "lower"),
    ("pairs.hot_lines", "count", "lower"),
    ("pairs.line_k_max", "count", "lower"),
    ("pairs.pair_work", "count", "lower"),
    ("pairs.rows", "count", "lower"),
    ("pairs.useful_frac", "ratio", "higher"),
    ("pairs.shuffle_write_mb", "MB", "lower"),
    ("pairs.task_skew", "ratio", "lower"),
    ("sketch.wall_s", "s", "lower"),
    ("sketch.pass_frac", "ratio", "lower"),
    ("extract.rows", "count", "lower"),
    ("minimality.wall_s", "s", "lower"),
    ("minimality.rows_in", "count", "lower"),
    ("minimality.rows_out", "count", "lower"),
    ("minimality.tasks", "count", "lower"),
    ("staged.barriers", "count", "lower"),
    ("staged.materialize_s", "s", "lower"),
    ("staged.candidate_rows", "count", "lower"),
    ("util.materialize_calls", "count", "lower"),
    ("util.materialize_s", "s", "lower"),
    ("util.loop_partitions", "count", "lower"),
    ("graph.wall_s", "s", "lower"),
    ("graph.rounds", "count", "lower"),
    ("graph.edges", "count", "lower"),
    ("background.wall_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.busy_frac", "ratio", "higher"),
    ("spark.driver_gap_s", "s", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("trace.coverage_min", "ratio", "higher"),
    ("trace.unattributed_jobs", "count", "lower"),
] + [(f"trace.query_s.{op}", "s", "lower") for op in CYCLE_OPS]
UNITS = {name: unit for name, unit, _ in PER_LAYER}


def task_skew(stages: list[dict]) -> float:
    """max / median task run time of the stage that ran longest; 0 if the
    layer ran no stage."""
    if not stages:
        return 0.0
    top = max(stages, key=lambda s: s["run_ms"])
    return top["task_ms_max"] / max(top["task_ms_median"], 1.0)


class Trace:
    """Index over one trace: spans by op and layer, stages by span."""

    def __init__(self, trace: dict):
        self.spans = trace["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        self.self_t = self_times(self.spans)
        self.ops = {s["name"]: s for s in self.spans if s["kind"] == "op"}
        self.stages = list(trace["stages"].values())
        self.cores = trace["cores"]
        # the layer a span's self time is charged to in the *.wall_s
        # metrics: util helpers (materialize, the loop pin) count for the
        # nearest caller outside util
        self.charged = {}
        for s in self.spans:
            c = s
            while c["layer"].startswith("util.") and c["parent"] in self.by_id:
                c = self.by_id[c["parent"]]
            self.charged[s["id"]] = s["layer"] if c["layer"].startswith("util.") else c["layer"]

    def in_op(self, op: str) -> list[dict]:
        op_id = self.ops[op]["id"]
        return [s for s in self.spans if s["op"] == op_id]

    def self_of(self, layer: str, op: str) -> float:
        """Self time of ``layer`` in ``op``, util helpers it called included."""
        return sum(self.self_t[s["id"]] for s in self.in_op(op) if self.charged[s["id"]] == layer)

    def named(self, op: str, name: str) -> list[dict]:
        return sorted((s for s in self.in_op(op) if s["name"] == name), key=lambda s: s["t0"])

    def stages_of(self, op: str, layer: str | None = None) -> list[dict]:
        op_id = self.ops[op]["id"]
        out = []
        for st in self.stages:
            span = self.by_id.get(st["span"])
            if span is not None and span["op"] == op_id and (layer is None or span["layer"] == layer):
                out.append(st)
        return out

    def descendants(self, root: dict) -> list[dict]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out, todo = [], [root["id"]]
        while todo:
            for k in kids.get(todo.pop(), ()):
                out.append(k)
                todo.append(k["id"])
        return out

    def wall(self, op: str) -> float:
        s = self.ops[op]
        return s["t1"] - s["t0"]

    def coverage(self, op: str) -> float:
        """Share of the op's wall that named layers account for: all but
        the op span's own self time (the benchmark's glue)."""
        return 1.0 - self.self_t[self.ops[op]["id"]] / self.wall(op)


def layer_metrics(trace: dict) -> dict[str, float]:
    t = Trace(trace)
    p = trace["probes"]
    m: dict[str, float] = {}
    m["sources.triples"] = p["sources.triples"]
    m["sources.scan_s"] = t.self_of("sources", "sources")

    m["captures.rows"] = p["captures.rows"]
    m["captures.per_triple"] = p["captures.rows"] / p["sources.triples"]
    m["captures.wall_s"] = t.self_of("captures", "allatonce")

    prefix = t.stages_of("allatonce", "prefix")
    m["prefix.wall_s"] = t.self_of("prefix", "allatonce")
    m["prefix.dcap_rows"] = p["prefix.dcap_rows"]
    m["prefix.frequent"] = p["prefix.frequent"]
    m["prefix.capf_rows"] = p["prefix.capf_rows"]
    m["prefix.useful_frac"] = p["prefix.capf_rows"] / p["prefix.dcap_rows"]
    m["prefix.shuffle_write_mb"] = sum(s["shuffle_write_b"] for s in prefix) / MB
    m["prefix.spill_mb"] = sum(s["spill_disk_b"] for s in prefix) / MB
    m["prefix.task_skew"] = task_skew(prefix)

    pairs = t.stages_of("allatonce", "pairs")
    m["pairs.wall_s"] = t.self_of("pairs", "allatonce")
    for k in ("hot_lines", "line_k_max", "pair_work", "rows"):
        m[f"pairs.{k}"] = p[f"pairs.{k}"]
    m["pairs.useful_frac"] = p["extract.rows"] / p["pairs.rows"] if p["pairs.rows"] else 0.0
    m["pairs.shuffle_write_mb"] = sum(s["shuffle_write_b"] for s in pairs) / MB
    m["pairs.task_skew"] = task_skew(pairs)

    m["sketch.wall_s"] = t.self_of("sketch", "approx")
    m["sketch.pass_frac"] = p["pairs.rows.approx"] / p["pairs.rows"] if p["pairs.rows"] else 0.0

    m["extract.rows"] = p["extract.rows"]
    m["minimality.wall_s"] = t.self_of("minimality", "allatonce")
    m["minimality.rows_in"] = p["minimality.rows_in"]
    m["minimality.rows_out"] = p["minimality.rows_out"]
    m["minimality.tasks"] = sum(s["tasks"] for s in t.stages_of("allatonce", "minimality"))

    staged_ops = t.in_op("staged")
    m["staged.barriers"] = sum(1 for s in staged_ops if s["kind"] == "action")
    m["staged.materialize_s"] = sum(
        s["t1"] - s["t0"] for s in staged_ops if s["name"] == "materialize"
    )
    m["staged.candidate_rows"] = p["staged.candidate_rows"]

    cycle = [s for op in CYCLE_OPS for s in t.in_op(op)]
    mats = [s for s in cycle if s["name"] == "materialize"]
    m["util.materialize_calls"] = len(mats)
    m["util.materialize_s"] = sum(s["t1"] - s["t0"] for s in mats)
    m["util.loop_partitions"] = max(
        (s["facts"]["partitions"] for s in cycle if s["name"] == "loop_shuffle_partitions"), default=0
    )

    m["graph.wall_s"] = t.self_of("graph", "components")
    loops = t.named("components", "loop_shuffle_partitions")
    m["graph.rounds"] = sum(
        sum(1 for d in t.descendants(lp) if d["name"] == "materialize") - 1 for lp in loops
    )
    m["graph.edges"] = p["graph.edges"]
    m["background.wall_s"] = sum(s["t1"] - s["t0"] for s in cycle if s["kind"] == "background")

    stages = [st for op in CYCLE_OPS for st in t.stages_of(op)]
    op_ids = {t.ops[op]["id"] for op in CYCLE_OPS}
    walls = sum(t.wall(op) for op in CYCLE_OPS)
    m["spark.jobs"] = sum(
        1 for j in trace["jobs"] if j["span"] in t.by_id and t.by_id[j["span"]]["op"] in op_ids
    )
    m["spark.tasks"] = sum(s["tasks"] for s in stages)
    m["spark.task_cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9
    m["spark.busy_frac"] = sum(s["run_ms"] for s in stages) / 1000.0 / (walls * t.cores)
    m["spark.driver_gap_s"] = sum(
        t.wall(op)
        - covered(
            [(s["t0"], s["t1"]) for s in t.stages_of(op)], t.ops[op]["t0"], t.ops[op]["t1"]
        )
        for op in CYCLE_OPS
    )
    m["spark.shuffle_write_mb"] = sum(s["shuffle_write_b"] for s in stages) / MB
    m["spark.spill_mb"] = sum(s["spill_disk_b"] for s in stages) / MB
    m["spark.gc_s"] = sum(s["gc_ms"] for s in stages) / 1000.0

    m["trace.coverage_min"] = min(t.coverage(op) for op in CYCLE_OPS)
    m["trace.unattributed_jobs"] = sum(
        1 for j in trace["jobs"] if j["group"] is None
    )
    for op in CYCLE_OPS:
        m[f"trace.query_s.{op}"] = t.wall(op)
    return m


def _layer_rows(t: Trace, op: str) -> list[tuple]:
    wall = t.wall(op)
    rows = []
    for layer in sorted({s["layer"] for s in t.in_op(op)}):
        st = t.stages_of(op, layer)
        self_s = sum(t.self_t[s["id"]] for s in t.in_op(op) if s["layer"] == layer)
        rows.append(
            (
                layer,
                self_s,
                self_s / wall,
                len({s["job"] for s in st}),
                sum(s["tasks"] for s in st),
                sum(s["shuffle_write_b"] for s in st) / MB,
                sum(s["spill_disk_b"] for s in st) / MB,
                task_skew(st),
            )
        )
    return rows


def render(trace: dict, untraced: dict | None = None) -> str:
    t = Trace(trace)
    m = layer_metrics(trace)
    out = [f"workload {trace['workload']}  seed {trace['seed']}  cores {t.cores}"]
    for op in ("sources",) + CYCLE_OPS:
        out.append("")
        out.append(f"op {op}: wall {t.wall(op):.3f} s, layer coverage {t.coverage(op):.1%}")
        out.append(
            f"  {'layer':<18}{'self_s':>9}{'share':>8}{'jobs':>6}{'tasks':>7}"
            f"{'shuf_MB':>9}{'spill_MB':>9}{'skew':>7}"
        )
        for layer, self_s, share, jobs, tasks, shuf, spill, skew in _layer_rows(t, op):
            if layer == "background":
                layer = "background*"
            out.append(
                f"  {layer:<18}{self_s:>9.3f}{share:>8.1%}{jobs:>6}{tasks:>7}"
                f"{shuf:>9.3f}{spill:>9.3f}{skew:>7.2f}"
            )
    out.append("")
    out.append("* on other threads, overlapping the layers above; not part of coverage")
    p = trace["probes"]
    out.append("")
    out.append("ratios (value = numerator / base):")
    out.append(
        f"  captures.per_triple {m['captures.per_triple']:.3f} = "
        f"{p['captures.rows']} captures / {p['sources.triples']} triples"
    )
    out.append(
        f"  prefix.useful_frac {m['prefix.useful_frac']:.3f} = "
        f"{p['prefix.capf_rows']} frequent-capture rows / {p['prefix.dcap_rows']} distinct captures"
    )
    out.append(
        f"  pairs.useful_frac {m['pairs.useful_frac']:.3f} = "
        f"{p['extract.rows']} CIND rows / {p['pairs.rows']} overlap rows"
    )
    out.append(
        f"  sketch.pass_frac {m['sketch.pass_frac']:.3f} = "
        f"{p['pairs.rows.approx']} overlap rows with sketches / {p['pairs.rows']} without"
    )
    out.append(
        f"  spark.busy_frac {m['spark.busy_frac']:.3f} = executor run time / "
        f"(cycle wall x {t.cores} cores)"
    )
    cov_ok = all(t.coverage(op) >= 0.9 for op in CYCLE_OPS)
    out.append("")
    out.append(
        f"coverage: min {m['trace.coverage_min']:.1%} over the cycle ops "
        f"({'within' if cov_ok else 'NOT within'} 10% of each op's wall); "
        f"{m['trace.unattributed_jobs']} jobs without a span"
    )
    if untraced is not None:
        out.append("tracing overhead (traced - untraced query_s):")
        for op in CYCLE_OPS:
            if f"query_s.{op}" not in untraced["metrics"]:
                out.append(f"  {op:<11} not in the timed cycle")
                continue
            base = untraced["metrics"][f"query_s.{op}"]["value"]
            traced = m[f"trace.query_s.{op}"]
            out.append(
                f"  {op:<11} {traced - base:+.3f} s ({(traced - base) / base:+.1%} of {base:.3f} s)"
            )
    return "\n".join(out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("trace", help="trace JSON written by a --trace 1 run")
    ap.add_argument("--untraced", help="result record of an untraced run of the same workload")
    args = ap.parse_args(argv)
    with open(args.trace) as f:
        trace = json.load(f)
    untraced = None
    if args.untraced:
        with open(args.untraced) as f:
            untraced = json.load(f)
    print(render(trace, untraced))
    return 0


if __name__ == "__main__":
    sys.exit(main())
