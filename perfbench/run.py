"""CIND benchmark: per-strategy latency, cold start and set-up time, with a
traced per-layer breakdown.

    python3 perfbench/run.py --workload tpch_sf0.0005 --seed 1 --seconds 30 --trace 0

Run from the root of a checkout of the repository.  One run is one
Spark driver process on ``local[4]`` (settings in ``config.py``):

1. generate the workload's tables from the pinned data seed, compute the
   expected result digests with the DuckDB oracle, and write the copy of
   the tables whose row order ``--seed`` draws (all cached in
   ``perfbench/.cache``);
2. start the SparkSession and compose the input ``SETUP_REPEATS`` times,
   stopping all but the last session (``setup_s`` is the median);
3. run one cold ``allatonce`` op (``cold_query_s``);
4. closed loop, one client: cycles of ``config.TIMED_OPS``, the next op
   issued when the previous one finished, a new cycle started only while
   it is expected to end within ``--seconds`` (at least one cycle always
   runs).  An op is compose + execute to the noop sink; its result digest
   is then checked against the oracle's and against the other strategies
   of the cycle.

Before every set-up after the first and before every op, ``settle`` lets
the JVM finish the JIT compilations already queued, so no timed op races
the previous one's.  With ``--trace 0`` the last line of stdout is the
end-to-end result; with ``--trace 1`` the ``config.TRACED_OPS`` cycle
runs once under the layer tracer (``layertrace.py``) and the last line
holds the per-layer metrics (``report.py``).  Each run
also leaves its record in ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")

sys.path.insert(0, HERE)

import config  # noqa: E402
from stats import digest_arrow, summarize  # noqa: E402


def parse_args(argv):
    ap = argparse.ArgumentParser(description="CIND benchmark (see module docstring)")
    ap.add_argument("--workload", required=True, choices=sorted(config.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def import_engine():
    """The engine of this checkout, or exit non-zero without a result."""
    sys.path.insert(0, ROOT)
    try:
        import rdfind_spark
        from rdfind_spark.functions import graph
        from rdfind_spark.operators import cind, staged
        from rdfind_spark.sources import skew, triples
    except ImportError as exc:
        sys.exit(f"perfbench: cannot import rdfind_spark from {ROOT}: {exc}")
    if os.path.dirname(os.path.dirname(os.path.abspath(rdfind_spark.__file__))) != ROOT:
        sys.exit(f"perfbench: rdfind_spark resolved outside {ROOT}: {rdfind_spark.__file__}")
    return {"cind": cind, "staged": staged, "graph": graph, "skew": skew, "triples": triples}


def session_conf() -> dict:
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    return {
        **config.SESSION_CONF,
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def stop_jvm() -> None:
    """Stop the driver JVM PySpark launched and wait until it has exited
    (it exits when its stdin closes).  ``spark.stop()`` leaves it running
    for the next session."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def build_session(conf: dict):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def settle(jvm, limit_s: float = 5.0) -> float:
    """Let the driver JVM go quiet before an op is timed: a full GC, then
    wait (up to ``limit_s``) until the JIT compiler stops compiling.  An op
    right after a cold one otherwise races the background compilations the
    cold op queued, and its time varies with how far they got.  Returns
    the seconds it waited."""
    gc.collect()
    jvm.java.lang.System.gc()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    t0 = time.perf_counter()
    last = jit.getTotalCompilationTime()
    while time.perf_counter() < t0 + limit_s:
        time.sleep(0.25)
        now = jit.getTotalCompilationTime()
        if now == last:
            break
        last = now
    return time.perf_counter() - t0


class Bench:
    def __init__(self, eng: dict, workload: str, data_dir: str, expected: dict):
        self.eng = eng
        self.source = config.WORKLOADS[workload]["source"]
        self.data_dir = data_dir
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.tracer = None
        self.settled: list[float] = []  # seconds each settle() waited

    def settle(self, jvm) -> None:
        self.settled.append(settle(jvm))

    def make_source(self, spark):
        if self.source == "triple_view":
            return self.eng["triples"].triple_view(spark, self.data_dir)
        return self.eng["skew"].zipf_triples(spark, self.data_dir)

    def compose(self, op: str, triples):
        # every call goes through the module attribute, so the tracer's
        # wrappers see it
        e, ms = self.eng, config.MIN_SUPPORT
        if op == "allatonce":
            return e["cind"].discover_cinds(triples, ms, minimal=True)
        if op == "staged":
            return e["staged"].discover_cinds_staged(triples, ms)
        if op == "approx":
            return e["cind"].discover_cinds(triples, ms, sketch_filter=True)
        if op == "components":
            return e["graph"].graph_components(triples)
        raise ValueError(op)

    def run_op(self, op: str, triples) -> tuple[float, str | None]:
        """One op: compose + execute to the noop sink (timed), then the
        digest check (untimed).  Returns (wall seconds, digest or None)."""
        self.attempted += 1
        span = self.tracer.op_span(op) if self.tracer else nullcontext()
        t0 = time.perf_counter()
        try:
            with span:
                df = self.compose(op, triples)
                df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            with self.tracer.paused() if self.tracer else nullcontext():
                digest = digest_arrow(df.toArrow())
        except Exception:  # noqa: BLE001 — an op that raises counts as failed, the run goes on
            wall = time.perf_counter() - t0
            self._fail(f"{op} raised:\n{traceback.format_exc()}")
            return wall, None
        want = self.expected[config.RESULT_KIND[op]]
        if digest != want:
            self._fail(f"{op} digest {digest} != expected {want}")
            return wall, None
        return wall, digest

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg)
        print(f"perfbench: {msg}", file=sys.stderr)

    def cycle(self, order: list[str], triples, samples: dict) -> None:
        digests = {}
        for op in order:
            self.settle(triples.sparkSession.sparkContext._jvm)
            wall, digest = self.run_op(op, triples)
            samples[op].append(wall)
            if digest is not None:
                digests[op] = digest
        kinds = {}
        for op, digest in digests.items():
            kinds.setdefault(config.RESULT_KIND[op], set()).add(digest)
        for kind, seen in kinds.items():
            if len(seen) > 1:
                self._fail(f"strategies disagree on {kind} within a cycle: {sorted(seen)}")


def timed_run(bench: Bench, args, conf: dict, n_triples: int) -> tuple[dict, dict]:
    setups = []
    for i in range(config.SETUP_REPEATS):
        if i:
            bench.settle(jvm)  # the gateway JVM outlives the stopped session
        t0 = time.perf_counter()
        spark = build_session(conf)
        triples = bench.make_source(spark)
        setups.append(time.perf_counter() - t0)
        jvm = spark.sparkContext._jvm
        if i < config.SETUP_REPEATS - 1:
            spark.stop()
    try:
        bench.settle(jvm)
        cold, _ = bench.run_op(config.COLD_OP, triples)
        samples = {op: [] for op in config.TIMED_OPS}
        cycles = 0
        start = time.perf_counter()
        last = 0.0
        while not cycles or (time.perf_counter() - start) + last <= args.seconds:
            c0 = time.perf_counter()
            bench.cycle(config.TIMED_OPS, triples, samples)
            cycles += 1
            last = time.perf_counter() - c0
    finally:
        spark.stop()
    warm = [w for op in config.TIMED_OPS for w in samples[op]]
    metrics = {f"query_s.{op}": summarize(samples[op])["median"] for op in config.TIMED_OPS}
    metrics["triples_per_s"] = n_triples * len(warm) / sum(warm)
    metrics["cold_query_s"] = cold
    metrics["setup_s"] = statistics.median(setups)
    info = {
        "cycles": cycles,
        "samples": {op: summarize(samples[op])["n"] for op in config.TIMED_OPS},
        "walls": samples,
        "setups": setups,
        "settled": bench.settled,
    }
    return metrics, info


def probe_counts(bench: Bench, trace_spans: list[dict], cind_mod, n_triples: int) -> dict:
    """Row counts the per-layer metrics need, taken after the traced cycle
    so no span pays for them.  Outputs a later step unpersisted are
    recomputed from their lineage."""
    from pyspark.sql import functions as F

    tr = bench.tracer
    ops = {s["name"]: s["id"] for s in trace_spans if s["kind"] == "op"}

    def spans(op, name):
        return sorted(
            (s for s in trace_spans if s["op"] == ops[op] and s["name"] == name),
            key=lambda s: s["t0"],
        )

    def out(op, name, i=0):
        return tr.outputs[spans(op, name)[0]["id"]][i]

    with tr.paused():
        p = {"sources.triples": n_triples}
        p["captures.rows"] = out("allatonce", "capture_candidates").count()
        p["prefix.dcap_rows"] = out("allatonce", "build_capture_tables", 1).count()
        p["prefix.frequent"] = out("allatonce", "build_capture_tables", 2).count()
        p["prefix.capf_rows"] = out("allatonce", "build_capture_tables", 4).count()
        p["pairs.rows"] = out("allatonce", "capture_overlaps").count()
        p["pairs.rows.approx"] = out("approx", "capture_overlaps").count()
        capf = tr.inputs[spans("allatonce", "capture_overlaps")[0]["id"]]
        k = capf.groupBy("jv1", "jv2").count().select(F.col("count").alias("k"))
        row = k.agg(
            F.sum((F.col("k") > cind_mod.HOT_LINE_K).cast("long")).alias("hot"),
            F.max("k").alias("kmax"),
            F.sum(F.col("k") * F.col("k")).alias("work"),
        ).first()
        p["pairs.hot_lines"], p["pairs.line_k_max"], p["pairs.pair_work"] = (
            int(row["hot"]), int(row["kmax"]), int(row["work"]),
        )
        p["extract.rows"] = out("allatonce", "extract_cinds").count()
        p["minimality.rows_in"] = tr.inputs[spans("allatonce", "remove_implied_cinds")[0]["id"]].count()
        p["minimality.rows_out"] = out("allatonce", "remove_implied_cinds").count()
        p["staged.candidate_rows"] = sum(
            tr.outputs[s["id"]][0].count() for s in spans("staged", "materialize")
        )
        p["graph.edges"] = out("components", "hub_pruned_sym_edges", 1).count()
    return p


def traced_run(bench: Bench, args, conf: dict) -> dict:
    import report
    from layertrace import Tracer

    spark = build_session(conf)
    try:
        triples = bench.make_source(spark)
        # untraced cold op first, so the traced cycle starts as warm as
        # the timed runs' cycles do
        bench.run_op(config.COLD_OP, triples)
        bench.tracer = tracer = Tracer(spark)
        since = time.time()
        tracer.install()
        try:
            with tracer.op_span("sources"):
                source = bench.make_source(spark)
                n_triples = source.count()
            bench.cycle(config.TRACED_OPS, source, {op: [] for op in config.TRACED_OPS})
        finally:
            tracer.uninstall()
        spans = list(tracer.spans)
        probes = probe_counts(bench, spans, bench.eng["cind"], n_triples)
        jobs, stages = tracer.spark_records(since)
    finally:
        spark.stop()
    trace = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": config.CORES,
        "order": list(config.TRACED_OPS),
        "spans": spans,
        "jobs": jobs,
        "stages": {str(k): v for k, v in stages.items()},
        "probes": probes,
    }
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(trace, f)
    print(f"perfbench: trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
    return report.layer_metrics(trace)


def main(argv=None) -> int:
    args = parse_args(argv)
    eng = import_engine()
    import inputs
    from expected import expected_digests

    os.makedirs(CACHE, exist_ok=True)
    base_dir = inputs.ensure_tables(CACHE, config.TABLES["sf"], config.TABLES["data_seed"])
    source = config.WORKLOADS[args.workload]["source"]
    expected = expected_digests(base_dir, source, config.MIN_SUPPORT, CACHE)
    bench = Bench(eng, args.workload, inputs.ensure_permuted(base_dir, args.seed), expected)
    conf = session_conf()
    info: dict = {}
    try:
        if args.trace:
            import report

            values = traced_run(bench, args, conf)
            units = report.UNITS
        else:
            values, info = timed_run(bench, args, conf, expected["triples"])
            units = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    finally:
        stop_jvm()
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "digest_method": expected["method"],
        "expected": {k: expected[k] for k in ("cinds", "components")},
        "failures": bench.failures,
        **info,
        **result,
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f)
    print(json.dumps({k: record[k] for k in ("workload", "seed", "digest_method", "cycles", "samples") if k in record}))
    print(json.dumps(result))
    return 0


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
