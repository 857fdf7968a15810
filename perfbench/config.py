"""Pinned settings of the CIND benchmark: session, workloads, operations.

One module holds every number a run depends on, so two runs of the same
tree measure the same thing.  ``README.md`` next to this file explains
the choices.
"""

from __future__ import annotations

CORES = 4
MIN_SUPPORT = 10
SETUP_REPEATS = 3

# local[N] with N <= nproc on the 4-core, 15 GB working host; shuffle
# partitions = cores because every input here is small enough that more
# partitions only add task overhead; 4g of Spark driver heap leaves room for
# the DuckDB oracle and the Python workers.  The rest mirrors the CLI
# session (rdfind_spark/cli.py).  spark.local.dir and java.io.tmpdir are
# filled in by run.py with directories inside the checkout.
SESSION_CONF = {
    "spark.master": f"local[{CORES}]",
    "spark.app.name": "rdfind-perfbench",
    "spark.sql.shuffle.partitions": str(CORES),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.maxPlanStringLength": "1000000",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": "4g",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # the traced run reads every job and stage of its cycle back from
    # the status store; the default retention (1000) could drop some
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}

# Result kind of each op: the three CIND strategies return the same
# minimal CIND set, so they share one expected digest ("cinds").
RESULT_KIND = {
    "allatonce": "cinds",
    "staged": "cinds",
    "approx": "cinds",
    "components": "components",
}
COLD_OP = "allatonce"
# The timed cycle, in a fixed order: an op's latency depends on what ran
# before it in the process (JIT warm-up), so a per-run shuffle moved
# single-sample medians by 16-25% (IQR/median over five seeds).  Only the
# two strategies are timed, which keeps a run near 50 s on the 4-core
# host; the traced cycle adds connected components and the approximate
# strategy after them.
TIMED_OPS = ("allatonce", "staged")
TRACED_OPS = ("allatonce", "staged", "components", "approx")

# Both workloads read one generated table set (inputs.tpch_tables): the
# TPC-H scale factor and data seed below fix every input row; --seed only
# permutes the row order.  README.md lists the sizes this gives.
TABLES = {"sf": 0.0005, "data_seed": 42}

WORKLOADS = {
    "tpch_sf0.0005": {
        "source": "triple_view",
        "why": (
            "TPC-H star melted to triples: benign value spread and few "
            "CINDs, so the fixed per-job and barrier cost of each strategy "
            "dominates"
        ),
    },
    "zipf_sf0.0005": {
        "source": "zipf_triples",
        "why": (
            "Zipf hub fixture over the same orders: ten times the CINDs at "
            "equal input size, the overlap-explosion regime the staged "
            "lattice is meant for"
        ),
    },
}
