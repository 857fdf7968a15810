"""Unit tests of the benchmark's own logic (no Spark):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import report  # noqa: E402
from inputs import permute_rows  # noqa: E402
from layertrace import contains_block  # noqa: E402
from stats import (  # noqa: E402
    covered,
    digest_arrow,
    digest_rows,
    quartile_spread,
    self_times,
    summarize,
)

ROWS = [(1, "a", "", 10), (2, "b", None, 11), (1, "a", "", 10), (3, "c", "x", 12)]
COLS = ["dep_code", "dep_v1", "dep_v2", "support"]


def test_digest_ignores_row_order():
    shuffled = ROWS[:]
    random.Random(7).shuffle(shuffled)
    assert digest_rows(COLS, ROWS) == digest_rows(COLS, shuffled)


def test_digest_ignores_column_order():
    perm = [3, 1, 0, 2]
    cols = [COLS[i] for i in perm]
    rows = [tuple(r[i] for i in perm) for r in ROWS]
    assert digest_rows(cols, rows) == digest_rows(COLS, ROWS)


def test_digest_sees_values_multiplicity_and_nulls():
    base = digest_rows(COLS, ROWS)
    assert digest_rows(COLS, ROWS[:-1]) != base
    assert digest_rows(COLS, ROWS[1:]) != base  # one duplicate fewer
    assert digest_rows(COLS, [(1, "a", None, 10)] + ROWS[1:]) != base  # '' vs None


def test_digest_treats_int_widths_alike():
    # DuckDB INTEGER and Spark LONG both arrive as Python int; a float
    # must not pass for one
    assert digest_rows(["x"], [(10,)]) == digest_rows(["x"], [(10,)])
    assert digest_rows(["x"], [(10,)]) != digest_rows(["x"], [(10.0,)])


def test_summarize_reports_median_and_count():
    assert summarize([3.0, 1.0, 2.0]) == {"median": 2.0, "n": 3}
    assert summarize([4.0, 1.0]) == {"median": 2.5, "n": 2}
    with pytest.raises(ValueError):
        summarize([])


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    # quantiles(n=4) with the default exclusive method: 11.75 and 17.25
    assert quartile_spread(vals) == pytest.approx((17.25 - 11.75) / 14.5)


def test_row_permutation_is_seeded_and_keeps_the_rows():
    table = pa.table({"k": list(range(50)), "v": [f"x{i % 7}" for i in range(50)]})
    a = permute_rows(table, 3)
    assert a.equals(permute_rows(table, 3))
    assert not a.equals(permute_rows(table, 4))
    assert not a.equals(table)
    cols = table.column_names
    assert digest_arrow(a) == digest_arrow(table) == digest_rows(cols, zip(*table.to_pydict().values()))


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([], 0, 10) == 0


def _span(i, parent, t0, t1):
    return {"id": i, "parent": parent, "t0": t0, "t1": t1}


def test_self_times_subtract_nested_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 2, 2.0, 3.0),
        _span(4, 1, 3.5, 6.0),  # overlaps span 2 by 0.5: covered once
        _span(5, None, 2.0, 9.0),  # another thread's root: no parent
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(2.5)
    assert st[5] == pytest.approx(7.0)
    # a root's wall is the sum of the self times below it (no overlap)
    assert st[1] + st[2] + st[3] + 2.0 == pytest.approx(10.0)


def test_contains_block_finds_contiguous_subtree_lines():
    plan = ["Repartition 4", "Aggregate [a#1]", "Project [a#1]", "LogicalRDD [a#1]"]
    assert contains_block(plan, plan[1:3])
    assert contains_block(plan, plan)
    assert not contains_block(plan, ["Aggregate [a#1]", "LogicalRDD [a#1]"])
    assert not contains_block(plan, [])


def test_per_layer_list_matches_benchmark_json():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == report.PER_LAYER


def test_task_skew_uses_the_longest_stage():
    stages = [
        {"run_ms": 100, "task_ms_median": 10.0, "task_ms_max": 30.0},
        {"run_ms": 900, "task_ms_median": 50.0, "task_ms_max": 200.0},
    ]
    assert report.task_skew(stages) == pytest.approx(4.0)
    assert report.task_skew([]) == 0.0


def test_coverage_and_util_charging():
    spans = [
        {"id": 1, "parent": None, "t0": 0.0, "t1": 10.0, "kind": "op", "name": "allatonce",
         "layer": "bench.op", "op": 1},
        {"id": 2, "parent": 1, "t0": 0.5, "t1": 9.5, "kind": "layer", "name": "remove_implied_cinds",
         "layer": "minimality", "op": 1},
        {"id": 3, "parent": 2, "t0": 1.0, "t1": 5.0, "kind": "layer", "name": "materialize",
         "layer": "util.materialize", "op": 1},
    ]
    t = report.Trace({"spans": spans, "stages": {}, "cores": 4})
    assert t.coverage("allatonce") == pytest.approx(0.9)
    # util helpers count for their caller in a layer's self time
    assert t.self_of("minimality", "allatonce") == pytest.approx(9.0)
    assert t.self_of("util.materialize", "allatonce") == 0.0
