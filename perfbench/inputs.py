"""Deterministic benchmark inputs, generated inside the checkout.

The benchmark cannot rely on any dataset outside its checkout, so it
writes its own parquet star schema with the column names and value
vocabularies of the TPC-H-ish tables the engine's sources read
(``rdfind_spark.sources.triples.TRIPLE_SPEC`` and
``rdfind_spark.sources.skew``).  Only the columns those sources read are
written.  Row counts follow the TPC-H scale-factor ratios (lineitem has
1-7 lines per order), so ``tpch_tables(0.0005, 42)`` melts to 17,860
triples, and its dense ``orders`` keys give ``zipf_triples`` the shape it
documents.

Every table is a pure function of ``(scale factor, data seed)``.  A run
reads a copy whose rows are permuted by the run's ``--seed``: the same
logical input, so the same expected results, in a different physical
order.  Files are cached under ``.cache/`` next to this module and
rebuilt only when missing.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUSES = ["F", "O"]
N_NATIONS = 25
N_BRANDS = 25
MAX_LINES_PER_ORDER = 7


def _pick(rng: np.random.Generator, vocab: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(vocab, dtype=object)[rng.integers(0, len(vocab), n)])


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The seven tables ``triple_view`` melts, at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = round(150_000 * sf)
    n_supp = round(10_000 * sf)
    n_part = round(200_000 * sf)
    n_ord = round(1_500_000 * sf)
    lines = rng.integers(1, MAX_LINES_PER_ORDER + 1, n_ord)
    l_orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    # 1..k within each order: position minus the order's first position
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(len(l_orderkey)) - starts + 1).astype(np.int32)
    n_line = len(l_orderkey)
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(N_NATIONS, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
                "n_regionkey": pa.array(np.arange(N_NATIONS, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n_cust).astype(np.int32)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n_supp).astype(np.int32)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, N_BRANDS + 1)], n_part),
                "p_type": _pick(rng, PART_TYPES, n_part),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
                "o_orderstatus": _pick(rng, STATUSES, n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(l_orderkey),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
                "l_linenumber": pa.array(l_linenumber),
                "l_returnflag": _pick(rng, RETURN_FLAGS, n_line),
                "l_linestatus": _pick(rng, LINE_STATUSES, n_line),
            }
        ),
    }


def permute_rows(table: pa.Table, seed: int) -> pa.Table:
    """``table`` with its rows in an order drawn from ``seed``."""
    return table.take(np.random.default_rng(seed).permutation(table.num_rows))


def _write_once(out: str, tables) -> str:
    """Write ``tables`` (name -> Table) to the directory ``out`` unless it
    exists; the directory appears under its final name only once complete."""
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out)
    return out


def ensure_tables(cache_dir: str, sf: float, data_seed: int) -> str:
    """Directory of the parquet tables for ``(sf, data_seed)``."""
    out = os.path.join(cache_dir, f"tables-sf{sf}-seed{data_seed}")
    if os.path.isdir(out):
        return out
    return _write_once(out, tpch_tables(sf, data_seed))


def ensure_permuted(base_dir: str, seed: int) -> str:
    """Directory of the tables at ``base_dir`` with rows permuted by ``seed``."""
    out = f"{base_dir}-rows{seed}"
    if os.path.isdir(out):
        return out
    tables = {
        name[: -len(".parquet")]: pq.read_table(os.path.join(base_dir, name))
        for name in sorted(os.listdir(base_dir))
    }
    return _write_once(out, {n: permute_rows(t, seed) for n, t in tables.items()})
