"""Expected result digests, computed once per input by the DuckDB oracle.

The oracle (``rdfind_spark.oracle`` and ``graph_components_sql``) runs the
same discovery relationally over the same parquet files, so its digest
is an independent check of every Spark op in the timed loop.  Results
are cached next to the inputs, keyed by the SQL text, so an oracle
change recomputes them.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from stats import digest_arrow

ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def oracle_sql(source: str, min_support: int) -> dict[str, str]:
    """The oracle query of each result kind for one triple source."""
    from rdfind_spark import oracle
    from rdfind_spark.functions.graph import graph_components_sql
    from rdfind_spark.sources.skew import zipf_triples_sql
    from rdfind_spark.sources.triples import triple_view_sql

    components = graph_components_sql()
    triples_sql = None
    if source == "zipf_triples":
        triples_sql = zipf_triples_sql()
        # graph_components_sql takes no triple source; its one triples
        # CTE body is the TPC-H melt, swapped here for the Zipf derivation
        if components.count(triple_view_sql()) != 1:
            raise RuntimeError("graph_components_sql no longer embeds triple_view_sql once")
        components = components.replace(triple_view_sql(), triples_sql)
    elif source != "triple_view":
        raise ValueError(f"unknown source {source!r}")
    return {
        "cinds": oracle.cind_sql(min_support, minimal=True, triples_sql=triples_sql),
        "components": components,
        "triples": triples_sql or triple_view_sql(),
    }


def expected_digests(data_dir: str, source: str, min_support: int, cache_dir: str) -> dict:
    """``{"cinds": digest, "components": digest, "triples": n, "method": ...}``
    for the input at ``data_dir``, from the cache when the SQL is unchanged."""
    queries = oracle_sql(source, min_support)
    key = hashlib.sha256(json.dumps([data_dir, queries], sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"expected-{source}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    try:
        for t in ORACLE_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')"
            )
        out = {
            kind: digest_arrow(con.execute(queries[kind]).fetch_arrow_table())
            for kind in ("cinds", "components")
        }
        out["triples"] = con.execute(f"SELECT count(*) FROM ({queries['triples']})").fetchone()[0]
    finally:
        con.close()
    out["method"] = "duckdb-oracle"
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out
