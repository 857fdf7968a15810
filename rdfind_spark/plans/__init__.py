"""Traversal-strategy facade — the counterpart of the reference's
``plan/`` package (``rdfind-algorithm/.../plan/TraversalStrategy.scala``
and subclasses), mapping each strategy id to its Spark implementation:

====  ==============================  =========================================
 id   reference class                 implementation here
====  ==============================  =========================================
 0    AllAtOnceTraversalStrategy      ``operators.cind.discover_cinds``
 1    SmallToLargeTraversalStrategy   ``operators.staged.discover_cinds_staged``
                                      = ``discover_cinds(minimal=True)``;
                                      under the AR filter it keeps the
                                      reference's stage order (AR-implied
                                      1/1 CINDs seed no larger CIND)
 2    ApproximateAllAtOnce...         ``discover_cinds(sketch_filter=True)``
 3    LateBBTraversalStrategy         ``discover_cinds(sketch_filter=True)`` —
                                      LateBB is the approximate family's
                                      variant that staggers WHEN ref-sets
                                      become Bloom bits to bound reducer
                                      memory (``plan/LateBBTraversal
                                      Strategy.scala``), a concern the
                                      relational formulation does not have
                                      (no per-key ref arrays; Spark hash
                                      aggs spill), so it degenerates to the
                                      sketch-prefilter path like strategy 2
====  ==============================  =========================================

Without the AR filter all strategies return the identical exact CIND set
(cross-checked by the driver oracle and the property tests in
``tests/test_cind_engine.py``).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

from rdfind_spark.operators.cind import discover_cinds
from rdfind_spark.operators.staged import discover_cinds_staged


def traversal(
    triples: DataFrame,
    strategy: int = 1,
    min_support: int = 10,
    minimal: bool = True,
    ar_filter: bool = False,
    projection: str | None = None,
) -> DataFrame:
    """Dispatch like the reference's ``--traversal-strategy`` switch
    (``programs/RDFind.scala:50-56,652-653``; default 1)."""
    if strategy in (0, 2, 3):
        return discover_cinds(
            triples,
            min_support=min_support,
            minimal=minimal,
            ar_filter=ar_filter,
            projection=projection,
            sketch_filter=strategy in (2, 3),
        )
    if strategy == 1:
        if not minimal:
            # The reference's lattice traversal prunes non-minimal CINDs
            # as it climbs, so strategy 1 only has the minimal set.
            warnings.warn(
                "traversal strategy 1 (small-to-large) always returns the "
                "minimal CIND set; minimal=False is ignored — use strategy "
                "0/2/3 for the full set",
                stacklevel=2,
            )
        return discover_cinds_staged(
            triples,
            min_support=min_support,
            ar_filter=ar_filter,
            projection=projection,
        )
    raise ValueError(f"unknown traversal strategy {strategy}")
