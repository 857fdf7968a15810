"""Association-rule mining over unary conditions (reference
``plan/FrequentConditionPlanner.scala:130-194`` — the two AR joins J2/J3
and the confidence filter — expressed as one relational plan).

A rule ``(ante_code, ante_value) ⇒ (cons_code, cons_value)`` states that
every triple satisfying the antecedent condition also satisfies the
consequent; support = co-occurrence count, confidence = support /
antecedent count.  The reference keeps only confidence-1.0 rules for
CIND pruning (``FrequentConditionPlanner.scala:190-191``).
"""

from __future__ import annotations

from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdfind_spark import condition_codes as cc
from rdfind_spark.operators.census import condition_counts

_UNARY = (cc.SUBJECT, cc.PREDICATE, cc.OBJECT)
# binary primary code -> (low-bit field code, high-bit field code)
_BINARY_SPLIT = {
    cc.SUBJECT | cc.PREDICATE: (cc.SUBJECT, cc.PREDICATE),
    cc.SUBJECT | cc.OBJECT: (cc.SUBJECT, cc.OBJECT),
    cc.PREDICATE | cc.OBJECT: (cc.PREDICATE, cc.OBJECT),
}


def ar_implied_cind_keys(rules: DataFrame) -> DataFrame:
    """The 1/1 CINDs implied by confidence-1.0 association rules
    (reference ``operators/FilterAssociationRuleImpliedCinds.scala:47-57``):
    rule ``c1=a ⇒ c2=b`` implies ``q[c1=a] ⊆ q[c2=b]`` where q is the
    remaining field.  Valid field codes are distinct bits summing to 7,
    so the projection field is ``7 - ante - cons`` and the capture code
    is ``field + projection*8`` — pure arithmetic, no lookup table."""
    proj = (F.lit(7) - F.col("ante_code") - F.col("cons_code")) * 8
    return rules.select(
        (F.col("ante_code") + proj).alias("dep_code"),
        F.col("antecedent").alias("dep_v1"),
        (F.col("cons_code") + proj).alias("ref_code"),
        F.col("consequent").alias("ref_v1"),
    )


def filter_ar_implied_cinds(cinds: DataFrame, rules: DataFrame) -> DataFrame:
    """Drop 1/1 CINDs implied by confidence-1.0 association rules (G17).

    The key omits v2 exactly like the reference's probe (its test CIND
    pins both value2 fields to ``''``); binary capture codes can never
    collide with the implied keys' unary codes, so the 4-column anti-join
    is exact.  The rule set is result-sized → broadcast."""
    keys = ar_implied_cind_keys(rules)
    return cinds.join(
        F.broadcast(keys),
        on=["dep_code", "dep_v1", "ref_code", "ref_v1"],
        how="left_anti",
    )


def _unary_parts(side: str) -> Column:
    """Array of the unary parts ``struct(code, v1)`` of a capture column
    triple: a unary capture is its own only part, a binary capture has
    its two ``GENERALIZATION_MAP`` generalizations."""
    code, v1, v2 = (F.col(f"{side}_{c}") for c in ("code", "v1", "v2"))
    parts = F.when(
        code.isin(list(cc.VALID_UNARY_CODES)),
        F.array(F.struct(code.alias("code"), v1.alias("v1"))),
    )
    for bcode, gens in cc.GENERALIZATION_MAP.items():
        parts = parts.when(
            code == bcode,
            F.array(
                *[
                    F.struct(
                        F.lit(ucode).alias("code"),
                        (v1 if value_index == 1 else v2).alias("v1"),
                    )
                    for ucode, value_index in gens
                ]
            ),
        )
    return parts


def filter_ar_implied_descendants(cinds: DataFrame, rules: DataFrame) -> DataFrame:
    """Strategy 1's AR semantics: drop every CIND that has an AR-implied
    1/1 CIND ``(u_dep, u_ref)`` among its unary parts — ``u_dep`` a part
    of the dep, ``u_ref`` a part of the ref that is not also a part of
    the dep.

    The reference's SmallToLarge traversal filters the 1/1 class before
    it generates the next one
    (``plan/SmallToLargeTraversalStrategy.scala:80-87``), so an
    AR-implied 1/1 CIND seeds no 1/2, 2/1 or 2/2 candidate.  The one
    exception is a 2/2 ref that refines one of the dep's own
    generalizations: that ref part comes from the dep itself (a trivial
    refinement), not from a 1/1 CIND, so no AR filter ever sees it.
    Applied to the full (non-minimal) CIND set and followed by the
    minimality pass, this gives that traversal's output.  Strategy 0
    keeps the narrower ``filter_ar_implied_cinds``."""
    cols = cinds.columns
    key = ["u_dep_code", "u_dep_v1", "u_ref_code", "u_ref_v1"]
    keys = ar_implied_cind_keys(rules).toDF(*key)
    dp, rp = _unary_parts("dep"), _unary_parts("ref")
    implied = (
        cinds.select(
            *cols, F.explode(dp).alias("ud"), F.array_except(rp, dp).alias("rp")
        )
        .select(*cols, "ud", F.explode("rp").alias("ur"))
        .select(
            *cols,
            F.col("ud.code").alias("u_dep_code"),
            F.col("ud.v1").alias("u_dep_v1"),
            F.col("ur.code").alias("u_ref_code"),
            F.col("ur.v1").alias("u_ref_v1"),
        )
        .join(F.broadcast(keys), on=key, how="left_semi")
        .select(*cols)
    )
    return cinds.join(implied, on=cols, how="left_anti")


def association_rules(
    triples: DataFrame, min_support: int = 10, min_confidence: float = 1.0
) -> DataFrame:
    """Mine unary⇒unary association rules with support ≥ min_support and
    confidence ≥ min_confidence.  Output: (ante_code, cons_code,
    antecedent, consequent, support, confidence)."""
    # counts feeds the unary side plus six directed branches below —
    # without persisting, each branch recomputes the full triple scan +
    # 6-way explode + aggregate (measured 7× at sf0.01).
    counts = condition_counts(triples).persist(StorageLevel.MEMORY_AND_DISK)
    unary = counts.filter(F.col("code").isin(list(_UNARY))).select(
        F.col("code").alias("ante_code"),
        F.col("v1").alias("antecedent"),
        F.col("count").alias("ante_count"),
    )
    binary = counts.filter(F.col("code").isin(list(_BINARY_SPLIT)))

    directed = []
    for bcode, (low, high) in _BINARY_SPLIT.items():
        base = binary.filter(F.col("code") == bcode)
        directed.append(
            base.select(
                F.lit(low).alias("ante_code"),
                F.lit(high).alias("cons_code"),
                F.col("v1").alias("antecedent"),
                F.col("v2").alias("consequent"),
                F.col("count").alias("support"),
            )
        )
        directed.append(
            base.select(
                F.lit(high).alias("ante_code"),
                F.lit(low).alias("cons_code"),
                F.col("v2").alias("antecedent"),
                F.col("v1").alias("consequent"),
                F.col("count").alias("support"),
            )
        )
    rules = reduce(lambda a, b: a.unionByName(b), directed)
    rules = rules.filter(F.col("support") >= min_support)
    return (
        rules.join(unary, on=["ante_code", "antecedent"])
        .withColumn("confidence", F.col("support") / F.col("ante_count"))
        .filter(F.col("confidence") >= min_confidence)
        .select(
            "ante_code", "cons_code", "antecedent", "consequent", "support", "confidence"
        )
    )
