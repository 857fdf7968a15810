"""Cross-strategy agreement (staged SmallToLarge vs relational
AllAtOnce) and the G17 association-rule filter."""

from __future__ import annotations

import hashlib
import random
from collections import Counter

import duckdb

from rdfind_spark import condition_codes as cc
from rdfind_spark.operators.cind import discover_cinds
from rdfind_spark.operators.rules import ar_implied_cind_keys, association_rules
from rdfind_spark.operators.staged import discover_cinds_staged
from rdfind_spark.oracle import cind_sql
from rdfind_spark.sources.triples import TABLES, triple_view

from tests.test_cind_engine import TINY, brute_cinds, brute_minimal

# sha256 over the sorted rows of the sf0.001 strategy-1 AR result, one
# row per line, fields joined by \x1f
SF0001_STAGED_AR_DIGEST = (
    "6d87d147c06ed1ec297e80348e5b607034c4732d5f6613d84dfe6eb05792306e"
)


def _as_set(df):
    return {
        (r.dep_code, r.dep_v1, r.dep_v2, r.ref_code, r.ref_v1, r.ref_v2, r.support)
        for r in df.collect()
    }


def test_staged_matches_brute_force_tiny(spark):
    df = spark.createDataFrame(TINY, ["subj", "pred", "obj"])
    got = _as_set(discover_cinds_staged(df, min_support=2))
    assert got == brute_cinds(TINY, min_support=2, minimal=True)


def test_staged_matches_all_at_once_random(spark):
    rng = random.Random(11)
    triples = list(
        {
            (
                f"s{rng.randrange(9)}",
                f"p{rng.randrange(4)}",
                f"o{rng.randrange(5)}",
            )
            for _ in range(350)
        }
    )
    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    staged = _as_set(discover_cinds_staged(df, min_support=3))
    allatonce = _as_set(discover_cinds(df, min_support=3, minimal=True))
    assert staged == allatonce
    assert staged, "fixture must produce CINDs"


def test_staged_hot_line_overflow_cap_matches_brute_force(spark, monkeypatch):
    """More hot lines than MAX_HOT_MASK under strategy 1: the census
    collect and the mask width stay bounded by the cap, the overflow
    lines route through the salted overflow path — and the result stays
    exact (mirror of the all-at-once overflow test in test_cind_engine)."""
    from rdfind_spark.operators import cind as cind_mod

    monkeypatch.setattr(cind_mod, "HOT_LINE_K", 2)
    monkeypatch.setattr(cind_mod, "N_SALT", 4)
    monkeypatch.setattr(cind_mod, "MAX_HOT_MASK", 4)
    rng = random.Random(11)
    triples = list(
        {
            (
                f"s{rng.randrange(8)}",
                f"p{rng.randrange(3)}",
                f"o{rng.randrange(5)}",
            )
            for _ in range(300)
        }
    )
    # sanity: the overflow regime is actually hit (same fixture as the
    # all-at-once test, which asserts n_hot > 4)
    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    got = _as_set(discover_cinds_staged(df, min_support=3))
    assert got == brute_cinds(triples, min_support=3, minimal=True)
    assert got, "fixture must produce CINDs"


def test_ar_implied_keys():
    """Rule p=a ⇒ o=b implies s[p=a] ⊆ s[o=b] (codes 10 → 12)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    rules = spark.createDataFrame(
        [(2, 4, "a", "b", 5, 1.0)],
        "ante_code int, cons_code int, antecedent string, consequent string,"
        " support long, confidence double",
    )
    rows = ar_implied_cind_keys(rules).collect()
    assert [(r.dep_code, r.dep_v1, r.ref_code, r.ref_v1) for r in rows] == [
        (10, "a", 12, "b")
    ]


def test_ar_filter_drops_rule_implied_cinds(spark):
    """Every p1 triple has obj x (rule p=p1 ⇒ o=x at confidence 1.0), so
    the AR-implied 1/1 CIND s[p=p1] ⊆ s[o=x] must be gone with
    ar_filter=True and present (or refined) without."""
    triples = [(f"a{i}", "p1", "x") for i in range(5)] + [
        (f"a{i}", "p2", f"y{i % 2}") for i in range(5)
    ]
    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    rules = association_rules(df, min_support=2, min_confidence=1.0).collect()
    assert any(
        (r.ante_code, r.antecedent, r.cons_code, r.consequent) == (2, "p1", 4, "x")
        for r in rules
    )
    plain = _as_set(discover_cinds(df, min_support=2, minimal=False))
    filtered = _as_set(
        discover_cinds(df, min_support=2, minimal=False, ar_filter=True)
    )
    implied = (10, "p1", "", 12, "x", "", 5)
    assert implied in plain
    assert implied not in filtered
    assert filtered < plain


def _duckdb_with_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def test_ar_sql_matches_spark_on_sf0001(spark, sf_dir):
    got = _as_set(
        discover_cinds(
            triple_view(spark, sf_dir), min_support=10, minimal=True, ar_filter=True
        )
    )
    con = _duckdb_with_views(sf_dir)
    expected = {
        tuple(r) for r in con.execute(cind_sql(10, True, ar=True)).fetchall()
    }
    assert got == expected
    assert got


def test_staged_matches_oracle_on_sf0001(spark, sf_dir):
    got = _as_set(discover_cinds_staged(triple_view(spark, sf_dir), min_support=10))
    con = _duckdb_with_views(sf_dir)
    expected = {tuple(r) for r in con.execute(cind_sql(10, True)).fetchall()}
    assert got == expected


def brute_ar_keys(triples, min_support):
    """(dep, ref) captures of the 1/1 CINDs implied by the confidence-1
    association rules of ``triples``, by brute force: rule c1=a ⇒ c2=b
    holds when every triple with c1=a has c2=b, on >= min_support
    triples, and implies q[c1=a] ⊆ q[c2=b] for the remaining field q."""
    index = {cc.SUBJECT: 0, cc.PREDICATE: 1, cc.OBJECT: 2}
    keys = set()
    for c1, i1 in index.items():
        for c2, i2 in index.items():
            if c1 == c2:
                continue
            q = 7 - c1 - c2
            ante = Counter(t[i1] for t in triples)
            both = Counter((t[i1], t[i2]) for t in triples)
            for (a, b), n in both.items():
                if n >= min_support and n == ante[a]:
                    keys.add(
                        (
                            (cc.create_condition_code(c1, q), a, ""),
                            (cc.create_condition_code(c2, q), b, ""),
                        )
                    )
    return keys


def _unary_parts(cap):
    code, v1, v2 = cap
    if code in cc.VALID_UNARY_CODES:
        return [cap]
    return [(g, v1 if i == 1 else v2, "") for g, i in cc.generalizations(code)]


def brute_staged_ar(triples, min_support):
    """Strategy 1 with the AR filter, by brute force: all CINDs, minus
    every CIND with an AR-implied pair (dep part, ref part) among its
    unary parts — ref parts that are also dep parts excepted — then
    minimality."""
    keys = brute_ar_keys(triples, min_support)
    kept = set()
    for c in brute_cinds(triples, min_support, minimal=False):
        dep_parts = _unary_parts(c[0:3])
        ref_parts = [u for u in _unary_parts(c[3:6]) if u not in dep_parts]
        if not any((ud, ur) in keys for ud in dep_parts for ur in ref_parts):
            kept.add(c)
    return brute_minimal(kept)


def test_staged_ar_filter_reference_order(spark):
    """Strategy 1 applies the G17 filter in the reference's stage order
    (``SmallToLargeTraversalStrategy.scala:80-87``): AR-implied 1/1s are
    gone AND they seed no 1/2, 2/1 or 2/2 candidate — so the output is
    the brute-force ancestor drop followed by minimality, not the
    strategy-0 AR output (which filters the 1/1 class only)."""
    ar_fixture = [(f"a{i}", "p1", "x") for i in range(5)] + [
        (f"a{i}", "p2", f"y{i % 2}") for i in range(5)
    ]
    rng = random.Random(7)
    planted = {
        (f"s{rng.randrange(12)}", f"p{rng.randrange(4)}", f"o{rng.randrange(6)}")
        for _ in range(300)
    }
    # planted confidence-1 rules: p=pk ⇒ o=ok and s=s_hub ⇒ p=ph
    planted |= {(f"s{i}", "pk", "ok") for i in range(8)}
    planted |= {("s_hub", "ph", f"o{i}") for i in range(6)}
    # rule p=pa ⇒ o=x; the 2/2 s[p=pa,o=x] ⊆ s[p=pc,o=x] stays, since
    # its ref part s[o=x] is the dep's own generalization, not a 1/1 ref
    own_part = (
        [(f"a{i}", "pa", "x") for i in range(5)]
        + [(f"a{i}", "pc", "x") for i in range(5)]
        + [(f"b{j}", "pc", "y") for j in range(3)]
        + [(f"c{k}", "pd", "x") for k in range(3)]
    )
    for triples, min_support in (
        (ar_fixture, 2),
        (list(TINY), 2),
        (sorted(planted), 3),
        (own_part, 2),
    ):
        df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
        staged = _as_set(
            discover_cinds_staged(df, min_support=min_support, ar_filter=True)
        )
        assert staged == brute_staged_ar(triples, min_support)
    implied = (10, "p1", "", 12, "x", "", 5)
    assert implied in brute_cinds(ar_fixture, 2, minimal=False)
    assert implied not in brute_staged_ar(ar_fixture, 2)
    assert (14, "pa", "x", 14, "pc", "x", 5) in brute_staged_ar(own_part, 2)


def test_staged_ar_filter_pinned_on_sf0001(spark, sf_dir):
    """Strategy 1's AR row set on sf0.001 equals the one the staged
    lattice engine returned before strategy 1 moved onto the all-at-once
    core: 1175 rows (strategy 0's AR output has 1496), pinned by an
    order-independent digest."""
    got = _as_set(
        discover_cinds_staged(
            triple_view(spark, sf_dir), min_support=10, ar_filter=True
        )
    )
    digest = hashlib.sha256()
    for row in sorted(got):
        digest.update(("\x1f".join(map(str, row)) + "\n").encode())
    assert len(got) == 1175
    assert digest.hexdigest() == SF0001_STAGED_AR_DIGEST


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_subj=st.integers(3, 12),
    n_pred=st.integers(2, 5),
    n_obj=st.integers(2, 8),
)
def test_staged_matches_all_at_once_hypothesis(spark, seed, n_subj, n_pred, n_obj):
    """Property: the staged lattice (with its round-4 support prunes
    and hub-safety gate) agrees with the all-at-once engine on random
    corpora across densities — skew of the value distribution is what
    the prunes and the gate key on, so vary all three cardinalities."""
    rng = random.Random(seed)
    triples = list(
        {
            (
                f"s{rng.randrange(n_subj)}",
                f"p{rng.randrange(n_pred)}",
                f"o{rng.randrange(n_obj)}",
            )
            for _ in range(200)
        }
    )
    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    staged = {
        (r.dep_code, r.dep_v1, r.dep_v2, r.ref_code, r.ref_v1, r.ref_v2, r.support)
        for r in discover_cinds_staged(df, min_support=2).collect()
    }
    allatonce = {
        (r.dep_code, r.dep_v1, r.dep_v2, r.ref_code, r.ref_v1, r.ref_v2, r.support)
        for r in discover_cinds(df, min_support=2, minimal=True).collect()
    }
    assert staged == allatonce
