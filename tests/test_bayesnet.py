"""BLN / BayesNet MAP solver (operators/bayesnet.py) — the net-level
cases re-assert the reference's own `BayesNetTest.java:139-244`
expectations (there reached via gibbsMAP+hillclimb; here via the exact
deterministic MAP), plus the Spark-level clustered pass."""

from __future__ import annotations

import math

from stanford_relation_extractor_spark.operators import bayesnet
from stanford_relation_extractor_spark.operators.bayesnet import (
    _ground,
    admit_rules,
    infer_map_triples,
    solve_map,
)
from stanford_relation_extractor_spark.operators.inference import parse_mln


def _logit(p: float) -> float:
    return math.log(p / (1.0 - p))


CHAIN_MLN = f"""
likes(PERSON, COUNTRY)
origin(PERSON, COUNTRY)
welcomes(COUNTRY, PERSON)
{_logit(0.8)} !origin(x, y) v likes(x, y)
{_logit(0.8)} !likes(x, y) v welcomes(y, x)
"""


def _map_set(rows, mln, world=None):
    predicates, rules = parse_mln(mln)
    net = _ground(rows, admit_rules(rules), predicates, world or {})
    assign, _probs = solve_map(net)
    return {k for i, k in enumerate(net.keys) if assign[i]}


def test_unary_factors_trivial():
    """BayesNetTest.testBayesNetGibbsUnaryFactorsTrivial: priors 1.0,
    0.2, 1.0 -> exactly the two high-prior literals are MAP-true.
    (score s maps to prior prob (1+s)/2, so s = 2p-1.)"""
    mln = "likes(PERSON, COUNTRY)\norigin(PERSON, COUNTRY)\nis(PERSON, TITLE)\n"
    rows = [
        ("Julie", "PERSON", "likes", "Canada", "COUNTRY", 1.0),
        ("Julie", "PERSON", "origin", "Finnish", "NATIONALITY", -0.6),
        ("Arun", "PERSON", "is", "Student", "TITLE", 1.0),
    ]
    assert _map_set(rows, mln) == {
        ("likes", "Julie", "Canada"),
        ("is", "Arun", "Student"),
    }


def test_chain_rule_inference_simple():
    """BayesNetTest.testBayesNetChainRuleInference (first case): a
    certain origin chains through two 0.8 entailments — the far
    consequent comes out MAP-true."""
    rows = [("Julie", "PERSON", "origin", "Canada", "COUNTRY", 1.0)]
    out = _map_set(rows, CHAIN_MLN)
    assert ("welcomes", "Canada", "Julie") in out
    assert ("likes", "Julie", "Canada") in out


def test_chain_rule_inference_with_priors():
    """BayesNetTest.testBayesNetChainRuleInference (second case):
    sub-0.5 priors (0.29) on both consequents flip true under 0.9-rule
    support from a 0.99 origin."""
    mln = f"""
likes(PERSON, COUNTRY)
origin(PERSON, COUNTRY)
welcomes(COUNTRY, PERSON)
{_logit(0.9)} !origin(x, y) v likes(x, y)
{_logit(0.9)} !likes(x, y) v welcomes(y, x)
"""
    rows = [
        ("Julie", "PERSON", "likes", "Canada", "COUNTRY", 2 * 0.29 - 1),
        ("Canada", "COUNTRY", "welcomes", "Julie", "PERSON", 2 * 0.29 - 1),
        ("Julie", "PERSON", "origin", "Canada", "COUNTRY", 2 * 0.99 - 1),
    ]
    out = _map_set(rows, mln)
    assert ("likes", "Julie", "Canada") in out
    assert ("welcomes", "Canada", "Julie") in out


def test_unsupported_low_prior_stays_false():
    """A 0.29-prior literal with NO rule support stays MAP-false while
    the same prior WITH support flips (the joint decision the greedy
    rule-table engine cannot make)."""
    mln = f"""
likes(PERSON, COUNTRY)
origin(PERSON, COUNTRY)
{_logit(0.9)} !origin(x, y) v likes(x, y)
"""
    rows = [
        ("Julie", "PERSON", "likes", "Canada", "COUNTRY", 2 * 0.29 - 1),
        ("Julie", "PERSON", "likes", "Peru", "COUNTRY", 2 * 0.29 - 1),
        ("Julie", "PERSON", "origin", "Canada", "COUNTRY", 2 * 0.99 - 1),
    ]
    out = _map_set(rows, mln)
    assert ("likes", "Julie", "Canada") in out
    assert ("likes", "Julie", "Peru") not in out


def test_icm_matches_exact_on_chain(monkeypatch):
    """Forcing the ICM fallback (MAX_EXACT_VARS=1) reproduces the exact
    MAP on the chain net — the deterministic large-component path."""
    rows = [("Julie", "PERSON", "origin", "Canada", "COUNTRY", 1.0)]
    exact = _map_set(rows, CHAIN_MLN)
    monkeypatch.setattr(bayesnet, "MAX_EXACT_VARS", 1)
    assert _map_set(rows, CHAIN_MLN) == exact


def test_cyclic_rules_solve_and_acyclic_drops():
    """Symmetric spouse rules form the cycle bounded chaining cannot
    express as one joint net: the MAP keeps both directions."""
    mln = f"""
per:spouse(PERSON, PERSON)
{_logit(0.9)} !per:spouse(x, y) v per:spouse(y, x)
"""
    predicates, rules = parse_mln(mln)
    rows = [("Ann", "PERSON", "per:spouse", "Bob", "PERSON", 0.8)]
    net = _ground(rows, admit_rules(rules), predicates, {})
    assign, _ = solve_map(net)
    true_set = {k for i, k in enumerate(net.keys) if assign[i]}
    assert ("per:spouse", "Ann", "Bob") in true_set
    assert ("per:spouse", "Bob", "Ann") in true_set


def test_spark_clustered_map_inference(spark):
    """The distributed pass: a gazetteer-lifted country fill comes out
    novel with the rule's sigmoid probability; the geo evidence literal
    itself is not emitted; the input fill survives with its prior."""
    triples = spark.createDataFrame(
        [
            ("Ann", "PERSON", "per:city_of_birth", "Oslo", "CITY", 0.9),
            ("Zed", "PERSON", "per:city_of_birth", "Lima", "CITY", 0.8),
        ],
        "entity_name string, entity_type string, relation string, "
        "slot_value string, slot_ner string, score double",
    )
    geo = spark.createDataFrame(
        [("Oslo", "Norway"), ("Lima", "Peru")], "city string, country string"
    )
    out = {
        (r.entity_name, r.relation, r.slot_value): r
        for r in infer_map_triples(triples, geo, spark).collect()
    }
    born = out[("Ann", "per:country_of_birth", "Norway")]
    assert born.novel and born.slot_ner == "COUNTRY"
    assert abs(born.score - 1.0 / (1.0 + math.exp(-0.9))) < 1e-4
    kept = out[("Ann", "per:city_of_birth", "Oslo")]
    assert not kept.novel and abs(kept.score - 0.95) < 1e-6
    assert ("Zed", "per:country_of_birth", "Peru") in out
    assert not any(rel.startswith("geo:") for _e, rel, _s in out)


def test_map_clustering_same_rows_under_both_cc_kernels(spark, monkeypatch):
    """``infer_map_triples`` clusters through ``connected_components``:
    over one materialized copy of the sf0.001 triples, the driver union-find
    kernel and label propagation (gate 0, patched around the BayesNet
    call only) give the same MAP rows. ``bayesnet_map`` has no SQL
    oracle, so this pins its clustering."""
    from conftest import SF_DIR

    from stanford_relation_extractor_spark.operators import canonicalize
    from stanford_relation_extractor_spark.operators.worldknowledge import geo_cities_df
    from stanford_relation_extractor_spark.plans.pipeline import build_stages

    triples = build_stages(spark, SF_DIR)["triples"].localCheckpoint(eager=True)
    geo = geo_cities_df(spark, SF_DIR)

    def rows():
        return sorted(tuple(r) for r in infer_map_triples(triples, geo, spark).collect())

    driver = rows()
    with monkeypatch.context() as m:
        m.setattr(canonicalize, "CANON_LOCAL_MAX_SURFACES", 0)
        assert rows() == driver
    assert len(driver) > 100
