"""Round-4: the size-gated driver-local canon-map fast path must be
row-identical to the distributed path (dictionary rewrites, wikidict
margin links, capped-block cascade, connected components, pure-target
representative selection)."""

from __future__ import annotations

from stanford_relation_extractor_spark.operators import canonicalize

SF_DIR = "/root/testdata/sf0.001"


def _canon_map(surfaces, alias_dict) -> set[tuple[str, str]]:
    from stanford_relation_extractor_spark.sources.synthetic import (
        CORP_SUFFIXES,
        NICKNAMES,
    )

    return {
        (r.node, r.rep)
        for r in canonicalize.build_canon_map(
            surfaces, alias_dict, NICKNAMES, CORP_SUFFIXES
        ).collect()
    }


def _both_paths(monkeypatch, surfaces, alias_dict):
    with monkeypatch.context() as m:
        m.setattr(canonicalize, "CANON_LOCAL_MAX_SURFACES", 0)  # force distributed
        dist = _canon_map(surfaces, alias_dict)
    return dist, _canon_map(surfaces, alias_dict)


def test_local_path_matches_distributed_on_corpus(spark, monkeypatch):
    from stanford_relation_extractor_spark.operators.canonicalize import (
        vote_surfaces,
    )
    from stanford_relation_extractor_spark.plans.pipeline import build_stages
    from stanford_relation_extractor_spark.sources.synthetic import alias_dict_df

    stages = build_stages(spark, SF_DIR)
    surfaces = vote_surfaces(stages["votes"]).localCheckpoint(eager=True)
    dist, local = _both_paths(monkeypatch, surfaces, alias_dict_df(spark, SF_DIR))
    assert dist == local
    assert len(local) > 50  # the corpus genuinely exercises the map


def test_local_path_matches_distributed_on_hot_blocks_and_margins(spark, monkeypatch):
    """Constructed stress set: hot block beyond the cap (sorted
    neighborhood tier), margin-rule rejections/ties, nested orgs,
    corporate suffixes, digit-guarded near-typos."""
    surfaces = spark.createDataFrame(
        [(f"John{i:03d} Smith", "PERSON") for i in range(90)]
        + [
            ("Acme Corp", "ORGANIZATION"),
            ("Acme", "ORGANIZATION"),
            ("Acme Securities", "ORGANIZATION"),
            ("Bobby Person000001", "PERSON"),
            ("Bob Person000001", "PERSON"),
            ("Zeta Person000009", "PERSON"),
            ("Org004 Securities", "ORGANIZATION"),
            ("Org009 Securities", "ORGANIZATION"),
            ("Org004", "ORGANIZATION"),
            ("Org009", "ORGANIZATION"),
        ],
        "surface string, ner string",
    )
    alias_dict = spark.createDataFrame(
        [
            ("bobby person000001", "Bob Person000001", 0.9),
            ("zeta person000009", "Zed Person000009", 0.5),
            ("zeta person000009", "Zoe Person000009", 0.45),  # margin fails
        ],
        "alias string, canonical string, link_score double",
    )
    dist, local = _both_paths(monkeypatch, surfaces, alias_dict)
    assert dist == local
    as_dict = dict(local)
    assert as_dict.get("Org004 Securities") == "Org004"
    assert as_dict.get("Org009 Securities") == "Org009"
    assert "Zeta Person000009" not in as_dict  # margin rule rejected
    assert as_dict.get("Bobby Person000001") == "Bob Person000001"


def test_long_chain_component_matches_union_find(spark, monkeypatch):
    """r4 ADVICE: a >4-diameter edit-distance-1 chain ('abbbbb Smith' ..
    'aaaaaa Smith', each adjacent pair one typo apart) must collapse to
    ONE representative on BOTH paths — the distributed CC used to stop
    at 4 fixed label-propagation rounds and split/mislabel the chain."""
    chain = [("a" * (6 - i) + "b" * i + " Smith", "PERSON") for i in range(6)]
    surfaces = spark.createDataFrame(chain, "surface string, ner string")
    alias_dict = spark.createDataFrame(
        [], "alias string, canonical string, link_score double"
    )
    dist, local = _both_paths(monkeypatch, surfaces, alias_dict)
    assert dist == local
    as_dict = dict(dist)
    reps = set(as_dict.values())
    mapped = set(as_dict)
    # the whole chain lands on one representative, and every mapped
    # node maps onto the true representative (idempotency: no node maps
    # onto another mapped node)
    if as_dict:
        assert len(reps) == 1
        assert not (reps & mapped)


def test_gate_forces_distributed_beyond_threshold(spark, monkeypatch):
    """With the gate at 1, the distributed path runs (probe collects at
    most gate+1 rows) and still produces the same map."""
    surfaces = spark.createDataFrame(
        [("Acme Corp", "ORGANIZATION"), ("Acme", "ORGANIZATION")],
        "surface string, ner string",
    )
    alias_dict = spark.createDataFrame(
        [], "alias string, canonical string, link_score double"
    )
    monkeypatch.setattr(canonicalize, "CANON_LOCAL_MAX_SURFACES", 1)
    local_calls = []
    local = canonicalize.build_canon_map_local
    monkeypatch.setattr(
        canonicalize, "build_canon_map_local",
        lambda *a: local_calls.append(a) or local(*a),
    )
    assert _canon_map(surfaces, alias_dict) == {("Acme Corp", "Acme")}
    assert not local_calls
