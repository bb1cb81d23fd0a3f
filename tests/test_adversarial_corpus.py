"""Round-4 corpus adversarials (k22-k24): same-surname precision under
the capped J8 cascade, nested-ORG containment merge, and the
cross-sentence pair negative.

Reference anchors: `entitylinking/EntityLinker.java:23-37,67-84`
(CORPORATE_SUFFIXES excludes 'Securities'; the sameEntity cascade),
`evaluate/GraphConsistencyPostProcessors.java:53-249` (entity merging),
per-sentence pair generation (`classify/TokensRegexExtractor.java:
80-113` annotates and matches within single sentences).
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _stages(spark):
    from stanford_relation_extractor_spark.plans.pipeline import build_stages

    return build_stages(spark, SF_DIR)


def test_same_surname_pair_is_generated_and_rejected():
    """k22 precision: the surname-sake pair shares a J8 block (same
    surname token + first char), IS judged, and is correctly refused —
    capping the cascade can't be achieved by never comparing."""
    from stanford_relation_extractor_spark.functions.text import (
        blocking_key,
        same_entity,
    )
    from stanford_relation_extractor_spark.operators.canonicalize import (
        _block_pairs,
        _blocks,
    )

    a, b = "Alma Person000123", "Alice Person000123"
    assert blocking_key(a) == blocking_key(b)  # same block
    assert not same_entity(a, b, "PERSON")  # judged: distinct

    blocks = _blocks([(a, "PERSON"), (b, "PERSON")])
    pairs = [p for members in blocks.values() for p in _block_pairs(members)]
    assert len(pairs) == 1  # the pair IS generated (not dodged)


def test_same_surname_never_merges_in_canon_map(spark):
    """End-to-end: no canon_map row links a surname-sake surface to its
    same-surname canonical person (or vice versa)."""
    from stanford_relation_extractor_spark.sources.synthetic import SURNAMESAKES

    canon = _stages(spark)["canon_map"]
    sakes = tuple(SURNAMESAKES.values())
    rx = r"^(?:" + "|".join(sakes) + r") Person[0-9]{6}$"
    bad = canon.filter(
        F.col("node").rlike(rx) | F.col("rep").rlike(rx)
    ).collect()
    assert bad == []


def test_nested_org_merges_onto_parent(spark):
    """k23: 'OrgNNN Securities' must merge onto 'OrgNNN' (containment
    cascade; 'Securities' is NOT a corporate suffix so no dictionary
    edge exists) — and ONLY onto its own parent, never a sibling org
    one digit away (the near-typo digit guard)."""
    canon = _stages(spark)["canon_map"]
    rows = canon.filter(F.col("node").endswith(" Securities")).collect()
    assert rows, "nested-org surfaces must appear in the canon map"
    for r in rows:
        assert r.rep == r.node[: -len(" Securities")]


def test_nested_org_alternate_name_emitted(spark):
    alt = _stages(spark)["alt_names"]
    rows = alt.filter(F.col("relation") == "org:alternate_names").collect()
    assert rows
    for r in rows:
        assert r.slot_value.endswith(" Securities")
        assert r.entity_name == r.slot_value[: -len(" Securities")]


def test_digit_difference_is_never_a_typo():
    from stanford_relation_extractor_spark.functions.text import same_entity

    assert not same_entity("Org004 Securities", "Org009 Securities", "ORGANIZATION")
    assert not same_entity("Boeing 737", "Boeing 747", "ORGANIZATION")
    # a genuine one-letter typo with identical digits still merges
    assert same_entity("Orgg003", "Org003", "ORGANIZATION")


def test_cross_sentence_pair_never_votes(spark):
    """k24: entity in sentence 0, CITY in sentence 1 — pair generation
    is per-sentence, so the turn contributes NO votes at all."""
    from stanford_relation_extractor_spark.operators.extractors import (
        extract_votes,
    )
    from stanford_relation_extractor_spark.sources.synthetic import (
        country_gazetteer,
        detector_config,
    )

    t = spark.createDataFrame(
        [("c1", 0, "user",
          "Alice Person000001 arrived early . Flights to FRANCEville resumed .",
          None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    votes = extract_votes(t, detector_config(country_gazetteer(spark, SF_DIR)))
    assert votes.count() == 0


def test_cross_sentence_person_still_updates_antecedent(spark):
    """The k24 person is still the J2 antecedent for a following
    pronoun turn — suppression of cross-sentence pairs must not
    suppress antecedent tracking."""
    from stanford_relation_extractor_spark.operators.extractors import (
        extract_votes,
    )
    from stanford_relation_extractor_spark.sources.synthetic import (
        country_gazetteer,
        detector_config,
    )

    t = spark.createDataFrame(
        [
            ("c1", 0, "user",
             "Alice Person000001 arrived early . Flights to FRANCEville resumed .",
             None),
            ("c1", 1, "user", "He lives in GERMANYville .", None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    votes = extract_votes(t, detector_config(country_gazetteer(spark, SF_DIR)))
    ents = {r.entity_name for r in votes.select("entity_name").distinct().collect()}
    assert ents == {"Alice Person000001"}
