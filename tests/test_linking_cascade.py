"""J8 same-entity cascade, F4 acronyms, stage-5 canonicalization, and
the statistical trainer's A8 feature-count filter."""

from __future__ import annotations

from stanford_relation_extractor_spark.functions.text import (
    acronym,
    block_keys,
    blocking_key,
    is_acronym_of,
    no_special_chars,
    same_entity,
    strip_corp,
)


def test_no_special_chars():
    assert no_special_chars('A-B "C\'s"') == "ab cs"


def test_strip_corp_and_determiner():
    assert strip_corp("The Acme Widget Corp.") == "Acme Widget"
    assert strip_corp("Org007 Inc") == "Org007"


def test_acronym_match():
    assert acronym(["International", "Business", "Machines"]) == "IBM"
    assert is_acronym_of("IBM", ["International", "Business", "Machines"])
    assert is_acronym_of("I.B.M.", ["International", "Business", "Machines"])
    assert not is_acronym_of("IBX", ["International", "Business", "Machines"])


def test_same_entity_cascade():
    assert same_entity("Acme Widget Corp", "Acme Widget", "ORGANIZATION")
    assert same_entity("IBM", "International Business Machines", "ORGANIZATION")
    assert same_entity("Acme Widgett", "Acme Widget", "ORGANIZATION")  # lev<=1
    assert not same_entity("Acme Widget", "Zenith Widget", "PERSON")
    assert same_entity("John Q. Smith", "John Smith", "PERSON")
    assert not same_entity("John Smith", "John Jones", "PERSON")


def test_blocking_key_groups_variants():
    assert blocking_key("Acme Widget Corp") == blocking_key("Acme Widget")
    # exact (block, block_ext) lists: the last-token family, plus the
    # first-token family for multi-token ORGANIZATIONs
    assert block_keys("Bank of America Securities", "ORGANIZATION") == [
        ("securities:b", "securities:ban"),
        ("bank:b", "bank:ban"),
    ]
    assert block_keys("Bank of America", "ORGANIZATION") == [
        ("america:b", "america:ban"),
        ("bank:b", "bank:ban"),
    ]
    assert block_keys("Org003", "ORGANIZATION") == [("org003:o", "org003:org")]
    assert block_keys("John Q. Smith", "PERSON") == [("smith:j", "smith:joh")]
    assert block_keys("--", "ORGANIZATION") == []  # normalizes to empty
    assert block_keys("Boeing 737", "ORGANIZATION") == [
        ("737:b", "737:boe"),
        ("boeing:b", "boeing:boe"),
    ]
    assert block_keys("737", "ORGANIZATION") == [("737:7", "737:737")]


def test_canonicalize_entities_merges_variants(spark):
    from stanford_relation_extractor_spark.operators.canonicalize import (
        build_canon_map,
        rewrite_votes,
        vote_surfaces,
    )

    triples = spark.createDataFrame(
        [
            ("Acme Widget", "ORGANIZATION", "org:founded", "1997", "DATE", 2, 0.9),
            ("Acme Widget Corp", "ORGANIZATION", "org:website", "www.a.com", "URL", 2, 0.9),
            ("Zenith Labs", "ORGANIZATION", "org:founded", "1998", "DATE", 2, 0.9),
        ],
        "entity_name string, entity_type string, relation string, slot_value string, "
        "slot_ner string, n_agree int, score double",
    )
    no_aliases = spark.createDataFrame([], "alias string, canonical string, link_score double")
    canon_map = build_canon_map(vote_surfaces(triples), no_aliases, {}, ())
    out = rewrite_votes(triples, canon_map).collect()
    names = {r["entity_name"] for r in out}
    # the two Acme variants collapse onto one representative; Zenith untouched
    assert len(names) == 2
    assert "Zenith Labs" in names


def test_feature_count_threshold(spark):
    from stanford_relation_extractor_spark.operators.statistical import (
        feature_count_filter,
    )

    feats = spark.createDataFrame(
        [("c1", 0, 0, "E", "PERSON", "S", "NUMBER", "rare")]
        + [("c1", i, 0, "E", "PERSON", "S", "NUMBER", "common") for i in range(5)],
        "conv_id string, turn_idx int, sent_idx int, entity_name string, "
        "entity_type string, slot_value string, slot_ner string, feature string",
    )
    kept = {r["feature"] for r in feature_count_filter(feats).collect()}
    assert kept == {"common"}
