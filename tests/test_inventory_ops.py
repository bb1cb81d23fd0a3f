"""P3 mention sanity, J2 antecedents, O3 approx dedup, P8/P9 guidelines,
F6 alternate-name validity."""

from __future__ import annotations

from stanford_relation_extractor_spark.functions.text import is_valid_alternate_name
from stanford_relation_extractor_spark.operators.mentions import mention_sanity_ok


def test_mention_sanity_filters():
    assert not mention_sanity_ok("one", "NUMBER")
    assert not mention_sanity_ok("1234567890123456789", "NUMBER")
    assert mention_sanity_ok("34", "NUMBER")
    assert not mention_sanity_ok("Alice", "PERSON")  # single token
    assert mention_sanity_ok("Alice Person000001", "PERSON")


def test_alternate_name_validity():
    assert not is_valid_alternate_name("Acme Corp.", "Acme")  # same after stripping
    assert is_valid_alternate_name("Acme Widgets", "Acme Gadgets")


def test_antecedent_propagation():
    from stanford_relation_extractor_spark.operators.extractors import AntecedentState

    def m(surface, ner):
        return {"begin": 0, "end": len(surface), "surface": surface, "ner": ner}

    alice, org = m("Alice Person000001", "PERSON"), m("Org001", "ORGANIZATION")
    state = AntecedentState()
    # turns of one conversation, fed in (conv_id, turn_idx) order
    assert state.resolve("c1", [alice]) == [alice]
    assert state.resolve("c1", [m("She", "PRONOUN")]) == [{**alice, "end": 3}]
    assert state.resolve("c1", [org]) == [org]
    assert state.resolve("c1", [m("It", "PRONOUN")]) == [{**org, "end": 2}]
    # a new conversation starts without antecedents: the pronoun drops
    assert state.resolve("c2", [m("He", "PRONOUN")]) == []


def test_dedup_approximate_collapses_variants(spark):
    from stanford_relation_extractor_spark.operators.consistency import (
        dedup_approximate,
    )

    rows = [
        ("E", "PERSON", "per:employee_of", "Acme Widget", "ORGANIZATION", 2, 0.9),
        ("E", "PERSON", "per:employee_of", "Acme Widget Corp", "ORGANIZATION", 2, 0.8),
        ("E", "PERSON", "per:employee_of", "Zenith Labs", "ORGANIZATION", 2, 0.7),
    ]
    df = spark.createDataFrame(
        [r + ("c1", 0, 0) for r in rows],
        "entity_name string, entity_type string, relation string, slot_value string, "
        "slot_ner string, n_agree int, score double, conv_id string, turn_idx int, sent_idx int",
    )
    got = {r["slot_value"] for r in dedup_approximate(df).collect()}
    assert got == {"Acme Widget", "Zenith Labs"}


def test_conform_to_guidelines(spark):
    from stanford_relation_extractor_spark.operators.consistency import (
        conform_to_guidelines,
    )

    rows = [
        ("E", "PERSON", "per:title", "president", "TITLE", 2, 0.9),
        ("E", "PERSON", "per:title", "hero", "TITLE", 2, 0.9),  # invalid title
        ("O", "ORGANIZATION", "org:top_members/employees", "spokesman", "PERSON", 2, 0.9),  # invalid
        ("E", "PERSON", "per:date_of_birth", "1996", "DATE", 2, 0.9),
        ("E", "PERSON", "per:date_of_birth", "last tuesday", "DATE", 2, 0.9),  # bad shape
        ("Org007", "ORGANIZATION", "org:website", "www.org7.com", "URL", 2, 0.9),
        ("Org007", "ORGANIZATION", "org:website", "www.unrelated.com", "URL", 2, 0.9),  # unrelated
    ]
    df = spark.createDataFrame(
        [r + ("c1", 0, 0) for r in rows],
        "entity_name string, entity_type string, relation string, slot_value string, "
        "slot_ner string, n_agree int, score double, conv_id string, turn_idx int, sent_idx int",
    )
    got = {(r["relation"], r["slot_value"]) for r in conform_to_guidelines(df).collect()}
    assert got == {
        ("per:title", "president"),
        ("per:date_of_birth", "1996"),
        ("org:website", "www.org7.com"),
    }


def test_geo_consistency(spark):
    from stanford_relation_extractor_spark.operators.worldknowledge import (
        check_geo_consistency,
        validate_city_slots,
    )

    geo = spark.createDataFrame(
        [("NATION_2ville", "NATION_2"), ("NATION_3ville", "NATION_3")],
        "city string, country string",
    )
    triples = spark.createDataFrame(
        [
            # consistent: city maps to the accepted residence country
            ("A", "PERSON", "per:cities_of_residence", "NATION_2ville", "CITY", 2, 0.9),
            ("A", "PERSON", "per:countries_of_residence", "NATION_2", "COUNTRY", 2, 0.9),
            # contradiction: B lives in NATION_3 but city maps to NATION_2
            ("B", "PERSON", "per:cities_of_residence", "NATION_2ville", "CITY", 2, 0.9),
            ("B", "PERSON", "per:countries_of_residence", "NATION_3", "COUNTRY", 2, 0.9),
            # no country fill -> city kept
            ("C", "PERSON", "per:cities_of_residence", "NATION_3ville", "CITY", 2, 0.9),
            # unknown city -> dropped by validity, kept by consistency
            ("D", "PERSON", "per:cities_of_residence", "Atlantisville", "CITY", 2, 0.9),
        ],
        "entity_name string, entity_type string, relation string, slot_value string, "
        "slot_ner string, n_agree int, score double",
    )
    consistent = {
        (r["entity_name"], r["relation"], r["slot_value"])
        for r in check_geo_consistency(triples, geo).collect()
    }
    assert ("A", "per:cities_of_residence", "NATION_2ville") in consistent
    assert ("B", "per:cities_of_residence", "NATION_2ville") not in consistent
    assert ("C", "per:cities_of_residence", "NATION_3ville") in consistent
    assert ("D", "per:cities_of_residence", "Atlantisville") in consistent

    valid = {r["slot_value"] for r in validate_city_slots(triples, geo).collect()}
    assert "Atlantisville" not in valid
    assert "NATION_2ville" in valid
