"""Pure-Python extractor unit tests (TokensRegexExtractor semantics)."""

from __future__ import annotations

import re

from stanford_relation_extractor_spark.operators.extractors import (
    _compiled_pattern_bank,
    _compiled_trigger_bank,
    _stat_context,
    mask,
    votes_for_sentence,
)
from stanford_relation_extractor_spark.operators.mentions import detect
from stanford_relation_extractor_spark.sources.synthetic import detector_config

PBANK = _compiled_pattern_bank()
TBANK = _compiled_trigger_bank()
MATCHERS = [(ner, re.compile(rx)) for ner, rx in detector_config(["NATION_2"])]


def _votes(sent):
    mentions = detect(sent, MATCHERS)
    return votes_for_sentence(sent, mentions, PBANK, TBANK, _stat_context())


def _by(votes, extractor):
    return {(v[0], v[8], v[4]) for v in votes if v[9] == extractor}


def test_mask_replaces_both_spans():
    sent = "Alice Person000001 , 34 , lives in NATION_2 ."
    e = {"begin": 0, "end": 18, "surface": "Alice Person000001", "ner": "PERSON"}
    s = {"begin": 21, "end": 23, "surface": "34", "ner": "NUMBER"}
    assert mask(sent, e, s) == "⟨E⟩ , ⟨S⟩ , lives in NATION_2 ."


def test_per_age_comma_pattern():
    votes = _votes("Alice Person000001 , 34 , lives in NATION_2 .")
    assert ("Alice Person000001", "per:age", "34") in _by(votes, "pattern")
    assert ("Alice Person000001", "per:countries_of_residence", "NATION_2") in _by(votes, "pattern")
    assert ("Alice Person000001", "per:countries_of_residence", "NATION_2") in _by(votes, "trigger")
    assert _by(votes, "statistical") == {
        ("Alice Person000001", "per:age", "34"),
        ("Alice Person000001", "per:origin", "NATION_2"),
    }


def test_per_age_paren_and_years_old():
    v1 = _votes("Bob Person000002 ( 63 ) works for Org001 .")
    assert ("Bob Person000002", "per:age", "63") in _by(v1, "pattern")
    assert ("Bob Person000002", "per:employee_of", "Org001") in _by(v1, "pattern")
    assert _by(v1, "statistical") == {
        ("Bob Person000002", "per:age", "63"),
        ("Bob Person000002", "per:member_of", "Org001"),
    }
    v2 = _votes("Bob Person000002 is 63 years old .")
    assert ("Bob Person000002", "per:age", "63") in _by(v2, "pattern")
    assert _by(v2, "statistical") == set()


def test_spouse_directional():
    votes = _votes("Alice Person000001 is married to David Person500001 .")
    pat = _by(votes, "pattern")
    assert ("Alice Person000001", "per:spouse", "David Person500001") in pat
    # reverse direction is window-only (entity-first rule set)
    assert ("David Person500001", "per:spouse", "Alice Person000001") not in pat


def test_founded_by_vs_founded():
    votes = _votes("Org005 was founded by Alice Person000001 in 1997 .")
    pat = _by(votes, "pattern")
    assert ("Org005", "org:founded_by", "Alice Person000001") in pat
    assert ("Org005", "org:founded", "1997") in pat
    # the person does NOT get a birth date from this sentence
    assert ("Alice Person000001", "per:date_of_birth", "1997") not in pat
    assert _by(votes, "statistical") == {
        ("Org005", "org:shareholders", "Alice Person000001"),
        ("Org005", "org:founded", "1997"),
        ("Alice Person000001", "per:member_of", "Org005"),
    }


def test_window_weight_normalized_across_relations():
    votes = _votes("Alice Person000001 , 34 , lives in NATION_2 .")
    # PERSON x NUMBER admits only per:age -> full 0.4
    w_age = [v[10] for v in votes if v[9] == "window" and v[8] == "per:age"]
    assert w_age == [0.4]
    # PERSON x COUNTRY admits 5 relations -> 0.08 each
    w_country = sorted(v[10] for v in votes if v[9] == "window" and v[4] == "NATION_2")
    assert w_country == [0.08] * 5


def test_window_only_never_reaches_threshold():
    votes = _votes("Org001 , 34 , lives in NATION_2 .")  # nonsense pairing
    assert all(v[10] < 0.5 for v in votes if v[9] == "window")


def test_distractor_yields_nothing():
    assert _votes("The shipment arrived on time .") == []


def test_pronoun_antecedent_resolution_in_fused_path(spark):
    """J2 in-pipeline: a pronoun turn votes under the most recent
    preceding PERSON surface of its conversation; with no antecedent the
    pronoun drops; state resets across conversations."""
    from pyspark.sql import functions as F

    from stanford_relation_extractor_spark.operators.extractors import (
        extract_votes,
    )
    from stanford_relation_extractor_spark.sources.synthetic import detector_config

    config = detector_config(["GERMANY"])
    rows = [
        ("c1", 0, "u", "Alice Person000001 is 34 years old .", None, None),
        ("c1", 1, "u", "He lives in GERMANYville .", None, None),
        # c2 starts with the pronoun -> no antecedent -> no votes
        ("c2", 0, "u", "He lives in GERMANYville .", None, None),
        ("c2", 1, "u", "Bob Person000002 is 40 years old .", None, None),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    votes = extract_votes(t, config).collect()
    by_conv_turn = {}
    for r in votes:
        by_conv_turn.setdefault((r["conv_id"], r["turn_idx"]), set()).add(
            (r["entity_name"], r["relation"])
        )
    assert ("Alice Person000001", "per:cities_of_residence") in by_conv_turn[("c1", 1)]
    assert ("c2", 0) not in by_conv_turn  # unresolved pronoun casts nothing


def test_cataphoric_pronoun_never_resolves_forward(spark):
    """Corpus-v3 k21 semantics: a pronoun BEFORE a person in the same
    sentence resolves to the conversation's PRIOR antecedent — never to
    the in-sentence following mention; with no prior antecedent the
    pronoun drops (and a self-pair with the prior antecedent is
    sanity-dropped)."""
    from stanford_relation_extractor_spark.operators.extractors import (
        extract_votes,
    )
    from stanford_relation_extractor_spark.sources.synthetic import detector_config

    config = detector_config(["GERMANY"])
    rows = [
        ("c1", 0, "u", "Alice Person000001 is 34 years old .", None, None),
        ("c1", 1, "u", "He greeted Bob Person000002 warmly .", None, None),
        # c2: cataphora with NO prior antecedent -> pronoun drops ->
        # only one mention left -> no votes at all
        ("c2", 0, "u", "He greeted Carol Person000003 warmly .", None, None),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    votes = extract_votes(t, config).collect()
    pairs = {
        (r["conv_id"], r["entity_name"], r["slot_value"]) for r in votes
    }
    # the c1 pronoun votes as Alice (prior antecedent), paired with Bob
    assert ("c1", "Alice Person000001", "Bob Person000002") in pairs
    # never as Bob-the-following-mention resolving the pronoun
    assert ("c1", "Bob Person000002", "Bob Person000002") not in pairs
    assert not any(c == "c2" for c, _e, _s in pairs)
