"""Round-4: PATTERN_BANK parity against the reference's own TokensRegex
`.rules` files, parsed programmatically (sources/rulesfiles.py) — the
pattern-oracle leg no longer rests solely on hand-mirrored constants.

Reference anchors: `classify/TokensRegexExtractor.java:31-60` (filename
binding; in-file result: strings ignored), `edu/stanford/nlp/kbp/
defs.rules` (shared macros), the 34 per-relation rules files.
"""

from __future__ import annotations

import os

import pytest

from stanford_relation_extractor_spark.sources import rulesfiles as rf

needs_reference = pytest.mark.skipif(
    not os.path.isdir(rf.RULES_DIR), reason="reference data not mounted"
)

# The frozen engine-vs-rules divergence ledger: per relation, the
# engine's pattern lexemes with NO stem-match in the `.rules`-derived
# lexicon. Every entry is a DELIBERATE surface-form extension (the
# rules files key on CoreNLP lemmas — 'bear' for born, 'die' for died —
# or on different formulations entirely); anything NEW appearing here
# means a PATTERN_BANK edit drifted from the reference rules and must
# be justified by updating this ledger.
ENGINE_ONLY_LEDGER = {
    "org:dissolved": {"disbanded", "down", "shut"},
    "org:founded": {"established"},
    "org:founded_by": {"established", "founded", "started"},
    "org:number_of_employees/members": {"employees", "members", "staff"},
    "org:parents": {"division", "unit"},
    "org:political/religious_affiliation": {
        "aligned", "charity", "group", "movement", "organization", "party",
    },
    "org:subsidiaries": {"unit"},
    "per:alternate_names": {"formerly"},
    "per:charges": {"accused"},
    "per:cities_of_residence": {"lived", "lives", "resided", "resides", "residing"},
    "per:city_of_birth": {"born"},
    "per:countries_of_residence": {"lived", "lives", "resided", "resides", "residing"},
    "per:country_of_birth": {"born"},
    "per:employee_of": {"employee", "worked", "works"},
    "per:other_family": {"grandchild"},
    "per:religion": {"converted", "practiced", "practices"},
    "per:schools_attended": {"studied"},
    "per:stateorprovince_of_birth": {"born"},
    "per:stateorprovinces_of_residence": {
        "lived", "lives", "resided", "resides", "residing",
    },
}


@needs_reference
def test_rules_files_parse_as_data():
    lex = rf.rules_lexicon()
    assert len(lex) == 34  # 35 shipped files minus defs.rules
    assert sum(1 for v in lex.values() if v) == 32  # org_alternate_names + org_website carry no lexemes
    age = rf.parse_rules_file(os.path.join(rf.RULES_DIR, "per_age.rules"))
    assert len(age) == 9
    assert {"age", "old", "years", "turn", "birthday"} <= lex["per:age"]
    # weighted rules (the "From Ce's" blocks) parse their confidence
    top = rf.parse_rules_file(
        os.path.join(rf.RULES_DIR, "org_top_membersSLASHemployees.rules")
    )
    assert any(r["weight"] is not None for r in top)


@needs_reference
def test_filename_binds_relation_result_strings_are_stale():
    """TokensRegexExtractor emits the FILENAME relation; six shipped
    birth/death files carry a stale per:stateorprovinces_of_residence
    result: field the runtime ignores — the parser must key on the
    filename, not the field."""
    stale = rf.stale_results()
    assert set(stale) == {
        "per:city_of_birth", "per:city_of_death", "per:country_of_birth",
        "per:country_of_death", "per:stateorprovince_of_birth",
        "per:stateorprovince_of_death",
    }
    assert all(v == {"per:stateorprovinces_of_residence"} for v in stale.values())


@needs_reference
def test_top_title_is_subset_of_defs_macro():
    import re

    from stanford_relation_extractor_spark.operators.extractors import _TOP_TITLE

    defs_titles = rf.defs_macros()["TOP_TITLE"]
    engine_titles = set(re.findall(r"[a-z]+", _TOP_TITLE.replace("(?:", "")))
    assert engine_titles <= defs_titles
    assert len(engine_titles) >= 10


@needs_reference
def test_every_rules_relation_has_a_bank_entry():
    from stanford_relation_extractor_spark.operators.extractors import PATTERN_BANK

    lex = rf.rules_lexicon()
    uncovered = [r for r, v in lex.items() if v and r not in PATTERN_BANK]
    assert uncovered == []


@needs_reference
def test_engine_only_ledger_frozen():
    from stanford_relation_extractor_spark.operators.extractors import PATTERN_BANK

    eo = rf.engine_only_words(PATTERN_BANK)
    assert eo == ENGINE_ONLY_LEDGER


@needs_reference
def test_ledger_binds_on_bank_drift():
    """Adding a trigger word the rules files don't license must surface
    in the ledger (the gate actually fires)."""
    from stanford_relation_extractor_spark.operators.extractors import PATTERN_BANK

    drifted = dict(PATTERN_BANK)
    drifted["per:spouse"] = PATTERN_BANK["per:spouse"] + [r"E wedded S"]
    eo = rf.engine_only_words(drifted)
    assert "wedded" in eo.get("per:spouse", set())


@needs_reference
def test_weighted_rules_vote_their_file_weight():
    """Round-5: where a shipped `.rules` file carries trailing
    confidences, the relation's pattern votes score the file's MAX
    weight instead of the uniform PATTERN_WEIGHT; unweighted files keep
    PATTERN_WEIGHT (extractors._pattern_weights <-
    rulesfiles.relation_pattern_weights)."""
    import re

    from stanford_relation_extractor_spark.operators.extractors import (
        PATTERN_WEIGHT,
        _compiled_pattern_bank,
        _compiled_trigger_bank,
        votes_for_sentence,
    )
    from stanford_relation_extractor_spark.operators.mentions import detect
    from stanford_relation_extractor_spark.sources.rulesfiles import (
        relation_pattern_weights,
    )
    from stanford_relation_extractor_spark.sources.synthetic import detector_config

    weights = relation_pattern_weights()
    # the shipped mined-pattern weights exist for exactly these families
    assert weights["per:spouse"] == 0.833333
    assert "per:age" not in weights

    pbank = _compiled_pattern_bank()
    tbank = _compiled_trigger_bank()
    matchers = [(ner, re.compile(rx)) for ner, rx in detector_config(["NATION_2"])]

    sent = "Alice Person000001 is married to David Person500001 ."
    votes = votes_for_sentence(sent, detect(sent, matchers), pbank, tbank)
    spouse = [v for v in votes if v[8] == "per:spouse" and v[9] == "pattern"]
    assert spouse and all(v[10] == weights["per:spouse"] for v in spouse)

    sent2 = "Alice Person000001 , 34 , arrived ."
    votes2 = votes_for_sentence(sent2, detect(sent2, matchers), pbank, tbank)
    age = [v for v in votes2 if v[8] == "per:age" and v[9] == "pattern"]
    assert age and all(v[10] == PATTERN_WEIGHT for v in age)
