"""Round-2 small-gap coverage: the two previously pattern-less
relations."""

from __future__ import annotations


def _votes(sent: str, mentions: list[dict]) -> set[tuple[str, str]]:
    from stanford_relation_extractor_spark.operators.extractors import (
        _compiled_pattern_bank,
        _compiled_trigger_bank,
        _stat_context,
        votes_for_sentence,
    )

    out = votes_for_sentence(
        sent, mentions, _compiled_pattern_bank(), _compiled_trigger_bank(), _stat_context()
    )
    return {(v[8], v[9]) for v in out}  # (relation, extractor)


def _m(begin: int, surface: str, ner: str) -> dict:
    return {"begin": begin, "end": begin + len(surface), "surface": surface, "ner": ner}


def test_per_other_family_patterns():
    sent = "Alice Person000001 's cousin , Emma Person000501 , visited ."
    got = _votes(sent, [_m(0, "Alice Person000001", "PERSON"), _m(31, "Emma Person000501", "PERSON")])
    assert ("per:other_family", "pattern") in got
    assert ("per:other_family", "trigger") in got
    assert {rel for rel, ex in got if ex == "statistical"} == {
        "per:alternate_names", "per:children", "per:other_family", "per:parents",
        "per:siblings",
    }


def test_org_affiliation_patterns():
    sent = "Org001 is affiliated with Buddhism ."
    got = _votes(sent, [_m(0, "Org001", "ORGANIZATION"), _m(26, "Buddhism", "RELIGION")])
    assert ("org:political/religious_affiliation", "pattern") in got
    assert ("org:political/religious_affiliation", "trigger") in got
    assert ("org:political/religious_affiliation", "statistical") in got
