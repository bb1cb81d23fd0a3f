"""Round-4: PATTERN_BANK parity against the reference's own TokensRegex
`.rules` files, parsed programmatically (sources/rulesfiles.py) — the
pattern-oracle leg no longer rests solely on hand-mirrored constants.

Reference anchors: `classify/TokensRegexExtractor.java:31-60` (filename
binding; in-file result: strings ignored), `edu/stanford/nlp/kbp/
defs.rules` (shared macros), the 34 per-relation rules files.
"""

from __future__ import annotations

import os
import re

from conftest import needs_reference

from stanford_relation_extractor_spark.sources import rulesfiles as rf

# Audits of the engine against the `.rules` files. The lexicon is the
# set of literal trigger lexemes the reference's patterns key on (token
# literals ``/word|word/``, ``lemma:/.../``, ``word:/.../`` alternations,
# with referenced defs macros expanded).

_LITERAL_RX = re.compile(r"/((?:[^/\\]|\\.)*)/")
_MACRO_RX = re.compile(r"\$([A-Z_]+)")
_CHARCLASS_RX = re.compile(r"\[([A-Za-z])[A-Za-z]\]")  # [Yy]ears -> Years

# core structural macros carrying no trigger lexemes
_STRUCTURAL_MACROS = {
    "ENTITY", "SLOT_VALUE", "SLOT_VALUE_ORG", "ORG", "PERSON", "DATE",
    "CAPITALIZED", "URL",
}


def _lexemes(fragment: str) -> set[str]:
    """Alpha lexemes (len >= 3, lowercase) from the literal token
    regexes of one pattern fragment. Case-toggle classes collapse
    ([cC][eE][oO] -> ceo); alternations split on |; anything left with
    non-alpha residue is regex structure, not a lexeme."""
    out: set[str] = set()
    for lit in _LITERAL_RX.findall(fragment):
        for alt in lit.split("|"):
            alt = _CHARCLASS_RX.sub(r"\1", alt)
            word = re.sub(r"[^A-Za-z]", "", alt)
            if len(word) >= 3:
                out.add(word.lower())
    return out


def defs_macros(rules_dir: str = rf.RULES_DIR) -> dict[str, set[str]]:
    """$NAME -> trigger lexemes from defs.rules macro definitions."""
    out: dict[str, set[str]] = {}
    path = os.path.join(rules_dir, "defs.rules")
    for raw in open(path, encoding="utf-8"):
        line = raw.strip()
        if line.startswith("#") or line.startswith("//"):
            continue
        m = re.match(r"\$([A-Z_]+)\s*=\s*(.*)$", line)
        if m:
            out[m.group(1)] = _lexemes(m.group(2))
    return out


def rules_lexicon(rules_dir: str = rf.RULES_DIR) -> dict[str, set[str]]:
    """canonical relation -> trigger lexemes across its `.rules` file,
    with referenced defs macros expanded. Relations whose file has no
    rule lines (org_alternate_names.rules is empty) map to set()."""
    macros = defs_macros(rules_dir)
    out: dict[str, set[str]] = {}
    for fn in sorted(os.listdir(rules_dir)):
        if not fn.endswith(".rules") or fn == "defs.rules":
            continue
        rel = rf.relation_for_file(fn)
        lex: set[str] = set()
        for row in rf.parse_rules_file(os.path.join(rules_dir, fn)):
            frag = row["pattern"]
            lex |= _lexemes(frag)
            for mac in _MACRO_RX.findall(frag):
                if mac not in _STRUCTURAL_MACROS:
                    lex |= macros.get(mac, set())
        out[rel] = out.get(rel, set()) | lex
    return out


def stale_results(rules_dir: str = rf.RULES_DIR) -> dict[str, set[str]]:
    """Audit: filename-relation -> set of DIFFERENT in-file result:
    strings (the stale fields the runtime ignores)."""
    out: dict[str, set[str]] = {}
    for fn in sorted(os.listdir(rules_dir)):
        if not fn.endswith(".rules") or fn == "defs.rules":
            continue
        rel = rf.relation_for_file(fn)
        declared = {
            r["relation_declared"]
            for r in rf.parse_rules_file(os.path.join(rules_dir, fn))
        }
        wrong = {d for d in declared if d != rel}
        if wrong:
            out[rel] = wrong
    return out


def _stemmatch(a: str, b: str) -> bool:
    """Inflection-tolerant lexeme match: equality or prefix after the
    y->i spelling shift (marry ~ married, bury ~ buried)."""
    if a == b:
        return True
    na = a[:-1] + "i" if a.endswith("y") else a
    nb = b[:-1] + "i" if b.endswith("y") else b
    lo, hi = sorted((na, nb), key=len)
    return len(lo) >= 3 and hi.startswith(lo)


def engine_only_words(
    bank: dict[str, list[str]],
    lexicon: dict[str, set[str]] | None = None,
    stopwords: frozenset[str] = frozenset({
        "the", "and", "who", "she", "was", "will", "for", "from", "are",
        "with", "has", "have", "his", "her", "this", "that", "not",
    }),
) -> dict[str, set[str]]:
    """Per relation: content lexemes in the engine's pattern regexes with
    NO stem-match in the `.rules`-derived lexicon — the divergence
    ledger the parity test freezes. Relations without a (non-empty)
    rules file are skipped."""
    lexicon = lexicon if lexicon is not None else rules_lexicon()
    out: dict[str, set[str]] = {}
    for rel, pats in bank.items():
        lex = lexicon.get(rel)
        if not lex:
            continue
        mine: set[str] = set()
        for p in pats:
            # \b \S \w etc. are regex structure, not lexeme characters
            p = re.sub(r"\\[A-Za-z]", " ", p)
            for w in re.findall(r"[A-Za-z]{3,}", p):
                w = w.lower()
                if w in stopwords:
                    continue
                mine.add(w)
        only = {w for w in mine if not any(_stemmatch(w, r) for r in lex)}
        if only:
            out[rel] = only
    return out


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
    lex = rules_lexicon()
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
    stale = stale_results()
    assert set(stale) == {
        "per:city_of_birth", "per:city_of_death", "per:country_of_birth",
        "per:country_of_death", "per:stateorprovince_of_birth",
        "per:stateorprovince_of_death",
    }
    assert all(v == {"per:stateorprovinces_of_residence"} for v in stale.values())


@needs_reference
def test_top_title_is_subset_of_defs_macro():
    from stanford_relation_extractor_spark.operators.extractors import _TOP_TITLE

    defs_titles = defs_macros()["TOP_TITLE"]
    engine_titles = set(re.findall(r"[a-z]+", _TOP_TITLE.replace("(?:", "")))
    assert engine_titles <= defs_titles
    assert len(engine_titles) >= 10


@needs_reference
def test_every_rules_relation_has_a_bank_entry():
    from stanford_relation_extractor_spark.operators.extractors import PATTERN_BANK

    lex = rules_lexicon()
    uncovered = [r for r, v in lex.items() if v and r not in PATTERN_BANK]
    assert uncovered == []


@needs_reference
def test_engine_only_ledger_frozen():
    from stanford_relation_extractor_spark.operators.extractors import PATTERN_BANK

    eo = engine_only_words(PATTERN_BANK)
    assert eo == ENGINE_ONLY_LEDGER


@needs_reference
def test_ledger_binds_on_bank_drift():
    """Adding a trigger word the rules files don't license must surface
    in the ledger (the gate actually fires)."""
    from stanford_relation_extractor_spark.operators.extractors import PATTERN_BANK

    drifted = dict(PATTERN_BANK)
    drifted["per:spouse"] = PATTERN_BANK["per:spouse"] + [r"E wedded S"]
    eo = engine_only_words(drifted)
    assert "wedded" in eo.get("per:spouse", set())


@needs_reference
def test_weighted_rules_vote_their_file_weight():
    """Round-5: where a shipped `.rules` file carries trailing
    confidences, the relation's pattern votes score the file's MAX
    weight instead of the uniform PATTERN_WEIGHT; unweighted files keep
    PATTERN_WEIGHT (extractors._pattern_weights <-
    rulesfiles.relation_pattern_weights)."""
    from stanford_relation_extractor_spark.operators.extractors import (
        PATTERN_WEIGHT,
        _compiled_pattern_bank,
        _compiled_trigger_bank,
        _stat_context,
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
    votes = votes_for_sentence(sent, detect(sent, matchers), pbank, tbank, _stat_context())
    spouse = [v for v in votes if v[8] == "per:spouse" and v[9] == "pattern"]
    assert spouse and all(v[10] == weights["per:spouse"] for v in spouse)

    sent2 = "Alice Person000001 , 34 , arrived ."
    votes2 = votes_for_sentence(sent2, detect(sent2, matchers), pbank, tbank, _stat_context())
    age = [v for v in votes2 if v[8] == "per:age" and v[9] == "pattern"]
    assert age and all(v[10] == PATTERN_WEIGHT for v in age)
