"""The closed relation / NE-type ontology.

Re-states (as plain data, no code copied) the enum tables of the
reference:

* 18 NE tags — ``stanford-kbp/src/main/java/edu/stanford/nlp/kbp/common/NERTag.java:8-28``
* 41 relations, each with entity type, cardinality, valid slot NE
  labels, valid POS prefixes, and prior probability —
  ``.../common/RelationType.java:23-67`` (priors ``:84-105``)

These drive the type-check joins (SURVEY.md P4/P6), the cardinality
top-1 window (W2), and the window-extractor's normalized type-prior
votes (A6-shaped). All are tiny dimension tables: broadcast always.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

SINGLE = "SINGLE"
LIST = "LIST"


@dataclass(frozen=True)
class Relation:
    name: str
    entity_type: str  # PERSON | ORGANIZATION
    cardinality: str  # SINGLE | LIST
    valid_slot_ners: tuple[str, ...]
    valid_pos_prefixes: tuple[str, ...]
    prior: float


# RelationType.java:24-66, values restated verbatim.
RELATIONS: tuple[Relation, ...] = (
    Relation("per:alternate_names", "PERSON", LIST, ("PERSON", "MISC"), ("NNP",), 0.0353027270308107100),
    Relation("per:children", "PERSON", LIST, ("PERSON",), ("NNP",), 0.0058428110284504410),
    Relation("per:cities_of_residence", "PERSON", LIST, ("CITY", "LOCATION"), ("NNP",), 0.0136105679675116560),
    Relation("per:city_of_birth", "PERSON", SINGLE, ("CITY", "LOCATION"), ("NNP",), 0.0358146961159769100),
    Relation("per:city_of_death", "PERSON", SINGLE, ("CITY", "LOCATION"), ("NNP",), 0.0102003332137774650),
    Relation("per:countries_of_residence", "PERSON", LIST, ("COUNTRY", "LOCATION"), ("NNP",), 0.0107788293552082020),
    Relation("per:country_of_birth", "PERSON", SINGLE, ("COUNTRY", "LOCATION"), ("NNP",), 0.0223444134627622040),
    Relation("per:country_of_death", "PERSON", SINGLE, ("COUNTRY", "LOCATION"), ("NNP",), 0.0060626395621941200),
    Relation("per:employee_of", "PERSON", LIST, ("ORGANIZATION", "COUNTRY", "STATE_OR_PROVINCE", "CITY"), ("NNP",), 0.0335281901169719200),
    Relation("per:member_of", "PERSON", LIST, ("ORGANIZATION",), ("NNP",), 0.0521716745149309900),
    Relation("per:origin", "PERSON", LIST, ("NATIONALITY", "COUNTRY", "LOCATION"), ("NNP",), 0.0069795559463618380),
    Relation("per:other_family", "PERSON", LIST, ("PERSON",), ("NNP",), 2.7478566717959990e-5),
    Relation("per:parents", "PERSON", LIST, ("PERSON",), ("NNP",), 0.0032222235077692030),
    Relation("per:schools_attended", "PERSON", LIST, ("ORGANIZATION",), ("NNP",), 0.0054696810172276150),
    Relation("per:siblings", "PERSON", LIST, ("PERSON",), ("NNP",), 1.000000000000000e-99),
    Relation("per:spouse", "PERSON", LIST, ("PERSON",), ("NNP",), 0.0164075968113292680),
    Relation("per:stateorprovince_of_birth", "PERSON", SINGLE, ("STATE_OR_PROVINCE", "LOCATION"), ("NNP",), 0.0165825918941120660),
    Relation("per:stateorprovince_of_death", "PERSON", SINGLE, ("STATE_OR_PROVINCE", "LOCATION"), ("NNP",), 0.0050083303444366030),
    Relation("per:stateorprovinces_of_residence", "PERSON", LIST, ("STATE_OR_PROVINCE", "LOCATION"), ("NNP",), 0.0066787379528178550),
    Relation("per:age", "PERSON", SINGLE, ("NUMBER", "DURATION"), ("CD", "NN"), 0.0483159977322951300),
    Relation("per:date_of_birth", "PERSON", SINGLE, ("DATE",), ("CD", "NN"), 0.0743584477791533200),
    Relation("per:date_of_death", "PERSON", SINGLE, ("DATE",), ("CD", "NN"), 0.0189819046406960460),
    Relation("per:cause_of_death", "PERSON", SINGLE, ("CAUSE_OF_DEATH",), ("NN",), 1.0123682475037891e-5),
    Relation("per:charges", "PERSON", LIST, ("CRIMINAL_CHARGE",), ("NN",), 3.8614617440501670e-4),
    Relation("per:religion", "PERSON", SINGLE, ("RELIGION",), ("NN",), 7.6650738739572610e-4),
    Relation("per:title", "PERSON", LIST, ("TITLE", "MODIFIER"), ("NN",), 0.0334283995325751200),
    Relation("org:alternate_names", "ORGANIZATION", LIST, ("ORGANIZATION", "MISC"), ("NNP",), 0.0552058867767352000),
    Relation("org:city_of_headquarters", "ORGANIZATION", SINGLE, ("CITY", "LOCATION"), ("NNP",), 0.0555949254318473740),
    Relation("org:country_of_headquarters", "ORGANIZATION", SINGLE, ("COUNTRY", "LOCATION"), ("NNP",), 0.0580217167451493100),
    Relation("org:founded_by", "ORGANIZATION", LIST, ("PERSON", "ORGANIZATION"), ("NNP",), 0.0050806423621154450),
    Relation("org:member_of", "ORGANIZATION", LIST, ("ORGANIZATION", "LOCATION", "COUNTRY", "STATE_OR_PROVINCE"), ("NNP",), 0.0396298781687126140),
    Relation("org:members", "ORGANIZATION", LIST, ("ORGANIZATION", "COUNTRY"), ("NNP",), 0.0012220730987724312),
    Relation("org:parents", "ORGANIZATION", LIST, ("ORGANIZATION", "LOCATION", "COUNTRY", "STATE_OR_PROVINCE"), ("NNP",), 0.0550048593675880200),
    Relation("org:political/religious_affiliation", "ORGANIZATION", LIST, ("IDEOLOGY", "RELIGION"), ("NN", "JJ"), 0.0059266929689578970),
    Relation("org:shareholders", "ORGANIZATION", LIST, ("PERSON", "ORGANIZATION"), ("NNP",), 1.1569922828614734e-5),
    Relation("org:stateorprovince_of_headquarters", "ORGANIZATION", SINGLE, ("STATE_OR_PROVINCE", "LOCATION"), ("NNP",), 0.0312619314829170100),
    Relation("org:subsidiaries", "ORGANIZATION", LIST, ("ORGANIZATION",), ("NNP",), 0.0162412791706679320),
    Relation("org:top_members/employees", "ORGANIZATION", LIST, ("PERSON",), ("NNP",), 0.0907168724184609800),
    Relation("org:dissolved", "ORGANIZATION", SINGLE, ("DATE",), ("CD", "NN"), 0.0023877428237553656),
    Relation("org:founded", "ORGANIZATION", SINGLE, ("DATE",), ("CD", "NN"), 0.0796314401082944800),
    Relation("org:number_of_employees/members", "ORGANIZATION", SINGLE, ("NUMBER",), ("CD", "NN"), 0.0366274831946870950),
    Relation("org:website", "ORGANIZATION", SINGLE, ("URL",), ("NNP", "NN"), 0.0051544006201478640),
)

RELATION_BY_NAME: dict[str, Relation] = {r.name: r for r in RELATIONS}

# Global score threshold (Props.java:480) applied by the consistency
# stage (HeuristicSlotfillPostProcessors.FilterVeryLowProbabilitySlots).
GLOBAL_SCORE_THRESHOLD = 0.5

# P7 per-relation minimum-score thresholds — the FIXED_PER_RELATION
# tuning mode of KBPEvaluator.java:266-272 over
# Props.TEST_THRESHOLD_MIN_PERRELATION (Props.java:477-480): each
# relation may carry its own accept floor; relations not listed fall
# back to GLOBAL_SCORE_THRESHOLD (the FIXED mode default). The values
# below are this engine's tuned table: noisy prestige relations demand
# more than one strong extractor's worth of agreement.
PER_RELATION_THRESHOLDS: dict[str, float] = {
    # pattern+window noisy-or without trigger/statistical corroboration
    # lands at ~0.94 — demand more for the noisiest numeric relation
    # (BINDS on the corpus: the single-pattern per:age band drops)
    "per:age": 0.96,
    # employment claims corroborated by only one strong extractor
    # (~0.913 band) are the classic distant-supervision false positive
    # (BINDS on the corpus)
    "per:employee_of": 0.95,
    # single-source date-of-dissolution claims are rumor-prone
    # (non-binding on this corpus; exercises the fallback path)
    "org:dissolved": 0.75,
}

# Declared plausibly-overlapping relation pairs -- the raw map of
# `RelationType.plausibleOverlappingRelations` (RelationType.java:319-345),
# before the static-init cleanup at RelationType.java:347-355 (which drops
# entries with mismatched entity types or disjoint slot-NE labels; we apply
# the same cleanup in `_overlap_map`).
_RAW_OVERLAPS: dict[str, tuple[str, ...]] = {
    "per:stateorprovince_of_death": ("per:stateorprovince_of_birth", "per:stateorprovinces_of_residence"),
    "per:stateorprovince_of_birth": ("per:stateorprovinces_of_residence", "per:stateorprovince_of_death"),
    "per:spouse": (),
    "per:schools_attended": ("per:employee_of", "per:stateorprovinces_of_residence", "per:stateorprovince_of_birth"),
    "per:parents": (),
    "per:member_of": ("per:stateorprovinces_of_residence", "per:stateorprovince_of_death", "per:stateorprovince_of_birth", "per:spouse", "per:schools_attended", "per:origin"),
    "per:employee_of": ("per:stateorprovinces_of_residence", "per:stateorprovince_of_death", "per:stateorprovince_of_birth", "per:schools_attended", "per:member_of"),
    "per:date_of_birth": (),
    "per:country_of_death": ("per:country_of_birth", "per:member_of", "per:employee_of"),
    "per:country_of_birth": ("per:country_of_death", "per:schools_attended", "per:member_of", "per:employee_of"),
    "per:countries_of_residence": ("per:stateorprovince_of_birth", "per:schools_attended", "per:member_of", "per:employee_of", "per:country_of_death", "per:country_of_birth"),
    "per:city_of_death": ("per:stateorprovince_of_death", "per:stateorprovince_of_birth", "per:schools_attended", "per:member_of", "per:employee_of", "per:country_of_death", "per:country_of_birth"),
    "per:city_of_birth": ("per:spouse", "per:schools_attended", "per:member_of", "per:employee_of", "per:country_of_birth", "per:countries_of_residence", "per:city_of_death"),
    "per:cities_of_residence": ("per:schools_attended", "per:member_of", "per:employee_of", "per:city_of_death", "per:city_of_birth"),
    "per:children": (),
    "per:alternate_names": (),
    "org:subsidiaries": (),
    "org:stateorprovince_of_headquarters": ("org:top_members/employees", "org:subsidiaries"),
    "org:parents": ("org:top_members/employees", "org:stateorprovince_of_headquarters"),
    "org:member_of": ("org:top_members/employees", "org:subsidiaries", "org:stateorprovince_of_headquarters", "org:political/religious_affiliation", "org:parents", "org:members"),
    "org:founded_by": ("org:top_members/employees", "org:subsidiaries", "org:stateorprovince_of_headquarters", "org:political/religious_affiliation", "org:parents"),
    "org:founded": ("org:number_of_employees/members",),
    "org:dissolved": ("org:number_of_employees/members", "org:founded"),
    "org:country_of_headquarters": ("org:top_members/employees", "org:subsidiaries", "org:parents", "org:members", "org:member_of", "org:founded_by"),
    "org:city_of_headquarters": ("org:subsidiaries", "org:parents", "org:member_of", "org:founded_by", "org:country_of_headquarters"),
    "org:alternate_names": ("org:top_members/employees", "org:stateorprovince_of_headquarters", "org:political/religious_affiliation", "org:founded_by", "org:country_of_headquarters", "org:city_of_headquarters"),
}


@lru_cache(maxsize=1)
def _overlap_map() -> dict[str, frozenset[str]]:
    out: dict[str, frozenset[str]] = {}
    for key, vals in _RAW_OVERLAPS.items():
        k = RELATION_BY_NAME[key]
        kept = frozenset(
            v
            for v in vals
            if RELATION_BY_NAME[v].entity_type == k.entity_type
            and set(RELATION_BY_NAME[v].valid_slot_ners) & set(k.valid_slot_ners)
        )
        out[key] = kept
    return out


def plausibly_cooccurs(a: str, b: str) -> bool:
    """RelationType.plausiblyCooccursWith (RelationType.java:228-230):
    both relations must be declared AND either direction listed."""
    m = _overlap_map()
    return a in m and b in m and (b in m[a] or a in m[b])


@lru_cache(maxsize=None)
def compatible_relations(entity_type: str, slot_ner: str) -> tuple[str, ...]:
    """Relations whose signature admits (entity_type, slot_ner).

    Mirrors RelationType.plausiblyHasRelation (RelationType.java:239-246)
    restricted to an exact slot-NER membership test.
    """
    return tuple(
        r.name
        for r in RELATIONS
        if r.entity_type == entity_type and slot_ner in r.valid_slot_ners
    )


# P6's relation signatures (entity type, valid slot NE tags) as ONE SQL
# VALUES list: ``spark.sql`` turns it into a local relation inside the
# JVM, so no table is built from Python rows.
RELATION_SIGNATURES_SQL = (
    "SELECT * FROM VALUES {} AS signatures(relation, rs_entity_type, valid_slot_ners)".format(
        ", ".join(
            "('{}', '{}', array({}))".format(
                r.name, r.entity_type, ", ".join(f"'{t}'" for t in r.valid_slot_ners)
            )
            for r in RELATIONS
        )
    )
)
