"""Stage 2 — per-sentence pair generation + per-extractor relation votes.

Re-expresses the reference's extractor ensemble members over sentence
rows produced by stage 1:

* ``pattern``  — the TokensRegex rule family
  (`stanford-kbp/.../slotfilling/classify/TokensRegexExtractor.java:31-115`;
  rules like `stanford-kbp/edu/stanford/nlp/kbp/per_age.rules:1-9`)
  recompiled as surface regexes over a *masked* sentence in which the
  candidate entity span is replaced by the sentinel ``⟨E⟩`` and the
  candidate slot span by ``⟨S⟩``. Rule extractors emit "certain"
  (+inf) scores in the reference (`HeuristicRelationExtractor.java:77`);
  we normalize to weight 0.9 votes (SURVEY.md §7 risk note).
* ``trigger``  — the Semgrex dependency-pattern family
  (`.../classify/SemgrexExtractor.java:35-176`) re-expressed as loose
  keyword-between-spans co-occurrence patterns (documented stand-in,
  SURVEY.md F12); weight 0.8.
* ``window``   — the statistical classifier's shape (one-vs-all with
  per-group normalization, `.../classify/OneVsAllRelationExtractor.java:77-140`
  + `RelationClassifier.java:42-52`): every type-compatible pair in the
  sentence votes for each admissible relation with weight
  0.4 / |admissible relations| — mass normalized across relations like
  `Counters.normalize` (A4), so a lone window vote (max 0.4) always
  falls below the global 0.5 threshold and only corroborates.

Pair generation itself mirrors `RelationMentionAnnotator.java:95-251`:
entity mentions are PERSON/ORGANIZATION spans; slots are all other
mentions in the same sentence (plausibility-gated by the relation
signature table, P4). The span-distance predicate (P5) needs no check:
the sentence-length cap (``mentions.MAX_SENT_TOKENS``) implies it.
The per-sentence cross join happens *inside* the Arrow batch — mention
lists are tiny, so no shuffle join is ever issued for pairing (J3).

All three extractors run in ONE ``mapInPandas`` pass over the same
scan — N score columns from one pass rather than N passes (SURVEY.md §4).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame

from ..ontology import compatible_relations

E = "⟨E⟩"
S = "⟨S⟩"

ENTITY_TYPES = ("PERSON", "ORGANIZATION")

PATTERN_WEIGHT = 0.9
TRIGGER_WEIGHT = 0.8
WINDOW_WEIGHT = 0.4

# statistical (trained) ensemble member: emit a vote for every
# type-admissible relation whose softmax probability clears this floor
# (the reference's classifier emits the full Counter; low-probability
# mass is dropped by downstream thresholds anyway — pre-filtering here
# keeps the vote stream narrow)
STATISTICAL_MIN_PROB = 0.2

# Cap on the per-task feature-tuple score memo. Template-shaped corpora
# have O(#templates) distinct tuples; on real text distinct tuples grow
# with partition size, so an unbounded dict is an executor-memory risk
# at 100x scale. FIFO eviction (oldest insert drops) is O(1) and close
# enough to LRU here — scoring without a memo hit is already cheap.
STATISTICAL_MEMO_CAP = 1 << 16


def _stat_context() -> tuple[list[dict], list[str], dict]:
    """(frozen bagged weight tables, softmax support, per-executor
    memo). The models are trained offline by
    scripts/train_statistical.py (MIML soft-EM over distant-supervision
    bags, BAGGING-resampled folds) and frozen as data — the
    inference-time contract the oracle mirrors."""
    from ..models.frozen_statistical import BAG_WEIGHTS
    from .statistical import softmax_relations

    return (BAG_WEIGHTS, softmax_relations(), {})

# strict subset of defs.rules $TOP_TITLE (per_age.rules sibling file,
# defs.rules:21) — tests/test_rules_parity.py asserts the containment
_TOP_TITLE = (
    r"(?:president|chairman|chairwoman|minister|executive|chief|ceo|"
    r"head|founder|officer|leader|governor|senator|mayor)"
)

# --- pattern bank: relation -> surface regexes over the masked sentence.
# First match wins per (pair, relation) — the reference short-circuits
# per relation too (TokensRegexExtractor.java:101-113).
PATTERN_BANK: dict[str, list[str]] = {
    # per_age.rules:1-9
    "per:age": [
        rf"{E} , {S} ,",
        rf"{E} \( {S} \)",
        rf"{E} (?:\S+ )?{S} years? ?-? ?old",
        rf"{E} (?:\S+ )?{S} years of age",
        rf"{E} (?:will )?(?:be|is|was|turns?|turned) {S}",
        rf"{S} (?:years? ?-? ?old )?(?:\S+ ){{0,4}}{E}",
    ],
    # per_cities_of_residence.rules / per_countries_of_residence.rules family
    "per:cities_of_residence": [rf"{E}[^.]*\b(?:lives|lived|resides|resided|residing) in {S}"],
    "per:countries_of_residence": [rf"{E}[^.]*\b(?:lives|lived|resides|resided|residing) in {S}"],
    "per:stateorprovinces_of_residence": [rf"{E}[^.]*\b(?:lives|lived|resides|resided|residing) in {S}"],
    # per_city_of_birth.rules / per_country_of_birth.rules
    "per:city_of_birth": [rf"{E}[^.]*\bborn in {S}"],
    "per:country_of_birth": [rf"{E}[^.]*\bborn in {S}"],
    "per:stateorprovince_of_birth": [rf"{E}[^.]*\bborn in {S}"],
    "per:date_of_birth": [rf"{E}[^.]*\bborn\b[^.]*{S}"],
    # per_city_of_death.rules family
    "per:city_of_death": [rf"{E}[^.]*\bdied in {S}"],
    "per:country_of_death": [rf"{E}[^.]*\bdied in {S}"],
    "per:stateorprovince_of_death": [rf"{E}[^.]*\bdied in {S}"],
    "per:date_of_death": [rf"{E}[^.]*\bdied\b[^.]*{S}"],
    # per_employee_of.rules
    "per:employee_of": [
        rf"{E}[^.]*\bworks? for {S}",
        rf"{E}[^.]*\bworked for {S}",
        rf"{E} , (?:the|an?) \S+ of {S}",
        rf"{E}[^.]*\bemployee of {S}",
    ],
    "per:member_of": [rf"{E}[^.]*\bmember of {S}"],
    "per:schools_attended": [rf"{E}[^.]*\b(?:attended|graduated from|studied at) {S}"],
    # per_spouse.rules
    "per:spouse": [rf"{E}[^.]*\b(?:married to|wife|husband|spouse)\b[^.]*{S}"],
    "per:children": [rf"{E} 's (?:son|daughter|child) ,? {S}", rf"{S} , (?:son|daughter|child) of {E}"],
    "per:parents": [rf"{E} , (?:son|daughter|child) of {S}", rf"{S} 's (?:son|daughter|child) ,? {E}"],
    "per:siblings": [rf"{E}[^.]*\b(?:brother|sister|sibling)\b[^.]*{S}"],
    # per_other_family.rules family (non-immediate kinship)
    "per:other_family": [
        rf"{E}[^.]*\b(?:cousin|nephew|niece|uncle|aunt|grandson|granddaughter|"
        rf"grandfather|grandmother|grandchild|[a-z]+-in-law)\b[^.]*{S}",
        rf"{S} , (?:the |an? )?(?:cousin|nephew|niece|uncle|aunt|grandson|"
        rf"granddaughter|grandfather|grandmother) of {E}",
    ],
    "per:title": [rf"{E} , (?:the|an?) {S}", rf"{S} {E}"],
    "per:origin": [rf"{E}[^.]*\bcitizen of {S}", rf"{E} , (?:an?|the) {S} (?:citizen|national)"],
    "per:religion": [rf"{E}[^.]*\b(?:converted to|practices|practiced) {S}"],
    "per:charges": [rf"{E}[^.]*\b(?:charged with|convicted of|accused of) {S}"],
    "per:cause_of_death": [rf"{E}[^.]*\bdied (?:of|from) {S}"],
    # org_*.rules
    "org:city_of_headquarters": [rf"{E}[^.]*\b(?:headquartered|based|headquarters) in {S}"],
    "org:country_of_headquarters": [rf"{E}[^.]*\b(?:headquartered|based|headquarters) in {S}"],
    "org:stateorprovince_of_headquarters": [rf"{E}[^.]*\b(?:headquartered|based|headquarters) in {S}"],
    "org:founded_by": [rf"{E}[^.]*\b(?:founded|established|started) by {S}"],
    "org:founded": [rf"{E}[^.]*\b(?:founded|established)\b[^.]*{S}"],
    "org:dissolved": [rf"{E}[^.]*\b(?:dissolved|disbanded|shut down)\b[^.]*{S}"],
    "org:number_of_employees/members": [rf"{E}[^.]*\bhas {S} (?:employees|members|staff)"],
    "org:website": [rf"(?:website|site|homepage) of {E} is {S}", rf"{E}[^.]*\bwebsite\b[^.]* {S}"],
    "org:top_members/employees": [rf"{S} , (?:the|an?) {_TOP_TITLE} of {E}"],
    "org:subsidiaries": [rf"{S} , a (?:subsidiary|unit|division) of {E}", rf"{E} 's subsidiary {S}"],
    "org:parents": [rf"{E} , a (?:subsidiary|unit|division) of {S}"],
    "org:member_of": [rf"{E}[^.]*\bmember of {S}"],
    "org:members": [rf"{S}[^.]*\bmember of {E}"],
    "org:shareholders": [rf"{S}[^.]*\bshareholder\b[^.]*\bof {E}"],
    "org:alternate_names": [rf"{E} \( (?:a\.?k\.?a\.? |formerly )?{S} \)"],
    "per:alternate_names": [rf"{E} \( (?:a\.?k\.?a\.? |formerly )?{S} \)"],
    # org_political_religious_affiliation.rules family
    "org:political/religious_affiliation": [
        rf"{E}[^.]*\b(?:affiliated|aligned) with\b[^.]*{S}",
        rf"{E} , an? {S} (?:organization|group|party|movement|charity)",
    ],
}

# --- trigger bank: (regex over masked sentence, slot_ner -> relation).
# Loose keyword co-occurrence between spans (order-aware via sentinel
# placement) standing in for dependency paths (SURVEY.md F12).
TRIGGER_BANK: list[tuple[str, dict[str, str]]] = [
    (
        rf"{E}[^.]*\b(?:lives|lived|resides|resided|residing) in[^.]*{S}",
        {
            "COUNTRY": "per:countries_of_residence",
            "CITY": "per:cities_of_residence",
            "STATE_OR_PROVINCE": "per:stateorprovinces_of_residence",
        },
    ),
    (
        rf"{E}[^.]*\bborn\b[^.]*{S}",
        {
            "COUNTRY": "per:country_of_birth",
            "CITY": "per:city_of_birth",
            "STATE_OR_PROVINCE": "per:stateorprovince_of_birth",
            "DATE": "per:date_of_birth",
        },
    ),
    (
        rf"{E}[^.]*\b(?:died|death)\b[^.]*{S}",
        {
            "COUNTRY": "per:country_of_death",
            "CITY": "per:city_of_death",
            "STATE_OR_PROVINCE": "per:stateorprovince_of_death",
            "DATE": "per:date_of_death",
        },
    ),
    (rf"{E}[^.]*\b(?:works?|worked|employed)\b[^.]*{S}", {"ORGANIZATION": "per:employee_of"}),
    (rf"{E}[^.]*\b(?:attended|studied|graduated)\b[^.]*{S}", {"ORGANIZATION": "per:schools_attended"}),
    (rf"{E}[^.]*\b(?:married|wife|husband|spouse)\b[^.]*{S}", {"PERSON": "per:spouse"}),
    (
        rf"{E}[^.]*\b(?:cousin|nephew|niece|uncle|aunt|grand\w+|\w+-in-law)\b[^.]*{S}",
        {"PERSON": "per:other_family"},
    ),
    (
        rf"{E}[^.]*\b(?:affiliated|aligned) with\b[^.]*{S}",
        {"IDEOLOGY": "org:political/religious_affiliation",
         "RELIGION": "org:political/religious_affiliation"},
    ),
    (rf"{E}[^.]*\b(?:founded|established|started) by[^.]*{S}", {"PERSON": "org:founded_by"}),
    (rf"{E}[^.]*\b(?:founded|established)\b[^.]*{S}", {"DATE": "org:founded"}),
    (
        rf"{E}[^.]*\b(?:headquartered|based|headquarters)\b[^.]*{S}",
        {
            "COUNTRY": "org:country_of_headquarters",
            "CITY": "org:city_of_headquarters",
            "STATE_OR_PROVINCE": "org:stateorprovince_of_headquarters",
        },
    ),
    (rf"{E}[^.]*{S} (?:employees|members|staff)", {"NUMBER": "org:number_of_employees/members"}),
    (rf"\bwebsite\b[^.]*{E}[^.]*{S}", {"URL": "org:website"}),
    (rf"{E} ,? (?:the|an?) {S}", {"TITLE": "per:title"}),
    (rf"{S}[^.]*\b{_TOP_TITLE}\b[^.]*\bof {E}", {"PERSON": "org:top_members/employees"}),
]

PRONOUNS_PERSON = frozenset({"He", "She", "They", "he", "she", "they"})
PRONOUNS_ORG = frozenset({"It", "it"})


class AntecedentState:
    """J2 conversation-local antecedent carry (the dcoref stand-in of
    `slotfilling/ir/PostIRAnnotator.java:291-338`): tracks the most
    recent PERSON/ORGANIZATION surface per conversation. Feed it turns
    in (conv_id, turn_idx, sent_idx) order — the conversational
    extraction paths guarantee that via repartition+sortWithinPartitions.
    Resolved pronouns do NOT update the state (no transitive chains —
    deterministic, documented divergence from full dcoref)."""

    def __init__(self) -> None:
        self.conv: str | None = None
        self.person: str | None = None
        self.org: str | None = None

    def resolve(self, conv_id: str, mentions: list[dict[str, Any]]) -> list[dict[str, Any]]:
        if conv_id != self.conv:
            self.conv, self.person, self.org = conv_id, None, None
        resolved: list[dict[str, Any]] = []
        for m in mentions:
            if m["ner"] == "PRONOUN":
                if m["surface"] in PRONOUNS_PERSON and self.person:
                    resolved.append({**m, "surface": self.person, "ner": "PERSON"})
                elif m["surface"] in PRONOUNS_ORG and self.org:
                    resolved.append({**m, "surface": self.org, "ner": "ORGANIZATION"})
                # unresolved pronouns drop (no antecedent yet)
            else:
                resolved.append(m)
        for m in mentions:
            if m["ner"] == "PERSON":
                self.person = m["surface"]
            elif m["ner"] == "ORGANIZATION":
                self.org = m["surface"]
        return resolved


VOTES_SCHEMA = (
    "conv_id string, turn_idx int, sent_idx int, "
    "entity_name string, entity_type string, entity_begin int, entity_end int, "
    "slot_value string, slot_ner string, slot_begin int, slot_end int, "
    "relation string, extractor string, score double"
)

VOTE_COLUMNS = [f.strip().split(" ")[0] for f in VOTES_SCHEMA.split(",")]


_PATTERN_WEIGHTS_CACHE: dict[str, float] | None = None


def _pattern_weights() -> dict[str, float]:
    """Per-relation pattern vote score from the shipped `.rules` files'
    trailing confidences (rulesfiles.relation_pattern_weights — max
    weight of the file, since the bank regex stands in for the whole
    file and first-match-wins). Relations without shipped weights fall
    back to PATTERN_WEIGHT; so does everything when the reference data
    directory is not mounted (production deployments ship the weight
    table as config instead)."""
    global _PATTERN_WEIGHTS_CACHE
    if _PATTERN_WEIGHTS_CACHE is None:
        try:
            from ..sources.rulesfiles import relation_pattern_weights

            _PATTERN_WEIGHTS_CACHE = relation_pattern_weights()
        except OSError:
            _PATTERN_WEIGHTS_CACHE = {}
    return _PATTERN_WEIGHTS_CACHE


def _compiled_pattern_bank() -> dict[str, tuple[list[re.Pattern[str]], float]]:
    """relation -> (compiled patterns, vote weight)."""
    weights = _pattern_weights()
    return {
        rel: (
            [re.compile(p) for p in pats],
            weights.get(rel, PATTERN_WEIGHT),
        )
        for rel, pats in PATTERN_BANK.items()
    }


def _compiled_trigger_bank() -> list[tuple[re.Pattern[str], dict[str, str]]]:
    return [(re.compile(p), m) for p, m in TRIGGER_BANK]


def mask(sent: str, e: dict[str, Any], s: dict[str, Any]) -> str:
    """Replace the entity/slot spans with sentinels (higher span first)."""
    first, second = (e, s) if e["begin"] <= s["begin"] else (s, e)
    t1 = E if first is e else S
    t2 = E if second is e else S
    return (
        sent[: first["begin"]]
        + t1
        + sent[first["end"] : second["begin"]]
        + t2
        + sent[second["end"] :]
    )


_AGE_RX = re.compile(r"^0*(12[0-5]|1[01][0-9]|[1-9][0-9]?)$")
_EMP_RX = re.compile(r"^0*(2[5-9]|[3-9][0-9]|[1-9][0-9]{2,4}|[1-4][0-9]{5}|500000)$")


def slot_sanity_ok(relation: str, slot_value: str, entity_name: str) -> bool:
    """SanityCheckFilter (HeuristicSlotfillPostProcessors.java:148-172)
    applied at vote time: every check is a pure function of the triple
    key, so gating votes is equivalent to gating the final triples
    (the whole group shares the key), and costs nothing here versus a
    Catalyst filter that would be pushed below the aggregation and
    re-evaluate canonicalization expressions over the full vote stream.
    """
    if len(slot_value) > 80 or slot_value == entity_name:
        return False
    if relation == "per:age" and not _AGE_RX.match(slot_value):
        return False
    if relation == "org:number_of_employees/members" and not _EMP_RX.match(slot_value):
        return False
    return True


def votes_for_sentence(
    sent: str,
    mentions: list[dict[str, Any]],
    pattern_bank: dict[str, tuple[list[re.Pattern[str]], float]],
    trigger_bank: list[tuple[re.Pattern[str], dict[str, str]]],
    stat: tuple[list[dict], list[str], dict],
) -> list[tuple[Any, ...]]:
    """All (entity, slot, relation, extractor, score) votes in one
    sentence; ``stat`` is the statistical member's ``_stat_context()``."""
    out: list[tuple[Any, ...]] = []
    entities = [m for m in mentions if m["ner"] in ENTITY_TYPES]
    for ent in entities:
        for slot in mentions:
            if slot is ent:
                continue
            rels = compatible_relations(ent["ner"], slot["ner"])
            if not rels:
                continue
            masked = mask(sent, ent, slot)
            base = (
                ent["surface"], ent["ner"], ent["begin"], ent["end"],
                slot["surface"], slot["ner"], slot["begin"], slot["end"],
            )
            # pattern extractor: first matching rule per relation wins;
            # the vote score is the relation's shipped `.rules` weight
            # where the file carries one (see _pattern_weights)
            for rel in rels:
                if not slot_sanity_ok(rel, slot["surface"], ent["surface"]):
                    continue
                pats, pw = pattern_bank.get(rel, ((), PATTERN_WEIGHT))
                for rx in pats:
                    if rx.search(masked):
                        out.append(base + (rel, "pattern", pw))
                        break
            # trigger extractor: dependency-path stand-in
            trig_rels: set[str] = set()
            for rx, by_ner in trigger_bank:
                rel = by_ner.get(slot["ner"])
                if (
                    rel is not None
                    and rel in rels
                    and rel not in trig_rels
                    and slot_sanity_ok(rel, slot["surface"], ent["surface"])
                    and rx.search(masked)
                ):
                    trig_rels.add(rel)
                    out.append(base + (rel, "trigger", TRIGGER_WEIGHT))
            # window extractor: normalized type-prior corroboration
            # (weight normalized over ALL admissible relations, then
            # sanity-gated per relation — same mass as the reference's
            # per-group normalize followed by post-hoc filtering)
            w = round(WINDOW_WEIGHT / len(rels), 6)
            for rel in rels:
                if slot_sanity_ok(rel, slot["surface"], ent["surface"]):
                    out.append(base + (rel, "window", w))
            # statistical extractor: frozen trained model over masked
            # surface features (A6 shape, one-vs-all + softmax). The
            # memo keys on the feature tuple — template-shaped corpora
            # hit it almost always, so scoring is amortized O(1)/pair.
            bag_weights, softmax_support, memo = stat
            from .statistical import combined_relation_probs, pair_feature_list

            feats = tuple(pair_feature_list(sent, mentions, ent, slot))
            probs = memo.get(feats)
            if probs is None:
                full = combined_relation_probs(
                    list(feats), bag_weights, softmax_support
                )
                probs = {
                    rel: round(p, 6)
                    for rel, p in full.items()
                    if rel != "NIL" and p >= STATISTICAL_MIN_PROB
                }
                if len(memo) >= STATISTICAL_MEMO_CAP:
                    memo.pop(next(iter(memo)))
                memo[feats] = probs
            for rel in rels:
                p = probs.get(rel)
                if p is not None and slot_sanity_ok(rel, slot["surface"], ent["surface"]):
                    out.append(base + (rel, "statistical", p))
    return out


def extract_votes(
    source: DataFrame,
    config: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Sentences or transcripts -> long votes table, in ONE Arrow pass.

    A ``mentions`` column in ``source`` (stage-1 sentences, such as the
    resumable pipeline's stored table) is read as is. Otherwise
    ``source`` is transcripts and the pass splits and detects mentions
    itself with the detector ``config`` — sentence split, detection, J2
    antecedent resolution, pairing and all four extractors fused,
    skipping the Arrow round trip of the mentions column (the in-session
    hot path). The statistical member rides the same pass.

    The input is clustered per conversation (one repartition +
    in-partition sort) so the pass can carry the antecedent state
    across a conversation's turns. At 10^12-turn scale a
    single giant conversation would bottleneck its partition; shard such
    conversations upstream on (conv_id, turn_idx div B) — antecedents
    then reset per B-turn block, the per-document propagation scope the
    reference uses (PostIRAnnotator is per-document too).
    """
    from .mentions import sentence_mentions

    stored = "mentions" in source.columns
    if stored:
        keys = ("conv_id", "turn_idx", "sent_idx")
        src = source.select(*keys, "sent_text", "mentions")
    else:
        keys = ("conv_id", "turn_idx")
        src = source.select(*keys, "text")
    # EXPLICIT partition count: a bare repartition("conv_id") lets AQE
    # coalesce the exchange to ~64MB partitions — sized for JVM-cheap
    # operators, catastrophically coarse for a Python regex stage
    # (measured: extraction pinned at ~8-wide no matter how many
    # executors). 2x total cores keeps every slot fed.
    n_parts = 2 * source.sparkSession.sparkContext.defaultParallelism
    src = src.repartition(n_parts, "conv_id").sortWithinPartitions(*keys)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matchers = None if stored else [(ner, re.compile(rx)) for ner, rx in config]
        pbank = _compiled_pattern_bank()
        tbank = _compiled_trigger_bank()
        stat = _stat_context()
        state = AntecedentState()
        for pdf in batches:
            if stored:
                sentences = zip(
                    pdf["conv_id"], pdf["turn_idx"], pdf["sent_idx"],
                    pdf["sent_text"], pdf["mentions"],
                )
            else:
                sentences = sentence_mentions(pdf, keys, matchers)
            rows: list[tuple[Any, ...]] = []
            for conv_id, turn_idx, sent_idx, sent, mentions in sentences:
                if mentions is None:
                    continue
                if stored:
                    mentions = [dict(m) for m in mentions]
                mentions = state.resolve(conv_id, mentions)
                if len(mentions) < 2:
                    continue
                head = (conv_id, turn_idx, sent_idx)
                for vote in votes_for_sentence(sent, mentions, pbank, tbank, stat):
                    rows.append(head + vote)
            yield pd.DataFrame(rows, columns=VOTE_COLUMNS)

    return src.mapInPandas(run, schema=VOTES_SCHEMA)


PAIR_FEATURES_SCHEMA = (
    "conv_id string, turn_idx int, sent_idx int, entity_name string, "
    "entity_type string, slot_value string, slot_ner string, feature string"
)


def extract_pair_features(
    transcripts: DataFrame, config: list[tuple[str, str]]
) -> DataFrame:
    """Training-side featurizer: the SAME pair generation and masked
    feature template the statistical inference path uses, emitted as a
    long (mention key, feature) table for the distributed trainer
    (statistical.miml_train / train_weights_df)."""
    from .mentions import sentence_mentions
    from .statistical import pair_feature_list

    keys = ("conv_id", "turn_idx")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matchers = [(ner, re.compile(rx)) for ner, rx in config]
        for pdf in batches:
            rows: list[tuple[Any, ...]] = []
            for conv_id, turn_idx, sent_idx, sent, mentions in sentence_mentions(
                pdf, keys, matchers
            ):
                if len(mentions) < 2:
                    continue
                for ent in mentions:
                    if ent["ner"] not in ENTITY_TYPES:
                        continue
                    for slot in mentions:
                        if slot is ent or not compatible_relations(ent["ner"], slot["ner"]):
                            continue
                        for f in pair_feature_list(sent, mentions, ent, slot):
                            rows.append(
                                (conv_id, turn_idx, sent_idx, ent["surface"],
                                 ent["ner"], slot["surface"], slot["ner"], f)
                            )
            yield pd.DataFrame(
                rows,
                columns=["conv_id", "turn_idx", "sent_idx", "entity_name",
                         "entity_type", "slot_value", "slot_ner", "feature"],
            )

    return transcripts.select(*keys, "text").mapInPandas(run, schema=PAIR_FEATURES_SCHEMA)
