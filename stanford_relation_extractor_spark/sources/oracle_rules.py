"""Construction-time ground truth for the synthetic corpus -> oracle SQL.

Each synthetic template (sources/synthetic.py) plants known mentions and
relation assertions. This module declares, as data, exactly which votes
the reference-semantics ensemble must cast for each template, and
generates ANSI SQL (runnable by DuckDB over the shared CTEs) that
enumerates them — the driver's independent check of the Spark engine.

This is the "frozen pure-Python reference ensemble" of BASELINE.md: the
P/R >= 0.95 gate compares the engine's emitted triples against the SQL
derivation below, which never executes any engine code.

Vote weights mirror operators/extractors.py by DESIGN CONTRACT (the
numbers are part of the ensemble spec, not an implementation detail):
pattern 0.9, trigger 0.8, window 0.4/|admissible relations|.
"""

from __future__ import annotations

from ..ontology import RELATION_BY_NAME, compatible_relations, plausibly_cooccurs
from ..operators.consistency import (
    INVALID_ORG_ALT_NAMES,
    INVALID_TITLES,
    INVALID_TOP_EMPLOYEES,
)
from .synthetic import canon_sql, oracle_query


def _sql_list(values: tuple[str, ...]) -> str:
    return ", ".join(f"'{v}'" for v in values)


def conform_pred_sql() -> str:
    """P8/P9 ConformToGuidelines as one SQL predicate — the oracle twin
    of consistency.conform_to_guidelines, shared by the final-triples
    chain and the standalone conform driver query."""
    return f"""NOT (relation = 'per:title' AND lower(slot_value) IN ({_sql_list(INVALID_TITLES)}))
    AND NOT (relation = 'org:top_members/employees'
             AND lower(slot_value) IN ({_sql_list(INVALID_TOP_EMPLOYEES)}))
    AND NOT (relation = 'org:alternate_names'
             AND lower(slot_value) IN ({_sql_list(INVALID_ORG_ALT_NAMES)}))
    AND (slot_ner <> 'DATE'
         OR regexp_matches(slot_value, '^[0-9]{{4}}([-/][0-9]{{1,2}}([-/][0-9]{{1,2}})?)?$'))
    AND (relation <> 'org:website'
         OR (length(lower(regexp_extract(entity_name, '([A-Za-z]+)', 1))) >= 3
             AND contains(lower(slot_value),
                          lower(regexp_extract(entity_name, '([A-Za-z]+)', 1)))))"""


def duckdb_materialize(sql: str) -> str:
    """Force DuckDB to materialize hot shared CTEs once instead of
    re-inlining them per branch (the vote-union oracles reference
    turns_base ~100x; inlining re-opens the parquet inputs per branch
    and exhausts file descriptors). DuckDB-only syntax — never apply to
    SQL that also runs under Spark (transcripts_df & co)."""
    for cte in (
        "turns_base", "alias_dict", "vsurf",
        # the inference oracle references final_out / its rule CTEs many
        # times (self-joins + two chaining rounds) — re-inlining would
        # re-run the whole consistency chain per reference
        "final_out", "inf1_raw", "inf1", "store2", "inf2_raw",
    ):
        sql = sql.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (", 1)
    return sql

PATTERN_WEIGHT = 0.9
TRIGGER_WEIGHT = 0.8
WINDOW_WEIGHT = 0.4


def _pattern_weight(rel: str) -> float:
    """Pattern vote score: the relation's shipped `.rules` trailing
    confidence (max of the file) where one exists, else PATTERN_WEIGHT
    — read from the engine's own weight source
    (extractors._pattern_weights), so oracle and engine share one
    parse and one fallback when the reference data is not mounted."""
    from ..operators.extractors import _pattern_weights

    return _pattern_weights().get(rel, PATTERN_WEIGHT)

# column -> entity/NER type of each planted mention, per template k
TEMPLATE_MENTIONS: dict[int, list[tuple[str, str]]] = {
    0: [("person", "PERSON"), ("age", "NUMBER"), ("country", "COUNTRY")],
    1: [("person", "PERSON"), ("age", "NUMBER"), ("org", "ORGANIZATION")],
    2: [("person", "PERSON"), ("age", "NUMBER")],
    3: [("person", "PERSON"), ("country", "COUNTRY"), ("yr", "DATE")],
    4: [("org", "ORGANIZATION"), ("city", "CITY")],
    5: [("org", "ORGANIZATION"), ("person", "PERSON"), ("yr", "DATE")],
    6: [("person", "PERSON"), ("person2", "PERSON")],
    7: [("person", "PERSON"), ("country", "COUNTRY"), ("yr", "DATE")],
    8: [("org", "ORGANIZATION"), ("n_emp", "NUMBER")],
    9: [("person", "PERSON"), ("title", "TITLE"), ("org", "ORGANIZATION")],
    10: [],
    11: [("org", "ORGANIZATION"), ("website", "URL")],
    12: [("person", "PERSON"), ("org_inc", "ORGANIZATION")],
    13: [("nickperson", "PERSON"), ("city", "CITY")],
    14: [("org_ltd", "ORGANIZATION"), ("yr", "DATE")],
    15: [("person", "PERSON"), ("org", "ORGANIZATION")],
    16: [("initialperson", "PERSON"), ("city", "CITY")],
    17: [("person", "PERSON"), ("n_cars", "NUMBER")],
    18: [("org", "ORGANIZATION"), ("badsite", "URL")],
    19: [("person", "PERSON"), ("soctitle", "TITLE")],
    20: [("pron", "PRONOUN"), ("city", "CITY")],
    # k21 (corpus v3): cataphoric pronoun — person FOLLOWS the pronoun
    21: [("pron", "PRONOUN"), ("person", "PERSON")],
    # k22 (corpus v4): same-surname distinct person (must NOT merge)
    22: [("surnamesake", "PERSON"), ("city", "CITY")],
    # k23 (corpus v4): nested ORG (must merge via the J8 cascade)
    23: [("org_sec", "ORGANIZATION"), ("city", "CITY")],
    # k24 (corpus v4): cross-sentence negative — sentence 0 carries the
    # person ONLY; the CITY lives in sentence 1 (SENT2_MENTIONS)
    24: [("person", "PERSON")],
}

# second-sentence mentions (sent_idx 1) for multi-sentence templates —
# pair generation is per-sentence, so these mentions join the mention
# stream but never pair with sentence-0 mentions
SENT2_MENTIONS: dict[int, list[tuple[str, str]]] = {
    24: [("city", "CITY")],
}

_NER_OF = {col: ner for ms in TEMPLATE_MENTIONS.values() for col, ner in ms}
_NER_OF.update({col: ner for ms in SENT2_MENTIONS.values() for col, ner in ms})
_NER_OF["person2"] = "PERSON"
# the J2-resolved pronoun: a pseudo-column of tb_ante (see TB_ANTE_CTE)
_NER_OF["antecedent"] = "PERSON"


def _voter_mentions(k: int) -> list[tuple[str, str]]:
    """Vote-time mention list: PRONOUN mentions participate in pairing
    as their resolved antecedent (J2) — the engine's AntecedentState
    replaces the surface before pair generation."""
    return [
        ("antecedent", "PERSON") if ner == "PRONOUN" else (col, ner)
        for col, ner in TEMPLATE_MENTIONS[k]
    ]


# The oracle's independent antecedent derivation: per turn, the LAST
# PERSON surface its template plants (by in-sentence position); a k20
# turn adopts the most recent prior non-null value in the conversation
# (strictly-preceding window, matching extractors.AntecedentState).
# max-over-sortable-string stands in for last_value IGNORE NULLS, which
# Spark and DuckDB spell differently.
TB_ANTE_CTE = """
, tb_ante AS (
  SELECT *, substr(max(CASE WHEN last_person IS NOT NULL THEN
             lpad(CAST(turn_idx AS STRING), 10, '0') || '|' || last_person END)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 12) AS antecedent
  FROM (
    SELECT *, CASE CAST(k AS INT)
        WHEN 4 THEN NULL WHEN 8 THEN NULL WHEN 10 THEN NULL WHEN 11 THEN NULL
        WHEN 14 THEN NULL WHEN 18 THEN NULL WHEN 20 THEN NULL WHEN 23 THEN NULL
        WHEN 6 THEN person2 WHEN 13 THEN nickperson WHEN 16 THEN initialperson
        WHEN 22 THEN surnamesake
        ELSE person END AS last_person
    FROM turns_base
  ) t
)"""

# (entity_col, slot_col, relation) votes per template
PATTERN_VOTES: dict[int, list[tuple[str, str, str]]] = {
    0: [("person", "age", "per:age"), ("person", "country", "per:countries_of_residence")],
    1: [("person", "age", "per:age"), ("person", "org", "per:employee_of")],
    2: [("person", "age", "per:age")],
    3: [("person", "country", "per:country_of_birth"), ("person", "yr", "per:date_of_birth")],
    4: [("org", "city", "org:city_of_headquarters")],
    5: [("org", "person", "org:founded_by"), ("org", "yr", "org:founded")],
    6: [("person", "person2", "per:spouse")],
    7: [("person", "country", "per:country_of_death"), ("person", "yr", "per:date_of_death")],
    8: [("org", "n_emp", "org:number_of_employees/members")],
    9: [
        ("person", "title", "per:title"),
        ("org", "person", "org:top_members/employees"),
        ("person", "org", "per:employee_of"),
    ],
    10: [],
    11: [("org", "website", "org:website")],
    12: [("person", "org_inc", "per:employee_of")],
    13: [("nickperson", "city", "per:cities_of_residence")],
    14: [("org_ltd", "yr", "org:founded")],
    15: [("person", "org", "per:schools_attended")],
    16: [("initialperson", "city", "per:cities_of_residence")],
    # k17: adversarial negative — an age-plausible NUMBER in a non-age
    # context draws NO pattern/trigger vote (window-only, sub-threshold)
    17: [],
    # k18/k19 DO draw pattern votes; the consistency battery's
    # guideline-conformance pass (P8/P9) must kill them downstream
    18: [("org", "badsite", "org:website")],
    19: [("person", "soctitle", "per:title")],
    # k20: pronoun subject — the vote's entity is the J2 antecedent
    20: [("antecedent", "city", "per:cities_of_residence")],
    # k21: "greeted ... warmly" matches no pattern — window/statistical
    # votes only, and the pronoun must NOT resolve to the in-sentence
    # following person (cataphora; J2 uses the PRIOR antecedent)
    21: [],
    22: [("surnamesake", "city", "per:cities_of_residence")],
    23: [("org_sec", "city", "org:city_of_headquarters")],
    # k24: entity and slot in DIFFERENT sentences — no pair, no vote
    24: [],
}

TRIGGER_VOTES: dict[int, list[tuple[str, str, str]]] = {
    0: [("person", "country", "per:countries_of_residence")],
    1: [("person", "org", "per:employee_of")],
    2: [],
    3: [("person", "country", "per:country_of_birth"), ("person", "yr", "per:date_of_birth")],
    4: [("org", "city", "org:city_of_headquarters")],
    5: [("org", "person", "org:founded_by"), ("org", "yr", "org:founded")],
    6: [("person", "person2", "per:spouse")],
    7: [("person", "country", "per:country_of_death"), ("person", "yr", "per:date_of_death")],
    8: [("org", "n_emp", "org:number_of_employees/members")],
    9: [("person", "title", "per:title"), ("org", "person", "org:top_members/employees")],
    10: [],
    11: [("org", "website", "org:website")],
    12: [("person", "org_inc", "per:employee_of")],
    13: [("nickperson", "city", "per:cities_of_residence")],
    14: [("org_ltd", "yr", "org:founded")],
    15: [("person", "org", "per:schools_attended")],
    16: [("initialperson", "city", "per:cities_of_residence")],
    17: [],
    18: [("org", "badsite", "org:website")],
    19: [("person", "soctitle", "per:title")],
    20: [("antecedent", "city", "per:cities_of_residence")],
    21: [],
    22: [("surnamesake", "city", "per:cities_of_residence")],
    23: [("org_sec", "city", "org:city_of_headquarters")],
    24: [],
}


def _c(name: str) -> tuple[str, str]:
    return ("COL", name)


# Token shape of each template's main sentence; ("COL", name) marks a
# planted mention column. MUST track synthetic.py's CASE branches
# verbatim — this is the oracle's independent source for the masked
# statistical features (statistical.pair_feature_list replaces other
# mentions by their ⟨NER⟩ sentinels, so the feature multiset is a pure
# function of this shape).
TEMPLATE_SHAPE: dict[int, list] = {
    0: [_c("person"), ",", _c("age"), ",", "lives", "in", _c("country"), "."],
    1: [_c("person"), "(", _c("age"), ")", "works", "for", _c("org"), "."],
    2: [_c("person"), "is", _c("age"), "years", "old", "."],
    3: [_c("person"), "was", "born", "in", _c("country"), "in", _c("yr"), "."],
    4: [_c("org"), "is", "headquartered", "in", _c("city"), "."],
    5: [_c("org"), "was", "founded", "by", _c("person"), "in", _c("yr"), "."],
    6: [_c("person"), "is", "married", "to", _c("person2"), "."],
    7: [_c("person"), "died", "in", _c("country"), "in", _c("yr"), "."],
    8: [_c("org"), "has", _c("n_emp"), "employees", "."],
    9: [_c("person"), ",", "the", _c("title"), "of", _c("org"), ",", "spoke", "."],
    10: [],
    11: ["The", "website", "of", _c("org"), "is", _c("website"), "."],
    12: [_c("person"), "works", "for", _c("org_inc"), "."],
    13: [_c("nickperson"), "lives", "in", _c("city"), "."],
    14: [_c("org_ltd"), "was", "founded", "in", _c("yr"), "."],
    15: [_c("person"), "studied", "at", _c("org"), "."],
    16: [_c("initialperson"), "lives", "in", _c("city"), "."],
    17: [_c("person"), "bought", _c("n_cars"), "cars", "."],
    18: ["The", "website", "of", _c("org"), "is", _c("badsite"), "."],
    19: [_c("person"), ",", "the", _c("soctitle"), ",", "attended", "the", "gala", "."],
    # the pronoun token occupies the entity position; features see the
    # resolved antecedent's TYPE only, never its surface
    20: [_c("antecedent"), "lives", "in", _c("city"), "."],
    21: [_c("antecedent"), "greeted", _c("person"), "warmly", "."],
    22: [_c("surnamesake"), "lives", "in", _c("city"), "."],
    23: [_c("org_sec"), "is", "headquartered", "in", _c("city"), "."],
    # sentence 0 only — the CITY in sentence 1 never pairs
    24: [_c("person"), "arrived", "early", "."],
}


def statistical_votes(k: int) -> list[tuple[str, str, str, float]]:
    """(entity_col, slot_col, relation, prob) — expected statistical
    votes for template k, re-derived from the token shape + the frozen
    weight table. Feature construction and softmax arithmetic are the
    shared spec functions (statistical.features_from_between /
    softmax_scores) over oracle-owned inputs — the engine's featurizer
    runs over real sentences; any divergence hash-mismatches."""
    from ..models.frozen_statistical import BAG_WEIGHTS
    from ..operators.extractors import STATISTICAL_MIN_PROB
    from ..operators.statistical import (
        combined_relation_probs,
        features_from_between,
        softmax_relations,
    )

    shape = TEMPLATE_SHAPE[k]
    cols = [(i, t[1]) for i, t in enumerate(shape) if isinstance(t, tuple)]
    support = softmax_relations()
    out: list[tuple[str, str, str, float]] = []
    for ei, ecol in cols:
        ener = _NER_OF[ecol]
        if ener not in ("PERSON", "ORGANIZATION"):
            continue
        for si, scol in cols:
            if si == ei:
                continue
            sner = _NER_OF[scol]
            rels = compatible_relations(ener, sner)
            if not rels:
                continue
            order = "e_before_s" if ei < si else "s_before_e"
            lo, hi = min(ei, si) + 1, max(ei, si)
            between = [
                f"⟨{_NER_OF[t[1]]}⟩" if isinstance(t, tuple) else t
                for t in shape[lo:hi]
            ]
            feats = features_from_between(order, ener, sner, between)
            probs = combined_relation_probs(feats, BAG_WEIGHTS, support)
            for rel in rels:
                p = probs[rel]
                if p >= STATISTICAL_MIN_PROB:
                    out.append((ecol, scol, rel, round(p, 6)))
    return out


def window_votes(k: int) -> list[tuple[str, str, str, float]]:
    """(entity_col, slot_col, relation, weight) for the window extractor."""
    out = []
    ms = _voter_mentions(k)
    for ecol, ener in ms:
        if ener not in ("PERSON", "ORGANIZATION"):
            continue
        for scol, sner in ms:
            if scol == ecol:
                continue
            rels = compatible_relations(ener, sner)
            if not rels:
                continue
            w = round(WINDOW_WEIGHT / len(rels), 6)
            out.extend((ecol, scol, rel, w) for rel in rels)
    return out


def _sanity_pred(rel: str, scol: str) -> str:
    """SQL twin of extractors.slot_sanity_ok for the oracle's vote rows
    (numeric plausibility bands; length/self-fill never bind on the
    synthetic cast)."""
    if rel == "per:age":
        return f" AND CAST({scol} AS INT) BETWEEN 1 AND 125"
    if rel == "org:number_of_employees/members":
        return f" AND CAST({scol} AS INT) BETWEEN 25 AND 500000"
    return ""


def _vote_select(k: int, ecol: str, scol: str, rel: str, extractor: str, score: float) -> str:
    etype = _NER_OF[ecol] if _NER_OF[ecol] in ("PERSON", "ORGANIZATION") else "PERSON"
    sner = _NER_OF[scol]
    table, extra = "turns_base", ""
    if "antecedent" in (ecol, scol):  # J2-resolved votes live on tb_ante
        table, extra = "tb_ante", " AND antecedent IS NOT NULL"
    # universal self-fill guard (extractors.slot_sanity_ok: slot_value ==
    # entity_name never votes) — binds on k21 when the pronoun's prior
    # antecedent IS the in-sentence person (the common same-conversation
    # case); vacuously true for all distinct-column pairs
    self_fill = f" AND {ecol} <> {scol}" if ecol != scol else " AND false"
    return (
        f"SELECT conv_id, turn_idx, {ecol} AS entity_name, '{etype}' AS entity_type, "
        f"{scol} AS slot_value, '{sner}' AS slot_ner, '{rel}' AS relation, "
        f"'{extractor}' AS extractor, CAST({score!r} AS DOUBLE) AS score "
        f"FROM {table} WHERE k = {k}{extra}{self_fill}{_sanity_pred(rel, scol)}"
    )


def votes_union_sql(extractors: tuple[str, ...] | None = None) -> str:
    """All expected extractor votes as one UNION ALL query body."""
    branches: list[str] = []
    want = set(extractors) if extractors is not None else None

    def keep(name: str) -> bool:
        return want is None or name in want

    for k in sorted(TEMPLATE_MENTIONS):
        if keep("pattern"):
            for ecol, scol, rel in PATTERN_VOTES[k]:
                branches.append(
                    _vote_select(k, ecol, scol, rel, "pattern", _pattern_weight(rel))
                )
        if keep("trigger"):
            for ecol, scol, rel in TRIGGER_VOTES[k]:
                branches.append(_vote_select(k, ecol, scol, rel, "trigger", TRIGGER_WEIGHT))
        if keep("window"):
            for ecol, scol, rel, w in window_votes(k):
                branches.append(_vote_select(k, ecol, scol, rel, "window", w))
        if keep("statistical"):
            for ecol, scol, rel, p in statistical_votes(k):
                branches.append(_vote_select(k, ecol, scol, rel, "statistical", p))
    if not branches:  # e.g. untrained placeholder model -> zero votes
        branches.append(
            "SELECT conv_id, turn_idx, CAST(NULL AS STRING) AS entity_name, "
            "CAST(NULL AS STRING) AS entity_type, CAST(NULL AS STRING) AS slot_value, "
            "CAST(NULL AS STRING) AS slot_ner, CAST(NULL AS STRING) AS relation, "
            "CAST(NULL AS STRING) AS extractor, CAST(NULL AS DOUBLE) AS score "
            "FROM turns_base WHERE false"
        )
    return "\nUNION ALL\n".join(branches)


def statistical_votes_sql() -> str:
    """Driver oracle for the statistical member alone."""
    return duckdb_materialize(
        oracle_query(TB_ANTE_CTE + "\n" + votes_union_sql(extractors=("statistical",)))
    )


def mentions_sql() -> str:
    """Expected (conv_id, turn_idx, sent_idx, surface, ner) mention rows."""
    branches = [
        f"SELECT conv_id, turn_idx, 0 AS sent_idx, {col} AS surface, '{ner}' AS ner "
        f"FROM turns_base WHERE k = {k}"
        for k in sorted(TEMPLATE_MENTIONS)
        for col, ner in TEMPLATE_MENTIONS[k]
    ] + [
        f"SELECT conv_id, turn_idx, 1 AS sent_idx, {col} AS surface, '{ner}' AS ner "
        f"FROM turns_base WHERE k = {k}"
        for k in sorted(SENT2_MENTIONS)
        for col, ner in SENT2_MENTIONS[k]
    ]
    return duckdb_materialize(oracle_query("\nUNION ALL\n".join(branches)))


def votes_sql() -> str:
    return duckdb_materialize(oracle_query(TB_ANTE_CTE + "\n" + votes_union_sql()))


# sentence-0 text per template: main_sent except for multi-sentence
# templates, whose first sentence is a strict prefix (k24)
SENT0_TEXT_SQL: dict[int, str] = {
    24: "person || ' arrived early .'",
}


def topk_sentences_sql() -> str:
    """W7 oracle: per-entity sentence budget (5, the driver query's)
    with text dedup."""
    branches = [
        f"SELECT {col} AS entity_name, conv_id, turn_idx, 0 AS sent_idx, "
        f"{SENT0_TEXT_SQL.get(kk, 'main_sent')} AS sent_text "
        f"FROM turns_base WHERE k = {kk}"
        for kk in sorted(TEMPLATE_MENTIONS)
        for col, ner in TEMPLATE_MENTIONS[kk]
        if ner in ("PERSON", "ORGANIZATION")
    ]
    body = f"""
, ent_sent AS (
{' UNION ALL '.join(branches)}
), dedup AS (
  SELECT *, row_number() OVER (PARTITION BY entity_name, sent_text
                               ORDER BY conv_id, turn_idx, sent_idx) AS d
  FROM ent_sent
), budget AS (
  SELECT entity_name, conv_id, turn_idx, sent_idx, sent_text,
         row_number() OVER (PARTITION BY entity_name
                            ORDER BY conv_id, turn_idx, sent_idx) AS r
  FROM dedup WHERE d = 1
)
SELECT entity_name, conv_id, turn_idx, sent_idx, sent_text FROM budget WHERE r <= 5
"""
    return duckdb_materialize(oracle_query(body))


def ner_majority_sql() -> str:
    """A5 oracle: majority NER tag per surface across mentions."""
    branches = [
        f"SELECT {col} AS surface, '{ner}' AS ner FROM turns_base WHERE k = {kk}"
        for kk in sorted(TEMPLATE_MENTIONS)
        for col, ner in TEMPLATE_MENTIONS[kk]
    ] + [
        f"SELECT {col} AS surface, '{ner}' AS ner FROM turns_base WHERE k = {kk}"
        for kk in sorted(SENT2_MENTIONS)
        for col, ner in SENT2_MENTIONS[kk]
    ]
    body = f"""
, men AS (
{' UNION ALL '.join(branches)}
), counts AS (
  SELECT surface, ner, count(*) AS n FROM men GROUP BY surface, ner
), ranked AS (
  SELECT surface, ner, n,
         row_number() OVER (PARTITION BY surface ORDER BY n DESC, ner ASC) AS r
  FROM counts
)
SELECT surface, ner AS majority_ner, CAST(n AS BIGINT) AS votes FROM ranked WHERE r = 1
"""
    return duckdb_materialize(oracle_query(body))


def _vote_surface_cols(k: int) -> list[tuple[str, str]]:
    """(col, ner) of the PERSON/ORG surfaces template k contributes to
    the vote stream (entity side always; slot side when entity-typed) —
    the oracle's independent derivation of canonicalize.vote_surfaces."""
    cols: dict[str, str] = {}
    seen = list(PATTERN_VOTES[k]) + list(TRIGGER_VOTES[k]) + [
        (e, s, r) for (e, s, r, _w) in window_votes(k)
    ]
    for ecol, scol, _rel in seen:
        cols[ecol] = _NER_OF[ecol]
        if _NER_OF[scol] in ("PERSON", "ORGANIZATION"):
            cols[scol] = _NER_OF[scol]
    return sorted(cols.items())


def _canon_ctes() -> str:
    """SQL twin of canonicalize.build_canon_map: vote surfaces ->
    dictionary + wikidict-margin edges -> recursive connected components
    -> pure-target representative map.

    The engine additionally feeds same-entity cascade edges (J8) into
    CC. On this corpus the cascade's NOVEL contribution is exactly the
    k23 nested-org containment merge (org_sec -> org; 'Securities' is
    not a corporate suffix, so no dictionary edge exists) — mirrored
    below as cascade_edges, which join CC connectivity but NOT the
    pure-target (directed-edge) representative selection, matching
    build_canon_map's directed/cascade tag split. Every other cascade
    edge only reproduces corporate-suffix dictionary edges; any edge
    beyond these (e.g. a same-surname k22 merge, which must NOT happen)
    is an engine bug this oracle catches as a hash mismatch.
    """
    # k21's only pairs are antecedent x person: when the resolved
    # antecedent IS the in-sentence person every vote of the row is a
    # self-fill (dropped by slot_sanity_ok), so NEITHER surface reaches
    # the engine's vote stream — the surface branches carry the same
    # survival guard
    guards = {21: " AND antecedent IS NOT NULL AND antecedent <> person"}
    branches = [
        (
            f"SELECT DISTINCT antecedent AS surface FROM tb_ante "
            f"WHERE k = {k} AND antecedent IS NOT NULL{guards.get(k, '')}"
            if col == "antecedent"
            else f"SELECT DISTINCT {col} AS surface FROM "
            f"{'tb_ante' if k in guards else 'turns_base'} "
            f"WHERE k = {k}{guards.get(k, '')}"
        )
        for k in sorted(TEMPLATE_MENTIONS)
        for col, _ner in _vote_surface_cols(k)
    ]
    # NB: inside a WITH RECURSIVE list, DuckDB does not globally dedup a
    # bare UNION chain in a non-recursive CTE — always spell dedup as
    # SELECT DISTINCT over UNION ALL here.
    return TB_ANTE_CTE + f"""
, vsurf AS (
  SELECT DISTINCT surface FROM (
{" UNION ALL ".join(branches)}
  ) u
), dict_edges AS (
  SELECT surface AS src, {canon_sql("surface")} AS dst FROM vsurf
  WHERE {canon_sql("surface")} <> surface
), link_cand AS (
  SELECT v.surface, a.canonical, a.link_score,
         row_number() OVER (PARTITION BY v.surface
                            ORDER BY a.link_score DESC, a.canonical ASC) AS rk
  FROM vsurf v JOIN alias_dict a ON lower(v.surface) = a.alias
), link_agg AS (
  SELECT surface,
         max(CASE WHEN rk = 1 THEN link_score END) AS top1,
         max(CASE WHEN rk = 2 THEN link_score END) AS top2,
         max(CASE WHEN rk = 1 THEN canonical END) AS best
  FROM link_cand GROUP BY surface
), link_edges AS (
  SELECT surface AS src, best AS dst FROM link_agg
  WHERE top1 >= 0.4 AND (top2 IS NULL OR top1 >= 1.5 * top2) AND best <> surface
), canon_edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM dict_edges UNION ALL SELECT src, dst FROM link_edges
  ) u
), cascade_edges AS (
  -- k23 nested-org containment (J8 token-overlap >= 0.75): undirected
  -- connectivity only — never a pure-target source/destination
  SELECT DISTINCT org_sec AS src, org AS dst FROM turns_base WHERE k = 23
), canon_sym AS (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM canon_edges
    UNION ALL SELECT dst, src FROM canon_edges
    UNION ALL SELECT src, dst FROM cascade_edges
    UNION ALL SELECT dst, src FROM cascade_edges
  ) u
), canon_nodes AS (
  SELECT DISTINCT a AS node FROM canon_sym
), canon_walk(node, label) AS (
  SELECT node, node FROM canon_nodes
  UNION
  SELECT s.b, w.label FROM canon_walk w JOIN canon_sym s ON w.node = s.a
), canon_comp AS (
  SELECT node, min(label) AS component FROM canon_walk GROUP BY node
), canon_pure AS (
  SELECT DISTINCT dst AS node FROM canon_edges
  WHERE dst NOT IN (SELECT src FROM canon_edges)
), canon_rep AS (
  SELECT c.component, min(c.node) AS rep
  FROM canon_comp c JOIN canon_pure p ON c.node = p.node
  GROUP BY c.component
), canon_map AS (
  SELECT c.node, coalesce(r.rep, c.component) AS rep
  FROM canon_comp c LEFT JOIN canon_rep r ON c.component = r.component
  WHERE coalesce(r.rep, c.component) <> c.node
)"""


_ENSEMBLE_BODY = """
, votes AS (
{votes}
), votes_c AS (
  -- stage 4/5 LINK+CANON applied before grouping: component
  -- representative rewrite of both name columns (J5/J6/F5 -> J9)
  SELECT coalesce(me.rep, v.entity_name) AS entity_name, v.entity_type, v.relation,
         coalesce(ms.rep, v.slot_value) AS slot_value, v.slot_ner, v.extractor, v.score
  FROM votes v
  LEFT JOIN canon_map me ON v.entity_name = me.node
  LEFT JOIN canon_map ms ON v.slot_value = ms.node
), per_ex AS (
  SELECT entity_name, entity_type, relation, slot_value, slot_ner, extractor,
         max(score) AS w
  FROM votes_c
  GROUP BY 1, 2, 3, 4, 5, 6
), ens AS (
  -- AGREE_MOST gate for the 4-member ensemble: n_agree >= 4/2 (Java
  -- integer division, EnsembleRelationExtractor.java:303-332)
  SELECT entity_name, entity_type, relation, slot_value, slot_ner,
         CAST(count(*) AS INT) AS n_agree,
         -- fold-left product over (1 - w) with w DESC: the exact float
         -- path of ensemble.combine_votes (F.aggregate over ws_desc) —
         -- the exp(sum(ln)) form diverged in the last ulp and blew up
         -- at w = 1.0
         round(1 - list_reduce(
           list_prepend(CAST(1.0 AS DOUBLE),
                        list(CAST(1.0 - w AS DOUBLE) ORDER BY w DESC)),
           (acc, x) -> acc * x), 6) AS score
  FROM per_ex
  GROUP BY entity_name, entity_type, relation, slot_value, slot_ner
  HAVING count(*) >= 2
)
"""


def _ensemble_body() -> str:
    return _canon_ctes() + _ENSEMBLE_BODY.format(votes=votes_union_sql())


def ensemble_sql() -> str:
    from .synthetic import oracle_query_linking

    return duckdb_materialize(
        oracle_query_linking(_ensemble_body() + "SELECT * FROM ens", recursive=True)
    )


def canon_map_sql() -> str:
    """Driver oracle for the production canonicalization map itself."""
    from .synthetic import oracle_query_linking

    return duckdb_materialize(
        oracle_query_linking(
            _canon_ctes() + "SELECT node, rep FROM canon_map", recursive=True
        )
    )


# Expected alternate-name emissions, enumerated from template ground
# truth (NOT by re-running the normalization): nickname merges from k13
# turns; initial-form merges from k16 turns of customers whose initial
# alias is unambiguous. Org suffix variants are NOT valid alternate
# names (Utils.isValidAlternateName strips corporate designators).
# Merged person-form surfaces (nicknames, initials — incl. those that
# only reach the vote stream via J2 antecedent resolution) are valid
# alternate names; org corporate-suffix variants are NOT
# (Utils.isValidAlternateName strips the designators, so
# 'Org001 Inc' ~ 'Org001'). On this corpus that dichotomy is exactly
# "node ends in ' Person<6 digits>'".
_ALT_NAMES_CTE = """
, alt_names AS (
  SELECT rep AS entity_name, 'PERSON' AS entity_type,
         'per:alternate_names' AS relation, node AS slot_value,
         'PERSON' AS slot_ner, 1 AS n_agree, CAST(0.9 AS DOUBLE) AS score
  FROM canon_map
  WHERE regexp_matches(node, ' Person[0-9]{6}$')
  UNION ALL
  -- k23 nested-org merges ARE valid alternate names ('Securities' is
  -- not a disallowed variant, so the normalized forms differ)
  SELECT rep AS entity_name, 'ORGANIZATION' AS entity_type,
         'org:alternate_names' AS relation, node AS slot_value,
         'ORGANIZATION' AS slot_ner, 1 AS n_agree, CAST(0.9 AS DOUBLE) AS score
  FROM canon_map
  WHERE node LIKE '% Securities'
)"""


def alternate_names_sql() -> str:
    from .synthetic import oracle_query_linking

    return duckdb_materialize(
        oracle_query_linking(
            _canon_ctes() + _ALT_NAMES_CTE + "\nSELECT * FROM alt_names",
            recursive=True,
        )
    )


_W4 = (
    "score DESC, "
    "(length(slot_value) - length(replace(slot_value, ' ', ''))) DESC, "
    "length(slot_value) DESC, slot_value ASC, relation ASC"
)


def _allowed_pairs_values() -> str:
    """Ordered relation pairs allowed to share (entity, slotValue)."""
    rows = []
    for a in RELATION_BY_NAME:
        for b in RELATION_BY_NAME:
            if a != b and plausibly_cooccurs(a, b):
                rows.append(f"('{a}', '{b}')")
    return ", ".join(sorted(rows))


def threshold_pred_sql() -> str:
    """P7 FIXED_PER_RELATION accept predicate (KBPEvaluator.java:266-272):
    per-relation floors from the shared ontology table, global fallback
    0.5 (Props.java:480) — the SQL twin of consistency.threshold_filter's
    map-literal coalesce."""
    from ..ontology import PER_RELATION_THRESHOLDS

    if not PER_RELATION_THRESHOLDS:
        return "score >= 0.5"
    whens = " ".join(
        f"WHEN '{rel}' THEN {PER_RELATION_THRESHOLDS[rel]!r}"
        for rel in sorted(PER_RELATION_THRESHOLDS)
    )
    return f"score >= (CASE relation {whens} ELSE 0.5 END)"


def _final_body() -> str:
    """CTE chain ending in ``final_out`` — the consistency battery:
    ensemble -> threshold (P7) -> SINGLE-cardinality top-1 (W2/W4) ->
    declared-incompatibility drop (O6) -> loc-of-death mitigation."""
    singles = ", ".join(
        f"'{name}'" for name, r in sorted(RELATION_BY_NAME.items()) if r.cardinality == "SINGLE"
    )
    return _ensemble_body() + f"""
, base AS (
  -- P7 threshold + P8/P9 guideline conformance (consistency.py
  -- conform_to_guidelines): invalid titles / top-employees / org alt
  -- names, DATE slot shape, org:website token-stem relatedness
  SELECT entity_name, entity_type, relation, slot_value, slot_ner, n_agree, score
  FROM ens WHERE {threshold_pred_sql()}
    AND {conform_pred_sql()}
){_ALT_NAMES_CTE}
, base2 AS (
  -- AlternateNamesExtractor fills join the candidate set before the
  -- pairwise battery (SimpleSlotFiller.java:256-288 appends rule-based
  -- + alternate-name fills ahead of the consistency passes)
  SELECT * FROM base UNION ALL SELECT * FROM alt_names
), allowed(r_hi, r_lo) AS (
  SELECT * FROM (VALUES {_allowed_pairs_values()}) v(r_hi, r_lo)
), ranked AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY entity_name, entity_type, slot_value ORDER BY {_W4}
         ) AS rk,
         row_number() OVER (
           PARTITION BY entity_name, entity_type, relation ORDER BY {_W4}
         ) AS rel_rn
  FROM base2
), conflict AS (
  -- greedy-loop fidelity: only fills surviving their relation's
  -- cardinality top-1 can block others
  SELECT DISTINCT lo.entity_name, lo.entity_type, lo.relation, lo.slot_value
  FROM ranked lo
  JOIN ranked hi
    ON hi.entity_name = lo.entity_name AND hi.entity_type = lo.entity_type
   AND hi.slot_value = lo.slot_value AND hi.rk < lo.rk AND hi.relation <> lo.relation
   AND (hi.relation NOT IN ({singles}) OR hi.rel_rn = 1)
  WHERE NOT EXISTS (
    SELECT 1 FROM allowed a WHERE a.r_hi = hi.relation AND a.r_lo = lo.relation
  )
), ok AS (
  SELECT b.* FROM base2 b
  LEFT JOIN conflict c
    ON c.entity_name = b.entity_name AND c.entity_type = b.entity_type
   AND c.relation = b.relation AND c.slot_value = b.slot_value
  WHERE c.entity_name IS NULL
), kept2 AS (
  SELECT entity_name, entity_type, relation, slot_value, slot_ner, n_agree, score
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY entity_name, entity_type, relation ORDER BY {_W4}
    ) AS rn
    FROM ok
  ) t
  WHERE relation NOT IN ({singles}) OR rn = 1
), final_out AS (
  SELECT * FROM kept2
  WHERE kept2.relation NOT IN ('per:city_of_death', 'per:country_of_death', 'per:stateorprovince_of_death')
     OR EXISTS (
       SELECT 1 FROM kept2 d
       WHERE d.relation = 'per:date_of_death'
         AND d.entity_name = kept2.entity_name AND d.entity_type = kept2.entity_type
     )
)
"""


def final_triples_sql() -> str:
    from .synthetic import oracle_query_linking

    return duckdb_materialize(
        oracle_query_linking(
            _final_body() + "SELECT * FROM final_out", recursive=True
        )
    )


def nil_padded_sql() -> str:
    """S10 oracle: full (person query x PER relation) grid, NIL-padded."""
    per_rels = ", ".join(
        f"('{name}')" for name in sorted(RELATION_BY_NAME) if name.startswith("per:")
    )
    body = _final_body() + f"""
, grid AS (
  SELECT p.person AS query_id, p.person AS entity_name, r.relation
  FROM (SELECT DISTINCT person FROM turns_base) p
  CROSS JOIN (SELECT * FROM (VALUES {per_rels}) v(relation)) r
)
SELECT g.query_id, g.entity_name, g.relation,
       coalesce(t.slot_value, 'NIL') AS slot_value,
       coalesce(t.score, 0.0) AS score
FROM grid g
LEFT JOIN final_out t
  ON t.entity_name = g.entity_name AND t.relation = g.relation
 AND t.entity_type = 'PERSON'
"""
    from .synthetic import oracle_query_linking

    return duckdb_materialize(oracle_query_linking(body, recursive=True))


def sentence_competition_sql() -> str:
    """W5 oracle (GraphConsistencyPostProcessors.java:470-510): per
    (sentence, entity, slot) keep the single best-ranked vote."""
    body = TB_ANTE_CTE + f"""
, votes AS (
{votes_union_sql()}
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx, entity_name, slot_value
    ORDER BY score DESC, relation ASC, extractor ASC
  ) AS r
  FROM votes
)
SELECT conv_id, turn_idx, entity_name, entity_type, slot_value, slot_ner,
       relation, extractor, score
FROM ranked WHERE r = 1
"""
    return duckdb_materialize(oracle_query(body))


def conform_guidelines_sql() -> str:
    """P8/P9 oracle over pattern-vote fills: the k18 (unrelated website)
    and k19 (invalid title) plants must be dropped."""
    body = TB_ANTE_CTE + f"""
, votes AS (
{votes_union_sql(extractors=("pattern",))}
), fills AS (
  SELECT DISTINCT entity_name, entity_type, relation, slot_value, slot_ner
  FROM votes
)
SELECT * FROM fills WHERE {conform_pred_sql()}
"""
    return duckdb_materialize(oracle_query(body))


def dedup_approx_sql() -> str:
    """O3 oracle (NoDuplicatesApproximate): among per:employee_of
    pattern fills, an org-suffix variant pair collapses to the W4-higher
    member — 'OrgXXX Inc' (2 tokens) outranks 'OrgXXX', so the bare form
    drops exactly when the Inc form exists for the same person."""
    body = TB_ANTE_CTE + f"""
, votes AS (
{votes_union_sql(extractors=("pattern",))}
), fills AS (
  SELECT DISTINCT entity_name, entity_type, relation, slot_value, slot_ner
  FROM votes WHERE relation = 'per:employee_of'
)
SELECT f.*, CAST(0.9 AS DOUBLE) AS score FROM fills f
WHERE NOT EXISTS (
  SELECT 1 FROM fills g
  WHERE g.entity_name = f.entity_name AND g.entity_type = f.entity_type
    AND g.relation = f.relation AND g.slot_value = f.slot_value || ' Inc'
)
"""
    return duckdb_materialize(oracle_query(body))


def geo_consistency_sql() -> str:
    """J7 oracle: final residence fills, with every 3rd customer's
    accepted country deterministically corrupted to 'Atlantis' — the
    gazetteer contradiction must then drop that customer's city fills
    (WorldKnowledgePostProcessor city<->country consistency)."""
    body = _final_body() + """
, resi AS (
  SELECT entity_name, entity_type, relation,
         CASE WHEN relation = 'per:countries_of_residence'
                   AND CAST(substr(entity_name, length(entity_name) - 5, 6) AS INT) % 3 = 0
              THEN 'Atlantis' ELSE slot_value END AS slot_value,
         slot_ner, score
  FROM final_out
  WHERE relation IN ('per:cities_of_residence', 'per:countries_of_residence')
), geo AS (
  SELECT replace(n_name, ' ', '') || 'ville' AS city, n_name AS country FROM nation
), accepted AS (
  SELECT entity_name, entity_type, slot_value AS accepted_country
  FROM resi WHERE relation = 'per:countries_of_residence'
)
SELECT r.* FROM resi r
WHERE r.relation <> 'per:cities_of_residence'
   OR NOT EXISTS (
     SELECT 1 FROM geo g JOIN accepted a
       ON a.entity_name = r.entity_name AND a.entity_type = r.entity_type
     WHERE g.city = r.slot_value AND g.country <> a.accepted_country
   )
"""
    from .synthetic import oracle_query_linking

    return duckdb_materialize(oracle_query_linking(body, recursive=True))


def pr_score_sql() -> str:
    """A10 oracle: P/R/F1 of the final triples against the
    canonicalized pattern-extractor assertions (degenerate equivalence
    classes = slot values; class mechanics are unit-tested separately)."""
    body = _final_body() + """
, gold AS (
  SELECT DISTINCT entity_name, relation, slot_value
  FROM votes_c WHERE extractor = 'pattern'
), guesses AS (
  SELECT DISTINCT entity_name, relation, slot_value FROM final_out
), nums AS (
  SELECT
    (SELECT count(*) FROM guesses) AS n_guessed,
    (SELECT count(*) FROM gold) AS n_gold_classes,
    (SELECT count(*) FROM guesses g JOIN gold USING (entity_name, relation, slot_value)) AS n_correct
)
SELECT CAST(n_guessed AS BIGINT) AS n_guessed,
       CAST(n_gold_classes AS BIGINT) AS n_gold_classes,
       CAST(n_correct AS BIGINT) AS n_correct,
       round(n_correct / CAST(n_guessed AS DOUBLE), 6) AS precision,
       round(n_correct / CAST(n_gold_classes AS DOUBLE), 6) AS recall,
       round(2 * (n_correct / CAST(n_guessed AS DOUBLE)) * (n_correct / CAST(n_gold_classes AS DOUBLE))
             / ((n_correct / CAST(n_guessed AS DOUBLE)) + (n_correct / CAST(n_gold_classes AS DOUBLE))), 6) AS f1
FROM nums
"""
    from .synthetic import oracle_query_linking

    return duckdb_materialize(oracle_query_linking(body, recursive=True))


def _mln_rules_sql(store: str) -> str:
    """The DEFAULT_MLN rule set applied once over ``store`` — the SQL
    twin of inference._apply_rule for each clause (conclusion score =
    product of triple-antecedent scores x 0.9, rounded once)."""
    return f"""
  SELECT slot_value AS entity_name, 'PERSON' AS entity_type,
         'per:spouse' AS relation, entity_name AS slot_value,
         'PERSON' AS slot_ner, round(score * 0.9, 6) AS score,
         'spouse_symmetry' AS rule
  FROM {store} WHERE relation = 'per:spouse' AND slot_ner = 'PERSON'
  UNION ALL
  SELECT slot_value, 'PERSON', 'per:employee_of', entity_name,
         'ORGANIZATION', round(score * 0.9, 6), 'top_members_inversion'
  FROM {store} WHERE relation = 'org:top_members/employees' AND slot_ner = 'PERSON'
  UNION ALL
  SELECT f.entity_name, f.entity_type,
         CASE f.relation
           WHEN 'per:cities_of_residence' THEN 'per:countries_of_residence'
           WHEN 'per:city_of_birth' THEN 'per:country_of_birth'
           WHEN 'per:city_of_death' THEN 'per:country_of_death'
           ELSE 'org:country_of_headquarters' END,
         g.country, 'COUNTRY', round(f.score * 0.9, 6), 'geo_lift'
  FROM {store} f JOIN geo g ON g.city = f.slot_value
  WHERE f.relation IN ('per:cities_of_residence', 'per:city_of_birth',
                       'per:city_of_death', 'org:city_of_headquarters')
    AND f.slot_ner = 'CITY'
  UNION ALL
  SELECT e.entity_name, 'PERSON', 'per:countries_of_residence',
         h.slot_value, 'COUNTRY', round(e.score * h.score * 0.9, 6),
         'employee_hq_residence'
  FROM {store} e JOIN {store} h ON h.entity_name = e.slot_value
  WHERE e.relation = 'per:employee_of' AND e.slot_ner = 'ORGANIZATION'
    AND h.relation = 'org:country_of_headquarters' AND h.slot_ner = 'COUNTRY'
"""


def _mln_combine_sql(raw: str, known: str) -> str:
    """Noisy-or over distinct (rule, score) derivations per novel key;
    provenance = argmax-score rule, tie rule asc (the SQL twin of
    inference._combine_derivations)."""
    return f"""(
  SELECT d.entity_name, d.entity_type, d.relation, d.slot_value, d.slot_ner,
         -- fold-left product over (1 - score) with score ASC: the exact
         -- float path of inference._combine_derivations (F.aggregate
         -- over array_sort(scores)); safe at score = 1.0 where ln(0)
         -- degenerates
         round(1 - list_reduce(
           list_prepend(CAST(1.0 AS DOUBLE),
                        list(CAST(1.0 - d.score AS DOUBLE) ORDER BY d.score ASC)),
           (acc, x) -> acc * x), 6) AS score,
         min(r1.rule) AS rule
  FROM (SELECT DISTINCT * FROM {raw}) d
  JOIN (
    SELECT *, row_number() OVER (
      PARTITION BY entity_name, entity_type, relation, slot_value
      ORDER BY score DESC, rule ASC
    ) AS rn
    FROM (SELECT DISTINCT * FROM {raw})
  ) r1
    ON r1.entity_name = d.entity_name AND r1.entity_type = d.entity_type
   AND r1.relation = d.relation AND r1.slot_value = d.slot_value AND r1.rn = 1
  WHERE NOT EXISTS (
    SELECT 1 FROM {known} t
    WHERE t.entity_name = d.entity_name AND t.entity_type = d.entity_type
      AND t.relation = d.relation AND t.slot_value = d.slot_value
  )
  GROUP BY d.entity_name, d.entity_type, d.relation, d.slot_value, d.slot_ner,
           r1.rule
)
"""


def gold_tab_roundtrip_sql() -> str:
    """Expected parse of the formatted gold lines, derived directly
    from the final store (the SQL twin of goldtab.format_gold_tab |>
    parse_gold_tab over per: fills — any formatter/parser drift
    hash-mismatches)."""
    body = _final_body() + """
, per_triples AS (
  SELECT DISTINCT entity_name, relation, slot_value
  FROM final_out WHERE relation LIKE 'per:%'
)
SELECT CAST(row_number() OVER (ORDER BY entity_name, relation, slot_value) AS INT)
         AS line_id,
       entity_name AS query_id, relation,
       'DOC_' || CAST(row_number() OVER (ORDER BY entity_name, relation, slot_value)
                      AS STRING) AS docid,
       slot_value, 'C' AS judgment,
       CAST(dense_rank() OVER (PARTITION BY entity_name, relation
                               ORDER BY slot_value) AS INT) AS equiv_class
FROM per_triples
"""
    from .synthetic import oracle_query_linking

    return duckdb_materialize(oracle_query_linking(body, recursive=True))


def inferred_triples_sql() -> str:
    """Inferential-pipeline oracle (InferentialSlotFiller analog): the
    DEFAULT_MLN rule set — symmetric spouse, top-members inversion,
    gazetteer city->country lifting, employee-of-HQ residence — with
    noisy-or combination of same-key derivations and ONE chaining round
    (rules re-run over store UNION round-1 conclusions); novel fills
    only."""
    body = _final_body() + f"""
, geo AS (
  SELECT replace(n_name, ' ', '') || 'ville' AS city, n_name AS country FROM nation
), inf1_raw AS (
{_mln_rules_sql('final_out')}
), inf1 AS {_mln_combine_sql('inf1_raw', 'final_out')}
, store2 AS (
  SELECT entity_name, entity_type, relation, slot_value, slot_ner, score
  FROM final_out
  UNION ALL
  SELECT entity_name, entity_type, relation, slot_value, slot_ner, score
  FROM inf1
), inf2_raw AS (
{_mln_rules_sql('store2')}
), inf2 AS {_mln_combine_sql('inf2_raw', 'store2')}
SELECT entity_name, entity_type, relation, slot_value, slot_ner, score, rule
FROM inf1
UNION ALL
SELECT entity_name, entity_type, relation, slot_value, slot_ner, score, rule
FROM inf2
"""
    from .synthetic import oracle_query_linking

    return duckdb_materialize(oracle_query_linking(body, recursive=True))


def official_score_pipeline_sql() -> str:
    """A10 end-to-end (`KBPEvaluator.java:310-340`): the engine's OWN
    final triples -> the deterministic perturbed response set
    (``evaluate.perturbed_response_set`` spec, mirrored clause for
    clause) -> the CustomSFScore counting pipeline
    (``realgold_oracle.official_score_body``)."""
    from .realgold_oracle import official_score_body
    from .synthetic import oracle_query_linking

    card_values = ", ".join(
        f"('{name}', '{r.cardinality}')"
        for name, r in sorted(RELATION_BY_NAME.items())
    )
    body = _final_body() + f"""
, pt AS (
  SELECT DISTINCT entity_name AS query_id, relation, slot_value,
         length(entity_name) + length(relation) + length(slot_value) AS kl
  FROM final_out
), pbase AS (
  SELECT *, 'D_' || CAST(kl % 10 AS VARCHAR) AS docid,
         row_number() OVER (ORDER BY query_id, relation, slot_value) AS line_id,
         dense_rank() OVER (
           PARTITION BY query_id, relation ORDER BY slot_value) AS equiv_class
  FROM pt
), gold AS (
  SELECT line_id, query_id, relation, docid, slot_value,
         'C' AS judgment, equiv_class
  FROM pbase
  UNION ALL
  SELECT line_id + 100000, query_id, relation, docid, slot_value || ' Jr',
         'X', equiv_class
  FROM pbase WHERE kl % 3 = 0
), card0(relation, card) AS (VALUES {card_values}),
resp1 AS (
  SELECT query_id, relation, docid,
         CASE WHEN kl % 6 = 0 THEN slot_value || ' Jr'
              WHEN kl % 7 = 0 THEN slot_value || ' ZZZ'
              ELSE slot_value END AS slot_value,
         line_id AS resp_order, kl
  FROM pbase
), resp0 AS (
  SELECT query_id, relation, docid, slot_value, resp_order FROM resp1
  UNION ALL
  SELECT r.query_id, r.relation, r.docid, r.slot_value, r.resp_order + 500000
  FROM resp1 r JOIN card0 c USING (relation)
  WHERE c.card = 'LIST' AND r.kl % 5 = 0
),
{official_score_body(card_values)}
"""
    return duckdb_materialize(oracle_query_linking(body, recursive=True))
