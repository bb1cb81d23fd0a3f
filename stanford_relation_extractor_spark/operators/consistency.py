"""Stage 6 — consistency filters and the greedy activation pass
(SURVEY.md §2b/§2e/§2f).

The reference applies ordered filters, then one greedy activation loop
(`stanford-kbp/.../slotfilling/evaluate/SlotfillPostProcessor.java:83-190`,
`HeuristicSlotfillPostProcessor.java:69-200`,
`HeuristicSlotfillPostProcessors.java`). Here the unary filters are
SQL predicates, ordered cheap-before-expensive so Catalyst keeps them
early, and the loop is one clustered Arrow pass:

* P6  RespectRelationTypes (`HeuristicSlotfillPostProcessors.java:47-89`)
  — broadcast join against the relation signatures, a local relation.
* P7  FilterVeryLowProbabilitySlots (`:139-147`, threshold
  `common/Props.java:480`) — score >= 0.5.
* O2  NoDuplicates (`:655-670`) — holds by construction: the ensemble
  emits one row per triple key.
* W1  the greedy activation loop (``greedy_consistency``): per entity,
  fills in W4 order are kept only if consistent with the fills already
  accepted. The pairwise checks inside it are W2 single-value top-1
  (`:742-756`), the employee/member collapse (`:655-670`) and O6
  RespectDeclaredIncompatibilities (`:766-791`); the hold-one-out check
  is MitigateLocOfDeath.
* W4  deterministic tie-breaking (`common/KBPSlotFill.java:69-91`) —
  score desc, slot token count desc, slot length desc, slot value asc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..ontology import (
    GLOBAL_SCORE_THRESHOLD,
    PER_RELATION_THRESHOLDS,
    RELATION_SIGNATURES_SQL,
)

LOC_OF_DEATH = ("per:city_of_death", "per:country_of_death", "per:stateorprovince_of_death")


def type_check(triples: DataFrame) -> DataFrame:
    """P6: keep triples whose (entity_type, slot_ner) fit the relation.

    A join, not a filter predicate: Catalyst would push a predicate on
    (relation, entity_type, slot_ner) below the ensemble aggregation
    onto the whole vote stream, which cost ~10% of a warm in-session
    run's CPU; the join stays where stage 6 puts it.
    """
    signatures = F.broadcast(triples.sparkSession.sql(RELATION_SIGNATURES_SQL))
    return (
        triples.join(signatures, "relation")
        .filter(
            (F.col("entity_type") == F.col("rs_entity_type"))
            & F.array_contains(F.col("valid_slot_ners"), F.col("slot_ner"))
        )
        .drop("rs_entity_type", "valid_slot_ners")
    )


def threshold_filter(triples: DataFrame) -> DataFrame:
    """P7: drop slots scored below their relation's threshold.

    FIXED_PER_RELATION semantics (KBPEvaluator.java:266-272): the
    per-relation table overrides the global floor where present. The
    table rides the plan as a map LITERAL (41 keys max) — a coalesce
    over a map lookup, no join, stays in whole-stage codegen.
    """
    flat: list = []
    for rel in sorted(PER_RELATION_THRESHOLDS):
        flat.append(F.lit(rel))
        flat.append(F.lit(PER_RELATION_THRESHOLDS[rel]))
    floor = F.coalesce(
        F.create_map(*flat)[F.col("relation")], F.lit(GLOBAL_SCORE_THRESHOLD)
    )
    return triples.filter(F.col("score") >= floor)


def tiebreak_order() -> list:
    """W4 total order (KBPSlotFill.compareTo, common/KBPSlotFill.java:69-91)
    extended with relation asc so every ordering is bit-deterministic."""
    slot_tokens = F.size(F.split(F.col("slot_value"), " "))
    return [
        F.desc("score"),
        slot_tokens.desc(),
        F.length("slot_value").desc(),
        F.asc("slot_value"),
        F.asc("relation"),
    ]


def dedup_approximate(triples: DataFrame) -> DataFrame:
    """O3 NoDuplicatesApproximate (`HeuristicSlotfillPostProcessors.java:672-741`):
    within (entity, relation), slots judged same-entity by the linker
    cascade keep only the top-ranked fill.

    Blocking self-join (functions/text.blocking_key) + cascade judge —
    never O(n^2) — then the W4-lower member of each matched pair drops.
    alternate_names relations are exempt unless the variants are
    *disallowed* (Utils.isValidAlternateName:411).
    """
    from collections.abc import Iterator

    import pandas as pd

    from ..functions.text import blocking_key, is_valid_alternate_name, same_entity

    def add_block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["_block"] = pdf["slot_value"].map(blocking_key)
            yield pdf

    w = Window.partitionBy("entity_name", "entity_type", "relation").orderBy(
        *tiebreak_order()
    )
    ranked = triples.withColumn("_rk", F.row_number().over(w))
    keyed = ranked.select(
        "entity_name", "entity_type", "relation", "slot_value", "_rk"
    ).mapInPandas(
        add_block,
        schema=(
            "entity_name string, entity_type string, relation string, "
            "slot_value string, _rk int, _block string"
        ),
    )
    a = keyed.select(
        F.col("entity_name").alias("e"), F.col("entity_type").alias("et"),
        F.col("relation").alias("r"), F.col("slot_value").alias("s_hi"),
        F.col("_rk").alias("rk_hi"), F.col("_block").alias("b_hi"),
    )
    pairs = keyed.join(
        a,
        (F.col("entity_name") == F.col("e"))
        & (F.col("entity_type") == F.col("et"))
        & (F.col("relation") == F.col("r"))
        & (F.col("_block") == F.col("b_hi"))
        & (F.col("rk_hi") < F.col("_rk")),
    ).select("entity_name", "entity_type", "relation", "slot_value", "s_hi")

    def judge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mask = []
            for r in pdf.itertuples(index=False):
                alt = r.relation.endswith("alternate_names")
                if alt:
                    dup = not is_valid_alternate_name(r.slot_value, r.s_hi)
                else:
                    etype = "PERSON" if r.relation.startswith("per:") else "ORGANIZATION"
                    dup = same_entity(r.slot_value, r.s_hi, etype)
                mask.append(dup)
            yield pdf[pd.Series(mask, index=pdf.index)][
                ["entity_name", "entity_type", "relation", "slot_value"]
            ]

    dups = pairs.mapInPandas(
        judge,
        schema="entity_name string, entity_type string, relation string, slot_value string",
    ).distinct()
    return triples.join(
        dups, ["entity_name", "entity_type", "relation", "slot_value"], "left_anti"
    )


# P8 ConformToGuidelinesFilter sets (HeuristicSlotfillPostProcessors.java:173-289)
INVALID_TOP_EMPLOYEES = (
    "spokesperson", "spokesman", "spokeswoman", "chief customer officer", "cco",
    "information officer", "chief compliance officer", "frontman",
    "secretary of information", "supreme court justice", "house minority leader",
    "press secretary", "representative", "senior advisor", "senior editor", "member",
)
INVALID_ORG_ALT_NAMES = (
    "association", "society", "group", "corporation", "corp", "corp.", "llc",
)
INVALID_TITLES = ("senior leader", "leader", "member", "hero", "socialite", "rep.")


def conform_to_guidelines(triples: DataFrame) -> DataFrame:
    """P8 (`:173-289`) + P9 URL-relatedness (`:290-332`): guideline
    hygiene — invalid titles / org alternate names, date-slot shape
    (YEAR or YEAR-MONTH or full date), and org:website must share a
    token stem with the org name."""
    lower_slot = F.lower(F.col("slot_value"))
    date_shape = F.col("slot_value").rlike(r"^\d{4}([-/]\d{1,2}([-/]\d{1,2})?)?$")
    # org stem: first run of letters in the entity name, lowercased
    stem = F.lower(F.regexp_extract(F.col("entity_name"), r"([A-Za-z]+)", 1))
    url_related = (F.length(stem) >= 3) & F.lower(F.col("slot_value")).contains(stem)
    keep = (
        F.when(F.col("relation") == "per:title", ~lower_slot.isin(*INVALID_TITLES))
        .otherwise(F.lit(True))
        & F.when(
            F.col("relation") == "org:top_members/employees",
            ~lower_slot.isin(*INVALID_TOP_EMPLOYEES),
        ).otherwise(F.lit(True))
        & F.when(
            F.col("relation") == "org:alternate_names",
            ~lower_slot.isin(*INVALID_ORG_ALT_NAMES),
        ).otherwise(F.lit(True))
        & F.when(F.col("slot_ner") == "DATE", date_shape).otherwise(F.lit(True))
        & F.when(F.col("relation") == "org:website", url_related).otherwise(F.lit(True))
    )
    return triples.filter(keep)


def greedy_consistency(triples: DataFrame) -> DataFrame:
    """W1 — the reference's greedy activation loop
    (`HeuristicSlotfillPostProcessor.java:69-200`): per entity, walk
    fills in W4 order and keep each only if consistent with everything
    already accepted (pairwise: single-cardinality, employee/member
    collapse, declared incompatibilities; hold-one-out: loc-of-death
    needs an accepted date-of-death).

    ONE repartition on (entity_name, entity_type), an in-partition sort
    by entity then W4, and one ``mapInPandas`` pass that scans the sorted
    rows linearly: the Python boundary is paid once per Arrow batch, not
    once per entity group (a pandas call per group made the in-session
    pipeline's warm run ~1.6x dearer). ``functions.grouped.complete_groups``
    carries the entity group at the end of a batch into the next one, so
    every group is judged on complete rows.
    """
    import pandas as pd

    from ..functions.grouped import complete_groups
    from ..ontology import RELATION_BY_NAME, plausibly_cooccurs

    single = {n for n, r in RELATION_BY_NAME.items() if r.cardinality == "SINGLE"}
    other_of = {"per:employee_of": "per:member_of", "per:member_of": "per:employee_of"}

    def keep_mask(pdf: pd.DataFrame) -> list[bool]:
        """The loop over complete entity groups, rows in W4 order."""
        keep: list[bool] = []
        group, n_group = None, 0
        dod_groups: set[int] = set()
        loc_rows: list[tuple[int, int]] = []
        cols = ("entity_name", "entity_type", "relation", "slot_value")
        for i, (name, etype, rel, slot) in enumerate(zip(*(pdf[c].tolist() for c in cols))):
            if (name, etype) != group:
                group, n_group = (name, etype), n_group + 1
                filled_single: set[str] = set()
                emp_member_slots: dict[str, set[str]] = {r: set() for r in other_of}
                rels_by_slot: dict[str, set[str]] = {}
            ok = rel not in filled_single
            if ok and rel in other_of:
                ok = slot not in emp_member_slots[other_of[rel]]
            if ok:
                ok = all(
                    prev == rel or plausibly_cooccurs(prev, rel)
                    for prev in rels_by_slot.get(slot, ())
                )
            keep.append(ok)
            if ok:
                if rel in single:
                    filled_single.add(rel)
                if rel in other_of:
                    emp_member_slots[rel].add(slot)
                rels_by_slot.setdefault(slot, set()).add(rel)
                if rel == "per:date_of_death":
                    dod_groups.add(n_group)
                elif rel in LOC_OF_DEATH:
                    loc_rows.append((i, n_group))
        # hold-one-out: a loc-of-death fill needs an accepted date-of-death
        for i, g in loc_rows:
            keep[i] = g in dod_groups
        return keep

    def scan(batches):
        for pdf in complete_groups(batches, ["entity_name", "entity_type"]):
            yield pdf.loc[keep_mask(pdf)]

    # EXPLICIT partition count: a bare keyed repartition is AQE-coalesced
    # to ~64MB partitions — measured 4 tasks carrying the whole tail at
    # local[32]. Scale-adaptive (cluster parallelism), not a constant.
    n_parts = triples.sparkSession.sparkContext.defaultParallelism
    return (
        triples.repartition(n_parts, "entity_name", "entity_type")
        .sortWithinPartitions("entity_name", "entity_type", *tiebreak_order())
        .mapInPandas(scan, schema=triples.schema)
    )


def apply_consistency(triples: DataFrame) -> DataFrame:
    """Stage 6 in reference order (SlotfillPostProcessor.java:83-190):
    the unary filters first (cheap, prunes early), then the W1 greedy
    pass.

    The input is ensemble output: already unique on the triple key (so
    no O2 pass) and sanity-gated at vote time
    (``extractors.slot_sanity_ok``, the SanityCheckFilter of
    `HeuristicSlotfillPostProcessors.java:148-172`; gating votes in
    Python keeps Catalyst from pushing an expensive predicate below the
    aggregation onto the full vote stream).
    """
    out = type_check(triples)
    # post-canonicalization self-fill check stays SQL-side (cheap)
    out = out.filter(F.col("entity_name") != F.col("slot_value"))
    # P8/P9 guideline hygiene — unary predicates, corpus-active via the
    # k18 (unrelated org:website) and k19 (invalid per:title) templates
    out = conform_to_guidelines(out)
    out = threshold_filter(out)
    return greedy_consistency(out)
