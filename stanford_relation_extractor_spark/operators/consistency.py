"""Stage 6 — consistency filter/rewrite battery (SURVEY.md §2b/§2e/§2f).

The reference applies ordered rewrites-then-filters
(`stanford-kbp/.../slotfilling/evaluate/SlotfillPostProcessor.java:83-190`,
`HeuristicSlotfillPostProcessors.java`). Re-expressed as window + join
passes, ordered cheap-before-expensive so Catalyst keeps predicates
early:

* P6  RespectRelationTypes (`HeuristicSlotfillPostProcessors.java:47-89`)
  — broadcast join against the relation-schema dimension.
* P7  FilterVeryLowProbabilitySlots (`:139-147`, threshold
  `common/Props.java:480`) — score >= 0.5.
* O2  NoDuplicates (`:655-670`) — holds by construction: the ensemble
  emits one row per triple key.
* W2  single-value top-1 (`:742-756`) — cardinality-gated
  row_number window.
* W4  deterministic tie-breaking (`common/KBPSlotFill.java:69-91`) —
  score desc, slot token count desc, slot length desc, slot value asc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ontology import (
    GLOBAL_SCORE_THRESHOLD,
    PER_RELATION_THRESHOLDS,
    incompatible_pairs,
    relation_schema_df,
)


def type_check(triples: DataFrame, spark: SparkSession) -> DataFrame:
    """P6: keep triples whose (entity_type, slot_ner) fit the relation."""
    schema = F.broadcast(
        relation_schema_df(spark).select(
            "relation",
            F.col("entity_type").alias("rs_entity_type"),
            "cardinality",
            "valid_slot_ners",
        )
    )
    return (
        triples.join(schema, "relation")
        .filter(
            (F.col("entity_type") == F.col("rs_entity_type"))
            & F.array_contains(F.col("valid_slot_ners"), F.col("slot_ner"))
        )
        .drop("rs_entity_type", "valid_slot_ners")
    )


def threshold_filter(
    triples: DataFrame,
    threshold: float = GLOBAL_SCORE_THRESHOLD,
    per_relation: dict[str, float] | None = None,
) -> DataFrame:
    """P7: drop slots scored below their relation's threshold.

    FIXED_PER_RELATION semantics (KBPEvaluator.java:266-272): the
    per-relation table overrides the global floor where present. The
    table rides the plan as a map LITERAL (41 keys max) — a coalesce
    over a map lookup, no join, stays in whole-stage codegen.
    """
    table = PER_RELATION_THRESHOLDS if per_relation is None else per_relation
    if not table:
        return triples.filter(F.col("score") >= F.lit(threshold))
    flat: list = []
    for rel in sorted(table):
        flat.append(F.lit(rel))
        flat.append(F.lit(table[rel]))
    floor = F.coalesce(
        F.create_map(*flat).getItem(F.col("relation")), F.lit(threshold)
    )
    return triples.filter(F.col("score") >= floor)


def tiebreak_order() -> list:
    """W4 total order (KBPSlotFill.compareTo, common/KBPSlotFill.java:69-91)
    extended with relation asc so EVERY window is bit-deterministic."""
    slot_tokens = F.size(F.split(F.col("slot_value"), " "))
    return [
        F.desc("score"),
        slot_tokens.desc(),
        F.length("slot_value").desc(),
        F.asc("slot_value"),
        F.asc("relation"),
    ]


def sanity_check(triples: DataFrame) -> DataFrame:
    """SanityCheckFilter (HeuristicSlotfillPostProcessors.java:148-172):
    slot length cap, numeric plausibility bands for ages / employee
    counts, no self-referential fills."""
    # numeric plausibility bands as pure anchored regexes — a cast-based
    # form knocks the filter out of whole-stage codegen (interpreted
    # fallback measured ~10x slower on the pushed-down vote stream)
    age_ok = F.col("slot_value").rlike(r"^0*(12[0-5]|1[01][0-9]|[1-9][0-9]?)$")
    emp_ok = F.col("slot_value").rlike(
        r"^0*(2[5-9]|[3-9][0-9]|[1-9][0-9]{2,4}|[1-4][0-9]{5}|500000)$"
    )
    keep = (
        (F.length("slot_value") <= 80)
        & (F.col("entity_name") != F.col("slot_value"))
        & F.when(F.col("relation") == "per:age", age_ok).otherwise(F.lit(True))
        & F.when(
            F.col("relation") == "org:number_of_employees/members", emp_ok
        ).otherwise(F.lit(True))
    )
    return triples.filter(keep)


def collapse_employee_member(triples: DataFrame) -> DataFrame:
    """NoDuplicates employee/member special case
    (HeuristicSlotfillPostProcessors.java:655-670): per:employee_of and
    per:member_of with the same (entity, slot) collapse to the better one."""
    pair = F.col("relation").isin("per:employee_of", "per:member_of")
    ranked = triples.withColumn(
        "_emp_rn",
        F.when(pair, F.row_number().over(
            Window.partitionBy(
                "entity_name", "entity_type", "slot_value",
                F.when(pair, F.lit("emp")).otherwise(F.col("relation")),
            ).orderBy(*tiebreak_order())
        )).otherwise(F.lit(1)),
    )
    return ranked.filter(F.col("_emp_rn") == 1).drop("_emp_rn")


def remove_low_weight_competitors(triples: DataFrame, floor: float = 0.01) -> DataFrame:
    """W3 RemoveLowWeightRelationUnlessOnlyOneOfType (`:757-765`)."""
    w = Window.partitionBy("entity_name", "entity_type", "relation")
    best = F.max("score").over(w)
    n = F.count("*").over(w)
    return (
        triples.withColumn("_best", best).withColumn("_n", n)
        .filter((F.col("score") >= floor) | (F.col("_n") == 1) | (F.col("score") == F.col("_best")))
        .drop("_best", "_n")
    )


def respect_incompatibilities_window(triples: DataFrame) -> DataFrame:
    """O6 as a pure window pass (no self-join, no plan branching).

    Per (entity, slotValue) partition, every row sees the higher-ranked
    cardinality-surviving relations via a windowed collect_list and
    drops itself when any of them is declared incompatible — the
    incompatibility matrix rides the plan as a map literal (41 keys).
    One window instead of a self-join, so the whole consistency tail
    shares one exchange.
    """
    from ..ontology import RELATION_BY_NAME

    # rel -> array of relations it may NOT share a slot with
    incompat_of: dict[str, list[str]] = {}
    for hi, lo in incompatible_pairs():
        incompat_of.setdefault(hi, []).append(lo)
    flat: list = []
    for rel in sorted(incompat_of):
        flat.append(F.lit(rel))
        flat.append(F.array(*[F.lit(x) for x in sorted(incompat_of[rel])]))
    incompat_map = F.create_map(*flat)

    w_slot = Window.partitionBy("entity_name", "entity_type", "slot_value").orderBy(
        *tiebreak_order()
    )
    w_rel = Window.partitionBy("entity_name", "entity_type", "relation").orderBy(
        *tiebreak_order()
    )
    w_slot_all = w_slot.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    ranked = (
        triples.withColumn("_rk", F.row_number().over(w_slot))
        .withColumn("_rel_rn", F.row_number().over(w_rel))
        .withColumn(
            "_hi",
            F.collect_list(
                F.when(
                    (F.col("cardinality") == "LIST") | (F.col("_rel_rn") == 1),
                    F.struct(F.col("_rk").alias("rk"), F.col("relation").alias("rel")),
                )
            ).over(w_slot_all),
        )
    )
    conflict = F.exists(
        F.col("_hi"),
        lambda x: (x["rk"] < F.col("_rk"))
        & (x["rel"] != F.col("relation"))
        & F.coalesce(
            F.array_contains(incompat_map.getItem(x["rel"]), F.col("relation")),
            F.lit(False),
        ),
    )
    return ranked.filter(~conflict).drop("_rk", "_rel_rn", "_hi")


def mitigate_loc_of_death_window(triples: DataFrame) -> DataFrame:
    """MitigateLocOfDeath as a window pass (no join/branch): an entity's
    death-location fills survive only when a per:date_of_death fill is
    present in the same partition."""
    w = Window.partitionBy("entity_name", "entity_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    has_dod = F.max(
        F.when(F.col("relation") == "per:date_of_death", F.lit(1)).otherwise(F.lit(0))
    ).over(w)
    return (
        triples.withColumn("_has_dod", has_dod)
        .filter((~F.col("relation").isin(*LOC_OF_DEATH)) | (F.col("_has_dod") == 1))
        .drop("_has_dod")
    )


LOC_OF_DEATH = ("per:city_of_death", "per:country_of_death", "per:stateorprovince_of_death")


def enforce_cardinality(triples: DataFrame) -> DataFrame:
    """W2: SINGLE-cardinality relations keep only the top-1 fill.

    Requires a ``cardinality`` column (added by ``type_check``).
    """
    w = Window.partitionBy("entity_name", "entity_type", "relation").orderBy(*tiebreak_order())
    return (
        triples.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("cardinality") == "LIST") | (F.col("_rn") == 1))
        .drop("_rn")
    )


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


def normalize_scores(df: DataFrame, group_cols: list[str], score_col: str = "score") -> DataFrame:
    """A4 Counters.normalize (`RelationClassifier.java:42-52`): rescale
    scores to sum 1 within each group (window sum, no extra shuffle when
    grouped on a prefix of the current partitioning)."""
    w = Window.partitionBy(*group_cols)
    return df.withColumn(
        score_col, F.round(F.col(score_col) / F.sum(score_col).over(w), 6)
    )


def greedy_consistency(triples: DataFrame) -> DataFrame:
    """W1 — the reference's greedy activation loop
    (`HeuristicSlotfillPostProcessor.java:69-200`) as a grouped
    ``applyInPandas``: per entity, walk fills in W4 score order and keep
    each only if consistent with everything already accepted (pairwise:
    single-cardinality, employee/member collapse, declared
    incompatibilities; hold-one-out: loc-of-death needs date-of-death).

    Entity groups are tiny (dozens of fills), so the per-group quadratic
    is fine — the distribution over entities is the win (SURVEY.md §4).
    Semantically equivalent to the join/window battery of
    ``apply_consistency`` on conflict chains of depth <= 2; on deeper
    chains this variant is the exact greedy semantics.
    """
    import pandas as pd

    from ..ontology import RELATION_BY_NAME, plausibly_cooccurs

    cardinality = {name: r.cardinality for name, r in RELATION_BY_NAME.items()}

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf.assign(
            _tok=pdf["slot_value"].str.split(" ").str.len(),
            _len=pdf["slot_value"].str.len(),
        ).sort_values(
            ["score", "_tok", "_len", "slot_value", "relation"],
            ascending=[False, False, False, True, True],
            kind="mergesort",
        )
        # hash-indexed accepted set: O(1) checks per fill instead of the
        # naive O(|accepted|) scan — entity groups can hold thousands of
        # fills in bulk mode (celebrity orgs), unlike the reference's
        # per-query handfuls.
        accepted: list = []
        filled_single: set[str] = set()
        rels_by_slot: dict[str, set[str]] = {}
        emp_member_slots: dict[str, set[str]] = {"per:employee_of": set(), "per:member_of": set()}
        for row in order.itertuples(index=False):
            rel, slot = row.relation, row.slot_value
            ok = not (cardinality.get(rel) == "SINGLE" and rel in filled_single)
            if ok and rel in emp_member_slots:
                other = "per:member_of" if rel == "per:employee_of" else "per:employee_of"
                ok = slot not in emp_member_slots[other]
            if ok:
                for prev_rel in rels_by_slot.get(slot, ()):
                    if prev_rel != rel and not plausibly_cooccurs(prev_rel, rel):
                        ok = False
                        break
            if ok:
                accepted.append(row)
                if cardinality.get(rel) == "SINGLE":
                    filled_single.add(rel)
                if rel in emp_member_slots:
                    emp_member_slots[rel].add(slot)
                rels_by_slot.setdefault(slot, set()).add(rel)
        # hold-one-out: loc_of_death requires an accepted date_of_death
        has_dod = any(r.relation == "per:date_of_death" for r in accepted)
        if not has_dod:
            accepted = [r for r in accepted if r.relation not in LOC_OF_DEATH]
        out = pd.DataFrame(accepted, columns=list(order.columns))
        return out.drop(columns=["_tok", "_len"])

    # ONE shuffle + ONE Arrow pass, groups iterated INSIDE the batch
    # (functions/grouped.py): groupBy().applyInPandas ships every
    # (entity, type) group as its own Arrow exchange + Python call —
    # measured ~15s at sf0.01 for 3.4k tiny groups (per-group overhead,
    # not compute; guide §4). 15s -> 2s.
    from ..functions.grouped import map_groups_in_pandas

    return map_groups_in_pandas(
        triples, ["entity_name", "entity_type"], run, triples.schema
    )


def apply_consistency_greedy(
    triples: DataFrame,
    spark: SparkSession,
    threshold: float = GLOBAL_SCORE_THRESHOLD,
) -> DataFrame:
    """Stage-6 production path: unary filters (narrow, pushed early) +
    the exact greedy activation pass — ONE shuffle on (entity, type) and
    one Arrow pass, versus the ~8 window/join stages of the expanded
    battery. Equivalent output (tests assert set equality); far lower
    fixed stage cost, which is what the scaling-efficiency budget at
    small-per-core workloads is most sensitive to."""
    out = type_check(triples, spark)
    out = sanity_check(out)
    out = conform_to_guidelines(out)
    out = threshold_filter(out, threshold)
    return greedy_consistency(out.drop("cardinality"))


def apply_consistency(
    triples: DataFrame,
    spark: SparkSession,
    threshold: float = GLOBAL_SCORE_THRESHOLD,
) -> DataFrame:
    """The full stage-6 battery, reference order: unary filters first
    (cheap, prunes early), then pairwise/windowed checks, then the
    hold-one-out pass (SlotfillPostProcessor.java:83-190).

    Shuffle plan: ONE explicit repartition on (entity_name, entity_type);
    every window/join key downstream is a superset of that prefix, so
    Catalyst's EnsureRequirements reuses the exchange for the collapse /
    cardinality / incompatibility / mitigation passes instead of
    re-shuffling per operator.

    The input is ensemble output: already unique on the triple key (so
    no O2 pass) and sanity-gated at vote time
    (``extractors.slot_sanity_ok`` — equivalent to ``sanity_check`` and
    immune to Catalyst pushing an expensive predicate below the
    aggregation onto the full vote stream).
    """
    out = type_check(triples, spark)
    # post-canonicalization self-fill check stays SQL-side (cheap)
    out = out.filter(F.col("entity_name") != F.col("slot_value"))
    # P8/P9 guideline hygiene — unary predicates, corpus-active via the
    # k18 (unrelated org:website) and k19 (invalid per:title) templates
    out = conform_to_guidelines(out)
    out = threshold_filter(out, threshold)
    # EXPLICIT partition count: a bare keyed repartition is AQE-coalesced
    # to ~64MB partitions — measured 4 tasks carrying the whole 5-window
    # tail at local[32] (1.0s for what 32 slots do in ~0.3s). Scale-
    # adaptive (cluster parallelism), not a local[32] constant.
    n_parts = triples.sparkSession.sparkContext.defaultParallelism
    out = out.repartition(n_parts, F.col("entity_name"), F.col("entity_type"))
    out = collapse_employee_member(out)
    out = remove_low_weight_competitors(out)
    # O6 runs BEFORE the cardinality top-1 so that, like the reference's
    # greedy activation loop, a rejected best fill lets the next-best
    # fill of the same SINGLE relation take its place
    # (HeuristicSlotfillPostProcessor.java:69-137; see greedy_consistency
    # for the exact per-entity form — equivalent on chains <= 2). The
    # window forms keep the whole tail join-free and branch-free: every
    # pass clusters on an (entity_name, entity_type) prefix, so the one
    # repartition above is the tail's only exchange.
    out = respect_incompatibilities_window(out)
    out = enforce_cardinality(out)
    out = mitigate_loc_of_death_window(out)
    return out.drop("cardinality")
