"""Inferential slot filling — the second (rule-inference) pipeline of
`stanford-kbp/.../slotfilling/evaluate/InferentialSlotFiller.java:1-406`
and the `evaluate/inference/` package, re-expressed Spark-first:

* **Rule table as data** — ``parse_mln`` reads the same Horn-clause text
  shape the reference's `evaluate/inference/MLNReader.java:14-90` parses
  (predicate declarations ``rel(TYPE1, TYPE2)``; weighted clauses
  ``0.9 !ante(x, y) v cons(y, x)``; a trailing ``.`` marks a
  deterministic rule). All-but-one negated literals form the rule body,
  the positive literal the conclusion (the Horn reading
  `BayesianLogicNetwork.java` feeds to its engine).
* **Execution** — each rule is one join/projection over the triple
  store (plus broadcast aux tables for world-knowledge predicates like
  the gazetteer); no solver loop. Conclusion score = product of the
  body's triple scores x the rule weight (the BayesNet edge-probability
  analog, `ProbabilisticGraphInferenceEngine.java`).
* **Combination** — derivations of the same (entity, relation, slot)
  by different rules noisy-or (`1 - prod(1 - s_i)`), matching the
  ensemble's combination semantics; provenance keeps the argmax-score
  rule (tie: rule name asc).
* **Chaining** — one round of conclusions feeding the rules again
  (`SimpleGraphInferenceEngine`'s transitive closure, bounded): round 2
  runs the rule set over (store UNION round-1 conclusions) and keeps
  only keys novel to both.

``infer_triples`` emits ONLY novel fills (anti-join against the input),
so IntersectSlotFiller (O5) has a genuine second pipeline to
intersect/union with.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_OUT_COLS = [
    "entity_name", "entity_type", "relation", "slot_value", "slot_ner",
    "score", "rule",
]
CHAIN_ROUNDS = 2  # the store, then the store plus round-1 conclusions

# The production rule set, in the reference's MLN text format
# (MLNReader.java:14-38 syntax). geo:city_country is a world-knowledge
# predicate bound to the gazetteer table at execution time. Rule names
# ride the `//` comment above each clause (`// name: free text`, the
# MLNText convention of carrying names with rules): every clause under
# a comment inherits its name, so inserting a clause mid-file never
# shifts another rule's provenance.
DEFAULT_MLN = """
// predicate declarations: relation(entity_type, slot_ner)
per:spouse(PERSON, PERSON)
org:top_members/employees(ORGANIZATION, PERSON)
per:employee_of(PERSON, ORGANIZATION)
per:cities_of_residence(PERSON, CITY)
per:countries_of_residence(PERSON, COUNTRY)
per:city_of_birth(PERSON, CITY)
per:country_of_birth(PERSON, COUNTRY)
per:city_of_death(PERSON, CITY)
per:country_of_death(PERSON, COUNTRY)
org:city_of_headquarters(ORGANIZATION, CITY)
org:country_of_headquarters(ORGANIZATION, COUNTRY)
geo:city_country(CITY, COUNTRY)

// spouse_symmetry: spouse is symmetric
0.9 !per:spouse(x, y) v per:spouse(y, x)
// top_members_inversion: a top member of an org is employed by it
0.9 !org:top_members/employees(x, y) v per:employee_of(y, x)
// geo_lift: city fills lift to their gazetteer country
0.9 !per:cities_of_residence(x, y) v !geo:city_country(y, z) v per:countries_of_residence(x, z)
0.9 !per:city_of_birth(x, y) v !geo:city_country(y, z) v per:country_of_birth(x, z)
0.9 !per:city_of_death(x, y) v !geo:city_country(y, z) v per:country_of_death(x, z)
0.9 !org:city_of_headquarters(x, y) v !geo:city_country(y, z) v org:country_of_headquarters(x, z)
// employee_hq_residence: an employee of an org headquartered in C
// plausibly resides in C — fires CHAINED off the per-employee_of
// conclusions of top_members_inversion
0.9 !per:employee_of(x, y) v !org:country_of_headquarters(y, z) v per:countries_of_residence(x, z)
"""


@dataclass(frozen=True)
class Literal:
    positive: bool
    pred: str
    a1: str
    a2: str


@dataclass(frozen=True)
class Rule:
    name: str
    weight: float
    body: tuple[Literal, ...]
    head: Literal


def parse_mln(text: str) -> tuple[dict[str, tuple[str, str]], list[Rule]]:
    """(predicate -> (type1, type2), Horn rules) from MLN text
    (MLNReader.java:14-90 syntax; Horn subset: exactly one positive
    literal per clause).

    Rule naming: a comment line of the shape ``// name: free text``
    (snake_case identifier before the colon) names every clause that
    follows it, until the next naming comment or a predicate
    declaration. Clauses with no active name get ``rule_<i>`` by clause
    index. Names travel WITH the text, so clause insertion never shifts
    another rule's provenance (the positional-NAMED_RULES hazard)."""
    import re

    pred_rx = re.compile(r"^([^!\s][^(]*)\(\s*([^,]+)\s*,\s*([^)]+)\s*\)$")
    lit_rx = re.compile(r"^(!?)([^(]+)\(\s*([^,]+)\s*,\s*([^)]+)\s*\)$")
    name_rx = re.compile(r"^//\s*([a-z][a-z0-9_]*)\s*:")

    predicates: dict[str, tuple[str, str]] = {}
    rules: list[Rule] = []
    current_name: str | None = None
    for raw in text.splitlines():
        nm = name_rx.match(raw.strip())
        if nm:
            current_name = nm.group(1)
        line = re.sub(r"//.*$", "", raw).strip()
        if not line:
            continue
        m = pred_rx.match(line)
        if m and not line[0].isdigit():
            predicates[m.group(1).strip()] = (m.group(2).strip(), m.group(3).strip())
            current_name = None  # a declaration block ends any rule-name scope
            continue
        if line.endswith("."):
            weight, clause = 1.0, line[:-1]
        else:
            w_str, clause = line.split(" ", 1)
            weight = float(w_str)
        lits = []
        for part in clause.replace(")v", ")  v  ").split(" v "):
            part = part.strip()
            if not part:
                continue
            lm = lit_rx.match(part)
            if not lm:
                raise ValueError(f"unparseable MLN literal: {part!r}")
            lits.append(
                Literal(
                    lm.group(1) != "!",
                    lm.group(2).strip(),
                    lm.group(3).strip(),
                    lm.group(4).strip(),
                )
            )
        heads = [l for l in lits if l.positive]
        if len(heads) != 1:
            raise ValueError(f"non-Horn clause (need exactly 1 positive literal): {clause!r}")
        body = tuple(l for l in lits if not l.positive)
        if not 1 <= len(body) <= 2:
            raise ValueError(f"unsupported body size {len(body)}: {clause!r}")
        name = current_name if current_name is not None else f"rule_{len(rules)}"
        rules.append(Rule(name, weight, body, heads[0]))
    return predicates, rules


def _apply_rule(
    rule: Rule,
    predicates: dict[str, tuple[str, str]],
    store: DataFrame,
    aux: dict[str, DataFrame],
) -> DataFrame | None:
    """One rule -> (key cols, score, rule) conclusions. The body's
    triple literals read the store; aux predicates read their broadcast
    table (columns a, b; no score)."""

    def literal_df(lit: Literal) -> tuple[DataFrame, bool]:
        if lit.pred in aux:
            t = aux[lit.pred].select(
                F.col(aux[lit.pred].columns[0]).alias(f"_{lit.a1}"),
                F.col(aux[lit.pred].columns[1]).alias(f"_{lit.a2}"),
            )
            return F.broadcast(t), False
        et, sn = predicates[lit.pred]
        t = store.filter(
            (F.col("relation") == lit.pred) & (F.col("slot_ner") == sn)
        ).select(
            F.col("entity_name").alias(f"_{lit.a1}"),
            F.col("slot_value").alias(f"_{lit.a2}"),
            F.col("score").alias(f"_s{lit.a1}{lit.a2}"),
        )
        return t, True

    first, first_scored = literal_df(rule.body[0])
    joined = first
    score = F.col(f"_s{rule.body[0].a1}{rule.body[0].a2}") if first_scored else F.lit(1.0)
    if len(rule.body) == 2:
        second, second_scored = literal_df(rule.body[1])
        shared = ({rule.body[0].a1, rule.body[0].a2}
                  & {rule.body[1].a1, rule.body[1].a2})
        if not shared:
            raise ValueError(f"rule {rule.name}: body literals share no variable")
        # join on the shared variable column(s) — same-named projections
        joined = first.join(second, [f"_{v}" for v in sorted(shared)])
        if second_scored:
            score = score * F.col(f"_s{rule.body[1].a1}{rule.body[1].a2}")
    het, hsn = predicates[rule.head.pred]
    return joined.select(
        F.col(f"_{rule.head.a1}").alias("entity_name"),
        F.lit(het).alias("entity_type"),
        F.lit(rule.head.pred).alias("relation"),
        F.col(f"_{rule.head.a2}").alias("slot_value"),
        F.lit(hsn).alias("slot_ner"),
        F.round(score * F.lit(rule.weight), 6).alias("score"),
        F.lit(rule.name).alias("rule"),
    )


_KEY = ["entity_name", "entity_type", "relation", "slot_value"]


def _combine_derivations(raw: DataFrame) -> DataFrame:
    """Per conclusion key: noisy-or over DISTINCT (rule, score)
    derivations; provenance = argmax-score rule (tie: rule asc) via an
    exact min(struct) — conclusions are tiny, so the SortAggregate this
    forces is irrelevant, and the float compare matches the oracle's
    ORDER BY score DESC, rule ASC bit-for-bit."""
    distinct = raw.select(*_KEY, "slot_ner", "rule", "score").distinct()
    agg = distinct.groupBy(*_KEY, "slot_ner").agg(
        F.round(
            F.lit(1.0)
            - F.aggregate(
                F.array_sort(F.collect_list("score")),
                F.lit(1.0),
                lambda acc, s: acc * (F.lit(1.0) - s),
            ),
            6,
        ).alias("score"),
        F.min(
            F.struct(
                (F.lit(1.0) - F.col("score")).alias("neg"),
                F.col("rule").alias("rule"),
            )
        ).alias("_best"),
    )
    return agg.select(*_KEY, "slot_ner", "score", F.col("_best.rule").alias("rule"))


def apply_mln_rules(
    triples: DataFrame,
    predicates: dict[str, tuple[str, str]],
    rules: list[Rule],
    aux: dict[str, DataFrame],
) -> DataFrame:
    """Bounded-chaining rule execution: round 1 over the store, round 2
    over (store UNION round-1 conclusions), keeping only keys novel to
    everything already concluded. Returns novel fills only."""
    # ONE lineage cut at the input store: every rule body literal (and
    # the novelty anti-join) re-reads `store`/`known`, so an uncut
    # triple-store plan — typically the WHOLE upstream pipeline — is
    # replayed ~#rules x #literals x CHAIN_ROUNDS times (measured 19s/run at
    # sf0.01, ~15 full ensemble+consistency replays; 3.5s with the cut).
    # Same pattern as the canon edge cut (canonicalize.build_canon_map).
    triples = triples.select(*_KEY, "slot_ner", "score").localCheckpoint(
        eager=True
    )
    base_keys = triples.select(*_KEY).distinct()
    store = triples
    known = base_keys
    out: DataFrame | None = None
    for _ in range(CHAIN_ROUNDS):
        raw = None
        for rule in rules:
            c = _apply_rule(rule, predicates, store, aux)
            raw = c if raw is None else raw.unionByName(c)
        # conclusions feed 3 consumers this round plus every rule of the
        # next round — cut the (tiny) table once
        conclusions = (
            _combine_derivations(raw)
            .join(known, _KEY, "left_anti")
            .localCheckpoint(eager=True)
        )
        out = conclusions if out is None else out.unionByName(conclusions)
        known = known.unionByName(conclusions.select(*_KEY))
        store = store.unionByName(conclusions.select(*_KEY, "slot_ner", "score"))
    return out.select(*_OUT_COLS)


def infer_triples(triples: DataFrame, geo_cities: DataFrame) -> DataFrame:
    """The production inferential pipeline: DEFAULT_MLN rules +
    gazetteer world knowledge, ``CHAIN_ROUNDS`` of bounded chaining — one
    W4-deterministic row per novel (entity, relation, slot)."""
    predicates, rules = parse_mln(DEFAULT_MLN)
    aux = {"geo:city_country": geo_cities.select("city", "country")}
    return apply_mln_rules(triples, predicates, rules, aux)

