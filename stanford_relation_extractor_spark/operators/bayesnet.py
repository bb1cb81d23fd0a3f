"""BayesNet / BLN probabilistic MAP inference — the solver half of the
reference's `evaluate/inference/` package (`BayesianLogicNetwork.java`,
`BayesNet.java`, `BayesNetBuilder.java`), which the rule-table engine
(`inference.py`, the `SimpleGraphInferenceEngine.java:31` analog — the
shipped DEFAULT at `common/Props.java:392`) does not cover: instead of
one join per Horn rule, the grounded rules over an entity graph form a
per-variable CPT factor net and a single MAP assignment decides
JOINTLY which candidate fills survive and which consequents activate —
including on cyclic rule sets, the case bounded forward chaining
diverges on.

Semantics mirrored from the reference (file:line cites):

* prior rules: weight w = logit(p) -> unary CPT (log p, log(1-p))
  (`BayesNetBuilder.build:765-780`); candidate-fill priors rescale the
  classifier score as p = (1+score)/2 — the default, non-SOFT_PRIORS
  path of `ProbabilisticGraphInferenceEngine.graphToMLN:170-193`;
  closed-world / world-knowledge facts are fixed true (infinite-weight
  priors, same method :166-169).
* entailment rules: all antecedents true -> (log p, log(1-p)) on the
  consequent, else log 0.5 (`EntailmentFactor.logProb:67-76`).
* per-consequent CPT merge: rules sorted by antecedent arity
  descending, ONLY matching rules of the highest matching arity
  contribute, falling back to the consequent's prior
  (`TableFactor.computeEntry:195-213` — the sizeLimit/break loop over
  the `cleanPriors`-ordered list); merge method GEOMETRIC_MEAN (the
  shipped default, `Props.java:405`): running arithmetic mean of
  max(prior.logProbTrue, rule.logProbTrue); P(false) = 1 - exp(entry)
  (`TableFactor.logProb:~330`).
* probabilities clipped to [1e-4, 1-1e-4] (`clipLogProb:32-41`);
  consequents with no explicit prior default to p = 0.3
  (`GroundedRule.empty:464-466`, `Props.TEST_GRAPH_INFERENCE_PRIOR`).
* rule admission: |literals| <= depth+1 and |weight| >= cutoff
  (`ProbabilisticGraphInferenceEngine.java:84-89`; defaults
  `Props.java:397,427`).

Documented divergence: the reference solves MAP by seeded Gibbs
sampling with hill-climbing restarts (`BayesNet.java:137-260`) —
sampling noise made deterministic only by iteration count. We compute
the EXACT MAP by vectorized enumeration per factor-graph connected
component (components are small: one entity cluster's candidate fills
plus the rule-consequent closure), falling back to deterministic
iterated conditional modes (fixed sweep order) past
``MAX_EXACT_VARS`` free variables. On nets with a unique MAP — every expectation the
reference's own `BayesNetTest.java:139-244` asserts — the two agree;
our tests re-assert those cases against this solver.

Spark shape: grounding + solving run per entity-graph cluster inside
ONE ``map_groups_in_pandas`` pass (one shuffle on the cluster id, then
every cluster of an Arrow batch solved inside it); clusters come from a
connected-components pass over entity<->entity-typed-slot edges, so the
stage scales with the number of clusters, not their count x rules. The
gazetteer world-knowledge table rides along as a broadcast dict.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .canonicalize import connected_components, union_find_components
from .inference import DEFAULT_MLN, Literal, Rule, parse_mln

LOG_LO = math.log(1e-4)
LOG_HI = math.log(1.0 - 1e-4)
LOG_HALF = math.log(0.5)
DEFAULT_PRIOR = 0.3          # Props.TEST_GRAPH_INFERENCE_PRIOR
RULES_CUTOFF = 0.0           # Props.TEST_GRAPH_INFERENCE_RULES_CUTOFF
RULES_DEPTH = 3              # Props.TEST_GRAPH_INFERENCE_DEPTH
MAX_EXACT_VARS = 16          # per-component exact-enumeration gate

OUT_SCHEMA = (
    "entity_name string, entity_type string, relation string, "
    "slot_value string, slot_ner string, score double, novel boolean"
)


def _clip(lp: float) -> float:
    return min(max(lp, LOG_LO), LOG_HI)


def _logit_pair(prob: float) -> tuple[float, float]:
    p = min(max(prob, 1e-4), 1.0 - 1e-4)
    return _clip(math.log(p)), _clip(math.log(1.0 - p))


def _sigmoid(w: float) -> float:
    if w >= 0:
        return 1.0 / (1.0 + math.exp(-w))
    e = math.exp(w)
    return e / (1.0 + e)


def admit_rules(rules: list[Rule]) -> list[Rule]:
    """`ProbabilisticGraphInferenceEngine.java:84-89`: drop rules below
    the weight cutoff or with more than depth+1 literals."""
    return [
        r
        for r in rules
        if abs(r.weight) >= RULES_CUTOFF and len(r.body) + 1 <= RULES_DEPTH + 1
    ]


def _match_body(
    body: tuple[Literal, ...],
    lit_list: dict[str, list[tuple[str, str]]],
    by_a1: dict[tuple[str, str], list[tuple[str, str]]],
    by_a2: dict[tuple[str, str], list[tuple[str, str]]],
) -> Iterable[tuple[dict[str, str], tuple[tuple[str, str, str], ...]]]:
    """All variable bindings satisfying every body literal against the
    current grounded-literal universe. ``lit_list[pred]`` holds the
    (a1, a2) instances of pred; ``by_a1``/``by_a2`` index them by bound
    argument so a size-2 body is a hash-join, not a nested scan."""

    def candidates(lit: Literal, binding: dict[str, str]):
        b1, b2 = binding.get(lit.a1), binding.get(lit.a2)
        if b1 is not None:
            return by_a1.get((lit.pred, b1), ())
        if b2 is not None:
            return by_a2.get((lit.pred, b2), ())
        return lit_list.get(lit.pred, ())

    def rec(i: int, binding: dict[str, str], acc: list):
        if i == len(body):
            yield dict(binding), tuple(acc)
            return
        lit = body[i]
        for a1, a2 in candidates(lit, binding):
            b1, b2 = binding.get(lit.a1), binding.get(lit.a2)
            if (b1 is not None and b1 != a1) or (b2 is not None and b2 != a2):
                continue
            if b1 is None and b2 is None and lit.a1 == lit.a2 and a1 != a2:
                continue
            added = []
            if b1 is None:
                binding[lit.a1] = a1
                added.append(lit.a1)
            if b2 is None and lit.a2 not in binding:
                binding[lit.a2] = a2
                added.append(lit.a2)
            if binding.get(lit.a1) == a1 and binding.get(lit.a2) == a2:
                acc.append((lit.pred, a1, a2))
                yield from rec(i + 1, binding, acc)
                acc.pop()
            for k in added:
                del binding[k]

    yield from rec(0, {}, [])


class _Net:
    """One entity cluster's grounded binary net."""

    def __init__(self) -> None:
        self.idx: dict[tuple[str, str, str], int] = {}
        self.keys: list[tuple[str, str, str]] = []
        self.priors: dict[int, tuple[float, float]] = {}
        self.fixed: dict[int, bool] = {}
        self.meta: dict[int, tuple[str, str]] = {}
        # grounded rules keyed for dedup: (name, antecedents, consequent)
        self.rules: dict[tuple, tuple[float, float]] = {}

    def var(self, pred: str, a1: str, a2: str) -> int:
        key = (pred, a1, a2)
        i = self.idx.get(key)
        if i is None:
            i = len(self.keys)
            self.idx[key] = i
            self.keys.append(key)
        return i


def _ground(
    rows: list[tuple[str, str, str, str, str, float]],
    rules: list[Rule],
    predicates: dict[str, tuple[str, str]],
    world: dict[str, set[tuple[str, str]]],
) -> _Net:
    """rows: (entity_name, entity_type, relation, slot_value, slot_ner,
    score). Grounds priors, world facts, and the rule closure to a
    fixpoint (new consequents can enable new bindings — the cyclic case
    the solver exists for)."""
    net = _Net()
    lit_list: dict[str, list[tuple[str, str]]] = {}
    by_a1: dict[tuple[str, str], list[tuple[str, str]]] = {}
    by_a2: dict[tuple[str, str], list[tuple[str, str]]] = {}

    def add_lit(pred: str, a1: str, a2: str) -> int:
        known = (pred, a1, a2) in net.idx
        i = net.var(pred, a1, a2)
        if not known:
            lit_list.setdefault(pred, []).append((a1, a2))
            by_a1.setdefault((pred, a1), []).append((a1, a2))
            by_a2.setdefault((pred, a2), []).append((a1, a2))
        return i

    for ent, etype, rel, slot, sner, score in rows:
        if rel not in predicates:
            continue  # graphToMLN:159 — not a relation the rules know
        i = add_lit(rel, ent, slot)
        net.meta[i] = (etype, sner)
        lpt, lpf = _logit_pair((1.0 + float(score)) / 2.0)
        old = net.priors.get(i)
        if old is None or lpt > old[0]:  # cleanPriors: largest wins
            net.priors[i] = (lpt, lpf)

    # world-knowledge facts join the universe lazily as rule bodies
    # demand them; eager insertion of the whole gazetteer would blow
    # the per-cluster universe up for no reason. Indexed by first arg
    # so each expansion is a hash lookup over newly-seen args only.
    world_idx: dict[str, dict[str, list[str]]] = {}
    for pred, pairs in world.items():
        idx = world_idx.setdefault(pred, {})
        for a1, a2 in pairs:
            idx.setdefault(a1, []).append(a2)
    world_seen: set[str] = set()

    def world_expand() -> bool:
        """Add world facts whose first arg already appears as some
        literal's second arg (the only join direction DEFAULT_MLN-style
        rules use: city fills -> city_country)."""
        added = False
        seen_args = {
            a2
            for pred, instances in lit_list.items()
            if pred not in world_idx
            for _a1, a2 in instances
        }
        for arg in seen_args - world_seen:
            for pred, idx in world_idx.items():
                for a2 in idx.get(arg, ()):
                    i = add_lit(pred, arg, a2)
                    net.fixed[i] = True
                    net.priors[i] = (LOG_HI, LOG_LO)
                    added = True
        world_seen.update(seen_args)
        return added

    changed = True
    while changed:
        changed = world_expand()
        for rule in rules:
            for binding, body_keys in _match_body(
                rule.body, lit_list, by_a1, by_a2
            ):
                h = rule.head
                a1 = binding.get(h.a1, h.a1)
                a2 = binding.get(h.a2, h.a2)
                hi = net.idx.get((h.pred, a1, a2))
                if hi is None:
                    hi = add_lit(h.pred, a1, a2)
                    t1, t2 = predicates[h.pred]
                    net.meta[hi] = (t1, t2)
                    changed = True
                antes = tuple(sorted(net.idx[k] for k in body_keys))
                rkey = (rule.name, antes, hi)
                if rkey not in net.rules:
                    net.rules[rkey] = _logit_pair(_sigmoid(rule.weight))
                    changed = True
    return net


def _factors(net: _Net):
    """(consequent, prior(lpt,lpf), [(arity, lpt) desc]) per variable
    with any rule; pure-prior variables yield empty rule lists."""
    by_cons: dict[int, list[tuple[int, tuple[int, ...], float]]] = {}
    for (name, antes, cons), (lpt, _lpf) in sorted(net.rules.items()):
        by_cons.setdefault(cons, []).append((len(antes), antes, lpt))
    out = []
    d_lpt, d_lpf = _logit_pair(DEFAULT_PRIOR)
    for v in range(len(net.keys)):
        prior = net.priors.get(v, (d_lpt, d_lpf))
        rules = sorted(by_cons.get(v, []), key=lambda t: -t[0])
        out.append((v, prior, rules))
    return out


def _entry(
    assign, prior: tuple[float, float], rules
) -> float:
    """TableFactor.computeEntry (GEOMETRIC_MEAN): mean of
    max(prior_lpt, rule_lpt) over matching rules of the highest
    matching arity; prior_lpt when none match."""
    size_limit = -1
    total, n = 0.0, 0
    for arity, antes, lpt in rules:
        if size_limit >= 0 and arity < size_limit:
            break
        if all(assign[a] for a in antes):
            size_limit = arity
            total += max(prior[0], lpt)
            n += 1
    return total / n if n else prior[0]


def _log_score(assign, factors) -> float:
    s = 0.0
    for v, prior, rules in factors:
        e = _entry(assign, prior, rules)
        s += e if assign[v] else math.log(1.0 - math.exp(e))
    return s


def _components(n: int, factors) -> list[list[int]]:
    """The factor graph's connected components over variables 0..n-1,
    isolated variables included: each sorted, ordered by minimum."""
    comps = union_find_components(
        (a, v)
        for v, _prior, rules in factors
        for _arity, antes, _lpt in rules
        for a in antes
    )
    linked = {v for members in comps for v in members}
    comps += [[v] for v in range(n) if v not in linked]
    return sorted(sorted(members) for members in comps)


def _solve_exact_np(
    comp: list[int], free: list[int], comp_factors, assign: list[bool]
) -> None:
    """Vectorized enumeration over the component's free variables:
    2^|free| states x |factors| numpy ops instead of a Python loop per
    state. Ties break to the lowest state index (all-false first) —
    deterministic."""
    import numpy as np

    col = {v: j for j, v in enumerate(comp)}
    n_states = 1 << len(free)
    vals = np.ones((n_states, len(comp)), dtype=bool)
    states = np.arange(n_states)
    for j, v in enumerate(free):
        vals[:, col[v]] = (states >> j) & 1
    score = np.zeros(n_states)
    for v, (p_lpt, _p_lpf), rules in comp_factors:
        if rules:
            arity = np.array([a for a, _antes, _l in rules])
            lpt = np.array([l for _a, _antes, l in rules])
            match = np.stack(
                [
                    vals[:, [col[a] for a in antes]].all(axis=1)
                    for _a, antes, _l in rules
                ]
            )
            m_ar = np.where(match, arity[:, None], -1)
            max_ar = m_ar.max(axis=0)
            sel = m_ar == max_ar[None, :]
            contrib = (np.maximum(p_lpt, lpt)[:, None] * sel).sum(axis=0)
            cnt = sel.sum(axis=0)
            entry = np.where(max_ar >= 0, contrib / np.maximum(cnt, 1), p_lpt)
        else:
            entry = np.full(n_states, p_lpt)
        score += np.where(vals[:, col[v]], entry, np.log1p(-np.exp(entry)))
    best = int(np.argmax(score))
    for j, v in enumerate(free):
        assign[v] = bool((best >> j) & 1)


def solve_map(net: _Net) -> tuple[list[bool], dict[int, float]]:
    """Exact MAP per factor-graph component (vectorized enumeration
    over free variables, <= 2^MAX_EXACT_VARS states); deterministic ICM
    with per-variable factor indexing beyond. Returns (assignment,
    per-variable P(true | MAP parents))."""
    n = len(net.keys)
    factors = _factors(net)
    assign = [False] * n
    for v in range(n):
        if net.fixed.get(v):
            assign[v] = True
    for comp in _components(n, factors):
        comp_set = set(comp)
        free = [v for v in comp if not net.fixed.get(v)]
        comp_factors = [f for f in factors if f[0] in comp_set]
        if not free:
            continue
        # read at call time, so a test can lower the gate to reach ICM
        if len(free) <= MAX_EXACT_VARS:
            _solve_exact_np(comp, free, comp_factors, assign)
        else:
            # deterministic ICM: start at prior-MAP, fixed sweep order,
            # each flip re-scores only the factors touching the var
            touching: dict[int, list] = {v: [] for v in comp}
            for f in comp_factors:
                fv, _prior, rules = f
                seen = {fv}
                for _a, antes, _l in rules:
                    seen.update(antes)
                for v in seen:
                    touching[v].append(f)
            for v in free:
                assign[v] = factors[v][1][0] > LOG_HALF
            for _sweep in range(50):
                moved = False
                for v in free:
                    local = touching[v]
                    prev = assign[v]
                    assign[v] = False
                    s0 = _log_score(assign, local)
                    assign[v] = True
                    s1 = _log_score(assign, local)
                    want = s1 > s0 + 1e-12
                    if want != prev:
                        moved = True
                    assign[v] = want
                if not moved:
                    break
    probs = {
        v: math.exp(_entry(assign, prior, rules))
        for v, prior, rules in factors
    }
    return assign, probs


def infer_map_triples(
    triples: DataFrame,
    geo_cities: DataFrame,
    spark: SparkSession,
) -> DataFrame:
    """The distributed BLN pass: cluster the candidate store by
    entity<->entity-typed-slot connectivity, ground + MAP-solve each
    cluster in one Arrow batch, emit every MAP-true KBP literal with
    its CPT probability and a ``novel`` flag (consequents absent from
    the input store).

    Scale: clusters are the unit of work — thousands of independent
    small nets, one ``map_groups_in_pandas`` pass over the cluster id. The
    gazetteer broadcasts as plain Python (bounded: a dimension table).
    """
    predicates, rules = parse_mln(DEFAULT_MLN)
    rules = admit_rules(rules)
    world = {
        "geo:city_country": {
            (r["city"], r["country"])
            for r in geo_cities.select("city", "country").collect()
        }
    }

    t = triples.filter(F.col("relation").isin(*list(predicates)))
    t = t.select(
        "entity_name", "entity_type", "relation", "slot_value", "slot_ner",
        "score",
    )
    # lineage cut: `t` feeds the cluster-edge derivation (read once by
    # connected_components' size probe, every round beyond its gate) AND
    # the keyed grounding join; a caller's triples may be a lazy pipeline
    # plan (the driver query's are), which uncut would replay per read
    t = t.localCheckpoint(eager=True)
    # cluster only through slots that can themselves head rules
    # (PERSON/ORGANIZATION): a COUNTRY or CITY slot value never appears
    # as a body literal's FIRST argument in a KBP rule, so linking
    # entities through e.g. a shared country would weld most of the
    # store into one mega-cluster and serialize it onto one Arrow task
    edges = (
        t.filter(F.col("slot_ner").isin("PERSON", "ORGANIZATION"))
        .select(
            F.col("entity_name").alias("src"), F.col("slot_value").alias("dst")
        )
        .distinct()
    )
    comp = connected_components(edges)
    keyed = t.join(
        comp.withColumnRenamed("node", "entity_name").withColumnRenamed(
            "component", "_cluster"
        ),
        "entity_name",
        "left",
    ).withColumn("_cluster", F.coalesce(F.col("_cluster"), F.col("entity_name")))

    rules_b = rules
    preds_b = predicates
    world_b = world

    def run(pdf):
        import pandas as pd

        out = []
        rows = list(
            pdf[
                [
                    "entity_name", "entity_type", "relation", "slot_value",
                    "slot_ner", "score",
                ]
            ].itertuples(index=False, name=None)
        )
        base = {(r[2], r[0], r[3]) for r in rows}
        net = _ground(rows, rules_b, preds_b, world_b)
        assign, probs = solve_map(net)
        for i, (pred, a1, a2) in enumerate(net.keys):
            if not assign[i] or pred not in preds_b or pred.startswith("geo:"):
                continue
            etype, sner = net.meta.get(i, preds_b[pred])
            out.append(
                (a1, etype, pred, a2, sner, round(probs[i], 6),
                 (pred, a1, a2) not in base)
            )
        return pd.DataFrame(
            out,
            columns=[
                "entity_name", "entity_type", "relation", "slot_value",
                "slot_ner", "score", "novel",
            ],
        )

    # grouped-map via ONE clustered Arrow pass (functions/grouped.py):
    # per-cluster applyInPandas paid ~1-3ms of boundary overhead per
    # cluster (thousands of tiny nets; measured ~5s/run at sf0.01)
    from ..functions.grouped import map_groups_in_pandas

    return map_groups_in_pandas(keyed, ["_cluster"], run, OUT_SCHEMA)

