"""Statistical relation extractor — the trained-classifier member of the
ensemble (SURVEY.md A6/A7/A8/F8).

Re-expresses the shape of
`stanford-kbp/.../slotfilling/classify/OneVsAllRelationExtractor.java:77-140`:
per-mention features -> linear scores against frozen weight tables
-> softmax over relations (`RelationClassifier.java:109-115`, gamma=1)
-> noisy-or over the bagged models (`EnsembleRelationExtractor:293`).

* Inference runs inside the extraction pass:
  ``extractors.votes_for_sentence`` featurizes each pair with
  ``pair_feature_list`` (the surface subset of
  `FeatureFactory.createDatum`, `process/FeatureFactory.java:171-972`,
  over a between-span whose other mentions are masked by their NER) and
  scores it with ``combined_relation_probs`` against
  ``models.frozen_statistical.BAG_WEIGHTS``. Dependency-path features
  are re-expressed as between-span token paths (SURVEY.md F12).
* Training is offline (scripts/train_statistical.py):
  ``feature_count_filter`` (A8, drop features with corpus frequency < 5,
  `Props.featureCountThreshold`, `common/Props.java:227`), then
  ``miml_train`` — distributed EM over (entity, slot) bags, refitting the
  log-odds table ``train_weights_df`` each round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_COUNT_THRESHOLD = 5  # common/Props.java:227


def features_from_between(
    order: str, et: str, sn: str, between: list[str]
) -> list[str]:
    """The shared feature template (the surface subset of
    `FeatureFactory.createDatum`, `process/FeatureFactory.java:171-972`):
    arg order, NER type pair, surface-distance bin, between-words
    unigrams, between-path. Construction ORDER is part of the spec —
    scoring sums weights in list order, so the oracle's re-derivation
    must produce the identical sequence."""
    dist_bin = "adj" if len(between) == 0 else ("near" if len(between) <= 3 else "far")
    feats = [
        f"arg_order:{order}",
        f"type_pair:{et}:{sn}",
        f"dist_bin:{dist_bin}",
    ]
    feats.extend(f"between:{w.lower()}" for w in between[:8])
    if between:
        feats.append(f"between_path:{'_'.join(w.lower() for w in between[:4])}")
    return feats


def pair_feature_list(
    sent: str, mentions: list[dict], ent: dict, slot: dict
) -> list[str]:
    """Masked pair features: every OTHER mention inside the between-span
    is replaced by its ⟨NER⟩ sentinel — the Spark analog of the
    reference featurizing over NER-tagged tokens rather than raw
    surfaces (`FeatureFactory.java` entity-type features). Makes the
    feature multiset a function of the sentence TEMPLATE, not of the
    specific names/numbers in it."""
    eb, sb = ent["begin"], slot["begin"]
    order = "e_before_s" if eb < sb else "s_before_e"
    lo, hi = (ent["end"], sb) if eb < sb else (slot["end"], eb)
    if hi <= lo:
        return features_from_between(order, ent["ner"], slot["ner"], [])
    pieces: list[str] = []
    pos = lo
    for m in mentions:
        if m is ent or m is slot:
            continue
        if m["begin"] >= lo and m["end"] <= hi:
            pieces.append(sent[pos : m["begin"]])
            pieces.append(f"⟨{m['ner']}⟩")
            pos = m["end"]
    pieces.append(sent[pos:hi])
    between = "".join(pieces).strip().split()
    return features_from_between(order, ent["ner"], slot["ner"], between)


def softmax_relations() -> list[str]:
    """The fixed softmax support: all 41 relations in sorted order plus
    the NIL (no-relation) class — shared by engine scoring, training,
    and the oracle's expected-score derivation."""
    from ..ontology import RELATION_BY_NAME

    return sorted(RELATION_BY_NAME) + [NIL]


def softmax_scores(
    feats: list[str],
    weights: dict[str, dict[str, float]],
    relations: list[str],
    gamma: float = 1.0,
) -> dict[str, float]:
    """relation -> softmax probability (RelationClassifier.java:109-115,
    gamma=1), in pure sequential Python float64 arithmetic so the engine
    and the oracle compute bit-identical values: weights are summed in
    feature-list order, exp/sum in relation-list order."""
    import math

    idx = {rel: i for i, rel in enumerate(relations)}
    s = [0.0] * len(relations)
    for f in feats:
        for rel, w in weights.get(f, {}).items():
            i = idx.get(rel)
            if i is not None:
                s[i] += w
    m = max(s)
    exps = [math.exp(gamma * (x - m)) for x in s]
    tot = sum(exps)
    return {rel: exps[i] / tot for i, rel in enumerate(relations)}


def combined_relation_probs(
    feats: list[str],
    bag_weights: list[dict[str, dict[str, float]]],
    relations: list[str],
    gamma: float = 1.0,
) -> dict[str, float]:
    """Per-relation probability of the BAGGED statistical member: each
    bootstrap model scores the pair (softmax), the per-relation
    probabilities combine by noisy-or — the reference's
    `EnsembleRelationExtractor` combination (`:293`) over the
    BAGGING-resampled models its `generateSamples` trains (`:155-252`,
    defaults `common/Props.java:308-312`). Deterministic: bags iterate
    in list order, relations in support order — the oracle re-derives
    the identical floats."""
    if len(bag_weights) == 1:
        return softmax_scores(feats, bag_weights[0], relations, gamma)
    acc = {rel: 1.0 for rel in relations}
    for w in bag_weights:
        p = softmax_scores(feats, w, relations, gamma)
        for rel in relations:
            acc[rel] *= 1.0 - p[rel]
    # strict cap below 1: a 7-fold consensus can noisy-or to 1-1e-10,
    # which 6-digit rounding turns into an exact 1.0 — degenerate for
    # every downstream noisy-or (and the oracle's log-product form)
    return {rel: min(1.0 - acc[rel], 0.999999) for rel in relations}


def feature_count_filter(features: DataFrame, threshold: int = FEATURE_COUNT_THRESHOLD) -> DataFrame:
    """A8: keep features appearing >= threshold times (semi join against
    the groupBy-count survivor set — shrinks the broadcast weight matrix)."""
    frequent = (
        features.groupBy("feature")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= threshold)
        .select("feature")
    )
    return features.join(F.broadcast(frequent), "feature", "left_semi")


def training_labels(
    pairs: DataFrame, kb: DataFrame, negative_subsample_mod: int = 0
) -> DataFrame:
    """A9 — distant-supervision label computation
    (`stanford-kbp/.../slotfilling/train/KBPTrainer.java:374-527`):

    * positive: the KB holds (entity, rel, slotValue) for the pair;
    * negative: the KB holds rel for the entity with a DIFFERENT slot
      value and rel is SINGLE-cardinality (the observed fill contradicts
      the known one);
    * unknown otherwise (dropped from training).

    Optional deterministic negative subsampling keeps every Nth negative
    (`train.negatives.subsampleratio`, `common/Props.java:238` — we use
    a hash-mod rather than RNG for reproducibility).
    """
    from ..ontology import RELATION_BY_NAME

    singles = [n for n, r in RELATION_BY_NAME.items() if r.cardinality == "SINGLE"]
    pos = (
        pairs.join(
            kb.select("entity_name", "relation", "slot_value").distinct(),
            ["entity_name", "slot_value"],
        )
        .withColumn("label", F.lit("positive"))
    )
    kb_rel = kb.select(
        "entity_name", F.col("relation").alias("kb_rel"),
        F.col("slot_value").alias("kb_slot"),
    ).filter(F.col("kb_rel").isin(*singles)).distinct()
    neg = (
        pairs.join(kb_rel, "entity_name")
        .filter(F.col("slot_value") != F.col("kb_slot"))
        .select(*pairs.columns, F.col("kb_rel").alias("relation"))
        .withColumn("label", F.lit("negative"))
    )
    if negative_subsample_mod > 1:
        neg = neg.filter(
            F.pmod(F.hash("entity_name", "slot_value", "relation"), F.lit(negative_subsample_mod)) == 0
        )
    return pos.unionByName(neg, allowMissingColumns=True)


def train_weights_df(
    labeled_features: DataFrame,
    smoothing: float = 0.5,
    weight_col: str | None = None,
) -> DataFrame:
    """(feature, relation, weight) log-odds table, fully distributed.

    One hash aggregation on (feature, relation) + a window over feature
    for the per-feature totals — the weight estimation never leaves the
    cluster (the round-1 driver `.collect()` of the raw count table was
    a 100 TB scale-killer: the pre-threshold feature vocabulary is
    unbounded). Apply ``feature_count_filter`` (A8) upstream.

    With ``weight_col`` the counts are fractional — each row contributes
    its posterior mass instead of 1 (the soft-EM M-step).
    """
    from pyspark.sql import Window

    n_expr = F.count("*") if weight_col is None else F.sum(weight_col)
    counts = labeled_features.groupBy("feature", "relation").agg(
        n_expr.alias("n")
    )
    total = F.sum("n").over(Window.partitionBy("feature"))
    return counts.select(
        "feature",
        "relation",
        F.round(
            F.log((F.col("n") + F.lit(smoothing)) / (total - F.col("n") + F.lit(smoothing))),
            6,
        ).alias("weight"),
    )


MENTION_KEY = [
    "conv_id", "turn_idx", "sent_idx", "entity_name", "entity_type",
    "slot_value", "slot_ner",
]
BAG_KEY = ["entity_name", "slot_value"]
NIL = "NIL"


def _score_candidates(
    features: DataFrame, mentions: DataFrame, labels: DataFrame, weights: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The E-step both training modes share. Returns ``(cscored,
    forced)``: every mention paired with each candidate label (its bag's
    labels plus NIL) and the summed feature weight ``s``; and the
    at-least-once pins, the best-scoring mention of each (bag, positive
    label) assigned that label
    (`JointBayesRelationExtractor.java:1500-1560`)."""
    from pyspark.sql import Window

    scores = (
        features.join(weights, "feature")
        .groupBy(*MENTION_KEY, "relation")
        .agg(F.sum("weight").alias("s"))
    )
    cand = (
        mentions.join(labels, BAG_KEY)
        .select(*MENTION_KEY, "relation")
        .unionByName(mentions.select(*MENTION_KEY, F.lit(NIL).alias("relation")))
    )
    cscored = cand.join(scores, [*MENTION_KEY, "relation"], "left").fillna({"s": 0.0})
    w_rel = Window.partitionBy(*BAG_KEY, "relation").orderBy(
        F.col("s").desc(), *[F.col(c).asc() for c in MENTION_KEY]
    )
    forced = (
        cscored.filter(F.col("relation") != NIL)
        .withColumn("_rn", F.row_number().over(w_rel))
        .filter(F.col("_rn") == 1)
        .select(*MENTION_KEY, F.col("relation").alias("z"))
    )
    return cscored, forced


def _hard_assignment(cscored: DataFrame, forced: DataFrame) -> DataFrame:
    """(mention key, z): the pins, and the argmax label (NIL admissible)
    for every other mention."""
    from pyspark.sql import Window

    w_m = Window.partitionBy(*MENTION_KEY).orderBy(
        F.col("s").desc(), F.col("relation").asc()
    )
    argmax = (
        cscored.withColumn("_rn", F.row_number().over(w_m))
        .filter(F.col("_rn") == 1)
        .select(*MENTION_KEY, F.col("relation").alias("z"))
    )
    rest = argmax.join(
        forced.select(*MENTION_KEY).distinct(), MENTION_KEY, "left_anti"
    )
    return forced.unionByName(rest)


def miml_train(
    features: DataFrame,
    bag_labels: DataFrame,
    epochs: int = 2,
    smoothing: float = 0.5,
    mode: str = "hard",
) -> DataFrame:
    """A7 — MIML-lite bag-level training, the EM shape of
    `classify/JointBayesRelationExtractor.java:429-560` (z-labels per
    mention, y-labels per bag) re-expressed as DataFrame rounds:

    * bag = (entity_name, slot_value) group of mentions (`KBPDataset`
      grouping, SURVEY.md A7); ``bag_labels`` holds the
      distant-supervision positives (entity_name, slot_value, relation).
    * init: every mention of a positive bag takes each bag label;
      mentions of unlabeled bags take NIL (the reference's negative
      datums).
    * E-step: re-score every mention against the current weight table
      (join on feature — never a driver collect), restrict candidates
      to the bag's labels ∪ {NIL}. ``mode="hard"`` takes the argmax z
      per mention; ``mode="soft"`` keeps the FULL posterior over the
      candidate set (softmax of the linear scores — the
      posterior-weighted inner loop of JointBayes's EM rather than its
      Viterbi approximation). In both modes each (bag, positive label)
      pins its best-scoring mention to that label with mass 1 (the
      at-least-once constraint,
      `JointBayesRelationExtractor.java:1500-1560` y-aggregation).
    * M-step: refit the log-odds table from (feature, z) — counts in
      hard mode, posterior mass in soft mode.

    Everything is joins/windows/aggregations over DataFrames; the model
    never leaves the cluster. Returns the final (feature, relation,
    weight) table.
    """
    from pyspark.sql import Window

    if mode not in ("hard", "soft"):
        raise ValueError(f"unknown miml_train mode {mode!r}")

    mentions = features.select(*MENTION_KEY).distinct()
    labels = bag_labels.select(*BAG_KEY, "relation").distinct()

    def refit(assign: DataFrame, weighted: bool) -> DataFrame:
        cols = ["feature", F.col("z").alias("relation")]
        if weighted:
            cols.append("wt")
        labeled = features.join(assign, MENTION_KEY).select(*cols)
        return train_weights_df(
            labeled, smoothing, weight_col="wt" if weighted else None
        )

    init = mentions.join(labels, BAG_KEY, "left").select(
        *MENTION_KEY, F.coalesce(F.col("relation"), F.lit(NIL)).alias("z")
    )
    # the weight table is tiny (post-A8 features x relations) but its
    # lineage doubles per epoch (scores join the previous round's
    # weights); one eager cut per round keeps the final collect from
    # replaying the whole EM history
    weights = refit(init, weighted=False).localCheckpoint(eager=True)

    for _ in range(epochs):
        cscored, forced = _score_candidates(features, mentions, labels, weights)
        if mode == "hard":
            weights = refit(_hard_assignment(cscored, forced), weighted=False)
        else:
            # soft posterior over the candidate set: softmax of the
            # linear scores within each mention's window
            w_m_all = Window.partitionBy(*MENTION_KEY)
            soft = cscored.withColumn(
                "_e", F.exp(F.col("s") - F.max("s").over(w_m_all))
            ).withColumn("wt", F.col("_e") / F.sum("_e").over(w_m_all))
            rest = soft.join(
                forced.select(*MENTION_KEY).distinct(), MENTION_KEY, "left_anti"
            ).select(*MENTION_KEY, F.col("relation").alias("z"), "wt")
            assign = forced.withColumn("wt", F.lit(1.0)).unionByName(rest)
            weights = refit(assign, weighted=True)
        weights = weights.localCheckpoint(eager=True)
    return weights


# ---------------------------------------------------------------------------
# JointBayes z/y two-level decomposition (A7's full architecture,
# `classify/JointBayesRelationExtractor.java:429-560` EM +
# `:1996-2120` inference). The z level is the per-mention classifier
# miml_train already fits; the y level is one binary classifier PER
# RELATION over bag-level features of the z-label multiset
# (`extractYFeatures:~1840-1900`): 'atleastonce' when some mention
# proposes y, 'none' when none does, and co-occurrence features
# `co:s|<y>|d|<z>|` for every OTHER non-NIL label in the bag (the
# shipped default Y_FEATURE_CLASS set {ATLEAST_ONCE, COOC},
# `common/Props.java:294`). At inference P(y | z*) = the y classifier
# on the bag's argmax-z labels (OUTDISTRIBUTION Y_GIVEN_ZSTAR,
# `classifyRelation:1996-2002`).
#
# Documented approximation (as the module docstring notes for the EM
# itself): our E-step does not condition z on y (the reference's
# inferZLabelsStable Gibbs pass does), so interleaving the y refit into
# the epoch loop equals training y once on the final z assignment —
# which is what miml_train_zy does. Production ensemble scoring stays
# on the frozen z-level model; the y layer is the bag-level output
# surface (`score_bags_zy`).
# ---------------------------------------------------------------------------

Y_ATLEASTONCE = "atleastonce"  # JointBayesRelationExtractor.java:71
Y_NONE = "none"                # :72
Y_BIG_WEIGHT = 10.0            # BIG_WEIGHT, :1440


def _y_cooc(y: F.Column, z: F.Column) -> F.Column:
    # makeCoocurrenceFeature: "co:s|" + src + "|d|" + dst + "|"  (:263)
    return F.concat(F.lit("co:s|"), y, F.lit("|d|"), z, F.lit("|"))


def y_features_col(y: F.Column, zs: F.Column) -> F.Column:
    """Bag-level y-feature array from the distinct non-NIL z-label set
    ``zs`` (Counter semantics: duplicates collapse to 1.0, so a set is
    exact). Pure built-in expressions — no UDF."""
    others = F.filter(zs, lambda z: (z != y) & (z != F.lit(NIL)))
    return F.when(
        ~F.array_contains(zs, y), F.array(F.lit(Y_NONE))
    ).otherwise(
        F.concat(
            F.array(F.lit(Y_ATLEASTONCE)),
            F.transform(F.array_sort(others), lambda z: _y_cooc(y, z)),
        )
    )


def bag_z_sets(z_assign: DataFrame) -> DataFrame:
    """(bag key, zs array<string>): the distinct non-NIL argmax-z labels
    per bag — one hash aggregation."""
    return (
        z_assign.filter(F.col("z") != NIL)
        .groupBy(*BAG_KEY)
        .agg(F.array_sort(F.collect_set("z")).alias("zs"))
    )


def build_y_dataset(z_assign: DataFrame, bag_labels: DataFrame) -> DataFrame:
    """(y_label, feature, is_pos) datums, `addYDatum:1005-1017`:
    positives are the bag's distant-supervision labels; negatives the
    z-proposed labels the KB does not confirm (the informative subset of
    the reference's negLabels — our bag_labels carries no
    determined-negative sets)."""
    zs = bag_z_sets(z_assign)
    pos = bag_labels.select(*BAG_KEY, "relation").distinct().join(zs, BAG_KEY)
    pos = pos.select(
        F.col("relation").alias("y_label"), "zs", F.lit(1).alias("is_pos")
    )
    neg = (
        zs.select(*BAG_KEY, F.explode("zs").alias("y_label"), "zs")
        .join(
            bag_labels.select(
                *BAG_KEY, F.col("relation").alias("y_label")
            ).distinct(),
            [*BAG_KEY, "y_label"],
            "left_anti",
        )
        .select("y_label", "zs", F.lit(0).alias("is_pos"))
    )
    both = pos.unionByName(neg)
    return both.select(
        "y_label",
        F.explode(y_features_col(F.col("y_label"), F.col("zs"))).alias("feature"),
        "is_pos",
    )


def train_y_weights(y_data: DataFrame, smoothing: float = 0.5) -> DataFrame:
    """Per-(y_label, feature) log-odds of positive vs UNRELATED — the
    same naive log-odds family as ``train_weights_df`` (the reference
    fits an L2 LR per label, `yFactory`, :465; log-odds is this table's
    closed-form analog and keeps training one aggregation)."""
    tot = y_data.groupBy("y_label").agg(
        F.sum("is_pos").alias("_pt"),
        F.sum(1 - F.col("is_pos")).alias("_nt"),
    )
    cnt = y_data.groupBy("y_label", "feature").agg(
        F.sum("is_pos").alias("_p"),
        F.sum(1 - F.col("is_pos")).alias("_n"),
    )
    s = F.lit(float(smoothing))
    return cnt.join(tot, "y_label").select(
        "y_label",
        "feature",
        F.round(
            F.log((F.col("_p") + s) / (F.col("_pt") + 2 * s))
            - F.log((F.col("_n") + s) / (F.col("_nt") + 2 * s)),
            6,
        ).alias("weight"),
    )


def initial_y_weights(relations: list[str], spark) -> DataFrame:
    """The pre-EM at-least-once model
    (`initializeYClassifiersWithAtLeastOnce:1421-1470` +
    `setYWeightsForAtLeastOnce`): +10 on 'atleastonce' toward the
    relation, +10 on 'none' toward UNRELATED (= -10 log-odds here)."""
    rows = []
    for rel in sorted(relations):
        rows.append((rel, Y_ATLEASTONCE, Y_BIG_WEIGHT))
        rows.append((rel, Y_NONE, -Y_BIG_WEIGHT))
    return spark.createDataFrame(rows, "y_label string, feature string, weight double")


def score_bags_zy(z_assign: DataFrame, y_weights: DataFrame) -> DataFrame:
    """P(y | z*) per (bag, z-proposed relation): sigmoid of the summed
    y-feature log-odds (binary LR probability,
    `classifyRelations:2076-2090`). Only z-proposed labels can score —
    a label no mention proposed has only the 'none' feature and the
    reference never emits it (`sumZGivenX` collects argmax labels
    only)."""
    zs = bag_z_sets(z_assign)
    cand = zs.select(*BAG_KEY, F.explode("zs").alias("relation"), "zs")
    feats = cand.select(
        *BAG_KEY,
        "relation",
        F.explode(
            y_features_col(F.col("relation"), F.col("zs"))
        ).alias("feature"),
    )
    scored = (
        feats.join(
            F.broadcast(y_weights.withColumnRenamed("y_label", "relation")),
            ["relation", "feature"],
            "left",
        )
        .groupBy(*BAG_KEY, "relation")
        .agg(F.sum(F.coalesce(F.col("weight"), F.lit(0.0))).alias("_s"))
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("_s")))
    return scored.select(
        *BAG_KEY, "relation", F.round(prob, 6).alias("y_prob")
    )


def final_z_assignment(
    features: DataFrame, bag_labels: DataFrame, weights: DataFrame
) -> DataFrame:
    """One hard E-step against a fitted z-weight table: candidate set =
    bag labels + NIL, at-least-once pinning, argmax elsewhere — the
    assignment the last EM epoch trained on."""
    mentions = features.select(*MENTION_KEY).distinct()
    labels = bag_labels.select(*BAG_KEY, "relation").distinct()
    return _hard_assignment(*_score_candidates(features, mentions, labels, weights))


def miml_train_zy(
    features: DataFrame,
    bag_labels: DataFrame,
    epochs: int = 2,
    smoothing: float = 0.5,
    mode: str = "hard",
) -> tuple[DataFrame, DataFrame]:
    """The two-level JointBayes fit: z weights via the EM loop
    (``miml_train``), then the y layer trained on the final z
    assignment (equal to the last interleaved refit under our
    y-unconditioned E-step — see block comment above). Returns
    (z_weights, y_weights)."""
    z_weights = miml_train(features, bag_labels, epochs, smoothing, mode)
    assign = final_z_assignment(features, bag_labels, z_weights)
    y_data = build_y_dataset(assign, bag_labels)
    return z_weights, train_y_weights(y_data, smoothing)
