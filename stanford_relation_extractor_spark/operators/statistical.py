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
  ``miml_train`` — distributed soft EM over (entity, slot) bags,
  refitting the log-odds table ``train_weights_df`` from posterior mass
  each round. The reference's hard (Viterbi) EM is not ported: the
  frozen model was trained with soft EM only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_COUNT_THRESHOLD = 5  # common/Props.java:227
SMOOTHING = 0.5  # additive smoothing of the log-odds counts


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
    exps = [math.exp(x - m) for x in s]
    tot = sum(exps)
    return {rel: exps[i] / tot for i, rel in enumerate(relations)}


def combined_relation_probs(
    feats: list[str],
    bag_weights: list[dict[str, dict[str, float]]],
    relations: list[str],
) -> dict[str, float]:
    """Per-relation probability of the BAGGED statistical member: each
    bootstrap model scores the pair (softmax), the per-relation
    probabilities combine by noisy-or — the reference's
    `EnsembleRelationExtractor` combination (`:293`) over the
    BAGGING-resampled models its `generateSamples` trains (`:155-252`,
    defaults `common/Props.java:308-312`). Deterministic: bags iterate
    in list order, relations in support order — the oracle re-derives
    the identical floats."""
    acc = {rel: 1.0 for rel in relations}
    for w in bag_weights:
        p = softmax_scores(feats, w, relations)
        for rel in relations:
            acc[rel] *= 1.0 - p[rel]
    # strict cap below 1: a 7-fold consensus can noisy-or to 1-1e-10,
    # which 6-digit rounding turns into an exact 1.0 — degenerate for
    # every downstream noisy-or (and the oracle's log-product form)
    return {rel: min(1.0 - acc[rel], 0.999999) for rel in relations}


def feature_count_filter(features: DataFrame) -> DataFrame:
    """A8: keep features appearing >= FEATURE_COUNT_THRESHOLD times (semi join against
    the groupBy-count survivor set — shrinks the broadcast weight matrix)."""
    frequent = (
        features.groupBy("feature")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= FEATURE_COUNT_THRESHOLD)
        .select("feature")
    )
    return features.join(F.broadcast(frequent), "feature", "left_semi")


def train_weights_df(labeled_features: DataFrame) -> DataFrame:
    """(feature, relation, weight) log-odds table, fully distributed.

    One hash aggregation on (feature, relation) + a window over feature
    for the per-feature totals — the weight estimation never leaves the
    cluster (the round-1 driver `.collect()` of the raw count table was
    a 100 TB scale-killer: the pre-threshold feature vocabulary is
    unbounded). Apply ``feature_count_filter`` (A8) upstream.

    Each row counts its ``wt`` mass: 1.0 for a hard label, the
    posterior in the soft-EM M-step.
    """
    from pyspark.sql import Window

    counts = labeled_features.groupBy("feature", "relation").agg(
        F.sum("wt").alias("n")
    )
    total = F.sum("n").over(Window.partitionBy("feature"))
    return counts.select(
        "feature",
        "relation",
        F.round(
            F.log((F.col("n") + F.lit(SMOOTHING)) / (total - F.col("n") + F.lit(SMOOTHING))),
            6,
        ).alias("weight"),
    )


MENTION_KEY = [
    "conv_id", "turn_idx", "sent_idx", "entity_name", "entity_type",
    "slot_value", "slot_ner",
]
BAG_KEY = ["entity_name", "slot_value"]
NIL = "NIL"


def miml_train(
    features: DataFrame,
    bag_labels: DataFrame,
    epochs: int = 2,
) -> DataFrame:
    """A7 — MIML-lite bag-level training, the EM shape of
    `classify/JointBayesRelationExtractor.java:429-560` (z-labels per
    mention, y-labels per bag) re-expressed as DataFrame rounds of soft
    EM:

    * bag = (entity_name, slot_value) group of mentions (`KBPDataset`
      grouping, SURVEY.md A7); ``bag_labels`` holds the
      distant-supervision positives (entity_name, slot_value, relation).
    * init: every mention of a positive bag takes each bag label;
      mentions of unlabeled bags take NIL (the reference's negative
      datums).
    * E-step: re-score every mention against the current weight table
      (join on feature — never a driver collect), restrict candidates
      to the bag's labels ∪ {NIL} and keep the FULL posterior over them
      (softmax of the linear scores — the posterior-weighted inner loop
      of JointBayes's EM; the reference's Viterbi approximation is not
      ported). Each (bag, positive label) pins its best-scoring mention
      to that label with mass 1 (the at-least-once constraint,
      `JointBayesRelationExtractor.java:1500-1560` y-aggregation).
    * M-step: refit the log-odds table from (feature, z) weighted by
      posterior mass.

    Everything is joins/windows/aggregations over DataFrames; the model
    never leaves the cluster. Returns the final (feature, relation,
    weight) table.
    """
    from pyspark.sql import Window

    mentions = features.select(*MENTION_KEY).distinct()
    labels = bag_labels.select(*BAG_KEY, "relation").distinct()
    cand = (
        mentions.join(labels, BAG_KEY)
        .select(*MENTION_KEY, "relation")
        .unionByName(mentions.select(*MENTION_KEY, F.lit(NIL).alias("relation")))
    )
    w_rel = Window.partitionBy(*BAG_KEY, "relation").orderBy(
        F.col("s").desc(), *[F.col(c).asc() for c in MENTION_KEY]
    )
    w_m = Window.partitionBy(*MENTION_KEY)

    def refit(assign: DataFrame) -> DataFrame:
        labeled = features.join(assign, MENTION_KEY).select(
            "feature", F.col("z").alias("relation"), "wt"
        )
        return train_weights_df(labeled)

    init = mentions.join(labels, BAG_KEY, "left").select(
        *MENTION_KEY,
        F.coalesce(F.col("relation"), F.lit(NIL)).alias("z"),
        F.lit(1.0).alias("wt"),
    )
    # the weight table is tiny (post-A8 features x relations) but its
    # lineage doubles per epoch (scores join the previous round's
    # weights); one eager cut per round keeps the final collect from
    # replaying the whole EM history
    weights = refit(init).localCheckpoint(eager=True)

    for _ in range(epochs):
        scores = (
            features.join(weights, "feature")
            .groupBy(*MENTION_KEY, "relation")
            .agg(F.sum("weight").alias("s"))
        )
        cscored = cand.join(scores, [*MENTION_KEY, "relation"], "left").fillna({"s": 0.0})
        forced = (
            cscored.filter(F.col("relation") != NIL)
            .withColumn("_rn", F.row_number().over(w_rel))
            .filter(F.col("_rn") == 1)
            .select(*MENTION_KEY, F.col("relation").alias("z"))
        )
        soft = cscored.withColumn(
            "_e", F.exp(F.col("s") - F.max("s").over(w_m))
        ).withColumn("wt", F.col("_e") / F.sum("_e").over(w_m))
        rest = soft.join(
            forced.select(*MENTION_KEY).distinct(), MENTION_KEY, "left_anti"
        ).select(*MENTION_KEY, F.col("relation").alias("z"), "wt")
        assign = forced.withColumn("wt", F.lit(1.0)).unionByName(rest)
        weights = refit(assign).localCheckpoint(eager=True)
    return weights
