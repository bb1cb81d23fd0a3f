"""Train the statistical ensemble member and freeze it as data.

Mirrors the reference's training story (`train/KBPTrainer.java:374-527`
distant supervision -> `classify/JointBayesRelationExtractor.java:429-560`
MIML EM), Spark-first:

* features: the SAME masked pair featurizer inference uses
  (extractors.extract_pair_features -> statistical.pair_feature_list),
  A8 count-thresholded (>=5);
* seed KB: the synthetic corpus's planted pattern/trigger assertions
  (sources/oracle_rules.py) — the stand-in for the reference's KB TSV;
* training: statistical.miml_train — distributed soft-EM over
  (entity, slot) bags with at-least-once pinning; mentions of unlabeled
  bags train the NIL class. The reference wraps JointBayes in
  BAGGING-resampled folds (`classify/EnsembleRelationExtractor.java:155-252`,
  defaults `common/Props.java:308-312`): we train N_BAGS bootstrap
  models on deterministic ~75% bag subsamples (hash-mod, reproducible —
  no RNG) whose scores noisy-or at inference
  (statistical.combined_relation_probs);
* output: stanford_relation_extractor_spark/models/frozen_statistical.py
  — literal weight tables, committed so engine inference and the
  DuckDB oracle score against identical numbers.

Usage: python scripts/train_statistical.py [sf_dir] [epochs]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "stanford_relation_extractor_spark", "models", "frozen_statistical.py",
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    from stanford_relation_extractor_spark.operators.extractors import (
        extract_pair_features,
    )
    from stanford_relation_extractor_spark.operators.statistical import (
        feature_count_filter,
        miml_train,
    )
    from stanford_relation_extractor_spark.session import get_spark
    from stanford_relation_extractor_spark.sources.oracle_rules import (
        PATTERN_VOTES,
        TB_ANTE_CTE,
        TRIGGER_VOTES,
    )
    from stanford_relation_extractor_spark.sources.synthetic import (
        country_gazetteer,
        detector_config,
        oracle_query,
        transcripts_df,
    )

    spark = get_spark("train_statistical")
    t = transcripts_df(spark, sf_dir)
    config = detector_config(country_gazetteer(spark, sf_dir))

    feats = feature_count_filter(extract_pair_features(t, config))
    feats = feats.localCheckpoint(eager=True)  # reused every EM round

    branches = []
    for k in sorted(PATTERN_VOTES):
        for ecol, scol, rel in sorted(set(PATTERN_VOTES[k]) | set(TRIGGER_VOTES[k])):
            # J2-resolved votes (k20 pronoun) live on the tb_ante view
            table, extra = "turns_base", ""
            if "antecedent" in (ecol, scol):
                table, extra = "tb_ante", " AND antecedent IS NOT NULL"
            branches.append(
                f"SELECT DISTINCT {ecol} AS entity_name, '{rel}' AS relation, "
                f"{scol} AS slot_value FROM {table} WHERE k = {k}{extra}"
            )
    kb = spark.sql(
        oracle_query(TB_ANTE_CTE + "\n" + "\nUNION\n".join(branches))
    ).localCheckpoint(eager=True)  # reused by every fold's filter
    from pyspark.sql import functions as F

    N_BAGS = 7  # train.ensemble.numcomponents default, Props.java:308-312
    tables: list[dict[str, dict[str, float]]] = []
    for b in range(N_BAGS):
        # deterministic ~75% bag subsample per fold (bagging stand-in:
        # hash-mod instead of resampling-with-replacement — reproducible)
        keep = F.pmod(F.hash("entity_name", "slot_value", F.lit(b)), F.lit(4)) != 0
        weights = miml_train(feats.filter(keep), kb.filter(keep), epochs=epochs)
        by_feature: dict[str, dict[str, float]] = {}
        for r in weights.collect():
            by_feature.setdefault(r["feature"], {})[r["relation"]] = r["weight"]
        tables.append(by_feature)
        print(f"fold {b}: {len(by_feature)} features")

    lines = [
        '"""Frozen statistical ensemble member (generated — do not edit).',
        "",
        f"Trained by scripts/train_statistical.py on {sf_dir}:",
        f"{N_BAGS} BAGGING folds (deterministic 75% bag subsamples) x",
        f"{epochs} MIML soft-EM epochs over distant-supervision bags;",
        "feature count threshold 5 (A8). Inference: per fold, sum weights",
        "over the masked pair features and softmax over sorted relations",
        "+ NIL; noisy-or the folds (statistical.combined_relation_probs);",
        'emit type-admissible relations with p >= STATISTICAL_MIN_PROB."""',
        "",
        "BAG_WEIGHTS: list[dict[str, dict[str, float]]] = [",
    ]
    for by_feature in tables:
        lines.append("    {")
        for f in sorted(by_feature):
            inner = ", ".join(
                f"{rel!r}: {w!r}" for rel, w in sorted(by_feature[f].items())
            )
            lines.append(f"        {f!r}: {{{inner}}},")
        lines.append("    },")
    lines.append("]")
    with open(OUT_PATH, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {N_BAGS} folds to {OUT_PATH}")


if __name__ == "__main__":
    main()
