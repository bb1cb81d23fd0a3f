"""Ensemble combination semantics — mirrors the reference fixture style of
`stanford-kbp/src/test/java/.../slotfilling/evaluate/EnsembleRelationExtractorTest.java:28-135`
(stub classifiers voting fixed relations; assert the AGREE_MOST gate,
the one the pipeline runs, and the noisy-or)."""

from __future__ import annotations

import pytest

from stanford_relation_extractor_spark.operators.ensemble import combine_votes

VOTE_SCHEMA = (
    "conv_id string, turn_idx int, sent_idx int, "
    "entity_name string, entity_type string, entity_begin int, entity_end int, "
    "slot_value string, slot_ner string, slot_begin int, slot_end int, "
    "relation string, extractor string, score double"
)


def _votes_df(spark, rows):
    """rows: (extractor, relation, score[, conv, turn])"""
    full = [
        (r[3] if len(r) > 3 else "c1", r[4] if len(r) > 4 else 0, 0,
         "E", "PERSON", 0, 1, "S", "NUMBER", 2, 3, r[1], r[0], r[2])
        for r in rows
    ]
    return spark.createDataFrame(full, VOTE_SCHEMA)


def test_noisy_or_and_agreement_count(spark):
    df = _votes_df(spark, [("pattern", "per:age", 0.9), ("trigger", "per:age", 0.8), ("window", "per:age", 0.4)])
    out = combine_votes(df).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_agree"] == 3
    assert row["score"] == pytest.approx(1 - 0.1 * 0.2 * 0.6, abs=1e-6)


def test_per_extractor_max_pooling(spark):
    # same extractor voting twice -> max, not accumulation; the trigger
    # vote is the second member the AGREE_MOST gate asks for
    df = _votes_df(
        spark,
        [("pattern", "per:age", 0.9), ("pattern", "per:age", 0.5, "c2", 1),
         ("trigger", "per:age", 0.5)],
    )
    row = combine_votes(df).collect()[0]
    assert row["n_agree"] == 2
    assert row["score"] == pytest.approx(1 - 0.1 * 0.5, abs=1e-6)


def test_agree_most_java_integer_division(spark):
    # 4 extractors -> gate is >= 2 (4/2 in Java int division)
    df = _votes_df(spark, [("window", "per:age", 0.4)])
    assert combine_votes(df).count() == 0
    df2 = _votes_df(
        spark, [("window", "per:age", 0.4), ("statistical", "per:age", 0.6)]
    )
    assert combine_votes(df2).count() == 1


def test_provenance_from_argmax_extractor_deterministic(spark):
    df = _votes_df(
        spark,
        [("trigger", "per:age", 0.8, "c9", 9), ("pattern", "per:age", 0.9, "c2", 2),
         ("pattern", "per:age", 0.9, "c1", 5), ("pattern", "per:age", 0.9, "c1", 3)],
    )
    row = combine_votes(df).collect()[0]
    assert row["provenance_extractor"] == "pattern"
    # ties on weight broken by (conv_id, turn_idx, ...) total order
    assert (row["conv_id"], row["turn_idx"]) == ("c1", 3)


def test_agree_most_gate_holds_through_stage_6(spark):
    """A lone strong pattern vote clears the global 0.5 threshold on its
    own (0.9), so only the AGREE_MOST gate keeps it out of the final
    triples; a two-extractor key on the same entity and relation is the
    control that stage 6 keeps."""
    from stanford_relation_extractor_spark.operators.consistency import apply_consistency

    rel = "per:cities_of_residence"  # PERSON -> CITY, LIST, global threshold
    votes = [
        ("c1", 0, 0, "John Smith", "PERSON", 0, 10, slot, "CITY", 20, 30, rel, ex, w)
        for slot, ex, w in (
            ("Shelbyville", "pattern", 0.9),
            ("Springfield", "pattern", 0.9),
            ("Springfield", "trigger", 0.8),
        )
    ]
    out = apply_consistency(combine_votes(spark.createDataFrame(votes, VOTE_SCHEMA)))
    assert {(r["relation"], r["slot_value"]) for r in out.collect()} == {
        (rel, "Springfield")
    }
