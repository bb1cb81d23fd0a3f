"""A10 P/R scoring, S10 NIL padding, W5/W7/A5 selection."""

from __future__ import annotations

import pytest


def test_pr_score_with_equivalence_classes(spark):
    from stanford_relation_extractor_spark.operators.evaluate import pr_score

    guesses = spark.createDataFrame(
        [
            ("E", "per:age", "34"),
            ("E", "per:age", "wrong"),
            ("E", "per:spouse", "Bob Person000001"),
        ],
        "entity_name string, relation string, slot_value string",
    )
    gold = spark.createDataFrame(
        [
            ("E", "per:age", "34", 1),
            ("E", "per:age", "thirty-four", 1),  # same equivalence class
            ("E", "per:spouse", "Bob Person000001", 2),
            ("E", "per:title", "president", 3),  # missed
        ],
        "entity_name string, relation string, slot_value string, equiv_class int",
    )
    row = pr_score(guesses, gold).collect()[0]
    assert row["n_correct"] == 2
    assert row["precision"] == pytest.approx(2 / 3, abs=1e-6)
    assert row["recall"] == pytest.approx(2 / 3, abs=1e-6)


def test_nil_padding_fills_grid(spark):
    from stanford_relation_extractor_spark.operators.evaluate import nil_padded_output

    triples = spark.createDataFrame(
        [("E", "PERSON", "per:age", "34", "NUMBER", 2, 0.95, "c1", 0, 0)],
        "entity_name string, entity_type string, relation string, slot_value string, "
        "slot_ner string, n_agree int, score double, conv_id string, turn_idx int, sent_idx int",
    )
    queries = spark.createDataFrame(
        [("q1", "E", "PERSON")], "query_id string, entity_name string, entity_type string"
    )
    out = nil_padded_output(triples, queries, spark).collect()
    assert len(out) == 26  # the 26 per:* relations
    by_rel = {r["relation"]: r for r in out}
    assert by_rel["per:age"]["slot_value"] == "34"
    assert by_rel["per:spouse"]["slot_value"] == "NIL"
    assert all(r["relation"].startswith("per:") for r in out)


def test_sentence_competition_keeps_best(spark):
    from stanford_relation_extractor_spark.operators.selection import sentence_competition

    votes = spark.createDataFrame(
        [
            ("c1", 0, 0, "E", "PERSON", 0, 1, "S", "NUMBER", 2, 3, "per:age", "pattern", 0.9),
            ("c1", 0, 0, "E", "PERSON", 0, 1, "S", "NUMBER", 2, 3, "per:age", "window", 0.4),
            ("c1", 0, 1, "E", "PERSON", 0, 1, "S", "NUMBER", 2, 3, "per:age", "window", 0.4),
        ],
        "conv_id string, turn_idx int, sent_idx int, entity_name string, entity_type string, "
        "entity_begin int, entity_end int, slot_value string, slot_ner string, slot_begin int, "
        "slot_end int, relation string, extractor string, score double",
    )
    out = sentence_competition(votes).collect()
    assert len(out) == 2  # one winner per sentence
    assert {(r["sent_idx"], r["extractor"]) for r in out} == {(0, "pattern"), (1, "window")}
