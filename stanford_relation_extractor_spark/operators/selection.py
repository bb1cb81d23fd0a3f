"""Sentence selection / competition operators (SURVEY.md W5, W7, P1, A5).

* ``topk_sentences_per_entity`` — the per-entity sentence budget of
  `stanford-kbp/.../slotfilling/evaluate/SimpleSlotFiller.java:366-423`
  (TEST_SENTENCES_PER_ENTITY, Props.java:169): dedup by sentence text,
  then keep the first ``SENTENCES_PER_ENTITY`` sentences per entity in
  stable (conv_id, turn_idx, sent_idx) order.
* ``sentence_competition`` — GraphConsistencyPostProcessors.java:470-510
  (W5): among votes for the same entity pair within one sentence, keep
  only the best-scoring relation mention.
* ``ner_majority_vote`` — SlotMentionAnnotator.java:98-107 (A5): an
  entity's NER type by vote across its mentions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ENTITY_NERS = ("PERSON", "ORGANIZATION")  # the mention types that head slots
SENTENCES_PER_ENTITY = 5  # the per-entity sentence budget (W7)


def topk_sentences_per_entity(sentences: DataFrame) -> DataFrame:
    """(entity_name, conv_id, turn_idx, sent_idx, sent_text) — at most
    ``SENTENCES_PER_ENTITY`` distinct sentences per entity, stable order
    (W7)."""
    ent_sent = sentences.select(
        "conv_id", "turn_idx", "sent_idx", "sent_text", F.explode("mentions").alias("m")
    ).filter(F.col("m.ner").isin(*ENTITY_NERS)).select(
        F.col("m.surface").alias("entity_name"),
        "conv_id", "turn_idx", "sent_idx", "sent_text",
    )
    # dedup identical sentence text per entity, keep earliest occurrence
    dedup_w = Window.partitionBy("entity_name", "sent_text").orderBy(
        "conv_id", "turn_idx", "sent_idx"
    )
    deduped = (
        ent_sent.withColumn("_d", F.row_number().over(dedup_w))
        .filter(F.col("_d") == 1)
        .drop("_d")
    )
    budget_w = Window.partitionBy("entity_name").orderBy("conv_id", "turn_idx", "sent_idx")
    return (
        deduped.withColumn("_r", F.row_number().over(budget_w))
        .filter(F.col("_r") <= SENTENCES_PER_ENTITY)
        .drop("_r")
    )


def sentence_competition(votes: DataFrame) -> DataFrame:
    """W5: per (sentence, entity, slot) keep only the top-ranked
    (extractor, relation) vote."""
    w = Window.partitionBy(
        "conv_id", "turn_idx", "sent_idx", "entity_name", "slot_value"
    ).orderBy(F.desc("score"), F.asc("relation"), F.asc("extractor"))
    return (
        votes.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_r")
    )


def ner_majority_vote(mentions: DataFrame) -> DataFrame:
    """A5: (surface, ner) by majority over mention occurrences; ties break
    to the lexicographically smaller tag (deterministic)."""
    counts = mentions.groupBy("surface", "ner").agg(F.count("*").alias("n"))
    w = Window.partitionBy("surface").orderBy(F.desc("n"), F.asc("ner"))
    return (
        counts.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("surface", F.col("ner").alias("majority_ner"), F.col("n").alias("votes"))
    )
