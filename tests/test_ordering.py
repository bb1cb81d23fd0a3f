"""Stage 0 — stable ordering + the north-rule per-turn text invariant."""

from __future__ import annotations

from conftest import SF_DIR
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stanford_relation_extractor_spark.operators.ordering import with_turn_order


def ordering_violations(transcripts: DataFrame) -> DataFrame:
    """Turns whose turn_idx is not contiguous-from-0 within conv."""
    return with_turn_order(transcripts).filter(F.col("turn_idx") != F.col("turn_seq"))


def turn_text_mismatches(before: DataFrame, after: DataFrame) -> DataFrame:
    """Per-turn text-equality invariant between two pipeline snapshots.

    Full outer join on the stable key; any row here is a violation.
    At scale both sides are bucketed on conv_id, so this is a
    co-partitioned join.
    """
    a = before.select("conv_id", "turn_idx", F.col("text").alias("text_before"))
    b = after.select("conv_id", "turn_idx", F.col("text").alias("text_after"))
    return (
        a.join(b, ["conv_id", "turn_idx"], "full_outer")
        .filter(
            F.col("text_before").isNull()
            | F.col("text_after").isNull()
            | (F.col("text_before") != F.col("text_after"))
        )
    )


def test_turn_idx_contiguous(spark):
    from stanford_relation_extractor_spark.sources.synthetic import transcripts_df

    t = transcripts_df(spark, SF_DIR)
    assert ordering_violations(t).count() == 0


def test_text_equality_roundtrip(spark):
    """Per-turn text equality under stable ordering after a full shuffle."""
    from stanford_relation_extractor_spark.sources.synthetic import transcripts_df

    t = transcripts_df(spark, SF_DIR)
    shuffled = t.repartition(16, "text")  # scramble physical layout
    assert turn_text_mismatches(t, shuffled).count() == 0


def test_hot_conversation_skew_present(spark):
    """The corpus must exercise skew: hot conv >> median conv size."""
    from stanford_relation_extractor_spark.sources.synthetic import transcripts_df

    sizes = (
        transcripts_df(spark, SF_DIR).groupBy("conv_id").count().orderBy(F.desc("count"))
    )
    top = sizes.first()["count"]
    med = sizes.approxQuantile("count", [0.5], 0.01)[0]
    assert top > 5 * med
