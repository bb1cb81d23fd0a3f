"""Stage 0 — stable per-conversation turn ordering (SURVEY.md W6).

The reference orders candidate sentences by docId/sentenceIndex
(`stanford-kbp/.../slotfilling/ir/KBPRelationProvenance.java:41`); our
analog is the total order `(conv_id, turn_idx)`. Physical row order of
the input is arbitrary (Iceberg scan order), so every downstream
operator that needs sequence context uses
``Window.partitionBy(conv_id).orderBy(turn_idx)`` — never zipWithIndex,
never a global sort.

`turn_seq` is a contiguity check column: the north-rule invariant
"per-turn text equality under stable ordering" is `turn_idx == turn_seq`
plus text equality per key. Both halves are checks on the engine, not
pipeline stages: they live in `tests/test_ordering.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_turn_order(transcripts: DataFrame) -> DataFrame:
    """Add ``turn_seq`` = dense 0-based rank of turn_idx within conv.

    One shuffle on conv_id; AQE splits skewed (hot) conversations'
    shuffle partitions at runtime. On the real cluster the Iceberg
    table is bucketed by conv_id so this window is shuffle-free.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return transcripts.withColumn(
        "turn_seq", (F.row_number().over(w) - F.lit(1)).cast("int")
    )
