"""Stage 3 — ensemble vote combination (SURVEY.md A3).

Re-expresses `stanford-kbp/.../slotfilling/classify/EnsembleRelationExtractor.java:254-336`
(noisy-or at `:293`, agreement gates at `:303-332`) as pure built-in
aggregates — no UDAF:

1. ONE aggregation over the triple group key pivots the (small,
   fixed) extractor set into per-extractor max-score and best-vote
   columns — a single shuffle with map-side partial aggregation (the
   naive per-(group, extractor) pre-aggregation costs a second
   exchange; pivoting removes it). On Spark 4.1.2 it plans as a
   SortAggregate, not a HashAggregate: sort + partial aggregate before
   the exchange, sort + final aggregate after it (see
   ``_vote_key_expr``).
2. per group: ``n_agree`` = #extractors voting, combined score =
   noisy-or ``1 - prod(1 - w_i)``, gated by AGREE_MOST (the reference
   default, `common/Props.java:495`; the pipeline runs no other gate).
3. provenance = the argmax-weight extractor's best vote, deterministic
   via total-order struct comparison (SURVEY.md §7).

Per-extractor score = max over that extractor's sentence votes (the
at-least-once pooling of `OneVsAllRelationExtractor.java:82-99`).
Hot keys (celebrity entities) are smoothed by partial aggregation +
AQE; the group key includes slot_value so cardinality is high.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GROUP_KEY = ["entity_name", "entity_type", "relation", "slot_value", "slot_ner"]

EXTRACTORS = ("pattern", "trigger", "window", "statistical")


def _vote_key_expr() -> F.Column:
    # The best-vote key is ONE sortable string. ``min`` over a string
    # has no fixed-width mutable buffer, so HashAggregate cannot take
    # it: the aggregation plans as partial and final SortAggregates,
    # each behind a Sort (ObjectHashAggregate measured slower in r6).
    # The partial combine still runs map-side. Field order = (quantized
    # descending weight, conv_id, turn_idx, sent_idx, spans) — a total
    # order, so provenance selection stays bit-deterministic.
    # lpad(cast) rather than format_string (java.util.Formatter is an
    # order of magnitude slower per row), and the key is PROJECTED once
    # before the aggregation — as a per-aggregate child expression it
    # would be re-evaluated once per extractor branch per row.
    def _pad(col: F.Column, width: int) -> F.Column:
        return F.lpad(col.cast("string"), width, "0")

    return F.concat_ws(
        "|",
        _pad(((F.lit(1.0) - F.col("score")) * 1e6).cast("int"), 7),
        F.col("conv_id"),
        _pad(F.col("turn_idx"), 10),
        _pad(F.col("sent_idx"), 6),
        _pad(F.col("entity_begin"), 6),
        _pad(F.col("entity_end"), 6),
        _pad(F.col("slot_begin"), 6),
        _pad(F.col("slot_end"), 6),
    )


def combine_votes(votes: DataFrame) -> DataFrame:
    """votes -> AGREE_MOST-gated, noisy-or-scored candidate triples with
    provenance."""
    keyed = votes.withColumn("_vote_key", _vote_key_expr())
    aggs = []
    for i, ex in enumerate(EXTRACTORS):
        cond = F.col("extractor") == ex
        aggs.append(F.max(F.when(cond, F.col("score"))).alias(f"_w{i}"))
        aggs.append(F.min(F.when(cond, F.col("_vote_key"))).alias(f"_p{i}"))
    agg = keyed.groupBy(*GROUP_KEY).agg(*aggs)

    ws = F.array_sort(
        F.filter(F.array(*[F.col(f"_w{i}") for i in range(len(EXTRACTORS))]), lambda x: x.isNotNull())
    )
    agg = agg.withColumn("_ws", F.reverse(ws))

    n_agree = F.size("_ws").alias("n_agree")
    noisy_or = F.round(
        F.lit(1.0)
        - F.aggregate(F.col("_ws"), F.lit(1.0), lambda acc, w: acc * (F.lit(1.0) - w)),
        6,
    )

    # argmax-weight extractor's best vote: candidates sorted by
    # (neg weight, extractor name, vote position) — total order.
    candidates = F.array(
        *[
            F.when(
                F.col(f"_w{i}").isNotNull(),
                F.struct(
                    (-F.col(f"_w{i}")).alias("neg_w"),
                    F.lit(ex).alias("extractor"),
                    F.col(f"_p{i}").alias("best_vote"),
                ),
            )
            for i, ex in enumerate(EXTRACTORS)
        ]
    )
    best = F.try_element_at(
        F.array_sort(F.filter(candidates, lambda x: x.isNotNull())), F.lit(1)
    )
    agg = agg.withColumn("_best", best)

    parts = F.split(F.col("_best.best_vote"), r"\|")
    scored = agg.select(
        *GROUP_KEY,
        n_agree.cast("int").alias("n_agree"),
        noisy_or.alias("score"),
        F.col("_best.extractor").alias("provenance_extractor"),
        parts.getItem(1).alias("conv_id"),
        parts.getItem(2).cast("int").alias("turn_idx"),
        parts.getItem(3).cast("int").alias("sent_idx"),
        parts.getItem(4).cast("int").alias("entity_begin"),
        parts.getItem(5).cast("int").alias("entity_end"),
        parts.getItem(6).cast("int").alias("slot_begin"),
        parts.getItem(7).cast("int").alias("slot_end"),
    )
    # AGREE_MOST in Java integer division: classifiers.size() / 2
    return scored.filter(F.col("n_agree") >= len(EXTRACTORS) // 2)
