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
   noisy-or ``1 - prod(1 - w_i)``, gate per AGREE_{ANY,ALL,MOST,TWO,
   FIRST} (default AGREE_MOST, `common/Props.java:495`).
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
FIRST_EXTRACTOR = EXTRACTORS[0]  # AGREE_FIRST's classifier[0]

AGREE_ANY = "AGREE_ANY"
AGREE_ALL = "AGREE_ALL"
AGREE_MOST = "AGREE_MOST"
AGREE_TWO = "AGREE_TWO"
AGREE_FIRST = "AGREE_FIRST"


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


def combine_votes(
    votes: DataFrame,
    n_extractors: int | None = None,
    combination: str = AGREE_MOST,
    round_digits: int = 6,
    extractors: tuple[str, ...] = EXTRACTORS,
) -> DataFrame:
    """votes -> gated, noisy-or-scored candidate triples with provenance."""
    n_ext = n_extractors if n_extractors is not None else len(extractors)

    keyed = votes.withColumn("_vote_key", _vote_key_expr())
    aggs = []
    for i, ex in enumerate(extractors):
        cond = F.col("extractor") == ex
        aggs.append(F.max(F.when(cond, F.col("score"))).alias(f"_w{i}"))
        aggs.append(F.min(F.when(cond, F.col("_vote_key"))).alias(f"_p{i}"))
    agg = keyed.groupBy(*GROUP_KEY).agg(*aggs)

    ws = F.array_sort(
        F.filter(F.array(*[F.col(f"_w{i}") for i in range(len(extractors))]), lambda x: x.isNotNull())
    )
    ws_desc = F.reverse(ws)
    agg = agg.withColumn("_ws", ws_desc)

    n_agree = F.size("_ws").alias("n_agree")
    noisy_or = F.round(
        F.lit(1.0)
        - F.aggregate(F.col("_ws"), F.lit(1.0), lambda acc, w: acc * (F.lit(1.0) - w)),
        round_digits,
    )
    top1 = F.try_element_at(F.col("_ws"), F.lit(1))
    top2 = F.coalesce(F.try_element_at(F.col("_ws"), F.lit(2)), F.lit(0.0))
    top2_noisy_or = F.round(
        F.lit(1.0) - (F.lit(1.0) - top1) * (F.lit(1.0) - top2), round_digits
    )
    first_idx = extractors.index(FIRST_EXTRACTOR) if FIRST_EXTRACTOR in extractors else 0
    first_w = F.col(f"_w{first_idx}")

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
            for i, ex in enumerate(extractors)
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
        top2_noisy_or.alias("_score_top2"),
        F.round(first_w, round_digits).alias("_first_w"),
        F.col("_best.extractor").alias("provenance_extractor"),
        parts.getItem(1).alias("conv_id"),
        parts.getItem(2).cast("int").alias("turn_idx"),
        parts.getItem(3).cast("int").alias("sent_idx"),
        parts.getItem(4).cast("int").alias("entity_begin"),
        parts.getItem(5).cast("int").alias("entity_end"),
        parts.getItem(6).cast("int").alias("slot_begin"),
        parts.getItem(7).cast("int").alias("slot_end"),
    )

    if combination == AGREE_ANY:
        gated = scored.filter(F.col("n_agree") > 0)
    elif combination == AGREE_ALL:
        gated = scored.filter(F.col("n_agree") >= n_ext)
    elif combination == AGREE_MOST:
        # Java integer division: classifiers.size() / 2
        gated = scored.filter(F.col("n_agree") >= n_ext // 2)
    elif combination == AGREE_TWO:
        gated = scored.filter(F.col("n_agree") >= 2).withColumn(
            "score", F.col("_score_top2")
        )
    elif combination == AGREE_FIRST:
        gated = scored.filter(F.col("_first_w").isNotNull()).withColumn(
            "score", F.col("_first_w")
        )
    else:
        raise ValueError(f"unknown ensemble combination {combination!r}")

    return gated.drop("_score_top2", "_first_w")
