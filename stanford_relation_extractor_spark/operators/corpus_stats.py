"""Corpus statistics + IR-equivalent query operators (SURVEY.md A11, S3-S6).

* ``slot_given_relation_probs`` — `Probabilities`
  (`stanford-kbp/.../slotfilling/evaluate/Probabilities.java:18-80`):
  P(slotValue | relation) from triple counts, smoothed with the
  relation priors of `RelationType.java:465-470` (broadcast map).
* ``query_sentences`` — the capability of the Lucene querier
  (`slotfilling/ir/query/LuceneQuerier.java:137-250,400-487`) without a
  search engine: predicate-pushdown `contains` filters on the scan +
  stable top-k. At scale the filter reaches the Iceberg/parquet reader
  as a data-skipping predicate.
* ``hit_count`` — S5 `queryNumHits`: a `filter().count()`.
* ``slurp`` — S6 corpus stream: full scan + `limit(n)`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..ontology import RELATION_BY_NAME


def slot_given_relation_probs(triples: DataFrame, smoothing: float = 0.0) -> DataFrame:
    """(relation, slot_value, n, p_slot_given_rel, prior): per-relation
    conditional slot distribution + the ontology prior."""
    counts = triples.groupBy("relation", "slot_value").agg(F.count("*").alias("n"))
    totals = Window.partitionBy("relation")
    priors = {name: r.prior for name, r in RELATION_BY_NAME.items()}
    prior_col = F.create_map(
        *[x for name, p in sorted(priors.items()) for x in (F.lit(name), F.lit(p))]
    )
    return counts.select(
        "relation",
        "slot_value",
        "n",
        F.round(
            (F.col("n") + F.lit(smoothing))
            / (F.sum("n").over(totals) + F.lit(smoothing) * F.count("*").over(totals)),
            6,
        ).alias("p_slot_given_rel"),
        prior_col[F.col("relation")].alias("prior"),
    )


def query_sentences(
    transcripts: DataFrame,
    entity: str,
    extra_terms: list[str] | None = None,
    k: int = 50,
    case_sensitive: bool = True,
) -> DataFrame:
    """S3: top-k turns mentioning the entity (+ all extra terms), in
    stable (conv_id, turn_idx) order. The contains-predicates are plain
    column filters — Catalyst pushes them into the scan."""
    text = F.col("text") if case_sensitive else F.lower(F.col("text"))
    needle = entity if case_sensitive else entity.lower()
    cond = text.contains(needle)
    for t in extra_terms or []:
        cond = cond & text.contains(t if case_sensitive else t.lower())
    return (
        transcripts.filter(cond)
        .orderBy("conv_id", "turn_idx")
        .limit(k)
    )


def hit_count(transcripts: DataFrame, terms: list[str]) -> int:
    """S5: number of turns containing every term."""
    cond = F.lit(True)
    for t in terms:
        cond = cond & F.col("text").contains(t)
    return transcripts.filter(cond).count()


def slurp(transcripts: DataFrame, n: int) -> DataFrame:
    """S6: stream the first n turns in stable order."""
    return transcripts.orderBy("conv_id", "turn_idx").limit(n)
