"""Stage 4 — entity linking (SURVEY.md J5-J8, F4-F6).

Re-expresses the reference's linker cascade as Spark joins/expressions:

* F5 corporate-suffix strip (`.../entitylinking/EntityLinker.java:114-133`)
  — `regexp_replace` column expression (JVM-side, codegen).
* J6 nickname canonicalization (`EntityLinker.java:46-55,135-161`) —
  for small nickname maps a codegen CASE expression beats a join (the
  dict rides the plan).
* J5 wikidict alias link with margin rule
  (`.../shallowdive/TextOps.java:304-349`,
  `WikidictEntityLinker.java:76-115`): accept a link iff top-1 score
  >= 0.4 AND top-1 >= 1.5 x top-2. Broadcast join against the alias
  dictionary — with a broadcast build side, probe-side skew (hot
  surface forms like country names) costs nothing because no shuffle
  occurs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ACCEPT_SCORE = 0.4  # TextOps.java:326-343
ACCEPT_MARGIN = 1.5


def strip_corporate_suffix(col: Column, suffixes: tuple[str, ...]) -> Column:
    alt = "|".join(suffixes)
    return F.regexp_replace(col, f" ({alt})$", "")


def nickname_canonical(name: str, nicknames: dict[str, str]) -> Column:
    """Rewrite a leading nickname token to its canonical first name."""
    first = F.split(F.col(name), " ").getItem(0)
    mapped = first
    for nick, full in sorted(nicknames.items()):
        mapped = F.when(first == nick, F.lit(full)).otherwise(mapped)
    rest = F.expr(f"substring({name}, length(split({name}, ' ')[0]) + 1)")
    return F.concat(mapped, rest)


def wikidict_link(
    mentions: DataFrame,
    alias_dict: DataFrame,
    surface_col: str = "surface",
    accept_score: float = ACCEPT_SCORE,
    accept_margin: float = ACCEPT_MARGIN,
) -> DataFrame:
    """J5: alias-dictionary linking with the top-1/top-2 margin rule.

    ``alias_dict``: (alias string, canonical string, link_score double).
    Adds ``linked`` (canonical name or NULL when rejected/unknown).
    One candidate set per surface; ties on score break to the
    lexicographically smallest canonical (total order, bit-stable).
    """
    cand = mentions.join(
        F.broadcast(alias_dict),
        F.lower(F.col(surface_col)) == F.col("alias"),
        "left",
    )
    best = F.min(
        F.when(
            F.col("link_score").isNotNull(),
            F.struct((-F.col("link_score")).alias("neg"), F.col("canonical")),
        )
    ).alias("_best")
    scores = F.sort_array(
        F.collect_list("link_score"), asc=False
    ).alias("_scores")
    grouped = cand.groupBy(*mentions.columns).agg(best, scores)
    top1 = F.try_element_at(F.col("_scores"), F.lit(1))
    top2 = F.try_element_at(F.col("_scores"), F.lit(2))
    accept = (
        top1.isNotNull()
        & (top1 >= F.lit(accept_score))
        & (top2.isNull() | (top1 >= F.lit(accept_margin) * top2))
    )
    return grouped.withColumn(
        "linked", F.when(accept, F.col("_best.canonical"))
    ).drop("_best", "_scores")
