"""Stage 4 — J5 wikidict alias linking (SURVEY.md J5).

J5 alias link with margin rule (`.../shallowdive/TextOps.java:304-349`,
`WikidictEntityLinker.java:76-115`): accept a link iff top-1 score
>= 0.4 AND top-1 >= 1.5 x top-2. Broadcast join against the alias
dictionary — with a broadcast build side, probe-side skew (hot surface
forms like country names) costs nothing because no shuffle occurs.

The rest of the linker cascade lives in ``operators/canonicalize.py``:
the F5 corporate-suffix strip and J6 nickname canonicalization
(`entitylinking/EntityLinker.java:46-55,114-161`) are
``canonicalize._dict_rewrite``, and J8 blocking and judging are
``functions/text.py:block_keys``, ``canonicalize._block_pairs`` and
``functions/text.py:same_entity`` — one function per rule for both
canon paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ACCEPT_SCORE = 0.4  # TextOps.java:326-343
ACCEPT_MARGIN = 1.5


def wikidict_link(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """J5: alias-dictionary linking with the top-1/top-2 margin rule.

    ``mentions`` has a ``surface`` column; ``alias_dict``: (alias
    string, canonical string, link_score double). Adds ``linked``
    (canonical name or NULL when rejected/unknown). One candidate set
    per surface; ties on score break to the lexicographically smallest
    canonical (total order, bit-stable).
    """
    cand = mentions.join(
        F.broadcast(alias_dict),
        F.lower(F.col("surface")) == F.col("alias"),
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
        & (top1 >= F.lit(ACCEPT_SCORE))
        & (top2.isNull() | (top1 >= F.lit(ACCEPT_MARGIN) * top2))
    )
    return grouped.withColumn(
        "linked", F.when(accept, F.col("_best.canonical"))
    ).drop("_best", "_scores")
