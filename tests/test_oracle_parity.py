"""Driver queries against their DuckDB oracles, inside Tier-1.

Each query runs through ``__spark_entry__.queries()`` and its twin
through ``oracle_sql()``, compared by ``scripts/crosscheck.py``'s
``compare`` (row count, columns, order-insensitive values). The queries
here run the production code of the statistical member
(``extractors.votes_for_sentence`` -> ``statistical.pair_feature_list``
-> ``combined_relation_probs``), the J5 wikidict margin link, the
size-gated canon map, alternate-name emission, label-propagation
connected components and the end-to-end triples (stage 6 included).
"""

from __future__ import annotations

import pytest
from conftest import SF_DIR

from scripts.crosscheck import compare


@pytest.mark.parametrize(
    "name",
    [
        "statistical_votes",
        "wikidict_link",
        "canonical_map",
        "alternate_names",
        "connected_components",
        "final_triples",
    ],
)
def test_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as entry

    spark_pdf = entry.queries()[name](spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(entry.oracle_sql()[name]).df()
    assert compare(name, spark_pdf, duck_pdf)
