"""Driver queries against their DuckDB oracles, inside Tier-1.

Each query runs through ``__spark_entry__.queries()`` and its twin
through ``oracle_sql()``, compared by ``scripts/crosscheck.py``'s
``compare`` (row count, columns, order-insensitive values). The queries
here run the production code of the statistical member
(``extractors.votes_for_sentence`` -> ``statistical.pair_feature_list``
-> ``combined_relation_probs``), the J5 wikidict margin link, the
size-gated canon map, alternate-name emission, label-propagation
connected components, the end-to-end triples (stage 6 included), both
LSH k-NN queries (``lsh_knn`` is the banded search with one all-bits
band; its oracle joins on the whole signature) and the multimodal byte
features.
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
        "lsh_knn",
        "lsh_knn_banded",
        "multimodal_features",
    ],
)
def test_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as entry

    spark_pdf = entry.queries()[name](spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(entry.oracle_sql()[name]).df()
    assert compare(name, spark_pdf, duck_pdf)
