"""Driver queries against their DuckDB oracles, inside Tier-1.

Every ``__spark_entry__.oracle_sql()`` entry runs here: the query
through ``queries()`` and its twin under DuckDB, compared by
``scripts/crosscheck.py``'s ``compare`` (row count, columns,
order-insensitive values). This pins the production code behind each
driver query: extraction (the statistical member included), the
canon map and alternate names, the ensemble, stage 6 and the scored
and NIL-padded outputs, rule inference, and the datapipe operators
(dedup, k-NN, text statistics, events, multimodal features).

The oracles that read the reference checkout's data files (real gold
assessments, gazetteers) skip where it is not mounted.
``bayesnet_map`` and ``real_queries_2013`` have no oracle.
"""

from __future__ import annotations

import pytest
from conftest import SF_DIR, needs_reference

import __spark_entry__ as entry
from scripts.crosscheck import compare
from stanford_relation_extractor_spark.sources.goldtab import REFERENCE_KBP_DIR

ORACLES = entry.oracle_sql()


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(name, marks=needs_reference) if REFERENCE_KBP_DIR in sql else name
        for name, sql in ORACLES.items()
    ],
)
def test_query_matches_oracle(spark, duck, name):
    spark_pdf = entry.queries()[name](spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(ORACLES[name]).df()
    assert compare(name, spark_pdf, duck_pdf)
