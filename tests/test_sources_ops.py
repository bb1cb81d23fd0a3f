"""S7 XML queries."""

from __future__ import annotations

SAMPLE_XML = """<?xml version='1.0'?>
<kbpslotfill>
  <query id="SF13_ENG_001">
    <name>Alice Person000001</name>
    <docid>conv_000001</docid>
    <enttype>PER</enttype>
    <nodeid>E001</nodeid>
    <ignore>per:age per:date_of_birth</ignore>
  </query>
  <query id="SF13_ENG_002">
    <name>Org001</name>
    <docid>conv_000002</docid>
    <enttype>ORG</enttype>
  </query>
</kbpslotfill>
"""


def test_parse_query_xml(spark):
    from stanford_relation_extractor_spark.sources.taskxml import queries_df

    rows = {r["query_id"]: r for r in queries_df(spark, SAMPLE_XML).collect()}
    assert rows["SF13_ENG_001"]["entity_type"] == "PERSON"
    assert rows["SF13_ENG_001"]["ignored_slots"] == ["per:age", "per:date_of_birth"]
    assert rows["SF13_ENG_002"]["entity_type"] == "ORGANIZATION"
    assert rows["SF13_ENG_002"]["ignored_slots"] == []
