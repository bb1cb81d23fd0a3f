"""S7 — TAC query XML parsing (`stanford-kbp/.../slotfilling/spec/TaskXMLParser.java`).

The reference parses query files like
`stanford-kbp/edu/stanford/nlp/kbp/evaluation_queries/2013.xml`:

    <kbpslotfill>
      <query id="SF13_ENG_001">
        <name>Ted Kaczynski</name>
        <docid>APW_ENG_20090609.0604</docid>
        <enttype>PER</enttype>
        <nodeid>E0300113</nodeid>
        <ignore>per:date_of_birth per:age</ignore>
      </query>
      ...
    </kbpslotfill>

Query files are tiny (hundreds of rows): parsed driver-side with the
stdlib XML parser and broadcast as a `queries` DataFrame — the Spark
shape of `KBPEvaluator.testEntities()`.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

QUERY_SCHEMA = (
    "query_id string, name string, entity_type string, doc_id string, "
    "node_id string, ignored_slots array<string>"
)

_ENTTYPE = {"PER": "PERSON", "ORG": "ORGANIZATION"}


def parse_query_xml(xml_text: str) -> list[tuple]:
    """XML text -> rows (query_id, name, entity_type, doc_id, node_id, ignored)."""
    root = ET.fromstring(xml_text)
    rows = []
    for q in root.findall(".//query"):
        qid = q.get("id", "")

        def txt(tag: str) -> str | None:
            el = q.find(tag)
            return el.text.strip() if el is not None and el.text else None

        ignored = (txt("ignore") or "").split() or []
        rows.append(
            (
                qid,
                txt("name"),
                _ENTTYPE.get(txt("enttype") or "", txt("enttype")),
                txt("docid"),
                txt("nodeid"),
                ignored,
            )
        )
    return rows


def queries_df(spark: SparkSession, xml_text: str) -> DataFrame:
    return spark.createDataFrame(parse_query_xml(xml_text), QUERY_SCHEMA)
