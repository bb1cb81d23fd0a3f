"""Round-4: the reference's REAL TAC gold data (shipped query XMLs and
assessment .tab files) through the parsers and the official scorer —
ground truth authored by neither the engine nor its oracle.

Reference anchors: `evaluate/GoldResponseSet.java:336-423` (grok
parsers), `evaluate/CustomSFScore.java:137-510` (official scorer),
`spec/OfficialOutputWriter.java:182-193` (2013 relation renames), data
at `edu/stanford/nlp/kbp/evaluation_{queries,results}/`.
"""

from __future__ import annotations

import pytest
from conftest import needs_reference

from stanford_relation_extractor_spark.sources.goldtab import (
    GOLD_2009_TAB,
    GOLD_2013_TAB,
    QUERIES_2013_XML,
    official_cardinality_2013,
    read_gold_tab,
)


GOLD_SCHEMA = (
    "line_id int, query_id string, relation string, docid string, "
    "slot_value string, judgment string, equiv_class int"
)
RESP_SCHEMA = (
    "query_id string, relation string, docid string, slot_value string, "
    "resp_order int"
)


@needs_reference
def test_real_2013_tab_parses_with_reference_counts(spark):
    """grok2013 semantics on the real file: 27,655 lines, 562 'I' lines
    dropped, judgment letter distribution as shipped."""
    g = read_gold_tab(spark, GOLD_2013_TAB, year=2013)
    counts = {r["judgment"]: r["n"] for r in
              g.groupBy("judgment").count().withColumnRenamed("count", "n").collect()}
    assert counts == {"C": 5426, "X": 1248, "R": 1018, "W": 19401}
    assert g.count() == 27655 - 562
    one = g.filter(g.line_id == 6).filter(g.docid == "LTW_ENG_20090727.0007").first()
    assert one is not None
    assert (one.query_id, one.relation) == ("SF13_ENG_001", "per:age")
    assert one.slot_value == "44" and one.equiv_class == 4


@needs_reference
def test_real_2009_tab_parses_with_reference_counts(spark):
    """grokBefore2011 field layout + CustomSFScore integer judgment
    codes on the real 2009 file (11,127 lines, all codes known)."""
    g = read_gold_tab(spark, GOLD_2009_TAB, year=2009)
    counts = {r["judgment"]: r["n"] for r in
              g.groupBy("judgment").count().withColumnRenamed("count", "n").collect()}
    assert counts == {"C": 707, "W": 10186, "X": 194, "R": 40}
    one = g.filter(g.line_id == 1).filter(g.relation == "org:dissolved").first()
    assert one is not None
    assert one.query_id == "SF25" and one.slot_value == "16th century"
    assert one.judgment == "W" and one.equiv_class == 0


@needs_reference
def test_real_2013_query_xml(spark):
    from stanford_relation_extractor_spark.sources.taskxml import queries_df

    with open(QUERIES_2013_XML) as fh:
        q = queries_df(spark, fh.read())
    rows = {r["query_id"]: r for r in q.collect()}
    assert len(rows) == 100
    first = rows["SF13_ENG_001"]
    assert first.name == "Ramazan Bashardost"
    assert first.entity_type == "PERSON"
    assert first.doc_id == "XIN_ENG_20090916.0146"
    # 27 queries carry an <ignore> slot list
    assert sum(1 for r in rows.values() if r.ignored_slots) == 27
    assert rows["SF13_ENG_008"].ignored_slots


@needs_reference
def test_official_cardinality_2013_covers_real_gold(spark):
    """Every relation in the real 2013 assessments resolves through the
    OfficialOutputWriter-2013 rename of our ontology — no relation
    scores as slotType 'error'."""
    card = official_cardinality_2013()
    rels = [
        r["relation"]
        for r in read_gold_tab(spark, GOLD_2013_TAB).select("relation").distinct().collect()
    ]
    assert len(rels) == 41
    missing = [r for r in rels if r not in card]
    assert missing == []


def test_official_score_hand_computed(spark):
    """CustomSFScore semantics on a hand-worked fixture: sv first-response
    rule, X/R/W anti-credit, repeated-equivalence-class redundancy,
    unjudged->WRONG, NIL skip, unknown-relation exclusion, fake recall."""
    from stanford_relation_extractor_spark.operators.evaluate import official_score

    gold = spark.createDataFrame([
        (1, "q1", "per:age", "D1", "44", "C", 4),
        (2, "q1", "per:age", "D2", "45", "X", 4),
        (3, "q1", "per:children", "D1", "Ann", "C", 7),
        (4, "q1", "per:children", "D2", "Annie", "C", 7),
        (5, "q1", "per:children", "D3", "Bob", "C", 8),
        (6, "q1", "per:children", "D4", "Carl", "W", 0),
        (7, "q2", "per:age", "D9", "30", "C", 9),
    ], GOLD_SCHEMA)
    responses = spark.createDataFrame([
        ("q1", "per:age", "D2", "45", 1),       # sv first -> X
        ("q1", "per:age", "D1", "44", 2),       # sv second -> ignored
        ("q1", "per:children", "D1", "Ann", 3),    # C, ec 7
        ("q1", "per:children", "D2", "Annie", 4),  # C but ec 7 claimed -> R
        ("q1", "per:children", "D4", "Carl", 5),   # W
        ("q1", "per:children", "D5", "Zed", 6),    # unjudged -> W
        ("q2", "per:age", "NIL", "", 7),           # NIL -> nothing
        ("q3", "org:unknown_rel", "D1", "x", 8),   # slotType error -> excluded
    ], RESP_SCHEMA)
    card = {"per:age": "SINGLE", "per:children": "LIST"}

    row = official_score(responses, gold, card).first()
    assert (row.n_responses, row.n_correct, row.n_redundant,
            row.n_wrong, row.n_inexact) == (5, 1, 1, 2, 1)
    # fake recall: answered slots only — (q1,age) + (q2,age) (the NIL
    # response still registers its slot, CustomSFScore.java:281) +
    # eclasses {7,8} = 4
    assert row.n_answers == 4
    assert row.precision == pytest.approx(0.2)
    assert row.recall == pytest.approx(0.25)
    assert row.f1 == pytest.approx(2 * 0.2 * 0.25 / 0.45, abs=1e-6)


@needs_reference
def test_official_score_real_2013_sample(spark):
    """Deterministic response sample from the real 2013 assessments: the
    scorer's counts line up with a direct Python recount (independent of
    the DataFrame path)."""
    from pyspark.sql import functions as F

    from stanford_relation_extractor_spark.operators.evaluate import official_score

    gold = read_gold_tab(spark, GOLD_2013_TAB)
    resp = (
        gold.filter(F.col("line_id") % 7 == 0)
        .select("query_id", "relation", "docid", "slot_value",
                F.col("line_id").alias("resp_order"))
    )
    card = official_cardinality_2013()
    row = official_score(resp, gold, card).first()
    assert row.n_responses > 2900  # ~27k/7 sampled, minus sv non-first rows
    # every sampled response has a judgment: W+X+R+C == responses
    assert row.n_correct + row.n_redundant + row.n_wrong + row.n_inexact == row.n_responses
    assert 0.0 < row.precision < 1.0 and 0.0 < row.recall <= 1.0


@needs_reference
def test_real_gold_2011_dir_parse(spark):
    """grok2011 over the per-query .dir layout: whitespace split,
    3-part colon query key, slot value re-joined with single spaces."""
    from pyspark.sql import functions as F

    from stanford_relation_extractor_spark.sources.goldtab import (
        GOLD_2011_DIR,
    )

    g = read_gold_tab(spark, GOLD_2011_DIR, year=2011)
    assert g.count() == 28041
    assert g.schema.simpleString() == (
        "struct<line_id:int,query_id:string,relation:string,docid:string,"
        "slot_value:string,judgment:string,equiv_class:int>"
    )
    # internal whitespace runs collapse exactly as Java's split+join
    dawa = g.filter(
        (F.col("query_id") == "SF503") & F.col("slot_value").contains("Dawa")
    ).collect()
    assert any(r.slot_value == "Dawa party and various S hiite" for r in dawa)
    # judgment codes map to the 2013 letters
    assert {r.judgment for r in g.select("judgment").distinct().collect()} <= {
        "C", "W", "R", "X"
    }
    # relation keeps the raw comma form the .dir filenames encode
    assert g.filter(F.col("relation") == "org:top_members,employees").count() > 0


@needs_reference
def test_real_gold_2012_dir_parse(spark):
    from pyspark.sql import functions as F

    from stanford_relation_extractor_spark.sources.goldtab import (
        GOLD_2012_DIR,
    )

    g = read_gold_tab(spark, GOLD_2012_DIR, year=2012)
    assert g.count() == 22885
    first = g.filter(
        (F.col("query_id") == "SF_ENG_001")
        & (F.col("relation") == "per:alternate_names")
        & (F.col("line_id") == 2)
    ).collect()[0]
    assert first.slot_value == "Juanita Millender"
    assert first.judgment == "W" and first.equiv_class == 0


@needs_reference
def test_slots_2013_scope_file(spark):
    from pyspark.sql import functions as F

    from stanford_relation_extractor_spark.sources.goldtab import read_slots_file

    s = read_slots_file(spark)
    assert s.count() == 1940
    assert s.filter(
        (F.col("query_id") == "SF13_ENG_001") & (F.col("relation") == "per:age")
    ).count() == 1


def test_perturbed_response_set_hand_computed(spark):
    """The end-to-end pipeline scorer's response generator, on a tiny
    hand-sized triple set where every key_len branch is computed by hand
    (kl = len(entity)+len(relation)+len(slot)):

    * Bob/per:title (LIST, base kl=12):
      'Boss' kl=16 -> C;  'CEO of X' kl=20 -> C, and kl%5==0 doubles the
      response so the second C lands REDUNDANT;  'VP' kl=14 (%7==0) ->
      answers 'VP ZZZ', unjudged -> W;  'Chair' kl=17 -> C;
      'Regent' kl=18 (%6==0) -> answers 'Regent Jr', and kl%3==0 planted
      an X-judged gold row for exactly that string -> X.
    * Al/per:city_of_birth (SINGLE, kl=23 both): only the FIRST response
      in line order ('Oslo' < 'Rome') is scored -> one C.

    Totals: 7 responses, 4 C, 1 R, 1 W, 1 X; fake-recall denominator =
    1 single-valued answered slot + 5 list equivalence classes = 6.
    """
    from stanford_relation_extractor_spark.operators.evaluate import (
        official_score,
        perturbed_response_set,
    )

    triples = spark.createDataFrame(
        [
            ("Bob", "per:title", "Boss"),
            ("Bob", "per:title", "CEO of X"),
            ("Bob", "per:title", "VP"),
            ("Bob", "per:title", "Chair"),
            ("Bob", "per:title", "Regent"),
            ("Al", "per:city_of_birth", "Oslo"),
            ("Al", "per:city_of_birth", "Rome"),
        ],
        "entity_name string, relation string, slot_value string",
    )
    card = {"per:title": "LIST", "per:city_of_birth": "SINGLE"}
    resp, gold = perturbed_response_set(triples, card)
    assert resp.count() == 8  # 7 base responses + 1 LIST dup
    assert gold.count() == 8  # 7 C rows + 1 planted X ('Regent Jr')
    row = official_score(resp, gold, card).first()
    assert (
        row.n_responses, row.n_correct, row.n_redundant, row.n_wrong, row.n_inexact
    ) == (7, 4, 1, 1, 1)
    assert row.n_answers == 6
    assert row.precision == round(4 / 7, 6)
    assert row.recall == round(4 / 6, 6)
    assert row.f1 == round(16 / 26, 6)
