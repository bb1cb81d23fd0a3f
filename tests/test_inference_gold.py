"""Round-3 inference-engine depth (MLN rule table, chaining, noisy-or)
and gold-assessment-format parsing (GoldResponseSet.grok2013)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

TRIPLE_SCHEMA = (
    "entity_name string, entity_type string, relation string, "
    "slot_value string, slot_ner string, score double"
)


def _store(spark, rows):
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def _geo(spark, rows=()):
    return spark.createDataFrame(
        list(rows) or [("_none_", "_none_")], "city string, country string"
    )


EXPECTED_RULE_NAMES = [
    "spouse_symmetry",
    "top_members_inversion",
    "geo_lift",
    "geo_lift",
    "geo_lift",
    "geo_lift",
    "employee_hq_residence",
]


def test_parse_mln_default_ruleset():
    from stanford_relation_extractor_spark.operators.inference import (
        DEFAULT_MLN,
        parse_mln,
    )

    preds, rules = parse_mln(DEFAULT_MLN)
    assert preds["per:spouse"] == ("PERSON", "PERSON")
    assert preds["geo:city_country"] == ("CITY", "COUNTRY")
    assert [r.name for r in rules] == EXPECTED_RULE_NAMES
    sym = rules[0]
    assert sym.weight == 0.9
    assert sym.body[0].pred == "per:spouse" and not sym.body[0].positive
    assert (sym.head.a1, sym.head.a2) == ("y", "x")  # argument swap
    chain = rules[-1]
    assert [l.pred for l in chain.body] == [
        "per:employee_of", "org:country_of_headquarters",
    ]
    with pytest.raises(ValueError):
        parse_mln("0.5 !a(x, y) v b(x, y) v c(y, x)")  # non-Horn


def test_mln_rule_names_stable_under_clause_insertion():
    """Names ride the `//` comment, not clause position: inserting a new
    named clause mid-file must not rename any existing rule."""
    from stanford_relation_extractor_spark.operators.inference import (
        DEFAULT_MLN,
        parse_mln,
    )

    inserted = DEFAULT_MLN.replace(
        "// top_members_inversion:",
        "// brand_new_rule: inserted mid-file\n"
        "0.5 !per:spouse(x, y) v per:spouse(y, x)\n"
        "// top_members_inversion:",
    )
    _, rules = parse_mln(inserted)
    names = [r.name for r in rules]
    assert names == (
        EXPECTED_RULE_NAMES[:1] + ["brand_new_rule"] + EXPECTED_RULE_NAMES[1:]
    )
    # a clause under no naming comment falls back to its clause index
    _, anon = parse_mln("a(T1, T2)\nb(T1, T2)\n0.9 !a(x, y) v b(x, y)")
    assert anon[0].name == "rule_0"


def test_mln_chaining_two_rounds(spark):
    """top_members_inversion (round 1) feeds employee_hq_residence
    (round 2): hand-computed 0.9*0.9 = 0.81, then 0.81*0.8*0.9 = 0.5832."""
    from stanford_relation_extractor_spark.operators.inference import infer_triples

    store = _store(spark, [
        ("OrgA", "ORGANIZATION", "org:top_members/employees", "Pat", "PERSON", 0.9),
        ("OrgA", "ORGANIZATION", "org:country_of_headquarters", "France", "COUNTRY", 0.8),
    ])
    out = {
        (r["relation"], r["entity_name"], r["slot_value"]): (r["score"], r["rule"])
        for r in infer_triples(store, _geo(spark)).collect()
    }
    assert out[("per:employee_of", "Pat", "OrgA")] == (0.81, "top_members_inversion")
    assert out[("per:countries_of_residence", "Pat", "France")] == (
        0.5832, "employee_hq_residence",
    )


def test_mln_noisy_or_combines_same_key(spark):
    """geo_lift (0.81) and employee_hq_residence (0.729) both derive
    countries_of_residence(P, France): noisy-or = 1 - 0.19*0.271 =
    0.94851, provenance = the higher-scoring rule."""
    from stanford_relation_extractor_spark.operators.inference import infer_triples

    store = _store(spark, [
        ("P", "PERSON", "per:cities_of_residence", "Parisville", "CITY", 0.9),
        ("P", "PERSON", "per:employee_of", "OrgA", "ORGANIZATION", 0.9),
        ("OrgA", "ORGANIZATION", "org:country_of_headquarters", "France", "COUNTRY", 0.9),
    ])
    geo = _geo(spark, [("Parisville", "France")])
    rows = {
        (r["relation"], r["slot_value"]): (r["score"], r["rule"])
        for r in infer_triples(store, geo).collect()
    }
    assert rows[("per:countries_of_residence", "France")] == (0.94851, "geo_lift")


def test_mln_known_fills_stay_novel_only(spark):
    from stanford_relation_extractor_spark.operators.inference import infer_triples

    store = _store(spark, [
        ("A", "PERSON", "per:spouse", "B", "PERSON", 0.9),
        ("B", "PERSON", "per:spouse", "A", "PERSON", 0.8),  # already known
    ])
    assert infer_triples(store, _geo(spark)).count() == 0


def test_gold_tab_parse_grok2013(spark):
    """12-field lines parse; 'I' judgments and short lines drop; the
    relation keeps its namespace colon; slot values keep spaces."""
    from stanford_relation_extractor_spark.sources.goldtab import parse_gold_tab

    lines = spark.createDataFrame(
        [
            ("1\tSF13_ENG_001:per:age\tDOC_1\t44\t0-0\t0-0\t0-0\tC\tC\tC\tC\t3",),
            ("2\tSF13_ENG_001:per:title\tDOC_2\tchief executive\t0-0\t0-0\t0-0\tC\tC\tC\tW\t1",),
            ("3\tSF13_ENG_002:org:founded\tDOC_3\t1999\t0-0\t0-0\t0-0\tC\tC\tC\tI\t2",),
            ("4\tbad line with too few fields",),
        ],
        "value string",
    )
    got = {r["line_id"]: r for r in parse_gold_tab(lines).collect()}
    assert set(got) == {1, 2}  # I-judged and malformed lines dropped
    assert got[1]["query_id"] == "SF13_ENG_001"
    assert got[1]["relation"] == "per:age"
    assert got[1]["slot_value"] == "44"
    assert got[1]["judgment"] == "C" and got[1]["equiv_class"] == 3
    assert got[2]["slot_value"] == "chief executive"
    assert got[2]["judgment"] == "W"


def test_gold_tab_roundtrip_identity(spark):
    from stanford_relation_extractor_spark.sources.goldtab import (
        format_gold_tab,
        parse_gold_tab,
    )

    triples = spark.createDataFrame(
        [
            ("Alice", "per:age", "44"),
            ("Alice", "per:age", "45"),
            ("Bob", "per:title", "chief of staff"),
        ],
        "entity_name string, relation string, slot_value string",
    )
    back = parse_gold_tab(format_gold_tab(triples))
    got = {
        (r["query_id"], r["relation"], r["slot_value"]): r["equiv_class"]
        for r in back.collect()
    }
    assert got == {
        ("Alice", "per:age", "44"): 1,
        ("Alice", "per:age", "45"): 2,
        ("Bob", "per:title", "chief of staff"): 1,
    }


def test_gold_tab_pr_flow(spark):
    """Parsed assessments drive pr_score: 2 guesses, 1 correct against
    2 gold classes -> P=0.5, R=0.5."""
    from stanford_relation_extractor_spark.operators.evaluate import pr_score
    from stanford_relation_extractor_spark.sources.goldtab import (
        format_gold_tab,
        parse_gold_tab,
    )

    gold_triples = spark.createDataFrame(
        [("Alice", "per:age", "44"), ("Alice", "per:title", "engineer")],
        "entity_name string, relation string, slot_value string",
    )
    gold = parse_gold_tab(format_gold_tab(gold_triples)).select(
        F.col("query_id").alias("entity_name"), "relation", "slot_value", "equiv_class"
    )
    guesses = spark.createDataFrame(
        [("Alice", "per:age", "44"), ("Alice", "per:age", "99")],
        "entity_name string, relation string, slot_value string",
    )
    row = pr_score(guesses, gold).collect()[0]
    assert row["precision"] == 0.5 and row["recall"] == 0.5
