"""Stage 6 consistency — mirrors HeuristicSlotfillPostProcessorsTest fixtures."""

from __future__ import annotations

from stanford_relation_extractor_spark.operators.consistency import (
    apply_consistency,
    greedy_consistency,
    threshold_filter,
    type_check,
)

TRIPLE_SCHEMA = (
    "entity_name string, entity_type string, relation string, slot_value string, "
    "slot_ner string, n_agree int, score double, conv_id string, turn_idx int, sent_idx int"
)


def _triples(spark, rows):
    return spark.createDataFrame(
        [r + ("c1", 0, 0) for r in rows], TRIPLE_SCHEMA
    )


def test_type_check_rejects_bad_signature(spark):
    df = _triples(
        spark,
        [
            ("E", "PERSON", "per:age", "34", "NUMBER", 2, 0.9),
            ("E", "PERSON", "per:age", "Org001", "ORGANIZATION", 2, 0.9),  # bad slot ner
            ("E", "ORGANIZATION", "per:age", "34", "NUMBER", 2, 0.9),  # bad entity type
            ("E", "PERSON", "per:not_in_ontology", "34", "NUMBER", 2, 0.9),  # unknown relation
        ],
    )
    out = type_check(df).collect()
    assert len(out) == 1 and out[0]["slot_value"] == "34"


def test_threshold_is_inclusive(spark):
    # per:spouse has no per-relation floor -> global 0.5, inclusive;
    # per:age's per-relation floor (0.96) is inclusive at its boundary
    df = _triples(
        spark,
        [("E", "PERSON", "per:spouse", "S1", "PERSON", 1, 0.5),
         ("E", "PERSON", "per:spouse", "S2", "PERSON", 1, 0.499999),
         ("E", "PERSON", "per:age", "34", "NUMBER", 1, 0.96),
         ("E", "PERSON", "per:age", "35", "NUMBER", 1, 0.959999)],
    )
    vals = {r["slot_value"] for r in threshold_filter(df).collect()}
    assert vals == {"S1", "34"}


def test_map_lookups_raise_no_future_warning(spark):
    """Per-relation map lookups index with ``map[col]``: PySpark 4.1
    deprecates ``getItem(col)`` with a FutureWarning and announces its
    removal, which would break these filters on upgrade."""
    import warnings

    from stanford_relation_extractor_spark.operators.worldknowledge import (
        check_geo_consistency,
    )

    df = _triples(spark, [("E", "PERSON", "per:age", "34", "NUMBER", 1, 0.97)])
    geo = spark.createDataFrame([], "city string, country string")
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        threshold_filter(df)
        check_geo_consistency(df, geo)


def test_single_cardinality_top1_with_tiebreak(spark):
    rows = [
        ("E", "PERSON", "per:age", "34", "NUMBER", 2, 0.95),
        ("E", "PERSON", "per:age", "50", "NUMBER", 2, 0.95),  # tie -> lexicographic slot asc
        ("E", "PERSON", "per:age", "70", "NUMBER", 2, 0.94),
        ("E", "PERSON", "per:employee_of", "Org001", "ORGANIZATION", 2, 0.9),
        ("E", "PERSON", "per:employee_of", "Org002", "ORGANIZATION", 2, 0.8),  # LIST keeps both
    ]
    df = type_check(_triples(spark, rows))
    out = greedy_consistency(df)
    ages = [r["slot_value"] for r in out.filter("relation = 'per:age'").collect()]
    assert ages == ["34"]
    emp = {r["slot_value"] for r in out.filter("relation = 'per:employee_of'").collect()}
    assert emp == {"Org001", "Org002"}


def test_full_battery_composes(spark):
    rows = [
        ("E", "PERSON", "per:age", "34", "NUMBER", 2, 0.97),  # above the 0.96 floor
        ("E", "PERSON", "per:age", "99", "NUMBER", 1, 0.4),  # below threshold
        ("E", "PERSON", "per:title", "president", "TITLE", 2, 0.99),
    ]
    out = apply_consistency(_triples(spark, rows))
    got = {(r["relation"], r["slot_value"]) for r in out.collect()}
    assert got == {("per:age", "34"), ("per:title", "president")}


def test_sanity_check_filters():
    from stanford_relation_extractor_spark.operators.extractors import slot_sanity_ok

    cases = [  # (relation, slot_value, entity_name) -> kept
        (("per:age", "34", "E"), True),
        (("per:age", "200", "E"), False),  # >125
        (("per:age", "3.5", "E"), False),  # decimal
        (("org:number_of_employees/members", "10", "O"), False),  # <25
        (("org:number_of_employees/members", "400", "O"), True),
        (("per:spouse", "X", "X"), False),  # self-fill
        (("per:title", "t" * 81, "Y"), False),  # too long
    ]
    for args, kept in cases:
        assert slot_sanity_ok(*args) is kept, args


def test_incompatibilities_drop_lower_ranked(spark):
    rows = [
        # same (entity, slot): date_of_death is NOT declared overlapping
        # with date_of_birth -> lower (death, by relation-asc tiebreak) drops
        ("E", "PERSON", "per:date_of_birth", "1996", "DATE", 2, 0.984),
        ("E", "PERSON", "per:date_of_death", "1996", "DATE", 2, 0.984),
        # declared-overlapping pair: passes the pairwise check
        ("E", "PERSON", "per:country_of_birth", "NATION_2", "COUNTRY", 2, 0.9),
        ("E", "PERSON", "per:country_of_death", "NATION_2", "COUNTRY", 2, 0.8),
    ]
    ranked = type_check(_triples(spark, rows))
    out = {r["relation"] for r in greedy_consistency(ranked).collect()}
    # country_of_death passes the pairwise check but then falls to the
    # loc-of-death hold-one-out: its entity's only date_of_death dropped
    assert out == {"per:date_of_birth", "per:country_of_birth"}


def test_mitigate_loc_of_death(spark):
    rows = [
        ("A", "PERSON", "per:country_of_death", "NATION_2", "COUNTRY", 2, 0.9),
        ("A", "PERSON", "per:date_of_death", "1996", "DATE", 2, 0.9),
        ("B", "PERSON", "per:country_of_death", "NATION_3", "COUNTRY", 2, 0.9),  # no date
        ("B", "PERSON", "per:age", "30", "NUMBER", 2, 0.9),
    ]
    out = {
        (r["entity_name"], r["relation"])
        for r in greedy_consistency(_triples(spark, rows)).collect()
    }
    assert ("A", "per:country_of_death") in out
    assert ("B", "per:country_of_death") not in out
    assert ("B", "per:age") in out


def test_collapse_employee_member(spark):
    rows = [
        ("E", "PERSON", "per:employee_of", "Org001", "ORGANIZATION", 2, 0.9),
        ("E", "PERSON", "per:member_of", "Org001", "ORGANIZATION", 2, 0.8),
        ("E", "PERSON", "per:member_of", "Org002", "ORGANIZATION", 2, 0.7),
    ]
    out = {(r["relation"], r["slot_value"]) for r in greedy_consistency(_triples(spark, rows)).collect()}
    assert out == {("per:employee_of", "Org001"), ("per:member_of", "Org002")}


def test_cooccurrence_matrix_semantics():
    from stanford_relation_extractor_spark.ontology import plausibly_cooccurs

    # declared both-direction pairs
    assert plausibly_cooccurs("per:country_of_birth", "per:country_of_death")
    assert plausibly_cooccurs("per:employee_of", "per:schools_attended")
    # missing key on either side -> never co-occurs (RelationType.java:228-230)
    assert not plausibly_cooccurs("per:date_of_birth", "per:date_of_death")
    assert not plausibly_cooccurs("org:founded_by", "org:top_members/employees")


def test_greedy_follows_w1_on_depth3_chain(spark):
    """residence > origin > employee_of on one slot: origin conflicts with
    both neighbours, residence and employee_of co-occur. W1 drops origin
    and then judges employee_of against the accepted fills only, so it
    stays; a fill is never dropped for a higher fill that was itself
    dropped."""
    rows = [
        ("E", "PERSON", "per:countries_of_residence", "NATION_2", "COUNTRY", 2, 0.99),
        ("E", "PERSON", "per:origin", "NATION_2", "COUNTRY", 2, 0.98),
        ("E", "PERSON", "per:employee_of", "NATION_2", "COUNTRY", 2, 0.97),
    ]
    out = {r["relation"] for r in apply_consistency(_triples(spark, rows)).collect()}
    assert out == {"per:countries_of_residence", "per:employee_of"}
