"""map_groups_in_pandas == groupBy().applyInPandas (r6 optimization).

The grouped-map helper replaces per-group Arrow exchanges with one
clustered pass; these tests pin that the group decomposition is exact —
including groups that straddle Arrow batch boundaries (the carry-over
path) — by comparing row SETS against the applyInPandas reference on
the same group function.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def grouped_df(spark):
    # 25k rows / 500 groups of 50 — far more rows than one Arrow batch
    # (maxRecordsPerBatch=10000), so several groups straddle batch
    # boundaries inside each of the 4 partitions.
    return spark.range(25000).select(
        F.concat(F.lit("g"), F.lpad((F.col("id") % 500).cast("string"), 4, "0")).alias("k"),
        (F.col("id") % 7).cast("int").alias("v"),
        F.col("id").cast("int").alias("id"),
    )


def test_matches_apply_in_pandas(spark, grouped_df):
    from stanford_relation_extractor_spark.functions.grouped import (
        map_groups_in_pandas,
    )

    schema = "k string, n int, vsum int, vmin int"

    def agg_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            [
                (
                    pdf["k"].iloc[0],
                    len(pdf),
                    int(pdf["v"].sum()),
                    int(pdf["id"].min()),
                )
            ],
            columns=["k", "n", "vsum", "vmin"],
        )

    got = map_groups_in_pandas(grouped_df, ["k"], agg_group, schema)
    ref = grouped_df.groupBy("k").applyInPandas(
        lambda key, pdf: agg_group(pdf), schema
    )
    assert _rowset(got) == _rowset(ref)
    # every group seen exactly once, on complete rows
    assert got.count() == 500
    assert got.agg(F.sum("n")).collect()[0][0] == 25000


def test_empty_group_outputs_are_dropped(spark, grouped_df):
    from stanford_relation_extractor_spark.functions.grouped import (
        map_groups_in_pandas,
    )

    schema = "k string, n int"

    def only_even(pdf: pd.DataFrame) -> pd.DataFrame:
        # groups with odd suffix emit nothing
        if int(pdf["k"].iloc[0][1:]) % 2:
            return pd.DataFrame(columns=["k", "n"])
        return pd.DataFrame([(pdf["k"].iloc[0], len(pdf))], columns=["k", "n"])

    got = map_groups_in_pandas(grouped_df, ["k"], only_even, schema)
    assert got.count() == 250


def test_null_keys_match_apply_in_pandas(spark):
    """NULL group keys: Spark groups them together; the clustered-pass
    helper must too (pandas groupby drops NaN groups unless told not to,
    and a NaN == NaN carry-over comparison is all-False)."""
    from stanford_relation_extractor_spark.functions.grouped import (
        map_groups_in_pandas,
    )

    # 12k null-keyed rows straddle at least one 10k Arrow batch boundary
    df = spark.range(24000).select(
        F.when(F.col("id") % 2 == 0, F.concat(F.lit("g"), (F.col("id") % 5).cast("string")))
        .alias("k"),
        F.col("id").cast("int").alias("v"),
    )
    schema = "k string, n int, vsum long"

    def agg_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            [(pdf["k"].iloc[0], len(pdf), int(pdf["v"].sum()))],
            columns=["k", "n", "vsum"],
        )

    got = map_groups_in_pandas(df, ["k"], agg_group, schema)
    ref = df.groupBy("k").applyInPandas(lambda key, pdf: agg_group(pdf), schema)

    def rowset(d):  # None-safe sort (the null group's key is None)
        return sorted((tuple(r) for r in d.collect()), key=repr)

    assert rowset(got) == rowset(ref)
    # the null group is present exactly once, on its complete 12k rows
    assert got.count() == 6
    assert got.agg(F.sum("n")).collect()[0][0] == 24000


def test_array_key_rejected_at_call_time(spark):
    """A non-atomic key fails when the plan is built, naming the column,
    not inside a task where pandas cannot compare its values."""
    from stanford_relation_extractor_spark.functions.grouped import (
        map_groups_in_pandas,
    )

    df = spark.range(10).select(
        F.array(F.col("id") % 2).alias("ks"), F.col("id").cast("int").alias("v")
    )
    with pytest.raises(ValueError, match="'ks'.*array<bigint>"):
        map_groups_in_pandas(df, ["ks"], lambda pdf: pdf, "ks array<bigint>, v int")


def test_greedy_consistency_unchanged_vs_apply_in_pandas(spark):
    """The flat greedy scan keeps the per-group greedy's accepted set
    bit-identical, also with 7-row Arrow batches, where most entity
    groups straddle a batch boundary and take the carry-over path."""
    import stanford_relation_extractor_spark.operators.consistency as C

    rows = []
    for i in range(200):
        e = f"Person{i % 40:03d}"
        rows.append((e, "PERSON", "per:age", str(20 + i % 60), "NUMBER", 0.9 - (i % 5) * 0.01))
        rows.append((e, "PERSON", "per:employee_of", f"Org{i % 7:03d}", "ORGANIZATION", 0.8))
        rows.append((e, "PERSON", "per:member_of", f"Org{i % 7:03d}", "ORGANIZATION", 0.85))
        if i % 3 == 0:
            rows.append((e, "PERSON", "per:city_of_death", "Parisville", "CITY", 0.7))
        if i % 6 == 0:
            rows.append((e, "PERSON", "per:date_of_death", "1999", "DATE", 0.75))
    df = spark.createDataFrame(
        rows,
        "entity_name string, entity_type string, relation string, "
        "slot_value string, slot_ner string, score double",
    )
    # reference: the per-group greedy, one applyInPandas call per entity
    import pandas as pd

    from stanford_relation_extractor_spark.ontology import (
        RELATION_BY_NAME,
        plausibly_cooccurs,
    )

    cardinality = {n: r.cardinality for n, r in RELATION_BY_NAME.items()}

    def ref_run(key, pdf):
        order = pdf.assign(
            _tok=pdf["slot_value"].str.split(" ").str.len(),
            _len=pdf["slot_value"].str.len(),
        ).sort_values(
            ["score", "_tok", "_len", "slot_value", "relation"],
            ascending=[False, False, False, True, True],
            kind="mergesort",
        )
        accepted = []
        filled_single: set[str] = set()
        rels_by_slot: dict[str, set[str]] = {}
        emp = {"per:employee_of": set(), "per:member_of": set()}
        for row in order.itertuples(index=False):
            rel, slot = row.relation, row.slot_value
            ok = not (cardinality.get(rel) == "SINGLE" and rel in filled_single)
            if ok and rel in emp:
                other = (
                    "per:member_of" if rel == "per:employee_of" else "per:employee_of"
                )
                ok = slot not in emp[other]
            if ok:
                for prev in rels_by_slot.get(slot, ()):
                    if prev != rel and not plausibly_cooccurs(prev, rel):
                        ok = False
                        break
            if ok:
                accepted.append(row)
                if cardinality.get(rel) == "SINGLE":
                    filled_single.add(rel)
                if rel in emp:
                    emp[rel].add(slot)
                rels_by_slot.setdefault(slot, set()).add(rel)
        if not any(r.relation == "per:date_of_death" for r in accepted):
            accepted = [r for r in accepted if r.relation not in C.LOC_OF_DEATH]
        out = pd.DataFrame(accepted, columns=list(order.columns))
        return out.drop(columns=["_tok", "_len"])

    ref = _rowset(
        df.groupBy("entity_name", "entity_type").applyInPandas(ref_run, df.schema)
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(conf)
    try:
        for batch_rows in (default, "7"):
            spark.conf.set(conf, batch_rows)
            assert _rowset(C.greedy_consistency(df)) == ref, batch_rows
    finally:
        spark.conf.set(conf, default)
