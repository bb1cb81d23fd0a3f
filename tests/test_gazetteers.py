"""Round-5: the reference's REAL gazetteer files as dimension tables
(`WorldKnowledgePostProcessor.java:119-227`, `EntityLinker.java:47-54,
135-161`) — parse fidelity, lookup semantics, and the real nickname maps."""

from __future__ import annotations

from conftest import needs_reference
from pyspark.sql import functions as F

from stanford_relation_extractor_spark.sources.gazetteers import (
    alt_country_names,
    cities_gazetteer,
    city_primary_region,
    name_nicknames_all,
)


@needs_reference
def test_cities_gazetteer_resolves_region_and_country(spark):
    g = cities_gazetteer(spark)
    row = g.filter(F.col("city") == "andorra la vella").collect()[0]
    assert row.country == "andorra"
    assert row.population == 20430
    # the reference warns-and-continues on unresolvable region codes;
    # those rows must SURVIVE with a NULL region, not drop
    assert g.count() == 47057
    assert g.filter(F.col("region").isNull()).count() > 0


@needs_reference
def test_city_primary_region_is_argmax_population(spark):
    primary = city_primary_region(cities_gazetteer(spark))
    paris = primary.filter(F.col("city") == "paris").collect()
    assert len(paris) == 1  # one row per city
    assert paris[0].primary_country == "france"
    assert paris[0].population == 2110694


@needs_reference
def test_alt_country_names_short_keys_stay_case_sensitive(spark):
    aliases = {r.alias_key: r.country for r in alt_country_names(spark).collect()}
    # >4 chars: lower-cased key
    assert aliases.get("shqipëria") == "albania"
    # <=4 chars: case preserved (WorldKnowledgePostProcessor.java:188)
    assert aliases.get("PRC") == "china"
    assert "prc" not in aliases


@needs_reference
def test_name_nicknames_map_to_line_first_name(spark):
    pairs = {
        (r.name, r.canonical)
        for r in name_nicknames_all(spark).filter(F.col("source") == "male").collect()
    }
    assert ("bobby", "Robert") in pairs
    assert ("ron", "Ronald") in pairs


@needs_reference
def test_real_geo_consistency_probe(spark):
    from stanford_relation_extractor_spark.operators.worldknowledge import (
        real_geo_consistency,
    )

    rows = real_geo_consistency(spark).collect()
    # recompute each country's own first city independently to split
    # the own-pairs from the shifted (deliberate-mismatch) pairs
    g = cities_gazetteer(spark).filter(
        F.col("region").isNotNull() & F.col("country").isNotNull()
    )
    own_city = {
        (f"Q_{r.country}", r.city0)
        for r in g.groupBy("country").agg(F.min("city").alias("city0")).collect()
    }
    own = [r for r in rows if (r.entity, r.city) in own_city]
    shifted = [r for r in rows if (r.entity, r.city) not in own_city]
    # every alias-stated country resolves back to its canonical form —
    # except the one genuine alias collision the file ships ('thule' is
    # listed under both sweden and iceland; the single-valued map keeps
    # min(country) = iceland, so sweden's two rows resolve to iceland)
    stray = [r for r in rows if r.entity != "Q_" + r.resolved_country]
    assert {(r.entity, r.stated_country, r.resolved_country) for r in stray} == {
        ("Q_sweden", "thule", "iceland")
    }
    assert any(r.stated_country != r.resolved_country for r in rows)
    # a country's own first city is consistent with it by construction
    # (modulo the thule redirect above)
    assert own and all(r.consistent for r in own if r.entity not in {"Q_sweden"})
    # the shifted pairs are overwhelmingly inconsistent
    assert shifted and sum(not r.consistent for r in shifted) > len(shifted) * 0.8
