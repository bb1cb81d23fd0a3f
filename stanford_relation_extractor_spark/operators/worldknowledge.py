"""J7 — gazetteer membership / geo-consistency joins.

Re-expresses `stanford-kbp/.../slotfilling/evaluate/WorldKnowledgePostProcessor.java:300-388`
(isValidCity / city-region-country consistency over `kbp_cities.tab` /
`kbp_code2country.tab`) as broadcast joins against a geo dimension:

* ``validate_city_slots`` — a CITY-typed fill must exist in the
  gazetteer (P-validity);
* ``check_geo_consistency`` — a city fill's mapped country must not
  contradict the entity's accepted country fill of the same relation
  family (birth / death / residence / headquarters).

The geo table is tiny — always broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# relation family: city relation -> matching country relation
CITY_TO_COUNTRY_REL = {
    "per:city_of_birth": "per:country_of_birth",
    "per:city_of_death": "per:country_of_death",
    "per:cities_of_residence": "per:countries_of_residence",
    "org:city_of_headquarters": "org:country_of_headquarters",
}


def geo_cities_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic corpus's city gazetteer: (city, country) derived
    from the nation dim (city = nation name sans spaces + 'ville') —
    the `kbp_cities.tab` analog."""
    from ..sources.tables import read_table

    nation = read_table(spark, sf_dir, "nation")
    return nation.select(
        F.concat(F.regexp_replace(F.col("n_name"), " ", ""), F.lit("ville")).alias("city"),
        F.col("n_name").alias("country"),
    )


def real_geo_consistency(spark: SparkSession) -> DataFrame:
    """consistentCityCountry + canonicalizeCountry over the REFERENCE'S
    REAL gazetteer (`WorldKnowledgePostProcessor.java:288-295,326-335`
    over `kbp_cities.tab` / `kbp_code2*.tab` /
    `kbp_alternate_country_names.tab`) — the deterministic probe the
    driver cross-checks against independent read_csv SQL
    (sources.gazetteer_oracle.geo_consistency_real_sql):

    * for every country, its alphabetically-first city is paired with
      (a) that country — consistent — and (b) the NEXT country in name
      order — a deliberate mismatch unless the city genuinely also
      exists there;
    * the stated country value routes through an alternate name (the
      max >4-char alias) where one exists, so the check exercises the
      canonicalizeCountry chain (countries set -> long lowercase alias
      -> short case-sensitive alias -> country code) before the
      city -> region -> country membership test.

    Every gazetteer table is dimension-sized and broadcast; the output
    is two rows per country (~500 rows).
    """
    from pyspark.sql import Window

    from ..sources.gazetteers import (
        alt_country_names,
        cities_gazetteer,
        code2country,
    )

    g = cities_gazetteer(spark).filter(
        F.col("region").isNotNull() & F.col("country").isNotNull()
    )
    # ONE scan of the resolved dimension feeds four branches
    g = g.localCheckpoint(eager=True)
    city2region = g.select("city", "region").distinct()
    region2country = g.select("region", "country").distinct()
    ccp = (
        city2region.join(region2country, "region").select("city", "country").distinct()
    )
    first_city = g.groupBy("country").agg(F.min("city").alias("city0"))
    paired = first_city.withColumn(
        "shifted_city", F.lead("city0").over(Window.orderBy("country"))
    )
    aliases = alt_country_names(spark).localCheckpoint(eager=True)
    # the reference's alternateName2country is a single-valued map; ties
    # (one alias shipped under two countries) resolve to min(country)
    alias_map = aliases.groupBy("alias_key").agg(F.min("country").alias("country"))
    alias_pick = (
        aliases.filter(F.length("alias_key") > 4)
        .groupBy("country")
        .agg(F.max("alias_key").alias("_alias"))
    )
    fills = paired.join(F.broadcast(alias_pick), "country", "left").select(
        F.col("country").alias("true_country"),
        F.coalesce(F.col("_alias"), F.col("country")).alias("stated"),
        "city0",
        "shifted_city",
    )
    cand = fills.select("true_country", "stated", F.col("city0").alias("city")).unionByName(
        fills.filter(F.col("shifted_city").isNotNull()).select(
            "true_country", "stated", F.col("shifted_city").alias("city")
        )
    )
    # canonicalizeCountry chain as priority-ordered broadcast left joins
    countries = code2country(spark)
    norm = F.lower(F.trim(F.col("stated")))
    c1 = F.broadcast(countries.select(F.col("country").alias("_c1")).distinct())
    canon = cand.join(c1, norm == F.col("_c1"), "left")
    a_long = F.broadcast(
        alias_map.select(F.col("alias_key").alias("_ak2"), F.col("country").alias("_c2"))
    )
    canon = canon.join(
        a_long,
        (F.length("stated") > 4) & (norm == F.col("_ak2")),
        "left",
    )
    a_short = F.broadcast(
        alias_map.select(F.col("alias_key").alias("_ak3"), F.col("country").alias("_c3"))
    )
    canon = canon.join(
        a_short,
        (F.length("stated") <= 4) & (F.trim(F.col("stated")) == F.col("_ak3")),
        "left",
    )
    codes = F.broadcast(
        countries.select(
            F.col("country_code").alias("_cc4"), F.col("country").alias("_c4")
        )
    )
    canon = canon.join(codes, F.trim(F.col("stated")) == F.col("_cc4"), "left")
    canon = canon.select(
        "true_country",
        "stated",
        "city",
        F.coalesce("_c1", "_c2", "_c3", "_c4", norm).alias("resolved_country"),
    )
    checked = canon.join(
        F.broadcast(
            ccp.select(F.col("city").alias("_city"), F.col("country").alias("_ok_c"))
        ),
        (F.col("city") == F.col("_city"))
        & (F.col("resolved_country") == F.col("_ok_c")),
        "left",
    )
    return checked.select(
        F.concat(F.lit("Q_"), F.col("true_country")).alias("entity"),
        "city",
        F.col("stated").alias("stated_country"),
        "resolved_country",
        F.col("_ok_c").isNotNull().alias("consistent"),
    )


def validate_city_slots(triples: DataFrame, geo_cities: DataFrame) -> DataFrame:
    """Drop CITY-typed fills absent from the gazetteer (isValidCity)."""
    known = F.broadcast(geo_cities.select(F.col("city").alias("_city")))
    cities = triples.filter(F.col("slot_ner") == "CITY").join(
        known, F.col("slot_value") == F.col("_city"), "left_semi"
    )
    return triples.filter(F.col("slot_ner") != "CITY").unionByName(cities)


def check_geo_consistency(triples: DataFrame, geo_cities: DataFrame) -> DataFrame:
    """Drop a city fill whose gazetteer country CONTRADICTS the entity's
    accepted country fill in the same relation family. Entities with no
    country fill (or cities outside the gazetteer) are left alone —
    the check is a consistency filter, not a validity filter."""
    fam = F.create_map(
        *[x for k, v in sorted(CITY_TO_COUNTRY_REL.items()) for x in (F.lit(k), F.lit(v))]
    )
    city_rows = triples.filter(
        F.col("relation").isin(*CITY_TO_COUNTRY_REL)
    ).withColumn("_country_rel", fam[F.col("relation")])
    mapped = city_rows.join(
        F.broadcast(geo_cities.select(F.col("city").alias("_city"), F.col("country").alias("_geo_country"))),
        F.col("slot_value") == F.col("_city"),
        "left",
    )
    country_fills = triples.filter(
        F.col("relation").isin(*set(CITY_TO_COUNTRY_REL.values()))
    ).select(
        F.col("entity_name").alias("_e"),
        F.col("entity_type").alias("_et"),
        F.col("relation").alias("_cr"),
        F.col("slot_value").alias("_accepted_country"),
    )
    checked = mapped.join(
        country_fills,
        (F.col("entity_name") == F.col("_e"))
        & (F.col("entity_type") == F.col("_et"))
        & (F.col("_country_rel") == F.col("_cr")),
        "left",
    )
    keep = (
        F.col("_geo_country").isNull()
        | F.col("_accepted_country").isNull()
        | (F.col("_geo_country") == F.col("_accepted_country"))
    )
    surviving_cities = (
        checked.groupBy(*triples.columns).agg(F.min(keep.cast("int")).alias("_ok"))
        .filter(F.col("_ok") == 1)
        .drop("_ok")
    )
    return triples.filter(~F.col("relation").isin(*CITY_TO_COUNTRY_REL)).unionByName(
        surviving_cities
    )
