"""The reference's REAL world-knowledge gazetteers as dimension tables.

The reference ships its geo / name gazetteers as public data files under
`edu/stanford/nlp/kbp/` and consumes them in
`slotfilling/evaluate/WorldKnowledgePostProcessor.java:119-227` (geo
maps) and `entitylinking/EntityLinker.java:47-54,135-161` (first-name
nickname groups).  This module parses the SAME files — external data
authored by neither this engine nor its oracle (the same
oracle-decoupling leg as sources/goldtab.py's real TAC assessments) —
into Spark dimension tables:

* ``code2country`` — `kbp_code2country.tab` (2 cols): country code ->
  country; codes upper-cased exactly as the Java reader does.
* ``code2region`` — `kbp_code2region.tab` (3 cols): (country code,
  region code) -> region.
* ``cities_gazetteer`` — `kbp_cities.tab` (4 cols: city, region code,
  country code, population) LEFT-joined through code2region and
  code2country (a city whose region code resolves to no region keeps a
  NULL region, mirroring the reference's `citiesWithoutRegions` branch).
* ``city_primary_region`` — per-city argmax-population row (the
  reference's city2PrimaryRegion / city2population maps).
* ``alt_country_names`` — `kbp_alternate_country_names.tab` (variable
  width): alternate name -> canonical country, with the reference's
  length>4-lowercases-the-key rule (short names stay CASE-SENSITIVE)
  and the countries-set membership guard.
* ``name_nicknames`` — `kbp_male_names.txt` / `kbp_female_names.txt`
  (EntityLinker.readNicknames): every comma/tab-separated name on a
  line maps to the line's FIRST name (the canonical given name).
* ``city_nicknames`` — `citynicknames.tab` (4 cols): wiki title,
  "City, State" gloss, city, nickname.

All readers are declarative ``spark.read.text`` + column splitting (no
Python row loops); every table is dimension-sized and broadcast into
its consuming join.  DuckDB oracle twins live in
``sources.gazetteer_oracle``.

DIVERGENCE (documented): where the reference resolves duplicate keys by
HashMap insertion order (first- or last-file-line wins), the DataFrame
form keeps DISTINCT rows and downstream lookups resolve ties by a
deterministic ORDER BY — identical results except on exact duplicate
keys with conflicting values, which the shipped files do not contain
for the keys the engine consults.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .goldtab import REFERENCE_KBP_DIR

CITIES_TAB = f"{REFERENCE_KBP_DIR}/kbp_cities.tab"
CODE2COUNTRY_TAB = f"{REFERENCE_KBP_DIR}/kbp_code2country.tab"
CODE2REGION_TAB = f"{REFERENCE_KBP_DIR}/kbp_code2region.tab"
ALT_COUNTRY_TAB = f"{REFERENCE_KBP_DIR}/kbp_alternate_country_names.tab"
MALE_NAMES_TXT = f"{REFERENCE_KBP_DIR}/kbp_male_names.txt"
FEMALE_NAMES_TXT = f"{REFERENCE_KBP_DIR}/kbp_female_names.txt"
CITY_NICKNAMES_TAB = f"{REFERENCE_KBP_DIR}/citynicknames.tab"


def _split() -> F.Column:
    return F.split(F.col("value"), "\t")


def code2country(spark: SparkSession, path: str = CODE2COUNTRY_TAB) -> DataFrame:
    """(country_code, country) — WorldKnowledgePostProcessor.java:129-136
    (codes upper-cased; the country string is field 2 verbatim)."""
    f = _split()
    return (
        spark.read.text(path)
        .filter(F.size(f) >= 2)
        .select(
            F.upper(F.element_at(f, 1)).alias("country_code"),
            F.element_at(f, 2).alias("country"),
        )
    )


def code2region(spark: SparkSession, path: str = CODE2REGION_TAB) -> DataFrame:
    """(country_code, region_code, region) —
    WorldKnowledgePostProcessor.java:138-144 (both codes upper-cased)."""
    f = _split()
    return (
        spark.read.text(path)
        .filter(F.size(f) >= 3)
        .select(
            F.upper(F.element_at(f, 1)).alias("country_code"),
            F.upper(F.element_at(f, 2)).alias("region_code"),
            F.element_at(f, 3).alias("region"),
        )
    )


def cities_raw(spark: SparkSession, path: str = CITIES_TAB) -> DataFrame:
    """(city, region_code, country_code, population) —
    kbp_cities.tab verbatim (WorldKnowledgePostProcessor.java:146-177)."""
    f = _split()
    return (
        spark.read.text(path)
        .filter(F.size(f) >= 4)
        .select(
            F.element_at(f, 1).alias("city"),
            F.element_at(f, 2).alias("region_code"),
            F.element_at(f, 3).alias("country_code"),
            F.element_at(f, 4).cast("int").alias("population"),
        )
    )


def cities_gazetteer(spark: SparkSession) -> DataFrame:
    """The resolved city dimension: every kbp_cities.tab row with its
    region (via code2region on upper-cased codes) and country (via
    code2country) — NULL region/country where the code tables have no
    entry, exactly the reference's warn-and-continue branches."""
    cities = cities_raw(spark).withColumns(
        {"_cc": F.upper("country_code"), "_rc": F.upper("region_code")}
    )
    regions = F.broadcast(
        code2region(spark).select(
            F.col("country_code").alias("_cc"),
            F.col("region_code").alias("_rc"),
            "region",
        )
    )
    countries = F.broadcast(
        code2country(spark).select(F.col("country_code").alias("_cc"), "country")
    )
    return (
        cities.join(regions, ["_cc", "_rc"], "left")
        .join(countries, "_cc", "left")
        .select(
            "city", "region_code", "country_code", "population", "region", "country"
        )
    )


def city_primary_region(resolved: DataFrame) -> DataFrame:
    """(city, population, primary_region, primary_country): the
    reference's city2PrimaryRegion / city2population — the region of the
    city's LARGEST row (WorldKnowledgePostProcessor.java:173-176).
    Exact-population ties resolve by (region, country, region_code,
    country_code) ascending NULLS LAST instead of first-file-line — a
    deterministic, cross-engine tie-break (divergence note above)."""
    w = Window.partitionBy("city").orderBy(
        F.col("population").desc(),
        F.col("region").asc_nulls_last(),
        F.col("country").asc_nulls_last(),
        F.col("region_code").asc(),
        F.col("country_code").asc(),
    )
    return (
        resolved.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "city",
            "population",
            F.col("region").alias("primary_region"),
            F.col("country").alias("primary_country"),
        )
    )


def alt_country_names(spark: SparkSession, path: str = ALT_COUNTRY_TAB) -> DataFrame:
    """(alias_key, country): alternate country names
    (WorldKnowledgePostProcessor.java:182-193).  Field 1 is the
    canonical country (kept only when in the countries set); every
    further field is an alias whose lookup key is lower-cased-and-
    trimmed when LONGER than 4 chars but kept case-sensitive (trimmed)
    at <= 4 chars — the reference's acronym guard ('US' must not
    collide with 'us')."""
    f = _split()
    lines = spark.read.text(path).filter(F.size(f) >= 2)
    exploded = lines.select(
        F.element_at(f, 1).alias("country"),
        F.explode(F.slice(f, 2, 1_000_000)).alias("alias_raw"),
    )
    keyed = exploded.select(
        "country",
        F.when(
            F.length("alias_raw") > 4, F.lower(F.trim("alias_raw"))
        ).otherwise(F.trim("alias_raw")).alias("alias_key"),
    )
    valid = F.broadcast(
        code2country(spark).select(F.col("country").alias("_country")).distinct()
    )
    return (
        keyed.join(valid, keyed["country"] == F.col("_country"), "left_semi")
        .select("alias_key", "country")
        .distinct()
    )


def name_nicknames(spark: SparkSession, path: str) -> DataFrame:
    """(name, canonical): EntityLinker.readNicknames
    (EntityLinker.java:135-161) — a line is tab-separated chunks of
    comma-separated names; EVERY name on the line maps (lower-cased) to
    the line's first name.  Comment/blank lines are not special-cased
    (the reference reader has no such guard); they produce self-mapped
    junk keys no real lookup hits."""
    f = _split()
    lines = spark.read.text(path).filter(F.length("value") > 0)
    return (
        lines.select(
            F.element_at(F.split(F.element_at(f, 1), ","), 1).alias("canonical"),
            F.explode(
                F.flatten(F.transform(f, lambda c: F.split(c, ",")))
            ).alias("_n"),
        )
        .select(F.lower("_n").alias("name"), "canonical")
        .distinct()
    )


def name_nicknames_all(spark: SparkSession) -> DataFrame:
    """(name, canonical, source): both gendered first-name files,
    tagged — the frame the driver cross-checks."""
    return name_nicknames(spark, MALE_NAMES_TXT).withColumn(
        "source", F.lit("male")
    ).unionByName(
        name_nicknames(spark, FEMALE_NAMES_TXT).withColumn("source", F.lit("female"))
    )


def city_nicknames(spark: SparkSession, path: str = CITY_NICKNAMES_TAB) -> DataFrame:
    """(wiki_title, gloss, city, nickname): citynicknames.tab — the city
    slogan/nickname table (4 tab fields)."""
    f = _split()
    return (
        spark.read.text(path)
        .filter(F.size(f) >= 4)
        .select(
            F.element_at(f, 1).alias("wiki_title"),
            F.element_at(f, 2).alias("gloss"),
            F.element_at(f, 3).alias("city"),
            F.element_at(f, 4).alias("nickname"),
        )
    )
