"""DuckDB oracle SQL over the reference's REAL gazetteer files.

Twin of ``sources.gazetteers`` in the ``sources.realgold_oracle`` style:
independent ``read_csv`` SQL over the shipped public data files
(`edu/stanford/nlp/kbp/kbp_*.tab` etc.), authored against the Java
readers (`WorldKnowledgePostProcessor.java:119-227`,
`EntityLinker.java:135-161`) — NOT against the Spark implementations —
so a parse drift in either engine fails the driver's cross-check.
"""

from __future__ import annotations

from .gazetteers import (
    ALT_COUNTRY_TAB,
    CITIES_TAB,
    CITY_NICKNAMES_TAB,
    CODE2COUNTRY_TAB,
    CODE2REGION_TAB,
    FEMALE_NAMES_TXT,
    MALE_NAMES_TXT,
)


def _read_cols(path: str, n: int) -> str:
    cols = ", ".join(f"'c{i}': 'VARCHAR'" for i in range(1, n + 1))
    return (
        f"read_csv('{path}', delim='\t', header=false, quote='', escape='', "
        f"columns={{{cols}}})"
    )


def _read_lines(path: str) -> str:
    return (
        f"read_csv('{path}', delim=chr(1), header=false, quote='', escape='', "
        f"columns={{'line': 'VARCHAR'}})"
    )


# shared CTE block: the resolved city dimension (cities LEFT-joined
# through code2region and code2country on upper-cased codes)
_RESOLVED_CTES = f"""
code2country AS (
  SELECT upper(c1) AS country_code, c2 AS country FROM {_read_cols(CODE2COUNTRY_TAB, 2)}
),
code2region AS (
  SELECT upper(c1) AS country_code, upper(c2) AS region_code, c3 AS region
  FROM {_read_cols(CODE2REGION_TAB, 3)}
),
resolved AS (
  SELECT c.c1 AS city, c.c2 AS region_code, c.c3 AS country_code,
         CAST(c.c4 AS INTEGER) AS population, r.region AS region, y.country AS country
  FROM {_read_cols(CITIES_TAB, 4)} c
  LEFT JOIN code2region r
    ON upper(c.c3) = r.country_code AND upper(c.c2) = r.region_code
  LEFT JOIN code2country y ON upper(c.c3) = y.country_code
)
"""


def cities_gazetteer_sql() -> str:
    return f"""
WITH {_RESOLVED_CTES}
SELECT city, region_code, country_code, population, region, country FROM resolved
"""


def city_primary_region_sql() -> str:
    return f"""
WITH {_RESOLVED_CTES}
SELECT city, population, region AS primary_region, country AS primary_country
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY city
    ORDER BY population DESC, region ASC NULLS LAST, country ASC NULLS LAST,
             region_code ASC, country_code ASC) AS rn
  FROM resolved)
WHERE rn = 1
"""


def country_aliases_sql() -> str:
    """Alternate country names: field 1 = canonical (must be a known
    country), fields 2.. = aliases; keys lower-cased-and-trimmed above
    4 chars, case-sensitive (trimmed) at <= 4."""
    return f"""
WITH code2country AS (
  SELECT upper(c1) AS country_code, c2 AS country FROM {_read_cols(CODE2COUNTRY_TAB, 2)}
),
exploded AS (
  SELECT string_split(line, chr(9))[1] AS country,
         unnest(string_split(line, chr(9))[2:]) AS alias_raw
  FROM {_read_lines(ALT_COUNTRY_TAB)}
  WHERE len(string_split(line, chr(9))) >= 2
)
SELECT DISTINCT
  CASE WHEN length(alias_raw) > 4 THEN lower(trim(alias_raw))
       ELSE trim(alias_raw) END AS alias_key,
  country
FROM exploded
WHERE country IN (SELECT country FROM code2country)
"""


def name_nicknames_sql() -> str:
    """Male + female first-name nickname groups: every comma/tab name
    on a line maps (lower-cased) to the line's first name."""

    def one(path: str, tag: str) -> str:
        return f"""
SELECT DISTINCT lower(n) AS name,
       string_split(string_split(line, chr(9))[1], ',')[1] AS canonical,
       '{tag}' AS source
FROM (
  SELECT line,
         unnest(flatten(list_transform(string_split(line, chr(9)),
                                       x -> string_split(x, ',')))) AS n
  FROM {_read_lines(path)}
  WHERE length(line) > 0)
"""

    return f"{one(MALE_NAMES_TXT, 'male')} UNION {one(FEMALE_NAMES_TXT, 'female')}"


def city_nicknames_sql() -> str:
    # coalesce: DuckDB read_csv yields NULL for an empty field where
    # Spark's split yields '' (the file has genuinely-empty city cells)
    return f"""
SELECT coalesce(c1, '') AS wiki_title, coalesce(c2, '') AS gloss,
       coalesce(c3, '') AS city, coalesce(c4, '') AS nickname
FROM {_read_cols(CITY_NICKNAMES_TAB, 4)}
"""


def geo_consistency_real_sql() -> str:
    """The constructed consistency probe over the real gazetteer (twin
    of ``operators.worldknowledge.real_geo_consistency``): for every
    country, its alphabetically-first city paired (a) with that country
    — consistent — and (b) with the NEXT country in name order — a
    deliberate mismatch unless the city genuinely also lies there.  The
    stated country value routes through an alternate name (max >4-char
    alias) where one exists, so the check must run canonicalizeCountry
    (WorldKnowledgePostProcessor.java:288-295) before the
    city->region->country membership test (consistentCityCountry,
    :326-335)."""
    return f"""
WITH {_RESOLVED_CTES},
g AS (SELECT * FROM resolved WHERE region IS NOT NULL AND country IS NOT NULL),
city2region AS (SELECT DISTINCT city, region FROM g),
region2country AS (SELECT DISTINCT region, country FROM g),
ccp AS (
  SELECT DISTINCT c.city, r.country
  FROM city2region c JOIN region2country r USING (region)
),
first_city AS (SELECT country, min(city) AS city0 FROM g GROUP BY country),
paired AS (
  SELECT country, city0,
         lead(city0) OVER (ORDER BY country) AS shifted_city
  FROM first_city
),
aliases AS (
  SELECT DISTINCT
    CASE WHEN length(alias_raw) > 4 THEN lower(trim(alias_raw))
         ELSE trim(alias_raw) END AS alias_key,
    country
  FROM (
    SELECT string_split(line, chr(9))[1] AS country,
           unnest(string_split(line, chr(9))[2:]) AS alias_raw
    FROM {_read_lines(ALT_COUNTRY_TAB)}
    WHERE len(string_split(line, chr(9))) >= 2)
  WHERE country IN (SELECT country FROM code2country)
),
-- the reference's alternateName2country is a single-valued map; ties
-- (one alias shipped under two countries) resolve to min(country)
alias_map AS (
  SELECT alias_key, min(country) AS country FROM aliases GROUP BY alias_key
),
alias_pick AS (
  SELECT country, max(alias_key) AS alias FROM aliases
  WHERE length(alias_key) > 4 GROUP BY country
),
fills AS (
  SELECT p.country, coalesce(a.alias, p.country) AS stated, p.city0, p.shifted_city
  FROM paired p LEFT JOIN alias_pick a USING (country)
),
cand AS (
  SELECT country, stated, city0 AS city FROM fills
  UNION ALL
  SELECT country, stated, shifted_city AS city FROM fills
  WHERE shifted_city IS NOT NULL
),
canon AS (
  SELECT c.country AS true_country, c.stated, c.city,
         coalesce(
           CASE WHEN lower(trim(c.stated)) IN (SELECT country FROM code2country)
                THEN lower(trim(c.stated)) END,
           CASE WHEN length(c.stated) > 4 THEN a_long.country END,
           CASE WHEN length(c.stated) <= 4 THEN a_short.country END,
           code.country,
           lower(trim(c.stated))) AS resolved_country
  FROM cand c
  LEFT JOIN alias_map a_long
    ON length(c.stated) > 4 AND a_long.alias_key = lower(trim(c.stated))
  LEFT JOIN alias_map a_short
    ON length(c.stated) <= 4 AND a_short.alias_key = trim(c.stated)
  LEFT JOIN code2country code ON code.country_code = trim(c.stated)
)
SELECT 'Q_' || true_country AS entity,
       canon.city AS city,
       stated AS stated_country,
       resolved_country,
       (ccp.country IS NOT NULL) AS consistent
FROM canon
LEFT JOIN ccp ON ccp.city = canon.city AND ccp.country = canon.resolved_country
"""
