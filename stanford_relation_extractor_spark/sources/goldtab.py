"""TAC-KBP assessment-file ("gold") parsing — the reference's official
evaluation input (`evaluate/GoldResponseSet.java:396-423` grok2013;
data shipped at `edu/stanford/nlp/kbp/evaluation_results/2013.dir/*`).

2013 line format: 12 tab-separated fields —
``[0]`` judgment line id, ``[1]`` ``QUERYID:ns:relation`` (query id is
everything before the FIRST colon), ``[2]`` doc id, ``[3]`` slot value,
``[4..9]`` offset spans (unused for set-level scoring), ``[10]``
judgment letter (C correct / X inexact / R redundant / W wrong;
I = ignore, the line is dropped), ``[11]`` equivalence-class id.

Everything is declarative column splitting (no Python row loop) — a
real assessment file is tiny next to the corpus, but the same parse
works on millions of crowd judgments.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# The reference SHIPS the real TAC evaluation data (public TAC content):
# query XMLs under evaluation_queries/ and assessment .tab files under
# evaluation_results/. These are the one ground-truth source authored by
# neither this engine nor its oracle.
REFERENCE_KBP_DIR = "/root/reference/stanford-kbp/edu/stanford/nlp/kbp"
GOLD_2013_TAB = f"{REFERENCE_KBP_DIR}/evaluation_results/2013.tab"
GOLD_2009_TAB = f"{REFERENCE_KBP_DIR}/evaluation_results/2009.tab"
GOLD_2011_DIR = f"{REFERENCE_KBP_DIR}/evaluation_results/2011.dir"
GOLD_2012_DIR = f"{REFERENCE_KBP_DIR}/evaluation_results/2012.dir"
SLOTS_2013 = f"{REFERENCE_KBP_DIR}/evaluation_results/2013.slots"
QUERIES_2013_XML = f"{REFERENCE_KBP_DIR}/evaluation_queries/2013.xml"

# Canonical (RelationType.toString) -> KBP-2013 official relation name,
# from `spec/OfficialOutputWriter.java:182-193` (KBP2013 case; names not
# listed map to themselves). per:employee_of and per:member_of COLLAPSE
# onto one official 2013 slot.
OFFICIAL_2013 = {
    "per:employee_of": "per:employee_or_member_of",
    "per:member_of": "per:employee_or_member_of",
    "per:stateorprovinces_of_residence": "per:statesorprovinces_of_residence",
    "org:political/religious_affiliation": "org:political_religious_affiliation",
    "org:top_members/employees": "org:top_members_employees",
    "org:number_of_employees/members": "org:number_of_employees_members",
    "org:founded": "org:date_founded",
    "org:dissolved": "org:date_dissolved",
}

# CustomSFScore.java:38-41 judgment codes (pre-2011 .tab files carry the
# integer; 2013 carries the letter)
JUDGMENT_CODES = {1: "C", -1: "W", 2: "R", 3: "X"}


def official_cardinality_2013() -> dict[str, str]:
    """official-2013 relation name -> SINGLE | LIST, derived from the
    ontology's canonical cardinalities through the OFFICIAL_2013 rename
    (CustomSFScore.slotType semantics: unknown relations score as
    'error' and are excluded — callers drop keys not in this map)."""
    from ..ontology import RELATIONS

    out: dict[str, str] = {}
    for r in RELATIONS:
        out[OFFICIAL_2013.get(r.name, r.name)] = r.cardinality
    return out


def parse_gold_tab(lines: DataFrame) -> DataFrame:
    """(line_id, query_id, relation, docid, slot_value, judgment,
    equiv_class) from a one-string-column DataFrame of 2013.tab lines
    (``spark.read.text`` shape). Lines without exactly 12 fields and
    'I'-judged lines are dropped, mirroring grok2013's guard."""
    f = F.split(F.col("value"), "\t")
    qrel = F.element_at(f, 2)
    split2 = lines.filter(F.size(f) == 12).select(
        F.element_at(f, 1).cast("int").alias("line_id"),
        qrel.alias("_qrel"),
        F.trim(F.element_at(f, 3)).alias("docid"),
        F.trim(F.element_at(f, 4)).alias("slot_value"),
        F.element_at(f, 11).alias("judgment"),
        F.element_at(f, 12).cast("int").alias("equiv_class"),
    )
    # query id / relation / docid / slot value are .trim()ed exactly as
    # grok2013 does — real assessment files carry stray whitespace
    out = split2.select(
        "line_id",
        F.trim(F.substring_index(F.col("_qrel"), ":", 1)).alias("query_id"),
        # relation = everything after the FIRST colon ("ns:relation")
        F.trim(F.expr("substring(_qrel, instr(_qrel, ':') + 1)")).alias("relation"),
        "docid",
        "slot_value",
        "judgment",
        "equiv_class",
    )
    return out.filter(F.col("judgment") != "I")


def parse_gold_tab_2009(lines: DataFrame) -> DataFrame:
    """(line_id, query_id, relation, docid, slot_value, judgment,
    equiv_class) from 2009/2010-format assessment lines —
    `GoldResponseSet.grokBefore2011` field layout (11 tab fields:
    [0] line id, [1] query id, [3] relation, [4] doc id, [8] slot
    value, [9] equivalence class, [10] integer judgment). The integer
    judgment maps to the 2013 letters via CustomSFScore's codes so
    downstream scoring is format-agnostic; unknown codes drop."""
    f = F.split(F.col("value"), "\t")
    judgment = F.element_at(f, 11).cast("int")
    letter = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in JUDGMENT_CODES.items() for x in kv]
        ),
        judgment,
    )
    return (
        lines.filter(F.size(f) == 11)
        .select(
            F.element_at(f, 1).cast("int").alias("line_id"),
            F.trim(F.element_at(f, 2)).alias("query_id"),
            F.trim(F.element_at(f, 4)).alias("relation"),
            F.trim(F.element_at(f, 5)).alias("docid"),
            F.trim(F.element_at(f, 9)).alias("slot_value"),
            letter.alias("judgment"),
            F.element_at(f, 10).cast("int").alias("equiv_class"),
        )
        .filter(F.col("judgment").isNotNull())
    )


def _judgment_letter(code: Column) -> Column:
    return F.element_at(
        F.create_map(*[F.lit(x) for kv in JUDGMENT_CODES.items() for x in kv]),
        code,
    )


def parse_gold_2011(lines: DataFrame) -> DataFrame:
    """(line_id, query_id, relation, docid, slot_value, judgment,
    equiv_class) from 2011-format per-query assessment files —
    `GoldResponseSet.grok2011`: WHITESPACE-separated fields
    ``[0]`` line id, ``[1]`` ``QID:ns:rel`` (3 colon parts), ``[2]``
    doc id, ``[3]`` integer judgment, ``[4]`` equivalence class,
    ``[5..]`` the slot value re-joined with single spaces (the Java
    split/join collapses internal whitespace runs; its limit-11 tail
    preservation is provably a no-op on every shipped 2011 line —
    verified exhaustively — so both engines use the unlimited split)."""
    f = F.split(F.col("value"), r"\s+")
    qparts = F.split(F.element_at(f, 2), ":")
    return (
        lines.filter(F.size(f) >= 6)
        .select(
            F.element_at(f, 1).cast("int").alias("line_id"),
            F.element_at(qparts, 1).alias("query_id"),
            F.concat_ws(":", F.element_at(qparts, 2), F.element_at(qparts, 3)).alias(
                "relation"
            ),
            F.element_at(f, 3).alias("docid"),
            F.array_join(F.slice(f, F.lit(6), F.size(f)), " ").alias("slot_value"),
            _judgment_letter(F.element_at(f, 4).cast("int")).alias("judgment"),
            F.element_at(f, 5).cast("int").alias("equiv_class"),
        )
        .filter(F.col("judgment").isNotNull())
    )


def parse_gold_2012(lines: DataFrame) -> DataFrame:
    """2012-format per-query assessment files —
    `GoldResponseSet.grok2012`: exactly 10 TAB fields, ``[0]`` line id,
    ``[1]`` ``QID:ns:rel``, ``[2]`` doc id, ``[3]`` integer judgment,
    ``[4]`` equivalence class, ``[5]`` slot value (UNtrimmed, exactly
    as the Java reader leaves it)."""
    f = F.split(F.col("value"), "\t")
    qparts = F.split(F.element_at(f, 2), ":")
    return (
        lines.filter(F.size(f) == 10)
        .select(
            F.element_at(f, 1).cast("int").alias("line_id"),
            F.element_at(qparts, 1).alias("query_id"),
            F.concat_ws(":", F.element_at(qparts, 2), F.element_at(qparts, 3)).alias(
                "relation"
            ),
            F.element_at(f, 3).alias("docid"),
            F.element_at(f, 6).alias("slot_value"),
            _judgment_letter(F.element_at(f, 4).cast("int")).alias("judgment"),
            F.element_at(f, 5).cast("int").alias("equiv_class"),
        )
        .filter(F.col("judgment").isNotNull())
    )


def read_slots_file(spark, path: str = SLOTS_2013) -> DataFrame:
    """(query_id, relation) from an official ``.slots`` scope file
    (`KBPEvaluator.java:335` hands it to the official SFScore2013
    invocation): one ``QID:ns:relation`` per line — the universe of
    assessed slots."""
    f = F.col("value")
    return spark.read.text(path).select(
        F.substring_index(f, ":", 1).alias("query_id"),
        F.expr("substring(value, instr(value, ':') + 1)").alias("relation"),
    )


def read_gold_tab(spark, path: str = GOLD_2013_TAB, year: int = 2013) -> DataFrame:
    """Parse a real on-disk assessment source: 2013 12-field letter
    .tab, 2009/2010 11-field integer .tab, or the 2011/2012 per-query
    ``.dir`` layouts (``path`` is the directory; ``spark.read.text``
    scans every per-query file in it — `GoldResponseSet.java:441-449`
    fetchFiles loop)."""
    lines = spark.read.text(path)
    if year >= 2013:
        return parse_gold_tab(lines)
    if year == 2012:
        return parse_gold_2012(lines)
    if year == 2011:
        return parse_gold_2011(lines)
    return parse_gold_tab_2009(lines)


def format_gold_tab(triples: DataFrame) -> DataFrame:
    """Inverse of ``parse_gold_tab`` for fixture generation: format
    (entity_name, relation, slot_value) triples as C-judged 2013.tab
    lines (query id = entity name; spans are placeholders; equivalence
    class = dense rank of the slot within its (entity, relation))."""
    w = Window.partitionBy("entity_name", "relation").orderBy("slot_value")
    w_id = Window.orderBy("entity_name", "relation", "slot_value")
    rows = triples.select("entity_name", "relation", "slot_value").distinct()
    return rows.select(
        F.concat_ws(
            "\t",
            F.row_number().over(w_id).cast("string"),
            F.concat_ws(":", F.col("entity_name"), F.col("relation")),
            F.concat(F.lit("DOC_"), F.row_number().over(w_id).cast("string")),
            F.col("slot_value"),
            F.lit("0-0"), F.lit("0-0"), F.lit("0-0"),
            F.lit("C"), F.lit("C"), F.lit("C"),
            F.lit("C"),
            F.dense_rank().over(w).cast("string"),
        ).alias("value")
    )
