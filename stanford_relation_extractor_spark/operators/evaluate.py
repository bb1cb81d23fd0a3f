"""Evaluation operators (SURVEY.md A10, S10, O5).

* ``pr_score`` — P/R/F1 of guessed triples vs a gold set with
  equivalence classes, the join+count re-expression of
  `stanford-kbp/.../slotfilling/evaluate/GoldResponseSet.java:880-886` /
  `KBPScore.java:21-68`: a guess is correct if it matches the gold
  (query, relation) and its slot falls in a gold equivalence class;
  recall counts distinct gold equivalence classes hit.
* ``nil_padded_output`` — the OfficialOutputWriter's NIL rows
  (`spec/OfficialOutputWriter.java:47-113`): every (query, relation)
  with no surviving fill emits a NIL marker, via a left anti join
  against the full query x relation grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ontology import RELATIONS


def pr_score(guesses: DataFrame, gold: DataFrame) -> DataFrame:
    """One-row DataFrame (n_guessed, n_gold_classes, n_correct, precision, recall, f1).

    ``guesses``: (entity_name, relation, slot_value).
    ``gold``: (entity_name, relation, slot_value, equiv_class) — multiple
    slot surfaces may share an equiv_class (GoldResponseSet semantics).
    """
    # cuts: four counting actions follow — uncut, each replays the full
    # upstream plan of its side (guesses AND gold are usually pipeline
    # tails; measured ~10s build at sf0.01, ~2s with the cuts)
    g = (
        guesses.select("entity_name", "relation", "slot_value")
        .distinct()
        .localCheckpoint(eager=True)
    )
    gold = gold.localCheckpoint(eager=True)
    matches = g.join(gold, ["entity_name", "relation", "slot_value"], "inner")
    n_correct = matches.count()
    n_classes_hit = (
        matches.select("entity_name", "relation", "equiv_class").distinct().count()
    )
    n_guessed = g.count()
    n_gold = gold.select("entity_name", "relation", "equiv_class").distinct().count()
    precision = n_correct / n_guessed if n_guessed else 0.0
    recall = n_classes_hit / n_gold if n_gold else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    spark = guesses.sparkSession
    return spark.createDataFrame(
        [(n_guessed, n_gold, n_correct, round(precision, 6), round(recall, 6), round(f1, 6))],
        "n_guessed long, n_gold_classes long, n_correct long, precision double, recall double, f1 double",
    )


OFFICIAL_SCORE_SCHEMA = (
    "n_answers long, n_responses long, n_correct long, n_redundant long, "
    "n_wrong long, n_inexact long, precision double, recall double, f1 double"
)


def official_score(
    responses: DataFrame,
    gold: DataFrame,
    cardinality: dict[str, str],
) -> DataFrame:
    """The official TAC slot-filling scorer (`evaluate/CustomSFScore.java:137-510`,
    the SFScore2010 clone), re-expressed as joins/windows — full X/R/W
    judgment semantics, not set-level P/R:

    * judgments key on (query, relation, doc, slot); equivalence class 0
      generates a fresh singleton class (``eclass_generator``); duplicate
      keys resolve first-CORRECT-wins, else last-line-wins (the
      keep-correct rule, CustomSFScore.java:228-233);
    * **single-valued slots** score only the FIRST system response
      (responseList.get(0)); NIL responses count nothing;
    * **list-valued slots** score every non-NIL response; a C-judged
      response whose equivalence class was already claimed by an earlier
      response of the same query counts REDUNDANT, not correct
      (the ``distincts`` set, CustomSFScore.java:461-474);
    * unjudged responses default WRONG; X (inexact) and R (redundant)
      count against precision but never as correct (the anti-credit the
      set-level ``pr_score`` cannot express);
    * recall denominator: the reference's "fake recall" over answered
      slots only (single-valued: has-a-correct-answer; list-valued:
      #equivalence classes). Its any-doc switch and its query list for
      true recall are not ported: no run here scores either way;
    * relations missing from ``cardinality`` score as slotType 'error'
      and are excluded (CustomSFScore.java:981-995).

    ``responses``: (query_id, relation, docid, slot_value, resp_order) —
    resp_order is the response-file line order. ``gold``: the
    ``parse_gold_tab`` frame. Returns one row (OFFICIAL_SCORE_SCHEMA).
    """
    spark = responses.sparkSession
    g = gold.select(
        "line_id", "query_id", "relation", "docid", "slot_value", "judgment",
        F.when(
            F.col("equiv_class").isNull() | (F.col("equiv_class") == 0),
            F.concat(F.lit("g"), F.col("line_id")),
        ).otherwise(F.col("equiv_class").cast("string")).alias("eclass"),
    )
    key = ["query_id", "relation", "docid", "slot_value"]
    w_key = Window.partitionBy(*key).orderBy(
        F.col("judgment") != "C",
        F.when(F.col("judgment") == "C", F.col("line_id")).otherwise(-F.col("line_id")),
    )
    jkey = (
        g.withColumn("_rn", F.row_number().over(w_key))
        .filter(F.col("_rn") == 1)
        .select(*key, "judgment", "eclass")
    )
    card = F.broadcast(
        spark.createDataFrame(
            sorted(cardinality.items()), "relation string, card string"
        )
    )
    resp = responses.select(
        "query_id", "relation", "docid", "slot_value", "resp_order"
    ).join(card, "relation")

    # single-valued: first response only
    w_first = Window.partitionBy("query_id", "relation").orderBy("resp_order")
    sv = (
        resp.filter(F.col("card") == "SINGLE")
        .withColumn("_rn", F.row_number().over(w_first))
        .filter((F.col("_rn") == 1) & (F.col("docid") != "NIL"))
        .join(jkey.withColumnRenamed("judgment", "_j"), key, "left")
        .select(F.coalesce(F.col("_j"), F.lit("W")).alias("judgment"))
    )
    # list-valued: every non-NIL response; repeated equivalence class -> R
    lv = (
        resp.filter((F.col("card") == "LIST") & (F.col("docid") != "NIL"))
        .join(jkey.withColumnRenamed("judgment", "_j"), key, "left")
        .withColumn("judgment", F.coalesce(F.col("_j"), F.lit("W")))
    )
    w_ec = (
        Window.partitionBy("query_id", "relation", "eclass")
        .orderBy("resp_order")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_c = F.sum((F.col("judgment") == "C").cast("int")).over(w_ec)
    lv = lv.select(
        F.when((F.col("judgment") == "C") & (cum_c > 1), F.lit("R"))
        .otherwise(F.col("judgment"))
        .alias("judgment")
    )
    jc = {
        r["judgment"]: r["n"]
        for r in sv.unionByName(lv).groupBy("judgment").agg(F.count("*").alias("n")).collect()
    }
    n_correct = jc.get("C", 0)
    n_redundant = jc.get("R", 0)
    n_wrong = jc.get("W", 0)
    n_inexact = jc.get("X", 0)
    n_responses = sum(jc.values())

    # fake recall: only slots the system actually answered
    slots = resp.select("query_id", "relation").distinct()
    in_scope = g.filter(F.col("judgment") == "C").join(
        slots, ["query_id", "relation"], "left_semi"
    )
    sv_ans = (
        in_scope.join(card, "relation")
        .filter(F.col("card") == "SINGLE")
        .select("query_id", "relation")
        .distinct()
        .count()
    )
    l_ans = (
        in_scope.join(card, "relation")
        .filter(F.col("card") == "LIST")
        .select("query_id", "relation", "eclass")
        .distinct()
        .count()
    )
    n_answers = sv_ans + l_ans
    precision = n_correct / n_responses if n_responses else 0.0
    recall = n_correct / n_answers if n_answers else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return spark.createDataFrame(
        [(
            n_answers, n_responses, n_correct, n_redundant, n_wrong, n_inexact,
            round(precision, 6), round(recall, 6), round(f1, 6),
        )],
        OFFICIAL_SCORE_SCHEMA,
    )


def perturbed_response_set(
    triples: DataFrame, cardinality: dict[str, str]
) -> tuple[DataFrame, DataFrame]:
    """(responses, gold) built FROM a triple set so ``official_score``
    exercises every C/X/R/W branch on the engine's OWN pipeline output
    (the end-to-end loop `KBPEvaluator.java:310-340` runs: system fills
    -> official output -> scorer) — deterministic, no RNG, mirrored
    exactly by the DuckDB oracle (oracle_rules.official_score_pipeline_sql).

    Spec (key_len = len(entity)+len(relation)+len(slot)):

    * query id IS the entity name (the synthetic corpus has no TAC query
      file; the real-XML id mapping is exercised by `real_queries_2013`);
      docid = 'D_' || key_len % 10.
    * gold: every distinct triple judged C; equivalence class =
      dense_rank of slot within (query, relation); line_id = global
      row_number by (query, relation, slot). Triples with key_len % 3
      == 0 also plant an X-judged gold row for slot || ' Jr' in the
      SAME equivalence class (line_id + 100000).
    * responses (resp_order = gold line_id):
      key_len % 6 == 0 -> answer slot || ' Jr'   (judged X),
      elif key_len % 7 == 0 -> slot || ' ZZZ'    (unjudged -> W),
      else the true slot                          (judged C);
      LIST-relation triples with key_len % 5 == 0 answer TWICE
      (resp_order + 500000) — the second C lands REDUNDANT.

    Global windows are fine here: the response set is the final triple
    table (thousands of rows at evaluation scale, like the reference's
    in-memory response list), not the corpus.
    """
    # lineage cut: the distinct key table (tiny — final-fill-sized) is
    # re-read by the gold branches, both response branches and the
    # scorer's windows; uncut, the upstream pipeline plan replays per
    # branch (measured ~15s build at sf0.01, ~1.5s with the cut)
    t = (
        triples.select("entity_name", "relation", "slot_value")
        .distinct()
        .localCheckpoint(eager=True)
    )
    key_len = (
        F.length("entity_name") + F.length("relation") + F.length("slot_value")
    ).alias("_kl")
    t = t.select(
        F.col("entity_name").alias("query_id"), "relation", "slot_value", key_len
    ).withColumn("docid", F.concat(F.lit("D_"), (F.col("_kl") % 10).cast("string")))
    w_line = Window.orderBy("query_id", "relation", "slot_value")
    w_ec = Window.partitionBy("query_id", "relation").orderBy("slot_value")
    base = t.withColumn("line_id", F.row_number().over(w_line)).withColumn(
        "equiv_class", F.dense_rank().over(w_ec)
    )
    gold_c = base.select(
        "line_id", "query_id", "relation", "docid", "slot_value",
        F.lit("C").alias("judgment"), "equiv_class", "_kl",
    )
    gold_x = gold_c.filter(F.col("_kl") % 3 == 0).select(
        (F.col("line_id") + 100000).alias("line_id"),
        "query_id", "relation", "docid",
        F.concat(F.col("slot_value"), F.lit(" Jr")).alias("slot_value"),
        F.lit("X").alias("judgment"), "equiv_class", "_kl",
    )
    gold = gold_c.unionByName(gold_x).drop("_kl")

    answer = (
        F.when(F.col("_kl") % 6 == 0, F.concat(F.col("slot_value"), F.lit(" Jr")))
        .when(F.col("_kl") % 7 == 0, F.concat(F.col("slot_value"), F.lit(" ZZZ")))
        .otherwise(F.col("slot_value"))
    )
    resp1 = base.select(
        "query_id", "relation", "docid", answer.alias("slot_value"),
        F.col("line_id").alias("resp_order"), "_kl",
    )
    card = F.broadcast(
        triples.sparkSession.createDataFrame(
            sorted(cardinality.items()), "relation string, card string"
        )
    )
    dup = (
        resp1.join(card, "relation")
        .filter((F.col("card") == "LIST") & (F.col("_kl") % 5 == 0))
        .select(
            "query_id", "relation", "docid", "slot_value",
            (F.col("resp_order") + 500000).alias("resp_order"), "_kl",
        )
    )
    responses = resp1.unionByName(dup).drop("_kl")
    return responses, gold


def nil_padded_output(triples: DataFrame, queries: DataFrame, spark: SparkSession) -> DataFrame:
    """Sorted official output with NIL padding (S10).

    ``queries``: (query_id, entity_name, entity_type). Output one row per
    (query, relation in the entity's ontology half); missing fills carry
    slot_value = 'NIL'.
    """
    rels = spark.createDataFrame(
        [(r.name, r.entity_type) for r in RELATIONS], "relation string, rel_entity_type string"
    )
    grid = queries.join(
        F.broadcast(rels), queries["entity_type"] == rels["rel_entity_type"]
    ).select("query_id", "entity_name", "entity_type", "relation")
    filled = grid.join(
        triples.select("entity_name", "entity_type", "relation", "slot_value", "score"),
        ["entity_name", "entity_type", "relation"],
        "left",
    )
    return filled.select(
        "query_id",
        "entity_name",
        "relation",
        F.coalesce(F.col("slot_value"), F.lit("NIL")).alias("slot_value"),
        F.coalesce(F.col("score"), F.lit(0.0)).alias("score"),
    ).orderBy("query_id", "relation", F.desc("score"), "slot_value")
