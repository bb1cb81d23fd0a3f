"""Driver-facing query callables for the training-data pipeline ops.

Each function takes (spark, sf_dir) and returns a DataFrame whose
column names/values match the DuckDB oracle in `datapipe/oracles.py`.
Planted-duplicate corpora are derived deterministically from the
`documents` table (same derivation on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table
from . import dedup, events, multimodal, similarity, textstats


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + exact copies of every 7th doc (ids offset by 1e6)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return d.unionByName(dups)


def neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + suffix-perturbed copies of every 5th doc."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dups = (
        d.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(1000000))
        .withColumn("text", F.concat(F.col("text"), F.lit(" zz zz zz")))
    )
    return d.unionByName(dups)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(dup_corpus(spark, sf_dir))


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_near_dups(neardup_corpus(spark, sf_dir))


def q_prefix_block_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.prefix_block_jaccard(neardup_corpus(spark, sf_dir))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_signatures(_docs(spark, sf_dir))


def _queries_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first five embeddings, as (query_id, query_vec)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.knn_bruteforce(emb, _queries_vec(spark, sf_dir))


def q_lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    # a single band of all 8 bits: candidates share the whole signature
    return similarity.lsh_knn_banded(
        emb, _queries_vec(spark, sf_dir), n_bits=8, band_bits=8
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(_docs(spark, sf_dir))


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_scores(_docs(spark, sf_dir))


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprints(_docs(spark, sf_dir))


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.language_id(_docs(spark, sf_dir))


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events.tumbling_counts(read_table(spark, sf_dir, "events"))


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events.sessionize(read_table(spark, sf_dir, "events"))


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.byte_features(multimodal.attach_payload(_docs(spark, sf_dir)))


def q_lsh_knn_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.lsh_knn_banded(emb, _queries_vec(spark, sf_dir))


def q_simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_dups(neardup_corpus(spark, sf_dir))
