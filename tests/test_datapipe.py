"""Training-data pipeline ops: dedup, similarity, text stats, events."""

from __future__ import annotations


from conftest import SF_DIR


def test_exact_dedup_finds_planted_dups(spark):
    from stanford_relation_extractor_spark.datapipe.dedup import exact_dedup_groups
    from stanford_relation_extractor_spark.datapipe.queries import dup_corpus

    groups = exact_dedup_groups(dup_corpus(spark, SF_DIR))
    dups = groups.filter("group_size = 2")
    n_planted = dup_corpus(spark, SF_DIR).filter("doc_id >= 1000000").count()
    assert dups.count() == n_planted
    # survivor = min doc_id (the original, not the planted copy)
    assert dups.filter("keep_doc_id >= 1000000").count() == 0


def test_minhash_lsh_recall_on_planted_neardups(spark):
    from stanford_relation_extractor_spark.datapipe.dedup import minhash_near_dups
    from stanford_relation_extractor_spark.datapipe.queries import neardup_corpus

    corpus = neardup_corpus(spark, SF_DIR)
    found = minhash_near_dups(corpus).collect()
    planted = {
        (r["doc_id"] - 1000000, r["doc_id"])
        for r in corpus.filter("doc_id >= 1000000").select("doc_id").collect()
    }
    got = {(r["doc_a"], r["doc_b"]) for r in found}
    # banding may miss a pair with small probability; demand >=90% recall
    assert len(got & planted) >= 0.9 * len(planted)
    for r in found:
        assert r["jaccard"] >= 0.5


def test_simhash_near_for_neardups_far_for_random(spark):
    from pyspark.sql import functions as F

    from stanford_relation_extractor_spark.datapipe.dedup import simhash_signatures
    from stanford_relation_extractor_spark.datapipe.queries import neardup_corpus

    sig = simhash_signatures(neardup_corpus(spark, SF_DIR))
    a = sig.filter("doc_id < 1000000").withColumnRenamed("simhash", "sig_a")
    b = sig.filter("doc_id >= 1000000").select(
        (F.col("doc_id") - 1000000).alias("doc_id"), F.col("simhash").alias("sig_b")
    )
    pairs = a.join(b, "doc_id").collect()
    assert pairs

    def hamming(x, y):
        return sum(1 for u, v in zip(x, y) if u != v)

    dists = [hamming(r["sig_a"], r["sig_b"]) for r in pairs]
    assert sum(dists) / len(dists) <= 4  # near-dups stay close in simhash space

    rows = sig.orderBy("doc_id").limit(40).collect()
    rand = [hamming(rows[i]["simhash"], rows[i + 1]["simhash"]) for i in range(0, 38, 2)]
    assert sum(rand) / len(rand) >= 4  # random pairs are farther on average


def test_knn_bruteforce_is_symmetric_sane(spark):
    from stanford_relation_extractor_spark.datapipe.queries import q_knn_bruteforce

    rows = q_knn_bruteforce(spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, ns in by_q.items():
        assert sorted(r for r, _ in ns) == [1, 2, 3]
        assert q not in {n for _, n in ns}


def test_lsh_knn_subset_of_bruteforce_candidates(spark):
    """LSH top-1 must be the brute-force top-1 whenever they share a bucket."""
    from stanford_relation_extractor_spark.datapipe.queries import q_knn_bruteforce, q_lsh_knn

    bf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in q_knn_bruteforce(spark, SF_DIR).collect()
    }
    lsh = q_lsh_knn(spark, SF_DIR).collect()
    assert lsh  # buckets must not be empty at this scale
    for r in lsh:
        assert r["neighbor_id"] != r["query_id"]


def test_language_id_profiles():
    import pandas as pd

    from stanford_relation_extractor_spark.datapipe.textstats import LANG_PROFILES

    # pure-python check of the scoring rule on fixture strings
    def score(text):
        ws = text.lower().split()
        best_lang, best = "und", 0.0
        for lang in sorted(LANG_PROFILES):
            s = sum(1 for w in ws if w in LANG_PROFILES[lang]) / max(len(ws), 1)
            if s > best:
                best_lang, best = lang, s
        return best_lang

    assert score("the cat is in the house and it is warm") == "en"
    assert score("der hund ist nicht in das haus und die katze") == "de"
    assert score("le chat est dans la maison et les chiens") == "fr"
    assert score("xyzzy plugh") == "und"


def test_sessionize_gap_semantics(spark):
    import datetime as dt

    from stanford_relation_extractor_spark.datapipe.events import sessionize

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 7, "c", 1.0, None),
        (2, base + dt.timedelta(minutes=10), 7, "c", 1.0, None),
        (3, base + dt.timedelta(minutes=50), 7, "c", 1.0, None),  # 40min gap -> new session
        (4, base, 8, "c", 1.0, None),
        # fractional gaps: 1,800 s exactly stays in the session, 1,800.5 s starts one
        (5, base, 9, "c", 1.0, None),
        (6, base + dt.timedelta(seconds=1800), 9, "c", 1.0, None),
        (7, base + dt.timedelta(seconds=3600.5), 9, "c", 1.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {(r["user_id"], r["session_idx"]): r["n_events"] for r in sessionize(df).collect()}
    assert out == {(7, 1): 2, (7, 2): 1, (8, 1): 1, (9, 1): 2, (9, 2): 1}


def test_lsh_knn_banded_recall_beats_single_table(spark):
    """Banded multi-probe LSH must recover at least as many of the exact
    top-k neighbors as the all-bits single-table variant (the round-1
    recall caveat)."""
    from stanford_relation_extractor_spark.datapipe import queries as dq

    sf = "/root/testdata/sf0.001"
    exact = {(r["query_id"], r["neighbor_id"]) for r in dq.q_knn_bruteforce(spark, sf).collect()}
    single = {(r["query_id"], r["neighbor_id"]) for r in dq.q_lsh_knn(spark, sf).collect()}
    banded = {(r["query_id"], r["neighbor_id"]) for r in dq.q_lsh_knn_banded(spark, sf).collect()}
    assert len(banded & exact) >= len(single & exact)
    assert len(banded & exact) >= int(0.4 * len(exact))  # usable recall on random vectors


def test_simhash_constants_keep_their_guarantees():
    """The band join is exact only with more bands than the Hamming
    bound (pigeonhole), and the Hamming distance is a ``bit_count`` over
    the signature as one signed long."""
    from stanford_relation_extractor_spark.datapipe import dedup

    assert dedup.SIMHASH_BANDS > dedup.MAX_HAMMING
    assert dedup.SIMHASH_BITS <= 63


def test_simhash_neardups_pigeonhole_exact(spark):
    """The Hamming-band candidate join loses nothing under the
    threshold: brute-force pairs within MAX_HAMMING == banded pairs."""
    from stanford_relation_extractor_spark.datapipe.dedup import (
        MAX_HAMMING,
        simhash_near_dups,
        simhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),  # near 1
            (3, "completely different words entirely here now"),
            (4, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
        ],
        "doc_id long, text string",
    )
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_near_dups(docs).collect()}
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    brute = {}
    ids = sorted(sigs)
    for i in ids:
        for j in ids:
            if i < j:
                h = sum(a != b for a, b in zip(sigs[i], sigs[j]))
                if h <= MAX_HAMMING:
                    brute[(i, j)] = h
    assert got == brute
    assert got[(1, 4)] == 0  # exact dup
