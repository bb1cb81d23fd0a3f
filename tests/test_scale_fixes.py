"""Round-2 scale-fix coverage (VERDICT.md 'What's wrong' items):

* distributed weight estimation (no driver collect of raw counts),
* connected components: brute-force parity, a loud failure when label
  propagation does not converge, reliable checkpointing, and the
  driver union-find kernel row-identical to label propagation,
* frequency-capped prefix blocking (hot-block skew guard),
* parquet spool scratch: reaped, and read back without an inference job.
"""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F


def test_train_weights_df_matches_log_odds(spark):
    from stanford_relation_extractor_spark.operators.statistical import (
        train_weights_df,
    )

    rows = (
        [("f_a", "per:age")] * 9
        + [("f_a", "NIL")] * 1
        + [("f_b", "per:age")] * 2
        + [("f_b", "NIL")] * 8
    )
    labeled = spark.createDataFrame(
        [(f, r, 1.0) for f, r in rows], "feature string, relation string, wt double"
    )
    wdf = {(r["feature"], r["relation"]): r["weight"] for r in train_weights_df(labeled).collect()}
    assert wdf[("f_a", "per:age")] == round(math.log(9.5 / 1.5), 6)
    assert wdf[("f_b", "per:age")] == round(math.log(2.5 / 8.5), 6)


def _brute_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # resolve to min-of-component
    comp: dict[str, list[str]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for root, members in comp.items() for n in members}


def test_cc_star_matches_label_and_bruteforce(spark, monkeypatch):
    from stanford_relation_extractor_spark.operators import canonicalize
    from stanford_relation_extractor_spark.operators.canonicalize import (
        connected_components,
    )

    # gate 0: label propagation (the driver kernel has its own parity test)
    monkeypatch.setattr(canonicalize, "CANON_LOCAL_MAX_SURFACES", 0)

    # deterministic pseudo-random graph: chains + merges + isolated pairs
    edges = []
    for i in range(40):  # one deep chain (diameter 40)
        edges.append((f"c{i:02d}", f"c{i + 1:02d}"))
    for i in range(10):  # star
        edges.append(("hub", f"leaf{i}"))
    edges += [("x1", "x2"), ("x2", "x3"), ("x3", "x1")]  # cycle
    expected = _brute_components(edges)
    df = spark.createDataFrame(edges, "src string, dst string")

    label = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert label == expected


def test_cc_star_converges_on_deep_chain_in_log_rounds(spark, monkeypatch):
    """A 64-deep chain needs 64 label-propagation rounds: with a
    10-round ceiling the labels are still changing, and truncated labels
    must fail loudly rather than come back as components."""
    from stanford_relation_extractor_spark.operators import canonicalize

    monkeypatch.setattr(canonicalize, "CANON_LOCAL_MAX_SURFACES", 0)
    monkeypatch.setattr(canonicalize, "CC_MAX_ITER", 10)
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(64)]
    df = spark.createDataFrame(edges, "src string, dst string")
    with pytest.raises(RuntimeError, match=r"65 nodes .*CC_MAX_ITER=10"):
        canonicalize.connected_components(df)


def test_cc_reliable_checkpoint(spark, tmp_path, monkeypatch):
    from stanford_relation_extractor_spark.operators import canonicalize
    from stanford_relation_extractor_spark.operators.canonicalize import (
        connected_components,
    )

    monkeypatch.setattr(canonicalize, "CANON_LOCAL_MAX_SURFACES", 0)

    edges = [("a", "b"), ("b", "c"), ("d", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {
        r["node"]: r["component"]
        for r in connected_components(
            df, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert out == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_cc_driver_kernel_matches_label_propagation(spark, monkeypatch):
    """Under the size gate ``connected_components`` runs union-find on
    the driver; its rows equal label propagation's (gate 0) on seeded
    random graphs with self-loops, a NULL endpoint, and duplicate and
    reversed edges, and a small call costs one probe job."""
    import random

    from conftest import spark_jobs

    from stanford_relation_extractor_spark.operators import canonicalize

    def rows(df):
        return sorted(tuple(r) for r in canonicalize.connected_components(df).collect())

    for seed in range(3):
        rng = random.Random(seed)
        nodes = [f"v{i:03d}" for i in range(60)]
        edges = [tuple(rng.sample(nodes, 2)) for _ in range(45)]
        edges += [(b, a) for a, b in edges[:5]] + edges[5:10]  # reversed, duplicate
        edges += [("v000", "v000"), ("loop", "loop"), ("v001", None), (None, None)]
        df = spark.createDataFrame(edges, "src string, dst string")
        driver = rows(df)
        with monkeypatch.context() as m:
            m.setattr(canonicalize, "CANON_LOCAL_MAX_SURFACES", 0)
            assert driver == rows(df)
        assert "loop" not in {n for n, _c in driver}

    small = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("c", "a"), ("f", "f")],
        "src string, dst string",
    )
    with spark_jobs(spark) as jobs:
        out = canonicalize.connected_components(small)
    assert jobs.count == 1
    assert sorted(tuple(r) for r in out.collect()) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"),
    ]


def test_prefix_block_hot_block_capped(spark, monkeypatch):
    """A boilerplate prefix shared by many docs must not stay one block:
    hot blocks re-key on the longer prefix, cold blocks keep the cheap
    3-token key (recall inside hot blocks is traded for boundedness)."""
    from stanford_relation_extractor_spark.datapipe import dedup
    from stanford_relation_extractor_spark.datapipe.dedup import prefix_block_jaccard

    monkeypatch.setattr(dedup, "MAX_BLOCK", 10)

    hot = [
        (i, f"i think the topic{i % 3} discussion point alpha beta gamma delta run {i}")
        for i in range(30)
    ]
    # two true near-dups sharing even the extended 6-token prefix
    hot.append((100, "i think the topic0 discussion point alpha beta gamma delta run 0"))
    cold = [(200, "completely different text about something here"),
            (201, "completely different text about something here now")]
    docs = spark.createDataFrame(hot + cold, "doc_id long, text string")

    out = prefix_block_jaccard(docs).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in out}
    # the planted near-dup pair shares the extended prefix -> still found
    assert (0, 100) in found
    # the cold block is untouched by the cap
    assert (200, 201) in found

    # cap actually bounds candidate generation: with the hot block split
    # on 6 tokens, no candidate pair crosses topic0/topic1/topic2
    monkeypatch.setattr(dedup, "JACCARD_THRESHOLD", 0.0)
    all_pairs = prefix_block_jaccard(docs).collect()
    for r in all_pairs:
        if r["doc_a"] < 200:
            a_topic = r["doc_a"] % 3 if r["doc_a"] < 100 else 0
            b_topic = r["doc_b"] % 3 if r["doc_b"] < 100 else 0
            assert a_topic == b_topic


# ---------------------------------------------------------------- round 3


def test_same_entity_blocking_hot_block_capped(spark):
    """VERDICT r2 #2: a hot blocking key ('smith:j' on real name
    distributions) must not go quadratic. 420 same-prefix surfaces share
    base AND extended keys, so they hit the sorted-neighborhood tier:
    pair volume <= n * NEIGHBORHOOD, not n^2/2."""
    from stanford_relation_extractor_spark.operators.canonicalize import (
        MAX_BLOCK,
        NEIGHBORHOOD,
        _block_pairs,
        _blocks,
        same_entity_edges,
    )

    n = 420
    hot = [(f"John{i:03d} Smith", "PERSON") for i in range(n)]
    cold = [("Acme Corp", "ORGANIZATION"), ("Acme Corporation", "ORGANIZATION")]
    assert n > MAX_BLOCK
    # one block even after the extended re-key: the neighborhood tier
    assert [len(m) for m in _blocks(hot).values()] == [n]

    pair_set = set(_block_pairs([name for name, _ in hot]))
    assert 0 < len(pair_set) <= n * NEIGHBORHOOD
    # adjacent hot-block members are still JUDGED (pair generated) ...
    assert ("John000 Smith", "John001 Smith") in pair_set
    # the cold block is untouched by the cap: full pairing finds Acme
    ents = spark.createDataFrame(hot + cold, "entity_name string, entity_type string")
    edges = {(r["src"], r["dst"]) for r in same_entity_edges(ents).collect()}
    assert ("Acme Corp", "Acme Corporation") in edges
    # ... but digit-differing surfaces are NOT typos (round-4 digit
    # guard): John000 and John001 are distinct people
    assert ("John000 Smith", "John001 Smith") not in edges
    # a genuine letter typo in the hot block still merges
    assert not same_entity_edges(
        spark.createDataFrame(
            [("John Smith", "PERSON"), ("Johno Smith", "PERSON")],
            "entity_name string, entity_type string",
        )
    ).isEmpty()


def test_same_entity_blocking_cold_path_unchanged():
    """Below the cap the full within-block pairing is preserved — the
    flagship corpus never hits the hot tier, so canonical_map semantics
    are bit-identical to round 2."""
    from stanford_relation_extractor_spark.operators.canonicalize import (
        _block_pairs,
        _blocks,
    )

    ents = [("Jane Smith", "PERSON"), ("J. Smith", "PERSON"), ("Jim Smith", "PERSON")]
    got = {p for members in _blocks(ents).values() for p in _block_pairs(members)}
    assert got == {
        ("J. Smith", "Jane Smith"),
        ("J. Smith", "Jim Smith"),
        ("Jane Smith", "Jim Smith"),
    }


def test_statistical_memo_bounded(monkeypatch):
    """VERDICT r2 #3: the per-task feature-tuple memo must not grow with
    the number of distinct sentence shapes."""
    from stanford_relation_extractor_spark.operators import extractors

    monkeypatch.setattr(extractors, "STATISTICAL_MEMO_CAP", 8)
    stat = extractors._stat_context()
    pbank = extractors._compiled_pattern_bank()
    tbank = extractors._compiled_trigger_bank()
    for i in range(50):
        filler = " ".join(f"w{i}x{j}" for j in range(3))
        sent = f"Alice {filler} works for Acme ."
        mentions = [
            {"surface": "Alice", "ner": "PERSON", "begin": 0, "end": 5},
            {
                "surface": "Acme",
                "ner": "ORGANIZATION",
                "begin": sent.index("Acme"),
                "end": sent.index("Acme") + 4,
            },
        ]
        extractors.votes_for_sentence(sent, mentions, pbank, tbank, stat)
    assert 0 < len(stat[2]) <= 8


def test_spool_dirs_cleaned(spark):
    """VERDICT r2 #4: _parquet_spool scratch is registered and reaped."""
    import os

    from stanford_relation_extractor_spark.plans import pipeline as P

    df = spark.range(3)
    out = P._parquet_spool(df, spark, "testspool")
    assert out.count() == 3
    d = P._SPOOL_DIRS[-1]
    assert os.path.isdir(d)
    P._cleanup_spools()
    assert not os.path.isdir(d)
    assert not P._SPOOL_DIRS


def test_spool_launches_only_its_write_job(spark):
    """The spool reads back through the schema its write implies: the
    write is its only Spark job, and the schema is the one
    ``spark.read.parquet`` infers."""
    from conftest import spark_jobs

    from stanford_relation_extractor_spark.plans import pipeline as P

    df = spark.createDataFrame(
        [(1, "a", ["x", "y"], (2, 0.5)), (2, None, [], (3, None))],
        "id int not null, s string, xs array<string>, st struct<n: int, w: double>",
    )
    with spark_jobs(spark) as jobs:
        out = P._parquet_spool(df, spark, "jobspool")
    assert jobs.count == 1
    assert out.schema == spark.read.parquet(P._SPOOL_DIRS[-1]).schema
    assert sorted(out.collect()) == sorted(df.collect())


def test_per_relation_threshold_binds(spark):
    """P7 FIXED_PER_RELATION (KBPEvaluator.java:266-272): listed
    relations carry their own floor, others fall back to the global
    0.5."""
    from stanford_relation_extractor_spark.operators.consistency import (
        threshold_filter,
    )

    rows = [
        ("E", "PERSON", "per:age", "44", "NUMBER", 2, 0.94),      # below 0.96 floor
        ("E", "PERSON", "per:age", "45", "NUMBER", 3, 0.97),      # above
        ("E", "PERSON", "per:spouse", "S", "PERSON", 2, 0.94),    # global 0.5 only
        ("E", "PERSON", "per:siblings", "T", "PERSON", 1, 0.4),   # below global
    ]
    df = spark.createDataFrame(
        rows,
        "entity_name string, entity_type string, relation string, "
        "slot_value string, slot_ner string, n_agree int, score double",
    )
    kept = {(r["relation"], r["slot_value"]) for r in threshold_filter(df).collect()}
    assert kept == {("per:age", "45"), ("per:spouse", "S")}


def test_dead_spool_sweep(tmp_path):
    """Spools of SIGKILLed sessions (pid embedded in the dir name, pid
    gone) are swept; live-pid dirs are untouched."""
    import os

    from stanford_relation_extractor_spark.plans import pipeline as P

    dead = tmp_path / "spark_graft4190000_votes_x"
    dead.mkdir()
    alive = tmp_path / f"spark_graft{os.getpid()}_votes_y"
    alive.mkdir()
    other = tmp_path / "unrelated_dir"
    other.mkdir()
    P._sweep_dead_spools(str(tmp_path))
    assert not dead.exists()
    assert alive.exists() and other.exists()


def test_miml_train_soft_em_keeps_posterior_mass(spark):
    """Hand-computed soft-EM fixture (A7): bag (E,S) is labeled rel_R
    with one good-context and one bad-context mention; a NIL bag shares
    the bad context. At-least-once pins the good mention to rel_R, and
    the ambiguous mention's posterior is exactly (0.5 rel_R, 0.5 NIL)
    after round 0 (its scores tie at 0), so the refit keeps a FRACTIONAL
    rel_R weight on ctx_bad: rel_R mass 0.5, NIL mass 1.5 of total 2.0
    -> w(ctx_bad, rel_R) = log((0.5+0.5)/(2.0-0.5+0.5)) = log(1/2)."""
    import math

    from stanford_relation_extractor_spark.operators.statistical import miml_train

    mcols = (
        "conv_id string, turn_idx int, sent_idx int, entity_name string, "
        "entity_type string, slot_value string, slot_ner string, feature string"
    )
    features = spark.createDataFrame(
        [
            ("c1", 0, 0, "E", "PERSON", "S", "NUMBER", "ctx_good"),
            ("c1", 1, 0, "E", "PERSON", "S", "NUMBER", "ctx_bad"),
            ("c2", 0, 0, "X", "PERSON", "Y", "NUMBER", "ctx_bad"),
        ],
        mcols,
    )
    bag_labels = spark.createDataFrame(
        [("E", "S", "rel_R")], "entity_name string, slot_value string, relation string"
    )
    w = {
        (r["feature"], r["relation"]): r["weight"]
        for r in miml_train(features, bag_labels, epochs=1).collect()
    }
    assert w[("ctx_good", "rel_R")] == round(math.log(1.5 / 0.5), 6)
    assert w[("ctx_bad", "rel_R")] == round(math.log(0.5), 6)
    assert w[("ctx_bad", "NIL")] == round(math.log(2.0 / 1.0), 6)


def test_combined_relation_probs_noisy_or():
    """Two bagged models noisy-or per relation."""
    from stanford_relation_extractor_spark.operators.statistical import (
        combined_relation_probs,
        softmax_scores,
    )

    rels = ["r1", "r2"]
    w1 = {"f": {"r1": 1.0}}
    w2 = {"f": {"r2": 1.0}}
    both = combined_relation_probs(["f"], [w1, w2], rels)
    p1 = softmax_scores(["f"], w1, rels)
    p2 = softmax_scores(["f"], w2, rels)
    for r in rels:
        assert abs(both[r] - (1 - (1 - p1[r]) * (1 - p2[r]))) < 1e-12
