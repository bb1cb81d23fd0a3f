"""Checkpoint/resume idempotency (BASELINE.md resumability protocol)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from conftest import SF_DIR, spark_jobs

# Spark jobs one fresh sf0.001 store launches once the session's alias
# dictionary is cut (local[4], 4 shuffle partitions): each stored stage
# costs its write job, the rest is the stages' own work (extraction,
# canonicalization, the ensemble and consistency shuffles).
FRESH_STORE_JOBS = 23


@pytest.fixture(scope="module")
def ckpt(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ckpt"))


def _mtimes(root):
    out = {}
    for stage in os.listdir(root):
        mpath = os.path.join(root, stage, "_MANIFEST.json")
        if os.path.exists(mpath):
            out[stage] = os.path.getmtime(mpath)
    return out


def test_pipeline_checkpoints_and_resumes(spark, ckpt):
    from stanford_relation_extractor_spark.plans.pipeline import run_pipeline

    out1 = run_pipeline(spark, SF_DIR, ckpt)
    n1 = out1["triples"].count()
    assert n1 > 0
    m = out1["manifests"]
    assert all(m[s] is not None for s in ("sentences", "linked_votes", "candidates", "triples"))
    assert m["triples"]["row_count"] == n1
    assert m["triples"]["partition_by"] == "relation"
    assert len(m["triples"]["partition_rows"]) > 5  # per-partition lineage present
    t1 = _mtimes(ckpt)

    # second run: everything valid -> nothing recomputed
    out2 = run_pipeline(spark, SF_DIR, ckpt)
    assert out2["triples"].count() == n1
    assert _mtimes(ckpt) == t1

    # kill/restart at a stage boundary: drop a late stage only
    shutil.rmtree(os.path.join(ckpt, "candidates"))
    shutil.rmtree(os.path.join(ckpt, "triples"))
    out3 = run_pipeline(spark, SF_DIR, ckpt)
    t3 = _mtimes(ckpt)
    assert out3["triples"].count() == n1
    assert t3["sentences"] == t1["sentences"]  # early stages untouched
    assert t3["linked_votes"] == t1["linked_votes"]
    assert t3["candidates"] != t1["candidates"]  # late stages rebuilt


def test_config_change_invalidates(spark, ckpt, tmp_path):
    """The same tables under another ``sf_dir`` are a new config: the
    fingerprint covers every stage, so every stored stage rebuilds, to
    the same triples."""
    from stanford_relation_extractor_spark.plans.pipeline import STORED_STAGES, run_pipeline

    n_before = run_pipeline(spark, SF_DIR, ckpt)["triples"].count()
    t_before = _mtimes(ckpt)
    alias = tmp_path / "sf_alias"
    alias.symlink_to(SF_DIR)
    out = run_pipeline(spark, str(alias), ckpt)
    t_after = _mtimes(ckpt)
    assert all(t_after[st] != t_before[st] for st in STORED_STAGES)
    assert out["triples"].count() == n_before


def test_partition_values_roundtrip_special_chars(spark, ckpt):
    """relation names contain ':' and '/'; partitioned write must
    escape and restore them losslessly."""
    from stanford_relation_extractor_spark.plans.pipeline import run_pipeline

    out = run_pipeline(spark, SF_DIR, ckpt)
    rels = {r["relation"] for r in out["triples"].select("relation").distinct().collect()}
    assert any(":" in r for r in rels)
    assert "org:top_members/employees" in rels or all("/" not in r for r in rels)


def test_extraction_runs_exactly_once(spark, tmp_path, monkeypatch):
    """VERDICT r2 #1: the resumable path must run the (most expensive)
    Arrow extraction ONCE per fresh build — the canon-map, rewrite and
    alternate-name stages all read the checkpointed votes table, and
    the extraction reads the stored sentences."""
    from stanford_relation_extractor_spark.plans import pipeline as P

    calls = []
    real = P.extract_votes

    def counted(source, *a, **k):
        calls.append("mentions" in source.columns)
        return real(source, *a, **k)

    monkeypatch.setattr(P, "extract_votes", counted)
    ckpt2 = str(tmp_path / "ckpt_once")
    out = P.run_pipeline(spark, SF_DIR, ckpt2)
    assert out["triples"].count() > 0
    assert out["manifests"]["votes"] is not None
    assert calls == [True]  # one pass, over the stored sentences' mentions
    # resume: nothing recomputed, extraction not re-invoked
    P.run_pipeline(spark, SF_DIR, ckpt2)
    assert calls == [True]


def test_manifest_skew_metrics(spark, ckpt):
    from stanford_relation_extractor_spark.plans.pipeline import run_pipeline

    m = run_pipeline(spark, SF_DIR, ckpt)["manifests"]["triples"]
    assert m["skew_ratio"] >= 1.0
    assert m["max_partition_rows"] <= m["row_count"]
    assert sum(m["partition_rows"].values()) == m["row_count"]


def _rows(df):
    cols = sorted(df.columns)
    return sorted(repr(tuple(r)) for r in df.select(*cols).collect())


def test_stored_triples_match_in_session(spark, tmp_path):
    """The store and the in-session run walk one stage graph: the stored
    triples equal ``build_stages``' triples, on a fresh store and after
    resuming with the last two stages dropped."""
    from stanford_relation_extractor_spark.plans.pipeline import build_stages, run_pipeline

    want = _rows(build_stages(spark, SF_DIR)["triples"])
    assert want
    store = str(tmp_path / "store")
    assert _rows(run_pipeline(spark, SF_DIR, store)["triples"]) == want
    for stage in ("candidates", "triples"):
        shutil.rmtree(os.path.join(store, stage))
    assert _rows(run_pipeline(spark, SF_DIR, store)["triples"]) == want


def test_manifest_contract(spark, ckpt):
    """Each manifest, read off the parquet footers the write produced,
    agrees with a Spark read of the stored table: the row count, the
    schema ``spark.read.parquet`` infers, and the triples' rows per
    relation, whose names hold ':' and '/' (escaped on disk)."""
    from pyspark.sql.types import StructType

    from stanford_relation_extractor_spark.plans.pipeline import STORED_STAGES, run_pipeline

    manifests = run_pipeline(spark, SF_DIR, ckpt)["manifests"]
    for stage in STORED_STAGES:
        m = manifests[stage]
        stored = spark.read.parquet(os.path.join(ckpt, stage))
        assert m["row_count"] == stored.count() > 0, stage
        assert sum(m["partition_rows"].values()) == m["row_count"], stage
        assert StructType.fromJson(m["schema"]) == stored.schema, stage
    triples = spark.read.parquet(os.path.join(ckpt, "triples"))
    per_relation = {r["relation"]: r["count"] for r in triples.groupBy("relation").count().collect()}
    assert manifests["triples"]["partition_rows"] == per_relation
    assert any(":" in r and "/" in r for r in per_relation)


def test_valid_store_launches_no_jobs(spark, ckpt):
    """Reading valid stored stages runs no Spark job: the manifest holds
    the schema, so there is no inference pass and no read-back."""
    from stanford_relation_extractor_spark.plans.pipeline import run_pipeline

    run_pipeline(spark, SF_DIR, ckpt)  # rebuilds what earlier tests invalidated
    with spark_jobs(spark) as jobs:
        out = run_pipeline(spark, SF_DIR, ckpt)
    assert jobs.count == 0
    assert out["triples"].count() == out["manifests"]["triples"]["row_count"]


def test_fresh_store_job_count(spark, tmp_path):
    """A fresh store launches no job beyond each stage's write and the
    stages' own work (capped at the count measured at sf0.001)."""
    from stanford_relation_extractor_spark.plans.pipeline import run_pipeline
    from stanford_relation_extractor_spark.sources.synthetic import alias_dict_df

    alias_dict_df(spark, SF_DIR)  # the session-wide alias cut, paid once per session
    with spark_jobs(spark) as jobs:
        run_pipeline(spark, SF_DIR, str(tmp_path / "fresh"))
    assert 0 < jobs.count <= FRESH_STORE_JOBS


def test_manifest_without_schema_rebuilds(spark, ckpt):
    """A manifest written before the schema was recorded is stale: its
    stage rebuilds, the stages before it stay untouched."""
    from stanford_relation_extractor_spark.plans.pipeline import run_pipeline

    run_pipeline(spark, SF_DIR, ckpt)
    mpath = os.path.join(ckpt, "linked_votes", "_MANIFEST.json")
    with open(mpath) as fh:
        manifest = json.load(fh)
    del manifest["schema"]
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)
    before = _mtimes(ckpt)

    out = run_pipeline(spark, SF_DIR, ckpt)
    after = _mtimes(ckpt)
    assert after["linked_votes"] != before["linked_votes"]
    for stage in ("sentences", "votes", "canon_map"):
        assert after[stage] == before[stage], stage
    assert "schema" in out["manifests"]["linked_votes"]
