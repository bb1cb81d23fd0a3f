"""Session defaults derive from the host, not from a fixed large box,
and a session compiles each generated class once."""

from __future__ import annotations

import os
import shutil

from conftest import SF_DIR

from stanford_relation_extractor_spark.session import driver_memory

GIB = 2**30


def test_driver_memory_is_half_of_host_ram():
    assert driver_memory(15 * GIB) == "7g"
    assert driver_memory(64 * GIB) == "32g"
    # bounded: a tiny host still gets 1g, a huge one stops at 48g
    assert driver_memory(GIB) == "1g"
    assert driver_memory(512 * GIB) == "48g"


def _compiles(spark) -> int:
    """Generated classes Janino has compiled so far in this JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_pipeline_rerun_compiles_no_class(spark):
    """The codegen cache holds a whole pipeline run: a second run reuses
    every generated class (at Spark's default of 100 entries it
    recompiled most of them)."""
    from stanford_relation_extractor_spark.plans.pipeline import build_stages

    def run():
        build_stages(spark, SF_DIR)["triples"].write.format("noop").mode("overwrite").save()

    run()
    before = _compiles(spark)
    run()
    assert _compiles(spark) - before == 0


def test_resume_compiles_no_class(spark, tmp_path):
    """Resuming a store rebuilds its last two stages from classes the
    materialize already compiled."""
    from stanford_relation_extractor_spark.plans.pipeline import run_pipeline

    store = str(tmp_path / "store")
    run_pipeline(spark, SF_DIR, store)
    for stage in ("candidates", "triples"):
        shutil.rmtree(os.path.join(store, stage))
    before = _compiles(spark)
    run_pipeline(spark, SF_DIR, store)
    assert _compiles(spark) - before == 0
