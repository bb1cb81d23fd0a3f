from __future__ import annotations

import contextlib
import os
import sys
import types
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

# tests that read the reference checkout's data files (rules, gold
# assessments, gazetteers), skipped where it is not mounted
from stanford_relation_extractor_spark.sources.goldtab import REFERENCE_KBP_DIR  # noqa: E402

needs_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_KBP_DIR), reason="reference data not mounted"
)


@pytest.fixture(scope="session")
def spark():
    from stanford_relation_extractor_spark.session import get_spark

    spark = get_spark("pytest", cpus=4, shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def duck():
    from scripts.crosscheck import duck_con

    return duck_con(SF_DIR)


@contextlib.contextmanager
def spark_jobs(spark):
    """Count the Spark jobs launched inside the block (job-group ids from
    the status tracker), including AQE stage and broadcast jobs::

        with spark_jobs(spark) as jobs:
            df.collect()
        assert jobs.count == 1
    """
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in props}
    group = f"counted-{uuid.uuid4().hex}"
    counted = types.SimpleNamespace(count=None)
    sc.setJobGroup(group, "jobs counted by a test")
    try:
        yield counted
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
        counted.count = len(sc.statusTracker().getJobIdsForGroup(group))
