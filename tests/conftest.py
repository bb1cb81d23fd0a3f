from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from stanford_relation_extractor_spark.session import get_spark

    spark = get_spark("pytest", cpus=4, shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def duck():
    from scripts.crosscheck import duck_con

    return duck_con(SF_DIR)
