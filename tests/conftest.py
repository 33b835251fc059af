from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_integration_and_harmonization_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # Hermetic warehouse: saveAsTable tests otherwise land in the repo's
    # ./spark-warehouse, and a killed run leaves orphan table dirs a fresh
    # in-memory catalog can't DROP (LOCATION_ALREADY_EXISTS on re-run).
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
