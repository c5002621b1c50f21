from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from energy_data_stream_processing_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("energy-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(autouse=True)
def _fresh_plan_memo():
    """Clear the catalog plan memo BETWEEN tests (round 16). The memo
    returns the same Dataset object on a warm build; once some test has
    executed it, later plan-shape assertions would read its finalized
    adaptive plan (isFinalPlan=true renders Exchanges inside query
    stages). Within-test memo behavior (what the memo tests pin) is
    unaffected."""
    from energy_data_stream_processing_spark.plans.catalog import clear_plan_memo

    clear_plan_memo()
    yield
