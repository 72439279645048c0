from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from orc_release_hdp_2_6_5_99_1_tag_spark import get_spark

    s = get_spark("engine-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sargs_fuzz_df(spark):
    """Tiny cached table (with NULLs) for sarg property fuzzing."""
    rows = [(i, None if i % 7 == 3 else i % 10) for i in range(50)]
    df = spark.createDataFrame(rows, "id int, n int").cache()
    df.count()
    return df
