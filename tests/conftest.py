import os
import shutil
import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("search_engine_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture()
def tmp_index_dir():
    d = tempfile.mkdtemp(prefix="seidx_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


SF_DIR = os.environ.get("SE_TEST_SF_DIR", "/root/testdata/sf0.001")


def assert_rank_identical(got, want, tol=2e-4):
    """Rank-identity with float tolerance: same doc ids in order, allowing
    swaps of adjacent entries whose scores are within tol (fp reorder)."""
    assert len(got) == len(want), (got, want)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert abs(gs - ws) <= tol * max(1.0, abs(ws)), (got, want)
    got_ids = [d for d, _ in got]
    want_ids = [d for d, _ in want]
    if got_ids != want_ids:
        # permitted only when scores tie within tolerance
        for i, (g, w) in enumerate(zip(got_ids, want_ids)):
            if g != w:
                gs = dict(got)[g]
                ws = dict(want)[w]
                assert abs(gs - ws) <= tol * max(1.0, abs(ws)), (got, want)
