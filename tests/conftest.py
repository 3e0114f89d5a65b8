from __future__ import annotations

import sys

import numpy as np
import pytest

sys.path.insert(0, "/root/repo")

SF_TINY = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from cuvs_spark import get_spark
    # cores follow the host (SPARK_GRAFT_CPUS, else os.cpu_count())
    s = get_spark("cuvs_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


@pytest.fixture(scope="session")
def tiny_vectors(rng):
    """FIXTURES.md T1 tiny grid: seeded random (id, vec) rows."""
    n, dim = 100, 8
    X = rng.random((n, dim)).astype(np.float32)
    return X


@pytest.fixture(scope="session")
def vectors_df(spark, tiny_vectors):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(tiny_vectors)]
    return spark.createDataFrame(rows, "id long, vec array<float>").cache()


@pytest.fixture(scope="session")
def tiny_queries(rng):
    return rng.random((12, 8)).astype(np.float32)


@pytest.fixture(scope="session")
def queries_df(spark, tiny_queries):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(tiny_queries)]
    return spark.createDataFrame(rows, "qid long, vec array<float>").cache()
