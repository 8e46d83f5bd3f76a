from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = (
        SparkSession.builder.master("local[4]")
        .appName("engine-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def assert_same_serving_index(a, b) -> None:
    """Two driver-resident serving indexes hold the same rows: ids,
    sources and texts keyed by id, patterns and pnorm bit for bit."""
    from articulation_vector_db_api_spark.operators.search import ServingIndex

    assert isinstance(a, ServingIndex) and isinstance(b, ServingIndex)
    oa = sorted(range(len(a.ids)), key=a.ids.__getitem__)
    ob = sorted(range(len(b.ids)), key=b.ids.__getitem__)
    for col in ("ids", "sources", "texts"):
        xa, xb = getattr(a, col), getattr(b, col)
        assert [xa[i] for i in oa] == [xb[i] for i in ob], col
    assert a.patterns[:, oa].tobytes() == b.patterns[:, ob].tobytes()
    assert a.pnorm[oa].tobytes() == b.pnorm[ob].tobytes()
