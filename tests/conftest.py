"""Shared SparkSession for the test suite (session-scoped, local mode)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from mapreduce_system_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def persisted_rdd_ids(spark) -> set[int]:
    """Ids of every RDD persisted in the context, checkpoint blocks
    included — the JVM's own view, independent of ``caches``' registry."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids: set[int] = set()
    while it.hasNext():
        ids.add(it.next())
    return ids
