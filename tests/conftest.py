from __future__ import annotations

import os

import pytest

# unit tests build many short-lived plans on tiny data — the session
# warm-up's pipeline pass (sized for production batches via
# PELINKER_WARM_PAGES) would cost more than it saves here
os.environ.setdefault("PELINKER_WARM_PAGES", "0")

from pelinker_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pelinker_spark_tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def stored_rdds(spark):
    """Callable returning {rdd id: memory + disk bytes} for every RDD with
    blocks in storage (caches and local checkpoints alike)."""

    def snapshot() -> dict[int, int]:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id(): i.memSize() + i.diskSize() for i in infos}

    return snapshot
