from __future__ import annotations

import os
import zlib

import pytest

from osm2orc_spark.session import get_spark


def pytest_collection_modifyitems(config, items):
    """Opt-in process-level sharding (no pytest-xdist in this container):
    SUITE_SHARD=i/N keeps only items with crc32(nodeid) % N == i, so N
    concurrent pytest processes each run a disjoint, deterministic,
    exhaustive slice of the suite (scripts/run_suite_sharded.py is the
    runner). Unset -> no-op: plain `pytest tests/` behavior unchanged."""
    shard = os.environ.get("SUITE_SHARD")
    if not shard:
        return
    idx, _, total = shard.partition("/")
    idx, total = int(idx), int(total)
    if not 0 <= idx < total:
        raise ValueError(f"SUITE_SHARD={shard!r}: need i/N with 0 <= i < N")
    keep, drop = [], []
    for item in items:
        (keep if zlib.crc32(item.nodeid.encode()) % total == idx else drop).append(item)
    items[:] = keep
    config.hook.pytest_deselected(items=drop)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="osm2orc_spark-tests")
    yield s


@pytest.fixture
def spark_conf(spark):
    """``spark_conf(key, value)`` sets a session conf for one test; every
    key set gets its old value (or unset state) back afterwards."""
    saved: dict = {}

    def set_conf(key: str, value: str) -> None:
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_conf
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness() -> str:
    return SF_CORRECTNESS
