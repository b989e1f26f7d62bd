from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hdx_metadata_crawler_spark.session import C2_JIT_CONF, get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # many jobs over minutes: C2's compiled control plane pays back here
    s = get_spark("pytest", master="local[8]", shuffle_partitions=8, extra_conf=C2_JIT_CONF)
    yield s
    # drop the catalog-bucketed seen stores created by throwaway test
    # checkpoint dirs (one table per ckpt path) so warehouse disk doesn't
    # accumulate across suite runs
    for t in s.catalog.listTables():
        if t.name.startswith("seen_store_") or t.name.startswith("seen_probe_"):
            s.sql(f"DROP TABLE IF EXISTS {t.name}")
    s.stop()
