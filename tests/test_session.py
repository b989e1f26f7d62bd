"""session.get_spark: the preloading Python worker daemon on local masters."""

import pytest

from hdx_metadata_crawler_spark import session


def test_local_workers_fork_from_preloading_daemon(spark):
    def probe(batches):
        import gc
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({
                "daemon": [sys.modules["__main__"].__spec__.name],
                "zip_finders": [sum(
                    isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values()
                )],
                "frozen": [gc.get_freeze_count()],
            })

    # Python workers are pooled per (executable, modules, environment); a
    # variable only this test sets gives it a fresh daemon and fresh forks,
    # unaffected by what earlier tasks imported into reused workers
    env = spark.sparkContext.environment
    env["HDX_TEST_FRESH_WORKER_POOL"] = "1"
    try:
        rows = (
            spark.range(8, numPartitions=8)
            .mapInPandas(probe, "daemon string, zip_finders int, frozen long")
            .collect()
        )
    finally:
        del env["HDX_TEST_FRESH_WORKER_POOL"]
    assert len(rows) == 8
    assert {r.daemon for r in rows} == {"hdx_metadata_crawler_spark._worker_daemon"}
    # no zip archive left for the per-task importlib.invalidate_caches() to re-read
    assert {r.zip_finders for r in rows} == {0}
    # the preloaded objects sit in the permanent generation, out of the
    # per-task gc.collect()'s walk
    assert min(r.frozen for r in rows) > 10_000


@pytest.mark.parametrize(
    "master", ["yarn", "spark://host:7077", "k8s://https://host:443", "local-cluster[2,1,1024]"]
)
def test_non_local_master_keeps_stock_daemon(master):
    assert "spark.python.daemon.module" not in session._python_daemon_conf(master)


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[4,2]"])
def test_local_master_selects_daemon(spark, master):
    conf = session._python_daemon_conf(master)
    assert conf == {"spark.python.daemon.module": "hdx_metadata_crawler_spark._worker_daemon"}
