"""session.get_spark: the preloading Python worker daemon and the C1-only JIT
on local masters."""

import os
import subprocess
import sys
import types

import pytest

from hdx_metadata_crawler_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def vm_option(spark, name):
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption(name).getValue()


@pytest.mark.parametrize(
    "master", ["yarn", "spark://host:7077", "k8s://https://host:443", "local-cluster[2,1,1024]"]
)
def test_non_local_master_keeps_stock_daemon(master):
    conf = session._local_master_conf(master)
    assert "spark.python.daemon.module" not in conf
    # stock HotSpot: C2 stays on
    assert "spark.driver.defaultJavaOptions" not in conf
    assert "spark.driver.extraJavaOptions" not in conf


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[4,2]"])
def test_local_master_selects_daemon(spark, master):
    # the JVM is running: its flags are fixed, so only the daemon is selected
    conf = session._local_master_conf(master)
    assert conf == {"spark.python.daemon.module": "hdx_metadata_crawler_spark._worker_daemon"}
    # the fixture passes C2_JIT_CONF, whose extraJavaOptions the launcher
    # puts after the C1-only default: C2 is on
    assert vm_option(spark, "TieredStopAtLevel") == "4"


def test_batch_jvm_is_c1_only():
    """A batch job's JVM (the default) is launched C1-only.  One process
    holds one JVM, so a fresh one is started in a child process."""
    script = f"""
import sys
sys.path.insert(0, {os.path.join(REPO, "tests")!r})
from test_session import vm_option
from hdx_metadata_crawler_spark.session import get_spark
spark = get_spark("c1-probe", master="local[1]", shuffle_partitions=1)
print("TieredStopAtLevel", vm_option(spark, "TieredStopAtLevel"))
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "512m"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "TieredStopAtLevel 1" in out.stdout.splitlines()


class _RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def master(self, master):
        return self.config("spark.master", master)

    def appName(self, name):
        return self.config("spark.app.name", name)

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def test_caller_java_options_survive_c1_default(monkeypatch):
    """A JVM not launched yet takes the C1-only flag as a default option,
    and a caller's own extraJavaOptions are kept beside it; the launcher
    puts them after the default, so HotSpot (last occurrence wins) keeps
    the caller's choice."""
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=_RecordingBuilder()))
    # restored at teardown: the conf exports the package root into it
    monkeypatch.setenv("PYTHONPATH", "")
    conf = session.get_spark(
        master="local[2]",
        extra_conf={"spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=4 -Dx=1"},
    )
    assert conf["spark.driver.defaultJavaOptions"] == "-XX:TieredStopAtLevel=1"
    assert conf["spark.driver.extraJavaOptions"] == "-XX:TieredStopAtLevel=4 -Dx=1"
    assert conf["spark.python.daemon.module"] == "hdx_metadata_crawler_spark._worker_daemon"
