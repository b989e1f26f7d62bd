"""SparkSession factory tuned for this engine.

Settings chosen for the 100 TB design point but safe in local mode:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting — the
  hdx.humdata.org host hotspot in the crawl frontier is a textbook skew key).
- Arrow execution on (all our Python UDFs are pandas/Arrow-vectorized; the
  reference's per-row Python loops are exactly what we refuse to reproduce).
- Shuffle partitions default to the core count locally; on a real cluster this
  is overridden to ~2-3x total cores via ``spark.sql.shuffle.partitions``.
- Local masters run Python workers from ``_worker_daemon``: a daemon that
  imports numpy, pandas, pyarrow, PySpark's worker and pandas serializers and
  this package's UDF-defining modules once, then forks.  Measured on a 4-core
  host, the Python boundary cost was a fixed charge per task, not per Arrow
  batch: each forked worker re-imported that stack (~0.45 s), and each task
  re-read ``pyspark.zip``'s directory once per cached zip finder (~0.3 s of
  CPU).  The daemon drops the zip finders after its imports and freezes the
  imported objects out of the worker's per-task ``gc.collect()`` (~50 ms
  per task when they are not frozen).  Local workers run beside this
  process, with its filesystem and environment, so the package root is put
  on the ``PYTHONPATH`` the JVM inherits.  Cluster masters keep the stock daemon:
  there the package arrives per task (``--py-files``), after the daemon has
  started.
- A new JVM on a local master is launched with ``-XX:TieredStopAtLevel=1``
  (``spark.driver.defaultJavaOptions``): it compiles with C1 only.  In local
  mode that one JVM runs the driver and every task, and each batch job
  starts a fresh one.  Measured per thread on a 4-core host, one crawl spent
  ~50 s of CPU in C2 compiler threads against ~15 s in task threads.  C2 was
  compiling Spark's control plane, not the data path: JDK internals, the
  Janino code generator, catalyst, task serialization, the Scala library;
  generated classes took 0% of it.  C1-only halved the CPU of a crawl batch
  job and of an analytics-board pass.  The trade: interpreted higher-order
  functions over ``md5`` hashes (``minhash_lsh_dedup``'s
  ``transform``/``array_min``) lose C2's inlining and run ~2 s slower, and a
  process that runs many jobs over minutes can lose overall: C1-only made
  the 142-query ``tools/verify_local.py`` run 175 -> 253 s and the test
  suite 642 -> 1016 s.  Such callers pass ``extra_conf=C2_JIT_CONF``.
  Spark's launcher puts ``spark.driver.extraJavaOptions`` after the default
  options, and HotSpot keeps a flag's last occurrence, so the caller's
  ``-XX:TieredStopAtLevel=4`` wins.  Cluster masters keep stock HotSpot.
"""

from __future__ import annotations

import os
import re

from pyspark import SparkContext
from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DAEMON_MODULE = f"{__package__}._worker_daemon"
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")

# extra_conf that brings C2 back in a new local-master JVM
C2_JIT_CONF = {"spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=4"}


def _local_master_conf(master: str) -> dict[str, str]:
    """What a local master gets: the preloading ``spark.python.daemon.module``
    and a C1-only JIT.  Empty for any other master (stock daemon, stock
    HotSpot).

    A JVM not launched yet inherits ``os.environ``, so the package root is
    exported first, and it takes the JIT flag.  A JVM already running keeps
    the flags and environment it was launched with; the daemon is selected
    only if that environment has the root."""
    if not _LOCAL_MASTER.fullmatch(master):
        return {}
    if SparkContext._gateway is None:
        paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        if _PACKAGE_ROOT not in paths:
            os.environ["PYTHONPATH"] = os.pathsep.join([_PACKAGE_ROOT, *paths])
        return {
            "spark.python.daemon.module": _DAEMON_MODULE,
            "spark.driver.defaultJavaOptions": "-XX:TieredStopAtLevel=1",
        }
    jvm_paths = (SparkContext._jvm.System.getenv("PYTHONPATH") or "").split(os.pathsep)
    if _PACKAGE_ROOT not in jvm_paths:
        return {}
    return {"spark.python.daemon.module": _DAEMON_MODULE}


def get_spark(
    app_name: str = "hdx-metadata-crawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in {**_local_master_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
