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
"""

from __future__ import annotations

import os
import re

from pyspark import SparkContext
from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DAEMON_MODULE = f"{__package__}._worker_daemon"
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def _python_daemon_conf(master: str) -> dict[str, str]:
    """``spark.python.daemon.module`` for a local master whose JVM can import
    this package; empty otherwise (the stock daemon).

    A JVM not launched yet inherits ``os.environ``, so the package root is
    exported first.  A JVM already running keeps the environment it was
    launched with; the daemon is selected only if that has the root."""
    if not _LOCAL_MASTER.fullmatch(master):
        return {}
    if SparkContext._gateway is None:
        paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        if _PACKAGE_ROOT not in paths:
            os.environ["PYTHONPATH"] = os.pathsep.join([_PACKAGE_ROOT, *paths])
    else:
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
    for k, v in {**_python_daemon_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
