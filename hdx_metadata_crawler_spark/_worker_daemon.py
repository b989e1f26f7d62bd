"""Python worker daemon that imports the worker stack once, before it forks.

``session.get_spark`` selects this module with ``spark.python.daemon.module``
on local masters; Spark launches it as ``python -m`` and it then runs the
stock ``pyspark.daemon.manager()`` loop, which forks one worker per Python
task slot.  Three fixed costs of the stock daemon's workers go away:

- every forked worker imported numpy, pandas, pyarrow, the pandas/Arrow
  serializers and the package module each UDF was pickled from (~0.45 s per
  worker).  Imported here, they are inherited by every fork and their pages
  are shared copy-on-write.
- ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` at the start of every task, and on
  Python 3.11 each ``zipimporter`` in ``sys.path_importer_cache`` then
  re-reads its whole archive directory: one per package path inside
  ``pyspark.zip`` and the py4j zip, ~0.25-0.3 s of CPU per task.  Once the
  stack is imported those finders have nothing left to find, so they are
  dropped from the cache.  A later import of a module not loaded here
  re-creates the finder it needs; that costs time, never correctness.
- the stock worker loop runs ``gc.collect()`` after every task, and a full
  collection walks every object the worker holds, the ~76k inherited from
  this daemon included (~50 ms per task), writing to their headers and so
  un-sharing their pages.  ``gc.freeze()`` moves everything imported here
  to the permanent generation, which collections skip.

Before the fork the daemon only imports and tidies caches: no module imported
here may start a thread pool or a SparkSession, or use numpy or pyarrow, at
import time.
"""

import gc
import importlib
import pkgutil
import sys
import zipimport

# subpackages whose modules define the pandas/Arrow UDFs that tasks unpickle
_UDF_PACKAGES = ("functions", "operators", "plans", "streaming")


def preload() -> None:
    """Import the worker stack, drop the zip-archive finders and freeze the
    imported objects out of the collector's reach."""
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.daemon  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.sql.pandas.types  # noqa: F401
    import pyspark.sql.pandas.utils  # noqa: F401
    # GroupState.update (applyInPandasWithState) imports it inside the task
    import pyspark.testing.utils  # noqa: F401
    import pyspark.worker  # noqa: F401

    for sub in _UDF_PACKAGES:
        pkg = importlib.import_module(f"{__package__}.{sub}")
        for mod in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
            importlib.import_module(mod.name)
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
    gc.freeze()


if __name__ == "__main__":
    preload()
    from pyspark.daemon import manager

    manager()
