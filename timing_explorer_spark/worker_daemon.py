"""Python worker daemon: ``pyspark.daemon`` on a cheaper import path.

Every Python task calls ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``), and CPython 3.11 re-reads the entry table
of every cached zipimporter on each call: two for the spark-core jar Spark
puts on the worker path (~5k entries) and one per pyspark.zip subpackage,
~150-200 ms per task on a 4-core host. Before handing over to
``pyspark.daemon`` this drops the ``.jar`` path entries and imports PySpark
from the unpacked ``$SPARK_HOME/python`` tree beside pyspark.zip (the zip is
kept when that tree is absent). ``session.get_spark`` selects this module
through ``spark.python.daemon.module``.
"""

import os
import sys


def _trim_import_path() -> None:
    dropped, path = [], []
    for entry in sys.path:
        tree = os.path.dirname(os.path.dirname(entry))
        if entry.endswith(".jar"):
            dropped.append(entry)
            continue
        if entry.endswith("pyspark.zip") and os.path.isfile(
            os.path.join(tree, "pyspark", "__init__.py")
        ):
            dropped.append(entry)
            entry = tree
        if entry not in path:
            path.append(entry)
    sys.path[:] = path
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _trim_import_path()
    from pyspark import daemon

    daemon.manager()
