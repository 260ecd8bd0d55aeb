"""Python worker daemon that imports pyspark from the interpreter, not Spark's zips.

Spark puts ``pyspark.zip``, ``py4j-*.zip`` and ``spark-core_*.jar`` first on
every worker's PYTHONPATH, and each task's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, which on Python <= 3.12 re-reads every zip
archive a ``zipimporter`` holds: 0.15-0.25 s per task for these three
(Python 3.11, shared 4-vCPU host). This module drops exactly those archives
before pyspark is imported, so workers use the pyspark the driver imported.
If pyspark is not importable without them, they go back and the daemon runs
as Spark's default would.
"""

import os
import re
import sys

_SPARK_ARCHIVE = re.compile(r"pyspark\.zip|py4j-.*\.zip|spark-core_.*\.jar")


def without_spark_archives(path):
    """``path`` without Spark's own archives; every other entry kept in order."""
    return [p for p in path if not _SPARK_ARCHIVE.fullmatch(os.path.basename(p))]


def import_daemon():
    saved = list(sys.path)
    sys.path[:] = without_spark_archives(saved)
    for p in set(saved) - set(sys.path):
        sys.path_importer_cache.pop(p, None)   # runpy's importers for ``-m``
    try:
        import pyspark.daemon
    except ImportError:
        for name in [m for m in sys.modules if m.split(".")[0] in ("pyspark", "py4j")]:
            del sys.modules[name]
        sys.path[:] = saved
        import pyspark.daemon
    return pyspark.daemon


if __name__ == "__main__":
    import_daemon().manager()
