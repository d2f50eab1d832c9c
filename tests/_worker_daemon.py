"""Python worker daemon for the test session: pyspark's own daemon,
importing pyspark from site-packages instead of Spark's zip archives.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar at the head of every Python worker's ``sys.path``.  The
worker calls ``importlib.invalidate_caches()`` once per task, and on
Python 3.11 that makes every cached ``zipimporter`` re-read its archive's
central directory: about 0.2 s per Python task, paid by every action
over a ``createDataFrame(list)`` frame.  The driver already imports the
installed pyspark of the same version, so the workers use it as well.

Enabled by ``tests/conftest.py`` through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import sys


def _is_archive(path: str) -> bool:
    return path.endswith((".zip", ".jar")) or ".zip/" in path or ".jar/" in path


sys.path[:] = [p for p in sys.path if not _is_archive(p)]
for _p in [p for p in sys.path_importer_cache if _is_archive(p)]:
    del sys.path_importer_cache[_p]

from pyspark import daemon  # noqa: E402

if __name__ == "__main__":
    daemon.manager()
