"""PySpark's worker daemon, with zip-importer directories kept across tasks.

Run by Spark as ``python -m ocr_spark._daemon`` when ``session.build_session``
sets ``spark.python.daemon.module`` (see that module for when it does). Before
every task PySpark calls ``importlib.invalidate_caches()``; on Python 3.11
that makes each ``zipimporter`` on the worker's path re-read its whole zip
directory (``pyspark.zip`` alone has ~1,300 entries), ~0.2 s of CPU per task
before the task does any work. Here that method is a no-op; the workers are
forked from this daemon and inherit it. Directory finders on the path are
still invalidated as usual. Only zip directories are kept, and the zips on a
worker's path (Spark's own and ``--py-files``) are not rewritten while it
runs: Spark ignores a second ``addPyFile`` of a path it has added.
"""

from __future__ import annotations

import zipimport


def keep_zip_directory(self) -> None:
    """Stands in for ``zipimporter.invalidate_caches``: keep the directory
    read when the importer was made."""


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = keep_zip_directory
    from pyspark import daemon

    daemon.manager()
