"""The Python daemon of the sessions that :func:`session.get_spark` builds.

Spark starts its Python workers through ``python -m <daemon module>`` with
Spark's ``pyspark.zip``, the py4j zip and the spark-core jar first on
``PYTHONPATH``. Before every task, pyspark calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``), and on Python 3.11 that makes every ``zipimporter``
in ``sys.path_importer_cache`` re-read its archive's central directory: one
for each pyspark package imported from the zip, and two for the 15 MB jar,
which holds no Python file. With Spark 4.1.2 that cost 0.2 CPU s per task,
more than the TCN forward of a scoring request.

This module fixes the path before pyspark is imported, then runs pyspark's
own daemon (:func:`pyspark.daemon.manager`, which also handles SIGTERM):

- when a directory later on the path (the interpreter's site-packages)
  holds the same pyspark version as the archive that comes first, the
  archive leaves the path, so pyspark is imported from plain files and no
  failed lookup re-opens the archive; with another version the archive
  stays first, as under Spark's default daemon;
- ``.jar`` entries leave the path;
- the importer caches of the path's archives are dropped, so none of a
  removed archive outlives the reorder.

It writes nothing to stdout, where the daemon reports its port. The workers
import it as ``aidc_2018_timeseries_spark.daemon``, so the package must be
importable by them (every engine UDF needs that already) and its
``__init__`` must not import pyspark.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""", re.M)


def _is_archive(entry: str) -> bool:
    return entry.endswith((".zip", ".jar"))


def _pyspark_version(entry: str) -> str | None:
    """Version of the pyspark package that the ``sys.path`` entry holds
    (an archive or a directory), or None when it holds none."""
    try:
        if _is_archive(entry):
            with zipfile.ZipFile(entry) as zf:
                text = zf.read("pyspark/version.py").decode()
        else:
            with open(os.path.join(entry, "pyspark", "version.py")) as fh:
                text = fh.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    m = _VERSION.search(text)
    return m.group(1) if m else None


def worker_path(path: list[str]) -> list[str]:
    """The daemon's ``sys.path``: ``path`` without ``.jar`` entries, and
    without the first archive that holds pyspark when a directory later on
    the path holds the same pyspark version."""
    path = [p for p in path if not p.endswith(".jar")]
    for i, entry in enumerate(path):
        version = _pyspark_version(entry)
        if version is None:
            continue
        if _is_archive(entry) and any(
            not _is_archive(later) and _pyspark_version(later) == version
            for later in path[i + 1 :]
        ):
            return path[:i] + path[i + 1 :]
        return path
    return path


def main() -> None:
    archives = [p for p in sys.path if _is_archive(p)]
    below = tuple(os.path.join(p, "") for p in archives)
    sys.path[:] = worker_path(sys.path)
    for key in list(sys.path_importer_cache):
        if key in archives or key.startswith(below):
            del sys.path_importer_cache[key]

    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
