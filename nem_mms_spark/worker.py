"""Python-worker runtime hygiene shared by every engine kernel."""

from __future__ import annotations

import sys
import zipimport


def drop_archive_importers() -> None:
    """Delete every cached ``zipimporter`` from ``sys.path_importer_cache``.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and on Python 3.11 each cached zipimporter answers it
    by re-reading its archive's whole central directory.  Spark puts
    three archives on the worker path (``pyspark.zip``, the py4j zip and
    the spark-core jar), and a warmed worker caches one zipimporter per
    archive package dir it has imported from: 16 were measured on a
    4-vCPU box, and one ``invalidate_caches()`` over them took 170-400 ms
    of the task's start-up.  Dropping them at kernel entry leaves the
    next task's call nothing to re-read.

    Safe by the import system's cache contract: a later import re-creates
    the finder through ``sys.path_hooks``, and the new zipimporter takes
    the archive's directory from ``zipimport._zip_directory_cache``
    (a dict hit).  That cached directory is the one read when the worker
    first imported from the archive; Spark never rewrites a distributed
    archive in place during an application.  Must run on every task, not
    once per worker: any first-time import walks ``sys.path`` and
    re-creates the archives' importers."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
