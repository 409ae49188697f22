"""PySpark's worker daemon with one change: before each task it drops the
package-level zip importers from ``sys.path_importer_cache``.

Every task runs ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``), and on CPython 3.11/3.12 each cached
``zipimporter`` re-reads its archive's whole directory there. Workers
import pyspark from ``pyspark.zip``, so each imported sub-package caches
its own importer over that one archive. Dropping those (non-empty
``prefix``) leaves one re-read per archive: the root importer of each
``sys.path`` entry stays. A dropped entry is rebuilt on the next lookup
from ``zipimport``'s directory cache, without reading the archive.

Run by Spark as ``spark.python.daemon.module`` (``session.get_spark``).
"""

import sys

import pyspark.daemon

_zipimporter = sys.modules["zipimport"].zipimporter  # loaded at interpreter start
_worker_main = pyspark.daemon.worker_main


def trim_importer_cache() -> None:
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, _zipimporter) and finder.prefix:
            del sys.path_importer_cache[path]


def worker_main(infile, outfile):
    trim_importer_cache()
    return _worker_main(infile, outfile)


if __name__ == "__main__":
    pyspark.daemon.worker_main = worker_main
    pyspark.daemon.manager()
