"""PySpark worker daemon that keeps Spark's bundled archives off the import path.

Before every task the PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
directory, and a stock worker holds sixteen of them: ``pyspark.zip`` and its
sub-packages, the py4j zip, and the ``spark-core`` jar Spark puts on the
worker path (5,000+ entries, no Python at all). Together that is 160-250 ms
of every task, before the task does anything.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Spark starts the daemon once per context, and every worker is forked from it,
so cleaning the import state here cleans it for all workers:

* ``.jar`` entries are always dropped;
* ``$SPARK_HOME/python/lib/pyspark.zip`` and ``py4j-*-src.zip`` are dropped
  only when ``pyspark`` and ``py4j`` are importable without them, so workers
  then run the same installed PySpark as the driver;
* every other entry, a user's zip on ``PYTHONPATH`` included, is kept.

Dropped archives are removed from ``sys.path`` *and* their keys (sub-package
keys such as ``.../pyspark.zip/pyspark/sql`` too) from
``sys.path_importer_cache``: ``PathFinder.invalidate_caches`` walks the
cache, not ``sys.path``, so cleaning the path alone saves nothing.

Run as ``python -m rp_extract_spark.worker_daemon``; it then hands over to
``pyspark.daemon.manager()``. Nothing may import ``pyspark`` before
:func:`clean_import_state` runs, or the daemon would fork workers holding
modules from the archive it is about to drop.
"""

from __future__ import annotations

import fnmatch
import os
import sys
from collections.abc import Iterable

ARCHIVE_SUFFIXES = (".zip", ".jar")
SPARK_ZIPS = ("pyspark.zip", "py4j-*-src.zip")


def archive_of(entry: str) -> str | None:
    """The archive file an import-path entry or importer-cache key lies in
    (``/a/pyspark.zip/pyspark/sql`` -> ``/a/pyspark.zip``), or None."""
    parts = os.path.normpath(entry).split(os.sep)
    for i, part in enumerate(parts):
        if part.lower().endswith(ARCHIVE_SUFFIXES):
            return os.sep.join(parts[:i + 1])
    return None


def dropper(spark_lib_dirs: Iterable[str], installed_ok: bool):
    """The archive rule as a predicate over path entries and cache keys:
    an entry inside a jar is always dropped; one inside Spark's own zips
    under ``spark_lib_dirs`` only when the installed copies import."""
    lib_dirs = {os.path.normpath(d) for d in spark_lib_dirs}

    def drop(entry: str) -> bool:
        archive = archive_of(entry)
        if archive is None:
            return False
        if archive.lower().endswith(".jar"):
            return True
        name = os.path.basename(archive)
        return (installed_ok and os.path.dirname(archive) in lib_dirs
                and any(fnmatch.fnmatch(name, pat) for pat in SPARK_ZIPS))

    return drop


def spark_lib_dirs() -> list[str]:
    """``$SPARK_HOME/python/lib`` as given and with symlinks resolved."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        return []
    lib = os.path.join(home, "python", "lib")
    return sorted({os.path.normpath(lib), os.path.realpath(lib)})


def _installed_imports(path: list[str]) -> bool:
    """Whether ``pyspark`` and ``py4j`` resolve on ``path`` (without
    importing them), and neither is loaded yet from somewhere else."""
    from importlib.machinery import PathFinder

    return all(m not in sys.modules and PathFinder.find_spec(m, path) is not None
               for m in ("pyspark", "py4j"))


def clean_import_state() -> None:
    """Apply the archive rule to this process."""
    lib_dirs = spark_lib_dirs()
    drop = dropper(lib_dirs, installed_ok=True)
    if not _installed_imports([e for e in sys.path if not drop(e)]):
        drop = dropper(lib_dirs, installed_ok=False)
    sys.path[:] = [e for e in sys.path if not drop(e)]
    for key in [k for k in sys.path_importer_cache if drop(k)]:
        del sys.path_importer_cache[key]
    # A namespace package found only inside a dropped archive (the jar's
    # ``org``, which the stdlib's Jython probe in ``copy``/``pickle``
    # imports) keeps its stale ``__path__``, and the next lookup under it
    # would cache a fresh importer for the archive.
    for name, mod in list(sys.modules.items()):
        locations = list(getattr(mod, "__path__", None) or ())
        if (locations and getattr(mod, "__file__", None) is None
                and all(drop(p) for p in locations)):
            del sys.modules[name]


if __name__ == "__main__":
    clean_import_state()
    import pyspark.daemon

    pyspark.daemon.manager()
