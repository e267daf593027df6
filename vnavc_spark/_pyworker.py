"""Python daemon entry for local-mode sessions: ``pyspark.daemon`` with
a zip importer that re-reads its archive only when the archive changed.

Before every task the worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.10-3.12 that
makes every ``zipimporter`` on ``sys.path_importer_cache`` re-read its
archive's central directory at once. pyspark's subpackages leave 16
importers over ``pyspark.zip`` (1,328 entries) in a worker, so each
task paid 0.16 s of Python CPU before touching a row: on a 4-core host
a warm 5-row pandas UDF action over 4 tasks took 0.46 s, against
0.07 s for a native one, and 0.17 s with this module. CPython 3.13
only drops the cache entry there, so the patch is not installed on it.

The patched ``invalidate_caches`` keeps the current directory while the
archive's ``(st_mtime_ns, st_size)`` equals the stat taken when that
directory was read, and otherwise runs the original method. A rewritten
archive is still re-read, directory finders are untouched, and a new
``addPyFile`` path still gets a fresh importer.

``session.get_spark`` names this module in ``spark.python.daemon.module``
for ``local`` masters only; the JVM runs it as
``python -m vnavc_spark._pyworker pyspark.worker``, so
``pyspark.daemon`` still picks its worker module from ``argv[1]``.
Spark keeps one daemon per worker environment, so ``get_spark`` also gives
RDD-path Python the ``SPARK_SIMPLIFIED_TRACEBACK`` that SQL UDFs carry:
one daemon then serves both.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (stat when its directory was read, that directory)
_READ_AT: dict[str, tuple[tuple[int, int], dict]] = {}


def _stat(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _note(imp: zipimport.zipimporter, stamp: tuple[int, int] | None) -> None:
    """Record ``imp``'s directory as read at ``stamp``, unless that
    directory object is already on record with its own stamp."""
    seen = _READ_AT.get(imp.archive)
    if stamp is not None and (seen is None or seen[1] is not imp._files):
        _READ_AT[imp.archive] = (stamp, imp._files)


def install() -> bool:
    """Patch ``zipimport.zipimporter`` in this process; idempotent.
    Returns whether the patch is (now) installed."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13):
        return False
    if getattr(cls.invalidate_caches, "__module__", None) == __name__:
        return True
    orig_init, orig_invalidate = cls.__init__, cls.invalidate_caches

    def __init__(self, path):
        orig_init(self, path)
        _note(self, _stat(self.archive))

    def invalidate_caches(self):
        stamp = _stat(self.archive)
        seen = _READ_AT.get(self.archive)
        if stamp is not None and seen is not None and seen[0] == stamp:
            # the directory read at this stamp is still current; every
            # importer of the archive shares it, as after a re-read
            self._files = seen[1]
            return
        orig_invalidate(self)
        if stamp is not None and self._files:  # read, not dropped
            _READ_AT[self.archive] = (stamp, self._files)

    cls.__init__, cls.invalidate_caches = __init__, invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            _note(imp, _stat(imp.archive))
    return True


def main() -> None:
    # importing the daemon first loads pyspark.worker, so the importers
    # it creates are stamped before any worker is forked
    from pyspark import daemon

    install()
    daemon.manager()


if __name__ == "__main__":
    # run the imported module, so the patched methods report
    # ``vnavc_spark._pyworker`` as their module rather than ``__main__``
    from vnavc_spark._pyworker import main as _main

    _main()
