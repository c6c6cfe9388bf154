"""Python worker daemon for the engine's sessions: ``pyspark.daemon`` whose
zip archives are re-read only when they changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Since Python 3.10 that
calls ``zipimporter.invalidate_caches`` on every zip importer in
``sys.path_importer_cache``, and each call re-reads its archive's whole
directory. A worker's path holds ``pyspark.zip``, the py4j zip and the
spark-core jar (~26.7k entries over 16 importers), so every task re-read
them: 0.21-0.25 s per task inside a reused worker, measured on a 4-core
host, against a few ms of Python work for a small ``mapInPandas`` batch.

Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the one stamped at its last read;
otherwise it adopts the directory already cached for that archive. The stat
is taken before the read, so a change racing the read leaves a stale stamp
and costs one more read, never a stale directory. The daemon seeds the
stamps once before it forks, so every forked worker starts with them. The
patch is installed only when this module runs as the daemon, and not on a
Python whose ``zipimporter`` has no ``invalidate_caches``.

``session.get_spark`` selects this module through
``spark.python.daemon.module`` and puts the package's parent directory on
``spark.executorEnv.PYTHONPATH``, because the daemon is started with
``python -m`` from the driver's cwd.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_STAMPS: dict[str, tuple[int, int] | None] = {}
_reread = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and _STAMPS.get(self.archive) == stamp and cached is not None:
        self._files = cached
        return
    _reread(self)
    _STAMPS[self.archive] = stamp


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` in this process; False (and
    no patch) on a Python that lacks the method."""
    if _reread is None:
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True


if __name__ == "__main__":
    from pyspark import daemon

    if install():
        # one read per archive here; the forked workers inherit the stamps
        importlib.invalidate_caches()
    daemon.manager()
