"""Python-worker entry point: ``pyspark.daemon`` without the per-task
zip re-read.

Spark starts its Python workers with ``python -m <daemon module>`` and a
``PYTHONPATH`` that puts ``$SPARK_HOME/python/lib/pyspark.zip`` and the
py4j source zip ahead of site-packages. Two costs follow:

* every task calls ``importlib.invalidate_caches()``
  (``pyspark.worker_util.setup_spark_files``), and before Python 3.13
  each ``zipimporter`` then re-reads its whole archive directory. There
  is one zipimporter per pyspark package path, and pyspark.zip holds
  ~1,300 entries, so a reused worker spends ~200 ms of CPU per task in
  ``zipimport._read_directory`` before it runs any user code;
* the zip ships no ``.pyc``, so each daemon compiles pyspark from source
  (importing ``pyspark.daemon`` costs ~1.7 s of CPU from the zip and
  ~0.7 s from site-packages on a 4-vCPU x86 box).

``session.get_spark`` sets ``spark.python.daemon.module`` to this
module. Before it hands over to ``pyspark.daemon.manager()`` it:

1. drops the bundled zips from ``sys.path`` and
   ``sys.path_importer_cache`` when the installed pyspark is the same
   release (identical ``pyspark/version.py`` bytes); the py4j zip goes
   only if py4j is installed too;
2. makes ``zipimporter.invalidate_caches`` re-read an archive only when
   its mtime or size changed, for the zips that stay on the path
   (a mismatched pyspark, ``--py-files`` archives).

The forked workers inherit both. To run Spark's own daemon instead,
pass ``extra={"spark.python.daemon.module": "pyspark.daemon"}``.
"""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport
from importlib.machinery import PathFinder

def _zip_entries(path: list[str]) -> tuple[list[str], list[str]]:
    """(pyspark zips, py4j zips) on ``path``, by file name."""
    pyspark, py4j = [], []
    for p in path:
        name = os.path.basename(p)
        if name == "pyspark.zip":
            pyspark.append(p)
        elif name.startswith("py4j-") and name.endswith(".zip"):
            py4j.append(p)
    return pyspark, py4j


def _installed_version_bytes(search: list[str]) -> bytes | None:
    """Bytes of ``pyspark/version.py`` found on ``search`` (no zips)."""
    spec = PathFinder.find_spec("pyspark", search)
    if spec is None or spec.origin is None:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


def _zip_version_bytes(archive: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return z.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def drop_bundled_zips(path: list[str] | None = None) -> list[str]:
    """Remove Spark's bundled pyspark/py4j zips from ``path`` (default
    ``sys.path``) when the installed pyspark matches them byte for byte
    in ``pyspark/version.py``. Returns the entries removed."""
    path = sys.path if path is None else path
    pyspark_zips, py4j_zips = _zip_entries(path)
    if not pyspark_zips:
        return []
    rest = [p for p in path if p not in pyspark_zips and p not in py4j_zips]
    installed = _installed_version_bytes(rest)
    if installed is None or any(
        _zip_version_bytes(z) != installed for z in pyspark_zips
    ):
        return []
    drop = list(pyspark_zips)
    if PathFinder.find_spec("py4j", rest) is not None:
        drop += py4j_zips
    path[:] = [p for p in path if p not in drop]
    for key in list(sys.path_importer_cache):
        if any(key == z or key.startswith(z + os.sep) for z in drop):
            del sys.path_importer_cache[key]
    return drop


def _signature(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def guard_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` a no-op for archives whose
    (mtime, size) has not changed since they were last read."""
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    # archives already read at start-up count as current
    seen = {a: _signature(a) for a in list(zipimport._zip_directory_cache)}

    def invalidate_caches(self):
        sig = _signature(self.archive)
        if sig is not None and seen.get(self.archive) == sig:
            # another importer of this archive may have re-read it
            cached = zipimport._zip_directory_cache.get(self.archive)
            if cached is not None:
                self._files = cached
            return
        reread(self)
        seen[self.archive] = sig

    cls.invalidate_caches = invalidate_caches


def main() -> None:
    if "pyspark" not in sys.modules:  # not yet imported from the zip
        drop_bundled_zips()
    guard_zip_invalidation()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
