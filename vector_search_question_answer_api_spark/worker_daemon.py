"""Python worker daemon that keeps the import state of its workers warm.

``session.get_spark`` points ``spark.python.daemon.module`` here.  Spark runs
the daemon as ``python -m <this module> pyspark.worker``; it forks one
reusable worker per task slot, and every task then starts with
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``.

On Python 3.11 ``zipimport.zipimporter.invalidate_caches`` re-reads the
archive's whole central directory at once (3.12 made it lazy).  A worker
holds one zipimporter per imported pyspark subpackage over the same
``pyspark.zip`` (1,328 entries), so every task re-read that directory about
16 times before it touched a row.  This module replaces the method with one
that re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
changed since the last read and otherwise hands the importer the directory
``zipimport`` already cached.  A rewritten archive is still re-read and a zip
added later through ``addPyFile`` is a new importer, so imports resolve as
before; ``FileFinder`` caches are invalidated as before.  On Python >= 3.12,
or when zipimport's internals are not the ones patched here, nothing is
installed and the stock method runs.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STOCK = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken before its last directory read
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the directory re-read
    while the archive on disk is unchanged."""
    try:
        archive = self.archive
        stamp = _stamp(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None and _stamps.get(archive) == stamp:
            self._files = files
            return
    except (AttributeError, TypeError):  # internals moved: run the stock method
        _STOCK(self)
        return
    # stamp taken before the read: a rewrite racing the read re-reads next time
    _STOCK(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches``; True when the patch is active.

    Idempotent.  Installs nothing on Python >= 3.12 or when zipimport does
    not expose the directory cache and reader the patch relies on."""
    if sys.version_info >= (3, 12):
        return False
    if not (
        isinstance(getattr(zipimport, "_zip_directory_cache", None), dict)
        and callable(getattr(zipimport, "_read_directory", None))
    ):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True


def main() -> None:
    """Install the patch, then run ``pyspark.daemon``."""
    install()
    import importlib

    from pyspark import daemon

    # stamp the archives the daemon imported from, so forked workers start
    # with a warm record instead of one re-read each on their first task
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run the importable module, not this ``__main__`` copy, so the patch
    # and its stamps belong to the module a worker can name
    from vector_search_question_answer_api_spark.worker_daemon import main as _main

    _main()
