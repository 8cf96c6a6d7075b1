"""Stat-guarded ``zipimporter.invalidate_caches`` for CPython < 3.13.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task,
and each stock ``zipimporter`` (one per imported subpackage of every zip on
``sys.path``) then re-reads its archive's whole central directory. The guard re-reads
an archive only when its ``(st_mtime_ns, st_size, st_ino)`` changed since
the last re-read, which then serves every importer of that archive; a failed
``stat`` goes to the stock method. From 3.13 the stock method is cheap.
"""

import os
import sys
import zipimport

_STOCK = zipimport.zipimporter.invalidate_caches
_fresh: dict[str, tuple[tuple[int, int, int], dict]] = {}  # archive -> (key, directory)


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except (OSError, ValueError):
        _fresh.pop(self.archive, None)
        _STOCK(self)
        return
    key = (st.st_mtime_ns, st.st_size, st.st_ino)
    seen = _fresh.get(self.archive)
    if seen is not None and seen[0] == key:
        self._files = seen[1]
        return
    _STOCK(self)  # stat first: a change during the read forces a re-read
    _fresh[self.archive] = (key, self._files)


def install() -> None:
    """Idempotent; a no-op from Python 3.13."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
