"""Python < 3.12: re-read a zip archive's directory only when the file
changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, ``setup_spark_files``). Up to
CPython 3.11, ``zipimport.zipimporter.invalidate_caches`` then re-reads
the archive's central directory, once for each of the importers that
point into it: a worker holds about 16 into ``pyspark.zip``, which cost
an Arrow task about 150 ms before it saw a row. CPython 3.12 made the
re-read lazy (gh-103200).

On older Pythons this module, imported by the package, replaces
``zipimport._read_directory`` with a version that records each
archive's ``(st_mtime_ns, st_size)`` as it reads it, and
``zipimporter.invalidate_caches`` with one that re-reads only when the
archive's current stamp differs from the recorded one. A changed zip is
still picked up, which is what ``invalidate_caches`` is for. A rewrite
that keeps both the size and the modification time is not seen, as with
the stamps that ``importlib`` keeps for source directories. An archive
read before the package was imported has no stamp, so its first
``invalidate_caches`` still re-reads it, once for all its importers.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> its (st_mtime_ns, st_size) when its directory was last read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive, _read=zipimport._read_directory):
    _stamps.pop(archive, None)
    stamp = _stamp(archive)  # before the read: a later change re-reads
    files = _read(archive)
    if stamp is not None:
        _stamps[archive] = stamp
    return files


def _invalidate_caches(self, _stock=zipimport.zipimporter.invalidate_caches):
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamp(self.archive)
    if files is not None and stamp is not None and _stamps.get(self.archive) == stamp:
        self._files = files
    else:
        _stock(self)


if sys.version_info < (3, 12):
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
