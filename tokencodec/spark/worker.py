"""Python-worker import setup: zip archives re-read only when they change.

PySpark's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
at the start of every task. On Python 3.11/3.12 every cached
``zipimporter`` then re-parses its archive's whole directory in pure
Python — ``pyspark.zip`` alone has ~1,300 entries and sits behind a
dozen importers — which costs ~0.2 s of CPU per task before any kernel
runs. ``install()`` swaps in a ``zipimporter`` that skips the re-read
while the archive's ``(st_mtime_ns, st_size)`` is the one last read, so
an archive rewritten in place is still picked up as before.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) when it was last read here;
# process-wide, like zipimport's own directory cache it vouches for
_read_at: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StatCheckedZipimporter(zipimport.zipimporter):
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        unchanged = stamp is not None and stamp == _read_at.get(self.archive)
        if files is None or not unchanged:
            _read_at[self.archive] = stamp  # taken before the read
            super().invalidate_caches()
        elif hasattr(self, "_files"):
            # <= 3.12 hold the directory per instance: pick up a re-read
            # another importer of the same archive made
            self._files = files


def install() -> None:
    """Use ``StatCheckedZipimporter`` for every zip path entry, including
    those already cached, whose archives are read once here so the next
    ``importlib.invalidate_caches()`` reads none. Idempotent."""
    hooks = sys.path_hooks
    for i, hook in enumerate(hooks):
        if hook is zipimport.zipimporter:
            hooks[i] = StatCheckedZipimporter
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if type(finder) is zipimport.zipimporter:
            try:
                finder = StatCheckedZipimporter(path)
            except zipimport.ZipImportError:
                continue  # archive gone: keep the stock importer
            finder.invalidate_caches()  # first per archive reads it
            cache[path] = finder
