"""Make ``zipimporter.invalidate_caches`` re-read an archive only when it
changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``worker_util.setup_spark_files``).  On CPython up
to 3.12, ``zipimporter.invalidate_caches`` re-reads the archive's whole
central directory.  A worker imports PySpark from ``pyspark.zip``
(1,328 entries, ~12 ms per read) and holds one zipimporter per imported
sub-package, so every task paid ~16 full directory reads before its
kernel started.

``install`` replaces the method with one that first compares the
archive's ``os.stat`` stamp (mtime_ns, size, inode) with the stamp of
its last read.  Unchanged: the importer gets the directory of that read.
Changed or unreadable: the stdlib method runs as before, so a rewritten
archive is still picked up.  Interpreters whose zipimporter already
reads lazily (it has ``_get_files``, 3.13+) are left alone.

The package ``__init__`` calls ``install``, so a Spark worker gets the
fix once it unpickles a package kernel and keeps it for the later tasks
it runs.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (stat stamp taken before the read, directory it read);
# process-wide like zipimport's own _zip_directory_cache, which it feeds
_directories: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _stat_guarded(eager):
    def invalidate_caches(self):
        """Reload the archive's file data only if the archive changed."""
        archive = self.archive
        stamp = _stamp(archive)
        known = _directories.get(archive)
        if stamp is not None and known is not None and known[0] == stamp:
            self._files = known[1]
            zipimport._zip_directory_cache[archive] = known[1]
            return
        eager(self)
        # the stdlib drops the archive from its cache when the read fails
        if stamp is not None and archive in zipimport._zip_directory_cache:
            _directories[archive] = (stamp, self._files)
        else:
            _directories.pop(archive, None)

    invalidate_caches.stat_guarded = True
    return invalidate_caches


def install() -> bool:
    """Install the stat-guarded method; True when it is in place.
    Idempotent, and never raises: on any surprise zipimport stays as
    the interpreter shipped it."""
    try:
        cls = zipimport.zipimporter
        current = getattr(cls, "invalidate_caches", None)
        if getattr(current, "stat_guarded", False):
            return True
        if (current is None or hasattr(cls, "_get_files")
                or not hasattr(zipimport, "_zip_directory_cache")):
            return False
        cls.invalidate_caches = _stat_guarded(current)
        return True
    except (AttributeError, TypeError):  # e.g. a C zipimporter type
        return False
