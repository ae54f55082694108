"""Python-worker process setup: a stat guard on zipimport's cache
invalidation.

PySpark's ``setup_spark_files`` ends every task with
``importlib.invalidate_caches()``. On Python 3.10-3.12 each cached
``zipimporter`` then re-reads its archive's whole directory; a reused
worker holds one importer per subpackage of ``pyspark.zip`` (1,328
entries), plus the py4j zip and the spark-core jar (5,359 entries), so
that one call costs more per task than a small kernel. (Python 3.13
only drops the cache and re-reads lazily.)

:func:`install` puts a stat guard on ``zipimporter.invalidate_caches``:
an archive's directory is re-read only when its ``(st_ino, st_size,
st_mtime_ns, st_ctime_ns)`` differs from the values recorded when the
cached directory was read, so an unchanged archive is read zero times
per task, and one rewritten or replaced (even by a same-size copy with
its mtime kept: the ctime or the inode changes) is re-read once, not
once per importer.

``caspr_spark/__init__.py`` installs the guard when the package is
imported inside a task. Every function the engine ships to Python
workers is marked with :func:`shipped`, so unpickling it there imports
the package even when the function is a closure over numpy, pandas and
arrays only.
"""

import os
import sys
import zipimport

# archive path -> stat stamp when its cached directory was read
_stamps: dict = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns


def _invalidate_caches(self):
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files  # adopt a re-read made by a sibling importer
        return
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp


def install():
    """Guard ``zipimporter.invalidate_caches`` on Python 3.10-3.12; a
    no-op on other versions and when already installed.

    The archives already cached are stamped as they are now: in a Python
    worker this runs while a task is unpickled, just after that task's
    ``invalidate_caches()`` re-read every cached archive."""
    if not (3, 10) <= sys.version_info[:2] < (3, 13) \
            or zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    for archive in list(zipimport._zip_directory_cache):
        stamp = _stamp(archive)
        if stamp is not None:
            _stamps[archive] = stamp
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


def shipped(fn):
    """Mark ``fn``, a function the engine ships to Python workers, so
    that unpickling it in a worker imports ``caspr_spark`` (and so
    installs the guard).

    cloudpickle ships a nested function by value, with only the globals
    its code names: a kernel that uses only numpy, pandas and closed-over
    arrays would never import this package in a worker. A function's
    ``__dict__`` is pickled with it, and :func:`install`, a module-level
    function, is pickled by name, so loading it imports this module.
    ``fn`` itself is returned unchanged (signature and type hints
    included)."""
    fn.worker_setup = install
    return fn
