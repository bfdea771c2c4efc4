"""Startup hook for every Python process Spark launches for this engine.

``session.get_spark`` puts this directory on the ``PYTHONPATH`` the JVM
inherits, so CPython's ``site`` module imports this file at startup in
every worker, daemon and data-source planner process. The directory
holds nothing else, so the path entry exposes no other module.

It installs one thing: a zipimport cache-invalidation guard. PySpark's
worker ``main()`` calls ``importlib.invalidate_caches()`` on every task
and every planner call (``worker_util.setup_spark_files``). On Python
3.11, ``zipimporter.invalidate_caches()`` re-reads the archive's whole
central directory unconditionally, so each call re-parses
``pyspark.zip``, the py4j zip and any shipped package zip. The guard
skips that re-read while the archive's ``(mtime_ns, size)`` is the one
recorded when its directory was last read. A rewritten archive still
invalidates. CPython 3.12 changed this method, so the guard is installed
only on 3.11 and older, where the re-read is unconditional.

After installing the guard, the hook runs the ``sitecustomize`` this
file shadows: the next one on ``sys.path``, if any.
"""

import os
import sys
import zipimport

# archive path -> (mtime_ns, size) when its directory was last read
_read_keys = {}


def _archive_key(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    # full-resolution mtime: an archive rebuilt within the same second
    # at the same size must still invalidate
    return (st.st_mtime_ns, st.st_size)


_orig_read_directory = zipimport._read_directory
_orig_invalidate = zipimport.zipimporter.invalidate_caches


def _read_directory_keyed(archive):
    # stat BEFORE the read: a rewrite racing the read leaves an older
    # key, which forces the next invalidation to re-read
    key = _archive_key(archive)
    files = _orig_read_directory(archive)
    _read_keys[archive] = key
    return files


def _invalidate_if_changed(self):  # noqa: ANN001 - stdlib signature
    key = _archive_key(self.archive)
    if (
        key is not None
        and _read_keys.get(self.archive) == key
        and self._files is zipimport._zip_directory_cache.get(self.archive)
    ):
        return None
    return _orig_invalidate(self)


def _run_shadowed_sitecustomize():
    import importlib.machinery

    here = os.path.dirname(os.path.abspath(__file__))
    entries = [os.path.abspath(p or os.curdir) for p in sys.path]
    later = entries[entries.index(here) + 1:] if here in entries else []
    spec = importlib.machinery.PathFinder.find_spec(
        "sitecustomize", [p for p in later if p != here]
    )
    if spec is not None:
        import importlib.util

        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)


if sys.version_info < (3, 12):
    zipimport._read_directory = _read_directory_keyed
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    if __name__ == "sitecustomize":
        # The sys.path scan that found this file already read the
        # directories of the archives ahead of it (pyspark.zip, py4j),
        # moments ago in this interpreter's startup. Key them as read
        # now, so a daemon's forked children skip their first re-read.
        for _archive in list(zipimport._zip_directory_cache):
            _read_keys[_archive] = _archive_key(_archive)

if __name__ == "sitecustomize":
    _run_shadowed_sitecustomize()
