"""Spark's Python daemon (``pyspark.daemon``) with one change: a zip
archive's directory is re-read only when the archive has changed.

pyspark's worker calls ``importlib.invalidate_caches()`` before every task.
On Python 3.11 that makes every ``zipimporter`` re-read its archive's whole
directory: a worker holds ~14 of them over pyspark.zip and the py4j zip, so
each task paid 58-84 ms of CPU for nothing. Python workers fork from this
daemon and inherit the check. ``session.get_spark`` sets
``spark.python.daemon.module`` to this module.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}  # archive -> stamp at its last read


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    its (st_mtime_ns, st_size) differs from the one seen at its last read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stamps.pop(self.archive, None)
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if cached is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
        return None
    # stamped before the read, so a write racing the read re-reads next time
    _stamps[self.archive] = stamp
    return _reread(self)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark import daemon

    daemon.manager()
