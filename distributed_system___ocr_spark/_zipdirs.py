"""Keep Python workers from re-reading unchanged zip archives per task.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). Where ``SPARK_HOME``
puts ``pyspark.zip`` and the py4j zip on the workers' ``PYTHONPATH``,
pyspark is imported through ``zipimport``, and on CPython < 3.12 each
``zipimporter.invalidate_caches()`` re-parses its archive's whole
central directory. The workers hold one zipimporter per imported
pyspark package, 16 of them over ``pyspark.zip``'s 1,328 entries, so
every Python task spent about 0.15 s of CPU re-reading archives that
never change. CPython 3.12 made the re-read lazy (gh-103200).

Stdlib only: the package imports it, and every worker imports the
package when it unpickles an engine UDF.
"""

from __future__ import annotations

import os
import sys
import zipimport


def reuse_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_mtime_ns, st_size)`` changed since its last re-read.

    An archive's first call still re-reads it (its construction-time
    read carries no stamp), an archive that changed is re-read, and
    one that cannot be ``stat``-ed goes to the original method. Does
    nothing on Python >= 3.12 and changes nothing where no zip is on
    ``sys.path``; applying it twice is the same as once."""
    if sys.version_info >= (3, 12):
        return
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_stat_keyed", False):
        return
    reread = cls.invalidate_caches
    # archive -> (stamp taken before its last re-read, the files it read)
    last_read: dict[str, tuple[tuple[int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            last_read.pop(self.archive, None)
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        last = last_read.get(self.archive)
        if last is not None and last[0] == stamp:
            self._files = last[1]
            zipimport._zip_directory_cache[self.archive] = last[1]
            return
        reread(self)
        if self.archive in zipimport._zip_directory_cache:
            last_read[self.archive] = (stamp, self._files)
        else:  # unreadable: the original method emptied it
            last_read.pop(self.archive, None)

    invalidate_caches._stat_keyed = True
    cls.invalidate_caches = invalidate_caches
