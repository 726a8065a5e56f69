"""Skip the zip-archive re-read in ``importlib.invalidate_caches()`` when
the archive has not changed since an importer last read it.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task, and CPython's ``zipimporter.invalidate_caches`` (3.11, 3.12) then
re-reads the whole central directory of every zip on ``sys.path``
(pyspark.zip, py4j, the spark-core jar, ``--py-files`` zips), whether or
not the file changed. Importing ``horus_spark`` installs this check in
every worker that unpickles one of its kernels.
"""

import os
import zipimport


def _skip_unchanged(read):
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            # the stdlib empties the importer; the archive must be read
            # again when it returns, even with the same stat
            self.__dict__.pop("_read_stat", None)
            return read(self)
        stat = (st.st_ino, st.st_size, st.st_mtime_ns)
        if self.__dict__.get("_read_stat") != stat:
            read(self)
            self._read_stat = stat

    invalidate_caches.stdlib = read
    return invalidate_caches


if not hasattr(zipimport.zipimporter.invalidate_caches, "stdlib"):
    zipimport.zipimporter.invalidate_caches = _skip_unchanged(
        zipimport.zipimporter.invalidate_caches
    )
