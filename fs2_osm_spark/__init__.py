"""fs2_osm_spark — a PySpark-native geospatial / spatial-join / tiling engine.

A from-scratch re-expression of the capabilities of the reference
`gbastkowski/fs2-osm` (OSM entity decode -> normalized tables -> SQL feature
passes) as an idiomatic Spark DataFrame engine, extended with the scale layer
the reference delegates to PostGIS: H3-style hex / S2 cell indexing,
point-in-polygon joins, kNN, z/x/y tiling, dedup / similarity / text-analysis
operators for training-data pipelines, and per-partition lineage checkpoints.

Everything here derives from public knowledge only: the Apache Spark / PySpark
API, the reference repo's observable behavior, and published algorithms.
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


def install_lazy_zip_invalidation() -> None:
    """A stat-stamped ``zipimporter.invalidate_caches``, modelled on CPython
    3.13's fix.

    A PySpark worker calls ``importlib.invalidate_caches()`` before every
    task, and it imports PySpark from ``pyspark.zip``. On CPython 3.10-3.12
    each zipimporter then re-reads the archive's whole directory, once per
    imported pyspark package: ~0.1 s of CPU per task. Installed here, it
    re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs
    from the last read, so an archive rewritten in place is still re-read.
    Unlike 3.13, which drops the cached directory and re-reads it on next
    use, this trusts the stamp: a rewrite that keeps both the size and the
    mtime (within the filesystem's mtime granularity) keeps the stale
    directory. A worker imports this package when it unpickles an engine
    kernel (``rowmap``'s adapters make sure of it), so its tasks after that
    pay one ``os.stat`` per importer instead.

    Does nothing on Python >= 3.13 (already lazy there), when
    ``zipimporter`` has no ``invalidate_caches``, or when already installed.
    """
    cls = zipimport.zipimporter
    original = getattr(cls, "invalidate_caches", None)
    if sys.version_info >= (3, 13) or original is None or original.__module__ == __name__:
        return
    read_at = {}  # archive -> (st_mtime_ns, st_size) it was last read at

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return
        original(self)
        read_at[self.archive] = stamp

    cls.invalidate_caches = invalidate_caches


install_lazy_zip_invalidation()
