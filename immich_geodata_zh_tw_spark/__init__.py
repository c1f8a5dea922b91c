"""immich_geodata_zh_tw_spark — a PySpark-native reverse-geocoding / spatial-join engine.

A from-scratch re-expression of the capabilities of the reference repo
``RxChi1d/immich-geodata-zh-tw`` (a single-machine Polars/GeoPandas ETL that
builds Immich's reverse-geocode data) as a distributed, Spark-first engine:

* grid-cell spatial index (H3-style integer cells) + k-ring candidate generation
* broadcast point-in-polygon joins (cell prefilter + exact vectorized refine)
* kNN (k=1) naming joins against a cities500-style point table
  (the Immich runtime semantic, reference README.md:103)
* the reference's tabular operator inventory (SURVEY.md §2) as DataFrame plans
* web-scale extract stage: Arrow UDFs over ``html:binary`` pages
* manifest-based resume; dense cells need no skew code, since each page
  batch is geocoded in the task that read it, in one Arrow pass against a
  broadcast reference (no repartition, no join)

Everything is built on public PySpark APIs; geometry kernels are dependency-free
numpy (no shapely/h3/pyproj in this environment).

Importing the package also makes ``zipimport.zipimporter.invalidate_caches``
re-read an archive only when the archive changed, on Python < 3.12.  PySpark's
worker calls ``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``), and on Python 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
central directory: 17 importers in a worker (pyspark.zip twelve times, the
spark-core jar twice, py4j twice, this package's zip once), 26,672 entries
besides this package's 58, 0.21-0.23 s per task on a 4-core host — about eight
times the geocode kernel's own work on 8,000 pages.  CPython 3.12 made this
invalidation lazy (gh-103200).  Every engine function a worker unpickles
imports this package, after that task's invalidation; the worker's next
invalidation reads each distinct archive once (4 reads, not 17) and every
later one reads none.
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


def _install_lazy_zip_invalidation() -> None:
    """Replace ``zipimporter.invalidate_caches`` by one that keeps the
    directory read last in this process while the archive's
    ``(st_mtime_ns, st_size, st_ino)`` is unchanged.  A first read, a
    rewritten or replaced archive and a missing one go to the stdlib method
    (which empties ``_files`` for a missing archive).  Idempotent."""
    stdlib = zipimport.zipimporter.invalidate_caches
    if getattr(stdlib, "_stat_checked", False):
        return
    read_keys: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except (OSError, ValueError):
            key = None  # missing: the stdlib method empties ``_files``
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None \
                and read_keys.get(self.archive) == key:
            self._files = files
            return
        # stat before the read: an archive replaced in between is read again
        # at the next call instead of being kept under the newer key
        stdlib(self)
        read_keys[self.archive] = key

    invalidate_caches.__doc__ = stdlib.__doc__
    invalidate_caches._stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 12):
    _install_lazy_zip_invalidation()
