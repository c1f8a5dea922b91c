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
"""

__version__ = "0.1.0"
