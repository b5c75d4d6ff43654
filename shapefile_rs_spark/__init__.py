"""shapefile_rs_spark — a PySpark-native spatial-join + tiling engine.

Re-expresses the capabilities of the reference shapefile library
(tmontaigu/shapefile-rs, studied read-only at /root/reference) as an
idiomatic Spark engine: numpy codecs inside Arrow/pandas UDFs, WKB geometry
columns, cell-equi spatial joins, kNN, raster-tile assignment, and the
training-data pipeline operators (dedup, similarity search, text analysis)
over Common-Crawl-style page tables.
"""

from shapefile_rs_spark import _worker

__version__ = "0.1.0"

_worker.install()
