"""PySpark-native spatial-join + tiling analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of SpatialDataCommons/CDR-analysis-tools-hadoop
(reference at /root/reference, Hive-on-Hadoop + Java UDF jars),
re-targeted at Spark DataFrames + vectorized pandas/Arrow UDFs per
BASELINE.json: H3/S2-style cell indexing, broadcast point-in-polygon
joins, cell-ring kNN, raster<->vector tile pyramids, OD matrices and
trajectory analytics over an image+caption anchor table.

Nothing here is a port: the reference drives HiveQL templates through
a thrift cursor (reference Common/hive_connection.py:13-17); this
engine declares Catalyst logical plans with the DataFrame API and
keeps all hot-path compute JVM-side or Arrow-vectorized.
"""

__version__ = "0.1.0"

# every engine kernel imports this package in the Python worker that
# unpickles it; there this makes later tasks skip re-reading unchanged
# zip archives (a no-op on the driver and on CPython >= 3.13)
from . import _worker_zipimport  # noqa: E402,F401
