"""geetiles_spark — a from-scratch PySpark-native tiling + spatial-join
engine with the query/data-processing capabilities of rramosp/geetiles.

Architecture: DataFrame-first.  Logical plans are declared with the
pyspark.sql API so Catalyst handles pushdown/pruning/join planning; the
geospatial math that Spark lacks lives in pure-numpy kernels
(:mod:`geetiles_spark.geo`) invoked from Arrow-batched ``mapInPandas`` /
pandas UDF stages — never per-row Python.

Importing the package installs :mod:`geetiles_spark._zipimport`, which
stops each Python worker task from re-parsing unchanged zip archives.
"""

from . import _zipimport  # noqa: F401  (installed for its effect)

__version__ = "0.1.0"
