"""courlan_spark — PySpark-native web-scale URL/dedup analytics engine.

A from-scratch engine with the query and data-processing capabilities
of adbar/courlan (reference read-only at /root/reference), re-expressed
Spark-first, fused with a near-duplicate detection + clustering
pipeline (exact dedup, MinHash/LSH, SimHash, suffix-array substring,
connected components) for Common-Crawl-style web pages.

Layers:
    urlkit      pure-Python byte-identity URL semantics (no Spark)
    functions   Arrow-batched pandas UDFs + native Column expressions
    operators   DataFrame operators (dedup, LSH, CC, frontier, sampling)
    sources     deterministic synthetic pages generator, IO helpers
    plans       SparkSession factory, end-to-end pipeline, checkpoints
"""

from ._zipcache import install as _install_zipcache

__version__ = "0.1.0"

# Spark's Python workers reset import caches on every task; keep that
# reset from re-reading pyspark.zip each time (see _zipcache)
_install_zipcache()
