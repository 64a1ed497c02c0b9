"""PySpark-native analytics engine with the capabilities of
bitsofinfo/hadoop-fixedlengthinputformat (MAPREDUCE-1176).

The reference (``/root/reference/fixedLengthInputFormat``) is a Hadoop
InputFormat/RecordReader pair for fixed-length binary records
(FixedLengthInputFormat.java:37-75).  This engine re-expresses that scan
layer as a Spark 4 Python Data Source (``sources.fixedlen``) and layers
the full relational / streaming / LLM-pipeline query surface on top of
stock DataFrame / Catalyst — see SURVEY.md §2.3 for the declared
capability contract.

Layout:
    sources/    fixed-length data source (batch + stream), fixture codecs
    operators/  relational operator query definitions (B-F families)
    functions/  scalar-function families, UDF surface, LLM-pipeline ops
    streaming/  Structured Streaming operators (H family)
    plans/      plan-inspection helpers (pushdown / broadcast assertions)

Importing the package installs ``_zipcache``'s stat-guarded zipimport
refresh (Python < 3.13): every Spark Python worker that unpickles engine
code imports this module, so reused workers stop re-reading pyspark.zip
and the Spark jar on every call.
"""

from hadoop_fixedlengthinputformat_spark import _zipcache

_zipcache.install()

from hadoop_fixedlengthinputformat_spark.registry import QUERIES, ORACLES, query  # noqa: E402

__version__ = "0.1.0"

__all__ = ["QUERIES", "ORACLES", "query", "__version__"]
