"""sparklyclean_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of
``david-siqi-liu/sparklyclean`` (the Dis-Dedup distributed
deduplication pipeline of Chu, Ilyas & Koutris, VLDB 2016), widened
into a general DataFrame analytics engine for large-scale
training-data pipelines: relational queries, blocked entity
resolution, near-duplicate detection (MinHash/SimHash/n-gram/
embedding), similarity search, text analysis, event windowing, and
ML-based duplicate classification.

Design stance (SURVEY.md §7): every operator is a pure function
``(DataFrame, config) -> DataFrame`` declared with the DataFrame API
so Catalyst/AQE pick the physical strategy; randomness derives from
``xxhash64`` of stable keys; Python runs only driver-side O(k log k)
planning math and Arrow-batched pandas UDFs where DataFrame algebra
genuinely cannot express the semantics.
"""

__version__ = "0.1.0"

from sparklyclean_spark.session import get_spark
from sparklyclean_spark.catalog import load_tables, TABLE_NAMES

__all__ = ["get_spark", "load_tables", "TABLE_NAMES", "__version__"]
