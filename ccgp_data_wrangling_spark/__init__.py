"""ccgp_data_wrangling_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of the reference repo
cademirch/ccgp-data-wrangling (a pandas+pymongo pipeline collection),
extended with large-scale training-data-pipeline operators
(deduplication, similarity search, text analysis, multimodal columns).

Design stance (SURVEY.md §7.0):
  * DataFrame/SQL declarative plans; Catalyst/Tungsten pick physical
    strategy. No RDD code.
  * Tables are parquet with explicit schemas; MERGE semantics are
    implemented as join-based copy-on-write (operators.merge).
  * Every operator is designed for multi-executor scale (partitioned,
    shuffle-aware, no driver materialization), even though tests run
    on local[*].
"""

# imported for its effect: Python workers stop re-reading pyspark.zip
# on every task (see the module)
from ccgp_data_wrangling_spark import _zipcache  # noqa: F401
from ccgp_data_wrangling_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
