"""mapreduce_simple_go_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of login256/MapReduce-Simple-Go
(MIT 6.824 lab skeleton, Lab 1 MapReduce implemented), re-expressed
Spark-first, plus the large-scale training-data-pipeline operators the
reference's paradigm leads to (dedup, similarity search, text analysis,
multimodal columns, streaming state).

Public surface:
- :func:`mapreduce_simple_go_spark.session.get_spark` — tuned SparkSession.
- :class:`mapreduce_simple_go_spark.engine.Engine` — facade: generic
  ``map_reduce`` (reference-parity UDF contract) + every named query.
- ``mapreduce_simple_go_spark.operators.*`` — the individual operators,
  each with a colocated DuckDB oracle for differential testing.
"""

from .session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
