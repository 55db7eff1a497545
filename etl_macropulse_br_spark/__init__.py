"""etl_macropulse_br_spark — a PySpark-native analytics/ETL engine.

Re-implements (Spark-first, not a port) the capabilities of the
reference pipeline MariaDeNazare/etl-macropulse-br: a medallion
(bronze/silver/gold) ETL over Brazilian macroeconomic data, plus a
generic DataFrame/SQL query surface and large-scale training-data
operators (dedup, similarity search, text analysis).

Design stance (SURVEY.md §7.0):
- One lazy DataFrame DAG per pipeline; materialize only at sinks.
- Zero Python UDFs on the parity path — every reference transform
  compiles to Catalyst expressions (predicate pushdown, column
  pruning, whole-stage codegen all apply).
- Arrow-vectorized pandas UDFs only for extension operators whose
  semantics the built-ins cannot express (similarity scoring,
  sequence packing).
- Broadcast small dimensions; partitioned writes; AQE on.
"""

from etl_macropulse_br_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
