"""deimos_spark — a PySpark-native streaming-ETL + analytics engine.

Re-expresses the capability set of flipp-oss/deimos (Kafka + Avro schema
encoding + relational upsert pipelines; see SURVEY.md) as idiomatic Spark:

- DataFrame/SQL relational surface (SURVEY §2B) — `deimos_spark.operators`
- schema/codec layer (Avro .avsc → StructType, coercion) — `deimos_spark.schemas`,
  `deimos_spark.functions.coerce`
- produce/consume pipelines (compaction, slicing, keyed merge into a
  Delta or Iceberg table) — `deimos_spark.streaming`,
  `deimos_spark.operators.delta_interop`
- CDC poller + outbox relay — `deimos_spark.sources`
- LLM-data operators (dedup, similarity search, text analysis) —
  `deimos_spark.operators.dedup`, `.simsearch`, `deimos_spark.functions.text`

Everything is built on the public PySpark API; architecture notes cite
reference behavior by file:line into /root/reference (read-only, studied for
behavior only — no code was copied).
"""

from deimos_spark.session import get_spark
from deimos_spark.catalog import load_table, register_views

__version__ = "0.1.0"

__all__ = ["get_spark", "load_table", "register_views", "__version__"]
