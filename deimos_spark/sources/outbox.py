"""Transactional-outbox table + relay.

Reference behavior (studied from /root/reference/lib/deimos/utils/
outbox_producer.rb, lib/deimos/kafka_message.rb and
docs/DATABASE_BACKEND.md — behavior only):

- producers INSERT encoded messages into an outbox table inside their own
  transaction (id, topic, message BINARY, key BINARY, partition_key,
  created_at);
- a relay repeatedly: picks a topic, reads up to 1000 rows ordered by id,
  optionally compacts keep-last-per-key, produces synchronously, deletes
  the published rows, repeats until drained → at-least-once.

Spark-first: the outbox is a Delta table keyed on a monotonic `id`
(DeltaKeyedTable): appends and deletes are each one optimistic log
commit — deletes are MERGE commits — so a crash leaves the previous
snapshot intact and an append racing a delete makes the delete retry
instead of being lost. The relay is driver-orchestrated (the Spark
driver IS the single writer, so the reference's per-topic DB lock table
is unnecessary). Delivered rows stay on disk until
`table.writer.vacuum()` / `cleanup_log()` reclaim them, as for any other
Delta table. Metrics hook mirrors the reference's pending-count/lag
gauges.
"""

from __future__ import annotations

import threading
import time
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deimos_spark.operators.compaction import compact_keep_last
from deimos_spark.operators.delta_interop import DeltaKeyedTable

OUTBOX_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("topic", T.StringType(), False),
        T.StructField("key", T.BinaryType(), True),
        T.StructField("message", T.BinaryType(), True),
        T.StructField("partition_key", T.BinaryType(), True),
        T.StructField("created_at", T.TimestampType(), False),
    ]
)


class OutboxTable:
    """Keyed message log (reference: kafka_messages table) in a Delta
    table keyed on `id`. Single-writer appends; ids are assigned
    monotonically from the current max at append time."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.table = DeltaKeyedTable(spark, path, ["id"], schema=OUTBOX_SCHEMA)
        self._lock = threading.Lock()

    def read(self) -> DataFrame:
        return self.table.read()

    def append(self, messages: DataFrame) -> None:
        """messages: (key, value, topic[, partition_key]) from the produce
        pipeline → outbox rows with assigned ids."""
        with self._lock:
            current = self.read()
            base = current.agg(F.coalesce(F.max("id"), F.lit(0))).head()[0]
            cols = messages.columns
            pk = F.col("partition_key") if "partition_key" in cols else F.col("key")
            rows = (
                messages.select(
                    F.col("key"),
                    F.col("value").alias("message"),
                    F.col("topic"),
                    pk.alias("partition_key"),
                )
                .withColumn(
                    "id",
                    # single ordered partition: outbox appends are small
                    # per-transaction batches (≤500 in the reference)
                    base
                    + F.row_number().over(
                        Window.orderBy(F.monotonically_increasing_id())
                    ),
                )
                .withColumn("created_at", F.current_timestamp())
                # the table's types (OUTBOX_SCHEMA's until the first
                # commit; a converted parquet-era outbox keeps int ids):
                # base + row_number is int, and schema enforcement
                # refuses a batch whose types differ from the table's
                .select(
                    [F.col(f.name).cast(f.dataType) for f in current.schema.fields]
                )
            )
            self.table.writer.append(rows)

    def delete_ids(self, ids: list[int]) -> None:
        """Remove delivered rows in one MERGE commit (the key set is
        broadcast into an anti-join). A crash before the commit leaves
        every row pending; an append that commits first makes the merge
        retry on the new snapshot, so its rows survive (at-least-once)."""
        # from Arrow, not a list of tuples: a list becomes a Python RDD,
        # and every scan of it starts Python workers
        keys = self.spark.createDataFrame(
            pa.table({"id": pa.array(ids, pa.int64())})
        )
        self.table.merge(delete_keys=keys)

    def pending_count(self) -> int:
        return self.read().count()

    def decode_messages(self, codec) -> DataFrame:
        """A33 decode-for-inspection: view pending messages with payloads
        decoded back to structs (reference: kafka_message.rb#decoded)."""
        return self.read().select(
            "id",
            "topic",
            F.col("key").cast("string").alias("key_str"),
            codec.decode(F.col("message")).alias("payload"),
            "created_at",
        )

    def lag_seconds(self) -> float:
        """max age of pending messages (reference metric: outbox lag =
        now - min(created_at) per topic)."""
        row = self.read().agg(F.min("created_at")).head()
        if row[0] is None:
            return 0.0
        return time.time() - row[0].timestamp()


class OutboxRelay:
    """Drain the outbox to a sink in id order, per topic, with optional
    per-key compaction (reference: outbox_producer.rb).

    Two produce modes:
    - mode="driver" (default, the no-broker fallback): `produce(topic,
      rows)` is called driver-side with collected Rows — semantically
      faithful to the single-process reference, but relay throughput is
      bounded by the driver.
    - mode="executor" (the 100-TB path): the batch is hash-partitioned
      by `partition_key` and sorted by id within partitions, and
      `produce(topic, pandas_df)` runs INSIDE the executors via
      mapInPandas — same-key messages stay in one task in id order
      (Kafka producer semantics), payload bytes never visit the driver,
      and only the delivered id list is collected for the delete step.
    """

    def __init__(
        self,
        outbox: OutboxTable,
        produce: Callable[[str, list], None],
        batch_size: int = 1000,
        compact_topics: set[str] | str = frozenset(),
        mode: str = "driver",
        executor_parallelism: int = 8,
    ):
        if mode not in ("driver", "executor"):
            raise ValueError(f"unknown relay mode {mode!r}")
        self.outbox = outbox
        self.produce = produce
        self.batch_size = batch_size
        self.compact_topics = compact_topics  # set of names, or "all"
        self.mode = mode
        self.executor_parallelism = executor_parallelism

    def _should_compact(self, topic: str) -> bool:
        return self.compact_topics == "all" or topic in self.compact_topics

    def run_once(self) -> int:
        """One full drain pass over all topics with pending messages.
        At-least-once: produce happens before delete; a crash in between
        re-sends."""
        total = 0
        while True:
            pending = self.outbox.read()
            topics = [r[0] for r in pending.select("topic").distinct().collect()]
            if not topics:
                return total
            drained_everything = True
            for topic in sorted(topics):
                # fresh read each topic: each read pins a snapshot, so
                # re-reading is what sees the previous topic's delete
                batch_df = (
                    self.outbox.read()
                    .filter(F.col("topic") == topic)
                    .orderBy("id")
                    .limit(self.batch_size)
                )
                out_df = (
                    # null-key rows pass through compaction uncompacted
                    compact_keep_last(batch_df, ["key"], ["id"])
                    if self._should_compact(topic)
                    else batch_df
                )
                if self.mode == "executor":
                    sent = self._produce_executor(topic, out_df)
                else:
                    rows = out_df.orderBy("id").collect()
                    sent = len(rows)
                    if rows:
                        self.produce(topic, rows)
                if not sent:
                    continue
                # delete ALL batch ids (compacted-away rows included):
                # they are superseded, not pending
                ids = [r["id"] for r in batch_df.select("id").collect()]
                self.outbox.delete_ids(ids)
                total += sent
                if len(ids) >= self.batch_size:
                    drained_everything = False
            if drained_everything:
                return total

    def _produce_executor(self, topic: str, out_df: DataFrame) -> int:
        """Run the produce callback inside the executors. Partitioning
        contract: same partition_key → same task, ascending id within a
        task (null keys hash together; ordering across keys is undefined,
        matching Kafka). Returns the number of delivered messages; only
        their ids cross back to the driver."""
        produce = self.produce  # must be picklable (closure over config)

        def kernel(batches):
            for pdf in batches:
                if len(pdf):
                    produce(topic, pdf)
                yield pdf[["id"]]

        shuffled = (
            out_df.repartition(
                self.executor_parallelism,
                F.coalesce(F.col("partition_key"), F.lit(b"")),
            )
            .sortWithinPartitions("id")
        )
        delivered = shuffled.mapInPandas(
            kernel, schema=T.StructType([T.StructField("id", T.LongType())])
        )
        return delivered.count()
