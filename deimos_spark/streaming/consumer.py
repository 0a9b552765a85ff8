"""Consume path: message batches → decode → filter → compact/slice →
MERGE into a keyed table, with tombstone deletes.

Pipeline parity with the reference's batch consumption (behavior studied
from /root/reference/lib/deimos/active_record_consume/
batch_consumption.rb — behavior only):

  filter(process_message?) → if compacted&keyed: keep-last-per-key →
  partition into upserts / tombstones → bulk upsert + bulk delete;
  else: slice batch (order-preserving) → apply slices sequentially.

Each batch is evaluated once: the compacted (or slice-numbered) batch is
materialized for the duration of one consume (session.materialized), so
the upsert/delete split and every read the table's merge makes of them
scan that one copy instead of re-running the decode, the compaction
shuffle and the source scan. A merge that finds its `txn` already
applied evaluates nothing.

Works in two modes with the SAME pipeline code:
- batch mode: `consume_batch(df)` on any kafka-shaped DataFrame
  (key BINARY, value BINARY, partition INT, offset LONG);
- streaming mode: `attach(stream_df)` wires the pipeline into
  `foreachBatch` of a Structured Streaming query (Kafka source or
  file-stream in tests); checkpointing gives at-least-once, and the keyed
  MERGE makes the sink idempotent → effectively exactly-once.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import TYPE_CHECKING, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deimos_spark.operators.compaction import (
    compact_keep_last,
    slice_ids,
    split_slices,
)
from deimos_spark.schemas.avro import AvroSchema
from deimos_spark.schemas.codecs import get_codec
from deimos_spark.session import materialized

if TYPE_CHECKING:
    from deimos_spark.operators.delta_interop import DeltaKeyedTable
    from deimos_spark.operators.iceberg_interop import IcebergKeyedTable


@dataclass
class ConsumerConfig:
    schema: AvroSchema
    key_cols: list[str]
    codec: str = "json"
    compacted: bool = True
    # process_message? analogue: Column predicate over the decoded payload
    filter_predicate: Column | None = None
    # record_attributes analogue: rename/derive columns pre-merge
    record_transform: Callable[[DataFrame], DataFrame] | None = None
    order_cols: tuple[str, ...] = ("partition", "offset")
    # registry-backed decode: per-message schema-id dispatch, with
    # `schema` acting as the reader schema (evolution-tolerant consume)
    registry: "object | None" = None
    subject: str | None = None
    key_subject: str | None = None
    # A35 tracing: provider with the reference's 6-method contract
    # (observability.MockTracer is the in-memory default shape); spans
    # wrap each consume batch like consumer.rb's _with_span
    tracer: "object | None" = None
    topic: str | None = None


class BatchConsumer:
    def __init__(
        self,
        config: ConsumerConfig,
        table: DeltaKeyedTable | IcebergKeyedTable,
    ):
        self.config = config
        self.table = table
        if config.registry is not None and config.codec == "proto":
            from deimos_spark.schemas.registry import RegistryProtoCodec

            subject = config.subject or "value"
            self.codec = RegistryProtoCodec(
                config.registry, subject, reader_schema=config.schema
            )
        elif config.registry is not None:
            from deimos_spark.schemas.registry import RegistryAvroCodec

            subject = config.subject or "value"
            self.codec = RegistryAvroCodec(
                config.registry, subject, reader_schema=config.schema
            )
        else:
            self.codec = get_codec(config.codec, config.schema)
        self.key_codec = self._build_key_codec()

    def _build_key_codec(self):
        """Key bytes are encoded with the topic's codec against the sliced
        key schema (reference: transcoder.rb key deserializer) — decode
        symmetrically, not with a hardcoded JSON parse, so binary-Avro
        tombstone keys resolve too."""
        cfg = self.config
        if cfg.registry is not None and cfg.key_subject is not None:
            from deimos_spark.schemas.registry import RegistryAvroCodec

            try:
                return RegistryAvroCodec(cfg.registry, cfg.key_subject)
            except KeyError:
                pass  # no key schema registered (plain/field keys): fall through
        raw = getattr(cfg.schema, "raw", None)
        if raw is None:
            # proto reader schema: keys are sorted JSON over the sliced
            # 1-field key message (proto_base.rb:58-60 behavior)
            if hasattr(cfg.schema, "key_schema") and len(cfg.key_cols) == 1:
                try:
                    return get_codec(
                        "sorted_json", cfg.schema.key_schema(cfg.key_cols[0])
                    )
                except Exception:
                    return None
            return None
        key_fields = [f for f in raw.get("fields", []) if f["name"] in cfg.key_cols]
        if not key_fields:
            return None
        key_raw = {
            "type": "record",
            "name": f"{raw.get('name', 'Key')}_key",
            "namespace": raw.get("namespace"),
            "fields": key_fields,
        }
        try:
            from deimos_spark.schemas.avro import parse_avsc

            return get_codec(cfg.codec, parse_avsc(key_raw))
        except Exception:
            return None

    # ------------------------------------------------------------- decode

    def decode(self, raw: DataFrame) -> DataFrame:
        """kafka-shaped (key, value, partition, offset) → payload columns +
        (_key struct, _tombstone, order cols). NULL value = tombstone
        (reference: nil payload → deletion)."""
        cfg = self.config
        decoded = raw.withColumn("_payload", self.codec.decode(F.col("value")))
        # key columns come from the payload when present, else from the key
        # codec — here we decode the key struct for tombstones, where the
        # payload is NULL and the key is the only content.
        if self.key_codec is not None:
            key_decoded = self.key_codec.decode(F.col("key"))
        else:
            key_decoded = F.from_json(
                F.col("key").cast("string"), self._key_struct_type()
            )
        out = decoded.select(
            *[F.col(c) for c in cfg.order_cols],
            F.col("value").isNull().alias("_tombstone"),
            key_decoded.alias("_key"),
            F.col("_payload"),
        )
        # flatten payload fields; for tombstones fall back to key fields
        flat = []
        for f in cfg.schema.struct.fields:
            if f.name in cfg.key_cols:
                flat.append(
                    F.coalesce(
                        F.col(f"_payload.{f.name}"), F.col(f"_key.{f.name}")
                    ).alias(f.name)
                )
            else:
                flat.append(F.col(f"_payload.{f.name}").alias(f.name))
        return out.select(*cfg.order_cols, "_tombstone", *flat)

    def _key_struct_type(self):
        from pyspark.sql import types as T

        fields = [
            f for f in self.config.schema.struct.fields
            if f.name in self.config.key_cols
        ]
        return T.StructType(fields or [T.StructField("_none", T.StringType())])

    # -------------------------------------------------------------- apply

    def consume_batch(
        self, raw: DataFrame, txn: tuple[str, int] | None = None
    ) -> None:
        cfg = self.config
        if cfg.tracer is None:
            self._consume_batch(raw, txn)
            return
        # reference consumer.rb _with_span: one 'deimos-consumer' span
        # per batch, resource = consumer class, topic tagged on the
        # active span (batch_consumption.rb:39), errors recorded
        span = cfg.tracer.start(
            "deimos-consumer", resource=type(self).__name__
        )
        if cfg.topic:
            cfg.tracer.set_tag("topic", cfg.topic, span)
        try:
            self._consume_batch(raw, txn)
        except BaseException as e:
            cfg.tracer.set_error(span, e)
            raise
        finally:
            cfg.tracer.finish(span)

    def _consume_batch(
        self, raw: DataFrame, txn: tuple[str, int] | None = None
    ) -> None:
        cfg = self.config
        df = self.decode(raw)
        if cfg.filter_predicate is not None:
            df = df.filter(cfg.filter_predicate)

        if cfg.compacted:
            df = compact_keep_last(df, cfg.key_cols, cfg.order_cols)
            with materialized(df):
                self._apply(df, txn)
        else:
            if txn is not None:
                # each slice is its own merge; they'd all claim the same
                # (app, version), so slice 2+ would be skipped as replays
                raise ValueError(
                    "txn (exactly-once) requires compacted=True — "
                    "sliced mode runs several merges per batch"
                )
            # order-preserving mode: slices applied sequentially, each slice
            # has distinct keys (reference BatchSlicer)
            sliced = slice_ids(df, cfg.key_cols, cfg.order_cols)
            with materialized(sliced):
                for sl in split_slices(sliced):
                    self._apply(sl)

    def _apply(
        self, df: DataFrame, txn: tuple[str, int] | None = None
    ) -> None:
        cfg = self.config
        payload_cols = [f.name for f in cfg.schema.struct.fields]
        upserts = df.filter(~F.col("_tombstone")).select(*payload_cols)
        deletes = df.filter(F.col("_tombstone")).select(*cfg.key_cols)
        if cfg.record_transform is not None:
            upserts = cfg.record_transform(upserts)
        self.table.merge(upserts=upserts, delete_keys=deletes, txn=txn)

    # ---------------------------------------------------------- streaming

    def attach(
        self,
        stream_df: DataFrame,
        checkpoint: str,
        txn_app_id: str | None = None,
        **options,
    ):
        """Wire into Structured Streaming: each micro-batch runs the same
        consume pipeline inside foreachBatch (per-batch atomicity = C2).

        `txn_app_id` upgrades the sink from at-least-once to
        EXACTLY-ONCE when the table speaks transaction identifiers
        (DeltaKeyedTable): each micro-batch merge carries
        (txn_app_id, batch_id) as the protocol txn action, so a batch
        Spark replays after a crash-between-commit-and-checkpoint is a
        silent no-op. Requires compacted=True (one merge per batch)."""
        return (
            stream_df.writeStream.foreachBatch(
                lambda batch, bid: self.consume_batch(
                    batch,
                    txn=(txn_app_id, bid) if txn_app_id is not None else None,
                )
            )
            .option("checkpointLocation", checkpoint)
            .options(**options)
        )
