"""End-to-end produce → consume pipeline tests, mirroring the reference's
batch-consumer scenarios (publish messages, assert exact table contents,
tombstones, compaction, ordering).
"""

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deimos_spark.operators.delta_interop import DeltaKeyedTable
from deimos_spark.schemas.avro import parse_avsc
from deimos_spark.streaming.consumer import BatchConsumer, ConsumerConfig
from deimos_spark.streaming.producer import Producer, TopicConfig

MY_SCHEMA = parse_avsc(
    {
        "type": "record",
        "name": "MySchema",
        "namespace": "com.my-namespace",
        "fields": [
            {"name": "test_id", "type": "string"},
            {"name": "some_int", "type": "int"},
        ],
    }
)


@pytest.fixture
def producer():
    return Producer(TopicConfig(topic="my-topic", schema=MY_SCHEMA, key_field="test_id"))


def test_produce_encodes_key_and_value(spark, producer):
    df = spark.createDataFrame([Row(test_id="x", some_int=3, junk="dropme")])
    msgs = producer.build_messages(df).collect()
    assert len(msgs) == 1
    m = msgs[0]
    assert m["topic"] == "my-topic"
    assert json.loads(bytes(m["key"])) == {"test_id": "x"}
    payload = json.loads(bytes(m["value"]))
    assert payload == {"test_id": "x", "some_int": 3}  # junk projected away
    assert bytes(m["partition_key"]) == bytes(m["key"])


def test_produce_coerces_types(spark, producer):
    df = spark.createDataFrame([Row(test_id=123, some_int="42")])
    m = producer.build_messages(df).head()
    assert json.loads(bytes(m["value"])) == {"test_id": "123", "some_int": 42}


def test_tombstone_has_null_value(spark, producer):
    df = spark.createDataFrame(
        [Row(test_id="gone", some_int=None)],
        T.StructType(
            [
                T.StructField("test_id", T.StringType()),
                T.StructField("some_int", T.IntegerType()),
            ]
        ),
    )
    m = producer.build_messages(df).head()
    assert m["value"] is None
    assert json.loads(bytes(m["key"])) == {"test_id": "gone"}


def test_auto_fields_filled(spark):
    schema = parse_avsc(
        {
            "type": "record",
            "name": "WithId",
            "fields": [
                {"name": "test_id", "type": "string"},
                {"name": "message_id", "type": "string"},
                {"name": "timestamp", "type": "string"},
            ],
        }
    )
    p = Producer(TopicConfig(topic="t", schema=schema, key_field="test_id"))
    m = p.build_messages(spark.createDataFrame([Row(test_id="a")])).head()
    payload = json.loads(bytes(m["value"]))
    assert len(payload["message_id"]) == 36  # uuid
    assert payload["timestamp"]  # filled with now


def test_topic_prefix(spark):
    p = Producer(
        TopicConfig(topic="t", schema=MY_SCHEMA, key_field="test_id", topic_prefix="pre.")
    )
    m = p.build_messages(spark.createDataFrame([Row(test_id="a", some_int=1)])).head()
    assert m["topic"] == "pre.t"


# ------------------------------------------------------------------ consume

def _kafka_shaped(spark, producer, rows, start_offset=0):
    """Produce rows through the real produce pipeline, then add consume-side
    (partition, offset) arrival metadata."""
    msgs = producer.build_messages(spark.createDataFrame(rows))
    from pyspark.sql import Window

    w = Window.orderBy(F.monotonically_increasing_id())
    return (
        msgs.withColumn("offset", F.row_number().over(w) + F.lit(start_offset - 1))
        .withColumn("partition", F.lit(0))
        .select("key", "value", "partition", "offset")
    )


@pytest.fixture
def consumer(spark, tmp_path):
    table = DeltaKeyedTable(
        spark,
        str(tmp_path / "sink"),
        ["test_id"],
        schema=MY_SCHEMA.struct,
    )
    cfg = ConsumerConfig(schema=MY_SCHEMA, key_cols=["test_id"], compacted=True)
    return BatchConsumer(cfg, table)


def test_consume_upserts_batch(spark, producer, consumer):
    batch = _kafka_shaped(
        spark, producer, [Row(test_id="a", some_int=1), Row(test_id="b", some_int=2)]
    )
    consumer.consume_batch(batch)
    got = {r["test_id"]: r["some_int"] for r in consumer.table.read().collect()}
    assert got == {"a": 1, "b": 2}


def test_consume_compacts_within_batch(spark, producer, consumer):
    batch = _kafka_shaped(
        spark,
        producer,
        [
            Row(test_id="a", some_int=1),
            Row(test_id="a", some_int=2),
            Row(test_id="a", some_int=3),
        ],
    )
    consumer.consume_batch(batch)
    rows = consumer.table.read().collect()
    assert len(rows) == 1 and rows[0]["some_int"] == 3


def test_consume_tombstone_deletes(spark, producer, consumer):
    consumer.consume_batch(
        _kafka_shaped(spark, producer, [Row(test_id="a", some_int=1)])
    )
    # tombstone for a, insert for b — one batch
    consumer.consume_batch(
        _kafka_shaped(
            spark,
            producer,
            [Row(test_id="a", some_int=None), Row(test_id="b", some_int=5)],
            start_offset=10,
        )
    )
    got = {r["test_id"]: r["some_int"] for r in consumer.table.read().collect()}
    assert got == {"b": 5}


def test_consume_filter_predicate(spark, producer, tmp_path):
    table = DeltaKeyedTable(
        spark, str(tmp_path / "sink2"), ["test_id"], schema=MY_SCHEMA.struct
    )
    cfg = ConsumerConfig(
        schema=MY_SCHEMA,
        key_cols=["test_id"],
        filter_predicate=F.col("some_int") > 1,
    )
    c = BatchConsumer(cfg, table)
    c.consume_batch(
        _kafka_shaped(
            spark, producer, [Row(test_id="a", some_int=1), Row(test_id="b", some_int=2)]
        )
    )
    got = {r["test_id"]: r["some_int"] for r in table.read().collect()}
    assert got == {"b": 2}


def test_consume_sliced_preserves_final_state(spark, producer, tmp_path):
    """Non-compacted mode: slices applied sequentially; final state equals
    last-write-wins per key."""
    table = DeltaKeyedTable(
        spark, str(tmp_path / "sink3"), ["test_id"], schema=MY_SCHEMA.struct
    )
    cfg = ConsumerConfig(schema=MY_SCHEMA, key_cols=["test_id"], compacted=False)
    c = BatchConsumer(cfg, table)
    c.consume_batch(
        _kafka_shaped(
            spark,
            producer,
            [
                Row(test_id="c", some_int=1),
                Row(test_id="a", some_int=1),
                Row(test_id="a", some_int=2),
                Row(test_id="c", some_int=2),
                Row(test_id="c", some_int=3),
            ],
        )
    )
    got = {r["test_id"]: r["some_int"] for r in table.read().collect()}
    assert got == {"a": 2, "c": 3}
