"""Pure-Python Avro binary codec: spec-vector checks, round-trips over the
complex-type fixture corpus, and the Spark-side PyAvroCodec path.

Byte-level vectors are hand-derived from the public Avro binary-encoding
spec (zigzag varints, length-prefixed strings, block-coded arrays/maps).
"""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from deimos_spark.schemas.avro import parse_avsc
from deimos_spark.schemas.codecs import PyAvroCodec, RegistryFramedCodec, avro_jvm_available
from deimos_spark.schemas.pyavro import decode_record, encode_record

SIMPLE = {
    "type": "record",
    "name": "Simple",
    "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "string"},
    ],
}


def test_spec_vectors():
    # zigzag(1)=2 → varint 0x02; "foo" → len 3 (varint 0x06) + bytes
    assert encode_record(SIMPLE, {"a": 1, "b": "foo"}) == b"\x02\x06foo"
    # zigzag(-1)=1; empty string
    assert encode_record(SIMPLE, {"a": -1, "b": ""}) == b"\x01\x00"
    # multi-byte varint: 64 → zigzag 128 → 0x80 0x01
    assert encode_record(SIMPLE, {"a": 64, "b": ""}) == b"\x80\x01\x00"


def test_union_null_branch_and_boolean():
    schema = {
        "type": "record",
        "name": "U",
        "fields": [
            {"name": "x", "type": ["null", "int"]},
            {"name": "f", "type": "boolean"},
        ],
    }
    # null → branch 0 (varint 0x00); True → 0x01
    assert encode_record(schema, {"x": None, "f": True}) == b"\x00\x01"
    # 5 → branch 1 (varint 0x02), zigzag(5)=10 → 0x0a
    assert encode_record(schema, {"x": 5, "f": False}) == b"\x02\x0a\x00"
    assert decode_record(schema, b"\x02\x0a\x00") == {"x": 5, "f": False}


COMPLEX = {
    "type": "record",
    "name": "Complex",
    "fields": [
        {"name": "test_id", "type": "string"},
        {"name": "union_string", "type": ["null", "string"]},
        {"name": "test_float", "type": "float"},
        {"name": "test_double", "type": "double"},
        {"name": "ints", "type": {"type": "array", "items": "int"}},
        {"name": "m", "type": {"type": "map", "values": "int"}},
        {
            "name": "rec",
            "type": {
                "type": "record",
                "name": "Inner",
                "fields": [{"name": "s", "type": "string"}],
            },
        },
        {
            "name": "e",
            "type": {"type": "enum", "name": "E", "symbols": ["sym1", "sym2"]},
        },
    ],
}


def test_complex_roundtrip():
    value = {
        "test_id": "id-1",
        "union_string": None,
        "test_float": 1.5,
        "test_double": math.pi,
        "ints": [1, -2, 300],
        "m": {"abc": 123, "z": -1},
        "rec": {"s": "nested"},
        "e": "sym2",
    }
    back = decode_record(COMPLEX, encode_record(COMPLEX, value))
    assert back == value  # 1.5 and pi are exactly representable/round-trip


def test_enum_rejects_unknown_symbol():
    with pytest.raises(ValueError, match="enum"):
        encode_record(COMPLEX, {
            "test_id": "x", "union_string": None, "test_float": 0.0,
            "test_double": 0.0, "ints": [], "m": {}, "rec": {"s": ""},
            "e": "nope",
        })


def test_bytes_field_roundtrip(spark):
    """Avro bytes ↔ Spark BinaryType: wire round-trip through the Spark
    codec path (where to_json renders binary as base64) and direct dict
    encoding with both bytes and str inputs."""
    raw = {
        "type": "record",
        "name": "B",
        "fields": [
            {"name": "test_id", "type": "string"},
            {"name": "blob", "type": ["null", "bytes"]},
        ],
    }
    payload = b"\x00\x01\xfe\xff raw"
    # direct encode: bytes and str both accepted
    assert decode_record(raw, encode_record(raw, {"test_id": "x", "blob": payload}))[
        "blob"
    ] == payload
    assert decode_record(raw, encode_record(raw, {"test_id": "x", "blob": "abc"}))[
        "blob"
    ] == b"abc"

    avsc = parse_avsc(raw)
    from pyspark.sql import types as T

    assert isinstance(avsc.struct["blob"].dataType, T.BinaryType)
    codec = PyAvroCodec(avsc)
    df = spark.createDataFrame(
        [Row(test_id="a", blob=payload), Row(test_id="b", blob=None)],
        avsc.struct,
    ).withColumn("v", F.struct("test_id", "blob"))
    enc = df.select("test_id", codec.encode(F.col("v")).alias("bytes"))
    dec = enc.select("test_id", codec.decode(F.col("bytes")).alias("v"))
    rows = {r["test_id"]: r["v"] for r in dec.collect()}
    assert bytes(rows["a"]["blob"]) == payload
    assert rows["b"]["blob"] is None


def test_spark_codec_roundtrip_and_tombstones(spark):
    avsc = parse_avsc(
        {
            "type": "record",
            "name": "MySchema",
            "fields": [
                {"name": "test_id", "type": "string"},
                {"name": "some_int", "type": ["null", "int"]},
            ],
        }
    )
    codec = PyAvroCodec(avsc)
    df = spark.createDataFrame(
        [Row(test_id="a", some_int=1), Row(test_id="b", some_int=None)]
    ).withColumn("v", F.when(F.col("test_id") != "x", F.struct("test_id", "some_int")))
    enc = df.select("test_id", codec.encode(F.col("v")).alias("bytes"))
    # wire bytes match the spec encoder exactly
    got = {r["test_id"]: bytes(r["bytes"]) for r in enc.collect()}
    assert got["a"] == encode_record(avsc.raw, {"test_id": "a", "some_int": 1})
    assert got["b"] == encode_record(avsc.raw, {"test_id": "b", "some_int": None})

    dec = enc.select("test_id", codec.decode(F.col("bytes")).alias("v"))
    rows = {r["test_id"]: r["v"] for r in dec.collect()}
    assert rows["a"]["some_int"] == 1 and rows["b"]["some_int"] is None

    # tombstone: NULL bytes decode to NULL struct (not struct-of-nulls)
    tomb = spark.createDataFrame([Row(bytes=None)], "bytes binary").select(
        codec.decode(F.col("bytes")).alias("v")
    )
    assert tomb.head()["v"] is None


def test_registry_framing_composes_with_pyavro(spark):
    avsc = parse_avsc(SIMPLE)
    framed = RegistryFramedCodec(PyAvroCodec(avsc), schema_id=7)
    df = spark.createDataFrame([Row(a=9, b="x")]).withColumn(
        "v", F.struct("a", "b")
    )
    raw = bytes(df.select(framed.encode(F.col("v")).alias("w")).head()["w"])
    assert raw[:5] == b"\x00\x00\x00\x00\x07"
    assert raw[5:] == encode_record(SIMPLE, {"a": 9, "b": "x"})
    back = df.select(framed.encode(F.col("v")).alias("w")).select(
        framed.decode(F.col("w")).alias("v")
    ).head()["v"]
    assert back["a"] == 9 and back["b"] == "x"


def test_jvm_avro_probe_reports_absence(spark):
    # in this sandbox the jar is absent; the probe must say so (not raise)
    assert avro_jvm_available(spark) is False


def test_end_to_end_binary_avro_pipeline(spark, tmp_path):
    """Produce with wire-format Avro, consume + merge: the reference's
    flagship path (3.2) on its actual encoding, no spark-avro jar."""
    from pyspark.sql import types as T

    from deimos_spark.operators.delta_interop import DeltaKeyedTable
    from deimos_spark.streaming.consumer import BatchConsumer, ConsumerConfig
    from deimos_spark.streaming.producer import Producer, TopicConfig

    avsc = parse_avsc(
        {
            "type": "record",
            "name": "MySchema",
            "fields": [
                {"name": "test_id", "type": "string"},
                {"name": "some_int", "type": ["null", "int"]},
            ],
        }
    )
    prod = Producer(
        TopicConfig(topic="t", schema=avsc, key_field="test_id", codec="avro_py")
    )
    df = spark.createDataFrame(
        [Row(test_id="a", some_int=1), Row(test_id="b", some_int=2)]
    )
    msgs = prod.build_messages(df)
    # value bytes are true binary Avro
    a_val = bytes({bytes(m["key"]): m for m in msgs.collect()}[
        encode_record({"type": "record", "name": "k", "fields": [
            {"name": "test_id", "type": "string"}]}, {"test_id": "a"})
    ]["value"])
    assert a_val == encode_record(avsc.raw, {"test_id": "a", "some_int": 1})

    batch = msgs.select(
        "key", "value",
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
    )
    table = DeltaKeyedTable(
        spark, str(tmp_path / "tbl"), ["test_id"], schema=avsc.struct
    )
    consumer = BatchConsumer(
        ConsumerConfig(schema=avsc, key_cols=["test_id"], codec="avro_py"), table
    )
    consumer.consume_batch(batch)
    got = {r["test_id"]: r["some_int"] for r in table.read().collect()}
    assert got == {"a": 1, "b": 2}


def test_binary_avro_tombstone_deletes(spark, tmp_path):
    """Tombstone keys are binary Avro too — the consumer must decode them
    with the topic codec (not JSON) to resolve the delete target."""
    from deimos_spark.operators.delta_interop import DeltaKeyedTable
    from deimos_spark.streaming.consumer import BatchConsumer, ConsumerConfig
    from deimos_spark.streaming.producer import Producer, TopicConfig

    avsc = parse_avsc(
        {
            "type": "record",
            "name": "MySchema",
            "fields": [
                {"name": "test_id", "type": "string"},
                {"name": "some_int", "type": ["null", "int"]},
            ],
        }
    )
    table = DeltaKeyedTable(
        spark, str(tmp_path / "tbl"), ["test_id"], schema=avsc.struct
    )
    consumer = BatchConsumer(
        ConsumerConfig(schema=avsc, key_cols=["test_id"], codec="avro_py"), table
    )
    prod = Producer(
        TopicConfig(topic="t", schema=avsc, key_field="test_id", codec="avro_py")
    )

    from pyspark.sql import types as T
    df = spark.createDataFrame(
        [("a", 1), ("b", 2)],
        T.StructType([
            T.StructField("test_id", T.StringType()),
            T.StructField("some_int", T.IntegerType()),
        ]),
    )
    msgs = prod.build_messages(df).select(
        "key", "value", F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
    )
    consumer.consume_batch(msgs)
    assert {r["test_id"] for r in table.read().collect()} == {"a", "b"}

    # tombstone for "a": Avro-encoded key, NULL value
    tomb_key = encode_record(
        {"type": "record", "name": "k",
         "fields": [{"name": "test_id", "type": "string"}]},
        {"test_id": "a"},
    )
    tomb = spark.createDataFrame(
        [(bytearray(tomb_key), None, 0, 100)],
        "key binary, value binary, partition int, offset long",
    )
    consumer.consume_batch(tomb)
    assert {r["test_id"] for r in table.read().collect()} == {"b"}
