"""Association fan-out (A21), snapshot-diff CDC (A28), producer
disable/truncate (A12/A29), outbox decode (A33), schema codegen (A37).
"""

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deimos_spark.operators.associations import ChildSpec, fan_out
from deimos_spark.operators.delta_interop import DeltaKeyedTable
from deimos_spark.schemas.avro import parse_avsc
from deimos_spark.schemas.codecs import get_codec
from deimos_spark.schemas.codegen import generate_schema_class
from deimos_spark.sources.outbox import OutboxTable
from deimos_spark.sources.table_cdc import snapshot_diff
from deimos_spark.streaming.producer import Producer, TopicConfig

MY_SCHEMA = parse_avsc(
    {
        "type": "record",
        "name": "MySchema",
        "fields": [
            {"name": "test_id", "type": "string"},
            {"name": "some_int", "type": "int"},
        ],
    }
)


# ------------------------------------------------------------- associations

PARENT = T.StructType(
    [
        T.StructField("widget_id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
    ]
)
CHILD = T.StructType(
    [
        T.StructField("widget_id", T.LongType(), False),
        T.StructField("detail_id", T.LongType(), False),
        T.StructField("title", T.StringType(), True),
    ]
)


def _payload(spark, rows):
    schema = T.StructType(
        [
            T.StructField("widget_id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField(
                "details",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("detail_id", T.LongType(), False),
                            T.StructField("title", T.StringType(), True),
                        ]
                    )
                ),
                True,
            ),
        ]
    )
    return spark.createDataFrame(rows, schema)


@pytest.fixture
def tables(spark, tmp_path):
    parent = DeltaKeyedTable(spark, str(tmp_path / "widgets"), ["widget_id"], PARENT)
    child = DeltaKeyedTable(
        spark, str(tmp_path / "details"), ["widget_id", "detail_id"], CHILD
    )
    return parent, child


def test_fan_out_writes_parent_and_children(spark, tables):
    parent, child = tables
    batch = _payload(
        spark,
        [
            Row(widget_id=1, name="w1", details=[Row(detail_id=10, title="a"),
                                                 Row(detail_id=11, title="b")]),
            Row(widget_id=2, name="w2", details=[]),
        ],
    )
    fan_out(batch, parent, [ChildSpec("details", child, {"widget_id": "widget_id"})])
    assert {r["widget_id"]: r["name"] for r in parent.read().collect()} == {1: "w1", 2: "w2"}
    got = {(r["widget_id"], r["detail_id"]): r["title"] for r in child.read().collect()}
    assert got == {(1, 10): "a", (1, 11): "b"}


def test_fan_out_replace_deletes_stale_children(spark, tables):
    parent, child = tables
    fan_out(
        _payload(spark, [Row(widget_id=1, name="w1",
                             details=[Row(detail_id=10, title="a"),
                                      Row(detail_id=11, title="b")])]),
        parent,
        [ChildSpec("details", child, {"widget_id": "widget_id"})],
    )
    # second message replaces widget 1's children with just detail 11 (new title)
    fan_out(
        _payload(spark, [Row(widget_id=1, name="w1b",
                             details=[Row(detail_id=11, title="b2")])]),
        parent,
        [ChildSpec("details", child, {"widget_id": "widget_id"})],
    )
    assert {r["widget_id"]: r["name"] for r in parent.read().collect()} == {1: "w1b"}
    got = {(r["widget_id"], r["detail_id"]): r["title"] for r in child.read().collect()}
    assert got == {(1, 11): "b2"}  # detail 10 deleted, 11 updated


def test_fan_out_no_replace_keeps_children(spark, tables):
    parent, child = tables
    spec = ChildSpec("details", child, {"widget_id": "widget_id"}, replace=False)
    fan_out(
        _payload(spark, [Row(widget_id=1, name="w", details=[Row(detail_id=10, title="a")])]),
        parent, [spec],
    )
    fan_out(
        _payload(spark, [Row(widget_id=1, name="w", details=[Row(detail_id=11, title="b")])]),
        parent, [spec],
    )
    assert child.read().count() == 2  # accumulate, no deletes


# ---------------------------------------------------------------- table CDC

def test_snapshot_diff_ops(spark):
    old = spark.createDataFrame(
        [Row(id=1, v="a", w="x"), Row(id=2, v="b", w="y"), Row(id=3, v="c", w="z")]
    )
    new = spark.createDataFrame(
        [Row(id=1, v="a", w="x"), Row(id=2, v="B", w="y"), Row(id=4, v="d", w="q")]
    )
    out = {r["id"]: r for r in snapshot_diff(old, new, ["id"]).collect()}
    assert set(out) == {2, 3, 4}
    assert out[2]["_op"] == "update" and out[2]["v"] == "B"
    assert out[3]["_op"] == "delete" and out[3]["v"] is None  # tombstone shape
    assert out[4]["_op"] == "create" and out[4]["v"] == "d"


def test_snapshot_diff_watched_columns_only(spark):
    old = spark.createDataFrame([Row(id=1, v="a", w="x")])
    new = spark.createDataFrame([Row(id=1, v="a", w="CHANGED")])
    # w is not watched → no update emitted (reference: update only when
    # watched attrs changed)
    assert snapshot_diff(old, new, ["id"], watched_cols=["v"]).count() == 0
    assert snapshot_diff(old, new, ["id"], watched_cols=["w"]).count() == 1


# --------------------------------------------- producer disable / truncate

def test_producer_disable_all(spark):
    p = Producer(TopicConfig(topic="t", schema=MY_SCHEMA, key_field="test_id"))
    df = spark.createDataFrame([Row(test_id="a", some_int=1)])
    with Producer.disable_all():
        assert p.publish(df, backend="memory") is None
    assert p.publish(df, backend="memory").count() == 1


def test_truncate_limits(spark):
    p = Producer(
        TopicConfig(
            topic="t", schema=MY_SCHEMA, key_field="test_id",
            truncate_limits={"test_id": 3},
        )
    )
    m = p.build_messages(spark.createDataFrame([Row(test_id="abcdef", some_int=1)])).head()
    assert json.loads(bytes(m["value"]))["test_id"] == "abc"


# ------------------------------------------------------------ outbox decode

def test_outbox_decode_for_inspection(spark, tmp_path):
    ob = OutboxTable(spark, str(tmp_path / "ob"))
    p = Producer(TopicConfig(topic="t", schema=MY_SCHEMA, key_field="test_id"))
    p.publish(spark.createDataFrame([Row(test_id="a", some_int=5)]),
              backend="outbox", outbox=ob)
    decoded = ob.decode_messages(get_codec("json", MY_SCHEMA)).head()
    assert decoded["topic"] == "t"
    assert decoded["payload"]["some_int"] == 5


# ---------------------------------------------------------------- codegen

def test_schema_class_codegen_roundtrip():
    schema = parse_avsc(
        {
            "type": "record",
            "name": "Widget",
            "namespace": "com.x",
            "fields": [
                {"name": "test_id", "type": "string"},
                {"name": "some_int", "type": ["null", "int"]},
                {
                    "name": "color",
                    "type": {"type": "enum", "name": "Color", "symbols": ["red", "blue"]},
                },
            ],
        }
    )
    src = generate_schema_class(schema)
    ns: dict = {}
    exec(src, ns)  # generated source must be valid python
    Widget, Color = ns["Widget"], ns["Color"]
    w = Widget(test_id="a", color="red", some_int=None)
    assert w.as_hash() == {"test_id": "a", "some_int": None, "color": "red"}
    t = Widget.tombstone("k")
    assert t.test_id == "k" and t.some_int is None
    assert Color.validate("red") == "red"
    with pytest.raises(ValueError):
        Color.validate("green")
    # deterministic output (golden property)
    assert src == generate_schema_class(schema)


def test_delta_feed_to_ops(spark, tmp_path):
    """Native Delta change feed → the snapshot_diff op contract:
    insert→create, update_postimage→update (preimage dropped),
    delete→key-only tombstone."""
    from deimos_spark.operators.delta_interop import (
        DeltaKeyedTable,
        DeltaTableReader,
    )
    from deimos_spark.sources.table_cdc import delta_feed_to_ops

    t = str(tmp_path / "feedops")
    kt = DeltaKeyedTable(
        spark, t, ["id"], schema="id long, v string", enable_cdf=True
    )
    kt.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    kt.merge(
        upserts=spark.createDataFrame([(1, "A1"), (3, "c")], "id long, v string"),
        delete_keys=spark.createDataFrame([(2,)], "id long"),
    )
    feed = DeltaTableReader(spark, t).read_changes(1, 1)
    got = {
        (r["id"], r["v"], r["_op"])
        for r in delta_feed_to_ops(feed, ["id"]).collect()
    }
    assert got == {
        (1, "A1", "update"),
        (3, "c", "create"),
        (2, None, "delete"),  # tombstone: payload NULLed
    }


def test_iceberg_changelog_to_ops(spark, tmp_path):
    """Iceberg changelog (delete+insert pairs) → op contract: paired
    rows collapse to 'update' with the NEW payload; lone inserts are
    creates; lone deletes are key-only tombstones."""
    from deimos_spark.operators.iceberg_interop import (
        IcebergKeyedTable,
        IcebergTableReader,
    )
    from deimos_spark.sources.table_cdc import iceberg_changelog_to_ops

    t = str(tmp_path / "icefeedops")
    kt = IcebergKeyedTable(spark, t, ["id"])
    kt.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    kt.merge(
        upserts=spark.createDataFrame([(1, "A1"), (3, "c")], "id long, v string"),
        delete_keys=spark.createDataFrame([(2,)], "id long"),
    )
    changes = IcebergTableReader(spark, t).read_changelog(from_snapshot_id=1)
    got = {
        (r["id"], r["v"], r["_op"])
        for r in iceberg_changelog_to_ops(changes, ["id"]).collect()
    }
    assert got == {
        (1, "A1", "update"),
        (3, "c", "create"),
        (2, None, "delete"),
    }
