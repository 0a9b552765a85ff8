"""Keyed MERGE table (DeltaKeyedTable, the default consumer sink):
upserts, tombstone deletes, compound keys, idempotency — mirrors the
reference's batch-consumer DB assertions.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from deimos_spark.operators.delta_interop import (
    DeltaKeyedTable,
    DeltaProtocolError,
    convert_parquet_dir,
)

SCHEMA = T.StructType(
    [
        T.StructField("test_id", T.StringType(), False),
        T.StructField("some_int", T.LongType(), True),
    ]
)


@pytest.fixture
def table(spark, tmp_path):
    return DeltaKeyedTable(
        spark, str(tmp_path / "widgets"), ["test_id"], schema=SCHEMA
    )


def _rows(table):
    return {r["test_id"]: r["some_int"] for r in table.read().collect()}


def test_insert_then_update(spark, table):
    table.merge(upserts=spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA))
    assert _rows(table) == {"a": 1, "b": 2}
    table.merge(upserts=spark.createDataFrame([("b", 20), ("c", 3)], SCHEMA))
    assert _rows(table) == {"a": 1, "b": 20, "c": 3}


def test_tombstone_delete(spark, table):
    table.merge(upserts=spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA))
    deletes = spark.createDataFrame([Row(test_id="a")])
    table.merge(delete_keys=deletes)
    assert _rows(table) == {"b": 2}


def test_mixed_upsert_and_delete(spark, table):
    table.merge(upserts=spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA))
    table.merge(
        upserts=spark.createDataFrame([("c", 3)], SCHEMA),
        delete_keys=spark.createDataFrame([Row(test_id="b")]),
    )
    assert _rows(table) == {"a": 1, "c": 3}


def test_merge_is_idempotent(spark, table):
    batch = spark.createDataFrame([("a", 5)], SCHEMA)
    table.merge(upserts=batch)
    table.merge(upserts=batch)  # replay (at-least-once delivery)
    assert _rows(table) == {"a": 5}
    assert table.read().count() == 1


def test_compound_keys(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("part_one", T.StringType(), False),
            T.StructField("part_two", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = DeltaKeyedTable(
        spark, str(tmp_path / "compound"), ["part_one", "part_two"], schema=schema
    )
    t.merge(upserts=spark.createDataFrame([("x", "1", 1), ("x", "2", 2)], schema))
    t.merge(upserts=spark.createDataFrame([("x", "2", 22)], schema))
    got = {(r["part_one"], r["part_two"]): r["v"] for r in t.read().collect()}
    assert got == {("x", "1"): 1, ("x", "2"): 22}


def test_upsert_compacts_batch(spark, table):
    batch = spark.createDataFrame(
        [
            Row(test_id="a", some_int=1, partition=0, offset=0),
            Row(test_id="a", some_int=9, partition=0, offset=1),
        ]
    )
    table.upsert(
        batch.select("test_id", "some_int", "partition", "offset"),
        order_cols=["partition", "offset"],
    )
    got = table.read().select("test_id", "some_int").collect()
    assert len(got) == 1 and got[0]["some_int"] == 9


def test_plain_parquet_dir_refuses_with_convert_hint(spark, tmp_path):
    """A directory of plain parquet files (a sink written without a log)
    is refused, not opened as an empty table that hides its rows."""
    path = str(tmp_path / "old_sink")
    spark.createDataFrame([("a", 1)], SCHEMA).write.parquet(path)
    with pytest.raises(DeltaProtocolError, match="convert_parquet_dir"):
        DeltaKeyedTable(spark, path, ["test_id"], schema=SCHEMA)
    assert not (tmp_path / "old_sink" / "_delta_log").exists()


def test_converted_plain_parquet_dir_merges(spark, tmp_path):
    path = str(tmp_path / "old_sink")
    spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA).write.parquet(path)
    assert convert_parquet_dir(spark, path) >= 1
    t = DeltaKeyedTable(spark, path, ["test_id"], schema=SCHEMA)
    t.merge(
        upserts=spark.createDataFrame([("b", 20), ("c", 3)], SCHEMA),
        delete_keys=spark.createDataFrame([Row(test_id="a")]),
    )
    assert _rows(t) == {"b": 20, "c": 3}
