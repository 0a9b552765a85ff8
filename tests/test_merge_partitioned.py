"""Partition-pruned MERGE in DeltaKeyedTable's default (rewrite) mode:
only affected partitions are read and rewritten; a partition emptied by
deletes leaves the snapshot; untouched partitions keep their add
actions unchanged across the merge (the 100 TB property)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from deimos_spark.operators.delta_interop import DeltaKeyedTable, DeltaTableReader

SCHEMA = T.StructType(
    [
        T.StructField("day", T.StringType(), False),
        T.StructField("test_id", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
    ]
)


@pytest.fixture
def table(spark, tmp_path):
    t = DeltaKeyedTable(
        spark,
        str(tmp_path / "tbl"),
        key_cols=["day", "test_id"],
        schema=SCHEMA,
        partition_by=("day",),
    )
    t.merge(
        upserts=spark.createDataFrame(
            [("d1", "a", 1), ("d1", "b", 2), ("d2", "c", 3), ("d3", "x", 9)], SCHEMA
        )
    )
    return t


def _state(t):
    return {(r["day"], r["test_id"]): r["v"] for r in t.read().collect()}


def _adds(spark, t, day):
    """Paths of the live add actions holding partition `day`."""
    snap = DeltaTableReader(spark, t.path).snapshot()
    return {p for p, pv in snap.files.items() if pv.get("day") == day}


def test_pruned_merge_only_touches_affected_partitions(spark, table):
    before = {d: _adds(spark, table, d) for d in ("d1", "d2", "d3")}
    assert all(before.values())
    table.merge(upserts=spark.createDataFrame([("d1", "a", 100)], SCHEMA))
    assert _state(table) == {
        ("d1", "a"): 100, ("d1", "b"): 2, ("d2", "c"): 3, ("d3", "x"): 9,
    }
    # untouched partitions: the same add actions (not rewritten)
    assert _adds(spark, table, "d2") == before["d2"]
    assert _adds(spark, table, "d3") == before["d3"]
    # the affected partition was rewritten
    assert _adds(spark, table, "d1").isdisjoint(before["d1"])


def test_pruned_delete_within_partition(spark, table):
    before_d2 = _adds(spark, table, "d2")
    table.merge(
        delete_keys=spark.createDataFrame(
            [Row(day="d1", test_id="b", v=None)], SCHEMA
        ).select("day", "test_id")
    )
    assert _state(table) == {("d1", "a"): 1, ("d2", "c"): 3, ("d3", "x"): 9}
    assert _adds(spark, table, "d2") == before_d2


def test_delete_empties_whole_partition(spark, table):
    before_d1 = _adds(spark, table, "d1")
    table.merge(
        delete_keys=spark.createDataFrame(
            [Row(day="d2", test_id="c", v=None)], SCHEMA
        ).select("day", "test_id")
    )
    assert _state(table) == {("d1", "a"): 1, ("d1", "b"): 2, ("d3", "x"): 9}
    assert not _adds(spark, table, "d2")
    assert table.read().filter("day = 'd2'").count() == 0
    assert _adds(spark, table, "d1") == before_d1


def test_mixed_upsert_delete_across_partitions(spark, table):
    before_d1 = _adds(spark, table, "d1")
    table.merge(
        upserts=spark.createDataFrame([("d2", "new", 7), ("d4", "z", 4)], SCHEMA),
        delete_keys=spark.createDataFrame(
            [Row(day="d3", test_id="x", v=None)], SCHEMA
        ).select("day", "test_id"),
    )
    assert _state(table) == {
        ("d1", "a"): 1, ("d1", "b"): 2, ("d2", "c"): 3, ("d2", "new"): 7,
        ("d4", "z"): 4,
    }
    assert not _adds(spark, table, "d3")
    assert table.read().filter("day = 'd3'").count() == 0
    assert _adds(spark, table, "d1") == before_d1
