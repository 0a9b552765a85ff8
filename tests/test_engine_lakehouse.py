"""Engine glue for lakehouse-backed topic tables: table()/consumer()
with table_format="delta" (the default) or "iceberg" — the round-9
features reachable from the top-level API (exactly-once Delta consumer,
Iceberg DV-mode sink, sql() views over both formats).
"""

import os

import pytest
from pyspark.sql import Row

from deimos_spark.engine import Engine

SCHEMA = {
    "type": "record",
    "name": "Widget",
    "fields": [
        {"name": "test_id", "type": "string"},
        {"name": "some_int", "type": "int"},
    ],
}


@pytest.fixture
def engine(spark):
    e = Engine(spark)
    e.register_topic("widgets", SCHEMA, key_field="test_id")
    return e


def _batch(spark, engine, rows, start=0):
    from tests.test_producer_consumer import _kafka_shaped

    return _kafka_shaped(
        spark, engine.producer("widgets"), rows, start_offset=start
    )


@pytest.mark.parametrize("fmt", ["default", "delta", "iceberg"])
def test_consumer_roundtrip_all_formats(spark, tmp_path, engine, fmt):
    kw = {} if fmt == "default" else {"table_format": fmt}
    c = engine.consumer("widgets", str(tmp_path / "t"), **kw)
    c.consume_batch(
        _batch(spark, engine, [Row(test_id="a", some_int=1),
                               Row(test_id="b", some_int=2)])
    )
    c.consume_batch(
        _batch(spark, engine, [Row(test_id="a", some_int=9)], start=2)
    )
    got = {r.test_id: r.some_int for r in c.table.read().collect()}
    assert got == {"a": 9, "b": 2}
    # the topic is sql()-queryable in every format, tracking state
    via_sql = {
        r.test_id: r.some_int
        for r in engine.sql("SELECT * FROM widgets").collect()
    }
    assert via_sql == got


def test_delta_consumer_exactly_once_through_engine(
    spark, tmp_path, engine
):
    c = engine.consumer(
        "widgets", str(tmp_path / "t"), table_format="delta"
    )
    b0 = _batch(spark, engine, [Row(test_id="a", some_int=1)])
    c.consume_batch(b0, txn=("app", 0))
    c.consume_batch(b0, txn=("app", 0))  # replay → no-op
    assert c.table.writer._latest_version() == 0
    assert {r.test_id for r in c.table.read().collect()} == {"a"}


def test_iceberg_dv_mode_through_engine(spark, tmp_path, engine):
    c = engine.consumer(
        "widgets",
        str(tmp_path / "t"),
        table_format="iceberg",
        table_kw={"delete_mode": "dv"},
    )
    c.consume_batch(
        _batch(spark, engine, [Row(test_id="a", some_int=1),
                               Row(test_id="b", some_int=2)])
    )
    c.consume_batch(
        _batch(spark, engine, [Row(test_id="b", some_int=5)], start=2)
    )
    from deimos_spark.operators.iceberg_interop import IcebergTableReader

    r = IcebergTableReader(spark, str(tmp_path / "t"))
    assert r.metadata["format-version"] == 3
    assert {x.test_id: x.some_int for x in r.read().collect()} == {
        "a": 1, "b": 5,
    }


def test_iceberg_consumer_exactly_once_through_engine(
    spark, tmp_path, engine
):
    c = engine.consumer(
        "widgets", str(tmp_path / "t"), table_format="iceberg"
    )
    b0 = _batch(spark, engine, [Row(test_id="a", some_int=1)])
    c.consume_batch(b0, txn=("app", 0))
    c.consume_batch(b0, txn=("app", 0))  # replay → no-op
    from deimos_spark.operators.iceberg_interop import IcebergTableReader

    r = IcebergTableReader(spark, str(tmp_path / "t"))
    assert len(r.metadata["snapshots"]) == 1
    assert {x.test_id for x in r.read().collect()} == {"a"}


def test_bad_format_refuses(spark, tmp_path, engine):
    # "parquet" named the deleted directory-swap table
    for fmt in ("orc", "parquet"):
        with pytest.raises(ValueError, match="table_format"):
            engine.table(str(tmp_path / "t"), "widgets", table_format=fmt)


def test_default_consumer_is_delta_with_txn_replay(spark, tmp_path, engine):
    """A consumer built without table_format sinks into a Delta table,
    so a replayed batch with the same txn is a no-op."""
    path = str(tmp_path / "t")
    c = engine.consumer("widgets", path)
    assert os.path.isdir(os.path.join(path, "_delta_log"))
    b0 = _batch(spark, engine, [Row(test_id="a", some_int=1)])
    c.consume_batch(b0, txn=("app", 0))
    b1 = _batch(spark, engine, [Row(test_id="a", some_int=2)], start=1)
    c.consume_batch(b1, txn=("app", 1))
    c.consume_batch(b0, txn=("app", 0))  # replay → no-op
    assert c.table.writer._latest_version() == 1
    assert {r.test_id: r.some_int for r in c.table.read().collect()} == {
        "a": 2
    }


def test_register_view_over_lakehouse_readers(spark, tmp_path, engine):
    """Any .read()-bearing reader registers as a sql() view — Delta and
    Iceberg table paths become queryable relations."""
    from deimos_spark.operators.delta_interop import (
        DeltaTableReader,
        DeltaTableWriter,
    )
    from deimos_spark.operators.iceberg_interop import (
        IcebergTableReader,
        IcebergTableWriter,
    )

    dpath, ipath = str(tmp_path / "d"), str(tmp_path / "i")
    DeltaTableWriter(spark, dpath, schema="id bigint, v string").append(
        spark.createDataFrame([(1, "a")], "id bigint, v string")
    )
    IcebergTableWriter(spark, ipath).append(
        spark.createDataFrame([(2, "b")], "id bigint, v string")
    )
    engine.register_view("d_tbl", DeltaTableReader(spark, dpath))
    engine.register_view("i_tbl", IcebergTableReader(spark, ipath))
    got = engine.sql(
        "SELECT * FROM d_tbl UNION ALL SELECT * FROM i_tbl ORDER BY id"
    ).collect()
    assert [(r.id, r.v) for r in got] == [(1, "a"), (2, "b")]
