"""Exactly-once consumer sink: BatchConsumer over a DeltaKeyedTable
with txn identifiers (the C1/C2 completion — Spark's foreachBatch
replays a micro-batch after a crash between the sink commit and the
streaming checkpoint; with txn=(app, batch_id) the replay is a no-op).

Reference semantics: the reference gets this from the DB transaction
wrapping each slice (batch_consumption.rb — behavior only); on a
lakehouse sink the protocol's transaction identifier is the native
equivalent.
"""

import contextlib

import pytest
from pyspark.sql import Row

from deimos_spark.operators.delta_interop import DeltaKeyedTable
from deimos_spark.schemas.avro import parse_avsc
from deimos_spark.streaming.consumer import BatchConsumer, ConsumerConfig
from tests.test_producer_consumer import MY_SCHEMA, _kafka_shaped
from deimos_spark.streaming.producer import Producer, TopicConfig


@pytest.fixture
def producer():
    return Producer(
        TopicConfig(topic="my-topic", schema=MY_SCHEMA, key_field="test_id")
    )


def _consumer(spark, path, use_dvs=False, compacted=True):
    table = DeltaKeyedTable(
        spark, path, ["test_id"], schema=MY_SCHEMA.struct, use_dvs=use_dvs
    )
    cfg = ConsumerConfig(
        schema=MY_SCHEMA, key_cols=["test_id"], compacted=compacted
    )
    return BatchConsumer(cfg, table)


@pytest.mark.parametrize("use_dvs", [False, True], ids=["rewrite", "dv"])
def test_replayed_micro_batch_is_noop(spark, tmp_path, producer, use_dvs):
    c = _consumer(spark, str(tmp_path / "t"), use_dvs=use_dvs)
    b0 = _kafka_shaped(
        spark, producer,
        [Row(test_id="a", some_int=1), Row(test_id="b", some_int=2)],
    )
    c.consume_batch(b0, txn=("job", 0))
    # crash-replay of batch 0 (same id, Spark's foreachBatch contract)
    c.consume_batch(b0, txn=("job", 0))
    got = {r["test_id"]: r["some_int"] for r in c.table.read().collect()}
    assert got == {"a": 1, "b": 2}

    b1 = _kafka_shaped(
        spark, producer, [Row(test_id="a", some_int=9)], start_offset=2
    )
    c.consume_batch(b1, txn=("job", 1))
    c.consume_batch(b1, txn=("job", 1))  # replay again
    got = {r["test_id"]: r["some_int"] for r in c.table.read().collect()}
    assert got == {"a": 9, "b": 2}
    # exactly two data commits + nothing from the replays
    assert c.table.writer._latest_version() == 1


def test_tombstone_batch_replay(spark, tmp_path, producer):
    c = _consumer(spark, str(tmp_path / "t"))
    c.consume_batch(
        _kafka_shaped(
            spark, producer,
            [Row(test_id="a", some_int=1), Row(test_id="b", some_int=2)],
        ),
        txn=("job", 0),
    )
    tomb = _kafka_shaped(
        spark, producer, [Row(test_id="a", some_int=0)], start_offset=2
    )
    from pyspark.sql import functions as F

    tomb = tomb.withColumn("value", F.lit(None).cast("binary"))
    c.consume_batch(tomb, txn=("job", 1))
    c.consume_batch(tomb, txn=("job", 1))
    got = {r["test_id"]: r["some_int"] for r in c.table.read().collect()}
    assert got == {"b": 2}


def test_txn_requires_compacted(spark, tmp_path, producer):
    c = _consumer(spark, str(tmp_path / "t"), compacted=False)
    batch = _kafka_shaped(spark, producer, [Row(test_id="a", some_int=1)])
    with pytest.raises(ValueError, match="compacted"):
        c.consume_batch(batch, txn=("job", 0))


def test_attach_passes_batch_id(spark, tmp_path, producer):
    """attach(txn_app_id=...) wires (app, batch_id) through foreachBatch."""
    c = _consumer(spark, str(tmp_path / "t"))
    seen = []
    orig = c.consume_batch
    c.consume_batch = lambda b, txn=None: (seen.append(txn), orig(b, txn))[1]

    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "5")
        .load()
        .selectExpr(
            "cast(null as binary) as key",
            "cast(null as binary) as value",
            "0 as partition",
            "value as offset",
        )
        .limit(0)
    )
    # drive one empty micro-batch through the real writeStream wiring
    q = c.attach(
        src, str(tmp_path / "ckpt"), txn_app_id="stream-app"
    ).trigger(availableNow=True).start()
    q.awaitTermination(60)
    assert seen and all(
        t is not None and t[0] == "stream-app" and isinstance(t[1], int)
        for t in seen
    )


# ------------------------------------------------- one evaluation per batch

@contextlib.contextmanager
def _adaptive(spark):
    """AQE on for the block (the default for a session autotune has not
    switched off), then the session's own value back."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


class _CountingCodec:
    """The consumer's value codec with every evaluation of its decode
    adding the rows it saw to `acc`."""

    def __init__(self, inner, acc):
        self.inner, self.acc = inner, acc

    def decode(self, col):
        import pandas as pd
        from pyspark.sql import functions as F

        acc = self.acc

        @F.pandas_udf("binary")
        def count_rows(s: pd.Series) -> pd.Series:
            acc.add(len(s))
            return s

        return self.inner.decode(count_rows(col))


def _messages(spark, producer, n, start_offset=0):
    """n messages over n // 2 keys (compaction keeps half), spread over
    4 input partitions like a 4-partition topic's, so compaction's
    aggregate shuffles."""
    return _kafka_shaped(
        spark, producer,
        [Row(test_id=f"k{i % (n // 2)}", some_int=i) for i in range(n)],
        start_offset=start_offset,
    ).repartition(4, "offset")


def test_consume_decodes_each_message_once(spark, tmp_path, producer):
    """One consume evaluates its batch once: the upsert/delete split and
    every read the merge makes (affected keys, survivors, the write)
    scan one materialized copy. A replayed txn evaluates nothing."""
    c = _consumer(spark, str(tmp_path / "t"))
    acc = spark.sparkContext.accumulator(0)
    c.codec = _CountingCodec(c.codec, acc)
    with _adaptive(spark):
        c.consume_batch(_messages(spark, producer, 20), txn=("job", 0))
        assert acc.value == 20
        c.consume_batch(_messages(spark, producer, 20, 20), txn=("job", 1))
        assert acc.value == 40
        c.consume_batch(_messages(spark, producer, 20, 20), txn=("job", 1))
        assert acc.value == 40
    got = {r["test_id"]: r["some_int"] for r in c.table.read().collect()}
    assert got == {f"k{i}": 10 + i for i in range(10)}


@pytest.mark.parametrize("compacted", [True, False], ids=["compacted", "sliced"])
def test_consume_leaves_no_cached_batch(spark, tmp_path, producer, compacted):
    spark.catalog.clearCache()
    c = _consumer(spark, str(tmp_path / "t"), compacted=compacted)
    c.consume_batch(_messages(spark, producer, 8))
    assert _cache_empty(spark)
    got = {r["test_id"]: r["some_int"] for r in c.table.read().collect()}
    assert got == {f"k{i}": 4 + i for i in range(4)}


def test_materialized_batch_does_not_fan_out_the_write(spark, tmp_path, producer):
    """A cached plan keeps its shuffle's partition count unless
    canChangeCachedPlanOutputPartitioning is on when it is cached: the
    consume's write must stay coalesced to one file per commit, and the
    conf goes back to its previous value."""
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    before = spark.conf.get(key)
    c = _consumer(spark, str(tmp_path / "t"))
    with _adaptive(spark):
        c.consume_batch(_messages(spark, producer, 40))
        c.consume_batch(_messages(spark, producer, 40, 40))
    log = tmp_path / "t" / "_delta_log"
    adds = [(log / f"{v:020d}.json").read_text().count('{"add"') for v in (0, 1)]
    assert adds == [1, 1]
    assert spark.conf.get(key) == before
