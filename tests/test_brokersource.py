"""PySpark-4 Python DataSource over the fake broker: batch relation +
Structured Streaming source with Spark-checkpointed offsets — the
readStream twin of the poll-loop consume tests."""

import json

import pytest
from pyspark.sql import Row

from deimos_spark.operators.delta_interop import DeltaKeyedTable
from deimos_spark.schemas.avro import parse_avsc
from deimos_spark.sources.brokersource import FakeBrokerDataSource
from deimos_spark.streaming.consumer import BatchConsumer, ConsumerConfig
from deimos_spark.streaming.fakebroker import FakeBroker
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

TOPIC = "widgets"


@pytest.fixture
def broker(spark, tmp_path):
    spark.dataSource.register(FakeBrokerDataSource)
    b = FakeBroker(str(tmp_path / "broker"))
    b.create_topic(TOPIC, partitions=4)
    return b


def _publish(spark, broker, rows):
    producer = Producer(
        TopicConfig(topic=TOPIC, schema=MY_SCHEMA, key_field="test_id")
    )
    producer.publish(
        spark.createDataFrame([Row(test_id=k, some_int=v) for k, v in rows]),
        backend="fake",
        broker=broker,
    )


def test_batch_read_exposes_kafka_shape(spark, broker):
    _publish(spark, broker, [(f"id{i}", i) for i in range(12)])
    df = (
        spark.read.format("fakebroker")
        .option("path", broker.path)
        .option("topic", TOPIC)
        .load()
    )
    assert set(df.columns) == {
        "key", "value", "topic", "partition", "offset", "timestamp",
    }
    rows = df.collect()
    assert len(rows) == 12
    # offsets dense per partition, in order
    by_part = {}
    for r in sorted(rows, key=lambda r: (r["partition"], r["offset"])):
        by_part.setdefault(r["partition"], []).append(r["offset"])
    for offs in by_part.values():
        assert offs == list(range(len(offs)))
    # payloads decode
    payload = json.loads(bytes(rows[0]["value"]))
    assert set(payload) == {"test_id", "some_int"}


def test_streaming_consume_merges_and_resumes(spark, broker, tmp_path):
    """readStream over the broker: first query drains current offsets
    into the keyed table; a RESTARTED query with the same checkpoint
    picks up only new records (Spark-checkpointed offset resume)."""
    _publish(spark, broker, [(f"a{i}", i) for i in range(6)])

    table = DeltaKeyedTable(
        spark, str(tmp_path / "tbl"), ["test_id"],
        schema="test_id string, some_int int",
    )
    consumer = BatchConsumer(
        ConsumerConfig(schema=MY_SCHEMA, key_cols=["test_id"]), table
    )
    ckpt = str(tmp_path / "ckpt")

    def run_query():
        stream = (
            spark.readStream.format("fakebroker")
            .option("path", broker.path)
            .option("topic", TOPIC)
            .load()
        )
        q = consumer.attach(stream, checkpoint=ckpt).start()
        q.processAllAvailable()
        q.stop()

    run_query()
    got = {r["test_id"]: r["some_int"] for r in table.read().collect()}
    assert got == {f"a{i}": i for i in range(6)}

    # new data + updates, then a fresh query on the same checkpoint
    _publish(spark, broker, [("a0", 100), ("b0", 7)])
    run_query()
    got = {r["test_id"]: r["some_int"] for r in table.read().collect()}
    expect = {f"a{i}": i for i in range(1, 6)} | {"a0": 100, "b0": 7}
    assert got == expect


def test_streaming_tombstone_deletes_via_source(spark, broker, tmp_path):
    broker.produce(TOPIC, json.dumps({"test_id": "keep"}).encode(),
                   json.dumps({"test_id": "keep", "some_int": 1}).encode())
    broker.produce(TOPIC, json.dumps({"test_id": "dead"}).encode(),
                   json.dumps({"test_id": "dead", "some_int": 2}).encode())
    broker.produce(TOPIC, json.dumps({"test_id": "dead"}).encode(), None)

    table = DeltaKeyedTable(
        spark, str(tmp_path / "tbl"), ["test_id"],
        schema="test_id string, some_int int",
    )
    consumer = BatchConsumer(
        ConsumerConfig(schema=MY_SCHEMA, key_cols=["test_id"]), table
    )
    stream = (
        spark.readStream.format("fakebroker")
        .option("path", broker.path)
        .option("topic", TOPIC)
        .load()
    )
    q = consumer.attach(stream, checkpoint=str(tmp_path / "ckpt")).start()
    q.processAllAvailable()
    q.stop()
    got = {r["test_id"]: r["some_int"] for r in table.read().collect()}
    assert got == {"keep": 1}


def test_batch_write_produces_through_partitioner(spark, broker):
    """df.write.format('fakebroker'): executor tasks append through the
    sticky key-partitioner — same key lands in one partition."""
    producer = Producer(
        TopicConfig(topic=TOPIC, schema=MY_SCHEMA, key_field="test_id")
    )
    msgs = producer.build_messages(
        spark.createDataFrame(
            [Row(test_id=f"id{i % 4}", some_int=i) for i in range(16)]
        )
    )
    (
        msgs.select("key", "value")
        .write.format("fakebroker")
        .option("path", broker.path)
        .option("topic", TOPIC)
        .mode("append")
        .save()
    )
    total = sum(broker.end_offset(TOPIC, p) for p in range(4))
    assert total == 16
    # sticky: each of the 4 keys lives in exactly one partition
    seen = {}
    for p in range(4):
        for rec in broker.read_partition(TOPIC, p):
            k = bytes(rec.key).decode()
            seen.setdefault(k, set()).add(p)
    assert all(len(parts) == 1 for parts in seen.values())


def test_overwrite_mode_rejected(spark, broker):
    """The broker log is append-only (like the real Kafka sink):
    mode('overwrite') must fail loudly, not silently append."""
    df = spark.createDataFrame(
        [Row(key=b"k", value=b"v")], "key binary, value binary"
    )
    with pytest.raises(Exception, match="append-only"):
        (
            df.write.format("fakebroker")
            .option("path", broker.path)
            .option("topic", TOPIC)
            .mode("overwrite")
            .save()
        )


def test_read_span_timestamp_is_utc_pinned(tmp_path):
    """Executor-side decode must interpret broker epoch timestamps as
    UTC regardless of the worker's process TZ (the session pins
    spark.sql.session.timeZone=UTC; a naive fromtimestamp() would shift
    by the local offset on a TZ!=UTC cluster)."""
    import datetime as dt
    import os
    import time as _time

    from deimos_spark.sources.brokersource import _BrokerPartition, _read_span

    b = FakeBroker(str(tmp_path / "tzbroker"))
    b.create_topic("tz", partitions=1)
    b.produce("tz", b"k", b"v")
    rec = next(iter(b.read_partition("tz", 0)))

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"  # UTC-4/-5: naive would shift
    _time.tzset()
    try:
        row = next(_read_span(_BrokerPartition(b.path, "tz", 0, 0, 1)))
        got = row[5]
        assert got.tzinfo is not None
        assert got == dt.datetime.fromtimestamp(rec.timestamp, tz=dt.timezone.utc)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()


def _drain_counting_batches(spark, broker, ckpt, cap=None, group=None):
    """Run the stream to exhaustion through foreachBatch, returning the
    list of non-empty batches as [(partition, offset), ...] lists."""
    reader = (
        spark.readStream.format("fakebroker")
        .option("path", broker.path)
        .option("topic", TOPIC)
    )
    if cap is not None:
        reader = reader.option("maxRecordsPerBatch", str(cap))
    if group is not None:
        reader = reader.option("groupId", group)
    batches = []

    def sink(df, _bid):
        rows = [(r["partition"], r["offset"]) for r in df.collect()]
        if rows:
            batches.append(rows)

    q = (
        reader.load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return batches


def test_max_records_per_batch_bounds_microbatches(spark, broker, tmp_path):
    """A deep backlog with maxRecordsPerBatch drains in MULTIPLE bounded
    micro-batches (<= cap per broker partition per batch), exactly once,
    with per-partition offset order preserved across batches — the
    reference caps every poll the same way (db_poller/base.rb:16)."""
    _publish(spark, broker, [(f"id{i}", i) for i in range(60)])

    batches = _drain_counting_batches(
        spark, broker, str(tmp_path / "ckpt"), cap=5
    )
    assert len(batches) >= 2  # never one unbounded gulp
    for rows in batches:
        per_part = {}
        for p, o in rows:
            per_part[p] = per_part.get(p, 0) + 1
        assert all(n <= 5 for n in per_part.values())
    # exactly once, in per-partition offset order across batch boundaries
    seen = [po for rows in batches for po in rows]
    assert len(seen) == len(set(seen)) == 60
    last = {}
    for p, o in seen:
        assert o > last.get(p, -1)
        last[p] = o


def test_restart_with_deep_backlog_drains_bounded(spark, broker, tmp_path):
    """The round-3 gap: a RESTARTED query facing a deep backlog must not
    replay it in one unbounded micro-batch. The reader re-learns the
    checkpointed position, then drains capped."""
    ckpt = str(tmp_path / "ckpt")
    _publish(spark, broker, [(f"a{i}", i) for i in range(8)])
    first = _drain_counting_batches(spark, broker, ckpt, cap=4)
    drained = {po for rows in first for po in rows}
    assert len(drained) == 8

    # deep backlog lands while the query is down
    _publish(spark, broker, [(f"b{i}", i) for i in range(48)])
    second = _drain_counting_batches(spark, broker, ckpt, cap=4)
    assert len(second) >= 2  # bounded drain, not one gulp
    for rows in second:
        per_part = {}
        for p, o in rows:
            per_part[p] = per_part.get(p, 0) + 1
        assert all(n <= 4 for n in per_part.values())
    replayed = [po for rows in second for po in rows]
    # only the new records, each exactly once, order preserved per partition
    assert len(replayed) == len(set(replayed)) == 48
    assert not (set(replayed) & drained)
    last = {}
    for p, o in replayed:
        assert o > last.get(p, -1)
        last[p] = o


def _wal_offsets(ckpt):
    """Parse Spark's offset WAL: [(batch_id, {partition: end_offset})]."""
    import glob
    import json as _json
    import os

    out = []
    files = [
        f
        for f in glob.glob(os.path.join(ckpt, "offsets", "*"))
        if os.path.basename(f).isdigit()
    ]
    for f in sorted(files, key=lambda p: int(os.path.basename(p))):
        with open(f) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        # v1 header, metadata json, then one offset json per source
        raw = _json.loads(lines[-1])
        if isinstance(raw, str):  # python datasources double-encode
            raw = _json.loads(raw)
        out.append((int(os.path.basename(f)), raw))
    return out


def test_group_id_keeps_offset_wal_monotone_across_restart(
    spark, broker, tmp_path
):
    """With groupId, commit() mirrors progress to the broker's group
    store, so a restarted capped reader knows its floor immediately:
    no zero-progress learning batch, and the checkpoint's offset WAL
    never goes backwards (the ADVICE r4 surprise)."""
    ckpt = str(tmp_path / "ckpt")
    _publish(spark, broker, [(f"a{i}", i) for i in range(8)])
    first = _drain_counting_batches(spark, broker, ckpt, cap=4, group="g1")
    got_first = {po for rows in first for po in rows}
    assert len(got_first) == 8

    _publish(spark, broker, [(f"b{i}", i) for i in range(16)])
    second = _drain_counting_batches(spark, broker, ckpt, cap=4, group="g1")
    replayed = [po for rows in second for po in rows]
    assert len(replayed) == len(set(replayed)) == 16
    assert not (set(replayed) & got_first)

    # the WAL itself: per-partition end offsets never decrease
    wal = _wal_offsets(ckpt)
    assert len(wal) >= 2
    last: dict = {}
    for bid, ends in wal:
        for p, o in ends.items():
            assert int(o) >= last.get(p, 0), (
                f"offset WAL went backwards at batch {bid}: "
                f"partition {p} {last.get(p)} -> {o}"
            )
            last[p] = int(o)


def test_starting_offsets_latest_skips_backlog(spark, broker, tmp_path):
    """startingOffsets=latest: a FRESH query ignores the existing
    backlog and only sees records produced after it starts; a restart
    on the same checkpoint resumes from the checkpoint (Kafka-source
    semantics), not from latest again."""
    _publish(spark, broker, [(f"old{i}", i) for i in range(10)])
    ckpt = str(tmp_path / "ckpt")

    def drain():
        reader = (
            spark.readStream.format("fakebroker")
            .option("path", broker.path)
            .option("topic", TOPIC)
            .option("startingOffsets", "latest")
        )
        rows = []

        def sink(df, _bid):
            rows.extend((r["partition"], r["offset"]) for r in df.collect())

        q = (
            reader.load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return rows

    assert drain() == []  # backlog skipped entirely
    _publish(spark, broker, [("new0", 100), ("new1", 101)])
    assert len(drain()) == 2  # checkpoint resume, not latest-again
    # option validation surfaces when the reader is instantiated (query
    # start — the Python DataSource API constructs streamReader lazily)
    with pytest.raises(Exception, match="startingOffsets"):
        q = (
            spark.readStream.format("fakebroker")
            .option("path", broker.path)
            .option("topic", TOPIC)
            .option("startingOffsets", "bogus")
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt_bad"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_streaming_mirror_topic_to_topic(spark, broker, tmp_path):
    """The Spark-native relay: readStream topic A -> writeStream topic B,
    then consume B into a keyed table. A full mirror pipeline with
    nothing but format('fakebroker') on both ends."""
    broker.create_topic("mirror", partitions=4)
    _publish(spark, broker, [(f"m{i}", i) for i in range(8)])

    stream = (
        spark.readStream.format("fakebroker")
        .option("path", broker.path)
        .option("topic", TOPIC)
        .load()
    )
    q = (
        stream.select("key", "value")
        .writeStream.format("fakebroker")
        .option("path", broker.path)
        .option("topic", "mirror")
        .option("checkpointLocation", str(tmp_path / "ckpt_mirror"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    assert sum(broker.end_offset("mirror", p) for p in range(4)) == 8
    table = DeltaKeyedTable(
        spark, str(tmp_path / "tbl"), ["test_id"],
        schema="test_id string, some_int int",
    )
    consumer = BatchConsumer(
        ConsumerConfig(schema=MY_SCHEMA, key_cols=["test_id"]), table
    )
    mirror = (
        spark.readStream.format("fakebroker")
        .option("path", broker.path)
        .option("topic", "mirror")
        .load()
    )
    q2 = consumer.attach(mirror, checkpoint=str(tmp_path / "ckpt_consume")).start()
    q2.processAllAvailable()
    q2.stop()
    got = {r["test_id"]: r["some_int"] for r in table.read().collect()}
    assert got == {f"m{i}": i for i in range(8)}
