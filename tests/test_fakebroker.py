"""Kafka-protocol-faithful fake broker: partitioned append-logs,
consumer-group offsets, rebalance — driving the REAL produce/consume
pipeline end-to-end (reference consume loop semantics:
lib/deimos/consumer.rb:17-23, batch_consumption.rb:27-50, tested here
without a broker in the sandbox).
"""

import json

import pytest
from pyspark.sql import Row

from deimos_spark.operators.delta_interop import DeltaKeyedTable
from deimos_spark.schemas.avro import parse_avsc
from deimos_spark.streaming.consumer import BatchConsumer, ConsumerConfig
from deimos_spark.streaming.fakebroker import FakeBroker, FakeConsumer
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
def broker(tmp_path):
    b = FakeBroker(str(tmp_path / "broker"))
    b.create_topic(TOPIC, partitions=4)
    return b


def _consumer(spark, tmp_path, name="tbl", compacted=True):
    table = DeltaKeyedTable(
        spark, str(tmp_path / name), ["test_id"], schema="test_id string, some_int int"
    )
    cfg = ConsumerConfig(schema=MY_SCHEMA, key_cols=["test_id"], compacted=compacted)
    return BatchConsumer(cfg, table), table


def _table_state(table):
    return {r["test_id"]: r["some_int"] for r in table.read().collect()}


# ------------------------------------------------------- log semantics

def test_per_partition_offsets_dense_and_ordered(broker):
    for i in range(20):
        broker.produce(TOPIC, f"k{i % 3}".encode(), str(i).encode())
    for p in range(4):
        recs = broker.read_partition(TOPIC, p)
        assert [r.offset for r in recs] == list(range(len(recs)))


def test_same_key_always_same_partition(broker):
    parts = set()
    for _ in range(5):
        parts.add(broker.produce(TOPIC, b"sticky", b"v").partition)
    assert len(parts) == 1


def test_poll_then_commit_is_at_least_once(broker):
    for i in range(6):
        broker.produce(TOPIC, f"k{i}".encode(), b"v")
    first = broker.poll("g1", TOPIC)
    assert len(first) == 6
    # no commit -> re-poll redelivers everything
    assert len(broker.poll("g1", TOPIC)) == 6
    offsets = {}
    for r in first:
        offsets[r.partition] = max(offsets.get(r.partition, 0), r.offset + 1)
    broker.commit("g1", TOPIC, offsets)
    assert broker.poll("g1", TOPIC) == []
    # other groups are independent
    assert len(broker.poll("g2", TOPIC)) == 6


def test_range_assignment_covers_all_partitions_disjointly():
    a = FakeBroker.assign(4, ["c2", "c1"])
    assert sorted(a["c1"] + a["c2"]) == [0, 1, 2, 3]
    assert set(a["c1"]).isdisjoint(a["c2"])
    # 5 partitions / 2 members: first (sorted) member absorbs remainder
    a = FakeBroker.assign(5, ["b", "a"])
    assert len(a["a"]) == 3 and len(a["b"]) == 2


# ------------------------------------- produce -> consume -> merge e2e

def test_produce_consume_end_to_end(spark, broker, tmp_path):
    producer = Producer(
        TopicConfig(topic=TOPIC, schema=MY_SCHEMA, key_field="test_id")
    )
    df = spark.createDataFrame(
        [Row(test_id=f"id{i}", some_int=i) for i in range(10)]
    )
    producer.publish(df, backend="fake", broker=broker)
    consumer, table = _consumer(spark, tmp_path)
    fc = FakeConsumer(broker, "grp", TOPIC)
    n = fc.run_until_drained(spark, consumer)
    assert n == 10
    assert _table_state(table) == {f"id{i}": i for i in range(10)}


def test_per_key_ordering_survives_partitioned_delivery(spark, broker, tmp_path):
    """Updates to one key interleaved with other keys: key-stickiness +
    per-partition offset order means keep-last compaction lands the FINAL
    value (the batch_consumption.rb ordering assumption)."""
    producer = Producer(
        TopicConfig(topic=TOPIC, schema=MY_SCHEMA, key_field="test_id")
    )
    for ver in range(5):  # five successive updates per key
        df = spark.createDataFrame(
            [Row(test_id=f"id{i}", some_int=ver * 100 + i) for i in range(8)]
        )
        producer.publish(df, backend="fake", broker=broker)
    consumer, table = _consumer(spark, tmp_path)
    fc = FakeConsumer(broker, "grp", TOPIC)
    fc.run_until_drained(spark, consumer)
    assert _table_state(table) == {f"id{i}": 400 + i for i in range(8)}


def test_bounded_polls_preserve_order_across_cycles(spark, broker, tmp_path):
    """max_per_partition forces many poll→commit cycles; the final state
    must still reflect per-partition order."""
    producer = Producer(
        TopicConfig(topic=TOPIC, schema=MY_SCHEMA, key_field="test_id")
    )
    for ver in range(4):
        df = spark.createDataFrame(
            [Row(test_id=f"id{i}", some_int=ver * 10 + i) for i in range(6)]
        )
        producer.publish(df, backend="fake", broker=broker)
    consumer, table = _consumer(spark, tmp_path)
    fc = FakeConsumer(broker, "grp", TOPIC)
    total = fc.run_until_drained(spark, consumer, max_per_partition=3)
    assert total == 24
    assert _table_state(table) == {f"id{i}": 30 + i for i in range(6)}


# --------------------------------------------- crash / resume semantics

def test_offset_resume_after_kill(spark, broker, tmp_path):
    """Consume+commit some batches, 'kill' everything (drop objects),
    reopen the broker directory: the new consumer resumes from committed
    offsets — no replay of processed data, no gaps."""
    producer = Producer(
        TopicConfig(topic=TOPIC, schema=MY_SCHEMA, key_field="test_id")
    )
    producer.publish(
        spark.createDataFrame([Row(test_id=f"a{i}", some_int=i) for i in range(5)]),
        backend="fake",
        broker=broker,
    )
    consumer, table = _consumer(spark, tmp_path)
    FakeConsumer(broker, "grp", TOPIC).run_until_drained(spark, consumer)

    # --- kill: fresh broker handle over the same directory ---
    broker2 = FakeBroker(broker.path)
    producer.publish(
        spark.createDataFrame([Row(test_id=f"b{i}", some_int=i) for i in range(3)]),
        backend="fake",
        broker=broker2,
    )
    fc2 = FakeConsumer(broker2, "grp", TOPIC)
    n = fc2.run_until_drained(spark, consumer)
    assert n == 3  # only the new records — committed offsets survived the kill
    expect = {f"a{i}": i for i in range(5)} | {f"b{i}": i for i in range(3)}
    assert _table_state(table) == expect


def test_crash_before_commit_redelivers_and_merge_is_idempotent(
    spark, broker, tmp_path
):
    """Process a batch into the table but crash BEFORE commit: redelivery
    happens (at-least-once) and the idempotent MERGE converges."""
    producer = Producer(
        TopicConfig(topic=TOPIC, schema=MY_SCHEMA, key_field="test_id")
    )
    producer.publish(
        spark.createDataFrame([Row(test_id=f"x{i}", some_int=i) for i in range(4)]),
        backend="fake",
        broker=broker,
    )
    consumer, table = _consumer(spark, tmp_path)

    # crash simulation: merge applied, commit never reached
    records = broker.poll("grp", TOPIC)
    consumer.consume_batch(broker.to_dataframe(spark, records))
    # (no commit)

    # restart: re-poll redelivers the SAME records
    fc = FakeConsumer(broker, "grp", TOPIC)
    n = fc.run_until_drained(spark, consumer)
    assert n == 4  # redelivered
    assert _table_state(table) == {f"x{i}": i for i in range(4)}
    assert table.read().count() == 4  # no duplicates: merge idempotent


def test_tombstones_flow_through_broker(spark, broker, tmp_path):
    """Null-value records (tombstones) delete their keys downstream."""
    broker.produce(TOPIC, json.dumps({"test_id": "keep"}).encode(),
                   json.dumps({"test_id": "keep", "some_int": 1}).encode())
    broker.produce(TOPIC, json.dumps({"test_id": "dead"}).encode(),
                   json.dumps({"test_id": "dead", "some_int": 2}).encode())
    broker.produce(TOPIC, json.dumps({"test_id": "dead"}).encode(), None)
    consumer, table = _consumer(spark, tmp_path)
    FakeConsumer(broker, "grp", TOPIC).run_until_drained(spark, consumer)
    assert _table_state(table) == {"keep": 1}


# ----------------------------------------------------------- rebalance

def test_rebalance_two_members_split_then_one_takes_over(spark, broker, tmp_path):
    """Two group members consume disjoint partition ranges; one leaves
    and the survivor picks up the orphaned partitions from the committed
    offsets — no loss, no double-apply beyond idempotent redelivery."""
    producer = Producer(
        TopicConfig(topic=TOPIC, schema=MY_SCHEMA, key_field="test_id")
    )
    producer.publish(
        spark.createDataFrame([Row(test_id=f"k{i}", some_int=i) for i in range(12)]),
        backend="fake",
        broker=broker,
    )
    consumer, table = _consumer(spark, tmp_path)

    m1 = FakeConsumer(broker, "grp", TOPIC, member_id="m1")
    m2 = FakeConsumer(broker, "grp", TOPIC, member_id="m2")
    members = ["m1", "m2"]
    m1.rebalance(members)
    m2.rebalance(members)
    assert set(m1.assigned).isdisjoint(m2.assigned)
    assert sorted(m1.assigned + m2.assigned) == [0, 1, 2, 3]

    n1 = m1.run_until_drained(spark, consumer)
    # m2 'dies' before consuming; m1 rebalances to own everything
    m1.rebalance(["m1"])
    assert m1.assigned == [0, 1, 2, 3]
    n2 = m1.run_until_drained(spark, consumer)
    assert n1 + n2 == 12
    assert _table_state(table) == {f"k{i}": i for i in range(12)}


# ------------------------------------- executor-side outbox relay

def _outbox_with_messages(spark, tmp_path, broker, versions=3, keys=6):
    from deimos_spark.sources.outbox import OutboxTable

    outbox = OutboxTable(spark, str(tmp_path / "outbox"))
    producer = Producer(
        TopicConfig(topic=TOPIC, schema=MY_SCHEMA, key_field="test_id")
    )
    for ver in range(versions):
        df = spark.createDataFrame(
            [Row(test_id=f"id{i}", some_int=ver * 100 + i) for i in range(keys)]
        )
        producer.publish(df, backend="outbox", outbox=outbox)
    return outbox


def test_executor_relay_drains_outbox_through_executors(spark, broker, tmp_path):
    """mode='executor': produce runs in executor tasks (payload bytes
    never collected to the driver); messages land in the broker with
    per-key order intact, outbox drains."""
    from deimos_spark.sources.outbox import OutboxRelay
    from deimos_spark.streaming.fakebroker import broker_producer

    outbox = _outbox_with_messages(spark, tmp_path, broker, versions=3, keys=6)
    relay = OutboxRelay(
        outbox,
        broker_producer(broker.path),
        mode="executor",
        executor_parallelism=4,
    )
    n = relay.run_once()
    assert n == 18
    assert outbox.pending_count() == 0
    # consume from the broker: keep-last compaction must land the final
    # version per key => per-key order survived the executor fan-out
    consumer, table = _consumer(spark, tmp_path)
    FakeConsumer(broker, "grp", TOPIC).run_until_drained(spark, consumer)
    assert _table_state(table) == {f"id{i}": 200 + i for i in range(6)}


def test_executor_relay_crash_window_is_at_least_once(spark, broker, tmp_path):
    """Crash AFTER executor-side produce but BEFORE delete: rerun
    re-sends the batch (duplicates in the broker are fine — the keyed
    MERGE sink is idempotent), and the outbox still drains."""
    from deimos_spark.sources.outbox import OutboxRelay
    from deimos_spark.streaming.fakebroker import broker_producer

    outbox = _outbox_with_messages(spark, tmp_path, broker, versions=1, keys=4)

    relay = OutboxRelay(outbox, broker_producer(broker.path), mode="executor")
    real_delete = outbox.delete_ids
    boom = {"armed": True}

    def crashing_delete(ids):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("crash between produce and delete")
        real_delete(ids)

    outbox.delete_ids = crashing_delete
    with pytest.raises(RuntimeError):
        relay.run_once()
    assert outbox.pending_count() == 4  # nothing deleted

    n = relay.run_once()  # rerun: re-produce + successful delete
    assert n == 4
    assert outbox.pending_count() == 0

    total_in_broker = sum(
        broker.end_offset(TOPIC, p) for p in range(broker.num_partitions(TOPIC))
    )
    assert total_in_broker == 8  # duplicates exist (at-least-once)

    consumer, table = _consumer(spark, tmp_path)
    FakeConsumer(broker, "grp", TOPIC).run_until_drained(spark, consumer)
    assert _table_state(table) == {f"id{i}": i for i in range(4)}  # converged


def test_driver_and_executor_relays_agree(spark, broker, tmp_path):
    """Same outbox content relayed in both modes produces the same
    per-key final state downstream."""
    from deimos_spark.sources.outbox import OutboxRelay

    # driver mode against a second broker
    broker_d = FakeBroker(str(tmp_path / "broker_d"))
    broker_d.create_topic(TOPIC, partitions=4)
    outbox_d = _outbox_with_messages(spark, tmp_path / "d", broker_d, 2, 5)

    def driver_produce(topic, rows):
        for r in rows:
            broker_d.produce(
                topic,
                bytes(r["key"]) if r["key"] is not None else None,
                bytes(r["message"]) if r["message"] is not None else None,
            )

    OutboxRelay(outbox_d, driver_produce, mode="driver").run_once()

    from deimos_spark.streaming.fakebroker import broker_producer

    outbox_e = _outbox_with_messages(spark, tmp_path / "e", broker, 2, 5)
    OutboxRelay(outbox_e, broker_producer(broker.path), mode="executor").run_once()

    cons_d, table_d = _consumer(spark, tmp_path, name="tbl_d")
    FakeConsumer(broker_d, "g", TOPIC).run_until_drained(spark, cons_d)
    cons_e, table_e = _consumer(spark, tmp_path, name="tbl_e")
    FakeConsumer(broker, "g", TOPIC).run_until_drained(spark, cons_e)
    assert _table_state(table_d) == _table_state(table_e) == {
        f"id{i}": 100 + i for i in range(5)
    }
