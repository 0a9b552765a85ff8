"""CDC poller (A24-A26) and outbox relay (A27): cursor resumability,
delay window, at-least-once, compaction-on-relay.
"""

import datetime
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deimos_spark.sources.outbox import OutboxRelay, OutboxTable
from deimos_spark.sources.poller import PollCursor, StateBasedPoller, TimeBasedPoller


def _source(spark, rows):
    def f():
        return spark.createDataFrame(rows)

    return f


def test_time_based_poller_cursor(spark, tmp_path):
    rows = [Row(id=i, updated_at=100 + i, name=f"w{i}") for i in range(5)]
    published = []
    p = TimeBasedPoller(
        _source(spark, rows),
        lambda df: published.extend(r["id"] for r in df.collect()),
        str(tmp_path / "cursor.json"),
        ts_col="updated_at",
        id_col="id",
        batch_size=2,
        delay_micros=0,
    )
    n = p.run_once(now_micros=104)  # delay=0 → window ≤ 104 → rows 0..4? ts 100..104
    assert n == 5 and published == [0, 1, 2, 3, 4]

    # nothing new → no publishes
    published.clear()
    assert p.run_once(now_micros=104) == 0 and published == []

    # new rows after the cursor are picked up, old ones are not re-sent
    rows.append(Row(id=5, updated_at=105, name="w5"))
    rows.append(Row(id=6, updated_at=106, name="w6"))
    p.source = _source(spark, rows)
    assert p.run_once(now_micros=200) == 2 and published == [5, 6]


def test_poller_delay_window_excludes_recent(spark, tmp_path):
    rows = [Row(id=1, updated_at=100), Row(id=2, updated_at=199), Row(id=3, updated_at=150)]
    published = []
    p = TimeBasedPoller(
        _source(spark, rows),
        lambda df: published.extend(r["id"] for r in df.collect()),
        str(tmp_path / "c.json"),
        ts_col="updated_at",
        id_col="id",
        delay_micros=50,
    )
    p.run_once(now_micros=200)  # window ≤ 150: row id=2 (ts=199) excluded
    assert published == [1, 3]


def test_poller_same_ts_resumes_by_id(spark, tmp_path):
    """The (ts = from AND id > last_id) branch: rows sharing a timestamp
    straddling a batch boundary are neither skipped nor re-sent."""
    rows = [Row(id=i, updated_at=100) for i in range(5)]
    published = []
    p = TimeBasedPoller(
        _source(spark, rows),
        lambda df: published.extend(r["id"] for r in df.collect()),
        str(tmp_path / "c.json"),
        ts_col="updated_at",
        id_col="id",
        batch_size=2,
        delay_micros=0,
    )
    p.run_once(now_micros=1000)
    assert published == [0, 1, 2, 3, 4]
    cur = PollCursor.load(str(tmp_path / "c.json"))
    assert (cur.last_ts, cur.last_id) == (100, 4)


def test_full_table_mode(spark, tmp_path):
    rows = [Row(id=1, updated_at=1), Row(id=2, updated_at=2)]
    seen = []
    p = TimeBasedPoller(
        _source(spark, rows),
        lambda df: seen.append(df.count()),
        str(tmp_path / "c.json"),
        full_table=True,
    )
    assert p.run_once(0) == 2
    assert p.run_once(0) == 2  # re-dumps every run
    assert seen == [2, 2]


def test_state_based_poller(spark):
    state = {1: "pending", 2: "pending", 3: "done"}
    published = []

    def source():
        return spark.createDataFrame(
            [Row(id=k, state=v) for k, v in state.items()]
        )

    def update_state(keys, ok):
        for r in keys.collect():
            state[r["id"]] = "published" if ok else "failed"

    p = StateBasedPoller(
        source,
        lambda df: published.extend(r["id"] for r in df.collect()),
        predicate=F.col("state") == "pending",
        id_col="id",
        update_state=update_state,
    )
    assert p.run_once() == 2
    assert state == {1: "published", 2: "published", 3: "done"}


# ------------------------------------------------------------------ outbox

def _messages(spark, topic, pairs):
    return spark.createDataFrame(
        [
            Row(key=k.encode() if k else None, value=v.encode() if v else None, topic=topic)
            for k, v in pairs
        ]
    )


def test_outbox_append_assigns_monotonic_ids(spark, tmp_path):
    ob = OutboxTable(spark, str(tmp_path / "outbox"))
    ob.append(_messages(spark, "t1", [("a", "1"), ("b", "2")]))
    ob.append(_messages(spark, "t1", [("c", "3")]))
    ids = [r["id"] for r in ob.read().orderBy("id").collect()]
    assert ids == [1, 2, 3]
    assert ob.pending_count() == 3
    assert ob.read().schema["id"].dataType == T.LongType()


def test_relay_drains_in_order_and_deletes(spark, tmp_path):
    ob = OutboxTable(spark, str(tmp_path / "outbox"))
    ob.append(_messages(spark, "t1", [("a", "1"), ("b", "2")]))
    ob.append(_messages(spark, "t2", [("x", "9")]))
    produced = []
    relay = OutboxRelay(
        ob, lambda topic, rows: produced.append((topic, [bytes(r["message"]).decode() for r in rows]))
    )
    n = relay.run_once()
    assert n == 3
    assert produced == [("t1", ["1", "2"]), ("t2", ["9"])]
    assert ob.pending_count() == 0


def test_relay_compaction_keeps_last_per_key(spark, tmp_path):
    ob = OutboxTable(spark, str(tmp_path / "outbox"))
    ob.append(_messages(spark, "t1", [("a", "1"), ("a", "2"), ("b", "3"), ("a", "4")]))
    produced = []
    relay = OutboxRelay(
        ob,
        lambda topic, rows: produced.extend(bytes(r["message"]).decode() for r in rows),
        compact_topics={"t1"},
    )
    relay.run_once()
    assert sorted(produced) == ["3", "4"]  # keep-last per key, order by id
    assert ob.pending_count() == 0


def test_relay_batch_limit_loops_until_drained(spark, tmp_path):
    ob = OutboxTable(spark, str(tmp_path / "outbox"))
    ob.append(_messages(spark, "t1", [(str(i), str(i)) for i in range(7)]))
    produced = []
    relay = OutboxRelay(
        ob,
        lambda topic, rows: produced.extend(bytes(r["message"]).decode() for r in rows),
        batch_size=3,
    )
    n = relay.run_once()
    assert n == 7 and len(produced) == 7
    assert ob.pending_count() == 0


def _decoded(rows):
    return [bytes(r["message"]).decode() for r in rows]


def test_outbox_append_during_delete_is_kept(spark, tmp_path):
    """An append that commits while a delete is in flight makes the
    delete's MERGE commit conflict and retry on the new snapshot: the
    appended message stays pending and the next relay pass sends it."""
    ob = OutboxTable(spark, str(tmp_path / "outbox"))
    ob.append(_messages(spark, "t1", [("a", "1"), ("b", "2")]))
    writer = ob.table.writer
    real_commit = writer._commit
    raced = []

    def commit(version, actions, **kw):
        if kw.get("op") == "MERGE" and not raced:
            raced.append(version)
            ob.append(_messages(spark, "t1", [("c", "late")]))
        return real_commit(version, actions, **kw)

    writer._commit = commit
    produced = []
    relay = OutboxRelay(ob, lambda topic, rows: produced.extend(_decoded(rows)))
    assert relay.run_once() == 2
    assert raced
    assert _decoded(ob.read().collect()) == ["late"]
    assert relay.run_once() == 1
    assert produced == ["1", "2", "late"]
    assert ob.pending_count() == 0


def test_outbox_crash_during_delete_keeps_every_message(spark, tmp_path):
    """A crash inside the delete's commit leaves the previous snapshot:
    every message is still pending (a restarted handle sees them all)
    and no side directory is left next to the table."""
    path = str(tmp_path / "outbox")
    ob = OutboxTable(spark, path)
    ob.delete_ids([1])  # an outbox with no commits: nothing to delete
    ob.append(_messages(spark, "t1", [("a", "1"), ("b", "2"), ("c", "3")]))
    real_commit = ob.table.writer._commit

    def crash(version, actions, **kw):
        if kw.get("op") == "MERGE":
            raise RuntimeError("crash during delete")
        return real_commit(version, actions, **kw)

    ob.table.writer._commit = crash
    with pytest.raises(RuntimeError):
        ob.delete_ids([1, 2])
    restarted = OutboxTable(spark, path)
    assert sorted(r["id"] for r in restarted.read().collect()) == [1, 2, 3]
    assert os.listdir(tmp_path) == ["outbox"]


def test_outbox_parquet_era_directory_converts(spark, tmp_path):
    """A plain-parquet outbox directory (the pre-Delta layout: no
    _delta_log, int ids) refuses loudly instead of opening as an empty
    outbox; converted in place, it drains and keeps numbering."""
    from deimos_spark.operators.delta_interop import (
        DeltaProtocolError,
        convert_parquet_dir,
    )

    path = str(tmp_path / "outbox")
    now = datetime.datetime.now()
    spark.createDataFrame(
        [(i, "t1", b"k%d" % i, b"%d" % i, b"k%d" % i, now) for i in (1, 2)],
        "id int, topic string, key binary, message binary, "
        "partition_key binary, created_at timestamp",
    ).write.parquet(path)
    with pytest.raises(DeltaProtocolError, match="convert_parquet_dir"):
        OutboxTable(spark, path)
    convert_parquet_dir(spark, path)
    ob = OutboxTable(spark, path)
    ob.delete_ids([1])
    ob.append(_messages(spark, "t1", [("c", "3")]))
    assert sorted(r["id"] for r in ob.read().collect()) == [2, 3]
    produced = []
    relay = OutboxRelay(ob, lambda topic, rows: produced.extend(_decoded(rows)))
    assert relay.run_once() == 2
    assert produced == ["2", "3"]
    assert ob.pending_count() == 0


def test_changelog_poller_iceberg_and_delta(spark, tmp_path):
    """ChangelogPoller: the table's own snapshot/version log is the
    cursor — each run_once publishes exactly the rows that changed
    since the last committed position (as _op rows via the feed
    adapters), commits the cursor AFTER publish, and a failed publish
    re-delivers the window (at-least-once)."""
    from deimos_spark.operators.delta_interop import DeltaKeyedTable
    from deimos_spark.operators.iceberg_interop import IcebergKeyedTable
    from deimos_spark.sources.poller import ChangelogPoller

    # ---------------- Iceberg
    t = str(tmp_path / "clp_ice")
    kt = IcebergKeyedTable(spark, t, ["id"])
    kt.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))

    seen: list[tuple] = []
    fail = {"on": False}

    def sink(df):
        if fail["on"]:
            raise RuntimeError("publish down")
        seen.extend(
            (r["id"], r["v"], r["_op"]) for r in df.collect()
        )

    p = ChangelogPoller(
        spark, t, sink, str(tmp_path / "ice.cursor"),
        fmt="iceberg", key_cols=["id"],
    )
    assert p.run_once() == 2
    assert set(seen) == {(1, "a", "create"), (2, "b", "create")}
    assert p.run_once() == 0  # drained: cursor committed

    kt.merge(
        upserts=spark.createDataFrame([(1, "A1")], "id long, v string"),
        delete_keys=spark.createDataFrame([(2,)], "id long"),
    )
    # crash window: publish fails -> cursor NOT advanced -> retry resends
    seen.clear()
    fail["on"] = True
    import pytest as _pt

    with _pt.raises(RuntimeError):
        p.run_once()
    fail["on"] = False
    assert p.run_once() == 2
    assert set(seen) == {(1, "A1", "update"), (2, None, "delete")}

    # ---------------- Delta (CDF table)
    t2 = str(tmp_path / "clp_delta")
    dkt = DeltaKeyedTable(
        spark, t2, ["id"], schema="id long, v string", enable_cdf=True
    )
    dkt.upsert(spark.createDataFrame([(5, "e")], "id long, v string"))
    seen2: list[tuple] = []
    p2 = ChangelogPoller(
        spark, t2,
        lambda df: seen2.extend(
            (r["id"], r["v"], r["_op"]) for r in df.collect()
        ),
        str(tmp_path / "delta.cursor"), fmt="delta", key_cols=["id"],
    )
    assert p2.run_once() == 1
    assert seen2 == [(5, "e", "create")]
    dkt.merge(upserts=spark.createDataFrame([(5, "E5")], "id long, v string"))
    seen2.clear()
    assert p2.run_once() == 1
    assert seen2 == [(5, "E5", "update")]
    assert p2.run_once() == 0


def test_changelog_poller_multi_commit_window_ordering(spark, tmp_path):
    """A redelivered window spanning several commits can carry a create
    AND its later delete for the SAME key; the published ops carry
    `_ord` (commit version / snapshot ordinal) so keep-last compaction
    (batch_consumption.rb:121-125 contract) resolves to the LAST op —
    here the delete must survive, never the resurrected payload."""
    from deimos_spark.operators.compaction import compact_keep_last
    from deimos_spark.operators.delta_interop import DeltaKeyedTable
    from deimos_spark.operators.iceberg_interop import IcebergKeyedTable
    from deimos_spark.sources.poller import ChangelogPoller

    # ---------------- Delta: upsert then delete land in ONE poll window
    t = str(tmp_path / "ord_delta")
    kt = DeltaKeyedTable(
        spark, t, ["id"], schema="id long, v string", enable_cdf=True
    )
    final: list[tuple] = []

    def sink(df):
        last = compact_keep_last(df, ["id"], ["_ord"])
        final.extend((r["id"], r["v"], r["_op"]) for r in last.collect())

    p = ChangelogPoller(
        spark, t, sink, str(tmp_path / "d.cursor"), fmt="delta",
        key_cols=["id"],
    )
    kt.upsert(spark.createDataFrame([(7, "alive")], "id long, v string"))
    kt.delete(spark.createDataFrame([(7,)], "id long"))
    kt.upsert(spark.createDataFrame([(8, "other")], "id long, v string"))
    assert p.run_once() == 3
    assert sorted(final) == [(7, None, "delete"), (8, "other", "create")]

    # ---------------- Iceberg: same window shape over snapshot ordinals
    t2 = str(tmp_path / "ord_ice")
    ikt = IcebergKeyedTable(spark, t2, ["id"])
    final.clear()
    p2 = ChangelogPoller(
        spark, t2, sink, str(tmp_path / "i.cursor"), fmt="iceberg",
        key_cols=["id"],
    )
    ikt.upsert(spark.createDataFrame([(7, "alive")], "id long, v string"))
    ikt.delete(spark.createDataFrame([(7,)], "id long"))
    ikt.upsert(spark.createDataFrame([(8, "other")], "id long, v string"))
    assert p2.run_once() == 3
    assert sorted(final) == [(7, None, "delete"), (8, "other", "create")]


def test_changelog_poller_single_assembly(spark, tmp_path, monkeypatch):
    """One changelog assembly per cycle: the poller persists the feed
    before counting, so the publish pass reads the cached result
    instead of recomputing the whole changelog (for Iceberg that would
    be a second parent-snapshot read + delete-set join per poll)."""
    from deimos_spark.operators import delta_interop as di
    from deimos_spark.operators.delta_interop import DeltaKeyedTable
    from deimos_spark.sources.poller import ChangelogPoller

    t = str(tmp_path / "single_delta")
    kt = DeltaKeyedTable(
        spark, t, ["id"], schema="id long, v string", enable_cdf=True
    )
    kt.upsert(spark.createDataFrame([(1, "a")], "id long, v string"))

    calls = []
    real = di.DeltaTableReader.read_changes

    def counting(self, *a, **kw):
        calls.append(a)
        return real(self, *a, **kw)

    monkeypatch.setattr(di.DeltaTableReader, "read_changes", counting)
    seen_persisted = []

    def sink(df):
        seen_persisted.append(df.storageLevel.useMemory)
        df.collect()

    p = ChangelogPoller(
        spark, t, sink, str(tmp_path / "s.cursor"), fmt="delta",
        key_cols=["id"],
    )
    assert p.run_once() == 1
    assert len(calls) == 1          # feed assembled once per cycle
    assert seen_persisted == [True]  # publish reads the cached feed
