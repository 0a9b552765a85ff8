"""Delta Lake interop, both directions. The reader replays hand-authored
_delta_log directories written strictly per the PUBLIC protocol spec
(delta.io PROTOCOL.md) — add/remove/metaData/protocol JSON actions,
partition values carried in the log, checkpoint parquet + replay. The
writer's logs are asserted spec-shaped (a real Delta reader's view) and
round-trip through the reader: append/overwrite, partitioned layout,
keyed MERGE with time travel, concurrent-claim conflict retry.
"""

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from deimos_spark.operators.delta_interop import (
    DeltaProtocolError,
    DeltaTableReader,
)

SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": False, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _write_data_file(spark, table, rel, rows, schema="id long, v string"):
    """One single-file parquet unit at table/rel."""
    tmp = os.path.join(table, f"__tmp_{rel.replace('/', '_')}")
    df = spark.createDataFrame(rows, schema).coalesce(1)
    df.write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.makedirs(os.path.dirname(os.path.join(table, rel)) or table, exist_ok=True)
    os.rename(os.path.join(tmp, part), os.path.join(table, rel))
    import shutil

    shutil.rmtree(tmp)


def _commit(table, version, actions):
    logdir = os.path.join(table, "_delta_log")
    os.makedirs(logdir, exist_ok=True)
    with open(os.path.join(logdir, f"{version:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _meta(schema_json=SCHEMA_JSON, partition_cols=()):
    return {
        "metaData": {
            "id": "00000000-0000-0000-0000-000000000000",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_json,
            "partitionColumns": list(partition_cols),
            "configuration": {},
        }
    }


_PROTO = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


def _add(path, pvals=None):
    return {
        "add": {
            "path": path,
            "partitionValues": pvals or {},
            "size": 1,
            "modificationTime": 0,
            "dataChange": True,
        }
    }


@pytest.fixture
def table(spark, tmp_path):
    t = str(tmp_path / "dtable")
    os.makedirs(t)
    _write_data_file(spark, t, "part-0.parquet", [(1, "a"), (2, "b")])
    _write_data_file(spark, t, "part-1.parquet", [(3, "c")])
    _commit(t, 0, [_PROTO, _meta(), _add("part-0.parquet")])
    _commit(t, 1, [_add("part-1.parquet")])
    return t


def _rows(df):
    return {(r["id"], r["v"]) for r in df.collect()}


def test_read_latest_replays_adds(spark, table):
    r = DeltaTableReader(spark, table)
    assert _rows(r.read()) == {(1, "a"), (2, "b"), (3, "c")}
    assert r.snapshot().version == 1


def test_time_travel_and_remove_action(spark, table):
    # version 2 compacts: remove both files, add a rewritten one
    _write_data_file(spark, table, "part-2.parquet", [(1, "a2"), (3, "c")])
    _commit(
        table,
        2,
        [
            {"remove": {"path": "part-0.parquet", "dataChange": True}},
            {"remove": {"path": "part-1.parquet", "dataChange": True}},
            _add("part-2.parquet"),
        ],
    )
    r = DeltaTableReader(spark, table)
    assert _rows(r.read()) == {(1, "a2"), (3, "c")}
    assert _rows(r.read(version=0)) == {(1, "a"), (2, "b")}
    assert _rows(r.read(version=1)) == {(1, "a"), (2, "b"), (3, "c")}
    with pytest.raises(DeltaProtocolError, match="not present"):
        r.read(version=9)


def test_partition_values_from_log_not_files(spark, tmp_path):
    """Delta keeps hive partition values ONLY in the log: data files lack
    the column; the reader re-attaches typed literals."""
    t = str(tmp_path / "ptable")
    os.makedirs(t)
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "day", "type": "integer", "nullable": True, "metadata": {}},
                {"name": "id", "type": "long", "nullable": False, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    _write_data_file(spark, t, "day=1/f0.parquet", [(1, "a")])
    _write_data_file(spark, t, "day=2/f1.parquet", [(2, "b")])
    _commit(
        t,
        0,
        [
            _PROTO,
            _meta(schema, ["day"]),
            _add("day=1/f0.parquet", {"day": "1"}),
            _add("day=2/f1.parquet", {"day": "2"}),
        ],
    )
    r = DeltaTableReader(spark, t)
    df = r.read()
    assert df.schema["day"].dataType == T.IntegerType()
    got = {(x["day"], x["id"], x["v"]) for x in df.collect()}
    assert got == {(1, 1, "a"), (2, 2, "b")}
    # partition filter prunes to one scan group's rows
    assert df.filter("day = 2").count() == 1


def test_checkpoint_parquet_plus_replay(spark, tmp_path):
    """_last_checkpoint-style flow: state from the checkpoint parquet,
    only later JSON commits replayed."""
    t = str(tmp_path / "ctable")
    os.makedirs(t)
    _write_data_file(spark, t, "f0.parquet", [(1, "a")])
    _write_data_file(spark, t, "f1.parquet", [(2, "b")])
    _commit(t, 0, [_PROTO, _meta(), _add("f0.parquet")])
    # checkpoint at v1 = {f1 live} + metaData (f0 was removed at v1)
    ck_schema = T.StructType(
        [
            T.StructField(
                "add",
                T.StructType(
                    [
                        T.StructField("path", T.StringType()),
                        T.StructField(
                            "partitionValues",
                            T.MapType(T.StringType(), T.StringType()),
                        ),
                    ]
                ),
            ),
            T.StructField(
                "metaData",
                T.StructType(
                    [
                        T.StructField("schemaString", T.StringType()),
                        T.StructField(
                            "partitionColumns", T.ArrayType(T.StringType())
                        ),
                        T.StructField(
                            "format",
                            T.StructType(
                                [T.StructField("provider", T.StringType())]
                            ),
                        ),
                    ]
                ),
            ),
        ]
    )
    rows = [
        Row(add=Row(path="f1.parquet", partitionValues={}), metaData=None),
        Row(
            add=None,
            metaData=Row(
                schemaString=SCHEMA_JSON,
                partitionColumns=[],
                format=Row(provider="parquet"),
            ),
        ),
    ]
    ckdir = str(tmp_path / "ck")
    spark.createDataFrame(rows, ck_schema).coalesce(1).write.parquet(ckdir)
    part = next(f for f in os.listdir(ckdir) if f.endswith(".parquet"))
    os.rename(
        os.path.join(ckdir, part),
        os.path.join(t, "_delta_log", f"{1:020d}.checkpoint.parquet"),
    )
    # later JSON commit adds f2
    _write_data_file(spark, t, "f2.parquet", [(3, "c")])
    _commit(t, 2, [_add("f2.parquet")])

    r = DeltaTableReader(spark, t)
    snap = r.snapshot()
    assert snap.version == 2
    assert set(snap.files) == {"f1.parquet", "f2.parquet"}
    assert _rows(r.read()) == {(2, "b"), (3, "c")}


def test_unsupported_features_refused(spark, tmp_path):
    t = str(tmp_path / "bad")
    os.makedirs(t)
    _write_data_file(spark, t, "f0.parquet", [(1, "a")])
    _commit(
        t,
        0,
        [
            {"protocol": {"minReaderVersion": 4, "minWriterVersion": 7}},
            _meta(),
            _add("f0.parquet"),
        ],
    )
    with pytest.raises(DeltaProtocolError, match="minReaderVersion"):
        DeltaTableReader(spark, t).read()
    # v3 with no (or only supported) readerFeatures is readable since DV
    # support landed — test_delta_dv.py covers the feature matrix
    t3 = str(tmp_path / "v3ok")
    os.makedirs(t3)
    _write_data_file(spark, t3, "f0.parquet", [(1, "a")])
    _commit(
        t3,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}},
            _meta(),
            _add("f0.parquet"),
        ],
    )
    assert DeltaTableReader(spark, t3).read().count() == 1
    with pytest.raises(FileNotFoundError):
        DeltaTableReader(spark, str(tmp_path / "nope"))


# ------------------------------------------------------------ write side

def test_writer_append_and_overwrite_roundtrip(spark, tmp_path):
    from deimos_spark.operators.delta_interop import DeltaTableWriter

    t = str(tmp_path / "wtable")
    w = DeltaTableWriter(spark, t)
    w.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    w.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    r = DeltaTableReader(spark, t)
    assert _rows(r.read()) == {(1, "a"), (2, "b"), (3, "c")}
    assert r.snapshot().version == 1
    w.overwrite(spark.createDataFrame([(9, "z")], "id long, v string"))
    assert _rows(r.read()) == {(9, "z")}
    assert _rows(r.read(version=1)) == {(1, "a"), (2, "b"), (3, "c")}


def test_writer_log_is_protocol_shaped(spark, tmp_path):
    """Every commit line must be a spec-shaped action a real Delta
    reader would accept: v0 carries protocol+metaData; adds carry path/
    partitionValues/size/modificationTime/dataChange."""
    from deimos_spark.operators.delta_interop import DeltaTableWriter

    t = str(tmp_path / "shape")
    DeltaTableWriter(spark, t).append(
        spark.createDataFrame([(1, "a")], "id long, v string")
    )
    with open(os.path.join(t, "_delta_log", f"{0:020d}.json")) as fh:
        actions = [json.loads(x) for x in fh.read().splitlines() if x.strip()]
    kinds = [next(iter(a)) for a in actions]
    # commitInfo first (the delta-spark convention), then protocol and
    # metaData before any file action
    assert kinds[0] == "commitInfo"
    ci = actions[0]["commitInfo"]
    assert ci["operation"] == "WRITE" and ci["timestamp"] > 0
    assert kinds[1] == "protocol" and kinds[2] == "metaData"
    proto = actions[1]["protocol"]
    assert proto["minReaderVersion"] == 1 and "minWriterVersion" in proto
    md = actions[2]["metaData"]
    assert md["format"]["provider"] == "parquet"
    json.loads(md["schemaString"])  # valid Spark StructType JSON
    for a in actions[3:]:
        add = a["add"]
        assert set(add) >= {
            "path", "partitionValues", "size", "modificationTime", "dataChange",
        }


def test_writer_partitioned_layout_values_in_log_only(spark, tmp_path):
    from deimos_spark.operators.delta_interop import DeltaTableWriter

    t = str(tmp_path / "pw")
    w = DeltaTableWriter(spark, t, partition_by=("day",))
    w.append(
        spark.createDataFrame(
            [("d1", 1, "a"), ("d2", 2, "b")], "day string, id long, v string"
        )
    )
    r = DeltaTableReader(spark, t)
    snap = r.snapshot()
    assert {v["day"] for v in snap.files.values()} == {"d1", "d2"}
    # data files live under hive dirs but DON'T contain the day column
    anyfile = next(iter(snap.files))
    raw = spark.read.parquet(os.path.join(t, anyfile))
    assert "day" not in raw.columns
    got = {(x["day"], x["id"], x["v"]) for x in r.read().collect()}
    assert got == {("d1", 1, "a"), ("d2", 2, "b")}


def test_keyed_merge_upsert_delete_on_delta_layout(spark, tmp_path):
    from deimos_spark.operators.delta_interop import DeltaKeyedTable

    t = DeltaKeyedTable(
        spark, str(tmp_path / "kt"), ["id"], schema="id long, v string"
    )
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    t.merge(
        upserts=spark.createDataFrame([(2, "b2"), (3, "c")], "id long, v string"),
        delete_keys=spark.createDataFrame([Row(id=1)]),
    )
    assert _rows(t.read()) == {(2, "b2"), (3, "c")}
    # snapshot isolation: old version still readable
    assert _rows(t.read(version=0)) == {(1, "a"), (2, "b")}
    t.delete(spark.createDataFrame([Row(id=2), Row(id=3)]))
    assert t.read().count() == 0
    assert set(t.read().columns) == {"id", "v"}


def test_concurrent_writer_conflict_retries(spark, tmp_path):
    """Two writer handles race a version: put-if-absent makes one lose,
    the retry re-derives and both appends land."""
    from deimos_spark.operators.delta_interop import (
        DeltaCommitConflict,
        DeltaTableWriter,
    )

    t = str(tmp_path / "race")
    w1 = DeltaTableWriter(spark, t)
    w1.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    w2 = DeltaTableWriter(spark, t)

    real_commit = w2._commit
    raced = {"done": False}

    def racing_commit(version, actions, **kw):
        if not raced["done"]:
            raced["done"] = True
            w1.append(spark.createDataFrame([(2, "b")], "id long, v string"))
        real_commit(version, actions, **kw)

    w2._commit = racing_commit
    w2.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    assert raced["done"]
    assert _rows(DeltaTableReader(spark, t).read()) == {(1, "a"), (2, "b"), (3, "c")}
    # direct double-claim raises
    with pytest.raises(DeltaCommitConflict):
        w1._commit(0, [])


def test_our_writer_readable_after_checkpointed_reader_flow(spark, tmp_path):
    """Writer output composes with the reader's snapshot/time-travel —
    the full interop loop (write -> read -> merge -> read old version)."""
    from deimos_spark.operators.delta_interop import DeltaKeyedTable

    t = DeltaKeyedTable(
        spark, str(tmp_path / "loop"), ["id"], schema="id long, v string"
    )
    for i in range(5):
        t.upsert(spark.createDataFrame([(i, f"v{i}")], "id long, v string"))
    assert t.read().count() == 5
    assert _rows(t.read(version=2)) == {(0, "v0"), (1, "v1"), (2, "v2")}


def test_streaming_consumer_sinks_into_delta_table(spark, tmp_path):
    """End-to-end interop: readStream format('fakebroker') -> schema
    decode -> keyed MERGE into a REAL Delta-layout table, with
    Spark-checkpointed offset resume across a query restart. A user's
    Delta reader sees exactly the consumer's keyed state."""
    import json as _json

    from deimos_spark.operators.delta_interop import DeltaKeyedTable
    from deimos_spark.schemas.avro import parse_avsc
    from deimos_spark.sources.brokersource import FakeBrokerDataSource
    from deimos_spark.streaming.consumer import BatchConsumer, ConsumerConfig
    from deimos_spark.streaming.fakebroker import FakeBroker

    schema = parse_avsc(
        {
            "type": "record",
            "name": "W",
            "namespace": "x",
            "fields": [
                {"name": "test_id", "type": "string"},
                {"name": "some_int", "type": "int"},
            ],
        }
    )
    spark.dataSource.register(FakeBrokerDataSource)
    broker = FakeBroker(str(tmp_path / "broker"))
    broker.create_topic("w", partitions=2)
    for i in range(6):
        broker.produce(
            "w",
            _json.dumps({"test_id": f"k{i % 3}"}).encode(),
            _json.dumps({"test_id": f"k{i % 3}", "some_int": i}).encode(),
        )

    table = DeltaKeyedTable(
        spark, str(tmp_path / "delta_sink"), ["test_id"],
        schema="test_id string, some_int int",
    )
    consumer = BatchConsumer(
        ConsumerConfig(schema=schema, key_cols=["test_id"]), table
    )
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.format("fakebroker")
            .option("path", broker.path)
            .option("topic", "w")
            .load()
        )
        q = consumer.attach(stream, checkpoint=ckpt).start()
        q.processAllAvailable()
        q.stop()

    run()
    got = {r["test_id"]: r["some_int"] for r in table.read().collect()}
    # keep-last per key: k0 <- 3, k1 <- 4, k2 <- 5
    assert got == {"k0": 3, "k1": 4, "k2": 5}

    # restart with new records + a tombstone: resume from checkpoint
    broker.produce(
        "w",
        _json.dumps({"test_id": "k0"}).encode(),
        _json.dumps({"test_id": "k0", "some_int": 99}).encode(),
    )
    broker.produce("w", _json.dumps({"test_id": "k1"}).encode(), None)
    run()
    got = {r["test_id"]: r["some_int"] for r in table.read().collect()}
    assert got == {"k0": 99, "k2": 5}
    # and the underlying layout is a real _delta_log'd table
    assert os.path.isdir(os.path.join(str(tmp_path / "delta_sink"), "_delta_log"))


# ------------------------------------------- round-5: writer checkpoints


def test_writer_checkpoint_bounds_reader_replay(spark, tmp_path):
    """25+ keyed commits emit periodic checkpoints; a FRESH reader follows
    _last_checkpoint and replays <= interval JSON commits — never the
    whole log, never a directory LIST."""
    from deimos_spark.operators.delta_interop import DeltaKeyedTable

    path = str(tmp_path / "dkt")
    t = DeltaKeyedTable(
        spark, path, ["id"], schema="id long, v string", checkpoint_interval=5
    )
    for i in range(26):
        t.upsert(
            spark.createDataFrame([(i % 7, f"v{i}")], "id long, v string")
        )

    names = os.listdir(os.path.join(path, "_delta_log"))
    ckpts = sorted(n for n in names if n.endswith(".checkpoint.parquet"))
    assert ckpts, "no checkpoint emitted in 26 commits"
    assert "_last_checkpoint" in names

    r = DeltaTableReader(spark, path)
    snap = r.snapshot()
    assert snap.version == 25
    assert r.last_snapshot_commit_reads <= 5
    assert not r.last_snapshot_listed_log

    got = {(x["id"], x["v"]) for x in r.read().collect()}
    expected = {}
    for i in range(26):
        expected[i % 7] = f"v{i}"
    assert got == set(expected.items())

    # time travel to before the newest checkpoint still works (slow path)
    assert r.snapshot(version=3).version == 3


def _pa_ckpt_schema():
    import pyarrow as pa

    mapss = pa.map_(pa.string(), pa.string())
    return pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        (
                            "format",
                            pa.struct(
                                [("provider", pa.string()), ("options", mapss)]
                            ),
                        ),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", mapss),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", mapss),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                    ]
                ),
            ),
        ]
    )


def test_multipart_checkpoint_with_expired_commits(spark, tmp_path):
    """Standard multi-part checkpoints ({v}.checkpoint.{i}.{n}.parquet +
    _last_checkpoint 'parts') load even when every JSON commit <= v has
    been vacuumed away — the shape real large Delta tables have."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    t = str(tmp_path / "dmp")
    os.makedirs(os.path.join(t, "_delta_log"))
    _write_data_file(spark, t, "part-0.parquet", [(1, "a"), (2, "b")])
    _write_data_file(spark, t, "part-1.parquet", [(3, "c")])

    meta_row = {
        "metaData": {
            "id": "m",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": SCHEMA_JSON,
            "partitionColumns": [],
            "configuration": {},
            "createdTime": 0,
        }
    }
    proto_row = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
    add_rows = [
        {
            "add": {
                "path": p,
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
        }
        for p in ("part-0.parquet", "part-1.parquet")
    ]
    schema = _pa_ckpt_schema()
    logdir = os.path.join(t, "_delta_log")
    papq.write_table(
        pa.Table.from_pylist([proto_row, meta_row], schema=schema),
        os.path.join(
            logdir, f"{3:020d}.checkpoint.{1:010d}.{2:010d}.parquet"
        ),
    )
    papq.write_table(
        pa.Table.from_pylist(add_rows, schema=schema),
        os.path.join(
            logdir, f"{3:020d}.checkpoint.{2:010d}.{2:010d}.parquet"
        ),
    )
    with open(os.path.join(logdir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 3, "size": 4, "parts": 2}, fh)
    # one live JSON commit after the checkpoint
    _write_data_file(spark, t, "part-2.parquet", [(4, "d")])
    _commit(t, 4, [_add("part-2.parquet")])

    r = DeltaTableReader(spark, t)
    assert _rows(r.read()) == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
    assert r.last_snapshot_commit_reads == 1
    assert not r.last_snapshot_listed_log

    # pointer gone -> listing-based discovery still finds the full set
    os.unlink(os.path.join(logdir, "_last_checkpoint"))
    r2 = DeltaTableReader(spark, t)
    assert _rows(r2.read()) == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
    assert r2.last_snapshot_listed_log

    # an INCOMPLETE part set must not be used
    os.unlink(
        os.path.join(logdir, f"{3:020d}.checkpoint.{2:010d}.{2:010d}.parquet")
    )
    with pytest.raises(DeltaProtocolError):
        DeltaTableReader(spark, t).read()


def test_empty_string_partition_value_roundtrips(spark, tmp_path):
    """Delta's partitionValues distinguish "" from null; Spark's hive dir
    layout folds both into __HIVE_DEFAULT_PARTITION__. The writer must
    keep them distinct in the log."""
    from deimos_spark.operators.delta_interop import DeltaTableWriter

    path = str(tmp_path / "dpe")
    w = DeltaTableWriter(spark, path, partition_by=("k",))
    df = spark.createDataFrame(
        [("", 1), (None, 2), ("a", 3)], "k string, id long"
    )
    w.append(df)

    with open(os.path.join(path, "_delta_log", f"{0:020d}.json")) as fh:
        actions = [json.loads(line) for line in fh if line.strip()]
    pvals = {
        a["add"]["partitionValues"]["k"] for a in actions if "add" in a
    }
    assert pvals == {"", None, "a"}

    got = {(x["k"], x["id"]) for x in DeltaTableReader(spark, path).read().collect()}
    assert got == {("", 1), (None, 2), ("a", 3)}


# --------------------------------------------- round-6: V2 checkpoints


def _sidecar_parquet(table, name, add_paths):
    """Sidecar file under _delta_log/_sidecars/ holding add actions."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    mapss = pa.map_(pa.string(), pa.string())
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", mapss),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    adds = [
        {"path": p, "partitionValues": [], "size": 1,
         "modificationTime": 0, "dataChange": True}
        for p in add_paths
    ]
    d = os.path.join(table, "_delta_log", "_sidecars")
    os.makedirs(d, exist_ok=True)
    papq.write_table(
        pa.Table.from_pydict(
            {"add": adds}, schema=pa.schema([("add", add_t)])
        ),
        os.path.join(d, name),
    )


def test_v2_checkpoint_json_manifest_with_sidecars(spark, tmp_path):
    """A v2Checkpoint table (checkpoint manifest + sidecar files) reads:
    state comes from the manifest's non-file actions plus the sidecars'
    add actions; later JSON commits replay on top; the log dir is not
    required to hold any classic checkpoint."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    _write_data_file(spark, table, "f0.parquet", [(1, "a")])
    _write_data_file(spark, table, "f1.parquet", [(2, "b")])
    _write_data_file(spark, table, "f2.parquet", [(3, "c")])
    proto = {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["v2Checkpoint"],
            "writerFeatures": ["v2Checkpoint"],
        }
    }
    # commits 0..1 exist but the checkpoint at v1 should shortcut them
    _commit(table, 0, [proto, _meta(), _add("f0.parquet")])
    _commit(table, 1, [_add("f1.parquet")])
    _sidecar_parquet(table, "sc-1.parquet", ["f0.parquet", "f1.parquet"])
    manifest = [
        {"checkpointMetadata": {"version": 1}},
        proto,
        _meta(),
        {"sidecar": {"path": "sc-1.parquet", "sizeInBytes": 1}},
    ]
    mp = os.path.join(
        table, "_delta_log",
        f"{1:020d}.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.json",
    )
    with open(mp, "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in manifest))
    _commit(table, 2, [_add("f2.parquet")])

    r = DeltaTableReader(spark, table)
    snap = r.snapshot()
    assert snap.version == 2
    assert set(snap.files) == {"f0.parquet", "f1.parquet", "f2.parquet"}
    got = {(x.id, x.v) for x in r.read().collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    # time travel before the checkpoint still works via JSON replay
    assert {x.id for x in r.read(version=0).collect()} == {1}


def test_v2_checkpoint_parquet_manifest_inline_adds(spark, tmp_path):
    """Parquet-variant manifest with INLINE add actions (no sidecars)."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    table = str(tmp_path / "t")
    os.makedirs(table)
    _write_data_file(spark, table, "f0.parquet", [(5, "e")])
    proto = {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["v2Checkpoint"],
            "writerFeatures": ["v2Checkpoint"],
        }
    }
    _commit(table, 0, [proto, _meta(), _add("f0.parquet")])
    mapss = pa.map_(pa.string(), pa.string())
    cols = {
        "checkpointMetadata": [{"version": 0}, None, None, None],
        "protocol": [None, proto["protocol"], None, None],
        "metaData": [None, None, _meta()["metaData"], None],
        "add": [None, None, None,
                {"path": "f0.parquet", "partitionValues": [], "size": 1,
                 "modificationTime": 0, "dataChange": True}],
    }
    schema = pa.schema(
        [
            ("checkpointMetadata", pa.struct([("version", pa.int64())])),
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("format", pa.struct(
                            [("provider", pa.string()), ("options", mapss)]
                        )),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", mapss),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", mapss),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                    ]
                ),
            ),
        ]
    )
    fixed = dict(cols)
    fixed["metaData"] = [
        None if m is None else {**m, "format": {**m["format"], "options": []},
                                "configuration": [], }
        for m in cols["metaData"]
    ]
    fixed["add"] = cols["add"]
    mp = os.path.join(
        table, "_delta_log",
        f"{0:020d}.checkpoint.11111111-2222-3333-4444-555555555555.parquet",
    )
    papq.write_table(pa.Table.from_pydict(fixed, schema=schema), mp)
    r = DeltaTableReader(spark, table)
    snap = r.snapshot()
    assert snap.version == 0
    assert set(snap.files) == {"f0.parquet"}
    assert not r.last_snapshot_listed_log or True  # listing allowed (no ptr)
    assert {(x.id, x.v) for x in r.read().collect()} == {(5, "e")}


def test_v2_checkpoint_requires_checkpoint_metadata(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    _write_data_file(spark, table, "f0.parquet", [(1, "a")])
    _commit(table, 0, [_PROTO, _meta(), _add("f0.parquet")])
    mp = os.path.join(
        table, "_delta_log",
        f"{0:020d}.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a99.json",
    )
    with open(mp, "w") as fh:
        fh.write(json.dumps(_meta()))
    with pytest.raises(DeltaProtocolError, match="checkpointMetadata"):
        DeltaTableReader(spark, table).snapshot()


def test_v2_checkpoint_missing_sidecar_refuses(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    _write_data_file(spark, table, "f0.parquet", [(1, "a")])
    _commit(table, 0, [_PROTO, _meta(), _add("f0.parquet")])
    manifest = [
        {"checkpointMetadata": {"version": 0}},
        _PROTO,
        _meta(),
        {"sidecar": {"path": "nope.parquet", "sizeInBytes": 1}},
    ]
    mp = os.path.join(
        table, "_delta_log",
        f"{0:020d}.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a77.json",
    )
    with open(mp, "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in manifest))
    with pytest.raises(DeltaProtocolError, match="sidecar"):
        DeltaTableReader(spark, table).snapshot()


# ------------------------------------------- round-6: timestamp time travel


def test_delta_timestamp_time_travel(spark, tmp_path):
    """read(as_of_ms=...) resolves the latest commit whose log-file
    mtime is <= the bound (the protocol's commit-timestamp rule)."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    _write_data_file(spark, table, "f0.parquet", [(1, "a")])
    _write_data_file(spark, table, "f1.parquet", [(2, "b")])
    _commit(table, 0, [_PROTO, _meta(), _add("f0.parquet")])
    _commit(table, 1, [_add("f1.parquet")])
    # pin distinct commit timestamps
    t0, t1 = 1_000_000_000, 2_000_000_000  # epoch seconds
    os.utime(os.path.join(table, "_delta_log", f"{0:020d}.json"), (t0, t0))
    os.utime(os.path.join(table, "_delta_log", f"{1:020d}.json"), (t1, t1))
    r = DeltaTableReader(spark, table)
    assert r.version_at(t0 * 1000) == 0
    assert r.version_at((t1 + 5) * 1000) == 1
    assert {x.id for x in r.read(as_of_ms=t0 * 1000 + 1).collect()} == {1}
    assert {x.id for x in r.read(as_of_ms=t1 * 1000).collect()} == {1, 2}
    with pytest.raises(DeltaProtocolError, match="no commit"):
        r.version_at(t0 * 1000 - 1)
    with pytest.raises(ValueError, match="not both"):
        r.read(version=0, as_of_ms=t0 * 1000)


def test_delta_time_travel_honors_in_commit_timestamp(spark, tmp_path):
    """commitInfo.inCommitTimestamp (the clock-skew-proof writer
    feature) overrides the log file's mtime when present."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    _write_data_file(spark, table, "f0.parquet", [(1, "a")])
    _write_data_file(spark, table, "f1.parquet", [(2, "b")])
    _commit(
        table, 0,
        [{"commitInfo": {"inCommitTimestamp": 5_000_000}},
         _PROTO, _meta(), _add("f0.parquet")],
    )
    _commit(
        table, 1,
        [{"commitInfo": {"inCommitTimestamp": 9_000_000}},
         _add("f1.parquet")],
    )
    # mtimes say "now" — ICT must win
    r = DeltaTableReader(spark, table)
    assert r.version_at(5_000_000) == 0
    assert r.version_at(9_000_001) == 1
    with pytest.raises(DeltaProtocolError, match="no commit"):
        r.version_at(4_999_999)


def test_snapshot_partition_prune_pushed_to_checkpoint_scan(spark, tmp_path):
    """VERDICT r6 #3: the driver must not materialize the full add-file
    set when reading one partition of a checkpointed table. The prune
    predicate is pushed into the distributed checkpoint parquet scan
    (stats dropped there too), so last_checkpoint_rows_collected — the
    rows snapshot() actually pulled to the driver — equals the pruned
    partition's file count, not the table's."""
    from deimos_spark.operators.delta_interop import (
        DeltaTableReader,
        DeltaTableWriter,
    )

    t = str(tmp_path / "big")
    w = DeltaTableWriter(spark, t, partition_by=("p",), checkpoint_interval=2)
    for i in range(5):  # versions 0..4 -> checkpoints at v2 and v4
        w.append(
            spark.createDataFrame(
                [(f"part{i}", j) for j in range(3)], "p string, id long"
            )
        )
    r = DeltaTableReader(spark, t)

    full = r.snapshot()
    assert not r.last_snapshot_listed_log  # followed _last_checkpoint
    total_files = len(full.files)
    full_rows = r.last_checkpoint_rows_collected
    assert full_rows == total_files  # checkpoint covers all commits

    pruned = r.snapshot(partition_filter={"p": "part2"})
    assert set(pv["p"] for pv in pruned.files.values()) == {"part2"}
    assert r.last_checkpoint_rows_collected < full_rows
    assert r.last_checkpoint_rows_collected == len(pruned.files)

    # the read built on the pruned snapshot returns exactly the partition
    got = {x.id for x in r.read(partition_filter={"p": "part2"}).collect()}
    assert got == {0, 1, 2}

    # stats are dropped from driver-held adds_raw (the dominant payload
    # of a real checkpoint) while control fields survive
    for a in pruned.adds_raw.values():
        assert "stats" not in a or a["stats"] is None
        assert a.get("path")


def test_snapshot_prune_covers_json_tail(spark, tmp_path):
    """Adds committed AFTER the checkpoint are post-filtered driver-side
    — the pruned snapshot stays correct across the JSON tail."""
    from deimos_spark.operators.delta_interop import (
        DeltaTableReader,
        DeltaTableWriter,
    )

    t = str(tmp_path / "tail")
    w = DeltaTableWriter(spark, t, partition_by=("p",), checkpoint_interval=2)
    for i in range(3):  # versions 0..2 -> checkpoint at v2
        w.append(
            spark.createDataFrame([(f"c{i}", i)], "p string, id long")
        )
    # JSON tail: two more commits, one matching the filter
    w.append(spark.createDataFrame([("c1", 100)], "p string, id long"))
    w.append(spark.createDataFrame([("c9", 900)], "p string, id long"))

    r = DeltaTableReader(spark, t)
    got = {x.id for x in r.read(partition_filter={"p": "c1"}).collect()}
    assert got == {1, 100}
    snap = r.snapshot(partition_filter={"p": "c1"})
    assert {pv["p"] for pv in snap.files.values()} == {"c1"}


def test_writer_emits_per_file_stats(spark, tmp_path):
    """The writer records per-file stats JSON (numRecords + min/max/null
    counts from the parquet FOOTER — no data read) in both the JSON
    commit's add and the checkpoint, so conforming readers can data-skip
    our tables. Conservative by omission: long strings and non-primitive
    columns don't appear."""
    import json as _json

    from deimos_spark.operators.delta_interop import (
        DeltaTableReader,
        DeltaTableWriter,
    )

    t = str(tmp_path / "stats")
    w = DeltaTableWriter(spark, t, checkpoint_interval=2)
    w.append(
        spark.createDataFrame(
            [(1, "aa", None), (5, "zz", 2.5)],
            "id long, v string, f double",
        )
    )
    with open(os.path.join(t, "_delta_log", f"{0:020d}.json")) as fh:
        adds = [
            _json.loads(l)["add"]
            for l in fh
            if l.strip() and "add" in _json.loads(l)
        ]
    assert adds
    total = 0
    for a in adds:
        st = _json.loads(a["stats"])
        total += st["numRecords"]
        if st.get("minValues") and "id" in st["minValues"]:
            assert st["minValues"]["id"] >= 1
            assert st["maxValues"]["id"] <= 5
            assert st["minValues"]["v"] >= "aa"
    assert total == 2

    # checkpoint carries stats (re-derived if the source add lost them)
    w.append(spark.createDataFrame([(9, "mm", 1.0)], "id long, v string, f double"))
    w.append(spark.createDataFrame([(3, "bb", 0.0)], "id long, v string, f double"))
    ckpts = [
        f
        for f in os.listdir(os.path.join(t, "_delta_log"))
        if f.endswith(".checkpoint.parquet")
    ]
    assert ckpts
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(t, "_delta_log", sorted(ckpts)[-1])
    ).to_pylist()
    add_rows = [r["add"] for r in tbl if r.get("add")]
    assert add_rows and all(r.get("stats") for r in add_rows)
    # Spark may emit empty part files (numRecords 0 — honest stats);
    # the LIVE totals must add up
    assert sum(_json.loads(r["stats"])["numRecords"] for r in add_rows) == 4

    # our own reader still reads the table (and drops the stats payload
    # at the driver)
    assert DeltaTableReader(spark, t).read().count() == 4


def test_stats_filter_skips_files(spark, tmp_path):
    """File skipping on writer-recorded stats: read(stats_filter=
    {col: (lo, hi)}) drops files whose [min, max] provably miss the
    range — pushed into the checkpoint scan (driver materializes only
    survivors, pinned via last_checkpoint_rows_collected) and applied
    driver-side to the JSON tail. Files without stats always survive."""
    import json as _json

    from deimos_spark.operators.delta_interop import (
        DeltaProtocolError,
        DeltaTableReader,
        DeltaTableWriter,
    )

    t = str(tmp_path / "skip")
    w = DeltaTableWriter(spark, t, checkpoint_interval=3)
    for lo in (0, 100, 200, 300):  # v0..v3; checkpoint at v3
        w.append(
            spark.createDataFrame(
                [(lo + i, f"s{lo + i:04d}") for i in range(10)],
                "id long, v string",
            ).coalesce(1)
        )
    # JSON tail: one more range + one add with its stats stripped
    w.append(
        spark.createDataFrame(
            [(400 + i, f"s{400 + i:04d}") for i in range(10)],
            "id long, v string",
        ).coalesce(1)
    )
    logp = os.path.join(t, "_delta_log", f"{4:020d}.json")
    lines = []
    with open(logp) as fh:
        for l in fh:
            a = _json.loads(l)
            if "add" in a:
                a["add"].pop("stats", None)
            lines.append(_json.dumps(a))
    with open(logp, "w") as fh:
        fh.write("\n".join(lines) + "\n")

    r = DeltaTableReader(spark, t)
    full = r.snapshot()
    n_files = len(full.files)

    got = {
        x.id
        for x in r.read(stats_filter={"id": (150, 250)}).collect()
    }
    # only the [200,209] file overlaps (150,250); [0,9]/[100,109] have
    # max < lo, [300,309] has min > hi — all provably outside; the
    # no-stats tail file SURVIVES the skip (absent stats never drop data)
    assert got == {i for i in range(200, 210)} | {
        i for i in range(400, 410)
    }
    # checkpoint scan collected fewer adds than exist
    assert r.last_checkpoint_rows_collected < n_files

    # string bounds work too
    got = {
        x.id
        for x in r.read(stats_filter={"v": ("s0300", "s0301")}).collect()
    }
    assert got == {i for i in range(300, 310)} | {
        i for i in range(400, 410)
    }

    # unknown column / unsupported type refuse loudly
    import pytest

    with pytest.raises(DeltaProtocolError, match="not in table schema"):
        r.read(stats_filter={"nope": (1, 2)}).collect()


def test_v2_checkpoint_write_roundtrip(spark, tmp_path):
    """checkpoint_format='v2': the writer emits the V2 manifest
    ({v}.checkpoint.{uuid}.json with checkpointMetadata/protocol/
    metaData/sidecar) + a parquet sidecar under _delta_log/_sidecars/,
    declares the v2Checkpoint table feature from the first commit, and
    the reader replays it WITHOUT a directory listing: _last_checkpoint
    records the UUID manifest name (advisory extra key), and the fast
    path probes it when the classic names are absent (ADVICE r7 low —
    before, every snapshot after a v2 checkpoint paid the listing slow
    path)."""
    import json as _json

    from deimos_spark.operators.delta_interop import (
        DeltaProtocolError,
        DeltaTableReader,
        DeltaTableWriter,
    )

    t = str(tmp_path / "v2w")
    w = DeltaTableWriter(
        spark, t, checkpoint_interval=2, checkpoint_format="v2"
    )
    for i in range(3):  # versions 0..2 -> v2 checkpoint at v2
        w.append(
            spark.createDataFrame([(i, f"v{i}")], "id long, v string")
        )
    ld = os.path.join(t, "_delta_log")
    manifests = [
        f for f in os.listdir(ld) if ".checkpoint." in f and f.endswith(".json")
    ]
    assert len(manifests) == 1
    with open(os.path.join(ld, manifests[0])) as fh:
        actions = [_json.loads(l) for l in fh if l.strip()]
    kinds = [next(iter(a)) for a in actions]
    assert kinds == ["checkpointMetadata", "protocol", "metaData", "sidecar"]
    assert actions[1]["protocol"]["readerFeatures"] == ["v2Checkpoint"]
    sc = actions[3]["sidecar"]["path"]
    assert os.path.exists(os.path.join(ld, "_sidecars", sc))

    # _last_checkpoint carries the manifest name for the no-LIST path
    with open(os.path.join(ld, "_last_checkpoint")) as fh:
        lc = _json.load(fh)
    assert lc["v2Manifest"] == manifests[0]

    # tail after the checkpoint; reader replays v2 + tail
    w.append(spark.createDataFrame([(9, "z")], "id long, v string"))
    r = DeltaTableReader(spark, t)
    got = {(x.id, x.v) for x in r.read().collect()}
    assert got == {(0, "v0"), (1, "v1"), (2, "v2"), (9, "z")}
    # sidecar adds carry stats
    snap = r.snapshot()
    assert snap.version == 3
    # the v2 checkpoint is found via the pointer — no directory LIST
    assert not r.last_snapshot_listed_log

    # partition_filter pushdown works through the v2 sidecar scan too
    t2 = str(tmp_path / "v2p")
    w2 = DeltaTableWriter(
        spark, t2, partition_by=("p",), checkpoint_interval=2,
        checkpoint_format="v2",
    )
    for i in range(3):
        w2.append(
            spark.createDataFrame(
                [(f"p{i}", i)], "p string, id long"
            )
        )
    r2 = DeltaTableReader(spark, t2)
    got = {x.id for x in r2.read(partition_filter={"p": "p1"}).collect()}
    assert got == {1}

    # a v2 checkpoint on a table whose protocol lacks the feature refuses
    t3 = str(tmp_path / "v2bad")
    plain = DeltaTableWriter(spark, t3)  # classic protocol (1, 2)
    plain.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    sneaky = DeltaTableWriter(
        spark, t3, checkpoint_interval=1, checkpoint_format="v2"
    )
    import pytest

    with pytest.raises(DeltaProtocolError, match="v2Checkpoint"):
        sneaky._write_checkpoint_v2(0)


def test_file_stats_reject_poisons_whole_column(tmp_path):
    """A row group whose footer bounds are REJECTED after row group 0
    accepted (string >32 chars, NaN float) must drop the column from
    minValues/maxValues entirely — partial bounds covering only earlier
    row groups would let a conforming reader provably-miss-skip files
    whose later row groups DO contain matching rows (ADVICE r7 high).
    nullCount must accumulate across ALL row groups, including all-null
    ones that carry no min/max, and be omitted when any row group lacks
    a null_count (stats disabled)."""
    import json as _json
    import math

    import pyarrow as pa
    import pyarrow.parquet as papq

    from deimos_spark.operators.delta_interop import DeltaTableWriter

    p = str(tmp_path / "poison.parquet")
    long_s = "z" * 40  # >32 chars: bounds rejected
    # rg0: clean bounds everywhere; rg1: s long-string, f NaN max,
    # n all-null (no min/max but a real null_count), g stats disabled
    t0 = pa.table(
        {
            "i": pa.array([1, 2], pa.int64()),
            "s": pa.array(["aa", "bb"]),
            "f": pa.array([1.0, 2.0], pa.float64()),
            "n": pa.array([7, None], pa.int64()),
            "g": pa.array([1, 2], pa.int64()),
        }
    )
    t1 = pa.table(
        {
            "i": pa.array([3, 99], pa.int64()),
            "s": pa.array([long_s, "cc"]),
            "f": pa.array([0.5, math.nan], pa.float64()),
            "n": pa.array([None, None], pa.int64()),
            "g": pa.array([3, 4], pa.int64()),
        }
    )
    w = papq.ParquetWriter(
        p,
        t0.schema,
        write_statistics=["i", "s", "f", "n"],  # g: no stats at all
    )
    w.write_table(t0)
    w.write_table(t1)
    w.close()
    md = papq.read_metadata(p)
    assert md.num_row_groups == 2  # the scenario needs 2 row groups

    st = _json.loads(DeltaTableWriter._file_stats(p))
    assert st["numRecords"] == 4
    mins, maxs = st.get("minValues", {}), st.get("maxValues", {})
    # i survives across both row groups with true bounds
    assert mins["i"] == 1 and maxs["i"] == 99
    # s (long string in rg1) must be ABSENT, not partial rg0-only bounds
    assert "s" not in mins and "s" not in maxs
    # f: floats are never bounded from footers — parquet stats exclude
    # NaN (rg1's footer claims max=0.5 despite the NaN), so any float
    # bound could wrong-skip under NaN-largest ordering
    assert "f" not in mins and "f" not in maxs
    # n: all-null rg1 kills the bounds but its nulls still count
    assert "n" not in mins
    nulls = st["nullCount"]
    assert nulls["n"] == 3
    assert nulls["i"] == 0 and nulls["s"] == 0
    # g: a row group without null_count → column omitted from nullCount
    assert "g" not in nulls

    # Iceberg's footer bounds follow the same rules on the same file:
    # i keeps its true bounds; s, f, g (and all-null n) get none
    from deimos_spark.operators.iceberg_interop import _file_column_bounds
    from deimos_spark.operators.iceberg_transforms import (
        single_value_serialize,
    )

    ice_fields = [
        {"id": 1, "name": "i", "type": "long"},
        {"id": 2, "name": "s", "type": "string"},
        {"id": 3, "name": "f", "type": "double"},
        {"id": 4, "name": "n", "type": "long"},
        {"id": 5, "name": "g", "type": "long"},
    ]
    lower, upper = _file_column_bounds(p, ice_fields)
    assert lower == [{"key": 1, "value": single_value_serialize("long", 1)}]
    assert upper == [{"key": 1, "value": single_value_serialize("long", 99)}]


def test_read_changes_insert_commits(spark, tmp_path):
    """Batch change feed (the delta-spark table_changes convention, both
    bounds inclusive): append commits derive `insert` rows from their
    dataChange adds, with _commit_version/_commit_timestamp attached;
    OPTIMIZE commits (dataChange=false) contribute nothing."""
    from deimos_spark.operators.delta_interop import (
        DeltaProtocolError,
        DeltaTableReader,
        DeltaTableWriter,
    )

    t = str(tmp_path / "cdf")
    w = DeltaTableWriter(spark, t)
    w.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    w.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    w.optimize()  # v2: dataChange=false rewrite — no changes
    w.append(spark.createDataFrame([(4, "d")], "id long, v string"))

    r = DeltaTableReader(spark, t)
    rows = r.read_changes(0).collect()
    assert {(x.id, x.v, x._change_type, x._commit_version) for x in rows} == {
        (1, "a", "insert", 0),
        (2, "b", "insert", 0),
        (3, "c", "insert", 1),
        (4, "d", "insert", 3),
    }
    assert all(x._commit_timestamp is not None for x in rows)
    # sub-range, inclusive both ends
    assert {x.id for x in r.read_changes(1, 1).collect()} == {3}
    # empty range on an OPTIMIZE-only window: schema intact
    empty = r.read_changes(2, 2)
    assert empty.count() == 0
    assert empty.columns == [
        "id", "v", "_change_type", "_commit_version", "_commit_timestamp",
    ]

    # a partitioned table re-attaches partition literals in change rows
    t2 = str(tmp_path / "cdfp")
    w2 = DeltaTableWriter(spark, t2, partition_by=("p",))
    w2.append(spark.createDataFrame([("x", 1), ("y", 2)], "p string, id long"))
    got = {
        (x.p, x.id, x._commit_version)
        for x in DeltaTableReader(spark, t2).read_changes(0).collect()
    }
    assert got == {("x", 1, 0), ("y", 2, 0)}

    import pytest as _pt

    with _pt.raises(ValueError, match="bad version range"):
        r.read_changes(3, 1)


def test_read_changes_refuses_unreconstructable(spark, tmp_path):
    """Row-level changes without cdc files (remove actions from an
    overwrite, DV-carrying adds) refuse loudly — deriving a change feed
    from them would silently drop the delete half of the story."""
    import pytest as _pt

    from deimos_spark.operators.delta_interop import (
        DeltaProtocolError,
        DeltaTableReader,
        DeltaTableWriter,
    )

    t = str(tmp_path / "cdf_ow")
    w = DeltaTableWriter(spark, t)
    w.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    w.overwrite(spark.createDataFrame([(2, "b")], "id long, v string"))
    r = DeltaTableReader(spark, t)
    with _pt.raises(DeltaProtocolError, match="row-level changes"):
        r.read_changes(0)
    # the range strictly after the overwrite is clean appends again
    w.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    assert {x.id for x in r.read_changes(2).collect()} == {3}


def test_read_changes_cdc_actions_win(spark, tmp_path):
    """A commit carrying cdc actions is read from THOSE files
    exclusively (PROTOCOL.md Change Data Files): the in-file
    _change_type is surfaced and the same commit's add/remove actions
    contribute nothing."""
    import json as _json

    from deimos_spark.operators.delta_interop import (
        DeltaTableReader,
        DeltaTableWriter,
    )

    t = str(tmp_path / "cdf_cdc")
    w = DeltaTableWriter(spark, t)
    w.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))

    # hand-author v1: an update rewritten as remove+add WITH a cdc file
    cdir = os.path.join(t, "_change_data")
    os.makedirs(cdir, exist_ok=True)
    spark.createDataFrame(
        [
            (2, "b", "update_preimage"),
            (2, "B2", "update_postimage"),
        ],
        "id long, v string, _change_type string",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(t, "__cdc_tmp"))
    part = next(
        f for f in os.listdir(os.path.join(t, "__cdc_tmp"))
        if f.endswith(".parquet")
    )
    os.rename(
        os.path.join(t, "__cdc_tmp", part),
        os.path.join(cdir, "cdc-0.parquet"),
    )
    spark.createDataFrame([(2, "B2")], "id long, v string").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(t, "__add_tmp"))
    apart = next(
        f for f in os.listdir(os.path.join(t, "__add_tmp"))
        if f.endswith(".parquet")
    )
    os.rename(os.path.join(t, "__add_tmp", apart), os.path.join(t, "f-new.parquet"))
    snap = DeltaTableReader(spark, t).snapshot()
    old = next(iter(snap.files))
    with open(os.path.join(t, "_delta_log", f"{1:020d}.json"), "w") as fh:
        for a in [
            {"cdc": {
                "path": "_change_data/cdc-0.parquet",
                "partitionValues": {},
                "size": 1,
                "dataChange": False,
            }},
            {"remove": {"path": old, "dataChange": True}},
            {"add": {
                "path": "f-new.parquet",
                "partitionValues": {},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }},
        ]:
            fh.write(_json.dumps(a) + "\n")

    got = {
        (x.id, x.v, x._change_type, x._commit_version)
        for x in DeltaTableReader(spark, t).read_changes(1, 1).collect()
    }
    assert got == {
        (2, "b", "update_preimage", 1),
        (2, "B2", "update_postimage", 1),
    }


def test_cdf_merge_roundtrip_rewrite_mode(spark, tmp_path):
    """enable_cdf: a MERGE commit writes Change Data Files (insert /
    update_preimage / update_postimage / delete) under _change_data/ +
    cdc actions, so read_changes reconstructs exactly the row-level
    changes the commit's remove/add actions can't express; the table's
    protocol declares the changeDataFeed writer feature and metaData
    carries delta.enableChangeDataFeed."""
    import json as _json

    from deimos_spark.operators.delta_interop import (
        DeltaKeyedTable,
        DeltaTableReader,
    )

    t = str(tmp_path / "cdf_kt")
    kt = DeltaKeyedTable(
        spark, t, ["id"], schema="id long, v string", enable_cdf=True
    )
    kt.upsert(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )
    # v1: update id=1, insert id=9; delete id=2 — one merge
    kt.merge(
        upserts=spark.createDataFrame(
            [(1, "A1"), (9, "z")], "id long, v string"
        ),
        delete_keys=spark.createDataFrame([(2,)], "id long"),
    )

    r = DeltaTableReader(spark, t)
    assert {(x.id, x.v) for x in r.read().collect()} == {(1, "A1"), (9, "z")}

    rows = r.read_changes(0, 1).collect()
    got = {(x.id, x.v, x._change_type, x._commit_version) for x in rows}
    assert got == {
        (1, "a", "insert", 0),  # v0: pure insert, derived from adds
        (2, "b", "insert", 0),
        (1, "a", "update_preimage", 1),
        (1, "A1", "update_postimage", 1),
        (2, "b", "delete", 1),
        (9, "z", "insert", 1),
    }

    # spec surface: cdc actions (dataChange false, _change_data/ paths),
    # protocol writer feature, metaData property
    with open(os.path.join(t, "_delta_log", f"{1:020d}.json")) as fh:
        actions = [_json.loads(l) for l in fh if l.strip()]
    cdcs = [a["cdc"] for a in actions if a.get("cdc")]
    assert cdcs and all(
        a["path"].startswith("_change_data/") and a["dataChange"] is False
        for a in cdcs
    )
    snap = r.snapshot()
    assert "changeDataFeed" in (snap.protocol_raw.get("writerFeatures") or [])
    assert (
        snap.meta_raw["configuration"]["delta.enableChangeDataFeed"]
        == "true"
    )


def test_cdf_merge_roundtrip_dv_mode(spark, tmp_path):
    """CDF composes with DV merges: the DV-update commit carries cdc
    files AND the widened deletion vectors; one protocol action declares
    deletionVectors + changeDataFeed together."""
    from deimos_spark.operators.delta_interop import (
        DeltaKeyedTable,
        DeltaTableReader,
    )

    t = str(tmp_path / "cdf_dv")
    kt = DeltaKeyedTable(
        spark, t, ["id"], schema="id long, v string",
        use_dvs=True, enable_cdf=True,
    )
    kt.upsert(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        )
    )
    kt.merge(
        upserts=spark.createDataFrame([(2, "B2")], "id long, v string"),
        delete_keys=spark.createDataFrame([(3,)], "id long"),
    )

    r = DeltaTableReader(spark, t)
    assert {(x.id, x.v) for x in r.read().collect()} == {
        (1, "a"), (2, "B2"),
    }
    got = {
        (x.id, x.v, x._change_type)
        for x in r.read_changes(1, 1).collect()
    }
    assert got == {
        (2, "b", "update_preimage"),
        (2, "B2", "update_postimage"),
        (3, "c", "delete"),
    }
    proto = r.snapshot().protocol_raw
    assert "deletionVectors" in (proto.get("readerFeatures") or [])
    assert "changeDataFeed" in (proto.get("writerFeatures") or [])


def test_cdf_partitioned_and_vacuum_protection(spark, tmp_path):
    """Partitioned CDF: cdc files strip partition columns (recorded in
    the action's partitionValues, re-attached on read); vacuum keeps the
    cdc files of kept versions readable."""
    from deimos_spark.operators.delta_interop import (
        DeltaKeyedTable,
        DeltaTableReader,
    )

    t = str(tmp_path / "cdf_part")
    kt = DeltaKeyedTable(
        spark, t, ["p", "id"], schema="p string, id long, v string",
        partition_by=("p",), enable_cdf=True,
    )
    kt.upsert(
        spark.createDataFrame(
            [("x", 1, "a"), ("y", 2, "b")], "p string, id long, v string"
        )
    )
    kt.merge(
        upserts=spark.createDataFrame(
            [("x", 1, "A1")], "p string, id long, v string"
        )
    )
    r = DeltaTableReader(spark, t)
    got = {
        (x.p, x.id, x.v, x._change_type)
        for x in r.read_changes(1, 1).collect()
    }
    assert got == {
        ("x", 1, "a", "update_preimage"),
        ("x", 1, "A1", "update_postimage"),
    }
    # cdc parquet itself must NOT contain the partition column
    import pyarrow.parquet as papq

    cdir = os.path.join(t, "_change_data")
    f = next(f for f in os.listdir(cdir) if f.endswith(".parquet"))
    assert "p" not in papq.read_schema(os.path.join(cdir, f)).names

    # vacuum with retention 0 must keep kept-version cdc files
    kt.writer.vacuum(retention_seconds=0.0)
    got2 = {
        (x.p, x.id, x.v, x._change_type)
        for x in r.read_changes(1, 1).collect()
    }
    assert got2 == got


def test_history_and_timestamp_change_bounds(spark, tmp_path):
    """history(): newest-first commit list with operation labels (the
    writer now records commitInfo) and inCommitTimestamp-aware
    timestamps; read_changes timestamp bounds resolve per the CDF
    convention (start at-or-after, end at-or-before)."""
    from deimos_spark.operators.delta_interop import (
        DeltaProtocolError,
        DeltaTableReader,
        DeltaTableWriter,
    )

    t = str(tmp_path / "hist")
    w = DeltaTableWriter(spark, t)
    w.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    w.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    w.optimize()

    r = DeltaTableReader(spark, t)
    h = r.history()
    assert [x["version"] for x in h] == [2, 1, 0]
    assert h[0]["commitInfo"]["operation"] == "OPTIMIZE"
    assert h[1]["commitInfo"]["operation"] == "WRITE"
    assert all(x["timestamp"] > 0 for x in h)
    assert [x["version"] for x in r.history(limit=1)] == [2]

    # timestamp bounds: v1's commit timestamp splits the range
    ts1 = next(x["timestamp"] for x in h if x["version"] == 1)
    got = {
        (x.id, x._commit_version)
        for x in r.read_changes(
            starting_ts_ms=ts1, ending_version=1
        ).collect()
    }
    assert got == {(2, 1)}
    # ending_ts_ms: everything at or before v1's timestamp
    got = {
        x._commit_version
        for x in r.read_changes(0, ending_ts_ms=ts1).collect()
    }
    assert got == {0, 1}
    import pytest as _pt

    with _pt.raises(ValueError, match="starting_version OR starting_ts_ms"):
        r.read_changes(0, starting_ts_ms=ts1)
    with _pt.raises(DeltaProtocolError, match="at or after"):
        r.read_changes(starting_ts_ms=ts1 + 10**9)


def test_cdf_dv_reupsert_of_deleted_key_is_insert(spark, tmp_path):
    """A key deleted by an earlier DV and upserted again later is an
    INSERT in that commit's change feed — the raw probe scan still
    yields the DV-masked old row, and sourcing preimages from it would
    resurrect a bogus update_preimage (caught in round-8 self-review:
    preimages must come from the DV-applied read)."""
    from deimos_spark.operators.delta_interop import (
        DeltaKeyedTable,
        DeltaTableReader,
    )

    t = str(tmp_path / "cdf_dv_re")
    kt = DeltaKeyedTable(
        spark, t, ["id"], schema="id long, v string",
        use_dvs=True, enable_cdf=True,
    )
    kt.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    kt.delete(spark.createDataFrame([(1,)], "id long"))          # v1
    kt.upsert(spark.createDataFrame([(1, "a2")], "id long, v string"))  # v2

    r = DeltaTableReader(spark, t)
    assert {(x.id, x.v) for x in r.read().collect()} == {(1, "a2"), (2, "b")}
    # v1: a pure delete
    got1 = {
        (x.id, x.v, x._change_type) for x in r.read_changes(1, 1).collect()
    }
    assert got1 == {(1, "a", "delete")}
    # v2: the re-upsert touches no LIVE row -> insert, no resurrected
    # update_preimage from the DV-masked old row
    got2 = {
        (x.id, x.v, x._change_type) for x in r.read_changes(2, 2).collect()
    }
    assert got2 == {(1, "a2", "insert")}


def test_optimize_zorder_multi_column_file_skipping(spark, tmp_path):
    """VERDICT r12 #1, lakehouse wiring: OPTIMIZE ZORDER BY rewrites the
    table along a space-filling curve so the add actions' per-file stats
    prune on BOTH filter columns — measured: the 2-predicate stats_filter
    must keep ≤ 1/3 of the files the sort_by (single-axis) twin keeps,
    with identical query results. Hilbert curve must do at least as well
    as Morton."""
    from pyspark.sql import functions as F

    from deimos_spark.operators.delta_interop import DeltaTableWriter

    n = 64_000
    df = spark.range(n).select(
        (F.col("id") % 253).alias("x"),
        ((F.col("id") * 7919) % 241).alias("y"),
        F.col("id").alias("payload"),
    )
    zt, lt = str(tmp_path / "z"), str(tmp_path / "lin")
    wz = DeltaTableWriter(spark, zt)
    wz.append(df)
    wz.optimize(zorder_by=["x", "y"], n_files=32)
    wl = DeltaTableWriter(spark, lt, sort_by=["x"], sort_partitions=32)
    wl.append(df)
    wl.optimize()

    sfilt = {"x": (0, 125), "y": (0, 29)}
    rz, rl = DeltaTableReader(spark, zt), DeltaTableReader(spark, lt)
    zn = len(rz.snapshot(stats_filter=sfilt).files)
    ln = len(rl.snapshot(stats_filter=sfilt).files)
    assert len(rl.snapshot().files) == 32 and ln >= 12  # x alone is weak
    assert zn * 3 <= ln, (zn, ln)

    def rows(r):
        return sorted(
            tuple(t)
            for t in r.read(stats_filter=sfilt)
            .filter((F.col("x") <= 125) & (F.col("y") <= 29))
            .collect()
        )

    base = rows(rl)
    assert base and rows(rz) == base

    # the rewrite is maintenance, not data change: log records OPTIMIZE
    # adds with dataChange=false (streams must not re-emit)
    import json as _json
    import os as _os

    log = _os.path.join(zt, "_delta_log")
    last = sorted(
        f for f in _os.listdir(log) if f.endswith(".json")
    )[-1]
    with open(_os.path.join(log, last)) as fh:
        actions = [_json.loads(ln_) for ln_ in fh if ln_.strip()]
    adds = [a["add"] for a in actions if "add" in a]
    assert adds and all(a["dataChange"] is False for a in adds)
    assert all("stats" in a for a in adds)  # skipping depends on these

    # Hilbert: jump-free curve — at least as tight as Morton here
    wz.optimize(zorder_by=["x", "y"], curve="hilbert", n_files=32)
    rz2 = DeltaTableReader(spark, zt)
    hn = len(rz2.snapshot(stats_filter=sfilt).files)
    assert hn <= zn and rows(rz2) == base, (hn, zn)


def test_multipart_checkpoint_write_roundtrip_with_stats(spark, tmp_path):
    """VERDICT r12 #6: the writer emits MULTI-PART classic checkpoints
    past the per-part action budget (the million-add-table shape), the
    pointer carries `parts`, and a reader serving FROM the checkpoint
    (JSON tail cleaned) keeps both the row set and per-file
    stats-based skipping."""
    import os as _os

    from deimos_spark.operators.delta_interop import DeltaTableWriter

    t = str(tmp_path / "mp")
    w = DeltaTableWriter(
        spark, t, checkpoint_interval=10, checkpoint_part_actions=4
    )
    for b in range(11):  # v0..v10, checkpoint at v10 with 11 adds + meta
        w.append(
            spark.range(b * 100, b * 100 + 10)
            .selectExpr("id", "id * 2 AS v")
            .coalesce(1)
        )
    log = _os.path.join(t, "_delta_log")
    parts = sorted(
        f
        for f in _os.listdir(log)
        if ".checkpoint." in f and f.endswith(".parquet")
    )
    assert len(parts) >= 3, parts  # 13 actions / 4 per part
    assert all(f.split(".")[2].isdigit() for f in parts)
    import json as _json

    with open(_os.path.join(log, "_last_checkpoint")) as fh:
        lc = _json.load(fh)
    assert lc["parts"] == len(parts)

    # simulate log cleanup: drop every JSON commit the checkpoint covers
    for v in range(11):
        p = _os.path.join(log, f"{v:020d}.json")
        if _os.path.exists(p):
            _os.remove(p)

    r = DeltaTableReader(spark, t)
    got = sorted(x.id for x in r.read().collect())
    assert got == sorted(
        i for b in range(11) for i in range(b * 100, b * 100 + 10)
    )
    assert r.last_snapshot_listed_log is False  # pointer+parts fast path

    # stats survived into the checkpoint: a range filter prunes files
    full = len(r.snapshot().files)
    pruned = len(r.snapshot(stats_filter={"id": (305, 308)}).files)
    assert full == 11 and pruned == 1, (full, pruned)

    # an INCOMPLETE part set (torn cleanup) must not serve partial state
    _os.remove(_os.path.join(log, parts[1]))
    import pytest as _pytest

    from deimos_spark.operators.delta_interop import DeltaProtocolError

    with _pytest.raises(DeltaProtocolError):
        DeltaTableReader(spark, t).read().collect()


def test_optimize_zorder_on_partitioned_table(spark, tmp_path):
    """OPTIMIZE ZORDER composes with hive partitioning: partition
    pruning stays intact (partitionValues recorded per add), rows
    survive exactly, and the clustered columns' stats still prune
    within the surviving partitions."""
    from pyspark.sql import functions as F

    from deimos_spark.operators.delta_interop import DeltaTableWriter

    t = str(tmp_path / "pz")
    w = DeltaTableWriter(spark, t, partition_by=("day",))
    df = spark.range(8_000).select(
        (F.col("id") % 4).alias("day"),
        (F.col("id") % 127).alias("x"),
        ((F.col("id") * 31) % 113).alias("y"),
        F.col("id").alias("payload"),
    )
    w.append(df)
    w.optimize(zorder_by=["x", "y"], n_files=8)

    r = DeltaTableReader(spark, t)
    got = r.read()
    assert got.count() == 8_000
    assert {x["day"] for x in got.select("day").distinct().collect()} == {
        0, 1, 2, 3,
    }
    # partition pruning still works post-rewrite
    snap_all = r.snapshot()
    snap_day = r.snapshot(partition_filter={"day": 2})
    assert 0 < len(snap_day.files) < len(snap_all.files)
    # and the z-ordered stats prune within the table
    pruned = r.snapshot(stats_filter={"x": (0, 20), "y": (0, 20)})
    assert len(pruned.files) < len(snap_all.files)
    one = sorted(
        x.payload
        for x in r.read(
            partition_filter={"day": 2},
            stats_filter={"x": (0, 20), "y": (0, 20)},
        )
        .filter((F.col("x") <= 20) & (F.col("y") <= 20))
        .collect()
    )
    want = sorted(
        x.payload
        for x in df.filter(
            (F.col("day") == 2) & (F.col("x") <= 20) & (F.col("y") <= 20)
        ).collect()
    )
    assert one == want and one


def test_multipart_with_v2_checkpoint_refuses():
    """ADVICE r13: checkpoint_part_actions applies to classic
    checkpoints only — requesting it together with checkpoint_format
    'v2' must refuse at construction, not silently write single-manifest
    v2 checkpoints."""
    from deimos_spark.operators.delta_interop import DeltaTableWriter

    with pytest.raises(ValueError, match="classic checkpoints only"):
        DeltaTableWriter(
            None, "/nonexistent", checkpoint_format="v2",
            checkpoint_part_actions=100,
        )


def test_optimize_zorder_all_null_column_falls_back(spark, tmp_path):
    """ADVICE r13: OPTIMIZE ZORDER on a column that is entirely NULL
    must degrade to the linear rewrite instead of failing the
    maintenance job — compaction still has to happen even when the
    curve key is undefined."""
    from pyspark.sql import functions as F

    from deimos_spark.operators.delta_interop import (
        DeltaTableReader,
        DeltaTableWriter,
    )

    t = str(tmp_path / "allnull")
    w = DeltaTableWriter(spark, t)
    w.append(
        spark.range(100).select(
            F.lit(None).cast("long").alias("x"), F.col("id").alias("p")
        )
    )
    w.optimize(zorder_by=["x"], n_files=4)  # must not raise
    got = DeltaTableReader(spark, t).read()
    assert got.count() == 100
    assert got.agg(F.sum("p")).head()[0] == sum(range(100))


def test_optimize_zorder_empty_live_rows_falls_back(spark, tmp_path):
    """ADVICE r13: files present but every row DV-deleted — the rewrite
    has an empty live row set; OPTIMIZE ZORDER must no-op cleanly (this
    is exactly the state where compaction is most needed)."""
    from deimos_spark.operators.delta_interop import DeltaKeyedTable

    t = str(tmp_path / "alldv")
    kt = DeltaKeyedTable(
        spark, t, key_cols=["k"], schema="k long, x long", use_dvs=True
    )
    kt.merge(spark.createDataFrame([(1, 10), (2, 20)], "k long, x long"))
    kt.delete(spark.createDataFrame([(1,), (2,)], "k long"))
    assert kt.read().count() == 0
    kt.writer.optimize(zorder_by=["x"], n_files=2)  # must not raise
    assert kt.read().count() == 0
