"""DeltaTableWriter.cleanup_log — metadata retention (the log half of
vacuum): JSON commits and superseded checkpoints at/below the newest
checkpoint age out; reads, writes, txn watermarks and v2 sidecars all
survive. The writer-side correctness this depends on (checkpoint names
count toward _latest_version) is pinned in test_txn_idempotent.py.
"""

import json
import os

import pytest

from deimos_spark.operators.delta_interop import (
    DeltaKeyedTable,
    DeltaTableReader,
    DeltaTableWriter,
)

SCHEMA = "id bigint, v string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _log_names(path):
    return sorted(os.listdir(os.path.join(path, "_delta_log")))


@pytest.mark.parametrize("fmt", ["classic", "v2"])
def test_cleanup_then_read_write_roundtrip(spark, tmp_path, fmt):
    path = str(tmp_path / "t")
    w = DeltaTableWriter(
        spark, path, schema=SCHEMA, checkpoint_interval=4,
        checkpoint_format=fmt,
    )
    t = DeltaKeyedTable(spark, path, ["id"], schema=SCHEMA)
    t.writer = w
    for b in range(7):  # v0..v6, checkpoint at v4
        t.merge(upserts=_df(spark, [(b, f"v{b}")]), txn=("job", b))

    deleted = w.cleanup_log(retention_seconds=0.0)
    names = _log_names(path)
    # commits <= checkpoint version are gone; the tail (v5, v6) stays
    assert not any(n == f"{v:020d}.json" for v in range(5) for n in names)
    assert f"{5:020d}.json" in names and f"{6:020d}.json" in names
    assert len(deleted) == 5

    # state, watermark, and writes all intact post-cleanup
    r = DeltaTableReader(spark, path)
    assert {x.id: x.v for x in r.read().collect()} == {
        i: f"v{i}" for i in range(7)
    }
    assert r.txn_version("job") == 6
    t.merge(upserts=_df(spark, [(9, "new")]), txn=("job", 7))
    assert DeltaTableReader(spark, path).read().count() == 8
    assert w._latest_version() == 7


def test_cleanup_drops_superseded_checkpoints_keeps_newest(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    w = DeltaTableWriter(spark, path, schema=SCHEMA, checkpoint_interval=2)
    for b in range(7):  # checkpoints at v2, v4, v6
        w.append(_df(spark, [(b, "x")]))
    w.cleanup_log(retention_seconds=0.0)
    ckpts = [n for n in _log_names(path) if ".checkpoint" in n]
    assert ckpts == [f"{6:020d}.checkpoint.parquet"]
    assert DeltaTableReader(spark, path).read().count() == 7


def test_cleanup_v2_keeps_referenced_sidecars(spark, tmp_path):
    path = str(tmp_path / "t")
    w = DeltaTableWriter(
        spark, path, schema=SCHEMA, checkpoint_interval=2,
        checkpoint_format="v2",
    )
    for b in range(5):  # v2 checkpoints at v2 and v4
        w.append(_df(spark, [(b, "x")]))
    sdir = os.path.join(path, "_delta_log", "_sidecars")
    before = set(os.listdir(sdir))
    w.cleanup_log(retention_seconds=0.0)
    after = set(os.listdir(sdir))
    assert after < before  # superseded checkpoint's sidecar aged out
    # the kept manifest's sidecar survives and the table still reads
    lc = json.load(
        open(os.path.join(path, "_delta_log", "_last_checkpoint"))
    )
    kept = open(
        os.path.join(path, "_delta_log", lc["v2Manifest"])
    ).read()
    assert all(n in kept for n in after)
    assert DeltaTableReader(spark, path).read().count() == 5


def test_cleanup_noop_without_checkpoint_and_respects_retention(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    w = DeltaTableWriter(spark, path, schema=SCHEMA, checkpoint_interval=100)
    w.append(_df(spark, [(1, "a")]))
    assert w.cleanup_log(retention_seconds=0.0) == []
    # with a checkpoint but young files: retention keeps everything
    w2 = DeltaTableWriter(spark, path, schema=SCHEMA, checkpoint_interval=1)
    w2.append(_df(spark, [(2, "b")]))
    assert w2.cleanup_log(retention_seconds=3600.0) == []
    assert f"{0:020d}.json" in _log_names(path)


@pytest.mark.parametrize("fmt", ["classic", "multipart", "v2"])
def test_sessionless_meta_snapshot_matches_json_replay(spark, tmp_path, fmt):
    """A meta-only snapshot read from a checkpoint alone, by a reader
    WITHOUT a SparkSession, carries the same version, schema, partition
    columns, column mapping, protocol, metaData, txns and domains as the
    JSON replay of the commits the checkpoint replaced — and as the
    session reader."""
    path = str(tmp_path / "t")
    w = DeltaTableWriter(
        spark, path, schema="id bigint, v string, p string",
        partition_by=("p",), checkpoint_interval=0,
        checkpoint_format="v2" if fmt == "v2" else "classic",
        checkpoint_part_actions=2 if fmt == "multipart" else None,
    )
    rows = [(1, "a", "x"), (2, "b", "y")]
    w.append(
        spark.createDataFrame(rows, "id bigint, v string, p string"),
        txn=("job", 0),
    )
    meta = dict(DeltaTableReader(spark, path).snapshot().meta_raw)
    meta["configuration"] = {"delta.enableChangeDataFeed": "true", "k": "v"}
    w._commit(1, [
        {"metaData": meta},
        {"domainMetadata": {
            "domain": "app.domain", "configuration": "{}", "removed": False,
        }},
    ])
    w.append(
        spark.createDataFrame(rows, "id bigint, v string, p string"),
        txn=("other", 7),
    )
    truth = DeltaTableReader(spark, path).snapshot(_meta_only=True)
    assert truth.version == 2
    w._write_checkpoint(2)
    w.cleanup_log(retention_seconds=0.0)
    names = _log_names(path)
    assert not any(n.endswith(".json") and n[:-5].isdigit() for n in names)
    if fmt == "multipart":
        assert sum(".checkpoint.0" in n for n in names) > 1

    def state(s):
        def clean(d):
            return {k: v for k, v in (d or {}).items() if v is not None}

        return (
            s.version, s.schema, s.partition_columns, s.column_mapping,
            clean(s.protocol_raw), clean(s.meta_raw), s.txns,
            {d: clean(a) for d, a in s.domains.items()},
        )

    sessionless = DeltaTableReader(None, path).snapshot(_meta_only=True)
    assert state(sessionless) == state(truth)
    assert sessionless.txns == {"job": 0, "other": 7}
    assert sessionless.meta_raw["configuration"]["k"] == "v"
    assert state(
        DeltaTableReader(spark, path).snapshot(_meta_only=True)
    ) == state(truth)
    full = DeltaTableReader(spark, path).snapshot()
    assert state(full) == state(truth) and len(full.files) == 4
