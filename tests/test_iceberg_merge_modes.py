"""IcebergKeyedTable.merge runs one body for its three delete modes, and
merge and optimize commit through one optimistic loop
(IcebergTableWriter._commit_loop): the empty-batch rule, the zero-row
file rule and lost-race cleanup hold in every mode."""

import json
import os

import pytest

from deimos_spark.operators.iceberg_interop import (
    IcebergCommitConflict,
    IcebergKeyedTable,
    IcebergProtocolError,
)
from deimos_spark.schemas.avro_ocf import ocf_read
from tests.test_iceberg_v3_defaults import _add_default_column

SCHEMA = "id long, v string"
MODES = ["position", "equality", "dv"]


def _local(uri):
    return uri[len("file://"):] if uri.startswith("file://") else uri


def _metadata(path):
    meta = os.path.join(path, "metadata")
    v = max(
        int(n[1:-len(".metadata.json")])
        for n in os.listdir(meta)
        if n.startswith("v") and n.endswith(".metadata.json")
    )
    with open(os.path.join(meta, f"v{v}.metadata.json")) as fh:
        return json.load(fh)


def _entries(path):
    """(manifest, entry) for every entry of every snapshot."""
    for snap in _metadata(path)["snapshots"]:
        for mf in ocf_read(_local(snap["manifest-list"]))[1]:
            mp = _local(mf["manifest_path"])
            for e in ocf_read(mp)[1]:
                yield mp, e


def _referenced(path):
    """Every manifest list, manifest and entry file some snapshot names."""
    out = {_local(s["manifest-list"]) for s in _metadata(path)["snapshots"]}
    for mp, e in _entries(path):
        out |= {mp, _local(e["data_file"]["file_path"])}
    return out


def _on_disk(path):
    return {
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith((".parquet", ".avro", ".puffin"))
    }


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _lose_first_commit(writer):
    """Make the writer's next metadata claim lose a race once."""
    real_commit = writer._commit
    lost = []

    def commit(version, md):
        if not lost:
            lost.append(version)
            raise IcebergCommitConflict(f"metadata v{version} already committed")
        return real_commit(version, md)

    writer._commit = commit
    return lost


def _seeded(spark, path, delete_mode):
    t = IcebergKeyedTable(spark, path, ["id"], delete_mode=delete_mode)
    t.merge(
        upserts=spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], SCHEMA)
    )
    # a live delete file (a DV to widen, in dv mode) before the race
    t.delete(spark.createDataFrame([(1,)], "id long"))
    return t


@pytest.mark.parametrize("delete_mode", MODES)
def test_refused_or_lost_merge_leaves_no_unreferenced_file(
    spark, tmp_path, delete_mode
):
    path = str(tmp_path / "t")
    t = _seeded(spark, path, delete_mode)
    with pytest.raises(IcebergProtocolError, match="incompatible"):
        t.merge(
            upserts=spark.createDataFrame([(2, 7)], "id long, v long"),
            delete_keys=spark.createDataFrame([(3,)], "id long"),
        )
    assert _on_disk(path) == _referenced(path)
    lost = _lose_first_commit(t.writer)
    t.merge(
        upserts=spark.createDataFrame([(2, "b2"), (4, "d")], SCHEMA),
        delete_keys=spark.createDataFrame([(3,)], "id long"),
    )
    assert lost
    assert len(_metadata(path)["snapshots"]) == 3
    assert _rows(t.read()) == [(2, "b2"), (4, "d")]
    assert _on_disk(path) == _referenced(path)


def test_lost_optimize_race_leaves_no_unreferenced_file(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _seeded(spark, path, "position")
    lost = _lose_first_commit(t.writer)
    t.optimize()
    assert lost
    assert _rows(t.read()) == [(2, "b"), (3, "c")]
    assert _on_disk(path) == _referenced(path)


@pytest.mark.parametrize("delete_mode", MODES)
def test_one_empty_batch_rule(spark, tmp_path, delete_mode):
    path = str(tmp_path / "t")
    t = IcebergKeyedTable(spark, path, ["id"], delete_mode=delete_mode)
    empty = spark.createDataFrame([], SCHEMA)
    nothing = spark.createDataFrame([(9,)], "id long")

    # a delete-only merge before the first commit is a no-op
    t.merge(delete_keys=nothing, txn=("a", 0))
    assert not os.listdir(os.path.join(path, "metadata"))
    # an empty first merge creates the table and records the watermark
    t.merge(upserts=empty, txn=("a", 0))
    md = _metadata(path)
    assert len(md["snapshots"]) == 1
    assert t._txn_watermark(md, "a") == 0
    assert t.read().count() == 0
    assert t.read().columns == ["id", "v"]

    t.merge(
        upserts=spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA),
        txn=("a", 1),
    )
    # batches that change nothing still advance a carried watermark
    t.merge(upserts=empty, txn=("a", 2))
    assert t._txn_watermark(_metadata(path), "a") == 2
    t.merge(delete_keys=nothing, txn=("a", 3))
    assert t._txn_watermark(_metadata(path), "a") == 3
    # ... and without txn they commit nothing (equality mode cannot
    # tell a delete that hits nothing without scanning the table)
    n = len(_metadata(path)["snapshots"])
    t.merge(upserts=empty)
    if delete_mode != "equality":
        t.delete(nothing)
    assert len(_metadata(path)["snapshots"]) == n
    assert _rows(t.read()) == [(1, "a"), (2, "b")]
    if delete_mode != "equality":
        # the probe reads delete-applied rows: re-deleting a deleted
        # key hits nothing and adds no metadata file
        one = spark.createDataFrame([(1,)], "id long")
        t.delete(one)
        meta = os.listdir(os.path.join(path, "metadata"))
        n_meta = sum(f.endswith(".metadata.json") for f in meta)
        t.delete(one)
        meta = os.listdir(os.path.join(path, "metadata"))
        assert sum(f.endswith(".metadata.json") for f in meta) == n_meta
        assert _rows(t.read()) == [(2, "b")]
    # no committed data or delete file has 0 rows
    counts = [e["data_file"]["record_count"] for _, e in _entries(path)]
    assert counts and 0 not in counts


def test_merge_upserts_materialize_write_default(spark, tmp_path):
    """v3 `write-default` applies to merge upserts as to appends: the
    value lands physically in the upsert's data file."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    t = IcebergKeyedTable(spark, path, ["id"])
    t.merge(upserts=spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    _add_default_column(path, "region", "string", write_default="apac")
    t.merge(upserts=spark.createDataFrame([(2, "b2"), (3, "c")], SCHEMA))
    assert _rows(t.read()) == [(1, "a", None), (2, "b2", "apac"), (3, "c", "apac")]
    physical = set()
    for f in _on_disk(os.path.join(path, "data")):
        if not f.endswith(".parquet"):
            continue
        tbl = pq.read_table(f)
        if "region" in tbl.schema.names:
            physical.update(tbl["region"].to_pylist())
    assert physical == {"apac"}
