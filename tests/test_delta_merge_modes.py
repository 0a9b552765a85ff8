"""DeltaKeyedTable.merge runs one body for rewrite and deletion-vector
mode, and every DeltaTableWriter operation commits through one
optimistic loop: the empty-batch rule, the DV-applied hit search, the
zero-row file rule and lost-race cleanup hold in both modes."""

import json
import os

import pytest

from deimos_spark.operators.deltadv import _dv_file_path
from deimos_spark.operators.delta_interop import (
    DeltaCommitConflict,
    DeltaKeyedTable,
    DeltaTableReader,
    DeltaTableWriter,
)

SCHEMA = "id long, v string"


def _versions(path):
    log = os.path.join(path, "_delta_log")
    return sorted(
        int(n[:-5])
        for n in os.listdir(log)
        if n.endswith(".json") and n[:-5].isdigit()
    )


def _actions(path, version):
    with open(os.path.join(path, "_delta_log", f"{version:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("use_dvs", [False, True], ids=["rewrite", "dv"])
def test_empty_first_merge_creates_table_and_records_txn(
    spark, tmp_path, use_dvs
):
    path = str(tmp_path / "t")
    t = DeltaKeyedTable(spark, path, ["id"], use_dvs=use_dvs)
    t.merge(upserts=spark.createDataFrame([], SCHEMA), txn=("a", 0))
    assert _versions(path) == [0]
    assert DeltaTableReader(spark, path).txn_version("a") == 0
    assert not any("add" in a for a in _actions(path, 0))
    assert t.read().count() == 0
    assert t.read().columns == ["id", "v"]
    # the replay is a no-op: no second version
    t.merge(upserts=spark.createDataFrame([(1, "x")], SCHEMA), txn=("a", 0))
    assert _versions(path) == [0]


def test_dv_redelete_of_deleted_key_commits_nothing(spark, tmp_path):
    """The hit search reads DV-applied rows: a key an older DV already
    deleted finds no live row, so deleting it again is no change."""
    path = str(tmp_path / "t")
    t = DeltaKeyedTable(spark, path, ["id"], use_dvs=True)
    t.merge(upserts=spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], SCHEMA))
    t.delete(spark.createDataFrame([(2,)], "id long"))
    assert _versions(path) == [0, 1]
    t.delete(spark.createDataFrame([(2,)], "id long"))
    assert _versions(path) == [0, 1]
    assert _rows(t.read()) == [(1, "a"), (3, "c")]


def test_zero_row_writes_commit_no_add(spark, tmp_path):
    path = str(tmp_path / "w")
    w = DeltaTableWriter(spark, path)
    w.append(spark.createDataFrame([(1, "a")], SCHEMA))
    w.append(spark.createDataFrame([], SCHEMA))
    assert _versions(path) == [0, 1]
    assert not any("add" in a for a in _actions(path, 1))
    assert _rows(DeltaTableReader(spark, path).read()) == [(1, "a")]

    path = str(tmp_path / "k")
    t = DeltaKeyedTable(spark, path, ["id"])
    t.merge(upserts=spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    t.delete(spark.createDataFrame([(1,), (2,)], "id long"))
    last = _actions(path, _versions(path)[-1])
    assert any("remove" in a for a in last)
    assert not any("add" in a for a in last)
    assert t.read().count() == 0
    # no orphan: every data file on disk is one the log names
    named = {
        (a.get("add") or a.get("remove"))["path"]
        for v in _versions(path)
        for a in _actions(path, v)
        if "add" in a or "remove" in a
    }
    on_disk = {f for f in os.listdir(path) if f.endswith(".parquet")}
    assert on_disk == named


@pytest.mark.parametrize("enable_cdf", [False, True], ids=["nocdf", "cdf"])
@pytest.mark.parametrize("use_dvs", [False, True], ids=["rewrite", "dv"])
def test_lost_race_unlinks_everything_it_wrote(
    spark, tmp_path, use_dvs, enable_cdf
):
    path = str(tmp_path / "t")
    t = DeltaKeyedTable(
        spark, path, ["id"], use_dvs=use_dvs, enable_cdf=enable_cdf
    )
    t.merge(upserts=spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], SCHEMA))
    writer = t.writer
    real_commit = writer._commit
    lost = []

    def commit(version, actions, **kw):
        if not lost:
            lost.append(actions)
            raise DeltaCommitConflict(f"version {version} already committed")
        return real_commit(version, actions, **kw)

    writer._commit = commit
    t.merge(
        upserts=spark.createDataFrame([(2, "b2"), (4, "d")], SCHEMA),
        delete_keys=spark.createDataFrame([(3,)], "id long"),
    )
    assert lost
    assert _versions(path) == [0, 1]
    assert _rows(t.read()) == [(1, "a"), (2, "b2"), (4, "d")]

    referenced = set()
    for v in _versions(path):
        for a in _actions(path, v):
            act = a.get("add") or a.get("remove") or a.get("cdc")
            if act is None:
                continue
            referenced.add(os.path.join(path, act["path"]))
            if act.get("deletionVector"):
                referenced.add(_dv_file_path(path, act["deletionVector"])[0])
    on_disk = {
        os.path.join(root, f)
        for root, dirs, files in os.walk(path)
        if "_delta_log" not in root
        for f in files
    }
    assert on_disk == referenced
    # the lost attempt wrote files of every kind this mode uses
    kinds = {k for a in lost[0] for k in a if k in ("add", "cdc")}
    assert kinds == ({"add", "cdc"} if enable_cdf else {"add"})
    assert use_dvs == any(
        "deletionVector" in a.get("add", {}) for a in lost[0]
    )
