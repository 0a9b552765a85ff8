"""Streaming source over the Delta log: commits become micro-batches,
offsets checkpoint/resume, non-append commits refused (or tolerated
with ignoreChanges), partition values re-attached from the log."""

import os

import pytest

from deimos_spark.operators.delta_interop import (
    DeltaKeyedTable,
    DeltaTableWriter,
)
from deimos_spark.sources.deltastream import DeltaStreamDataSource


@pytest.fixture(autouse=True)
def _register(spark):
    spark.dataSource.register(DeltaStreamDataSource)


def _drain(spark, path, ckpt, **opts):
    reader = spark.readStream.format("deltastream").option("path", path)
    for k, v in opts.items():
        reader = reader.option(k, v)
    batches = []

    def sink(df, _bid):
        rows = df.collect()
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


def test_commits_become_batches_and_restart_resumes(spark, tmp_path):
    t = str(tmp_path / "dt")
    w = DeltaTableWriter(spark, t)
    w.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    w.append(spark.createDataFrame([(3, "c")], "id long, v string"))

    ckpt = str(tmp_path / "ckpt")
    batches = _drain(spark, t, ckpt)
    got = {(r["id"], r["v"]) for rows in batches for r in rows}
    assert got == {(1, "a"), (2, "b"), (3, "c")}

    # nothing new -> no batches; then one more commit -> only its rows
    assert _drain(spark, t, ckpt) == []
    w.append(spark.createDataFrame([(4, "d")], "id long, v string"))
    batches = _drain(spark, t, ckpt)
    got = {(r["id"], r["v"]) for rows in batches for r in rows}
    assert got == {(4, "d")}


def test_starting_version_latest_skips_backlog(spark, tmp_path):
    t = str(tmp_path / "dtl")
    w = DeltaTableWriter(spark, t)
    w.append(spark.createDataFrame([(1, "old")], "id long, v string"))

    ckpt = str(tmp_path / "ckpt")
    assert _drain(spark, t, ckpt, startingVersion="latest") == []
    w.append(spark.createDataFrame([(2, "new")], "id long, v string"))
    batches = _drain(spark, t, ckpt, startingVersion="latest")
    got = {(r["id"], r["v"]) for rows in batches for r in rows}
    assert got == {(2, "new")}


def test_non_append_commit_refused_unless_ignore_changes(spark, tmp_path):
    t = str(tmp_path / "dtm")
    kt = DeltaKeyedTable(spark, t, ["id"], schema="id long, v string")
    kt.upsert(spark.createDataFrame([(1, "a")], "id long, v string"))
    kt.upsert(spark.createDataFrame([(1, "b")], "id long, v string"))  # rewrite

    with pytest.raises(Exception, match="append-only|remove"):
        _drain(spark, t, str(tmp_path / "c1"))

    batches = _drain(spark, t, str(tmp_path / "c2"), ignoreChanges="true")
    got = [(r["id"], r["v"]) for rows in batches for r in rows]
    # both versions' adds emitted (re-delivery accepted by the option)
    assert ("1", "b") not in got  # typed long, not string
    assert (1, "b") in got and (1, "a") in got


def test_partition_values_reattached_from_log(spark, tmp_path):
    t = str(tmp_path / "dtp")
    w = DeltaTableWriter(spark, t, partition_by=("k",))
    w.append(
        spark.createDataFrame(
            [("x", 1), ("y", 2), (None, 3)], "k string, id long"
        )
    )
    batches = _drain(spark, t, str(tmp_path / "ckpt"))
    got = {(r["k"], r["id"]) for rows in batches for r in rows}
    assert got == {("x", 1), ("y", 2), (None, 3)}


def test_read_change_feed_streams_cdc(spark, tmp_path):
    """readChangeFeed=true: the stream emits change rows — insert rows
    derived from append commits, cdc-file rows (update/delete images)
    for CDF merge commits — with _change_type/_commit_version/
    _commit_timestamp; a row-level change WITHOUT cdc files fails the
    stream loudly."""
    t = str(tmp_path / "cdfstream")
    kt = DeltaKeyedTable(
        spark, t, ["id"], schema="id long, v string", enable_cdf=True
    )
    kt.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    kt.merge(
        upserts=spark.createDataFrame([(1, "A1")], "id long, v string"),
        delete_keys=spark.createDataFrame([(2,)], "id long"),
    )

    batches = _drain(
        spark, t, str(tmp_path / "ckpt"), readChangeFeed="true"
    )
    rows = [r for b in batches for r in b]
    got = {
        (r["id"], r["v"], r["_change_type"], r["_commit_version"])
        for r in rows
    }
    assert got == {
        (1, "a", "insert", 0),
        (2, "b", "insert", 0),
        (1, "a", "update_preimage", 1),
        (1, "A1", "update_postimage", 1),
        (2, "b", "delete", 1),
    }
    assert all(r["_commit_timestamp"] is not None for r in rows)

    # resume: one more CDF merge -> only its change rows
    kt.merge(
        upserts=spark.createDataFrame([(3, "c")], "id long, v string")
    )
    batches = _drain(
        spark, t, str(tmp_path / "ckpt"), readChangeFeed="true"
    )
    got2 = {
        (r["id"], r["v"], r["_change_type"])
        for b in batches
        for r in b
    }
    assert got2 == {(3, "c", "insert")}

    # a non-CDF table's merge commit (removes, no cdc) fails the stream
    t2 = str(tmp_path / "nocdf")
    kt2 = DeltaKeyedTable(spark, t2, ["id"], schema="id long, v string")
    kt2.upsert(spark.createDataFrame([(1, "a")], "id long, v string"))
    kt2.merge(upserts=spark.createDataFrame([(1, "A")], "id long, v string"))
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import StreamingQueryException

    with pytest.raises((StreamingQueryException, Py4JJavaError)):
        _drain(spark, t2, str(tmp_path / "c2"), readChangeFeed="true")


def test_name_mapped_table_streams_logical_columns(spark, tmp_path):
    """A column-mapped table's files carry PHYSICAL names; the stream
    reads them by physical name and emits the logical schema, like
    DeltaTableReader.read()."""
    from tests.test_mapped_writes import _mapped_table

    t = str(tmp_path / "mapped")
    _mapped_table(t)
    batches = _drain(spark, t, str(tmp_path / "ckpt"))
    got = [(r["id"], r["v"]) for rows in batches for r in rows]
    assert got == [(1, "a")]


def test_dv_readd_emits_only_surviving_rows(spark, tmp_path):
    """A DV-mode delete re-adds the same file with a deletion vector;
    with ignoreChanges the stream emits that re-add's SURVIVING rows,
    so the deleted key never comes back."""
    t = str(tmp_path / "dv")
    kt = DeltaKeyedTable(
        spark, t, ["id"], schema="id long, v string", use_dvs=True
    )
    kt.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    kt.delete(spark.createDataFrame([(1,)], "id long"))

    batches = _drain(spark, t, str(tmp_path / "ckpt"), ignoreChanges="true")
    got = [(r["id"], r["v"]) for rows in batches for r in rows]
    # key 1 once, from the upsert commit; a re-add of a file that also
    # holds key 2 re-delivers key 2 (accepted by the option)
    assert [r for r in got if r[0] == 1] == [(1, "a")]
    assert (2, "b") in got


@pytest.mark.parametrize("fmt", ["classic", "v2"])
def test_cleaned_log_refuses_earliest_and_serves_latest(spark, tmp_path, fmt):
    """After log cleanup only the newest checkpoint is left: replaying
    from `earliest` must fail naming the first missing commit (it
    cannot be streamed, and skipping it would drop its rows), while
    `latest` starts at the checkpoint and emits only the next append."""
    t = str(tmp_path / "cleaned")
    w = DeltaTableWriter(
        spark, t, checkpoint_interval=2, checkpoint_format=fmt
    )
    for i in range(5):  # v0..v4, checkpoints at v2 and v4
        w.append(spark.createDataFrame([(i, "old")], "id long, v string"))
    w.cleanup_log(0)
    assert not any(
        n.endswith(".json") and n[:-5].isdigit()
        for n in os.listdir(os.path.join(t, "_delta_log"))
    )

    with pytest.raises(Exception, match="commit 0 not available"):
        _drain(spark, t, str(tmp_path / "c1"))

    rows = []
    q = (
        spark.readStream.format("deltastream")
        .option("path", t)
        .option("startingVersion", "latest")
        .load()
        .writeStream.foreachBatch(lambda df, _bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "c2"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert rows == []
        w.append(spark.createDataFrame([(9, "new")], "id long, v string"))
        q.processAllAvailable()
    finally:
        q.stop()
    assert [(r["id"], r["v"]) for r in rows] == [(9, "new")]


@pytest.mark.parametrize("ignore_changes", ["false", "true"])
def test_optimize_commit_emits_nothing(spark, tmp_path, ignore_changes):
    """An OPTIMIZE commit (dataChange=false removes and re-adds)
    rearranges rows the stream already emitted: it neither fails a
    default stream nor re-emits the compacted rows under
    ignoreChanges."""
    t = str(tmp_path / "opt")
    w = DeltaTableWriter(spark, t)
    w.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    w.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    w.optimize()

    batches = _drain(
        spark, t, str(tmp_path / "ckpt"), ignoreChanges=ignore_changes
    )
    got = sorted((r["id"], r["v"]) for rows in batches for r in rows)
    assert got == [(1, "a"), (2, "b"), (3, "c")]
