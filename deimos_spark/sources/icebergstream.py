"""Structured-Streaming source over an Iceberg table —
`readStream.format("icebergstream")` tails the snapshot lineage written
by `IcebergTableWriter` (or any engine), turning each append snapshot's
ADDED files into a micro-batch: the Iceberg twin of the `deltastream`
source, and the streaming twin of `IcebergTableReader.read_incremental`.
Like that method it serves the reference's table-polling CDC role
(`lib/deimos/utils/db_poller.rb`) without a cursor predicate: the
snapshot log itself is the change feed.

Semantics (matching the public Iceberg streaming-read contract):
- offsets are `{"snapshot": id}` (-1 = before the first snapshot);
  Spark checkpoints them, restart resumes after the consumed snapshot;
  at-least-once on crash, like any source.
- `append` snapshots emit their added files; `replace` (compaction)
  snapshots emit nothing — the logical content did not change;
  `overwrite`/`delete` snapshots fail the stream loudly (row-level
  changes cannot be an append stream) unless `ignoreChanges=true`,
  which emits only their added files, re-delivery accepted.
- `startingSnapshot`: `earliest` (default — replay from the first
  snapshot) or `latest` (only snapshots committed after the stream
  starts).
- expired in-range snapshots fail loudly (resume past a gap would
  silently drop data); re-seed the checkpoint to recover.

Scale shape: one Spark input partition per added file, read inside
executors with pyarrow and handed to Spark as record batches. Only
manifests written BY in-range snapshots are opened (the
`read_incremental` attribution rule), so per-batch planning cost is
O(files added), not O(table). Unlike Delta, Iceberg
data files physically contain every schema column (identity partition
values included), so no literal re-attachment is needed.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


def _reader(path: str):
    """Metadata-only IcebergTableReader (no SparkSession needed for the
    snapshot/lineage/manifest walk); fresh per call so polling sees new
    metadata versions."""
    from deimos_spark.operators.iceberg_interop import IcebergTableReader

    return IcebergTableReader(None, path)


def _current_snapshot_id(path: str) -> int:
    sid = _reader(path).metadata.get("current-snapshot-id")
    return -1 if sid in (None, -1) else int(sid)


class _IceFilePartition(InputPartition):
    def __init__(self, local_path: str, snapshot_id: int):
        self.local_path = local_path
        self.snapshot_id = snapshot_id


class _IcebergStreamReader(DataSourceStreamReader):
    def __init__(self, path: str, starting: str, ignore_changes: bool):
        if starting not in ("earliest", "latest"):
            raise ValueError(
                "startingSnapshot must be 'earliest' or 'latest', "
                f"got {starting!r}"
            )
        self.path = path
        self.starting = starting
        self.ignore_changes = ignore_changes
        self.schema = _reader(path).schema()

    def initialOffset(self) -> dict:
        if self.starting == "latest":
            return {"snapshot": _current_snapshot_id(self.path)}
        return {"snapshot": -1}

    def latestOffset(self) -> dict:
        return {"snapshot": _current_snapshot_id(self.path)}

    def partitions(self, start: dict, end: dict):
        from deimos_spark.operators.iceberg_interop import (
            IcebergProtocolError,
        )

        s, e = int(start["snapshot"]), int(end["snapshot"])
        if e == -1 or s == e:
            return []
        r = _reader(self.path)
        out = []
        for snap in r._lineage(None if s == -1 else s, e):
            op = (snap.get("summary") or {}).get("operation", "append")
            if op == "replace":
                continue  # compaction: logical content unchanged
            if op != "append" and not self.ignore_changes:
                raise IcebergProtocolError(
                    f"icebergstream: snapshot {snap['snapshot-id']} of "
                    f"{self.path} is {op!r}; this source is append-only. "
                    "Set ignoreChanges=true to emit only added files "
                    "(re-delivery accepted)."
                )
            for p in r._added_data_files(
                snap, strict_appends=not self.ignore_changes
            ):
                out.append(_IceFilePartition(p, snap["snapshot-id"]))
        return out

    def read(self, partition: _IceFilePartition):
        import pyarrow.parquet as papq
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema)
        tbl = papq.read_table(partition.local_path, columns=target.names)
        yield from tbl.select(target.names).cast(target).to_batches()

    def commit(self, end: dict) -> None:
        pass  # Spark's checkpoint is the source of truth


class IcebergStreamDataSource(DataSource):
    """`format("icebergstream")` — options: path (Iceberg table dir),
    startingSnapshot ('earliest' default | 'latest'),
    ignoreChanges ('true' to tolerate non-append snapshots)."""

    @classmethod
    def name(cls) -> str:
        return "icebergstream"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("icebergstream needs a 'path' option")
        return _reader(path).schema()

    def streamReader(self, schema) -> DataSourceStreamReader:
        path = self.options.get("path")
        if not path:
            raise ValueError("icebergstream needs a 'path' option")
        return _IcebergStreamReader(
            path,
            self.options.get("startingSnapshot", "earliest"),
            str(self.options.get("ignoreChanges", "false")).lower()
            == "true",
        )
