"""Structured-Streaming source over a Delta transaction log —
`readStream.format("deltastream")` tails a Delta table written by
`DeltaTableWriter`/`DeltaKeyedTable` (or any engine), turning each
commit's ADDED files into a micro-batch. The lakehouse-native analogue
of the reference's table-polling CDC (`lib/deimos/utils/db_poller.rb`):
instead of re-querying the table with a cursor predicate, the
transaction log itself IS the change feed — each batch reads exactly
the files new commits added, never a full-table scan.

Semantics (matching the public Delta streaming-source contract):
- offsets are `{"version": N}` — Spark checkpoints them, restart
  resumes at the next commit; at-least-once on crash, like any source.
- append-only by default: a commit containing `remove` actions fails
  the stream loudly (a MERGE/overwrite rewrites files, which would
  re-emit rows); `ignoreChanges=true` opts into emitting only the adds
  of such commits, re-delivery accepted (Delta's own option). An add
  that carries a deletion vector emits only its surviving rows.
  `dataChange: false` actions (OPTIMIZE) are skipped: they rearrange
  rows without changing them.
- `startingVersion`: `earliest` (default — replay from commit 0) or
  `latest` (only new commits).
- a range whose commits the log has cleaned (log cleanup below a
  checkpoint) raises a `DeltaProtocolError` naming the missing commit:
  skipping it would drop its rows without a word. Start such a table
  with `latest`.

Every log rule — the latest version, the table's schema, partition
columns, column mapping and protocol, a commit's actions and its
change-feed files — comes from `DeltaTableReader`, used without a
SparkSession, so the batch reader, `read_changes` and this source read
one log the same way.

Scale shape: one Spark input partition per added file, read inside
executors as one pyarrow read: columns by physical name (or by parquet
field id in id mapping mode), deletion-vector rows dropped, partition
values (kept in the LOG, not the files) appended as typed columns.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


def _reader(path: str):
    """Session-less DeltaTableReader; fresh per call so polling sees
    new commits."""
    from deimos_spark.operators.delta_interop import DeltaTableReader

    return DeltaTableReader(None, path)


def _latest(path: str) -> int:
    from deimos_spark.operators.delta_interop import latest_version

    return latest_version(_reader(path).log_dir)


def _cast_pval(raw: str | None, dt: T.DataType):
    """Partition value string (Delta log convention) → python value."""
    if raw is None:
        return None
    s = dt.simpleString()
    if s in ("int", "bigint", "smallint", "tinyint"):
        return int(raw)
    if s in ("float", "double"):
        return float(raw)
    if s == "boolean":
        return raw == "true"
    if s == "date":
        return _dt.date.fromisoformat(raw)
    if s == "string":
        return raw
    raise ValueError(f"unsupported partition column type {s!r}")


class _DeltaFilePartition(InputPartition):
    def __init__(
        self,
        action: dict,
        version: int,
        change_type: str | None = None,
        commit_ts: float | None = None,
    ):
        # the add (or, in change-feed mode, cdc) action naming the file
        self.action = action
        self.version = version
        # change-feed mode: 'insert' for add-derived files, None for
        # cdc files (their _change_type column is IN the file)
        self.change_type = change_type
        self.commit_ts = commit_ts


class _DeltaStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        path: str,
        starting: str,
        ignore_changes: bool,
        table,
        schema: T.StructType,
        read_change_feed: bool = False,
    ):
        if starting not in ("earliest", "latest"):
            raise ValueError(
                f"startingVersion must be 'earliest' or 'latest', got {starting!r}"
            )
        self.path = path
        self.starting = starting
        self.ignore_changes = ignore_changes
        self.read_change_feed = read_change_feed
        # the table's schema/protocol state, without its file set
        self.table = table
        self.schema = schema

    def initialOffset(self) -> dict:
        if self.starting == "latest":
            return {"version": _latest(self.path)}
        return {"version": -1}

    def latestOffset(self) -> dict:
        return {"version": _latest(self.path)}

    def partitions(self, start: dict, end: dict):
        r = _reader(self.path)
        out = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            if self.read_change_feed:
                is_cdc, files, ts = r._change_files(v)
                out.extend(
                    _DeltaFilePartition(a, v, None if is_cdc else "insert", ts)
                    for a in files
                )
                continue
            # dataChange=false adds/removes (OPTIMIZE) rearrange rows the
            # stream already emitted: skipped, as _change_files does
            actions = [
                a
                for a in r._commit_actions(v)
                if (a.get("add") or a.get("remove") or {}).get("dataChange", True)
            ]
            if any("remove" in a for a in actions) and not self.ignore_changes:
                raise ValueError(
                    f"deltastream: commit {v} of {self.path} contains remove "
                    "actions (MERGE/overwrite); this source is append-only. "
                    "Set ignoreChanges=true to emit only added files "
                    "(re-delivery accepted)."
                )
            out.extend(
                _DeltaFilePartition(a["add"], v) for a in actions if "add" in a
            )
        return out

    def read(self, partition: _DeltaFilePartition):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as papq
        from pyspark.sql.pandas.types import to_arrow_schema

        from deimos_spark.operators.delta_interop import (
            _data_fields,
            _file_field,
            _physical_name,
        )
        from deimos_spark.operators.deltadv import dv_row_indexes

        snap, a = self.table, partition.action
        mode = snap.column_mapping
        target = to_arrow_schema(self.schema)
        pf = papq.ParquetFile(os.path.join(self.path, a["path"]))
        # file column by the key the table resolves it by: its physical
        # name, or its parquet field id in id mode
        by_key = {}
        for fld in pf.schema_arrow:
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            by_key[int(fid) if mode == "id" and fid else fld.name] = fld.name
        fields = _data_fields(snap)
        keys = [
            ff.metadata["parquet.field.id"] if mode == "id" else ff.name
            for ff in (_file_field(f, mode) for f in fields)
        ]
        # cdc files carry their own _change_type column
        in_file_ct = self.read_change_feed and partition.change_type is None
        tbl = pf.read(
            columns=[by_key[k] for k in keys if k in by_key]
            + (["_change_type"] if in_file_ct else [])
        )
        if a.get("deletionVector"):
            keep = np.ones(tbl.num_rows, dtype=bool)
            keep[dv_row_indexes(self.path, a["deletionVector"])] = False
            tbl = tbl.filter(pa.array(keep))
        n = tbl.num_rows

        def const(value, name):
            return pa.array([value] * n, target.field(name).type)

        cols = {
            # a column added after this file was written reads as null
            f.name: tbl.column(by_key[k]) if k in by_key
            else const(None, f.name)
            for f, k in zip(fields, keys)
        }
        pvals = a.get("partitionValues") or {}
        for f in snap.schema.fields:
            if f.name in snap.partition_columns:
                raw = pvals.get(_physical_name(f, mode))
                cols[f.name] = const(_cast_pval(raw, f.dataType), f.name)
        if self.read_change_feed:
            cols["_change_type"] = (
                tbl.column("_change_type") if in_file_ct
                else const(partition.change_type, "_change_type")
            )
            cols["_commit_version"] = const(partition.version, "_commit_version")
            # epoch millis → the column's microsecond UTC timestamps
            cols["_commit_timestamp"] = const(
                int(partition.commit_ts) * 1000, "_commit_timestamp"
            )
        out = pa.table([cols[c] for c in target.names], names=target.names)
        yield from out.cast(target).to_batches()

    def commit(self, end: dict) -> None:
        pass  # Spark's checkpoint is the source of truth


class DeltaStreamDataSource(DataSource):
    """`format("deltastream")` — options: path (Delta table dir),
    startingVersion ('earliest' default | 'latest'),
    ignoreChanges ('true' to tolerate non-append commits),
    readChangeFeed ('true' to stream the CHANGE FEED instead of raw
    appends: rows gain _change_type/_commit_version/_commit_timestamp;
    commits with cdc actions stream those files exclusively — the
    streaming twin of DeltaTableReader.read_changes — and row-level
    changes without cdc files fail the stream loudly)."""

    @classmethod
    def name(cls) -> str:
        return "deltastream"

    def _cdf(self) -> bool:
        return (
            str(self.options.get("readChangeFeed", "false")).lower()
            == "true"
        )

    def _table(self):
        """The table's schema/protocol state (protocol checked),
        replayed once: Spark pickles this instance after schema() and
        hands it to streamReader(). The file set is dropped — neither
        planning nor the executors' reads need it."""
        if getattr(self, "_meta", None) is None:
            path = self.options.get("path")
            if not path:
                raise ValueError("deltastream needs a 'path' option")
            self._meta = _reader(path).snapshot(_meta_only=True)
            self._meta.files, self._meta.adds_raw = {}, {}
        return self._meta

    def schema(self):
        schema = T.StructType(self._table().schema.fields.copy())
        if self._cdf():
            schema.add("_change_type", T.StringType())
            schema.add("_commit_version", T.LongType())
            schema.add("_commit_timestamp", T.TimestampType())
        return schema

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _DeltaStreamReader(
            self.options["path"],
            self.options.get("startingVersion", "earliest"),
            str(self.options.get("ignoreChanges", "false")).lower() == "true",
            self._table(),
            schema,
            read_change_feed=self._cdf(),
        )
