"""Incremental table polling (CDC-out): time-based and state-based modes.

Reference behavior (studied from /root/reference/lib/deimos/utils/
db_poller/time_based.rb, state_based.rb, base.rb and
active_record_producer.rb:104-117 — behavior only):

- time-based: strictly-resumable cursor over (updated_at, id):
      (ts = time_from AND id > last_id) OR (ts > time_from AND ts <= time_to)
  ordered by (ts, id), batched (LIMIT 1000), with a delay window
  (time_to = now - delay) so in-flight transactions settle; the cursor
  (last_sent_ts, last_sent_id) is persisted AFTER each batch →
  at-least-once on crash.
- full-table mode: re-dump everything each run.
- state-based: publish rows matching a predicate, then flip a state column
  to published/failed values.

Spark-first: the source is any DataFrame factory (JDBC `spark.read.jdbc`
with the predicate pushed into the WHERE clause, or a parquet/Delta table
for tests). The cursor is a tiny JSON checkpoint file — the analogue of
the reference's poll_info row. At scale the predicate pushes down to the
source (JDBC subquery / parquet min-max pruning), so each trigger reads
only the delta.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deimos_spark.session import materialized


@dataclass
class PollCursor:
    """(last_sent, last_sent_id) — reference: poll_info table row."""

    last_ts: int = 0  # epoch micros (or any monotonic integer clock)
    last_id: int = -1

    @classmethod
    def load(cls, path: str) -> "PollCursor":
        if os.path.exists(path):
            with open(path) as fh:
                d = json.load(fh)
            return cls(d["last_ts"], d["last_id"])
        return cls()

    def save(self, path: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"last_ts": self.last_ts, "last_id": self.last_id}, fh)
        os.replace(tmp, path)


def cursor_predicate(cursor: PollCursor, time_to: int, ts_col: str, id_col: str) -> Column:
    """The reference's resumable scan predicate, as a Column (pushes down
    to JDBC/parquet):
      (ts = last_ts AND id > last_id) OR (ts > last_ts AND ts <= time_to)
    """
    ts, rid = F.col(ts_col), F.col(id_col)
    return (
        ((ts == cursor.last_ts) & (rid > cursor.last_id))
        | ((ts > cursor.last_ts) & (ts <= time_to))
    )


class TimeBasedPoller:
    """Repeated incremental scans with a persisted cursor.

    `source` is either
    - a zero-arg factory returning the current table DataFrame (parquet
      path, test fixture): the cursor predicate/order/limit are applied
      as DataFrame ops (parquet gets min-max pruning from the pushed
      filter), or
    - a batch-capable source exposing
      `.batch(cursor, time_to, limit) -> DataFrame` (and optionally
      `.read_all()` for full-table mode), e.g. `JdbcCursorSource`, which
      composes predicate + ORDER BY + row limit into the database query
      itself — the only way to get sort/limit pushdown over JDBC.

    `publish` receives each batch (already cursor-filtered and ordered) —
    typically Producer.publish.
    """

    def __init__(
        self,
        source: Callable[[], DataFrame],
        publish: Callable[[DataFrame], None],
        cursor_path: str,
        ts_col: str = "updated_at",
        id_col: str = "id",
        batch_size: int = 1000,
        delay_micros: int = 2_000_000,  # reference default delay_time=2s
        full_table: bool = False,
        tracer: "object | None" = None,
    ):
        self.source = source
        self.publish = publish
        self.cursor_path = cursor_path
        self.ts_col = ts_col
        self.id_col = id_col
        self.batch_size = batch_size
        self.delay_micros = delay_micros
        self.full_table = full_table
        self.tracer = tracer  # A35: 'deimos-db-poller' span per cycle

    def run_once(self, now_micros: int) -> int:
        """One poll cycle: fetch → publish → commit cursor, repeating until
        the window is drained (reference: process_updates loop). Returns
        rows published. Crash between publish and cursor-save re-sends the
        tail → at-least-once (C1). With a tracer, the cycle runs inside a
        'deimos-db-poller' span with errors recorded
        (db_poller/base.rb:134 process_batch_with_span parity)."""
        if self.tracer is None:
            return self._run_once(now_micros)
        span = self.tracer.start(
            "deimos-db-poller", resource=type(self).__name__
        )
        try:
            return self._run_once(now_micros)
        except BaseException as e:
            self.tracer.set_error(span, e)
            raise
        finally:
            self.tracer.finish(span)

    def _run_once(self, now_micros: int) -> int:
        if self.full_table:
            src = self.source
            base = src.read_all() if hasattr(src, "read_all") else src()
            df = base.orderBy(self.ts_col, self.id_col)
            self.publish(df)
            return df.count()

        cursor = PollCursor.load(self.cursor_path)
        time_to = now_micros - self.delay_micros
        total = 0
        while True:
            batch = self._fetch_batch(cursor, time_to)
            rows = batch.collect()
            if not rows:
                break
            self.publish(batch)
            last = rows[-1]
            cursor = PollCursor(last[self.ts_col], last[self.id_col])
            cursor.save(self.cursor_path)  # commit AFTER publish
            total += len(rows)
            if len(rows) < self.batch_size:
                break
        return total

    def _fetch_batch(self, cursor: PollCursor, time_to: int) -> DataFrame:
        src = self.source
        if hasattr(src, "batch"):
            # batch-capable source (JdbcCursorSource): predicate + order +
            # limit run inside the database
            return src.batch(cursor, time_to, self.batch_size)
        return (
            src()
            .filter(cursor_predicate(cursor, time_to, self.ts_col, self.id_col))
            .orderBy(self.ts_col, self.id_col)
            .limit(self.batch_size)
        )


class StateBasedPoller:
    """Publish rows matching a predicate, then flip their state column
    (reference: state_based.rb). `update_state` is the table-write callback
    (JDBC UPDATE / MERGE) invoked with the published keys and the
    success/failure value."""

    def __init__(
        self,
        source: Callable[[], DataFrame],
        publish: Callable[[DataFrame], None],
        predicate: Column,
        id_col: str,
        update_state: Callable[[DataFrame, bool], None],
        batch_size: int = 1000,
    ):
        self.source = source
        self.publish = publish
        self.predicate = predicate
        self.id_col = id_col
        self.update_state = update_state
        self.batch_size = batch_size

    def run_once(self) -> int:
        total = 0
        while True:
            batch = (
                self.source()
                .filter(self.predicate)
                .orderBy(self.id_col)
                .limit(self.batch_size)
            )
            n = batch.count()
            if n == 0:
                break
            keys = batch.select(self.id_col)
            try:
                self.publish(batch)
            except Exception:
                self.update_state(keys, False)
                raise
            self.update_state(keys, True)
            total += n
            if n < self.batch_size:
                break
        return total


class ChangelogPoller:
    """Checkpoint-and-consume over a lakehouse table's NATIVE change
    feed — the round-8 closing of the db_poller family: where
    TimeBasedPoller re-queries with a cursor predicate and
    StateBasedPoller flips a state column, this poller's cursor is the
    table's own snapshot/version log, so each cycle reads EXACTLY the
    rows that changed (Iceberg `read_changelog` / Delta `read_changes`)
    with no scan predicate at all.

    `run_once()` fetch → publish → commit-cursor-AFTER-publish: a crash
    between publish and save re-delivers the window (at-least-once, the
    C1 shape). `key_cols` routes the feed through the
    feed→op adapters first, so the published rows carry the
    write-through CDC contract (`_op` create/update/delete, key-only
    tombstones) ready for the produce pipeline — plus `_ord` (commit
    version / snapshot ordinal), the order key downstream keep-last
    compaction MUST use: a redelivered window spans several commits,
    so the same key can appear with a create AND its later delete.
    """

    def __init__(
        self,
        spark,
        path: str,
        publish: Callable[[DataFrame], None],
        cursor_path: str,
        fmt: str = "iceberg",
        key_cols: list | None = None,
        tracer=None,
    ):
        if fmt not in ("iceberg", "delta"):
            raise ValueError(f"fmt must be iceberg|delta, got {fmt!r}")
        self.spark = spark
        self.path = path
        self.publish = publish
        self.cursor_path = cursor_path
        self.fmt = fmt
        self.key_cols = list(key_cols) if key_cols else None
        self.tracer = tracer

    def _load_cursor(self):
        if os.path.exists(self.cursor_path):
            with open(self.cursor_path) as fh:
                return json.load(fh).get("pos")
        return None

    def _save_cursor(self, pos) -> None:
        tmp = self.cursor_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"pos": pos}, fh)
        os.replace(tmp, self.cursor_path)

    def run_once(self) -> int:
        if self.tracer is None:
            return self._run_once()
        span = self.tracer.start(
            "deimos-db-poller", resource=type(self).__name__
        )
        try:
            return self._run_once()
        except BaseException as e:
            self.tracer.set_error(span, e)
            raise
        finally:
            self.tracer.finish(span)

    def _run_once(self) -> int:
        cursor = self._load_cursor()
        if self.fmt == "iceberg":
            from deimos_spark.operators.iceberg_interop import (
                IcebergTableReader,
            )
            from deimos_spark.sources.table_cdc import (
                iceberg_changelog_to_ops,
            )

            r = IcebergTableReader(self.spark, self.path)
            head = r.metadata.get("current-snapshot-id")
            if head in (None, -1) or head == cursor:
                return 0
            changes = r.read_changelog(
                from_snapshot_id=cursor, to_snapshot_id=head
            )
            if self.key_cols:
                changes = iceberg_changelog_to_ops(changes, self.key_cols)
        else:
            from deimos_spark.operators.delta_interop import (
                DeltaTableReader,
            )
            from deimos_spark.sources.table_cdc import delta_feed_to_ops

            r = DeltaTableReader(self.spark, self.path)
            head = r.snapshot(_meta_only=True).version
            if cursor is not None and head <= cursor:
                return 0
            changes = r.read_changes(
                0 if cursor is None else cursor + 1, head
            )
            if self.key_cols:
                changes = delta_feed_to_ops(changes, self.key_cols)
        # ONE changelog assembly per cycle: materialized before counting
        # so the publish pass reads the cached result instead of
        # re-running the feed (for Iceberg that would be a second
        # parent-snapshot read + delete-set join every poll).
        with materialized(changes):
            n = changes.count()
            if n:
                self.publish(changes)
        self._save_cursor(head)  # commit AFTER publish
        return n
