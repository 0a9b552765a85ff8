"""`cdc_to_delta`: the produce → broker → consume direction, end to end.

Each cycle, outside the timed region, appends one change set to a parquet
source table. The timed cycle is the deimos CDC path:
TimeBasedPoller (1000-row batches) → Producer (avro_py encode) →
OutboxTable.append → OutboxRelay(mode="executor") into a FakeBroker topic
→ BatchConsumer.consume_batch into a DeltaKeyedTable with txn=("bench", i)
(avro_py decode, keep-last compaction, Delta MERGE) → an Engine.sql
aggregate that reads the live table. The query registry does no work.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import time

from deimos_spark.engine import Engine
from deimos_spark.operators.compaction import compact_keep_last
from deimos_spark.sources.outbox import OutboxRelay
from deimos_spark.sources.poller import TimeBasedPoller
from deimos_spark.streaming.fakebroker import FakeBroker, broker_producer
from perfbench import datagen
from perfbench.checks import TableModel, broker_mismatches
from perfbench.tracing import Tracer

ROWS_PER_CYCLE = 1000
KEYS = 2000
MAX_CYCLES = 24  # staged change sets; a run stops early if it uses them all
# A window holds at least this many cycles, so its median cycle is not its
# first one and differs from the mean that the throughput rests on.
MIN_CYCLES = 3
TOPIC = "widgets"
VALUE_SCHEMA = {
    "type": "record",
    "name": "Widget",
    "namespace": "perfbench",
    "fields": [
        {"name": "widget_id", "type": "long"},
        {"name": "name", "type": ["null", "string"], "default": None},
        {"name": "qty", "type": ["null", "long"], "default": None},
        {"name": "price", "type": ["null", "double"], "default": None},
    ],
}
KEY_SCHEMA = {
    "type": "record",
    "name": "WidgetKey",
    "fields": [{"name": "widget_id", "type": "long"}],
}
READ_SQL = f"SELECT count(*) AS n, sum(qty) AS q FROM {TOPIC}"


class CdcToDelta:
    def __init__(self, spark, seed: int, cores: int, work: str):
        self.spark = spark
        self.seed = seed
        self.cores = cores
        self.work = work
        self.model = TableModel()
        self.cycle = 0
        self.attempted = 0
        self.failed = 0
        self.cold_s = 0.0
        self.last_failed = False
        self.broken = False  # a cycle raised: no further cycle runs

    # ------------------------------------------------------------ set-up

    def stage(self, out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        for c in range(MAX_CYCLES):
            changes = datagen.change_set(self.seed, c, ROWS_PER_CYCLE, KEYS)
            datagen.write_change_set(
                os.path.join(out_dir, f"changes-{c:03d}.parquet"), changes
            )

    def prepare(self, stage_dir: str) -> None:
        self.stage_dir = stage_dir
        self.source = os.path.join(self.work, "source")
        os.makedirs(self.source)
        self.eng = Engine(self.spark)
        self.eng.register_topic(
            TOPIC, VALUE_SCHEMA, key_field="widget_id", codec="avro_py"
        )
        self.producer = self.eng.producer(TOPIC)
        self.outbox = self.eng.outbox(os.path.join(self.work, "outbox"))
        self.consumer = self.eng.consumer(
            TOPIC, os.path.join(self.work, "table"), table_format="delta"
        )
        self.poller = TimeBasedPoller(
            lambda: self.spark.read.parquet(self.source),
            self._publish,
            os.path.join(self.work, "cursor.json"),
            ts_col="updated_at",
            id_col="event_id",
            batch_size=1000,
            delay_micros=0,
        )
        self._tracer = Tracer(False)  # the current cycle's tracer
        self._op_attrs: dict = {}
        self._wrapped = False
        self._kept = self._msgs = self._msg_bytes = 0

    def _publish(self, batch) -> None:
        """The poller's sink: encode with the topic's producer, append to
        the outbox (one transaction per poller batch)."""
        self._op_attrs["poller_batches"] = self._op_attrs.get("poller_batches", 0) + 1
        with self._tracer.span("outbox.append"):
            self.outbox.append(self.producer.build_messages(batch))

    def _changes(self, c: int) -> list[tuple]:
        return datagen.change_set(self.seed, c, ROWS_PER_CYCLE, KEYS)

    # ----------------------------------------------------------- one cycle

    def _land(self, c: int) -> None:
        """Untimed: the change set lands in the source table."""
        shutil.copy(
            os.path.join(self.stage_dir, f"changes-{c:03d}.parquet"),
            os.path.join(self.source, f"part-{c:05d}.parquet"),
        )

    def _cycle(self, c: int, tracer) -> dict:
        broker_dir = os.path.join(self.work, "broker", f"c{c:03d}")
        broker = FakeBroker(broker_dir)
        broker.create_topic(TOPIC, partitions=4)
        relay = OutboxRelay(
            self.outbox,
            broker_producer(broker_dir),
            batch_size=1000,
            mode="executor",
            executor_parallelism=self.cores,
        )
        traced = tracer.enabled
        span = tracer.span
        self._tracer = tracer
        self._op_attrs = {}
        rec: dict = {}
        t0 = time.perf_counter()
        with tracer.op("cdc.cycle", cycle=c) as root:
            with span("poller.run_once"):
                self.poller.run_once(10**15)
            with span("outbox.relay"):
                rec["sent"] = relay.run_once()
            t_broker = time.perf_counter()
            with span("broker.fetch"):
                records = broker.poll("perfbench", TOPIC)
                raw = broker.to_dataframe(self.spark, records)
            t_consume = time.perf_counter()
            with span("consumer.consume"):
                self.consumer.consume_batch(raw, txn=("bench", c))
            broker.commit(
                "perfbench", TOPIC,
                {p: o + 1 for p, o in _last_offsets(records).items()},
            )
            t_read = time.perf_counter()
            with span("engine.sql_bind"):
                df = self.eng.sql(READ_SQL)
            if traced:
                with span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
            with span("engine.read_exec") as s:
                row = df.collect()[0]
                if s is not None:
                    s["attrs"]["rows"] = 1
            t_end = time.perf_counter()
            if root is not None:
                root["attrs"].update(self._op_attrs, sent=rec["sent"])
        rec.update(
            lag_s=t_end - t0,
            cdc_lag_s=t_broker - t0,
            commit_s=t_read - t_consume,
            read_s=t_end - t_read,
            msgs=len(records),
            read=(row["n"], row["q"] or 0),
            records=[(r.partition, r.offset, r.key, r.value) for r in records],
            raw=raw,
            root=root,
        )
        self._tracer = Tracer(False)
        return rec

    def _check(self, c: int, rec: dict) -> bool:
        """Untimed, after the cycle: broker content, read-after-write result
        and the outbox backlog, which must be empty. True if any is wrong."""
        changes = self._changes(c)
        self.model.apply(changes)
        bad = broker_mismatches(changes, rec["records"], KEY_SCHEMA, VALUE_SCHEMA)
        bad += rec["read"] != self.model.aggregate()
        pending = self.outbox.pending_count()
        bad += pending != 0
        if rec["root"] is not None:
            rec["root"]["attrs"]["pending_rows"] = pending
        return bad > 0

    def _run_cycle(self, tracer) -> dict | None:
        """One cycle and its checks. A cycle that raises counts as attempted
        and failed; the outbox, the broker offsets and the table may then
        be half-way through it, so no further cycle runs. Returns None
        then."""
        c = self.cycle
        self.cycle += 1
        self.attempted += 1
        self._land(c)
        try:
            rec = self._cycle(c, tracer)
            if tracer.enabled:
                self._noop_runs(c, rec, tracer)
            bad = self._check(c, rec)
        except Exception as e:
            print(f"perfbench: cycle {c} failed: {type(e).__name__}: {e}",
                  file=sys.stderr)
            self._tracer = Tracer(False)
            self.broken = True
            rec, bad = None, True
        self.failed += bad
        self.last_failed = bad
        return rec

    def warmup(self) -> float:
        rec = self._run_cycle(Tracer(False))
        self.cold_s = rec["lag_s"] if rec else 0.0
        return self.cold_s

    def _wrap(self, obj, attr: str, span_name: str, counter: str | None = None) -> None:
        """Time `obj.attr` (on this instance only) as span `span_name` and
        count its calls into the current op's `counter`. Installed when
        tracing first starts; with tracing off it only counts."""
        inner = getattr(obj, attr)

        def wrapped(*args, **kwargs):
            if counter is not None:
                self._op_attrs[counter] = self._op_attrs.get(counter, 0) + 1
            with self._tracer.span(span_name):
                return inner(*args, **kwargs)

        setattr(obj, attr, wrapped)

    def timed(self, seconds: float, tracer) -> dict:
        if tracer.enabled and not self._wrapped:
            self._wrapped = True
            self._wrap(self.outbox, "delete_ids", "outbox.delete", "relay_batches")
            self._wrap(self.consumer.table, "merge", "delta.merge")
        recs: list[dict] = []
        while not self.broken and self.cycle < MAX_CYCLES and (
            len(recs) < MIN_CYCLES or sum(r["lag_s"] for r in recs) < seconds
        ):
            rec = self._run_cycle(tracer)
            if rec is not None:
                recs.append(rec)
        return {"cycles": recs, "timed_s": sum(r["lag_s"] for r in recs)}

    def final_check(self) -> None:
        """The whole table against the model, key by key; a mismatch fails
        the last cycle. After a cycle that raised, the table is in an
        unknown state and that cycle has already failed."""
        if self.broken:
            return
        try:
            rows = self.consumer.table.read().select(
                "widget_id", "name", "qty", "price"
            ).collect()
            bad = self.model.mismatches([tuple(r) for r in rows]) > 0
        except Exception as e:
            print(f"perfbench: final table read failed: {type(e).__name__}: {e}",
                  file=sys.stderr)
            bad = True
        if bad and not self.last_failed:
            self.failed += 1
            self.last_failed = True

    # ------------------------------------------------------------ metrics

    def end_to_end(self, rec: dict) -> tuple[dict, dict]:
        """Latency is the median cycle; throughput is rows over the
        window's summed cycle time, so it rests on the mean cycle. With no
        successful cycle every figure reads 0 and the run is not correct."""
        cyc = rec["cycles"]
        timed_s = rec["timed_s"] or 1.0

        def p50(key):
            return statistics.median([r[key] for r in cyc]) if cyc else 0.0

        rows = len(cyc) * ROWS_PER_CYCLE
        e2e = {
            "latency_p50_s": p50("lag_s"),
            "throughput_per_s": rows / timed_s,
        }
        detail = {
            "cold_s": self.cold_s,
            "cycles": len(cyc),
            "rows_per_s": rows / timed_s,
            "msgs_per_s": sum(r["msgs"] for r in cyc) / timed_s,
            "cdc_lag_p50_s": p50("cdc_lag_s"),
            "commit_p50_s": p50("commit_s"),
            "read_p50_s": p50("read_s"),
            "table_visible_p50_s": p50("lag_s"),
            "cycle_lags_s": [r["lag_s"] for r in cyc],
        }
        return e2e, detail

    def _noop_runs(self, c: int, rec: dict, tracer) -> None:
        """Traced runs only, outside the op span: noop-sink runs that split
        decode, compaction and encode from the spans that contain them."""
        raw = rec["raw"]
        with tracer.span("codecs.decode"):
            self.consumer.decode(raw).write.format("noop").mode("overwrite").save()
        keys = self.consumer.config.key_cols
        order = list(self.consumer.config.order_cols)
        with tracer.span("compaction.decode_compact"):
            compact_keep_last(self.consumer.decode(raw), keys, order).write.format(
                "noop"
            ).mode("overwrite").save()
        kept = compact_keep_last(self.consumer.decode(raw), keys, order).count()
        self._kept += kept
        self._msgs += rec["msgs"]
        self._msg_bytes += sum(
            len(k or b"") + len(v or b"") for _p, _o, k, v in rec["records"]
        )
        src = self.spark.read.parquet(
            os.path.join(self.source, f"part-{c:05d}.parquet")
        ).drop("event_id", "updated_at")
        with tracer.span("codecs.encode"):
            self.producer.build_messages(src).write.format("noop").mode(
                "overwrite"
            ).save()

    def layer_counters(self, tracer) -> dict:
        """Per-layer counters that are not span durations: Delta log
        statistics of the commits the traced cycles wrote, and compaction's
        keep ratio."""
        log = os.path.join(self.work, "table", "_delta_log")
        commits = sorted(glob.glob(os.path.join(log, "*.json")))
        n_ops = max(tracer.n_ops, 1)
        added = removed = written = 0
        for path in commits[-tracer.n_ops:] if tracer.n_ops else []:
            with open(path) as fh:
                for line in fh:
                    action = json.loads(line)
                    if "add" in action:
                        added += 1
                        written += action["add"].get("size", 0)
                    elif "remove" in action:
                        removed += 1
        # after a cycle that raised, the table may not exist
        live = 0 if self.broken else len(self.consumer.table.read().inputFiles())
        return {
            "delta.files_added": added / n_ops,
            "delta.files_removed": removed / n_ops,
            "delta.bytes_written": written / n_ops,
            "delta.write_amp": written / self._msg_bytes if self._msg_bytes else 0.0,
            "delta.live_files": float(live),
            "delta.log_versions": float(len(commits)),
            "compaction.keep_ratio": self._kept / self._msgs if self._msgs else 0.0,
        }


def _last_offsets(records) -> dict[int, int]:
    out: dict[int, int] = {}
    for r in records:
        out[r.partition] = max(out.get(r.partition, -1), r.offset)
    return out
