"""Per-layer numbers from a traced run's spans.

Usage: python3 perfbench/summarize.py <spans.jsonl>

The spans file starts with one `{"meta": ...}` line (workload, cores,
workload counters), then one span per line. Every per-layer metric is a
mean per operation (one query submission, or one pipeline cycle) unless
its name says it is a ratio. A layer's self time is its span's duration
minus the part of that interval its child spans cover; the root span's
self time is the part of an operation that no layer span covers.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict

# per-layer metric → span names whose durations it sums (mean per op)
SPAN_METRICS = {
    "queries.build_s": ("queries.build",),
    "spark.plan_s": ("spark.plan",),
    "spark.exec_s": ("spark.exec", "engine.read_exec"),
    "codecs.decode_s": ("codecs.decode",),
    "codecs.encode_s": ("codecs.encode",),
    "consumer.consume_s": ("consumer.consume",),
    "delta.merge_s": ("delta.merge",),
    "engine.sql_bind_s": ("engine.sql_bind",),
    "engine.read_exec_s": ("engine.read_exec",),
    "poller.run_once_s": ("poller.run_once",),
    "outbox.append_s": ("outbox.append",),
    "outbox.relay_s": ("outbox.relay",),
    "outbox.delete_s": ("outbox.delete",),
}
# Spark counters attached to each op's root span → per-layer metric
SPARK_COUNTERS = {
    "spark.jobs": ("jobs",),
    "spark.stages": ("stages",),
    "spark.tasks": ("tasks",),
    "spark.executor_run_s": ("executor_run_s",),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes",),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes",),
    "spark.spill_bytes": ("memory_spill_bytes", "disk_spill_bytes"),
    "spark.jvm_gc_s": ("jvm_gc_s",),
}
# counters a workload attaches to its op root spans (attrs) → metric
OP_COUNTERS = {
    "poller.batches": "poller_batches",
    "outbox.relay_batches": "relay_batches",
    "outbox.pending_rows": "pending_rows",
}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → its duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _union(kids.get(s["id"], []))
        for s in spans
    }


def summarize(spans: list[dict], meta: dict) -> dict:
    roots = [s for s in spans if s["parent"] is None and s["op"] is not None]
    n_ops = max(len(roots), 1)
    selfs = self_times(spans)
    dur = defaultdict(float)
    self_by_name = defaultdict(float)
    for s in spans:
        dur[s["name"]] += s["end"] - s["start"]
        self_by_name[s["name"]] += selfs[s["id"]]

    m: dict[str, float] = {}
    for metric, names in SPAN_METRICS.items():
        m[metric] = sum(dur[n] for n in names) / n_ops
    # compaction alone: the decode+compact probe minus the decode probe
    m["compaction.compact_s"] = max(
        0.0, (dur["compaction.decode_compact"] - dur["codecs.decode"]) / n_ops
    )
    spark = [r["attrs"].get("spark", {}) for r in roots]
    for metric, keys in SPARK_COUNTERS.items():
        m[metric] = sum(c.get(k, 0) for c in spark for k in keys) / n_ops
    m["queries.build_jobs"] = sum(
        r["attrs"].get("spark_by_phase", {}).get("build", {}).get("jobs", 0)
        for r in roots
    ) / n_ops
    m["py4j.round_trips"] = (
        sum(r["attrs"].get("py4j_trips", 0) for r in roots) / n_ops
    )
    op_wall = sum(r["end"] - r["start"] for r in roots)
    cores = meta.get("cores") or 1
    m["spark.core_util"] = (
        sum(c.get("executor_run_s", 0) for c in spark) / (op_wall * cores)
        if op_wall > 0 else 0.0
    )
    m["fetch.rows"] = sum(
        s["attrs"].get("rows", 0)
        for s in spans
        if s["name"] in ("spark.exec", "engine.read_exec")
    ) / n_ops
    for metric, key in OP_COUNTERS.items():
        m[metric] = sum(r["attrs"].get(key, 0) for r in roots) / n_ops
    sent = sum(r["attrs"].get("sent", 0) for r in roots)
    batches = sum(r["attrs"].get("relay_batches", 0) for r in roots)
    m["outbox.sent_per_read"] = sent / batches if batches else 0.0
    m["trace.unattributed_s"] = sum(selfs[r["id"]] for r in roots) / n_ops
    m.update(meta.get("counters", {}))
    return {
        "ops": len(roots),
        "metrics": m,
        "self_s_per_op": {k: v / n_ops for k, v in sorted(self_by_name.items())},
    }


def load(path: str) -> tuple[dict, list[dict]]:
    with open(path) as fh:
        meta = json.loads(fh.readline())["meta"]
        spans = [json.loads(line) for line in fh if line.strip()]
    return meta, spans


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    meta, spans = load(argv[1])
    print(json.dumps(summarize(spans, meta), indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
