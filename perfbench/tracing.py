"""Measurement from outside the program: spans kept in memory, Spark
job/stage/task counters read through job groups, py4j round trips, and the
peak resident memory of the process tree.

Nothing here patches engine code. The Spark counters come from
`sc.statusTracker()` (jobs → stages of a job group) and the JVM
`AppStatusStore` (`sc._jsc.sc().statusStore().lastStageAttempt(id)`), which
keeps stage metrics with the UI disabled.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

# stage-level fields summed per operation: name → (StageData getter, scale)
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
}


class Tracer:
    """Spans with name, start, end, parent and operation id, kept in memory
    until `write`. A disabled tracer records nothing and sets no job group,
    so untraced runs pay for neither."""

    def __init__(self, enabled: bool, spark_probe=None, py4j=None):
        self.enabled = enabled
        self.spark_probe = spark_probe
        self.py4j = py4j
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._phases: list[str] = []  # the current op's job-group phases
        self.n_ops = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        trips0 = self.py4j.count if self.py4j else 0
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.py4j:
                rec["attrs"]["py4j_trips"] = self.py4j.count - trips0

    @contextmanager
    def op(self, name: str, **attrs):
        """Root span of one closed-loop operation. Its Spark jobs run under
        job groups named after the op id (see `phase`), and their counters
        are attached to the root span after it ends, also when the op
        raises, so reading them is not part of the op."""
        if not self.enabled:
            yield None
            return
        op_id = self.n_ops
        self.n_ops += 1
        self._op = op_id
        self._phases = []
        try:
            with self.span(name, **attrs) as rec:
                self.phase("main")
                try:
                    yield rec
                finally:
                    self.spark_probe.clear_group()
        finally:
            self._op = None
            groups = [f"perfbench-op{op_id}-{p}" for p in self._phases]
            rec["attrs"]["spark"] = self.spark_probe.counts(groups)
            rec["attrs"]["spark_by_phase"] = {
                g.rsplit("-", 1)[1]: self.spark_probe.counts([g]) for g in groups
            }

    def phase(self, phase: str) -> None:
        """Route the current op's next Spark jobs to the job group `phase`
        (e.g. jobs started inside a query builder vs at collect)."""
        if not self.enabled or self._op is None:
            return
        if phase not in self._phases:
            self._phases.append(phase)
        self.spark_probe.set_group(f"perfbench-op{self._op}-{phase}")

    def write(self, path: str, meta: dict) -> None:
        """One `{"meta": ...}` line, then one span per line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(json.dumps({"meta": meta}) + "\n")
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


class SparkProbe:
    """Jobs, stages, tasks and stage metrics of named job groups."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, groups: list[str]) -> dict:
        # stage metrics arrive through the listener bus: drain it first
        self.bus.waitUntilEmpty(10_000)
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        out.update({k: 0.0 for k in STAGE_FIELDS})
        stage_ids: set[int] = set()
        for g in groups:
            for jid in self.tracker.getJobIdsForGroup(g):
                out["jobs"] += 1
                info = self.tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never attempted
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(sd.numCompleteTasks()) + int(sd.numFailedTasks())
            for key, (getter, scale) in STAGE_FIELDS.items():
                out[key] += float(getattr(sd, getter)()) * scale
        return out


class Py4jCounter:
    """Counts driver→JVM round trips by wrapping the gateway client's
    `send_command` on this instance only."""

    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        inner = client.send_command
        self.count = 0

        def send_command(*args, **kwargs):
            self.count += 1
            return inner(*args, **kwargs)

        client.send_command = send_command


def process_tree(root: int) -> dict[int, int]:
    """pid → resident bytes, for `root` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/statm") as fh:
                resident = int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process ended while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = resident * page
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return tree


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Python driver, the JVM, the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(process_tree(pid).values()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
