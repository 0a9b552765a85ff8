"""Workload benchmark for deimos_spark. See perfbench/README.md.

    python3 perfbench/run.py --workload olap_sf0.01 --seed 1 --seconds 12 --trace 0

Builds its inputs from --seed, sets up (session, staging, reference
results, warm-up), runs a closed loop with one client for --seconds of
operation time, checks every result, and prints as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the run repeats the
window with spans and Spark counters on, then once more untraced, and
reports the per-layer metrics.
The line before it is a JSON detail record (host noise, workload-specific
metric names, fail_frac, sample counts, tracing overhead).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("olap_sf0.01", "cdc_to_delta")
STAGINGS = 3  # set-up staging repetitions; setup_s takes their median
# A traced run skips its closing untraced window if that window would end
# later than this after process start: a run must end within 180 s.
TRACE_LIMIT_S = 140



def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(path):
        dirnames.sort()
        for name in sorted(files):
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _start_session(work: str, workload: str, cores: int):
    """The engine's own session (session.get_spark) on local[cores], with
    every scratch path inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark's Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # extra spark-submit options ride along with get_spark's own confs
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join((
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ))
    from deimos_spark.session import get_spark

    spark = get_spark(f"perfbench-{workload}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until it and the Python workers it
    started have exited."""
    from pyspark import SparkContext

    from perfbench.tracing import process_tree

    procs = set(process_tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        jvm.terminate()
        try:
            jvm.wait(timeout=30)
        except Exception:
            jvm.kill()
            jvm.wait(timeout=10)
    deadline = time.monotonic() + 20
    while procs and time.monotonic() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _make_workload(name, spark, seed, cores, work):
    if name == "olap_sf0.01":
        from perfbench.olap import Olap

        return Olap(spark, seed)
    from perfbench.pipeline import CdcToDelta

    return CdcToDelta(spark, seed, cores, work)


def main(argv) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401  (query lists)
        import deimos_spark  # noqa: F401
        from tools.head2head import _cpu_probe
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench.summarize import summarize
    from perfbench.tracing import Py4jCounter, RssSampler, SparkProbe, Tracer

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = {
        "loadavg_before": os.getloadavg()[0],
        "cpu_probe_s": _cpu_probe(),
        "nproc": cores,
    }
    detail: dict = {"workload": args.workload, "seed": args.seed}
    try:
        with RssSampler() as rss:
            spark = _start_session(work, args.workload, cores)
            marks = {"session": time.perf_counter()}
            try:
                host["default_parallelism"] = spark.sparkContext.defaultParallelism
                wl = _make_workload(args.workload, spark, args.seed, cores, work)
                stage_s, digests = [], []
                for k in range(STAGINGS):
                    d = os.path.join(work, f"stage{k}")
                    t0 = time.perf_counter()
                    wl.stage(d)
                    stage_s.append(time.perf_counter() - t0)
                    digests.append(_tree_digest(d))
                    if k:
                        shutil.rmtree(d)
                marks["stage"] = time.perf_counter()
                wl.prepare(os.path.join(work, "stage0"))
                marks["prepare"] = time.perf_counter()
                wl.warmup()
                marks["warmup"] = time.perf_counter()
                setup_s = (time.perf_counter() - T_PROCESS) - sum(stage_s) + (
                    statistics.median(stage_s)
                )
                rec = wl.timed(args.seconds, Tracer(False))
                marks["timed"] = time.perf_counter()
                e2e, wl_detail = wl.end_to_end(rec)
                if args.trace:
                    # untraced, traced, untraced: the two untraced windows
                    # bracket the traced one, so the warm-up trend cancels
                    # out of the tracing overhead
                    tracer = Tracer(True, SparkProbe(spark), Py4jCounter(spark))
                    e2e_t, _ = wl.end_to_end(wl.timed(args.seconds, tracer))
                    counters = wl.layer_counters(tracer)
                    untraced = [e2e]
                    window_s = marks["timed"] - marks["warmup"]
                    if time.perf_counter() - T_PROCESS + window_s < TRACE_LIMIT_S:
                        untraced.append(
                            wl.end_to_end(wl.timed(args.seconds, Tracer(False)))[0]
                        )
                    marks["traced"] = time.perf_counter()
                wl.final_check()
                marks["checks"] = time.perf_counter()
            finally:
                _stop_session(spark)
        marks["stop"] = time.perf_counter()
        staging_same = len(set(digests)) == 1
        attempted = wl.attempted + 1
        failed = wl.failed + (not staging_same)
        e2e["setup_s"] = setup_s
        host["loadavg_after"] = os.getloadavg()[0]
        detail.update(wl_detail)
        detail.update(
            e2e,
            staging_s=stage_s,
            staging_identical=staging_same,
            peak_rss_mb=rss.peak / 2**20,
            fail_frac=failed / attempted,
            host=host,
            phases_s=_phase_seconds(marks),
        )
        if args.trace:
            meta = {"workload": args.workload, "cores": cores, "counters": counters}
            summary = summarize(tracer.spans, meta)
            base_p50 = statistics.mean(u["latency_p50_s"] for u in untraced)
            overhead = e2e_t["latency_p50_s"] / base_p50 - 1 if base_p50 else 0.0
            summary["metrics"]["trace.overhead_frac"] = overhead
            summary["untraced"], summary["traced"] = untraced, e2e_t
            base = os.path.join(
                ROOT, ".perfbench_work", "trace",
                f"{args.workload}-seed{args.seed}",
            )
            tracer.write(base + ".spans.jsonl", meta)
            with open(base + ".summary.json", "w") as fh:
                json.dump(summary, fh, indent=1, sort_keys=True)
            detail["trace_overhead_frac"] = overhead
            detail["untraced_windows"] = len(untraced)
            detail["spans_file"] = os.path.relpath(base + ".spans.jsonl", ROOT)
            # a layer that does not run on this workload reads 0
            out = {
                k: {"value": summary["metrics"].get(k, 0.0), "unit": u}
                for k, u in _declared("per_layer").items()
            }
        else:
            out = {
                k: {"value": e2e[k], "unit": u}
                for k, u in _declared("end_to_end").items()
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0


def _phase_seconds(marks: dict[str, float]) -> dict[str, float]:
    """Wall time of each phase of the run, from process start."""
    out, prev = {}, T_PROCESS
    for name, t in marks.items():
        out[name] = t - prev
        prev = t
    return out


def _declared(kind: str) -> dict[str, str]:
    """Metric name → unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
