"""Memory-pressure validation: run the shuffle/sort/window-heaviest ops at
a K-scaled input inside a DELIBERATELY small JVM heap and prove they
SPILL instead of OOM.

Why this exists: every STRESS curve (tools/stress.py) runs with the
default 8 GiB local heap — comfortable enough that Spark's spill machinery
never engages, so "would this op survive an executor whose working set
exceeds memory?" was untested. At 100 TB per-executor memory is ALWAYS
smaller than the per-task working set of a global sort or a wide hash
aggregate; the design answer is Spark's unified memory manager spilling
sorts/aggs/windows to disk. This harness forces that regime locally:
K=30 (≈18M lineitem rows, the STRESS ceiling for the full set) under a
2 GiB heap and 8 threads — 1/4 the memory of the STRESS runs for 8/32 the
threads, i.e. the same per-thread budget but a working set that exceeds
the unified pool for the heavy ops, so completion REQUIRES spill.

Evidence captured per op (from the Spark status REST API, UI enabled for
this tool only): wall seconds, memory/disk bytes spilled, peak execution
memory. The claim the artifact backs: `all_completed: true` with nonzero
spill on the heavy ops = the plans degrade to disk, not to OOM.

Two regimes in one run:
- "balanced" (8 threads, 64 shuffle partitions): right-sized partitions —
  per-task working sets stay under the pool; the evidence is COMPLETION
  at 1/4 the usual heap (the first K=30 run measured exactly this:
  zero spill needed, because partition sizing is the first line of
  defense and it held).
- "adversarial" (4 threads, 4 shuffle partitions): ~4.5M rows per task —
  per-task sort/agg working sets exceed the unified pool by design, so
  completion REQUIRES the spill path. Nonzero disk spill here is the
  proof the plans degrade to disk, not OOM, when partition sizing is
  taken away (the mis-configured-job / giant-skew-partition regime).

Usage: python tools/lowmem_stress.py [K] [heap] [scratch_dir]
       (defaults: 30 2g /tmp/deimos_lowmem)
Emits one JSON document (commit as LOWMEM.json).

NOTE: must run as its OWN process — driver memory binds at JVM launch
(verified in-artifact via Runtime.maxMemory).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The subset is chosen for per-task working-set pressure, not coverage:
# wide hash aggs (b11/h01), a giant agg+join (h18), fact x fact semi
# (h21), keep-last + sessionize windows (b20/x13), a global sort
# (b16), segment-dedup joins (t26), running windows (b19), banded
# minhash (t06).
OPS = [
    "b11_agg_hash",
    "b20_keep_last_per_key",
    "h01_pricing_summary",
    "h18_large_volume_customers",
    "h21_waiting_supplier",
    "x13_sessionize",
    "t26_substr_dedup",
    "b16_sort_topk",
    "b19_window_running",
    "t06_minhash_pairs",
]


def _rest(spark, path: str):
    port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
    app = spark.sparkContext.applicationId
    url = f"http://localhost:{port}/api/v1/applications/{app}/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def _spill_totals(spark) -> tuple[int, int, int]:
    """(memoryBytesSpilled, diskBytesSpilled, peakExecutionMemory) summed
    over all completed stages so far."""
    mem = disk = peak = 0
    for st in _rest(spark, "stages?status=complete"):
        mem += st.get("memoryBytesSpilled", 0) or 0
        disk += st.get("diskBytesSpilled", 0) or 0
        peak = max(peak, st.get("peakExecutionMemory", 0) or 0)
    return mem, disk, peak


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    heap = sys.argv[2] if len(sys.argv) > 2 else "2g"
    scratch = sys.argv[3] if len(sys.argv) > 3 else "/tmp/deimos_lowmem"

    # heap binds at JVM launch: claim it via the env get_spark honors,
    # BEFORE any SparkSession exists in this process
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ["SPARK_GRAFT_CPUS"] = "8"

    from pyspark.sql import SparkSession

    import deimos_spark.session as S
    from deimos_spark.queries import all_queries, clear_plan_cache
    from deimos_spark.session import (
        apply_runtime_confs,
        broadcast_threshold_for_heap,
    )
    from tools.stress import _build_scaled

    spark = (
        SparkSession.builder.appName("deimos_lowmem")
        .master("local[8]")
        .config("spark.driver.memory", heap)
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.ui.enabled", "true")  # the spill evidence source
        # scaled with heap — the 1 GiB run FOUND the constant-32MB
        # failure mode (h18 broadcast build OOM; see session.py)
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            str(broadcast_threshold_for_heap(heap)),
        )
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .getOrCreate()
    )
    apply_runtime_confs(spark)
    jvm_max_mb = round(
        spark._jvm.Runtime.getRuntime().maxMemory() / 1e6
    )  # proves the heap actually bound

    data_dir = os.path.join(scratch, f"k{k}")
    if not os.path.exists(os.path.join(data_dir, "lineitem.parquet")):
        rows = _build_scaled(spark, "/root/testdata/sf0.1", data_dir, k)
    else:
        rows = spark.read.parquet(f"{data_dir}/lineitem.parquet").count()

    specs = all_queries()

    def run_regime(label: str, shuffle_parts: int, max_split: str):
        # AQE right-sizes shuffle partitions regardless of the base
        # conf; the adversarial regime turns it off so the tiny
        # partition count actually binds and per-task working sets
        # exceed the pool (the giant-partition / skew regime)
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_parts))
        spark.conf.set("spark.sql.files.maxPartitionBytes", max_split)
        adversarial = shuffle_parts <= 8
        aqe_min = S.AQE_MIN_INPUT_BYTES
        if adversarial:
            # the whole small regime (AQE off, split sizing, spread,
            # t15's window shape), not only AQE off
            S.AQE_MIN_INPUT_BYTES = 1 << 60
        results: dict[str, dict] = {}
        ok_all = True
        for name in OPS:
            clear_plan_cache()
            if adversarial:
                spark.conf.set("spark.sql.adaptive.enabled", "false")
            m0, d0, _ = _spill_totals(spark)
            t0 = time.perf_counter()
            try:
                df = specs[name].builder(spark, data_dir)
                if adversarial:  # builder's autotune may re-enable AQE
                    spark.conf.set("spark.sql.adaptive.enabled", "false")
                    spark.conf.set(
                        "spark.sql.shuffle.partitions", str(shuffle_parts)
                    )
                df.collect()
                sec = round(time.perf_counter() - t0, 2)
                m1, d1, peak = _spill_totals(spark)
                results[name] = {
                    "sec": sec,
                    "mem_spill_mb": round((m1 - m0) / 1e6, 1),
                    "disk_spill_mb": round((d1 - d0) / 1e6, 1),
                    "ok": True,
                }
            except Exception as e:  # OOM or task failure = the finding
                ok_all = False
                results[name] = {
                    "sec": round(time.perf_counter() - t0, 2),
                    "ok": False,
                    "error": f"{type(e).__name__}: {str(e)[:200]}",
                }
            print(f"  [{label}] {name}: {results[name]}", file=sys.stderr)
        if adversarial:
            S.AQE_MIN_INPUT_BYTES = aqe_min
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        return {
            "shuffle_partitions": shuffle_parts,
            "all_completed": ok_all,
            "total_disk_spill_mb": round(
                sum(r.get("disk_spill_mb", 0) for r in results.values()), 1
            ),
            "ops": results,
        }

    out = {
        "k": k,
        "lineitem_rows": rows,
        "heap": heap,
        "jvm_max_heap_mb": jvm_max_mb,
        "threads": 8,
        "balanced": run_regime("balanced", 64, "128m"),
        "adversarial": run_regime("adversarial", 4, "2g"),
    }
    print(json.dumps(out))
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
