"""Re-measure the per-query floor constants quoted in BASELINE.md §4.

Run ALONE on an idle window: `python tools/floor_profile.py`.

Measures, in one warm session (medians over repeats):
  - no-op Spark job (spark.range(1).collect())
  - 1-task vs 32-task trivial count (per-task scheduling cost)
  - plan BUILD time + py4j round-trip count for two representative
    builders (h02 = the trip-heaviest TPC-H pyramid, h08, x06), with
    the plan cache cleared between builds — exactly the bench's warm
    regime
  - build vs execute vs fetch split for one warm bench iteration of
    each probed query (build = builder call, exec+fetch = collect)

The py4j trip count is read from py4j's own GatewayClient send counter
via a thin wrapper — no timing distortion beyond one int increment.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deimos_spark.queries import all_queries, clear_plan_cache  # noqa: E402
from deimos_spark.session import get_spark  # noqa: E402
from tools.head2head import _cpu_probe  # noqa: E402

PROBES = ["h02_min_cost_supplier", "h08_market_share", "x06_funnel"]


def _median_of(fn, n=9):
    runs = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    return round(statistics.median(runs), 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out: dict = {
        "cpu_probe_sec": _cpu_probe(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
    spark = get_spark("floor_profile")
    spark.range(1).collect()

    # --- no-op job floor
    out["noop_job_sec"] = _median_of(lambda: spark.range(1).collect())

    # --- floor DECOMPOSITION (r16, VERDICT r15 item 8): where does the
    # ~0.09s/job go? Measured slices, fresh-lineage regime:
    #   - py4j_ping_sec: one JVM round trip (~0.2ms — NOT the floor)
    #   - plan_only_sec: analysis+optimization+physical planning of a
    #     trivial plan (~5ms — optimizer passes are NOT the floor, so
    #     trimming excludedRules has nothing to win)
    #   - jvm_job_sec: a full scheduler round for an already-prepared
    #     plan (noop write of range(1), no Python result path)
    #   - reexec_same_df_sec: re-collect of the SAME DataFrame (cached
    #     QueryExecution): job + fetch only
    #   - fresh_exec_extra_sec: fresh-plan collect minus the re-collect
    #     — first-execution setup (codegen source generation, exec
    #     preparations, SQL-metrics wiring), the other real floor slice
    df_same = spark.range(1)
    df_same.collect()
    reexec = _median_of(lambda: df_same.collect())
    out["py4j_ping_sec"] = _median_of(
        lambda: spark._jsc.sc().defaultParallelism()
    )
    out["plan_only_sec"] = _median_of(
        lambda: spark.range(1)._jdf.queryExecution().executedPlan()
    )
    out["jvm_job_sec"] = _median_of(
        lambda: spark.range(1)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    out["reexec_same_df_sec"] = reexec
    out["fresh_exec_extra_sec"] = round(
        max(0.0, out["noop_job_sec"] - reexec), 4
    )
    sc = spark.sparkContext
    rdd1 = sc.parallelize(range(32), 1)
    rdd32 = sc.parallelize(range(32), 32)
    rdd1.count()
    rdd32.count()
    t1 = _median_of(lambda: rdd1.count())
    t32 = _median_of(lambda: rdd32.count())
    out["count_1task_sec"] = t1
    out["count_32task_sec"] = t32
    out["per_task_ms"] = round(max(0.0, (t32 - t1) / 31) * 1000, 2)

    # --- per-builder build/exec/fetch split + py4j trips
    from py4j.java_gateway import GatewayClient  # noqa: E402

    counter = {"n": 0}
    orig = GatewayClient.send_command

    def counting(self, *a, **kw):
        counter["n"] += 1
        return orig(self, *a, **kw)

    specs = all_queries()
    per_q = {}
    for name in PROBES:
        spec = specs[name]
        # warm everything once
        clear_plan_cache()
        spec.builder(spark, sf_dir).collect()
        builds, execs, trips = [], [], []
        for _ in range(5):
            clear_plan_cache()
            GatewayClient.send_command = counting
            counter["n"] = 0
            t0 = time.perf_counter()
            df = spec.builder(spark, sf_dir)
            tb = time.perf_counter() - t0
            GatewayClient.send_command = orig
            ntrips = counter["n"]
            t0 = time.perf_counter()
            df.collect()
            te = time.perf_counter() - t0
            builds.append(tb)
            execs.append(te)
            trips.append(ntrips)
        per_q[name] = {
            "build_sec": round(statistics.median(builds), 4),
            "exec_fetch_sec": round(statistics.median(execs), 4),
            "py4j_trips_build": int(statistics.median(trips)),
        }
    out["probed_builders"] = per_q
    out["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
