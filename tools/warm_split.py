"""Per-query warm-time split for the FULL headline set: build (Python
expression tree + py4j) vs exec+fetch (collect), plus py4j trip count per
build — the bench's exact warm regime (plan cache cleared per run,
median of 3). Identifies where the per-query floor concentrates so
optimization targets the right builders.

Run ALONE on an idle window:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/warm_split.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from deimos_spark.queries import all_queries, clear_plan_cache  # noqa: E402
from deimos_spark.session import get_spark  # noqa: E402
from tools.head2head import _cpu_probe  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out: dict = {
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "cpu_probe_sec": _cpu_probe(),
    }

    spark = get_spark("warm_split")
    spark.range(1).collect()

    from py4j.java_gateway import GatewayClient

    counter = {"n": 0}
    orig = GatewayClient.send_command

    def counting(self, *a, **kw):
        counter["n"] += 1
        return orig(self, *a, **kw)

    specs = all_queries()
    per_q = {}
    for name in HEADLINE:
        spec = specs[name]
        clear_plan_cache()
        spec.builder(spark, sf_dir).collect()  # cold once
        builds, execs, trips = [], [], []
        for _ in range(3):
            clear_plan_cache()
            # try/finally: a raising builder must not leave the
            # process-global counting shim installed for every later
            # py4j call (r16, ADVICE)
            GatewayClient.send_command = counting
            counter["n"] = 0
            try:
                t0 = time.perf_counter()
                df = spec.builder(spark, sf_dir)
                tb = time.perf_counter() - t0
            finally:
                GatewayClient.send_command = orig
            nt = counter["n"]
            t0 = time.perf_counter()
            df.collect()
            te = time.perf_counter() - t0
            builds.append(tb)
            execs.append(te)
            trips.append(nt)
        per_q[name] = {
            "build": round(statistics.median(builds), 3),
            "exec": round(statistics.median(execs), 3),
            "trips": int(statistics.median(trips)),
        }
    out["queries"] = per_q
    out["build_total"] = round(sum(q["build"] for q in per_q.values()), 2)
    out["exec_total"] = round(sum(q["exec"] for q in per_q.values()), 2)
    out["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
