"""`olap_sf0.01`: the read side. Query registry submissions over generated
catalog tables; plan build (py4j), Catalyst, the per-job floor, execution
and fetch do all the work. Codecs, Delta and the outbox do none."""

from __future__ import annotations

import os
import statistics
import sys
import time

import duckdb

from bench import HEADLINE, HEAVY
from deimos_spark.catalog import TABLES
from deimos_spark.queries import all_queries, clear_plan_cache
from perfbench import datagen
from perfbench.checks import result_digest
from perfbench.stats import tail
from perfbench.tracing import Tracer

SF = 0.01
# A fixed slice of bench.HEADLINE + bench.HEAVY, one query per operator
# family, plus a builder that runs Spark jobs itself (t30). The whole set
# takes ~40 s per warm pass on 4 cores, longer than a run's window; a
# fixed slice keeps every pass the same mix.
_SLICE = {
    "b01_scan_count",
    "b05_join_multiway",
    "b11_agg_hash",
    "b14_rollup",
    "b18_window_rank",
    "c04_time_bucket",
    "t01_token_stats",
    "h01_pricing_summary",
    "h08_market_share",
    "x07_hll_rollup",
    "t30_bloom_incremental",
}
QUERIES = [q for q in HEADLINE + HEAVY if q in _SLICE]


class Olap:
    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.specs = all_queries()
        self.ref: dict[str, str] = {}  # query → expected result digest
        self.attempted = 0
        self.failed = 0
        self.cold_s = 0.0

    def stage(self, out_dir: str) -> None:
        datagen.write_olap_tables(self.seed, SF, out_dir)

    def prepare(self, sf_dir: str) -> None:
        """DuckDB reference digests for every oracle-backed query."""
        self.sf_dir = sf_dir
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for q in QUERIES:
                oracle = self.specs[q].oracle
                if oracle is not None:
                    cur = con.execute(oracle)
                    cols = [d[0] for d in cur.description]
                    self.ref[q] = result_digest(cols, cur.fetchall())
        finally:
            con.close()

    def _submit(self, q: str, tracer) -> tuple[float, list, list]:
        """One fresh-lineage submission: clear the plan cache, build, collect.
        Traced, it also forces the physical plan before the collect. The
        latency ends inside the op, as a cdc cycle's does, so the Spark
        counters read after the op are not part of it."""
        clear_plan_cache()
        t0 = time.perf_counter()
        with tracer.op("olap.submit", query=q):
            tracer.phase("build")
            with tracer.span("queries.build"):
                df = self.specs[q].builder(self.spark, self.sf_dir)
            tracer.phase("exec")
            if tracer.enabled:
                with tracer.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.exec") as s:
                rows = df.collect()
                if s is not None:
                    s["attrs"]["rows"] = len(rows)
            dt = time.perf_counter() - t0
        return dt, df.columns, rows

    def _attempt(self, q: str, tracer) -> tuple[float, tuple | None]:
        """`_submit` as (latency, (columns, rows)). A submission that raises
        counts as attempted and failed and the run goes on: its result is
        None and its latency the time it took to fail."""
        t0 = time.perf_counter()
        try:
            dt, cols, rows = self._submit(q, tracer)
            return dt, (cols, rows)
        except Exception as e:
            self.attempted += 1
            self.failed += 1
            print(f"perfbench: {q} failed: {type(e).__name__}: {e}",
                  file=sys.stderr)
            return time.perf_counter() - t0, None

    def _check(self, q: str, cols, rows) -> None:
        got = result_digest(cols, rows)
        self.attempted += 1
        if q not in self.ref:
            # rows-only query: its first submission is the reference
            self.ref[q] = got
        elif got != self.ref[q]:
            self.failed += 1

    def warmup(self) -> float:
        """The first-submission pass (cold_s), then one untimed warm pass:
        later passes keep getting faster as the JVM compiles, and a window
        that starts on the second pass is steadier."""
        off = Tracer(False)
        for q in QUERIES:
            dt, res = self._attempt(q, off)
            self.cold_s += dt
            if res is not None:
                self._check(q, *res)
        for q in QUERIES:
            _dt, res = self._attempt(q, off)
            if res is not None:
                self._check(q, *res)
        return self.cold_s

    def timed(self, seconds: float, tracer) -> dict:
        """Submissions in QUERIES order, round robin, until `seconds` of
        submission time and at least one full pass. Stopping between
        passes instead would make a run hold one, two or three passes as
        the host's speed drifts, and later passes are faster."""
        lat: dict[str, list[float]] = {q: [] for q in QUERIES}
        results = []
        total, i = 0.0, 0
        while total < seconds or i < len(QUERIES):
            q = QUERIES[i % len(QUERIES)]
            i += 1
            dt, res = self._attempt(q, tracer)
            total += dt
            if res is not None:
                lat[q].append(dt)
                results.append((q, *res))
        for q, cols, rows in results:  # outside the timed region
            self._check(q, cols, rows)
        return {"latencies": lat}

    def final_check(self) -> None:
        """Every submission was checked right after its window."""

    def end_to_end(self, rec: dict) -> tuple[dict, dict]:
        """Each query weighs the same whatever its sample count: the
        latency is the median over the slice of each query's median, and
        the throughput is the slice's size over the sum of its queries'
        mean latencies (submissions per second at the slice's mix). A query
        none of whose submissions succeeded is left out; if none succeeded
        at all, both read 0 and the run is not correct."""
        lat = {q: v for q, v in rec["latencies"].items() if v}
        if lat:
            p50 = statistics.median([statistics.median(v) for v in lat.values()])
            per_s = len(lat) / sum(sum(v) / len(v) for v in lat.values())
        else:
            p50 = per_s = 0.0
        t = tail([x for v in lat.values() for x in v])
        e2e = {"latency_p50_s": p50, "throughput_per_s": per_s}
        detail = {
            "cold_s": self.cold_s,
            "query_p50_s": p50,
            "query_tail_pct": t["pct"],
            "query_tail_s": t["value"],
            "query_samples": t["n"],
            "queries_per_s": per_s,
            "query_p50_s_by_query": {
                q: statistics.median(v) for q, v in lat.items()
            },
        }
        return e2e, detail

    def layer_counters(self, tracer) -> dict:
        """No codec/Delta/outbox layer runs on this workload."""
        return {}
