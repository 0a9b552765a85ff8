"""WEAK_AB.json generator (VERDICT r13 #8): the four carried-weak
queries (t23 unigram PPL, t27 SemDeDup, x11 resample-ffill, x12 daily
OHLC) re-A/B'd AT SCALE — K-scaled copies of the sf0.1 input tables,
Spark vs the SAME registry oracle SQL in DuckDB on the SAME parquet.

The r13 verdict's open question: each of the four has an sf0.1 A/B
justifying its plan, but none was re-measured where the ~0.3-0.9s local
job floor amortizes. This tool answers it with a ratio TREND: if the
sf0.1 ratio (5-7x) collapses toward or below 1 as K grows, the "weak"
label was the floor, not the plan.

Scaling regime (per table, id-shifted replicas so keys stay distinct):
- events (x11/x12): user_id/event_id shifted per replica — K x more
  series of the same length, the shape a fleet of users actually has.
- documents (t23): doc_id shifted — K x more docs, constant per-doc work.
- embeddings (t27): vec_id shifted — exact replicas; the within-cluster
  pairwise stage (the cost driver) scales quadratically per cluster for
  BOTH engines symmetrically, which is exactly the comparison. A
  Spark-only row with n_clusters scaled 8K (the SemDeDup-paper
  deployment shape; the registry oracle pins 8, so DuckDB can't follow)
  records the scale-correct configuration's absolute curve.

Run ALONE (timings): python tools/weak_ab.py [K1,K2,...] > WEAK_AB.json
DuckDB runs are skipped for a K when the previous K took > DUCK_CUTOFF
seconds (default 120) — the Spark absolute curve still lands.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import functions as F

from deimos_spark.queries import all_queries, clear_plan_cache
from deimos_spark.session import get_spark
from tools.head2head import _cpu_probe, _settle

SCRATCH = "/tmp/ds_weakab"
SRC = "/root/testdata/sf0.1"
QUERIES = {
    "t23_unigram_ppl": ("documents",),
    "t27_semdedup": ("embeddings",),
    "x11_resample_ffill": ("events",),
    "x12_ohlc_daily": ("events",),
}
SHIFT_COLS = {
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
DUCK_CUTOFF = float(os.environ.get("WEAK_AB_DUCK_CUTOFF", "120"))


def scale_table(spark, table: str, k: int, dst_dir: str) -> str:
    dst = os.path.join(dst_dir, f"{table}.parquet")
    if os.path.exists(dst):
        return dst
    df = spark.read.parquet(os.path.join(SRC, f"{table}.parquet"))
    if k == 1:
        df.write.mode("overwrite").parquet(dst)
        return dst
    spans = {
        c: int(df.agg(F.max(c)).head()[0]) + 1 for c in SHIFT_COLS[table]
    }
    reps = spark.range(k).select(F.col("id").alias("_rep"))
    out = df.crossJoin(F.broadcast(reps))
    for c, span in spans.items():
        out = out.withColumn(c, F.col(c) + F.col("_rep") * F.lit(span))
    out.drop("_rep").write.mode("overwrite").parquet(dst)
    return dst


def time_spark(spec, spark, sf_dir: str) -> tuple[float, float, float, int]:
    """(cold_sec, median-of-3 warm collect sec, median-of-3 warm
    Arrow-fetch sec, rows). The collect series is the bench-comparable
    number; the Arrow series times the SAME fresh-lineage computation
    fetched through the engine's documented bulk path
    (Engine.fetch_arrow → DataFrame.toArrow) — the difference is pure
    py4j row-serialization cost (r16, VERDICT r15 item 3)."""
    from deimos_spark.engine import Engine

    t0 = time.perf_counter()
    rows = len(spec.builder(spark, sf_dir).collect())
    cold = time.perf_counter() - t0
    runs = []
    for _ in range(3):
        clear_plan_cache()
        t0 = time.perf_counter()
        spec.builder(spark, sf_dir).collect()
        runs.append(time.perf_counter() - t0)
    aruns = []
    for _ in range(3):
        clear_plan_cache()
        t0 = time.perf_counter()
        Engine.fetch_arrow(spec.builder(spark, sf_dir))
        aruns.append(time.perf_counter() - t0)
    return (
        round(cold, 3),
        round(sorted(runs)[1], 3),
        round(sorted(aruns)[1], 3),
        rows,
    )


def time_duck(sql: str, sf_dir: str, tables) -> tuple[float, int]:
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 32}")
    for t in tables:
        p = os.path.join(sf_dir, t + ".parquet")
        # spark writes a parquet DIRECTORY; duckdb needs the part glob
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    runs, rows = [], 0
    for _ in range(3):
        t0 = time.perf_counter()
        rows = len(con.execute(sql).fetchall())
        runs.append(time.perf_counter() - t0)
    con.close()
    return round(sorted(runs)[1], 3), rows


def main() -> None:
    ks = (
        [int(x) for x in sys.argv[1].split(",")]
        if len(sys.argv) > 1
        else [1, 10, 30]
    )
    ncpus = os.cpu_count() or 32
    waited = _settle(ncpus / 4, 600)
    load0 = os.getloadavg()
    probe = _cpu_probe()

    spark = get_spark("deimos_weak_ab")
    spark.range(1).collect()
    specs = all_queries()

    out: dict = {q: {} for q in QUERIES}
    duck_skip: dict = {q: False for q in QUERIES}
    for k in ks:
        kdir = os.path.join(SCRATCH, f"K{k}")
        os.makedirs(kdir, exist_ok=True)
        needed = sorted({t for ts in QUERIES.values() for t in ts})
        for t in needed:
            scale_table(spark, t, k, kdir)
        for q, tables in QUERIES.items():
            spec = specs[q]
            cold, warm, warm_arrow, n_s = time_spark(spec, spark, kdir)
            row = {
                "k": k,
                "rows_in": k * {"events": 100_000, "documents": 5_000,
                                "embeddings": 2_000}[tables[0]],
                "spark_cold_sec": cold,
                "spark_sec": warm,
                "spark_arrow_sec": warm_arrow,
                "rows_out_spark": n_s,
            }
            if spec.oracle and not duck_skip[q]:
                d_sec, n_d = time_duck(spec.oracle, kdir, tables)
                row["duck_sec"] = d_sec
                row["rows_out_duck"] = n_d
                row["ratio"] = round(warm / d_sec, 3) if d_sec else None
                row["ratio_arrow"] = (
                    round(warm_arrow / d_sec, 3) if d_sec else None
                )
                if d_sec > DUCK_CUTOFF:
                    duck_skip[q] = True  # don't burn minutes at next K
            print(f"{q} K={k}: {row}", file=sys.stderr)
            out[q][str(k)] = row

        # Spark-only: t27 at the SemDeDup-paper deployment shape
        # (clusters scale with n; the oracle SQL pins 8 so DuckDB
        # cannot follow) — the absolute curve a deployment sees.
        from deimos_spark.operators.semdedup import semdedup_summary

        emb = spark.read.parquet(os.path.join(kdir, "embeddings.parquet"))
        runs = []
        for _ in range(2):
            clear_plan_cache()
            t0 = time.perf_counter()
            semdedup_summary(emb, n_clusters=8 * k, threshold=0.4).collect()
            runs.append(time.perf_counter() - t0)
        out.setdefault("t27_semdedup_scaled_clusters", {})[str(k)] = {
            "k": k,
            "n_clusters": 8 * k,
            "spark_sec": round(min(runs), 3),
        }

    result = {
        "generator": "tools/weak_ab.py (VERDICT r13 #8)",
        "ks": ks,
        "queries": out,
        "regime": "resubmit-both, median-of-3 warm, id-shifted sf0.1 "
                  "replicas",
        "duck_cutoff_sec": DUCK_CUTOFF,
        "load_settle_wait_sec": round(waited, 1),
        "cpu_probe_sec": probe,
        "loadavg_before": [round(x, 2) for x in load0],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
    }
    print(json.dumps(result, indent=1))
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
