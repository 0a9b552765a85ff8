"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "total_wall_sec", "value": N, "unit": "sec",
   "queries": {"b11_agg_hash": sec, ...},
   "cold_queries": {...}, "cold_total_sec": N, "sf": 0.1}

Each query is timed as a full collect() (plan + execute + fetch). The
session is created and warmed outside the timed region — we measure query
execution, not JVM startup.

Two timings per query, both reported:
- cold: the FIRST build+collect — includes Python expression-tree
  construction, Catalyst analysis/optimization, and codegen compilation.
  Wide plans (minhash banding, 64-col simhash) pay seconds here.
- steady-state: median of 3 subsequent runs, each on a FRESHLY BUILT
  DataFrame (plan cache cleared between runs) — warm JVM/JIT, warm
  Janino codegen cache, warm parquet footers, but a full recompute.

Benchmark-integrity note (round 5): earlier rounds timed re-collects of
the SAME cached DataFrame. Spark reuses shuffle map outputs when an
identical RDD lineage re-executes, so multi-stage queries were timed at
3-13x below their true steady-state cost (only the final stage ran) —
while the DuckDB baseline re-executes fully every run. Rebuilding the
DataFrame per timed run removes that asymmetry: the number now answers
"what does re-submitting this query cost", which is the comparison the
baseline bar is about. BENCH_r5 totals are therefore HIGHER than
BENCH_r4's on an identical engine — the regime changed, not the engine.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from deimos_spark.queries import all_queries, clear_plan_cache
from deimos_spark.session import get_spark

# Headline set: every operator family, weighted toward the scans/joins/aggs
# that dominate at 100 TB.
HEADLINE = [
    "b01_scan_count",
    "b03_filter",
    "b05_join_multiway",
    "b07_join_semi",
    "b10_join_theta",
    "b11_agg_hash",
    "b12_distinct_count",
    "b14_rollup",
    "b15_having",
    "b16_sort_topk",
    "b18_window_rank",
    "b19_window_running",
    "b20_keep_last_per_key",
    "b21_union_distinct",
    "b23_scalar_subquery",
    "b26_date_funcs",
    "b27_math_funcs",
    "b28_json_funcs",
    "c04_time_bucket",
    "b31_dedup_exact",
    "t01_token_stats",
    "t02_lang_id",
    "b33_simsearch_topk",
    "t06_minhash_pairs",
    # round 3: training-data pipeline ops
    "t12_top_bigrams",
    "t13_repetition_stats",
    "t14_benchmark_contamination",
    # round 4: training-data pipeline ops
    "t15_duplicate_ngrams",
    "t16_pii_scrub",
    "t17_pack_plan",
    "t18_mixture_sample",
    "t19_gopher_quality",
    # round 6: new data-selection / contamination ops
    "t23_unigram_ppl",
    "t24_source_overlap",
    # round 9: token-window chunking
    "t25_chunk_plan",
    "t26_substr_dedup",
    # TPC-H-derived suite: the multi-join/agg shapes that dominate at scale
    "h01_pricing_summary",
    "h03_shipping_priority",
    "h05_local_supplier_volume",
    "h08_market_share",
    "h13_customer_distribution",
    "h17_small_quantity_revenue",
    "h18_large_volume_customers",
    "h21_waiting_supplier",
    # round 3: full TPC-H coverage via derived partsupp
    "h02_min_cost_supplier",
    "h11_important_stock",
    # round 6: the deferred-then-added x-ops carry perf evidence too
    # (VERDICT r5 #7) — as-of/interval joins, pivot, percentile,
    # hierarchy rollup, funnel, HLL rollup, splits/sampling, decimal,
    # time-series resample + OHLC
    "x01_asof_join",
    "x02_interval_join",
    "x03_pivot",
    "x04_percentile",
    "x05_rollup_hierarchy",
    "x06_funnel",
    "x07_hll_rollup",
    "x08_hash_split",
    "x09_stratified_sample",
    "x10_decimal_revenue",
    "x11_resample_ffill",
    "x12_ohlc_daily",
    "x13_sessionize",
    # round 9: trained-BPE tokenizer (train + tokenize-once-per-word)
    "t10b_bpe_real",
    # round 11: SemDeDup joined the headline — the r10 exclusion's
    # fixed cost (crossJoin + window assignment chain) was cut by
    # fusing assignment into one mapInPandas kernel: warm ~0.07s.
    "t27_semdedup",
    # round 12: fastText-style classifier inference (zero-shuffle
    # single-projection plan — the model-filter staple)
    "t29_classifier_quality",
    # round 12 (session 2): bloom-prefiltered increment-vs-corpus dedup
    "t30_bloom_incremental",
    # round 12 (session 2): embedding-space decontamination
    "t31_semantic_decontamination",
    # round 12 (session 3): SCD2 gaps-and-islands state history
    "x14_scd2_history",
]

# Heavy tier (VERDICT r13 #5): the two most expensive operators in the
# registry — iterative connected components (t20) and the metric-ball
# blocked exact-pair dedup apply (t28). Tracked in their own totals line
# so a regression in either is visible round-over-round WITHOUT folding
# their multi-second cost into the headline total that HEAD2HEAD and
# BASELINE.md compare (the bar predates them; mixing tiers would move
# the series for non-engine reasons). Same timing protocol as HEADLINE.
HEAVY = [
    "t20_dup_clusters",
    "t28_dedup_apply",
]


def main() -> None:
    # imported here: tools.head2head imports this module's query lists
    from tools.head2head import _cpu_probe, _settle

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # machine-contention fingerprint: a benchmark taken at load>ncpus/4
    # is not comparable run-to-run (r6 lesson — both engines inflated
    # 30-50% in one window; r12's driver bench started at loadavg 4.2 and
    # its two "cold regressions" were noise). In-file guard (VERDICT r12
    # #8): wait up to SETTLE_MAX_SEC for the 1-min load to drop under the
    # threshold before timing anything, then ANNOTATE the regime either
    # way — refusing outright would break the driver contract (it
    # consumes the JSON line unconditionally), so a run that stays loaded
    # is marked "loaded" and its cold deltas are explicitly
    # non-attributable.
    ncpus = os.cpu_count() or 32
    load_limit = ncpus / 4
    settle_max_sec = float(os.environ.get("BENCH_SETTLE_MAX_SEC", "120"))
    waited = _settle(load_limit, settle_max_sec)
    load_before = os.getloadavg()
    # absolute-speed fingerprint (r13 lesson): loadavg can be idle while
    # the HOST is throttled 2-3× (VM/noisy neighbor) — this probe makes
    # cross-round totals comparable
    cpu_probe = _cpu_probe()
    if load_before[0] > load_limit:
        print(
            f"WARNING: loadavg {load_before[0]:.2f} > {load_limit:.1f} "
            f"after waiting {waited:.0f}s — timings not attributable",
            file=sys.stderr,
        )

    spark = get_spark("deimos_spark_bench")
    spark.range(1).collect()  # warm the JVM / executor threads

    # Scaling-contract legibility (r16, VERDICT r15 item 2): at sf0.1
    # every headline query is job-floor-bound, so the driver's 8-vs-32
    # core comparison sees ratios ≈ 1 and cannot distinguish "honored
    # but floor-bound" from "$SPARK_GRAFT_CPUS ignored". Three additive
    # fields make it falsifiable:
    #   - "cpus": the env value the session was built with (master
    #     local[cpus], session.get_spark);
    #   - "default_parallelism": what the live SparkContext actually
    #     reports;
    #   - queries["calib_cpu_scaling"]: a fixed-work CPU-bound
    #     calibration job (256M-element xxhash64 chain over
    #     defaultParallelism partitions, fully parallel, input-free) —
    #     its time moves with the core count (measured ~2x between
    #     local[8] and local[32] on this 16-physical-core host) while
    #     floor-bound queries stay ≈ 1x.
    # The calibration entry is NOT an engine query and is excluded from
    # `value` (declared in "calibration_queries") so the headline total
    # stays comparable across rounds; all pre-existing entries are
    # unchanged.
    try:
        cpus_env: int | None = int(os.environ.get("SPARK_GRAFT_CPUS", ""))
    except ValueError:
        cpus_env = None
    parallelism = spark.sparkContext.defaultParallelism
    _calib_expr = (
        "sum(xxhash64(xxhash64(xxhash64(xxhash64(id) + id) + id) + id)) AS s"
    )

    def _calib_run() -> float:
        t0 = time.perf_counter()
        spark.range(0, 256_000_000, 1, parallelism).selectExpr(
            _calib_expr
        ).collect()
        return time.perf_counter() - t0

    specs = all_queries()
    # warm-up pass doubles as the cold timing: first build+collect per query
    # (JIT + codegen compilation + parquet footer cache + plan build)
    cold: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        specs[name].builder(spark, sf_dir).collect()
        cold[name] = round(time.perf_counter() - t0, 3)

    # calibration runs AFTER the cold pass, so its four ~256M-row jobs do
    # not warm the JVM before the cold timings
    _calib_run()  # codegen warm-up, not timed
    calib_sec = round(sorted(_calib_run() for _ in range(3))[1], 3)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        spec = specs[name]
        runs = []
        for _ in range(3):
            # fresh lineage per run: no shuffle-output reuse (see module
            # docstring) — this is a true re-submission, like the oracle
            clear_plan_cache()
            t0 = time.perf_counter()
            spec.builder(spark, sf_dir).collect()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(sorted(runs)[1], 3)  # median of 3: steady state

    heavy_cold: dict[str, float] = {}
    heavy: dict[str, float] = {}
    for name in HEAVY:
        spec = specs[name]
        t0 = time.perf_counter()
        spec.builder(spark, sf_dir).collect()
        heavy_cold[name] = round(time.perf_counter() - t0, 3)
        runs = []
        for _ in range(3):
            clear_plan_cache()
            t0 = time.perf_counter()
            spec.builder(spark, sf_dir).collect()
            runs.append(time.perf_counter() - t0)
        heavy[name] = round(sorted(runs)[1], 3)

    total = round(sum(timings.values()), 3)
    # Key ORDER is deliberate (r15 measurement-artifact fix, VERDICT r14
    # process defect #1): the driver archives only the TAIL of stdout, so
    # BENCH_r13/r14 as committed lost the warm per-query dict and warm
    # total — the very series the 2x baseline bar tracks — because they
    # were printed FIRST. Same fields, same numbers, same methodology;
    # the warm dict and `value` now come LAST so truncation drops cold
    # detail instead of the headline. The full JSON is also written to
    # BENCH_LOCAL.json beside this file so the artifact survives intact
    # regardless of how stdout is captured.
    payload = {
        "metric": "total_wall_sec",
        "unit": "sec",
        "sf": sf,
        # fresh-lineage re-submission per timed run (no shuffle
        # reuse) — see the module docstring; r1-r4 used cached
        # DataFrames, so totals are not comparable across that
        # boundary
        "regime": "resubmit",
        # "idle" = 1-min load was under ncpus/4 when timing began
        # (after the settle wait); "loaded" = it never dropped —
        # treat cold deltas from such a run as noise
        "load_regime": (
            "idle" if load_before[0] <= load_limit else "loaded"
        ),
        "load_settle_wait_sec": round(waited, 1),
        "cpu_probe_sec": cpu_probe,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        # scaling legibility (see the calibration block above): the env
        # core count the session was built with, the live parallelism,
        # and the name of the one queries entry that is a calibration
        # probe rather than an engine query (excluded from `value`)
        "cpus": cpus_env,
        "default_parallelism": parallelism,
        "calibration_queries": ["calib_cpu_scaling"],
        "cold_queries": cold,
        "cold_total_sec": round(sum(cold.values()), 3),
        # heavy tier: tracked, not folded into `value` (see HEAVY)
        "heavy_cold_queries": heavy_cold,
        "heavy_queries": heavy,
        "heavy_total_sec": round(sum(heavy.values()), 3),
        # timings + the calibration entry; `value` (and every
        # round-over-round comparison) remains the sum over HEADLINE
        # only — calib_cpu_scaling is a core-count probe, not a query
        "queries": {**timings, "calib_cpu_scaling": calib_sec},
        "value": total,
    }
    line = json.dumps(payload)
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_LOCAL.json"),
            "w",
        ) as f:
            f.write(line + "\n")
    except OSError:
        pass  # read-only checkout: stdout line is still the contract
    print(line)


if __name__ == "__main__":
    main()
