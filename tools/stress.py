"""Scale-validation harness: replicate the sf0.1 tables K× (key-shifted,
so cardinalities grow instead of duplicating) into a scratch dir, then run
the headline queries at EACH K and report the scaling curve.

Usage: python tools/stress.py [K1,K2,...] [scratch_dir]
       python tools/stress.py 1,4,10   # default

The point is not absolute speed — local[32] is one machine — but SHAPE:
per-query time should grow ~linearly with K for scans/aggs and stay
near-constant for top-k; anything super-linear is a plan that won't
survive a real 100× scale-up. The emitted JSON (commit as STRESS.json)
includes a per-query `scaling` exponent fit from the curve and a
`superlinear` flag list: exponent > 1.25 with enough absolute time to
be signal (>0.3s at max K)."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from deimos_spark.catalog import TABLES
from deimos_spark.queries import all_queries
from deimos_spark.session import get_spark

# key columns to shift per replica so joins keep matching within a replica
# but cardinality actually grows K×
KEYS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    # dims stay fixed (they'd be broadcast at any scale)
    "supplier": [],
    "part": [],
    "nation": [],
    "region": [],
}
SHIFT = 10_000_000

QUERIES = [
    "b01_scan_count", "b03_filter", "b11_agg_hash", "b16_sort_topk",
    "b19_window_running", "b20_keep_last_per_key",
    "h01_pricing_summary", "h05_local_supplier_volume", "h13_customer_distribution",
    "h18_large_volume_customers", "h21_waiting_supplier",
    "b31_dedup_exact", "t01_token_stats", "b33_simsearch_topk",
    "t05_jaccard_vs_query", "t06_minhash_pairs", "t11_levenshtein_pairs",
    "t12_top_bigrams", "t13_repetition_stats", "t14_benchmark_contamination",
    "h02_min_cost_supplier", "h11_important_stock",
    "x06_funnel", "t21_dsir_weights", "x10_decimal_revenue",
    # t27_semdedup is deliberately NOT here: its per-cluster pair pass
    # is Theta(N^2/K) BY DESIGN and the operator's contract requires
    # K ~ sqrt(N) (semdedup.py docstring + max_cluster_rows guard);
    # stressing it at the registry's fixed K=8 would measure documented
    # misuse, not a plan defect.
    "t23_unigram_ppl", "t24_source_overlap", "x13_sessionize",
    "x14_scd2_history",
    "t10b_bpe_real", "t25_chunk_plan", "t26_substr_dedup",
    # r12: classifier inference — zero-shuffle, should track the scan
    "t29_classifier_quality",
    # r12 session 2: bloom incremental dedup — corpus scan is linear,
    # bitmap build map-side; should track the scan like t29
    "t30_bloom_incremental",
    # r12 session 2: scan × broadcast-bench cosine + partial MAX —
    # should track the scan
    "t31_semantic_decontamination",
    # t28_dedup_apply is deliberately NOT here (measured, removed):
    # its PAIR relation is the EXACT t09 construction (so the oracle's
    # recursive CTE can reproduce it bit-for-bit), which is Theta(N^2)
    # BY DESIGN — at K=10 the warm-up alone ran >40 min inside a
    # BroadcastNestedLoopJoin cosine predicate over 100x the K=1
    # pairs. The scalable half of t28 (connected components + the
    # corpus keep-join) is stress-covered by _graph_bench and the
    # zipf hub bench (_zipf_graph_bench); the scalable PAIR source at
    # 100 TB is t06/t08's banded LSH, whose curves are here already.
]

# super-linear flagging thresholds (see module docstring)
EXP_LIMIT = 1.25
MIN_SIGNAL_SEC = 0.3

# ---------------------------------------------------------------- zipf
# Adversarial-skew stress (VERDICT r11 #1): every other curve in this
# harness inherits TPC-H's uniform keys; 100-TB reality is zipf. The
# zipf section rebuilds the SHUFFLE KEYS of the skew-sensitive ops as
# a zipf(s=1.2) draw — pmf P(rank) ~ rank^-1.2 via the inverse-CDF
# tail construction rank = floor(u^(-1/alpha)), alpha = s-1 = 0.2,
# which gives P(rank=1) = 1 - 2^-alpha ≈ 12.9%: the hottest key owns
# ~13% of ALL rows (above the 5-10% the verdict asked for — strictly
# more adversarial). Keys derive from md5 of the original key, so the
# draw is deterministic and K-stable.
ZIPF_ALPHA = 0.2
ZIPF_HOT_SHARE = 1 - 2 ** (-ZIPF_ALPHA)  # ≈ 0.129

# zipf-sensitive registry queries (all read the zipf-rebuilt dir):
# b20 = hash aggregate on the hot key (map-side combine must absorb
# it), x13 = window sort where the hot user is ONE unsplittable task,
# t26 = hot segment hash in the duplicate-flag aggregate + probe join
ZIPF_QUERIES = [
    "b20_keep_last_per_key", "x13_sessionize", "t26_substr_dedup",
    # r12 session 2: t30 under zipf content — ~13% of docs share ONE
    # text, so its md5 is a hot __ck through the bloom probe, the
    # confirm semi-join, and the final anti-join (all broadcast-side;
    # the curve proves none degenerates)
    "t30_bloom_incremental",
    # r12 session 3: x14 under zipf users — the hot user's whole event
    # stream is ONE unsplittable window-sort task (the x13 hazard) AND
    # its run relation stays event-sized through the groupBy
    "x14_scd2_history",
]


def _zipf_rank(col, n_keys: int, salt: str):
    """Deterministic zipf(s=1.2) rank in [1, n_keys] from any column."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / float(1 << 32)
    return F.least(
        F.floor(F.pow(u, F.lit(-1.0 / ZIPF_ALPHA))).cast("long"),
        F.lit(int(n_keys)),
    )


def _build_zipf(spark, kdir: str, zdir: str, k: int) -> dict:
    """Rebuild the skew-sensitive tables of an already-K-scaled dir with
    zipf keys; other tables are symlinked. Returns measured hot-key
    shares (sanity: ~0.13 regardless of K)."""
    if os.path.exists(zdir):
        shutil.rmtree(zdir)
    os.makedirs(zdir)
    shares = {}
    # events: user_id <- zipf rank (b20 group key, x13 window key)
    ev = spark.read.parquet(f"{kdir}/events.parquet")
    n_users = max(10_000 * k, 1)
    zev = ev.withColumn(
        "user_id", _zipf_rank(F.col("event_id"), n_users, "zu")
    )
    zev.write.mode("overwrite").parquet(f"{zdir}/events.parquet")
    zev = spark.read.parquet(f"{zdir}/events.parquet")
    total = zev.count()
    hot = zev.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    shares["events_user_id"] = round(hot / total, 4)
    # documents: the zipf-hot fraction of docs all share ONE text, so
    # its 8-token segments are the hot hash keys of t26's aggregate
    # and probe join (hot share applies to DOCS; every segment of a
    # hot doc collides)
    docs = spark.read.parquet(f"{kdir}/documents.parquet")
    hot_text = " ".join(f"hotseg{i // 8}tok{i % 8}" for i in range(64))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("zd"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / float(1 << 32)
    zdocs = docs.withColumn(
        "text",
        F.when(u < F.lit(ZIPF_HOT_SHARE), F.lit(hot_text)).otherwise(
            F.col("text")
        ),
    )
    zdocs.write.mode("overwrite").parquet(f"{zdir}/documents.parquet")
    zdocs = spark.read.parquet(f"{zdir}/documents.parquet")
    shares["documents_hot_text"] = round(
        zdocs.filter(F.col("text") == hot_text).count() / zdocs.count(), 4
    )
    for t in TABLES:
        src_p = f"{kdir}/{t}.parquet"
        dst_p = f"{zdir}/{t}.parquet"
        if not os.path.exists(dst_p) and os.path.exists(src_p):
            os.symlink(src_p, dst_p)
    return shares


def _zipf_graph_bench(spark, k: int) -> dict:
    """Connected components over a zipf-keyed edge list (t20/t28's
    machinery): edge endpoints drawn zipf, so the hottest node is an
    ~13%-degree hub — the label-propagation join's build/probe keys
    are maximally skewed and the giant component converges through the
    hot key every round. Output stays linear (labels), so the curve
    isolates SHUFFLE skew, not output growth."""
    from deimos_spark.operators.graph import (
        connected_components,
        keep_representatives,
    )

    n_edges = 50_000 * k
    node_space = 200_000 * k
    edges = spark.range(n_edges).select(
        (F.col("id") + 2 + node_space).alias("id_a"),
        _zipf_rank(F.col("id"), node_space, "zg").alias("id_b"),
    )
    t0 = time.perf_counter()
    n_labels = connected_components(edges).count()
    cc_sec = time.perf_counter() - t0
    corpus = spark.range(n_edges + node_space).select(
        F.col("id").alias("doc_id")
    )
    t0 = time.perf_counter()
    # t28's full shape: CC + the corpus keep-join (CC recomputed inside)
    n_kept = keep_representatives(corpus, edges, id_col="doc_id").count()
    keep_sec = time.perf_counter() - t0
    return {
        "edges": n_edges,
        "labels": n_labels,
        "cc_sec": round(cc_sec, 2),
        "kept": n_kept,
        "keep_sec": round(keep_sec, 2),
        "sec": round(cc_sec + keep_sec, 2),
    }


def _t28_blocked_bench(spark, scratch: str, k: int) -> dict:
    """t28's pair relation at scale WITHOUT the 20k cap (VERDICT r12
    #2): metric-ball-blocked EXACT cosine pairs + the CC/keep join,
    over a TOPICAL corpus — 64·k tight cones (the real embedding-
    corpus shape: documents cluster by topic/near-dup group), 40
    members each — so the qualifying pair count grows LINEARLY with k
    while the naive pair space grows k². A subquadratic fitted
    exponent on `sec` is the evidence that the blocking, not a row
    cap, bounds the work. Isotropic data is the documented no-prune
    worst case (curse of dimensionality — see
    pairwise_cosine_exact_blocked's docstring) and has no scaling
    story to measure: no exact algorithm prunes it."""
    import numpy as np
    import pandas as pd

    from deimos_spark.operators.graph import keep_representatives
    from deimos_spark.operators.simsearch import (
        pairwise_cosine_exact_blocked,
    )

    topics, members, dim = 64 * k, 40, 64
    rng = np.random.RandomState(1234 + k)
    dirs = rng.standard_normal((topics, dim))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    x = (
        np.repeat(dirs, members, axis=0)
        + rng.standard_normal((topics * members, dim)) * 0.02
    )
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(len(x), dtype=np.int64),
            "embedding": [r.tolist() for r in x],
        }
    )
    path = f"{scratch}/emb_{k}"
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    emb = spark.read.parquet(path)

    t0 = time.perf_counter()
    # max_train caps the DRIVER training sample (exactness never depends
    # on centroid quality — radii come from the full table), keeping the
    # k-means term linear in K instead of n·K
    stages: dict = {}
    pairs = pairwise_cosine_exact_blocked(
        emb, 0.8, n_cells=2 * topics, max_iter=10, max_train=20_000,
        stage_timings=stages,
    )
    n_pairs = pairs.count()
    pair_sec = time.perf_counter() - t0
    # confirm join = what's left after the driver-side sync points
    stages["confirm_join_sec"] = round(
        pair_sec - sum(stages.values()), 2
    )
    t0 = time.perf_counter()
    n_kept = keep_representatives(
        emb.select("vec_id"), pairs, id_col="vec_id"
    ).count()
    keep_sec = time.perf_counter() - t0
    shutil.rmtree(path, ignore_errors=True)
    return {
        "rows": topics * members,
        "pairs": n_pairs,
        "pair_sec": round(pair_sec, 2),
        "pair_stages": stages,
        "kept": n_kept,
        "keep_sec": round(keep_sec, 2),
        "sec": round(pair_sec + keep_sec, 2),
    }


def _dedup_ingest_bench(spark, scratch: str, k: int) -> dict:
    """Streaming ingest under zipf content, K-scaled corpus (VERDICT
    r12 #5): found a 50k·K-doc always-deduplicated Delta corpus, then
    process three fixed-size micro-batches whose content mixes the
    adversarial shapes — ~13% of rows share ONE hot text (the zipf hot
    duplicate: in-batch dedup's hot window partition AND a hot bloom
    probe), ~44% duplicate existing corpus docs (must be dropped by the
    bloom+confirm path), the rest novel (must survive). The claim under
    test is t30's, under streaming conditions: PER-BATCH wall time stays
    ~flat as the corpus grows — the corpus cost is one column-pruned
    scan for bitmap partials, never a shuffle. The founding append is
    reported separately (it is the linear-by-construction part)."""
    from deimos_spark.streaming.dedup_ingest import DedupIngest

    path = f"{scratch}/ingest_corpus_{k}"
    shutil.rmtree(path, ignore_errors=True)
    n_corpus = 50_000 * k
    batch_rows = 5_000
    ingest = DedupIngest(spark, path)
    founding = spark.range(n_corpus).select(
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("text"),
    )
    t0 = time.perf_counter()
    ingest.process_batch(founding, txn=("bench", 0))
    founding_sec = time.perf_counter() - t0

    batch_secs = []
    for b in range(1, 4):
        batch = spark.range(batch_rows).select(
            (F.col("id") + n_corpus + b * 100_000).alias("doc_id"),
            F.when(F.col("id") % 8 < 1, F.lit("HOT-DUPLICATE-TEXT"))
            .when(
                F.col("id") % 2 == 0,
                F.md5(((F.col("id") * 37 + b) % n_corpus).cast("string")),
            )
            .otherwise(
                F.md5((F.col("id") + 10_000_000 * b).cast("string"))
            )
            .alias("text"),
        )
        t0 = time.perf_counter()
        ingest.process_batch(batch, txn=("bench", b))
        batch_secs.append(round(time.perf_counter() - t0, 3))
    total = ingest.corpus().count()
    shutil.rmtree(path, ignore_errors=True)
    return {
        "corpus_rows": n_corpus,
        "founding_sec": round(founding_sec, 2),
        "batch_secs": batch_secs,
        "per_batch_sec": sorted(batch_secs)[1],  # median of 3
        "final_rows": total,
    }


def _build_scaled(spark, src: str, scratch: str, k: int) -> int:
    if os.path.exists(scratch):
        shutil.rmtree(scratch)
    os.makedirs(scratch)
    for t in TABLES:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        keys = KEYS.get(t, [])
        if keys and k > 1:
            reps = spark.range(k).withColumnRenamed("id", "_r")
            big = df.crossJoin(reps)
            for c in keys:
                big = big.withColumn(c, F.col(c) + F.col("_r") * F.lit(SHIFT))
            big = big.drop("_r")
        else:
            big = df
        big.write.mode("overwrite").parquet(f"{scratch}/{t}.parquet")
    return spark.read.parquet(f"{scratch}/lineitem.parquet").count()


def _time_queries(spark, scratch: str, queries=None) -> dict[str, float]:
    from deimos_spark.queries import clear_plan_cache

    queries = QUERIES if queries is None else queries
    specs = all_queries()
    for name in queries:  # warm-up (plans + codegen)
        specs[name].builder(spark, scratch).collect()
    timings = {}
    for name in queries:
        best = None
        for _ in range(3):
            # fresh lineage per run: re-collecting a cached DataFrame
            # reuses shuffle map outputs, which would time only the
            # final stage and UNDERSTATE the scaling exponent
            clear_plan_cache()
            t0 = time.perf_counter()
            specs[name].builder(spark, scratch).collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
    return timings


def _between_rounds(spark) -> None:
    """Session hygiene between K rounds: drop cached plans bound to the
    previous K's (now deleted) scratch dir and nudge the JVM to collect —
    without this, accumulated state from earlier rounds shows up as
    multi-hundred-ms GC noise in later rounds' timings."""
    from deimos_spark.queries import clear_plan_cache

    clear_plan_cache()
    spark.catalog.clearCache()
    try:
        spark._jvm.System.gc()
    except Exception:
        pass


def _null_produce(topic, batch) -> None:
    """Sink that accepts either relay-mode batch shape (driver: list of
    Rows; executor: pandas DataFrame) and does nothing — so the bench
    measures the relay machinery + transport, not a fake broker."""


def _relay_bench(spark, scratch: str, n: int = 100_000) -> dict:
    """Executor-relay evidence (SURVEY A27): drain an n-row outbox with
    ~4 KB payloads (400 MB total) in BOTH relay modes. Driver mode
    single-threads every payload byte through driver collect(); executor
    mode produces inside 16 parallel mapInPandas tasks and only the
    delivered ids cross back. On a real cluster the driver path also
    crosses the network to one node; local[32] understates the gap, so
    beating driver mode here is conservative evidence."""
    from pyspark.sql import functions as F

    from deimos_spark.sources.outbox import OutboxRelay, OutboxTable

    payload = "x" * 4096
    path = f"{scratch}/outbox"
    ob = OutboxTable(spark, path)
    ob.append(
        spark.range(n).select(
            F.encode((F.col("id") % 1024).cast("string"), "utf-8").alias("key"),
            F.encode(F.concat_ws("-", F.col("id").cast("string"),
                                 F.lit(payload)), "utf-8").alias("value"),
            F.lit("bench_topic").alias("topic"),
        )
    )
    batch = ob.read().orderBy("id").limit(n)
    out = {}
    # Time ONLY the produce leg — the step the two modes differ on. The
    # surrounding drain loop (reads, delete_ids rewrite) is byte-identical
    # in both modes and would dilute the comparison. Median of 3 so one
    # GC pause can't flip the verdict. Same table both modes (immutable).
    for mode in ("driver", "executor"):
        relay = OutboxRelay(
            ob, _null_produce, batch_size=n, mode=mode,
            executor_parallelism=16,
        )
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            if mode == "executor":
                sent = relay._produce_executor("bench_topic", batch)
            else:
                rows = batch.collect()
                _null_produce("bench_topic", rows)
                sent = len(rows)
            runs.append(time.perf_counter() - t0)
        dt = sorted(runs)[1]
        out[mode] = {
            "rows": sent,
            "sec": round(dt, 2),
            "rows_per_sec": int(sent / dt) if dt else 0,
        }
    shutil.rmtree(path, ignore_errors=True)
    out["executor_ge_driver"] = (
        out["executor"]["rows_per_sec"] >= out["driver"]["rows_per_sec"]
    )
    return out


def _consume_merge_bench(spark, scratch: str, k: int, zipf: bool = False) -> dict:
    """Streaming-path stress (VERDICT r6 #5): BatchConsumer → keyed
    MERGE throughput at a K-scaled batch size, on one batch for each
    sink: DeltaKeyedTable in rewrite and DV mode ("rewrite", "dv") and
    IcebergKeyedTable in its three delete modes ("iceberg_position",
    "iceberg_equality", "iceberg_dv"). The kafka-shaped batch (JSON-encoded via the real produce
    pipeline) is materialized to parquet OUTSIDE the timed region, so the
    timing covers decode → compact → MERGE — the consume path itself.
    n rows span n/2 keys (per-key compaction halves the batch) and the
    table is pre-seeded with half the keys, so the merge exercises
    update + insert together; a 10%-key delete is timed separately (the
    DV fold vs survivor-rewrite distinction)."""
    from deimos_spark.operators.delta_interop import DeltaKeyedTable
    from deimos_spark.operators.iceberg_interop import IcebergKeyedTable
    from deimos_spark.schemas.avro import parse_avsc
    from deimos_spark.streaming.consumer import BatchConsumer, ConsumerConfig
    from deimos_spark.streaming.producer import Producer, TopicConfig

    n = 30_000 * k
    nkeys = max(n // 2, 1)
    schema = parse_avsc(
        {
            "type": "record",
            "name": "StressMsg",
            "fields": [
                {"name": "test_id", "type": "string"},
                {"name": "v", "type": "int"},
                {"name": "payload", "type": "string"},
            ],
        }
    )
    prod = Producer(
        TopicConfig(topic="stress", schema=schema, key_field="test_id")
    )
    # zipf=True: batch keys drawn zipf(s=1.2) — the hottest key owns
    # ~13% of the batch, so per-key compaction funnels 13% of rows
    # through ONE groupBy reducer key and the MERGE's affected-key
    # probe is maximally skewed (VERDICT r11 #1). AQE skew-join
    # handling + the partial-aggregable max_by compaction are what
    # must absorb it.
    key_expr = (
        _zipf_rank(F.col("id"), nkeys, "zm")
        if zipf
        else F.col("id") % nkeys
    )
    rows_df = spark.range(n).select(
        F.concat(F.lit("k"), key_expr.cast("string")).alias("test_id"),
        F.col("id").cast("int").alias("v"),
        F.repeat(F.lit("x"), 200).alias("payload"),
    )
    raw_dir = os.path.join(scratch, f"raw_{'z' if zipf else ''}{k}")
    (
        prod.build_messages(rows_df)
        .withColumn("partition", F.lit(0))
        .withColumn("offset", F.monotonically_increasing_id())
        .select("key", "value", "partition", "offset")
        .write.mode("overwrite")
        .parquet(raw_dir)
    )
    raw = spark.read.parquet(raw_dir)
    seed = spark.range(nkeys // 2).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("test_id"),
        F.lit(-1).alias("v"),
        F.lit("seed").alias("payload"),
    )
    del_keys = spark.range(max(nkeys // 10, 1)).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("test_id")
    )
    sinks = [
        ("rewrite", lambda p: DeltaKeyedTable(spark, p, ["test_id"])),
        ("dv", lambda p: DeltaKeyedTable(spark, p, ["test_id"], use_dvs=True)),
    ] + [
        (
            f"iceberg_{mode}",
            lambda p, mode=mode: IcebergKeyedTable(
                spark, p, ["test_id"], delete_mode=mode
            ),
        )
        for mode in ("position", "equality", "dv")
    ]
    out = {}
    for name, make_table in sinks:
        tdir = os.path.join(scratch, f"tbl_{name}_{k}")
        shutil.rmtree(tdir, ignore_errors=True)
        table = make_table(tdir)
        table.upsert(seed)
        consumer = BatchConsumer(
            ConsumerConfig(schema=schema, key_cols=["test_id"]), table
        )
        t0 = time.perf_counter()
        consumer.consume_batch(raw)
        merge_sec = time.perf_counter() - t0
        t0 = time.perf_counter()
        table.delete(del_keys)
        delete_sec = time.perf_counter() - t0
        out[name] = {
            "rows": n,
            "merge_sec": round(merge_sec, 2),
            "rows_per_sec": int(n / merge_sec) if merge_sec else 0,
            "delete_sec": round(delete_sec, 2),
        }
        shutil.rmtree(tdir, ignore_errors=True)
    shutil.rmtree(raw_dir, ignore_errors=True)
    return out


def _relay_curve_bench(spark, scratch: str, k: int) -> dict:
    """Executor-mode relay throughput at a K-scaled outbox (the per-K
    twin of _relay_bench's fixed 100k two-mode comparison)."""
    from deimos_spark.sources.outbox import OutboxRelay, OutboxTable

    n = 10_000 * k
    payload = "x" * 4096
    path = f"{scratch}/outbox_k{k}"
    ob = OutboxTable(spark, path)
    ob.append(
        spark.range(n).select(
            F.encode((F.col("id") % 1024).cast("string"), "utf-8").alias(
                "key"
            ),
            F.encode(
                F.concat_ws(
                    "-", F.col("id").cast("string"), F.lit(payload)
                ),
                "utf-8",
            ).alias("value"),
            F.lit("bench_topic").alias("topic"),
        )
    )
    batch = ob.read().orderBy("id").limit(n)
    relay = OutboxRelay(
        ob, _null_produce, batch_size=n, mode="executor",
        executor_parallelism=16,
    )
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        sent = relay._produce_executor("bench_topic", batch)
        runs.append(time.perf_counter() - t0)
    dt = sorted(runs)[1]
    shutil.rmtree(path, ignore_errors=True)
    return {
        "rows": sent,
        "sec": round(dt, 2),
        "rows_per_sec": int(sent / dt) if dt else 0,
    }


def _interop_bench(spark, kdir: str) -> dict:
    """Read-path cost of the lakehouse interop layers at this K: the
    scaled documents table re-landed as (a) a 25-commit Delta table with
    checkpoints every 10 commits and (b) an Iceberg v2 table authored
    over the same parquet files. Timed read = fresh reader (full
    metadata walk) + count, so the curve shows metadata overhead staying
    flat while the scan grows with data."""
    from pyspark.sql import functions as F

    from deimos_spark.operators.delta_interop import (
        DeltaTableReader,
        DeltaTableWriter,
    )
    from deimos_spark.operators.iceberg_interop import IcebergTableReader
    from deimos_spark.schemas.avro_ocf import ocf_write

    out: dict = {}
    docs_dir = f"{kdir}/documents.parquet"

    # ---------------- Delta: many-commit log + checkpointed replay
    dpath = f"{kdir}/delta_docs"
    w = DeltaTableWriter(spark, dpath, checkpoint_interval=10)
    docs = spark.read.parquet(docs_dir)
    for i in range(25):
        w.append(docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(25)) == i))
    DeltaTableReader(spark, dpath).read().count()  # warm scan cache/codegen
    runs, rows = [], 0
    for _ in range(3):
        t0 = time.perf_counter()
        r = DeltaTableReader(spark, dpath)
        rows = r.read().count()
        runs.append(time.perf_counter() - t0)
        replayed, listed = r.last_snapshot_commit_reads, r.last_snapshot_listed_log
    out["delta"] = {
        "rows": rows,
        "commits": 25,
        "json_replayed": replayed,
        "listed_log": listed,
        "sec": round(sorted(runs)[1], 3),
    }

    # incremental consume (round 8): the LAST commit's change rows with
    # 24 commits of history behind them — read_changes cost tracks the
    # consumed slice (~1/25 of the table), not the table; the curve's
    # exponent vs K shows the checkpoint-resume pattern staying viable
    # as everything scales together
    DeltaTableReader(spark, dpath).read_changes(24, 24).count()  # warm
    cruns, crows = [], 0
    for _ in range(3):
        t0 = time.perf_counter()
        crows = (
            DeltaTableReader(spark, dpath).read_changes(24, 24).count()
        )
        cruns.append(time.perf_counter() - t0)
    out["delta_changes_last"] = {
        "rows": crows,
        "sec": round(sorted(cruns)[1], 3),
    }

    # ---------------- Iceberg: author v2 metadata over the parquet files
    ipath = f"{kdir}/ice_docs"
    meta_dir = os.path.join(ipath, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    files = sorted(
        os.path.join(docs_dir, f)
        for f in os.listdir(docs_dir)
        if f.endswith(".parquet")
    )
    type_map = {
        "bigint": "long", "int": "int", "string": "string",
        "double": "double", "float": "float", "boolean": "boolean",
        "date": "date", "binary": "binary",
    }
    ice_fields = [
        {
            "id": i,
            "name": f.name,
            "required": False,
            "type": type_map[f.dataType.simpleString()],
        }
        for i, f in enumerate(docs.schema.fields, 1)
    ]
    entry_schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "data_file",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ],
                },
            },
        ],
    }
    mpath = os.path.join(meta_dir, "m0.avro")
    ocf_write(
        mpath,
        entry_schema,
        [
            {
                "status": 1,
                "data_file": {
                    "content": 0,
                    "file_path": f"file://{p}",
                    "file_format": "PARQUET",
                    "record_count": 0,
                    "file_size_in_bytes": os.path.getsize(p),
                },
            }
            for p in files
        ],
    )
    ml_schema = {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
        ],
    }
    mlpath = os.path.join(meta_dir, "snap-1.avro")
    ocf_write(
        mlpath,
        ml_schema,
        [{
            "manifest_path": f"file://{mpath}",
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": 0,
        }],
    )
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(
            {
                "format-version": 2,
                "table-uuid": "00000000-0000-0000-0000-000000000000",
                "location": f"file://{ipath}",
                "last-updated-ms": 0,
                "last-column-id": len(ice_fields),
                "schemas": [
                    {"type": "struct", "schema-id": 0, "fields": ice_fields}
                ],
                "current-schema-id": 0,
                "partition-spec": [],
                "last-sequence-number": 1,
                "snapshots": [
                    {
                        "snapshot-id": 1,
                        "timestamp-ms": 0,
                        "manifest-list": f"file://{mlpath}",
                    }
                ],
                "current-snapshot-id": 1,
            },
            fh,
        )
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("1")
    IcebergTableReader(spark, ipath).read().count()  # warm
    runs, rows = [], 0
    for _ in range(3):
        t0 = time.perf_counter()
        rows = IcebergTableReader(spark, ipath).read().count()
        runs.append(time.perf_counter() - t0)
    out["iceberg"] = {
        "rows": rows,
        "data_files": len(files),
        "sec": round(sorted(runs)[1], 3),
    }

    # Iceberg incremental consume (round 8): writer-authored 10-snapshot
    # table, read_incremental of only the newest snapshot — O(files
    # added by it); only its own manifests open
    from deimos_spark.operators.iceberg_interop import IcebergTableWriter

    ipath2 = f"{kdir}/ice_docs_incr"
    iw = IcebergTableWriter(spark, ipath2)
    for i in range(10):
        iw.append(
            docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) == i)
        )
    last = IcebergTableReader(spark, ipath2).metadata[
        "current-snapshot-id"
    ]
    IcebergTableReader(spark, ipath2).read_incremental(
        from_snapshot_id=last - 1
    ).count()  # warm
    iruns, irows = [], 0
    for _ in range(3):
        t0 = time.perf_counter()
        irows = (
            IcebergTableReader(spark, ipath2)
            .read_incremental(from_snapshot_id=last - 1)
            .count()
        )
        iruns.append(time.perf_counter() - t0)
    out["iceberg_incremental_last"] = {
        "rows": irows,
        "snapshots": 10,
        "sec": round(sorted(iruns)[1], 3),
    }
    return out


def _graph_bench(spark, k: int) -> dict:
    """t20 connected-components scaling (VERDICT r5 #6): K× synthetic
    near-dup graphs with FIXED diameter — 2000K star clusters (hub + 8
    spokes, the dominant real shape) and 400K chains of length 5 (multi-
    round convergence, the path the max_iters gate guards). Rounds stay
    constant with K, so healthy scaling is ~linear per-round join work —
    the per-round fixed cost (two joins + a control count) dominates at
    small K and amortizes as K grows, so the exponent UNDERSTATES
    nothing at scale."""
    n_stars, n_chains = 2000 * k, 400 * k
    stars = (
        spark.range(n_stars)
        .selectExpr("id * 100 AS hub")
        .selectExpr("hub", "explode(sequence(1, 8)) AS s")
        .selectExpr("hub AS id_a", "hub + s AS id_b")
    )
    chain_base = n_stars * 100 + 1000
    chains = (
        spark.range(n_chains)
        .selectExpr(f"{chain_base} + id * 100 AS start")
        .selectExpr("start", "explode(sequence(0, 4)) AS i")
        .selectExpr("start + i AS id_a", "start + i + 1 AS id_b")
    )
    edges = stars.union(chains)
    from deimos_spark.operators.graph import cluster_sizes

    cluster_sizes(edges).collect()  # warm
    runs, n = [], 0
    for _ in range(2):
        t0 = time.perf_counter()
        got = cluster_sizes(edges).collect()
        runs.append(time.perf_counter() - t0)
        n = len(got)
    assert n == n_stars + n_chains, (n, n_stars + n_chains)
    return {
        "edges": n_stars * 8 + n_chains * 5,
        "clusters": n,
        "sec": round(min(runs), 3),
    }


def _delete_reads_bench(spark, kdir: str) -> dict:
    """Read-path cost of soft-deleted tables at this K (VERDICT r5 #6):
    (a) a Delta table whose rows were 10%-deleted via deletion vectors
    (scan + distributed DV expansion + anti-join), and (b) an Iceberg v2
    table carrying an EQUALITY-delete file over the same 10% of keys
    (sequence-gated null-safe anti-join). Timed read = fresh reader +
    count, 3 runs, median."""
    from pyspark.sql import functions as F

    from deimos_spark.operators.delta_interop import (
        DeltaKeyedTable,
        DeltaTableReader,
    )
    from deimos_spark.operators.iceberg_interop import IcebergTableReader
    from deimos_spark.schemas.avro_ocf import ocf_write

    out: dict = {}
    docs = spark.read.parquet(f"{kdir}/documents.parquet")
    dead = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)

    # -------- Delta: DV-deleted table
    dpath = f"{kdir}/delta_dv_docs"
    kt = DeltaKeyedTable(spark, dpath, ["doc_id"], use_dvs=True)
    kt.upsert(docs)
    kt.delete(dead.select("doc_id"))
    DeltaTableReader(spark, dpath).read().count()  # warm
    runs, rows = [], 0
    for _ in range(3):
        t0 = time.perf_counter()
        rows = DeltaTableReader(spark, dpath).read().count()
        runs.append(time.perf_counter() - t0)
    out["delta_dv"] = {"live_rows": rows, "sec": round(sorted(runs)[1], 3)}

    # -------- Iceberg: equality-delete table authored over the data
    ipath = f"{kdir}/ice_eq_docs"
    meta_dir = os.path.join(ipath, "metadata")
    data_dir = os.path.join(ipath, "data")
    os.makedirs(meta_dir, exist_ok=True)
    os.makedirs(data_dir, exist_ok=True)
    docs.write.mode("overwrite").parquet(data_dir)
    files = sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    eq_path = os.path.join(ipath, "eq-del.parquet")
    dead.select("doc_id").toPandas().to_parquet(eq_path)
    type_map = {
        "bigint": "long", "int": "int", "string": "string",
        "double": "double", "float": "float", "boolean": "boolean",
        "date": "date", "binary": "binary",
    }
    ice_fields = [
        {"id": i, "name": f.name, "required": False,
         "type": type_map[f.dataType.simpleString()]}
        for i, f in enumerate(docs.schema.fields, 1)
    ]
    doc_id_fid = next(
        f["id"] for f in ice_fields if f["name"] == "doc_id"
    )
    entry_schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "sequence_number", "type": ["null", "long"],
             "default": None},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "data_file",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                        {"name": "equality_ids",
                         "type": ["null", {"type": "array",
                                           "items": "int"}],
                         "default": None},
                    ],
                },
            },
        ],
    }
    m_data = os.path.join(meta_dir, "m-data.avro")
    ocf_write(
        m_data, entry_schema,
        [
            {
                "status": 1, "sequence_number": 1,
                "data_file": {
                    "content": 0, "file_path": f"file://{p}",
                    "file_format": "PARQUET", "record_count": 0,
                    "file_size_in_bytes": os.path.getsize(p),
                    "equality_ids": None,
                },
            }
            for p in files
        ],
    )
    m_del = os.path.join(meta_dir, "m-del.avro")
    ocf_write(
        m_del, entry_schema,
        [{
            "status": 1, "sequence_number": 2,
            "data_file": {
                "content": 2, "file_path": f"file://{eq_path}",
                "file_format": "PARQUET", "record_count": 0,
                "file_size_in_bytes": os.path.getsize(eq_path),
                "equality_ids": [doc_id_fid],
            },
        }],
    )
    ml_schema = {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "sequence_number", "type": ["null", "long"],
             "default": None},
        ],
    }
    mlpath = os.path.join(meta_dir, "snap-1.avro")
    ocf_write(
        mlpath, ml_schema,
        [
            {"manifest_path": f"file://{m_data}",
             "manifest_length": os.path.getsize(m_data),
             "partition_spec_id": 0, "sequence_number": 1},
            {"manifest_path": f"file://{m_del}",
             "manifest_length": os.path.getsize(m_del),
             "partition_spec_id": 0, "sequence_number": 2},
        ],
    )
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(
            {
                "format-version": 2,
                "table-uuid": "00000000-0000-0000-0000-000000000001",
                "location": f"file://{ipath}",
                "last-updated-ms": 0,
                "last-column-id": len(ice_fields),
                "schemas": [
                    {"type": "struct", "schema-id": 0, "fields": ice_fields}
                ],
                "current-schema-id": 0,
                "partition-spec": [],
                "last-sequence-number": 2,
                "snapshots": [
                    {"snapshot-id": 1, "timestamp-ms": 0,
                     "manifest-list": f"file://{mlpath}"}
                ],
                "current-snapshot-id": 1,
            },
            fh,
        )
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("1")
    IcebergTableReader(spark, ipath).read().count()  # warm
    runs, rows = [], 0
    for _ in range(3):
        t0 = time.perf_counter()
        rows = IcebergTableReader(spark, ipath).read().count()
        runs.append(time.perf_counter() - t0)
    out["iceberg_eq"] = {"live_rows": rows, "sec": round(sorted(runs)[1], 3)}
    return out


def _fit_exponent(ks: list[int], times: list[float]) -> float:
    """Least-squares slope of log(time) vs log(K) — the empirical scaling
    exponent (1.0 = linear, 0 = constant). Times are floored at 50ms so
    scheduling noise on toy queries doesn't fake a trend."""
    import math

    xs = [math.log(k) for k in ks]
    ys = [math.log(max(t, 0.05)) for t in times]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    if denom == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def main() -> None:
    # flags (for the K=100 heavy-subset run, VERDICT r11 #4):
    #   --only=q1,q2   restrict the query curve to a subset
    #   --no-interop / --no-relay / --no-consume / --no-graph /
    #   --no-zipf      skip whole sections
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    only = None
    for a in list(flags):
        if a.startswith("--only="):
            only = a.split("=", 1)[1].split(",")
            flags.discard(a)
    queries = [q for q in QUERIES if only is None or q in only]
    do_interop = "--no-interop" not in flags
    do_relay = "--no-relay" not in flags
    do_consume = "--no-consume" not in flags
    do_graph = "--no-graph" not in flags
    do_zipf = "--no-zipf" not in flags
    do_t28 = "--no-t28" not in flags
    do_ingest = "--no-ingest" not in flags

    ks = [int(x) for x in args[0].split(",")] if args else [1, 4, 10]
    scratch = args[1] if len(args) > 1 else "/tmp/deimos_stress"
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("deimos_stress")

    curve: dict[str, dict] = {name: {} for name in queries}
    interop: dict[str, dict] = {
        "delta": {}, "iceberg": {}, "delta_dv": {}, "iceberg_eq": {},
        "delta_changes_last": {}, "iceberg_incremental_last": {},
    }
    graph_curve: dict[int, dict] = {}
    t28_curve: dict[int, dict] = {}
    ingest_curve: dict[int, dict] = {}
    interop_detail: dict = {}
    consume_curve: dict[int, dict] = {}
    relay_curve: dict[int, dict] = {}
    zipf_curve: dict[str, dict] = {name: {} for name in ZIPF_QUERIES}
    zipf_consume: dict[int, dict] = {}
    zipf_graph: dict[int, dict] = {}
    zipf_shares: dict = {}
    rows = {}
    for k in sorted(ks):
        # distinct dir per K: Spark caches file listings by path, and
        # rewriting the same path serves stale file lists to later runs
        kdir = f"{scratch}_k{k}"
        rows[k] = _build_scaled(spark, src, kdir, k)
        print(f"K={k}: lineitem rows = {rows[k]:,}", file=sys.stderr)
        for name, sec in _time_queries(spark, kdir, queries).items():
            curve[name][k] = sec
        if do_interop:
            io = _interop_bench(spark, kdir)
            io.update(_delete_reads_bench(spark, kdir))
            for fmt in interop:
                interop[fmt][k] = io[fmt]["sec"]
            interop_detail[k] = io
        if do_graph:
            graph_curve[k] = _graph_bench(spark, k)
        if do_t28:
            t28_curve[k] = _t28_blocked_bench(spark, scratch + "_t28", k)
        if do_ingest:
            ingest_curve[k] = _dedup_ingest_bench(
                spark, scratch + "_ingest", k
            )
        if do_consume:
            consume_curve[k] = _consume_merge_bench(
                spark, scratch + "_stream", k
            )
        if do_relay:
            relay_curve[k] = _relay_curve_bench(spark, scratch + "_stream", k)
        if do_zipf:
            zdir = f"{scratch}_z{k}"
            zipf_shares[k] = _build_zipf(spark, kdir, zdir, k)
            print(
                f"K={k}: zipf hot shares = {zipf_shares[k]}",
                file=sys.stderr,
            )
            for name, sec in _time_queries(spark, zdir, ZIPF_QUERIES).items():
                zipf_curve[name][k] = sec
            zipf_consume[k] = _consume_merge_bench(
                spark, scratch + "_zstream", k, zipf=True
            )
            zipf_graph[k] = _zipf_graph_bench(spark, k)
            shutil.rmtree(zdir, ignore_errors=True)
        shutil.rmtree(kdir, ignore_errors=True)
        _between_rounds(spark)

    relay = _relay_bench(spark, scratch + "_relay") if do_relay else None

    sks = sorted(ks)
    scaling = {
        name: round(_fit_exponent(sks, [curve[name][k] for k in sks]), 3)
        for name in queries
    }
    superlinear = sorted(
        name
        for name, exp in scaling.items()
        if exp > EXP_LIMIT and curve[name][sks[-1]] > MIN_SIGNAL_SEC
    )
    zipf_out = None
    if do_zipf:
        zipf_scaling = {
            name: round(
                _fit_exponent(sks, [zipf_curve[name][k] for k in sks]), 3
            )
            for name in ZIPF_QUERIES
        }
        zipf_scaling["graph_cc_t28"] = round(
            _fit_exponent(sks, [zipf_graph[k]["sec"] for k in sks]), 3
        )
        for mode in ("rewrite", "dv"):
            zipf_scaling[f"consume_merge_{mode}"] = round(
                _fit_exponent(
                    sks, [zipf_consume[k][mode]["merge_sec"] for k in sks]
                ),
                3,
            )
        zipf_super = sorted(
            n for n, e in zipf_scaling.items() if e > EXP_LIMIT
        )
        # skew tax: zipf time / uniform time at max K for the shared
        # registry queries — bounded constants mean the plan absorbs
        # the hot key; a tax growing with K would flag a skew-killer
        zipf_out = {
            "alpha": ZIPF_ALPHA,
            "zipf_s": 1 + ZIPF_ALPHA,
            "hot_key_share": {str(k): zipf_shares[k] for k in sks},
            "queries": zipf_curve,
            "consume_merge": {str(k): zipf_consume[k] for k in sks},
            "graph_cc": {str(k): zipf_graph[k] for k in sks},
            "scaling_exponent": zipf_scaling,
            "superlinear": zipf_super,
            "skew_tax_at_max_k": {
                name: round(
                    zipf_curve[name][sks[-1]]
                    / max(curve[name][sks[-1]], 0.001),
                    2,
                )
                for name in ZIPF_QUERIES
                if name in curve and sks[-1] in curve.get(name, {})
            },
        }
    print(
        json.dumps(
            {
                "ks": sks,
                "lineitem_rows": {str(k): rows[k] for k in sks},
                "queries": curve,
                "scaling_exponent": scaling,
                "superlinear": superlinear,
                "zipf": zipf_out,
                "interop_read": None if not do_interop else {
                    "curve": interop,
                    "exponent": {
                        fmt: round(
                            _fit_exponent(
                                sks, [interop[fmt][k] for k in sks]
                            ),
                            3,
                        )
                        for fmt in interop
                    },
                    "detail_at_max_k": interop_detail[sks[-1]],
                },
                "graph_cc": None if not do_graph else {
                    "curve": {str(k): graph_curve[k] for k in sks},
                    "exponent": round(
                        _fit_exponent(
                            sks, [graph_curve[k]["sec"] for k in sks]
                        ),
                        3,
                    ),
                },
                # t28 uncapped (VERDICT r12 #2): metric-ball-blocked
                # exact pairs + CC/keep over a topical corpus — the
                # exponent row the capped BNLJ relation could never have
                "t28_blocked": None if not do_t28 else {
                    "curve": {str(k): t28_curve[k] for k in sks},
                    "exponent": round(
                        _fit_exponent(
                            sks, [t28_curve[k]["sec"] for k in sks]
                        ),
                        3,
                    ),
                    "pair_exponent": round(
                        _fit_exponent(
                            sks, [t28_curve[k]["pair_sec"] for k in sks]
                        ),
                        3,
                    ),
                },
                # streaming dedup-ingest (VERDICT r12 #5): t30's flat-
                # per-batch claim under streaming conditions — the
                # exponent is over PER-BATCH time vs corpus size
                "dedup_ingest": None if not do_ingest else {
                    "curve": {str(k): ingest_curve[k] for k in sks},
                    "per_batch_exponent": round(
                        _fit_exponent(
                            sks,
                            [
                                ingest_curve[k]["per_batch_sec"]
                                for k in sks
                            ],
                        ),
                        3,
                    ),
                },
                "outbox_relay_100k": relay,
                # streaming-path curves (VERDICT r6 #5): consume->MERGE
                # per keyed sink and the executor relay, K-scaled rows
                # -> exponent ~1.0 = the path amortizes linearly
                "consume_merge": None if not do_consume else {
                    "curve": {str(k): consume_curve[k] for k in sks},
                    "exponent": {
                        mode: round(
                            _fit_exponent(
                                sks,
                                [
                                    consume_curve[k][mode]["merge_sec"]
                                    for k in sks
                                ],
                            ),
                            3,
                        )
                        for mode in consume_curve[sks[0]]
                    },
                },
                "relay_executor": None if not do_relay else {
                    "curve": {str(k): relay_curve[k] for k in sks},
                    "exponent": round(
                        _fit_exponent(
                            sks, [relay_curve[k]["sec"] for k in sks]
                        ),
                        3,
                    ),
                },
                "total_sec_at_max_k": round(
                    sum(curve[n][sks[-1]] for n in queries), 2
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
