"""Declared query registry: SURVEY.md §2B operator inventory, one entry per
operator, each with a Spark DataFrame builder and (where SQL-expressible) a
DuckDB oracle SQL string.

Contract (driver protocol, __spark_entry__.py): the driver runs the builder
at sf0.01 and the oracle through DuckDB on the same parquet, then compares
row-count + schema + order-insensitive value-hash. Column names are aliased
identically on both sides; integer-typed oracle outputs are CAST to match
Spark's output types (Spark length()/size()/year() → INT, count() → BIGINT,
DuckDB defaults to BIGINT/HUGEINT).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deimos_spark.catalog import load_table
from deimos_spark.functions.text import (
    LANG_PROBES,
    fingerprint,
    quality_score,
    token_count,
)
from deimos_spark.operators import asof, dedup, funnel, relational, simsearch, tpch
from deimos_spark.session import (
    apply_runtime_confs,
    autotune_for_dir,
    small_input,
    sort_small,
    spread_small,
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    note: str = ""


# Prepared-plan cache: (query name, session id, sf_dir) → built DataFrame.
#
# Building a DataFrame is not free: the Python expression tree is
# re-constructed and Catalyst re-analyzes/re-optimizes the logical plan on
# every builder call — for wide plans (minhash banding, 64-column simhash
# aggregates) that is seconds of driver-side work per call, dwarfing the
# actual execution. Real engines prepare a statement once and execute it
# many times; this cache is that feature. The underlying parquet is still
# scanned fresh at every execution — only the *plan* is reused.
#
# Keyed on the Spark applicationId, not id(spark): a GC'd session whose
# address is reused must not resurrect plans bound to the dead session.
_plan_cache: dict[tuple[str, str, str], DataFrame] = {}


def clear_plan_cache() -> None:
    _plan_cache.clear()


def _prepared(name: str, fn: Callable[[SparkSession, str], DataFrame]):
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        # scale-aware AQE: confs are read at execution time, so this
        # governs cached plans too (see session.autotune_for_dir); it
        # returns the applicationId the cache key needs
        key = (name, autotune_for_dir(spark, sf_dir), sf_dir)
        df = _plan_cache.get(key)
        if df is None:
            df = fn(spark, sf_dir)
            _plan_cache[key] = df
        return df

    build.__name__ = getattr(fn, "__name__", name)
    build.__doc__ = fn.__doc__
    return build


# --------------------------------------------------------------------------
# Text / LLM-op builders (parameterized ones live here; simple ones call the
# operator modules directly).
# --------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    return load_table(spark, sf_dir, "documents")


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + session.spread_small, for builders whose per-row
    work is HEAVY (tokenize/shingle/regex-chain/md5 over the full
    text): a tiny single-row-group file makes the scan ONE task,
    serializing that work on one core while the rest idle. Scale-gated
    — identity at >= 1 GiB, where file splits already parallelize the
    scan. Cheap queries keep plain _docs: for them the extra exchange
    costs more than the parallelism buys (measured: t18 +0.28s,
    b31 +0.12s with a blanket spread; t26 -1.4s, t15 -0.4s,
    t14 -0.2s, t16 -0.2s with it where it belongs)."""
    return spread_small(_docs(spark, sf_dir), sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    return load_table(spark, sf_dir, "embeddings")


def _param_lookup(sf_dir: str, table: str, key_col: str, key, col: str):
    """Driver-side point lookup of a QUERY PARAMETER (the probe vector /
    probe text) straight from parquet via pyarrow — not a Spark job.

    The parameter fetch is input preparation, not part of the declared
    query; doing it as `df.filter(...).head()` costs a full Spark job
    per re-submission (~0.3s fixed floor) just to move one value to the
    driver. Parquet row-group statistics prune the read to the groups
    that can contain the key."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    # tables may be a single .parquet file (the driver's testdata) or a
    # directory of part files (Spark-written, e.g. the stress harness)
    path = f"{sf_dir}/{table}.parquet"
    parts = (
        sorted(
            os.path.join(path, n)
            for n in os.listdir(path)
            if n.endswith(".parquet")
        )
        if os.path.isdir(path)
        else [path]
    )
    for part in parts:
        pf = papq.ParquetFile(part)
        groups = [
            i
            for i in range(pf.num_row_groups)
            if (lambda s: s is None or (s.min <= key <= s.max))(
                pf.metadata.row_group(i)
                .column(pf.schema_arrow.get_field_index(key_col))
                .statistics
            )
        ]
        if not groups:
            continue
        tbl = pf.read_row_groups(groups, columns=[key_col, col])
        match = tbl.filter(pc.equal(tbl.column(key_col), key))
        if match.num_rows:
            return match.column(col)[0].as_py()
    raise KeyError(f"{table}.{key_col} == {key!r} not found")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B32: per-language document stats."""
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31: exact-dedup cardinality via 128-bit content hash (md5 is
    byte-identical across Spark/DuckDB, making this oracle-checkable)."""
    d = _docs(spark, sf_dir)
    return d.agg(F.countDistinct(F.md5("text")).alias("cnt"))


def q_dedup_keep_min_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping canonical (min) id per content group."""
    return (
        dedup.dedup_by_content_hash(_docs(spark, sf_dir))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("doc_id").alias("sum_ids"),
        )
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) per language."""
    d = _docs(spark, sf_dir)
    return (
        d.withColumn("n_tokens", token_count("text"))
        .groupBy("lang")
        .agg(
            F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword probes) — distribution of predictions
    and agreement with the labeled lang column. Scores are PROJECTED
    into columns before the argmax so each language's regex pass runs
    once per document (an inline argmax expression duplicates every
    score it compares — 3x the regex work); the argmax then reads plain
    column references. Combined with the spread this took the t02 hot
    path from 0.50s to 0.22s at sf0.1."""
    from deimos_spark.functions.text import LANG_PROBES, lang_scores

    d = _docs_spread(spark, sf_dir)
    scored = d.select("lang", *lang_scores("text").values())
    langs = list(LANG_PROBES)
    pred = F.lit(langs[-1])
    for i in range(len(langs) - 2, -1, -1):
        cond = None
        for j in range(i + 1, len(langs)):
            c = F.col(f"score_{langs[i]}") >= F.col(f"score_{langs[j]}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(langs[i])).otherwise(pred)
    return (
        scored.withColumn("lang_pred", pred)
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(
                F.when(F.col("lang_pred") == F.col("lang"), 1).otherwise(0)
            ).cast("bigint").alias("agree"),
        )
    )


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: composite [0,1] score, aggregated per source."""
    d = _docs(spark, sf_dir)
    return (
        d.withColumn("q", quality_score("text"))
        .groupBy("source")
        .agg(F.round(F.avg("q"), 3).alias("avg_q"), F.count(F.lit(1)).alias("c"))
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 digest bucket histogram."""
    d = _docs(spark, sf_dir)
    return (
        d.withColumn("bucket", F.substring(fingerprint("text"), 1, 1))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def q_simsearch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33: brute-force cosine top-10 vs the vec_id=0 embedding."""
    e = _emb(spark, sf_dir)
    qvec = _param_lookup(sf_dir, "embeddings", "vec_id", 0, "embedding")
    return simsearch.cosine_topk(e, [float(x) for x in qvec], k=10)


def q_simsearch_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN variant: SRP-LSH bucket pruning then exact cosine. Approximate →
    no oracle; deterministic given the fixed seed. 4 hash tables with
    Hamming-3 multiprobe hold recall@10 >= 0.9 on the seeded testdata
    (gated in tests/test_approx_tolerance.py). The testdata embeddings
    are near-random — LSH's weakest regime, so the probed fraction is
    large here; on real (clustered) embeddings the same setting prunes
    hard at unchanged recall."""
    e = _emb(spark, sf_dir)
    qvec = _param_lookup(sf_dir, "embeddings", "vec_id", 0, "embedding")
    return simsearch.cosine_topk_lsh(
        e, [float(x) for x in qvec], k=10, n_planes=8, probe_hamming=3,
        n_tables=4,
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event funnel signup → view → purchase with order-respecting
    first-occurrence chaining (events.ts is long nanos per session confs)."""
    e = _events(spark, sf_dir)
    ts = F.timestamp_micros(F.expr("ts div 1000"))
    return funnel.funnel_conversion(
        e, ["signup", "view", "purchase"], ts_col=ts
    )


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch rollup: daily HLL sketches of active users, merged to one
    total estimate without re-reading raw events. Approximate → rows-only;
    estimate-vs-exact tolerance is pinned in tests."""
    from deimos_spark.operators import sketches

    e = _events(spark, sf_dir)
    ts = F.timestamp_micros(F.expr("ts div 1000"))
    daily = sketches.hll_sketch_by(
        e, [F.date_trunc("day", ts).alias("day")], "user_id"
    )
    return sketches.hll_total_estimate(daily)


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split over documents —
    membership is a pure function of doc_id (md5 bucket), so the split is
    reproducible across runs and engines and needs no shuffle."""
    from deimos_spark.operators import sampling

    d = sampling.hash_split(
        _docs(spark, sf_dir), "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return (
        d.groupBy("split")
        .agg(
            F.count("*").alias("docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .transform(sort_small, "split")
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling (rebalancing a skewed
    corpus): keep 25% of 'en', 100% of 'de', 50% of everything else —
    one codegen'd filter, no join, no shuffle."""
    from deimos_spark.operators import sampling

    d = sampling.stratified_hash_sample(
        _docs(spark, sf_dir), "lang", "doc_id",
        rates={"en": 0.25, "de": 1.0}, default_rate=0.5,
    )
    return sort_small(
        d.groupBy("lang").agg(F.count("*").alias("kept")), "lang"
    )


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily resample of event values with forward-fill across
    gap days (time_bucket_gapfill analogue; events.ts is long nanos)."""
    from deimos_spark.operators import timeseries

    e = _events(spark, sf_dir)
    ts = F.timestamp_micros(F.expr("ts div 1000"))
    # no order_col tie-break: (user_id, ts) is collision-free in this data,
    # and DuckDB's arg_max can't take a composite ordering key
    out = timeseries.resample_ffill(
        e, "user_id", ts, "value", interval="1 day", sorted_output=True
    )
    # identical rows in the identical (user_id, day_s) order as the former
    # top-level .orderBy("user_id", "day_s"): sorted_output range-orders
    # the PRE-explode relation on (user_id) with (user_id, bucket) sorted
    # within partitions, explode preserves it, and ISO 'yyyy-MM-dd' day_s
    # strings sort chronologically — while the exploded grid (the largest
    # relation in the plan) is never exchanged or sampled (r15; the old
    # plan's final rangepartitioning sampled — i.e. re-executed — the
    # whole agg+window+explode subtree, then shuffled keys × buckets
    # rows). Equivalence pinned by tests/test_timeseries.py.
    return out.select(
        "user_id",
        F.col("bucket").cast("date").cast("string").alias("day_s"),
        F.round("value_ff", 2).alias("value_ff"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x13: gap-based batch sessionization (30-min gap on per-user event
    streams) → session-length histogram (n_events per session → session
    count). The batch twin of C5's streaming sessionizer, as two ordered
    windows + two hash aggregates."""
    from deimos_spark.operators import timeseries

    e = _events(spark, sf_dir)
    s = timeseries.sessionize(
        e, "user_id", "ts", gap=1_800_000_000_000, order_cols=("event_id",)
    )
    sessions = s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        sessions.groupBy("n_events")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .transform(sort_small, "n_events")
    )


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x14: SCD2 state-history materialization — each user's event_type
    stream collapses into maximal unchanged runs with [valid_from,
    valid_to) intervals (operators/timeseries.py state_history), then a
    compact per-state audit: run count, event count, max/total run
    duration, and how many keys currently sit in that state. Any
    boundary mistake in the islands construction moves counts AND
    durations, so the aggregate is a tight oracle over the whole
    interval relation without shipping keys×runs rows to the driver."""
    from deimos_spark.operators import timeseries

    e = _events(spark, sf_dir)
    runs = timeseries.state_history(
        e, "user_id", "ts", "event_type", order_cols=("event_id",)
    )
    dur = F.col("last_seen") - F.col("valid_from")
    return (
        runs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_runs"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.max(dur).cast("bigint").alias("max_run_ns"),
            F.sum(dur).cast("bigint").alias("sum_run_ns"),
            F.sum(F.col("is_current").cast("int"))
            .cast("bigint")
            .alias("n_current"),
        )
        .transform(sort_small, "event_type")
    )


def q_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC rollup per user: first/last by timestamp + min/max/avg."""
    from deimos_spark.operators import timeseries

    e = _events(spark, sf_dir)
    ts = F.timestamp_micros(F.expr("ts div 1000"))
    out = timeseries.bucket_agg(e, "user_id", ts, "value", interval="1 day")
    return out.select(
        "user_id",
        F.col("bucket").cast("date").cast("string").alias("day_s"),
        F.round("open", 2).alias("open"),
        F.round("close", 2).alias("close"),
        F.round("low", 2).alias("low"),
        F.round("high", 2).alias("high"),
        # sum, not mean: the inputs carry 2 decimals so sums round safely,
        # while avg creates exact .xx5 boundaries where engine summation
        # order decides the rounding — a hash-compare hazard
        F.round("vsum", 2).alias("vsum"),
        F.col("n").alias("n"),
    ).orderBy("user_id", "day_s")


def q_decimal_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-decimal money math (SURVEY flags decimal as an extension):
    revenue per return flag in DECIMAL(18,2)/(18,4) — bit-exact across
    engines, unlike float aggregation which needs round() tolerance.

    Fast path (VERDICT r10 #2, its literal suggestion — scaled-long
    partials provably in range): the naive sum(decimal(18,2) *
    decimal(18,4)) accumulates decimal(38,6) past Spark's long-backed
    Decimal fast path, a BigDecimal multiply + add per row (measured
    0.71s median fresh-lineage at sf0.1; 11x DuckDB's native int128).
    Even `round(x, 2)` allocates a BigDecimal per double, so the
    unscaled extraction must stay in pure double/int64 arithmetic:

    - cents = cast(price*100 + 0.5 as long). Money columns hold
      nearest-doubles of 2-decimal values, so the true product is
      within ~1e-9 of the integer k; +0.5 lands in (k, k+1) and the
      truncating cast returns exactly k — the same digit the oracle's
      cast(x as decimal(18,2)) produces. (tests/test_sampling.py pins
      row-for-row equality against the decimal-cast formulation.)
    - revenue partials: r6 = cents*dbp < 1e12 per row (RUNTIME-checked
      — raise_error on violation, never silent), split lo = r6 mod 1e6
      and hi = r6 div 1e6, each < 1e6, so plain BIGINT sums hold
      exactly to 9.2e12 rows PER GROUP (~40x a 100-TB lineitem's rows
      per returnflag) — overflow-impossible by construction where the
      naive plan paid BigDecimal per row. Same split for gross cents.
    - ONE decimal reconstruction per GROUP: (hi*1e6 + lo)/1e6 as
      decimal(38,6) — bit-identical to the naive sum because integer
      partial sums are exact and the division is a single exact
      rescale. Oracle SQL unchanged. Median fresh-lineage sf0.1:
      0.71s -> 0.30s (the residual is the single-row-group scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    M = 1_000_000
    cents = (F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    cents = F.when((cents >= 0) & (cents < F.lit(1_000_000_000_000)), cents).otherwise(
        F.raise_error(
            F.lit("x10: cents outside [0, 1e12) — negative or huge price")
        )
    )
    dbp = ((F.lit(1.0) - F.col("l_discount")) * 10000 + F.lit(0.5)).cast(
        "long"
    )
    r6 = cents * dbp
    r6 = F.when((r6 >= 0) & (r6 < F.lit(1_000_000_000_000)), r6).otherwise(
        F.raise_error(
            F.lit(
                "x10: cents*basis-points >= 1e12 — the scaled-long "
                "split bound assumes prices < 1e8; widen the split"
            )
        )
    )
    return (
        li.select(
            "l_returnflag",
            (r6 % M).alias("_lo"),
            (r6 / M).cast("long").alias("_hi"),
            (cents % M).alias("_clo"),
            (cents / M).cast("long").alias("_chi"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum("_lo").alias("_slo"),
            F.sum("_hi").alias("_shi"),
            F.sum("_clo").alias("_sclo"),
            F.sum("_chi").alias("_schi"),
        )
        .select(
            "l_returnflag",
            # keep the exact scale-6 sum: a final cast to (18,2) would
            # round x.xx5 HALF_UP in Spark but HALF_EVEN in DuckDB —
            # exactness is the point of decimal, so expose the exact value
            (
                (
                    F.col("_shi").cast("decimal(38,0)") * M
                    + F.col("_slo")
                )
                / M
            )
            .cast("decimal(38,6)")
            .alias("revenue"),
            (
                (
                    F.col("_schi").cast("decimal(38,0)") * M
                    + F.col("_sclo")
                )
                / 100
            )
            .cast("decimal(18,2)")
            .alias("gross"),
        )
        .transform(sort_small, "l_returnflag")
    )


def q_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs: exact-dup collapse, then composite-blocked
    (lang, prefix bucket, ±1 length band) edit distance on prefixes —
    collapse + blocking declared in the oracle SQL too, so the check is
    exact. The collapse is what keeps block membership bounded by UNIQUE
    text at corpus scale (STRESS.json: super-linear without it)."""
    return dedup.levenshtein_near_pairs(
        _docs(spark, sf_dir), max_dist=24, prefix=32, collapse_exact=True
    ).orderBy("id_a", "id_b")


def q_simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN variant: IVF coarse quantizer (k-means cells, nprobe pruning)
    then exact cosine within probed cells. Approximate → rows-only check;
    deterministic given the fixed k-means seed. nprobe=6/8 holds
    recall@10 >= 0.8 on the seeded testdata (gated in
    tests/test_approx_tolerance.py; re-measured after the r13 k-means++
    seeding change — 5/8 gave 0.7 on the near-random fixture, 6/8 gives
    0.8 and 7/8 gives 0.9 at BOTH sf0.001 and sf0.01; ++ seeding is the
    scale-right choice because clustered corpora — the 100 TB reality —
    block/prune dramatically better under it). At SCALE the constant is
    wrong by measurement: recall decays as cells grow with the corpus,
    so the deployed rule is nprobe = max(6, 30% of n_cells) — the
    STRESS_ANN.json curves are the evidence and the gate."""
    e = _emb(spark, sf_dir)
    qvec = [float(x) for x in _param_lookup(sf_dir, "embeddings", "vec_id", 0, "embedding")]
    cents = simsearch.ivf_train(e, n_cells=8, seed=42, max_iter=5)
    return simsearch.ivf_topk(e, qvec, cents, k=10, nprobe=6)


def q_simsearch_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b33d: IVF-PQ with exact re-rank (IVFADC+R, Jégou et al. 2011) —
    the ANN recipe for corpora where even the VECTORS don't fit the
    cluster: the scan touches only the m-bytes-per-vector codes table
    (64× smaller than 64-dim float64), the ADC shortlist is a
    table-lookup sum, and the raw vectors are read for `shortlist`
    rows only (broadcast semi-join). Approximate → rows-only check;
    recall@10 gated in tests/test_approx_tolerance.py (measured 1.0
    with re-rank; raw ADC plateaus at 0.7 — quantization error, not
    probing, which is exactly why the published recipe re-ranks). At
    SCALE the fixture constants are re-tuned by measurement
    (STRESS_ANN.json): nprobe = max(6, 30% of n_cells), and the
    shortlist grows past 50 — ADC ranking quality, not probing, caps
    rerank recall, so shortlist is the recall dial the deployment
    turns."""
    e = _emb(spark, sf_dir)
    qvec = [
        float(x)
        for x in _param_lookup(sf_dir, "embeddings", "vec_id", 0, "embedding")
    ]
    model = simsearch.pq_train(e, n_cells=8, m=8, seed=42, max_iter=5)
    codes = simsearch.pq_encode(e, model)
    return simsearch.pq_topk_rerank(
        codes, e, model, qvec, k=10, nprobe=6, shortlist=50
    )


def q_jaccard_vs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard similarity scan vs the doc_id=0 document."""
    d = _docs(spark, sf_dir)
    qtext = _param_lookup(sf_dir, "documents", "doc_id", 0, "text")
    return dedup.jaccard_vs_query(d, qtext, n=3, k=20)


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (verified by exact Jaccard).
    Not ANSI-SQL-expressible (xxhash64 seeds) → rows-only check.
    collapse_exact: pairs are between exact-content representatives — the
    only mode whose cost scales with unique content (boilerplate dup
    clusters otherwise cost O(cluster²); see dedup.collapse_exact_duplicates)."""
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), jaccard_threshold=0.3, collapse_exact=True
    ).orderBy("id_a", "id_b")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3) — rows-only check."""
    return dedup.simhash_near_pairs(_docs(spark, sf_dir)).orderBy("id_a", "id_b")


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH-bucketed self-join —
    rows-only check (LSH recall is seed-dependent; exact variant below is
    the oracle-checked baseline)."""
    return simsearch.pairwise_cosine_above(
        _emb(spark, sf_dir), threshold=0.4, n_planes=6
    ).orderBy("id_a", "id_b")


def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top word-bigrams — the n-gram counting primitive of a
    training-data pipeline (vocab building, boilerplate detection).
    Bigrams are materialized per doc with a codegen'd `transform` over
    index sequences (no Python in the row path), exploded, then ONE hash
    aggregate with map-side combine; top-20 is TakeOrderedAndProject.
    At 100 TB the shuffle carries (bigram, partial count) pairs — the
    combine collapses per-partition repeats first."""
    d = _docs_spread(spark, sf_dir)
    toks = d.select(
        F.split(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
        ).alias("_w")
    )
    bigrams = F.when(
        F.size("_w") >= 2,
        F.expr(
            "transform(sequence(1, size(_w) - 1), "
            "i -> concat(element_at(_w, i), ' ', element_at(_w, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toks.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(20)
    )



def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signal (MassiveText-style quality
    filter): the most-frequent token's share of each doc. All-integer
    outputs (sum of per-doc max counts / totals / docs over the 10%
    threshold) so the oracle comparison is exact, no float aggregation
    order sensitivity. Plan: explode -> two hash aggregates (doc-token,
    then doc) -> one per-lang aggregate; every shuffle is on keys whose
    cardinality grows with the corpus."""
    # spread by doc_id hash (r15): hash(doc_id) satisfies BOTH
    # downstream aggregates' clustering ((doc_id,lang,tok) and
    # (doc_id,lang) — subset rule), so the small-scale plan's two
    # full token-relation exchanges disappear; only the tiny per-lang
    # aggregate still shuffles. At scale the spread is identity and
    # the map-side-combined agg exchanges return — the right shape
    # for both regimes.
    d = spread_small(_docs(spark, sf_dir), sf_dir, by="doc_id")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.split(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
            )
        ).alias("tok"),
    )
    per_tok = toks.groupBy("doc_id", "lang", "tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_doc = per_tok.groupBy("doc_id", "lang").agg(
        F.max("n").alias("max_n"), F.sum("n").alias("tot_n")
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.sum("max_n").cast("bigint").alias("sum_top_token"),
            F.sum("tot_n").cast("bigint").alias("sum_tokens"),
            F.count(F.when(F.col("max_n") * 10 > F.col("tot_n"), 1))
            .cast("bigint")
            .alias("repetitive_docs"),
        )
        .transform(sort_small, "lang")
    )


def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: shingle overlap of each corpus doc
    against the benchmark set (docs 0-49 stand in for eval-suite text).
    The decontamination primitive every training-data pipeline needs."""
    return dedup.benchmark_contamination(
        _docs_spread(spark, sf_dir), benchmark_max_id=50, n=3, k=50
    )


def q_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t31: SEMANTIC decontamination — t14's n-gram scan misses
    paraphrased eval leakage; the embedding-space form (the
    Phi/FineWeb-style recipe) flags corpus vectors whose max cosine
    against the benchmark set crosses a threshold. Exact and
    oracle-checkable: benchmark = vec_id < 20 (stand-in for the eval
    suite), corpus = the rest. Plan: one corpus scan with the
    benchmark MATRIX in an Arrow BLAS kernel
    (simsearch.max_cosine_vs_set — the ivf_assign precedent: B
    chained HOF-cosine folds run INTERPRETED per row-pair, measured
    1.5s at 5k×20×64 where the matmul is milliseconds; the
    expression-unrolled form was measured 12s of analysis), then
    filter + the bounded sort. No pair stream exists anywhere; the
    bench set is dimension-sized (an eval suite, never
    corpus-scaled), collected once — the DSIR broadcast-model
    precedent."""
    # bench fetch is input preparation (the _param_lookup rationale):
    # pyarrow straight off parquet, not a ~0.3s Spark job per build
    import pyarrow.parquet as _papq

    t = _papq.read_table(
        f"{sf_dir}/embeddings.parquet",
        columns=["vec_id", "embedding"],
        # predicate INTO the read (row-group pruning): at stress scales
        # the unfiltered table is tens of millions of rows — filtering
        # after a full read would materialize it all driver-side
        filters=[("vec_id", "<", 20)],
    )
    t = t.sort_by("vec_id")
    bench = [
        [float(x) for x in v] for v in t["embedding"].to_pylist()
    ]
    corpus = _emb(spark, sf_dir).filter(F.col("vec_id") >= 20)
    return (
        simsearch.max_cosine_vs_set(corpus, bench)
        .filter(F.col("max_sim") >= 0.35)
        .orderBy(F.desc("max_sim"), "vec_id")
    )


def q_duplicate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t15: verbatim-duplication scan — per doc, how many of its distinct
    word 5-grams appear in ≥2 documents (the substring-dedup signal from
    the public dedup-training-data line of work, reshaped as shingle
    document-frequency: exploded shingles → DF aggregate → join back;
    hash shuffles only, never all-pairs)."""
    # scale gate (r16): the single-pass window shape wins at tiny input
    # but concentrates a hot shingle's entire row set in one WindowExec
    # task; in the big regime the partial-agg + skew-join-coverable
    # shape takes over. Rows identical either way (see
    # dedup.duplicate_ngram_spans).
    return dedup.duplicate_ngram_spans(
        _docs_spread(spark, sf_dir),
        n=5,
        min_docs=2,
        single_pass=small_input(sf_dir),
    ).orderBy("doc_id")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t16: PII scrubbing stats per language. The synthetic corpus has no
    natural PII, so deterministic PII (email/phone/IP derived from
    doc_id) is injected IDENTICALLY in Spark and the DuckDB oracle —
    the scrubber is exercised with nonzero counts and the redacted
    char delta is compared exactly. One codegen'd projection: counts
    via regexp_extract_all, redaction via chained regexp_replace."""
    from deimos_spark.functions.text import pii_counts, scrub_pii

    d = _docs_spread(spark, sf_dir)
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1"),
    )
    counts = pii_counts(aug)
    e = d.select(
        "lang",
        aug.alias("_t"),
        counts["email"].alias("_e"),
        counts["phone"].alias("_p"),
        counts["ipv4"].alias("_i"),
    )
    return (
        e.groupBy("lang")
        .agg(
            F.sum("_e").cast("bigint").alias("emails"),
            F.sum("_p").cast("bigint").alias("phones"),
            F.sum("_i").cast("bigint").alias("ipv4s"),
            F.sum(F.length("_t") - F.length(scrub_pii(F.col("_t"))))
            .cast("bigint")
            .alias("chars_redacted"),
        )
        .transform(sort_small, "lang")
    )


def q_pack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t17: shard-parallel sequence-packing plan — per (shard, window)
    doc/token counts for contiguous packing at capacity 512, sharded by
    md5 bucket so the window partitions are bounded (a GLOBAL pack
    order would be the single-partition-window scale-killer)."""
    from deimos_spark.operators.packing import pack_plan

    return pack_plan(_docs(spark, sf_dir), capacity=512, shards=16)


def q_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t25: token-window document chunking — every doc split into
    sliding windows of ≤64 whitespace tokens with 16-token overlap
    (the pre-tokenization step context-bounded trainers and RAG
    indexers run). Pure column exprs + one posexplode: scan-speed at
    any scale, chunk-exact oracle."""
    from deimos_spark.operators.chunking import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir),
        id_cols=("doc_id",),
        chunk_size=64,
        overlap=16,
    )


def q_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t26: cross-document exact-substring dedup at 8-token-segment
    granularity (Lee et al. 2022 shape) — segments shared by ≥2 docs
    drop everywhere; per-doc counts + cleaned-text md5. Hash-keyed
    shuffles only; scale-safe."""
    from deimos_spark.operators.chunking import exact_segment_dedup

    return exact_segment_dedup(
        _docs_spread(spark, sf_dir), segment_size=8, min_docs=2
    )


MIXTURE_TARGETS = {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.1, "zh": 0.1}


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t18: deterministic mixture sampling — downsample languages to the
    target shares keeping the largest feasible corpus; report per-lang
    kept counts (membership is md5-bucket stable, so the DuckDB oracle
    reproduces it row-for-row)."""
    from deimos_spark.operators.sampling import mixture_sample

    kept = mixture_sample(_docs(spark, sf_dir), "lang", MIXTURE_TARGETS, "doc_id")
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("kept"))
        .transform(sort_small, "lang")
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t19: Gopher-style rule-based quality filter (Rae et al. 2021,
    arXiv:2112.11446) — per-language rule pass counts plus the full
    conjunction; one codegen'd projection per doc, one hash aggregate."""
    from deimos_spark.functions.text import gopher_flags

    d = _docs_spread(spark, sf_dir)
    flags = gopher_flags("text")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            *[
                F.sum(f.cast("int")).cast("bigint").alias(name)
                for name, f in flags.items()
            ],
        )
        .transform(sort_small, "lang")
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t21: DSIR hashed-n-gram importance weights (Xie et al. 2023,
    arXiv:2302.03169) with the 'en' subset as the target distribution —
    the 15 most target-like documents by log importance weight. The
    'model' is a ≤4096-row broadcast of per-bucket log-ratios; the
    corpus pays one tokenize+hash projection and three hash aggregates
    (operators/dsir.py has the full scale argument; the
    distinct-token-hash variant measured slower — see t23's note)."""
    from deimos_spark.operators import dsir

    w = dsir.dsir_log_weights(
        _docs_spread(spark, sf_dir), F.col("lang") == "en"
    )
    return (
        w.select("doc_id", F.round("log_weight", 4).alias("log_weight"))
        .orderBy(F.desc("log_weight"), "doc_id")
        .limit(15)
    )


def q_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t23: CCNet-style LM quality scoring (Wenzek et al. 2020,
    arXiv:1911.00359) — mean token negative log-prob under a hashed
    unigram model of the 'en' subset; the 15 most target-like (lowest
    score) documents. Same broadcast-model shape as t21 (operators/
    dsir.py has the scale argument).

    Perf posture (r11): VERDICT r10 #1's distinct-token-hash rewrite
    was implemented, MEASURED (interleaved fresh-lineage A/B, see
    dsir._per_doc_bucket_counts), and found slower than inline
    hashing at sf0.1 (1.54s vs 1.69/1.98s medians — vocab is 31
    words, so the saved md5 CPU is worth less than the added
    exchange); inline stays the default, the rewrite stays available
    via distinct_token_hash=True. md5 stays the bucket hash because
    it is the ONLY hash both engines compute identically (DuckDB has
    no crc32/xxhash; Spark hash() != DuckDB hash()), so the oracle
    pins it; the plan is single-tokenize (ReusedExchange-gated) +
    broadcast model."""
    from deimos_spark.operators import dsir

    s = dsir.unigram_ppl_scores(_docs_spread(spark, sf_dir), F.col("lang") == "en")
    return (
        s.select(
            "doc_id", "n_tokens", F.round("ppl_score", 4).alias("ppl_score")
        )
        .orderBy("ppl_score", "doc_id")
        .limit(15)
    )


def q_classifier_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t29: fastText-style linear classifier inference (Joulin et al.
    2016, arXiv:1607.01759) — the quality-filter staple of public LLM
    data pipelines. Seeded integer weights over md5-hashed unigram
    features; score = exact-integer sum / one float division, so the
    DuckDB oracle matches bit-for-bit with NO rounding convention.
    ZERO shuffle: tokenize+hash+weigh+sum run inside one codegen
    projection (transform+aggregate over the token array — no explode,
    no groupBy); the top-20 is the only exchange."""
    from deimos_spark.operators import classifier

    return (
        classifier.classifier_scores(_docs_spread(spark, sf_dir))
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


def q_classifier_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t29b: t29 with fastText wordNgrams=2 — unigrams + adjacent
    bigrams share the hash space (zip_with over two slices of the SAME
    token array; still zero-shuffle)."""
    from deimos_spark.operators import classifier

    return (
        classifier.classifier_scores(
            _docs_spread(spark, sf_dir), word_ngrams=2
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


def q_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t30: Bloom-prefiltered incremental dedup — the new-batch-vs-corpus
    step of a continuously-ingesting pipeline (operators/bloomdedup.py
    has the full scale argument). Corpus = 19/20 md5-buckets of the
    docs, increment = the other; answer = increment doc_ids whose
    content hash is NOT in the corpus. The Bloom bitmap prunes the
    probe side map-side and the confirm join restores exactness, so
    the result is bit-for-bit the anti-join's — oracle-checkable even
    with a probabilistic structure in the middle. Corpus-side cost is
    two column-pruned scans and ZERO shuffles."""
    from deimos_spark.operators import bloomdedup
    from deimos_spark.operators.sampling import hash_bucket

    d = _docs(spark, sf_dir)
    b = hash_bucket("doc_id", buckets=20, salt="t30")
    # size the bitmap from parquet METADATA (total docs — a cheap upper
    # bound on the corpus split), not a count job: oversizing only
    # wastes capped bitmap space, and it saves one Spark job per build
    n_hint = None
    try:
        import glob as _glob
        import os as _os

        import pyarrow.parquet as _papq

        p = _os.path.join(sf_dir, "documents.parquet")
        files = (
            _glob.glob(_os.path.join(p, "**", "*.parquet"), recursive=True)
            if _os.path.isdir(p)
            else [p]
        )
        n_hint = sum(_papq.read_metadata(f).num_rows for f in files)
    except Exception:
        pass  # fall back to the sizing scan
    out = bloomdedup.incremental_new_docs(
        corpus=d.filter(b != 0), increment=d.filter(b == 0),
        n_items=n_hint,
    )
    return out.select("doc_id").orderBy("doc_id")


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t24: cross-source contamination matrix — for every pair of
    sources, how many distinct CONTENTS (md5 of text) appear in both.
    The audit a multi-dump pipeline runs before mixing crawls (verbatim
    overlap across dumps inflates effective epochs). One projection →
    distinct (source, hash) → self equi-join on the 16-byte hash →
    one hash aggregate; join keys are hashes (uniform, no skew) and the
    relation entering the join is already content-deduped per source,
    so cost scales with unique content, not raw rows."""
    d = _docs(spark, sf_dir)
    s = d.select("source", F.md5("text").alias("ck")).distinct()
    a = s.alias("a")
    b = s.alias("b")
    shared = (
        a.join(b, "ck")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.countDistinct("ck").cast("bigint").alias("shared_contents"))
    )
    # every source pair appears, zero-overlap pairs included — the
    # audit's "clean" verdict is as much signal as its hits (and the
    # source list is dimension-sized: the pair frame broadcasts).
    # Derived from `s`, not the raw table: Spark reuses the distinct
    # exchange instead of scanning documents a third time
    srcs = s.select("source").distinct()
    pairs = (
        srcs.alias("sa")
        .crossJoin(srcs.alias("sb"))
        .filter(F.col("sa.source") < F.col("sb.source"))
        .select(
            F.col("sa.source").alias("source_a"),
            F.col("sb.source").alias("source_b"),
        )
    )
    return (
        # both sides of the fill-in join are pair-cardinality (≤ n_src²)
        # — broadcast keeps it a map-side hash join, no sort-merge
        pairs.join(F.broadcast(shared), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce("shared_contents", F.lit(0)).cast("bigint").alias(
                "shared_contents"
            ),
        )
        .transform(sort_small, "source_a", "source_b")
    )


def q_dedup_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t22: train/test leakage audit — split the corpus two ways (by
    doc_id vs by content hash, `sampling.dedup_safe_split`) and count
    the contents that straddle splits. The id-keyed split leaks every
    duplicate pair across the boundary; the content-keyed split is
    structurally leak-free. One projection + two hash aggregates per
    method; no joins."""
    from deimos_spark.operators import sampling

    d = _docs(spark, sf_dir)
    weights = {"train": 0.9, "test": 0.1}

    def audit(split_df: DataFrame, method: str) -> DataFrame:
        per_content = split_df.groupBy(F.md5("text").alias("ck")).agg(
            F.countDistinct("split").alias("ns"),
            F.count(F.lit(1)).alias("docs"),
        )
        return per_content.agg(
            F.count(F.lit(1)).cast("bigint").alias("contents"),
            F.sum("docs").cast("bigint").alias("docs"),
            F.sum((F.col("ns") > 1).cast("int")).cast("bigint").alias(
                "leaked_contents"
            ),
        ).select(F.lit(method).alias("method"), "docs", "contents",
                 "leaked_contents")

    naive = audit(sampling.hash_split(d, "doc_id", weights, salt="leak"), "naive")
    safe = audit(
        sampling.dedup_safe_split(d, "text", weights, salt="leak"), "safe"
    )
    return naive.unionByName(safe).orderBy("method")


def q_cosine_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine >= 0.4 — oracle-checked baseline for t08."""
    return simsearch.pairwise_cosine_exact(_emb(spark, sf_dir), threshold=0.4)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t27: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) —
    cluster-then-prune semantic dedup over the embedding column with a
    seeded, SQL-reproducible assignment (md5-selected centroids; the
    production path plugs simsearch.ivf_train centroids in instead).
    All-integer per-cluster output: (cluster_id, n_vectors,
    n_removed)."""
    from deimos_spark.operators.semdedup import semdedup_summary

    # no spread_small since r11: the fused assignment kernel made the
    # pre-shuffle trivial (argmax per batch), so the round-robin
    # redistribution only added an exchange — measured +0.37s at sf0.1
    return semdedup_summary(
        _emb(spark, sf_dir),
        n_clusters=8,
        threshold=0.4,
    )


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t20: duplicate-CLUSTER formation — connected components over the
    t09 near-dup pair relation (iterative min-label propagation), sized.
    The step a real dedup pipeline runs between pair generation and
    keep-one-per-cluster; oracle = DuckDB recursive-CTE transitive
    closure over the identical pair SQL. Edges come from the
    METRIC-BALL-BLOCKED exact operator (r14) — the same relation as
    t09's BNLJ baseline bit-for-bit (tests/test_blocked_pairs.py), at
    the subquadratic plan t28 already uses."""
    from deimos_spark.operators.graph import cluster_sizes

    edges = simsearch.pairwise_cosine_exact_blocked(
        _emb(spark, sf_dir), threshold=0.4
    )
    return cluster_sizes(edges, "id_a", "id_b")


def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t28: APPLY the dedup decision end-to-end — near-dup pairs (the
    t09 relation, produced by the METRIC-BALL-BLOCKED exact operator:
    identical pair set, no Θ(n²) BNLJ — simsearch.
    pairwise_cosine_exact_blocked) → connected components (t20
    machinery) → keep each cluster's min-id representative → the
    SURVIVING corpus ids. The step a real pipeline runs to materialize
    the deduped training set; oracle = the recursive-CTE closure over
    the same exact pair relation + keep rule."""
    from deimos_spark.operators.graph import keep_representatives

    emb = _emb(spark, sf_dir)
    edges = simsearch.pairwise_cosine_exact_blocked(emb, threshold=0.4)
    kept = keep_representatives(emb, edges, "vec_id")
    return kept.select("vec_id").orderBy("vec_id")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    return load_table(spark, sf_dir, "events")


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest signup at or
    before it (union-window plan — one shuffle, no pair blowup)."""
    e = _events(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id")
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id"
    )
    out = asof.asof_join(
        purchases, signups, ["user_id"], "ts", ["event_id"], strict=False
    )
    return out.select(
        F.col("event_id"), F.col("event_id_right").alias("matched_id")
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: (view → purchase) pairs within 10 minutes, same user.
    ts is long nanos → bounds in nanos."""
    e = _events(spark, sf_dir)
    views = e.filter(F.col("event_type") == "view")
    purchases = e.filter(F.col("event_type") == "purchase")
    pairs = asof.interval_join(
        views.select("user_id", "ts"),
        purchases.select("user_id", "ts"),
        ["user_id"],
        "ts",
        "ts",
        lower=0,
        upper=600 * 10**9,
    )
    return pairs.agg(F.count(F.lit(1)).alias("cnt"))


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event counts per user (explicit value list → fixed columns,
    which is also what keeps pivot scalable: one pass, no value discovery)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (continuous interpolation) per group. One
    `percentile(col, array(...))` call, not one per quantile — Spark's
    exact percentile is a TypedImperativeAggregate whose buffer holds
    the group's value multiset, so N separate calls buffer (and
    shuffle-serialize) the data N times; the array form pays once."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, array(0.5, 0.9))").alias("__p")
        )
        .select(
            "o_orderstatus",
            F.round(F.col("__p")[0], 2).alias("p50"),
            F.round(F.col("__p")[1], 2).alias("p90"),
        )
    )


def q_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: daily aggregates composed FROM
    the hourly continuous aggregate (re-aggregation, not re-scan) — the
    pattern that makes multi-resolution rollups cheap at scale."""
    e = _events(spark, sf_dir)
    ts = F.timestamp_micros(F.expr("ts div 1000"))
    hourly = e.groupBy(F.date_trunc("hour", ts).alias("h")).agg(
        F.count(F.lit(1)).alias("c"), F.sum("value").alias("sv")
    )
    daily = (
        hourly.groupBy(F.date_trunc("day", F.col("h")).alias("d"))
        .agg(F.sum("c").alias("c"), F.round(F.sum("sv"), 2).alias("sum_value"))
        .select(F.col("d").cast("date").cast("string").alias("day_s"), "c", "sum_value")
    )
    return daily


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-word segmentation stats (regex pre-tokenization)."""
    d = _docs(spark, sf_dir)
    pieces = F.expr(
        "regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)"
    )
    return (
        d.select("lang", F.size(pieces).alias("np"))
        .groupBy("lang")
        .agg(
            F.sum("np").cast("bigint").alias("total_pieces"),
            F.round(F.avg("np"), 2).alias("avg_pieces"),
        )
    )


def q_bpe_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED BPE tokenizer stats (t10b): real merges learned from the
    corpus (operators/bpe.py — one word-count aggregate + driver-side
    merge loop over a ≤4096-word table), applied once per DISTINCT word
    via an Arrow-batched pandas UDF and joined back. Deterministic
    (ties by lexicographic pair; vocabulary by count desc, word asc),
    so rows-only driver checks are stable; exact-equality gating vs a
    pure-Python reference lives in tests/test_bpe.py."""
    from deimos_spark.operators import bpe

    d = _docs(spark, sf_dir)
    # ONE tokenize pass (r16): training and stats both consume the
    # (lang, word, _n) counts relation, checkpointed so the corpus
    # explode+aggregate runs once instead of once per consumer (the
    # training collect is a SEPARATE action, so exchange reuse cannot
    # span it — only a materialized intermediate can). The relation is
    # group-vocabulary-sized (distinct (lang, word) pairs — bounded,
    # never occurrence rows), so pinning it is cheap at any corpus
    # scale; the checkpoint lives inside one prepared plan and is
    # rebuilt from parquet whenever the builder runs (the bench clears
    # the plan cache per timed run, so every timed run recomputes).
    # Merge budget sized to the corpus: the synthetic documents table
    # draws from a ~31-word pool, so a GPT-style 10k-merge budget would
    # fully merge every word (constant 1 piece/word — a degenerate
    # model); 25 merges keeps frequent words whole and rare words split,
    # which is the behavior the stats are meant to surface.
    wf = bpe.grouped_word_counts(d, "text", "lang").localCheckpoint()
    merges = bpe.train_bpe_from_counts(wf, num_merges=25, vocab_words=4096)
    return sort_small(
        bpe.bpe_token_stats_from_counts(wf, merges, "lang"), "lang"
    )


# SURVEY §7 Phase 0 `run_sql`: the SQL-string entry point. ONE ANSI
# statement, used verbatim as BOTH the Spark query (through
# Engine.attach_catalog().sql()) and the DuckDB oracle — the strongest
# possible proof the path works end-to-end: same text, two engines,
# hash-identical results.
SQL_ENTRY_STATEMENT = (
    "SELECT n_name, "
    "CAST(count(*) AS BIGINT) AS customers, "
    "round(sum(c_acctbal), 2) AS total_acctbal "
    "FROM customer "
    "JOIN nation ON c_nationkey = n_nationkey "
    "GROUP BY n_name "
    "HAVING count(*) > 2 "
    "ORDER BY n_name"
)


def q_sql_string_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-string entry (Engine.sql): register catalog views, run the
    raw ANSI string. Declarative end-to-end — Catalyst sees the same
    logical plan it would from the DataFrame API, so pushdown/pruning/
    broadcast all still apply through the views."""
    from deimos_spark.engine import Engine

    return Engine(spark).attach_catalog(sf_dir).sql(SQL_ENTRY_STATEMENT)


# second same-text proof, documents family: window function + filter
# through the SQL entry (exercises a different plan shape than s01's
# join+agg — rank window, subquery, string length)
SQL_ENTRY_DOCS = (
    "SELECT lang, doc_id, text_len FROM ("
    "SELECT lang, doc_id, CAST(length(text) AS BIGINT) AS text_len, "
    "row_number() OVER (PARTITION BY lang ORDER BY length(text) DESC, "
    "doc_id) AS rn FROM documents) t "
    "WHERE rn <= 3 ORDER BY lang, text_len DESC, doc_id"
)


def q_sql_string_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deimos_spark.engine import Engine

    return Engine(spark).attach_catalog(sf_dir).sql(SQL_ENTRY_DOCS)


# third same-text proof (VERDICT r9 #8): full TPC-H Q1 text — the
# aggregate battery (8 aggregates, arithmetic expressions inside sums),
# WHERE, GROUP BY, ORDER BY in one statement, identical text on both
# engines. round() bounds float-sum order sensitivity exactly as the
# h01 DataFrame twin's oracle does.
SQL_ENTRY_TPCH_Q1 = (
    "SELECT l_returnflag, l_linestatus, "
    "round(sum(l_quantity), 2) AS sum_qty, "
    "round(sum(l_extendedprice), 2) AS sum_base_price, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
    "round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) "
    "AS sum_charge, "
    "round(avg(l_quantity), 4) AS avg_qty, "
    "round(avg(l_extendedprice), 4) AS avg_price, "
    "round(avg(l_discount), 4) AS avg_disc, "
    "CAST(count(*) AS BIGINT) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-06-30' "
    "GROUP BY l_returnflag, l_linestatus "
    "ORDER BY l_returnflag, l_linestatus"
)


def q_sql_string_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deimos_spark.engine import Engine

    return Engine(spark).attach_catalog(sf_dir).sql(SQL_ENTRY_TPCH_Q1)


# fourth same-text proof (VERDICT r10 #8): the WINDOW-FUNCTION battery
# as one ANSI statement — ranking (B18) + analytic frames (B19) through
# Engine.sql, identical text on both engines. Every windowed value is
# chosen exact-by-construction so the comparison needs no tolerance:
# the running sum aggregates DECIMAL(18,2) (order-insensitive exact,
# then cast back to a common type — Spark widens sum(decimal) to
# (28,2), DuckDB to (38,2)); rank is cast to BIGINT (Spark int vs
# DuckDB bigint); lag and the sliding max pass input doubles through
# untouched.
SQL_ENTRY_WINDOW = (
    "SELECT o_custkey, o_orderkey, "
    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER ("
    "PARTITION BY o_custkey ORDER BY o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "AS DECIMAL(18,2)) AS running_spend, "
    "CAST(rank() OVER (PARTITION BY o_custkey "
    "ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS spend_rank, "
    "lag(o_totalprice, 1) OVER (PARTITION BY o_custkey "
    "ORDER BY o_orderkey) AS prev_price, "
    "max(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey "
    "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS max3 "
    "FROM orders WHERE o_custkey < 200 "
    "ORDER BY o_custkey, o_orderkey"
)


def q_sql_string_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deimos_spark.engine import Engine

    return Engine(spark).attach_catalog(sf_dir).sql(SQL_ENTRY_WINDOW)


# --------------------------------------------------------------------------
# Oracle SQL helpers (shared expression fragments, DuckDB dialect)
# --------------------------------------------------------------------------

_DUCK_TOKENS = r"string_split_regex(trim(text), '\s+')"


def _duck_shingles(text_expr: str, n: int = 3) -> str:
    w = f"string_split_regex(trim({text_expr}), '\\s+')"
    return (
        f"list_transform(generate_series(1, greatest(len({w}) - {n - 1}, 1)), "
        f"i -> array_to_string(({w})[i:i+{n - 1}], ' '))"
    )


def _duck_lang_scores() -> str:
    parts = []
    for lang, words in LANG_PROBES.items():
        hits = " + ".join(
            f"len(regexp_extract_all(text, '\\b{w}\\b'))" for w in words
        )
        parts.append(f"({hits}) AS s_{lang}")
    return ", ".join(parts)


_DUCK_LANG_CASE = (
    "CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en' "
    "WHEN s_de >= s_fr AND s_de >= s_es THEN 'de' "
    "WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END"
)

_DUCK_QUALITY = (
    "round(greatest(0.0, least(1.0, "
    "length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text) "
    "- length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / length(text) "
    f"- CASE WHEN length(text) / len({_DUCK_TOKENS}) > 12 THEN 0.2 ELSE 0.0 END"
    ")), 4)"
)


# --------------------------------------------------------------------------
# The registry
# --------------------------------------------------------------------------

def all_queries() -> dict[str, QuerySpec]:
    r = relational
    specs = [
        QuerySpec(
            "b01_scan_count", r.scan_count,
            "SELECT CAST(count(*) AS BIGINT) AS cnt FROM lineitem",
        ),
        QuerySpec(
            "b02_projection", r.projection,
            "SELECT l_orderkey, l_quantity FROM lineitem "
            "ORDER BY l_orderkey, l_linenumber LIMIT 100",
        ),
        QuerySpec(
            "b03_filter", r.filter_predicates,
            "SELECT CAST(count(*) AS BIGINT) AS cnt FROM orders "
            "WHERE o_orderstatus IN ('F','O') "
            "AND o_totalprice BETWEEN 1000 AND 200000 "
            "AND o_orderpriority LIKE '1%'",
        ),
        QuerySpec(
            "b04_join_inner", r.join_inner,
            "SELECT n_name, CAST(count(*) AS BIGINT) AS c FROM customer "
            "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name",
        ),
        QuerySpec(
            "b05_join_multiway", r.join_multiway,
            "SELECT r_name, CAST(count(*) AS BIGINT) AS c FROM customer "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name",
        ),
        QuerySpec(
            "b06_join_left_outer", r.join_left_outer,
            "SELECT CAST(count(*) AS BIGINT) AS cnt FROM customer "
            "LEFT JOIN orders ON c_custkey = o_custkey WHERE o_orderkey IS NULL",
        ),
        QuerySpec(
            "b07_join_semi", r.join_semi,
            "SELECT CAST(count(*) AS BIGINT) AS cnt FROM customer "
            "WHERE c_custkey IN (SELECT o_custkey FROM orders)",
        ),
        QuerySpec(
            "b08_join_anti", r.join_anti,
            "SELECT CAST(count(*) AS BIGINT) AS cnt FROM customer "
            "WHERE c_custkey NOT IN "
            "(SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)",
        ),
        QuerySpec(
            "b09_join_broadcast", r.join_broadcast_hint,
            "SELECT r_name, CAST(count(*) AS BIGINT) AS c FROM customer "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name",
            note="plan-level op: result must equal b05",
        ),
        QuerySpec(
            "b10_join_theta", r.join_theta,
            "SELECT CAST(count(*) AS BIGINT) AS cnt FROM lineitem l "
            "JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "AND l.l_shipdate > o.o_orderdate",
        ),
        QuerySpec(
            "b11_agg_hash", r.agg_hash,
            "SELECT l_returnflag, l_linestatus, "
            "round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_base_price, "
            "round(avg(l_discount), 4) AS avg_disc, "
            "CAST(count(*) AS BIGINT) AS count_order "
            "FROM lineitem GROUP BY l_returnflag, l_linestatus",
        ),
        QuerySpec(
            "b12_distinct_count", r.distinct_count,
            "SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS cnt FROM orders",
        ),
        QuerySpec(
            "b13_approx_distinct", r.approx_distinct, None,
            note="HLL++ approximate — rows-only check (±5% vs exact by design)",
        ),
        QuerySpec(
            "b14_rollup", r.rollup_agg,
            "SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS c "
            "FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)",
        ),
        QuerySpec(
            "b14b_grouping_sets", r.grouping_sets,
            "SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS c "
            "FROM orders "
            "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ()) "
            "ORDER BY o_orderstatus ASC NULLS FIRST, "
            "o_orderpriority ASC NULLS FIRST, c",
        ),
        QuerySpec(
            "b14c_cube", r.cube_agg,
            "SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS c "
            "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) "
            "ORDER BY o_orderstatus ASC NULLS FIRST, "
            "o_orderpriority ASC NULLS FIRST, c",
        ),
        QuerySpec(
            "b15_having", r.having,
            "SELECT o_custkey, CAST(count(*) AS BIGINT) AS c FROM orders "
            "GROUP BY o_custkey HAVING count(*) > 5 "
            "ORDER BY c DESC, o_custkey LIMIT 20",
        ),
        QuerySpec(
            "b16_sort_topk", r.sort_topk,
            "SELECT o_orderkey FROM orders "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 50",
        ),
        QuerySpec(
            "b17_limit", r.limit_simple,
            "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 10",
        ),
        QuerySpec(
            "b18_window_rank", r.window_rank,
            "SELECT c_mktsegment, c_custkey FROM ("
            "SELECT c_mktsegment, c_custkey, row_number() OVER ("
            "PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) rn "
            "FROM customer) t WHERE rn <= 3 ORDER BY c_mktsegment, c_custkey",
        ),
        QuerySpec(
            "b18b_window_analytics", r.window_analytics,
            "SELECT c_mktsegment, c_custkey, prev_k, next_k, richest_k, quartile "
            "FROM (SELECT c_mktsegment, c_custkey, "
            "lag(c_custkey, 1) OVER w AS prev_k, "
            "lead(c_custkey, 1) OVER w AS next_k, "
            "first_value(c_custkey) OVER w AS richest_k, "
            "CAST(ntile(4) OVER w AS INT) AS quartile "
            "FROM customer WINDOW w AS "
            "(PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)) "
            "ORDER BY c_mktsegment, c_custkey LIMIT 100",
        ),
        QuerySpec(
            "b19b_window_range", r.window_range_frame,
            "SELECT o_custkey, o_orderkey, "
            "round(sum(o_totalprice) OVER (PARTITION BY o_custkey "
            "ORDER BY o_totalprice RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW), 2) "
            "AS near_total FROM orders ORDER BY o_custkey, o_orderkey LIMIT 100",
        ),
        QuerySpec(
            "b19_window_running", r.window_running,
            "SELECT o_custkey, o_orderkey, round(sum(o_totalprice) OVER ("
            "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_total "
            "FROM orders ORDER BY o_custkey, o_orderkey LIMIT 100",
        ),
        QuerySpec(
            "b20_keep_last_per_key", r.keep_last_per_key,
            "SELECT user_id, event_type FROM ("
            "SELECT user_id, event_type, row_number() OVER ("
            "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn "
            "FROM events) t WHERE rn = 1",
            note="deimos per-batch compaction (A14), analytic form",
        ),
        QuerySpec(
            "b21_union_distinct", r.union_distinct,
            "SELECT CAST(count(*) AS BIGINT) AS cnt FROM ("
            "SELECT o_custkey AS k FROM orders "
            "UNION SELECT c_custkey FROM customer) t",
        ),
        QuerySpec(
            "b22_intersect", r.intersect_keys,
            "SELECT CAST(count(*) AS BIGINT) AS cnt FROM ("
            "SELECT c_custkey AS k FROM customer "
            "INTERSECT SELECT o_custkey FROM orders) t",
        ),
        QuerySpec(
            "b22b_except", r.except_keys,
            "SELECT CAST(count(*) AS BIGINT) AS cnt FROM ("
            "SELECT c_custkey AS k FROM customer "
            "EXCEPT SELECT o_custkey FROM orders) t",
        ),
        QuerySpec(
            "b23_scalar_subquery", r.scalar_subquery,
            "SELECT CAST(count(*) AS BIGINT) AS cnt FROM orders "
            "WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)",
        ),
        QuerySpec(
            "b23b_exists_subquery", r.exists_subquery,
            "SELECT CAST(count(*) AS BIGINT) AS cnt FROM customer c "
            "WHERE EXISTS (SELECT 1 FROM orders o "
            "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)",
        ),
        QuerySpec(
            "b25b_string_gauntlet", r.string_gauntlet,
            "SELECT concat_ws('-', c_mktsegment, c_name) AS cw, "
            "regexp_replace(c_name, '[aeiou]', '_', 'g') AS rr, "
            "lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS lp, "
            "reverse(c_mktsegment) AS rev, "
            "CAST(instr(c_name, 'e') AS INT) AS pos "
            "FROM customer ORDER BY c_custkey LIMIT 10",
        ),
        QuerySpec(
            "b26b_date_gauntlet", r.date_gauntlet,
            "SELECT o_orderkey, "
            "CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') AS INT) AS dd, "
            "CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) "
            "AS VARCHAR) AS plus30, "
            "CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS eom, "
            "CAST(quarter(o_orderdate) AS INT) AS q, "
            "CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow "
            "FROM orders ORDER BY o_orderkey LIMIT 20",
            note="dow: DuckDB 0=Sunday vs Spark 1=Sunday — aligned via +1",
        ),
        QuerySpec(
            "b13b_approx_quantile", r.approx_quantile_sketch, None,
            note="approximate percentile sketch — rows-only",
        ),
        QuerySpec(
            "b24_case_when", r.case_when,
            "SELECT CAST(sum(CASE WHEN o_orderpriority LIKE '1%' "
            "THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent FROM orders",
        ),
        QuerySpec(
            "b25_string_funcs", r.string_funcs,
            "SELECT upper(substr(c_name, 1, 8)) AS u, "
            "CAST(length(c_name) AS INT) AS l FROM customer "
            "ORDER BY c_custkey LIMIT 20",
        ),
        QuerySpec(
            "b26_date_funcs", r.date_funcs,
            "SELECT CAST(year(o_orderdate) AS INT) AS y, "
            "CAST(month(o_orderdate) AS INT) AS m, "
            "CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1, 2",
        ),
        QuerySpec(
            "b27_math_funcs", r.math_funcs,
            "SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
            "FROM lineitem WHERE l_discount BETWEEN 0.05 AND 0.07",
        ),
        QuerySpec(
            "b28_json_funcs", r.json_funcs,
            "SELECT CAST(count(*) AS BIGINT) AS cnt FROM events "
            "WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50",
        ),
        QuerySpec(
            "b29_array_funcs", r.array_funcs,
            "SELECT CAST(count(*) AS BIGINT) AS cnt FROM embeddings "
            "WHERE len(embedding) = 64",
        ),
        QuerySpec(
            "c04_time_bucket", r.time_bucket,
            "SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS bucket_s, "
            "CAST(count(*) AS BIGINT) AS c, round(sum(value), 2) AS sum_value "
            "FROM events GROUP BY 1",
            note="batch form of streaming tumbling-window agg (SURVEY C4)",
        ),
        QuerySpec(
            "a15_batch_slicer", r.batch_slicer_histogram,
            "SELECT slice, CAST(count(*) AS BIGINT) AS c FROM ("
            "SELECT CAST(row_number() OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS slice "
            "FROM events) t GROUP BY slice",
            note="deimos BatchSlicer (A15), analytic form",
        ),
        # ---------------- LLM-data operators ----------------
        QuerySpec(
            "b31_dedup_exact", q_dedup_exact,
            "SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) AS cnt FROM documents",
        ),
        QuerySpec(
            "b31b_dedup_keep_min", q_dedup_keep_min_id,
            "SELECT CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids FROM ("
            "SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) t",
        ),
        QuerySpec(
            "b32_text_stats", q_text_stats,
            "SELECT lang, CAST(count(*) AS BIGINT) AS c, "
            "round(avg(n_chars), 2) AS avg_chars FROM documents GROUP BY lang",
        ),
        QuerySpec(
            "t01_token_stats", q_token_stats,
            "SELECT lang, "
            f"round(avg(len({_DUCK_TOKENS})), 2) AS avg_tokens, "
            f"CAST(sum(len({_DUCK_TOKENS})) AS BIGINT) AS total_tokens "
            "FROM documents GROUP BY lang",
        ),
        QuerySpec(
            "t02_lang_id", q_lang_id,
            f"WITH s AS (SELECT text, lang, {_duck_lang_scores()} FROM documents) "
            f"SELECT {_DUCK_LANG_CASE} AS lang_pred, "
            "CAST(count(*) AS BIGINT) AS c, "
            f"CAST(sum(CASE WHEN ({_DUCK_LANG_CASE}) = lang THEN 1 ELSE 0 END) "
            "AS BIGINT) AS agree FROM s GROUP BY 1",
        ),
        QuerySpec(
            "t03_quality", q_quality,
            f"SELECT source, round(avg({_DUCK_QUALITY}), 3) AS avg_q, "
            "CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY source",
        ),
        QuerySpec(
            "t04_fingerprint", q_fingerprint,
            "SELECT substr(md5(text), 1, 1) AS bucket, "
            "CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY 1",
        ),
        QuerySpec(
            "b33_simsearch_topk", q_simsearch_topk,
            "SELECT vec_id, round(list_cosine_similarity("
            "CAST(embedding AS DOUBLE[]), "
            "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)"
            "), 4) AS sim FROM embeddings ORDER BY sim DESC, vec_id LIMIT 10",
        ),
        QuerySpec(
            "b33c_simsearch_ivf", q_simsearch_ivf, None,
            note="IVF (k-means coarse quantizer, nprobe=6/8) ANN — rows-only",
        ),
        QuerySpec(
            "b33b_simsearch_lsh", q_simsearch_lsh, None,
            note="SRP-LSH approximate top-k — rows-only",
        ),
        QuerySpec(
            "b33d_simsearch_pq", q_simsearch_pq, None,
            note="IVF-PQ + exact re-rank (IVFADC+R) ANN — rows-only",
        ),
        QuerySpec(
            "t05_jaccard_vs_query", q_jaccard_vs_query,
            "WITH q AS (SELECT text AS qt FROM documents WHERE doc_id = 0) "
            "SELECT doc_id, round(CASE WHEN uni = 0 THEN 0.0 ELSE inter / uni END, 4) "
            "AS jaccard FROM ("
            "SELECT doc_id, "
            f"len(list_intersect(list_distinct({_duck_shingles('text')}), "
            f"list_distinct({_duck_shingles('qt')}))) AS inter, "
            f"len(list_distinct(list_concat(list_distinct({_duck_shingles('text')}), "
            f"list_distinct({_duck_shingles('qt')})))) AS uni "
            "FROM documents, q) t ORDER BY jaccard DESC, doc_id LIMIT 20",
        ),
        QuerySpec(
            "t06_minhash_pairs", q_minhash_pairs, None,
            note="MinHash-LSH near-dup — xxhash64 seeds not in DuckDB; rows-only",
        ),
        QuerySpec(
            "t07_simhash_pairs", q_simhash_pairs, None,
            note="SimHash near-dup — rows-only",
        ),
        QuerySpec(
            "t08_embedding_neardup", q_embedding_neardup, None,
            note="LSH-bucketed cosine near-dup — rows-only",
        ),
        QuerySpec(
            "x01_asof_join", q_asof_join,
            "SELECT l.event_id, r.event_id AS matched_id FROM "
            "(SELECT * FROM events WHERE event_type = 'purchase') l "
            "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r "
            "ON l.user_id = r.user_id AND r.ts <= l.ts",
            note="as-of join via union-window (custom operator)",
        ),
        QuerySpec(
            "x02_interval_join", q_interval_join,
            "SELECT CAST(count(*) AS BIGINT) AS cnt FROM "
            "(SELECT * FROM events WHERE event_type = 'view') l JOIN "
            "(SELECT * FROM events WHERE event_type = 'purchase') r "
            "ON l.user_id = r.user_id "
            "AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 600 SECONDS",
            note="interval join (equi key + range filter)",
        ),
        QuerySpec(
            "x03_pivot", q_pivot,
            "SELECT user_id, "
            + ", ".join(
                "CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
                " AS {t}".format(t=t)
                for t in EVENT_TYPES
            )
            + " FROM events GROUP BY user_id",
        ),
        QuerySpec(
            "x04_percentile", q_percentile,
            "SELECT o_orderstatus, "
            "round(quantile_cont(o_totalprice, 0.5), 2) AS p50, "
            "round(quantile_cont(o_totalprice, 0.9), 2) AS p90 "
            "FROM orders GROUP BY o_orderstatus",
        ),
        QuerySpec(
            "x05_rollup_hierarchy", q_rollup_hierarchy,
            "SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day_s, "
            "CAST(count(*) AS BIGINT) AS c, round(sum(value), 2) AS sum_value "
            "FROM events GROUP BY 1",
            note="daily rollup computed from hourly aggregate (hierarchical)",
        ),
        QuerySpec(
            "t10_bpe_tokens", q_bpe_tokens,
            "SELECT lang, "
            "CAST(sum(len(regexp_extract_all(text, "
            "'[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT) AS total_pieces, "
            "round(avg(len(regexp_extract_all(text, "
            "'[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))), 2) AS avg_pieces "
            "FROM documents GROUP BY lang",
        ),
        QuerySpec(
            "t10b_bpe_real", q_bpe_real, None,
            note="trained-BPE tokenizer (merge learning + subword "
            "segmentation) — no SQL form; exact-gated vs a pure-Python "
            "reference in tests/test_bpe.py",
        ),
        QuerySpec(
            "x06_funnel", q_funnel,
            "WITH s0 AS (SELECT user_id AS u, min(ts) AS t FROM events "
            "WHERE event_type = 'signup' GROUP BY user_id), "
            "s1 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e "
            "JOIN s0 ON e.user_id = s0.u AND e.ts > s0.t "
            "WHERE e.event_type = 'view' GROUP BY e.user_id), "
            "s2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e "
            "JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t "
            "WHERE e.event_type = 'purchase' GROUP BY e.user_id), "
            "counts AS ("
            "SELECT 0 AS step_idx, 'signup' AS step, count(*) AS users FROM s0 "
            "UNION ALL SELECT 1, 'view', count(*) FROM s1 "
            "UNION ALL SELECT 2, 'purchase', count(*) FROM s2) "
            "SELECT CAST(step_idx AS INT) AS step_idx, step, "
            "CAST(users AS BIGINT) AS users, "
            "round(CASE WHEN lag(users) OVER (ORDER BY step_idx) IS NULL "
            "THEN 1.0 ELSE CAST(users AS DOUBLE) / "
            "lag(users) OVER (ORDER BY step_idx) END, 4) AS conv_rate "
            "FROM counts ORDER BY step_idx",
        ),
        QuerySpec(
            "x07_hll_rollup", q_hll_rollup, None,
            note="mergeable HLL sketch rollup — approximate, rows-only",
        ),
        QuerySpec(
            "x11_resample_ffill", q_resample_ffill,
            "WITH daily AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) "
            "AS day, arg_max(value, ts) AS v FROM events GROUP BY 1, 2), "
            "bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1 "
            "FROM daily GROUP BY 1), "
            "grid AS (SELECT user_id, CAST(unnest(generate_series("
            "CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) "
            "AS day FROM bounds) "
            "SELECT g.user_id, CAST(g.day AS VARCHAR) AS day_s, "
            "round(last_value(d.v IGNORE NULLS) OVER ("
            "PARTITION BY g.user_id ORDER BY g.day), 2) AS value_ff "
            "FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id "
            "AND g.day = d.day ORDER BY g.user_id, day_s",
            note="per-key daily grid + forward fill (gapfill analogue)",
        ),
        QuerySpec(
            "x13_sessionize", q_sessionize,
            "WITH e AS (SELECT user_id, epoch_ns(ts) AS tns, event_id "
            "FROM events), "
            "s AS (SELECT user_id, tns, event_id, "
            "CASE WHEN lag(tns) OVER w IS NULL OR "
            "tns - lag(tns) OVER w > 1800000000000 THEN 1 ELSE 0 END AS nb "
            "FROM e WINDOW w AS "
            "(PARTITION BY user_id ORDER BY tns, event_id)), "
            "c AS (SELECT user_id, sum(nb) OVER "
            "(PARTITION BY user_id ORDER BY tns, event_id "
            "ROWS UNBOUNDED PRECEDING) AS session_seq FROM s), "
            "sess AS (SELECT user_id, session_seq, count(*) AS n_events "
            "FROM c GROUP BY user_id, session_seq) "
            "SELECT n_events, CAST(count(*) AS BIGINT) AS n_sessions "
            "FROM sess GROUP BY n_events ORDER BY n_events",
            note="gap-based batch sessionization (30-min gap) histogram",
        ),
        QuerySpec(
            "x14_scd2_history", q_scd2_history,
            "WITH e AS (SELECT user_id, epoch_ns(ts) AS tns, event_id, "
            "event_type FROM events), "
            "s AS (SELECT user_id, tns, event_id, event_type, "
            "CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type "
            "THEN 1 ELSE 0 END AS chg FROM e WINDOW w AS "
            "(PARTITION BY user_id ORDER BY tns, event_id)), "
            "r AS (SELECT user_id, event_type, tns, "
            "sum(chg) OVER (PARTITION BY user_id ORDER BY tns, event_id "
            "ROWS UNBOUNDED PRECEDING) AS run_id FROM s), "
            "runs AS (SELECT user_id, run_id, min(event_type) AS event_type, "
            "min(tns) AS valid_from, max(tns) AS last_seen, "
            "count(*) AS n_events FROM r GROUP BY user_id, run_id), "
            "iv AS (SELECT *, lead(valid_from) OVER "
            "(PARTITION BY user_id ORDER BY run_id) AS valid_to FROM runs) "
            "SELECT event_type, CAST(count(*) AS BIGINT) AS n_runs, "
            "CAST(sum(n_events) AS BIGINT) AS n_events, "
            "CAST(max(last_seen - valid_from) AS BIGINT) AS max_run_ns, "
            "CAST(sum(last_seen - valid_from) AS BIGINT) AS sum_run_ns, "
            "CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_current "
            "FROM iv GROUP BY event_type ORDER BY event_type",
            note="SCD2 gaps-and-islands state history, per-state audit",
        ),
        QuerySpec(
            "x12_ohlc_daily", q_ohlc_daily,
            "SELECT user_id, CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) "
            "AS day_s, round(arg_min(value, ts), 2) AS open, "
            "round(arg_max(value, ts), 2) AS close, round(min(value), 2) AS low, "
            "round(max(value), 2) AS high, round(sum(value), 2) AS vsum, "
            "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id, day_s "
            "ORDER BY user_id, day_s",
            note="daily OHLC rollup: first/last by ts + min/max/avg",
        ),
        QuerySpec(
            "x10_decimal_revenue", q_decimal_revenue,
            "SELECT l_returnflag, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "CAST(1 - l_discount AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS revenue, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) "
            "AS gross FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
            note="exact decimal arithmetic — bit-exact, no rounding tolerance",
        ),
        QuerySpec(
            "x08_hash_split", q_hash_split,
            "WITH b AS (SELECT n_chars, "
            "(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))"
            "::BIGINT % 10000) AS bucket FROM documents) "
            "SELECT CASE WHEN bucket < 8000 THEN 'train' "
            "WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split, "
            "CAST(count(*) AS BIGINT) AS docs, "
            "round(avg(n_chars), 2) AS avg_chars "
            "FROM b GROUP BY 1 ORDER BY split",
            note="deterministic md5-bucket train/val/test split",
        ),
        QuerySpec(
            "x09_stratified_sample", q_stratified_sample,
            "WITH b AS (SELECT lang, "
            "(('0x' || substr(md5('strata' || CAST(doc_id AS VARCHAR)), 1, 8))"
            "::BIGINT % 10000) AS bucket FROM documents) "
            "SELECT lang, CAST(count(*) AS BIGINT) AS kept FROM b "
            "WHERE bucket < (CASE lang WHEN 'en' THEN 2500 "
            "WHEN 'de' THEN 10000 ELSE 5000 END) "
            "GROUP BY lang ORDER BY lang",
            note="per-stratum deterministic hash sampling",
        ),
        QuerySpec(
            "t11_levenshtein_pairs", q_levenshtein_pairs,
            "WITH docs AS (SELECT min(doc_id) AS doc_id, min(lang) AS lang, "
            "text FROM documents GROUP BY text), "
            "d AS (SELECT doc_id, lang, text, "
            "(('0x' || substr(md5('lev' || substr(text, 1, 8)), 1, 8))::BIGINT "
            "% 16) AS pbkt, "
            "CAST(floor(length(text) / 64.0) AS INT) AS band FROM docs) "
            "SELECT id_a, id_b, dist FROM ("
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "CAST(levenshtein(substr(a.text, 1, 32), substr(b.text, 1, 32)) AS INT) "
            "AS dist FROM d a JOIN d b "
            "ON a.lang = b.lang AND a.pbkt = b.pbkt "
            "AND b.band BETWEEN a.band - 1 AND a.band + 1 "
            "AND a.doc_id < b.doc_id) "
            "WHERE dist <= 24 ORDER BY id_a, id_b",
        ),
        QuerySpec(
            "t27_semdedup", q_semdedup,
            # identical seeded construction both engines: md5-selected
            # centroids, argmax-cosine assignment (round-4, ties to
            # lowest centroid id), within-cluster dominance pruning
            "WITH cent AS (SELECT vec_id AS cid, "
            "CAST(embedding AS DOUBLE[]) AS cv FROM embeddings "
            "ORDER BY md5('semdedup' || CAST(vec_id AS VARCHAR)), vec_id "
            "LIMIT 8), "
            "sims AS (SELECT e.vec_id, c.cid, "
            "round(list_cosine_similarity("
            "CAST(e.embedding AS DOUBLE[]), c.cv), 4) AS cs "
            "FROM embeddings e CROSS JOIN cent c), "
            "assigned AS (SELECT vec_id, cid, cs FROM ("
            "SELECT vec_id, cid, cs, row_number() OVER ("
            "PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn "
            "FROM sims) t WHERE rn = 1), "
            "rme AS (SELECT DISTINCT a.vec_id FROM assigned a "
            "JOIN assigned b ON a.cid = b.cid AND a.vec_id <> b.vec_id "
            "JOIN embeddings ea ON ea.vec_id = a.vec_id "
            "JOIN embeddings eb ON eb.vec_id = b.vec_id "
            "WHERE round(list_cosine_similarity("
            "CAST(ea.embedding AS DOUBLE[]), "
            "CAST(eb.embedding AS DOUBLE[])), 4) >= 0.4 "
            "AND (b.cs < a.cs OR (b.cs = a.cs AND b.vec_id < a.vec_id))) "
            "SELECT a.cid AS cluster_id, "
            "CAST(count(*) AS BIGINT) AS n_vectors, "
            "CAST(sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_removed "
            "FROM assigned a LEFT JOIN rme r ON a.vec_id = r.vec_id "
            "GROUP BY a.cid ORDER BY cluster_id",
            note="SemDeDup cluster-then-prune semantic dedup",
        ),
        QuerySpec(
            "t09_cosine_pairs_exact", q_cosine_pairs_exact,
            "SELECT * FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
            "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "CAST(b.embedding AS DOUBLE[])), 4) AS sim "
            "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) t "
            "WHERE sim >= 0.4",
        ),
        QuerySpec(
            "t12_top_bigrams", q_top_bigrams,
            "WITH t AS (SELECT string_split(regexp_replace(lower(trim(text)), "
            "'\\s+', ' ', 'g'), ' ') AS w FROM documents), "
            "b AS (SELECT w[i] || ' ' || w[i+1] AS bigram FROM t, "
            "UNNEST(generate_series(1, len(w)-1)) AS s(i) WHERE len(w) >= 2) "
            "SELECT bigram, CAST(count(*) AS BIGINT) AS cnt FROM b "
            "GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20",
        ),
        QuerySpec(
            "t13_repetition_stats", q_repetition_stats,
            "WITH w AS (SELECT doc_id, lang, unnest(string_split("
            "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok "
            "FROM documents), "
            "c AS (SELECT doc_id, lang, tok, count(*) AS n "
            "FROM w GROUP BY doc_id, lang, tok), "
            "d AS (SELECT doc_id, lang, max(n) AS max_n, sum(n) AS tot_n "
            "FROM c GROUP BY doc_id, lang) "
            "SELECT lang, CAST(sum(max_n) AS BIGINT) AS sum_top_token, "
            "CAST(sum(tot_n) AS BIGINT) AS sum_tokens, "
            "CAST(count(*) FILTER (WHERE max_n * 10 > tot_n) AS BIGINT) "
            "AS repetitive_docs FROM d GROUP BY lang ORDER BY lang",
        ),
        QuerySpec(
            "t14_benchmark_contamination", q_benchmark_contamination,
            "WITH bench AS (SELECT DISTINCT unnest(list_transform(generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1)), i -> array_to_string((string_split_regex(trim(text), '\\s+'))[i:i+2], ' '))) AS _s "
            "FROM documents WHERE doc_id < 50), "
            "ds AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1)), i -> array_to_string((string_split_regex(trim(text), '\\s+'))[i:i+2], ' '))) AS _s "
            "FROM documents WHERE doc_id >= 50), "
            "tot AS (SELECT doc_id, count(*) AS n_shingles FROM ds GROUP BY doc_id), "
            "ovl AS (SELECT ds.doc_id, count(*) AS n_overlap FROM ds "
            "JOIN bench USING (_s) GROUP BY ds.doc_id) "
            "SELECT t.doc_id, CAST(t.n_shingles AS BIGINT) AS n_shingles, "
            "CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap "
            "FROM tot t LEFT JOIN ovl o ON t.doc_id = o.doc_id "
            "ORDER BY n_overlap DESC, t.doc_id LIMIT 50",
        ),
        QuerySpec(
            "t31_semantic_decontamination", q_semantic_decontamination,
            "WITH b AS (SELECT CAST(embedding AS DOUBLE[]) AS bv "
            "FROM embeddings WHERE vec_id < 20), "
            "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv "
            "FROM embeddings WHERE vec_id >= 20) "
            "SELECT vec_id, round(max(list_cosine_similarity(cv, bv)), 4) "
            "AS max_sim FROM c CROSS JOIN b GROUP BY vec_id "
            "HAVING round(max(list_cosine_similarity(cv, bv)), 4) >= 0.35 "
            "ORDER BY max_sim DESC, vec_id",
            note="embedding-space decontamination (max cosine vs bench set)",
        ),
        QuerySpec(
            "t15_duplicate_ngrams", q_duplicate_ngrams,
            "WITH ds AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 4, 1)), i -> array_to_string((string_split_regex(trim(text), '\\s+'))[i:i+4], ' '))) AS _s "
            "FROM documents), "
            "dfq AS (SELECT _s FROM ds GROUP BY _s HAVING count(DISTINCT doc_id) >= 2), "
            "tot AS (SELECT doc_id, count(*) AS n_ngrams FROM ds GROUP BY doc_id), "
            "dup AS (SELECT ds.doc_id, count(*) AS dup_ngrams FROM ds "
            "JOIN dfq USING (_s) GROUP BY ds.doc_id) "
            "SELECT t.doc_id, CAST(t.n_ngrams AS BIGINT) AS n_ngrams, "
            "CAST(coalesce(d.dup_ngrams, 0) AS BIGINT) AS dup_ngrams "
            "FROM tot t LEFT JOIN dup d ON t.doc_id = d.doc_id "
            "ORDER BY t.doc_id",
            note="verbatim-duplication scan (substring-dedup signal)",
        ),
        QuerySpec(
            "t16_pii_scrub", q_pii_scrub,
            "WITH aug AS (SELECT lang, text || ' contact user' || "
            "CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' || "
            "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ip 10.0.' || "
            "CAST(doc_id % 256 AS VARCHAR) || '.1' AS t FROM documents) "
            "SELECT lang, "
            "CAST(sum(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', 0))) AS BIGINT) AS emails, "
            "CAST(sum(len(regexp_extract_all(t, '\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}', 0))) AS BIGINT) AS phones, "
            "CAST(sum(len(regexp_extract_all(t, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', 0))) AS BIGINT) AS ipv4s, "
            "CAST(sum(length(t) - length("
            "regexp_replace(regexp_replace(regexp_replace(t, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'), "
            "'\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}', '[PHONE]', 'g'), "
            "'[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '[IPV4]', 'g')"
            ")) AS BIGINT) AS chars_redacted "
            "FROM aug GROUP BY lang ORDER BY lang",
            note="PII scrubbing stats (deterministic injected PII)",
        ),
        QuerySpec(
            "t17_pack_plan", q_pack_plan,
            "WITH d AS (SELECT doc_id, "
            "(('0x' || substr(md5('pack' || CAST(doc_id AS VARCHAR)), 1, 8))"
            "::BIGINT % 16) AS shard, "
            "len(string_split_regex(trim(text), '\\s+')) AS tok "
            "FROM documents), "
            "c AS (SELECT shard, tok, "
            "sum(tok) OVER (PARTITION BY shard ORDER BY doc_id "
            "ROWS UNBOUNDED PRECEDING) - tok AS start FROM d) "
            "SELECT CAST(shard AS INT) AS shard, "
            "CAST(floor(start / 512) AS BIGINT) AS bin, "
            "CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(tok) AS BIGINT) AS n_tokens "
            "FROM c GROUP BY 1, 2 ORDER BY shard, bin",
            note="shard-parallel sequence-packing plan",
        ),
        QuerySpec(
            "t18_mixture_sample", q_mixture_sample,
            "WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n "
            "FROM documents GROUP BY lang), "
            "t AS (SELECT lang, n, CASE lang WHEN 'en' THEN 0.4 "
            "WHEN 'de' THEN 0.2 WHEN 'es' THEN 0.2 WHEN 'fr' THEN 0.1 "
            "WHEN 'zh' THEN 0.1 END AS p FROM c WHERE lang IN "
            "('en','de','es','fr','zh')), "
            "m AS (SELECT lang, n, p, min(n / p) OVER () AS mr FROM t), "
            "thr AS (SELECT lang, CASE WHEN n / p = mr "
            "THEN CAST(10000 AS BIGINT) "
            "ELSE CAST(floor(10000.0 * mr * p / n) AS BIGINT) END "
            "AS th FROM m) "
            "SELECT d.lang, CAST(count(*) AS BIGINT) AS kept "
            "FROM documents d JOIN thr ON d.lang = thr.lang "
            "WHERE (('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8))"
            "::BIGINT % 10000) < th "
            "GROUP BY d.lang ORDER BY d.lang",
            note="deterministic mixture sampling to target shares",
        ),
        QuerySpec(
            "t19_gopher_quality", q_gopher_quality,
            "WITH w AS (SELECT lang, "
            "regexp_split_to_array(trim(text), '\\s+') AS ws "
            "FROM documents), "
            "f AS (SELECT lang, len(ws) AS wc, "
            "CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)"
            " / len(ws) AS mwl, "
            "CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))"
            " AS DOUBLE) / len(ws) AS af, "
            "(CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END"
            " + CASE WHEN list_contains(ws, 'a') THEN 1 ELSE 0 END"
            " + CASE WHEN list_contains(ws, 'of') THEN 1 ELSE 0 END"
            " + CASE WHEN list_contains(ws, 'and') THEN 1 ELSE 0 END"
            " + CASE WHEN list_contains(ws, 'to') THEN 1 ELSE 0 END"
            " + CASE WHEN list_contains(ws, 'in') THEN 1 ELSE 0 END)"
            " AS sh FROM w) "
            "SELECT lang, CAST(count(*) AS BIGINT) AS docs, "
            "CAST(sum(CASE WHEN wc BETWEEN 30 AND 80 THEN 1 ELSE 0 END)"
            " AS BIGINT) AS pass_wc, "
            "CAST(sum(CASE WHEN mwl >= 4.0 AND mwl <= 5.0 THEN 1 ELSE 0 END)"
            " AS BIGINT) AS pass_mwl, "
            "CAST(sum(CASE WHEN af >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)"
            " AS pass_alpha, "
            "CAST(sum(CASE WHEN sh >= 2 THEN 1 ELSE 0 END) AS BIGINT)"
            " AS pass_stop, "
            "CAST(sum(CASE WHEN wc BETWEEN 30 AND 80 "
            "AND mwl >= 4.0 AND mwl <= 5.0 AND af >= 0.8 AND sh >= 2 "
            "THEN 1 ELSE 0 END) AS BIGINT) AS pass_all "
            "FROM f GROUP BY lang ORDER BY lang",
            note="Gopher-style rule-based quality filter counts",
        ),
        QuerySpec(
            "t20_dup_clusters", q_dup_clusters,
            "WITH RECURSIVE p AS (SELECT id_a, id_b FROM ("
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
            "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "CAST(b.embedding AS DOUBLE[])), 4) AS sim "
            "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) t "
            "WHERE sim >= 0.4), "
            "e AS (SELECT id_a AS a, id_b AS b FROM p "
            "UNION SELECT id_b, id_a FROM p), "
            "reach(n, m) AS (SELECT a, a FROM e "
            "UNION SELECT e.a, r.m FROM e JOIN reach r ON r.n = e.b), "
            "c AS (SELECT n, min(m) AS comp FROM reach GROUP BY n) "
            "SELECT comp, CAST(count(*) AS BIGINT) AS size FROM c "
            "GROUP BY comp ORDER BY size DESC, comp",
            note="connected-component duplicate clusters (iterative)",
        ),
        QuerySpec(
            "t28_dedup_apply", q_dedup_apply,
            # same pair relation + recursive closure as t20, then the
            # keep rule: survive iff unlabeled (no near-dup) or the
            # cluster's min id
            "WITH RECURSIVE p AS (SELECT id_a, id_b FROM ("
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
            "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "CAST(b.embedding AS DOUBLE[])), 4) AS sim "
            "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) t "
            "WHERE sim >= 0.4), "
            "e AS (SELECT id_a AS a, id_b AS b FROM p "
            "UNION SELECT id_b, id_a FROM p), "
            "reach(n, m) AS (SELECT a, a FROM e "
            "UNION SELECT e.a, r.m FROM e JOIN reach r ON r.n = e.b), "
            "c AS (SELECT n, min(m) AS comp FROM reach GROUP BY n) "
            "SELECT v.vec_id FROM embeddings v LEFT JOIN c ON c.n = v.vec_id "
            "WHERE c.n IS NULL OR c.comp = v.vec_id ORDER BY vec_id",
            note="dedup APPLY: drop all but each cluster's representative",
        ),
        QuerySpec(
            "t29_classifier_quality", q_classifier_quality,
            # integer weights -> exact sums; the single float division
            # is IEEE-pinned, so no round() anywhere
            "WITH tk AS (SELECT doc_id, "
            "((('0x' || substr(md5('ft' || w), 1, 8))::BIGINT % 1048576) "
            "* 2654435761) % 1000003 - 501001 AS wi "
            "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
            "FROM documents) WHERE w <> ''), "
            "s AS (SELECT doc_id, CAST(count(*) AS INT) AS n_features, "
            "sum(wi) / (count(*) * 1000003.0) AS score "
            "FROM tk GROUP BY doc_id) "
            "SELECT d.doc_id, COALESCE(s.n_features, 0) AS n_features, "
            "COALESCE(s.score, 0.0) AS score, "
            "CAST(CASE WHEN COALESCE(s.score, 0.0) > 0 THEN 1 ELSE 0 END "
            "AS INT) AS label "
            "FROM documents d LEFT JOIN s USING (doc_id) "
            "ORDER BY score DESC, doc_id LIMIT 20",
            note="fastText-style linear classifier inference (seeded)",
        ),
        QuerySpec(
            "t29b_classifier_bigram", q_classifier_bigram,
            "WITH toks AS (SELECT doc_id, "
            "list_filter(string_split(text, ' '), x -> x <> '') AS t "
            "FROM documents), "
            "feats AS (SELECT doc_id, w FROM "
            "(SELECT doc_id, unnest(t) AS w FROM toks) "
            "UNION ALL SELECT doc_id, t[i] || ' ' || t[i+1] AS w "
            "FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i) "
            "WHERE len(t) >= 2), "
            "tk AS (SELECT doc_id, "
            "((('0x' || substr(md5('ft' || w), 1, 8))::BIGINT % 1048576) "
            "* 2654435761) % 1000003 - 501001 AS wi FROM feats), "
            "s AS (SELECT doc_id, CAST(count(*) AS INT) AS n_features, "
            "sum(wi) / (count(*) * 1000003.0) AS score "
            "FROM tk GROUP BY doc_id) "
            "SELECT d.doc_id, COALESCE(s.n_features, 0) AS n_features, "
            "COALESCE(s.score, 0.0) AS score, "
            "CAST(CASE WHEN COALESCE(s.score, 0.0) > 0 THEN 1 ELSE 0 END "
            "AS INT) AS label "
            "FROM documents d LEFT JOIN s USING (doc_id) "
            "ORDER BY score DESC, doc_id LIMIT 20",
            note="fastText wordNgrams=2 classifier inference (seeded)",
        ),
        QuerySpec(
            "t30_bloom_incremental", q_bloom_incremental,
            # exact NOT-EXISTS twin of the bloom+confirm plan (the bloom
            # filter never changes the answer, only the shuffle volume)
            "WITH b AS (SELECT doc_id, text, "
            "(('0x' || substr(md5('t30' || CAST(doc_id AS VARCHAR)), 1, 8))"
            "::BIGINT % 20) AS bk FROM documents), "
            "cor AS (SELECT md5(text) AS h FROM b WHERE bk <> 0) "
            "SELECT doc_id FROM b i WHERE bk = 0 AND NOT EXISTS ("
            "SELECT 1 FROM cor c WHERE c.h = md5(i.text)) "
            "ORDER BY doc_id",
            note="bloom-prefiltered increment-vs-corpus dedup (exact)",
        ),
        QuerySpec(
            "t21_dsir_weights", q_dsir_weights,
            "WITH tk AS (SELECT doc_id, lang, "
            "(('0x' || substr(md5('dsir' || w), 1, 8))::BIGINT % 4096) AS b "
            "FROM (SELECT doc_id, lang, "
            "unnest(string_split(text, ' ')) AS w FROM documents) "
            "WHERE w <> ''), "
            "bb AS (SELECT b, count(*) AS cr, "
            "sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct "
            "FROM tk GROUP BY b), "
            "tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM bb), "
            "ratio AS (SELECT b, "
            "ln((ct + 1.0) / (tt + 4096.0)) - ln((cr + 1.0) / (tr + 4096.0))"
            " AS lr FROM bb CROSS JOIN tot), "
            "per AS (SELECT doc_id, b, count(*) AS n FROM tk "
            "GROUP BY doc_id, b) "
            "SELECT doc_id, round(sum(n * lr), 4) AS log_weight "
            "FROM per JOIN ratio USING (b) "
            "GROUP BY doc_id ORDER BY log_weight DESC, doc_id LIMIT 15",
            note="DSIR hashed-ngram importance weights (target = en)",
        ),
        QuerySpec(
            "t23_unigram_ppl", q_unigram_ppl,
            "WITH tk AS (SELECT doc_id, lang, "
            "(('0x' || substr(md5('ppl' || w), 1, 8))::BIGINT % 4096) AS b "
            "FROM (SELECT doc_id, lang, "
            "unnest(string_split(text, ' ')) AS w FROM documents) "
            "WHERE w <> ''), "
            "per AS (SELECT doc_id, b, count(*) AS n FROM tk "
            "GROUP BY doc_id, b), "
            "tgt AS (SELECT b, count(*) AS ct_raw FROM tk "
            "WHERE lang = 'en' GROUP BY b), "
            "bb AS (SELECT DISTINCT per.b, COALESCE(tgt.ct_raw, 0) AS ct "
            "FROM per LEFT JOIN tgt USING (b)), "
            "tot AS (SELECT sum(ct) AS tt FROM bb), "
            "model AS (SELECT b, -ln((ct + 1.0) / (tt + 4096.0)) AS nll "
            "FROM bb CROSS JOIN tot) "
            "SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens, "
            "round(sum(n * nll) / sum(n), 4) AS ppl_score "
            "FROM per JOIN model USING (b) "
            "GROUP BY doc_id ORDER BY ppl_score, doc_id LIMIT 15",
            note="CCNet-style hashed-unigram LM quality score (target = en)",
        ),
        QuerySpec(
            "t25_chunk_plan", q_chunk_plan,
            # identical tokenization + window arithmetic: range() is
            # end-exclusive like sequence(0, n-1) is end-inclusive;
            # list_slice's inclusive end = slice's length bound; the
            # filter drops pure suffix-duplicate tails (start past
            # n - overlap), mirroring the operator
            "WITH t AS (SELECT doc_id, "
            r"string_split_regex(trim(text), '\s+') AS ts "
            r"FROM documents WHERE regexp_matches(text, '\S')), "
            "s AS (SELECT doc_id, ts, "
            "unnest(list_filter(range(0, len(ts), 48), "
            "s -> s = 0 OR s + 16 < len(ts))) AS start FROM t) "
            "SELECT doc_id, CAST(start // 48 AS INT) AS chunk_idx, "
            "CAST(len(list_slice(ts, start + 1, start + 64)) AS INT) "
            "AS n_tokens, "
            "array_to_string(list_slice(ts, start + 1, start + 64), ' ') "
            "AS chunk_text FROM s",
        ),
        QuerySpec(
            "t26_substr_dedup", q_substr_dedup,
            # same segmentation as t25 with overlap 0; dedup keyed on
            # md5(segment); all-dropped docs agg to md5('') via the
            # coalesce (string_agg over no rows is NULL there, Spark's
            # array_join over an empty array is '')
            "WITH t AS (SELECT doc_id, "
            r"string_split_regex(trim(text), '\s+') AS ts "
            r"FROM documents WHERE regexp_matches(text, '\S')), "
            "s0 AS (SELECT doc_id, ts, "
            "unnest(range(0, len(ts), 8)) AS start FROM t), "
            "s AS (SELECT doc_id, CAST(start // 8 AS INT) AS chunk_idx, "
            "len(list_slice(ts, start + 1, start + 8)) AS n_tokens, "
            "array_to_string(list_slice(ts, start + 1, start + 8), ' ') "
            "AS chunk_text FROM s0), "
            "s2 AS (SELECT doc_id, chunk_idx, n_tokens, chunk_text, "
            "md5(chunk_text) AS h FROM s), "
            "d AS (SELECT h, count(DISTINCT doc_id) AS df FROM s2 "
            "GROUP BY 1) "
            "SELECT doc_id, CAST(count(*) AS INT) AS n_segs, "
            "CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS INT) "
            "AS n_dropped, "
            "CAST(sum(CASE WHEN df < 2 THEN n_tokens ELSE 0 END) AS INT) "
            "AS kept_tokens, "
            "md5(coalesce(string_agg(CASE WHEN df < 2 THEN chunk_text END, "
            "' ' ORDER BY chunk_idx), '')) AS clean_md5 "
            "FROM s2 JOIN d USING(h) GROUP BY doc_id",
        ),
        QuerySpec(
            "t24_source_overlap", q_source_overlap,
            "WITH s AS (SELECT DISTINCT source, md5(text) AS ck "
            "FROM documents), "
            "shared AS (SELECT a.source AS source_a, b.source AS source_b, "
            "CAST(count(DISTINCT a.ck) AS BIGINT) AS sc "
            "FROM s a JOIN s b ON a.ck = b.ck AND a.source < b.source "
            "GROUP BY 1, 2), "
            "srcs AS (SELECT DISTINCT source FROM documents) "
            "SELECT sa.source AS source_a, sb.source AS source_b, "
            "CAST(COALESCE(shared.sc, 0) AS BIGINT) AS shared_contents "
            "FROM srcs sa JOIN srcs sb ON sa.source < sb.source "
            "LEFT JOIN shared ON shared.source_a = sa.source "
            "AND shared.source_b = sb.source "
            "ORDER BY 1, 2",
            note="cross-source verbatim-content contamination matrix",
        ),
        QuerySpec(
            "t22_dedup_safe_split", q_dedup_safe_split,
            "WITH base AS (SELECT doc_id, md5(text) AS ck FROM documents), "
            "naive AS (SELECT ck, CASE WHEN "
            "(('0x' || substr(md5('leak' || CAST(doc_id AS VARCHAR)), 1, 8))"
            "::BIGINT % 10000) < 9000 THEN 'train' ELSE 'test' END AS split "
            "FROM base), "
            "safe AS (SELECT ck, CASE WHEN "
            "(('0x' || substr(md5('leak' || ck), 1, 8))"
            "::BIGINT % 10000) < 9000 THEN 'train' ELSE 'test' END AS split "
            "FROM base), "
            "na AS (SELECT ck, count(DISTINCT split) AS ns, count(*) AS docs "
            "FROM naive GROUP BY ck), "
            "sa AS (SELECT ck, count(DISTINCT split) AS ns, count(*) AS docs "
            "FROM safe GROUP BY ck) "
            "SELECT 'naive' AS method, CAST(sum(docs) AS BIGINT) AS docs, "
            "CAST(count(*) AS BIGINT) AS contents, "
            "CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS leaked_contents FROM na "
            "UNION ALL "
            "SELECT 'safe', CAST(sum(docs) AS BIGINT), "
            "CAST(count(*) AS BIGINT), "
            "CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) "
            "FROM sa ORDER BY method",
            note="train/test leakage audit: id-keyed vs content-keyed split",
        ),
        QuerySpec(
            "s01_sql_string", q_sql_string_entry, SQL_ENTRY_STATEMENT,
            note="Engine.sql() entry point: identical SQL text both sides",
        ),
        QuerySpec(
            "s02_sql_docs_topk", q_sql_string_docs, SQL_ENTRY_DOCS,
            note="Engine.sql() windowed top-k: identical SQL text both sides",
        ),
        QuerySpec(
            "s03_sql_tpch_q1", q_sql_string_tpch_q1, SQL_ENTRY_TPCH_Q1,
            note="Engine.sql() full TPC-H Q1 text: identical SQL both sides",
        ),
        QuerySpec(
            "s04_sql_window", q_sql_string_window, SQL_ENTRY_WINDOW,
            note="Engine.sql() window battery: identical SQL both sides",
        ),
    ]
    specs += _tpch_specs()
    return {
        s.name: QuerySpec(s.name, _prepared(s.name, s.builder), s.oracle, s.note)
        for s in specs
    }


def _tpch_specs() -> list[QuerySpec]:
    """TPC-H-derived suite (operators/tpch.py) — adapted to the slimmed
    star schema (no partsupp ⇒ h02/h11 omitted; see module docstring)."""
    rev = "l_extendedprice * (1 - l_discount)"
    return [
        QuerySpec(
            "h01_pricing_summary", tpch.h01_pricing_summary,
            "SELECT l_returnflag, l_linestatus, "
            "round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_base_price, "
            f"round(sum({rev}), 2) AS sum_disc_price, "
            f"round(sum({rev} * (1 + l_tax)), 2) AS sum_charge, "
            "round(avg(l_quantity), 4) AS avg_qty, "
            "round(avg(l_extendedprice), 4) AS avg_price, "
            "round(avg(l_discount), 4) AS avg_disc, "
            "CAST(count(*) AS BIGINT) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-06-30' "
            "GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus",
        ),
        QuerySpec(
            "h03_shipping_priority", tpch.h03_shipping_priority,
            "SELECT l_orderkey, "
            "CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_orderdate, revenue "
            f"FROM (SELECT l_orderkey, o_orderdate, round(sum({rev}), 2) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment = 'BUILDING' "
            "AND o_orderdate < TIMESTAMP '1998-03-15' "
            "AND l_shipdate > TIMESTAMP '1998-03-15' "
            "GROUP BY l_orderkey, o_orderdate "
            "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10)",
        ),
        QuerySpec(
            "h04_order_priority", tpch.h04_order_priority,
            "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count "
            "FROM orders o WHERE o_orderdate >= TIMESTAMP '1997-07-01' "
            "AND o_orderdate < TIMESTAMP '1997-10-01' "
            "AND EXISTS (SELECT 1 FROM lineitem l "
            "WHERE l.l_orderkey = o.o_orderkey "
            "AND CAST(l.l_shipdate AS DATE) > "
            "CAST(o.o_orderdate AS DATE) + INTERVAL '90' DAY) "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        ),
        QuerySpec(
            "h05_local_supplier_volume", tpch.h05_local_supplier_volume,
            f"SELECT n_name, round(sum({rev}), 2) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "AND c_nationkey = s_nationkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1997-01-01' "
            "AND o_orderdate < TIMESTAMP '1998-01-01' "
            "GROUP BY n_name ORDER BY revenue DESC, n_name",
        ),
        QuerySpec(
            "h06_forecast_revenue", tpch.h06_forecast_revenue,
            "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue "
            "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
            "AND l_shipdate < TIMESTAMP '1998-01-01' "
            "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24",
        ),
        QuerySpec(
            "h07_volume_shipping", tpch.h07_volume_shipping,
            "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
            "CAST(year(l_shipdate) AS INT) AS l_year, "
            f"round(sum({rev}), 2) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
            "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
            "WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
            "AND l_shipdate < TIMESTAMP '1999-01-01' "
            "AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
            "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) "
            "GROUP BY supp_nation, cust_nation, l_year "
            "ORDER BY supp_nation, cust_nation, l_year",
        ),
        QuerySpec(
            "h08_market_share", tpch.h08_market_share,
            "SELECT CAST(year(o_orderdate) AS INT) AS o_year, "
            f"round(sum(CASE WHEN n1.n_name = 'NATION_3' THEN {rev} ELSE 0 END) "
            f"/ sum({rev}), 4) AS mkt_share "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
            "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
            "JOIN region ON n2.n_regionkey = r_regionkey "
            "WHERE p_type = 'ECONOMY' AND r_name = 'ASIA' "
            "GROUP BY o_year ORDER BY o_year",
        ),
        QuerySpec(
            "h09_product_profit", tpch.h09_product_profit,
            "SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year, "
            f"round(sum({rev}), 2) AS sum_profit "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "WHERE p_brand LIKE '%1' "
            "GROUP BY n_name, o_year ORDER BY nation, o_year DESC",
        ),
        QuerySpec(
            "h10_returned_items", tpch.h10_returned_items,
            "SELECT c_custkey, c_name, revenue, c_acctbal, n_name FROM ("
            "SELECT c_custkey, c_name, "
            f"round(sum({rev}), 2) AS revenue, "
            "round(c_acctbal, 2) AS c_acctbal, n_name "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "WHERE l_returnflag = 'R' "
            "AND o_orderdate >= TIMESTAMP '1997-10-01' "
            "AND o_orderdate < TIMESTAMP '1998-01-01' "
            "GROUP BY c_custkey, c_name, c_acctbal, n_name "
            "ORDER BY revenue DESC, c_custkey LIMIT 20)",
        ),
        QuerySpec(
            "h12_late_shipments", tpch.h12_late_shipments,
            "SELECT CAST(year(l_shipdate) AS INT) AS l_year, "
            "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') "
            "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
            "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') "
            "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE CAST(l_shipdate AS DATE) > "
            "CAST(o_orderdate AS DATE) + INTERVAL '60' DAY "
            "GROUP BY l_year ORDER BY l_year",
        ),
        QuerySpec(
            "h13_customer_distribution", tpch.h13_customer_distribution,
            "SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM ("
            "SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count "
            "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
            "AND o_orderpriority NOT LIKE '4%' GROUP BY c_custkey) "
            "GROUP BY c_count ORDER BY custdist DESC, c_count DESC",
        ),
        QuerySpec(
            "h14_promo_share", tpch.h14_promo_share,
            f"SELECT round(100.0 * sum(CASE WHEN p_type = 'ECONOMY' THEN {rev} "
            f"ELSE 0 END) / sum({rev}), 4) AS promo_revenue "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE l_shipdate >= TIMESTAMP '1997-09-01' "
            "AND l_shipdate < TIMESTAMP '1997-10-01'",
        ),
        QuerySpec(
            "h15_top_supplier", tpch.h15_top_supplier,
            "WITH rev AS (SELECT l_suppkey AS supplier_no, "
            f"round(sum({rev}), 2) AS total_revenue "
            "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
            "AND l_shipdate < TIMESTAMP '1997-04-01' GROUP BY l_suppkey) "
            "SELECT s_suppkey, s_name, total_revenue "
            "FROM rev JOIN supplier ON supplier_no = s_suppkey "
            "WHERE total_revenue = (SELECT max(total_revenue) FROM rev) "
            "ORDER BY s_suppkey",
        ),
        QuerySpec(
            "h16_supplier_part_counts", tpch.h16_supplier_part_counts,
            "SELECT p_brand, p_type, p_size, "
            "CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE p_brand <> 'Brand#1' "
            "GROUP BY p_brand, p_type, p_size "
            "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 20",
        ),
        QuerySpec(
            "h17_small_quantity_revenue", tpch.h17_small_quantity_revenue,
            "SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly "
            "FROM lineitem l JOIN part ON l.l_partkey = p_partkey "
            "WHERE p_brand = 'Brand#3' AND l_quantity < ("
            "SELECT 0.2 * avg(l_quantity) FROM lineitem li "
            "WHERE li.l_partkey = l.l_partkey AND li.l_partkey IN ("
            "SELECT p_partkey FROM part WHERE p_brand = 'Brand#3'))",
        ),
        QuerySpec(
            "h18_large_volume_customers", tpch.h18_large_volume_customers,
            "SELECT c_name, c_custkey, o_orderkey, "
            "CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_orderdate, "
            "round(o_totalprice, 2) AS o_totalprice, "
            "round(sum_qty, 2) AS sum_qty FROM ("
            "SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem "
            "GROUP BY l_orderkey HAVING sum(l_quantity) > 300) "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
        ),
        QuerySpec(
            "h19_discounted_revenue", tpch.h19_discounted_revenue,
            f"SELECT round(sum({rev}), 2) AS revenue "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11) "
            "OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20) "
            "OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30)",
        ),
        QuerySpec(
            "h20_potential_promotion", tpch.h20_potential_promotion,
            "SELECT s_name, n_name FROM supplier "
            "JOIN nation ON s_nationkey = n_nationkey "
            "WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem "
            "JOIN part ON l_partkey = p_partkey "
            "WHERE p_type = 'SMALL' AND l_shipdate >= TIMESTAMP '1997-01-01' "
            "AND l_shipdate < TIMESTAMP '1998-01-01' "
            "GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 50) "
            "ORDER BY s_name",
        ),
        QuerySpec(
            "h21_waiting_supplier", tpch.h21_waiting_supplier,
            "WITH j AS (SELECT l_orderkey, l_suppkey, "
            "CASE WHEN CAST(l_shipdate AS DATE) > "
            "CAST(o_orderdate AS DATE) + INTERVAL '100' DAY "
            "THEN 1 ELSE 0 END AS late "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE o_orderstatus = 'F'), "
            "per_supp AS (SELECT l_orderkey, l_suppkey, max(late) AS supp_late "
            "FROM j GROUP BY l_orderkey, l_suppkey), "
            "per_order AS (SELECT l_orderkey, count(*) AS nsupp, "
            "sum(supp_late) AS nlate FROM per_supp GROUP BY l_orderkey) "
            "SELECT s_name, CAST(count(*) AS BIGINT) AS numwait FROM per_supp "
            "JOIN per_order USING (l_orderkey) "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "WHERE supp_late = 1 AND nsupp >= 2 AND nlate = 1 "
            "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10",
        ),
        QuerySpec(
            "h22_global_sales_opportunity", tpch.h22_global_sales_opportunity,
            "SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust, "
            "round(sum(c_acctbal), 2) AS totacctbal FROM ("
            "SELECT CAST(c_custkey % 7 AS INT) AS cntrycode, c_acctbal, c_custkey "
            "FROM customer WHERE CAST(c_custkey % 7 AS INT) IN (1, 2, 4) "
            "AND c_acctbal > (SELECT avg(c_acctbal) FROM customer "
            "WHERE c_acctbal > 0.0 AND CAST(c_custkey % 7 AS INT) IN (1, 2, 4))) c "
            "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey "
            "AND o_orderdate >= TIMESTAMP '2000-07-01') "
            "GROUP BY cntrycode ORDER BY cntrycode",
        ),
        # h02/h11 complete the 22-query TPC-H suite via a DETERMINISTIC
        # derived partsupp (operators/tpch.py PARTSUPP_SQL — identical
        # integer-arithmetic formula on both engines). Registered at the
        # END so the driver's first-50 checked window keeps its canonical
        # §2B entries.
        QuerySpec(
            "h02_min_cost_supplier", tpch.h02_min_cost_supplier,
            f"WITH partsupp AS (SELECT * FROM {tpch.PARTSUPP_SQL} ps) "
            "SELECT s_acctbal, s_name, n_name, ps.ps_partkey AS p_partkey, "
            "p_brand, ps_supplycost_cents "
            "FROM partsupp ps "
            "JOIN supplier ON s_suppkey = ps_suppkey "
            "JOIN nation ON n_nationkey = s_nationkey "
            "JOIN region ON r_regionkey = n_regionkey AND r_name = 'EUROPE' "
            "JOIN part ON p_partkey = ps.ps_partkey "
            "AND p_size = 15 AND p_type = 'ECONOMY' "
            "WHERE ps_supplycost_cents = ("
            "SELECT min(ps2.ps_supplycost_cents) FROM partsupp ps2 "
            "JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey "
            "JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey "
            "JOIN region r2 ON r2.r_regionkey = n2.n_regionkey "
            "AND r2.r_name = 'EUROPE' "
            "WHERE ps2.ps_partkey = ps.ps_partkey) "
            "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100",
        ),
        QuerySpec(
            "h11_important_stock", tpch.h11_important_stock,
            f"WITH partsupp AS (SELECT * FROM {tpch.PARTSUPP_SQL} ps), "
            "ps_n AS (SELECT ps_partkey, "
            "ps_supplycost_cents * ps_availqty AS val "
            "FROM partsupp JOIN supplier ON s_suppkey = ps_suppkey "
            "JOIN nation ON n_nationkey = s_nationkey "
            "WHERE n_name = 'NATION_7') "
            "SELECT ps_partkey, CAST(sum(val) AS BIGINT) AS stock_value "
            "FROM ps_n GROUP BY ps_partkey "
            "HAVING sum(val) > (SELECT sum(val) / 10000.0 FROM ps_n) "
            "ORDER BY stock_value DESC, ps_partkey",
        ),
    ]
