"""Plan-shape regression tests: the 100 TB-readiness assertions.

These don't check results (the oracle does) — they check that Catalyst
produced the plan we want at scale: filters pushed to parquet, columns
pruned, dimension joins broadcast, top-k as TakeOrderedAndProject (no
global sort), partial aggregation present. If a refactor silently degrades
a plan (e.g. a UDF blocks pushdown), these fail.
"""

import pytest

from deimos_spark.operators import relational as r
from deimos_spark.queries import all_queries

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    df.collect()  # run so AQE finalizes (isFinalPlan=true, codegen visible)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # FINAL plan section only: an AdaptiveSparkPlan's toString repeats
    # the whole tree under '== Initial Plan ==', so node COUNTS double
    # whenever the shared test session happens to have AQE on (conf
    # leaks between tests; autotune's idempotency cache deliberately
    # does not re-read externally-changed confs). Every real node is in
    # the final section, so presence assertions are unaffected.
    return plan.split("== Initial Plan ==")[0]


# NOTE: _plan() already truncates at '== Initial Plan ==', so node
# counts at its call sites are final-plan counts; a separate _final()
# helper was a guaranteed no-op and was removed (r16, ADVICE).


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(r.filter_predicates(spark, SF))
    assert "PushedFilters: [IsNotNull" in plan
    # the IN predicate must be pushed to the scan, not just residual
    assert "In(o_orderstatus" in plan


def test_projection_prunes_columns(spark):
    plan = _plan(r.projection(spark, SF))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema and "l_comment" not in read_schema


def test_dimension_joins_are_broadcast(spark):
    plan = _plan(r.join_multiway(spark, SF))
    # (AQE plan string repeats initial+final plan → count, don't equate)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_topk_avoids_global_sort(spark):
    plan = _plan(r.sort_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_agg_has_partial_phase(spark):
    plan = _plan(r.agg_hash(spark, SF))
    # two HashAggregate nodes = partial (map-side) + final
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_keep_last_uses_agg_not_window(spark):
    plan = _plan(r.keep_last_per_key(spark, SF))
    # max_by plans as SortAggregate with a partial phase: the shuffle moves
    # one row per (key, input-partition), unlike a window which shuffles
    # and sorts EVERY row — that's the property that matters at 100 TB
    assert "partial_max_by" in plan
    assert "Window" not in plan


def test_theta_join_is_not_cartesian(spark):
    plan = _plan(r.join_theta(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semi_anti_joins_planned_as_such(spark):
    assert "LeftSemi" in _plan(r.join_semi(spark, SF))
    assert "LeftAnti" in _plan(r.join_anti(spark, SF))


def test_whole_stage_codegen_everywhere_hot(spark):
    plan = _plan(r.agg_hash(spark, SF))
    # codegen'd operators carry the *(n) stage marker in the plan string
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan  # no python UDFs in the hot path


# Queries whose final AQE plan legitimately keeps a non-broadcast join:
# every entry is a join where BOTH sides grow with the fact/corpus, so
# a sort-merge join is the 100-TB-correct strategy, not a missed
# broadcast. Any OTHER query showing one fails the audit — at sf0.001
# every honest build side fits the broadcast threshold, so AQE converts
# it unless something structural prevents broadcasting.
_SMJ_ALLOWED = {
    "h02_min_cost_supplier": "partsupp x its per-part min agg — both 4x|part|",
    "h04_order_priority": "orders EXISTS lineitem — fact x fact semi join",
    "t20_dup_clusters": "CC label propagation — label relation grows with dup clusters",
    "t28_dedup_apply": "same CC machinery as t20 + corpus keep-join",
}

# BroadcastNestedLoopJoins: sanctioned ONLY for broadcast-SCALAR /
# dimension-sized frames (1-row aggregate totals, source-pair lists,
# probe parameters). A new query acquiring one must be reviewed here.
_BNLJ_ALLOWED = {
    "b19_window_running",       # 1-row global-denominator frame
    "b23_scalar_subquery",      # the scalar subquery itself
    "h02_min_cost_supplier",    # scalar min-cost bounds
    "h11_important_stock",      # scalar total-value threshold
    "h22_global_sales_opportunity",  # scalar avg(acctbal)
    "t09_cosine_pairs_exact",   # size-capped exact baseline (guarded)
    "t28_dedup_apply",          # same guarded pairwise relation as t09
    "t18_mixture_sample",       # 1-row share denominator
    "t21_dsir_weights",         # 1-row model totals (broadcast model)
    "t23_unigram_ppl",          # 1-row model totals
    "t24_source_overlap",       # n_src^2 source-pair frame (dimension)
}


def test_registry_wide_plan_gate_audit(spark):
    """VERDICT r11 #8 — ONE audit over every declared query's final
    AQE plan. Gates, per query:

    - no row-at-a-time Python (BatchEvalPython); Arrow kernels only
      where vectorization wins (IVF assignment, BPE-per-distinct-word,
      SemDeDup assignment/prune);
    - no CartesianProduct, anywhere, ever;
    - no non-broadcast join (SortMergeJoin/ShuffledHashJoin) outside
      the named allowlist of genuinely large-x-large joins — at
      sf0.001 every honest build side is broadcastable, so a surviving
      SMJ means the plan would ALSO miss the broadcast at scale;
    - BroadcastNestedLoopJoin only for named scalar/dimension frames;
    - no Window over a single-partition Exchange (unpartitioned
      Window nodes print two bracket groups instead of three).
    """
    import re

    offenders = []
    for name, spec in sorted(all_queries().items()):
        plan = _plan(spec.builder(spark, SF))
        if "BatchEvalPython" in plan:
            offenders.append((name, "row-wise python UDF"))
        if "CartesianProduct" in plan:
            offenders.append((name, "cartesian product"))
        if name not in (
            "b33c_simsearch_ivf",
            # b33d: PQ encode + ADC lookup kernels — BLAS/table-lookup
            # numpy work, the published IVFADC+R shape (simsearch.py)
            "b33d_simsearch_pq",
            "t10b_bpe_real",
            "t27_semdedup",
            # t30: bitmap-probe pandas UDF — a JVM spelling would need a
            # bitmap-indexable type Spark lacks; probe side is the
            # increment, never the corpus (see operators/bloomdedup.py)
            "t30_bloom_incremental",
            # t31: bench-matrix BLAS kernel (max_cosine_vs_set) — the
            # ivf_assign rationale; the HOF-fold spelling runs
            # interpreted per row-pair
            "t31_semantic_decontamination",
        ):
            if "ArrowEvalPython" in plan or "MapInPandas" in plan:
                offenders.append((name, "unsanctioned pandas kernel"))
        if (
            "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        ) and name not in _SMJ_ALLOWED:
            offenders.append((name, "non-broadcast join (missed broadcast?)"))
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOWED:
            offenders.append((name, "unreviewed nested-loop join"))
        for line in plan.splitlines():
            if re.search(r"\bWindow \[", line):
                groups = re.findall(r"\[[^\]]*\]", line)
                # 3 groups = [exprs], [partition], [order]. 2 groups is
                # AMBIGUOUS: partitioned-unordered (frame-wide agg, e.g.
                # t15's count() over partitionBy(_s)) prints
                # [exprs], [partition]; unpartitioned-ordered prints
                # [exprs], [order] — only the latter is the single-
                # partition cliff. Order specs always carry ASC/DESC;
                # partition specs never do.
                if len(groups) < 2 or (
                    len(groups) == 2
                    and re.search(r"\b(ASC|DESC)\b", groups[1])
                ):
                    offenders.append((name, "unpartitioned window"))
    assert not offenders, offenders


def test_levenshtein_blocking_key_scales_with_corpus(spark):
    """The fuzzy-dedup blocking key must be composite: its cardinality has
    to grow with the corpus (langs × prefix buckets × length bands), not
    stay pinned at the handful of languages — otherwise one language block
    is the corpus at scale and the join degenerates to O(n²)."""
    from deimos_spark.catalog import load_table
    from deimos_spark.operators.dedup import levenshtein_near_pairs
    from deimos_spark.operators.sampling import hash_bucket
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    n_langs = docs.select("lang").distinct().count()
    block_keys = (
        docs.select(
            F.col("lang"),
            hash_bucket(F.substring(F.col("text"), 1, 8), 16, salt="lev").alias("pbkt"),
            F.floor(F.length("text") / F.lit(64.0)).cast("int").alias("band"),
        )
        .distinct()
        .count()
    )
    assert block_keys > n_langs * 3  # composite, not lang-only

    # and the join is an equi-join on the composite key, never cartesian
    plan = _plan(levenshtein_near_pairs(docs, max_dist=24, prefix=32))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_tpch_dims_broadcast_facts_shuffle(spark):
    from deimos_spark.operators import tpch

    plan = _plan(tpch.h05_local_supplier_volume(spark, SF))
    # four dims broadcast; the lineitem⋈orders fact join may shuffle
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_tpch_q1_partial_agg(spark):
    from deimos_spark.operators import tpch

    plan = _plan(tpch.h01_pricing_summary(spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_decontamination_benchmark_side_broadcast(spark):
    """t14: with broadcast_benchmark (the default), the overlap join is
    a BroadcastHashJoin probing the tiny benchmark shingle set — the
    100-TB corpus side is never shuffled for it. With the flag off it
    degrades to a shuffle equi-join (still never cartesian)."""
    from deimos_spark.catalog import load_table
    from deimos_spark.operators.dedup import benchmark_contamination

    docs = load_table(spark, SF, "documents")
    plan = _plan(benchmark_contamination(docs, benchmark_max_id=50))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # r15 single-pass shape: corpus exploded ONCE (one Generate per
    # side: corpus + benchmark), overlap counted in the same aggregate
    # as the total — no aggregate-to-aggregate join back
    assert plan.count("Generate") == 2, plan
    assert "LeftOuter" in plan, plan
    # the explicit pre-explode corpus repartition exists ONLY on the
    # broadcast path (where it is the corpus's single exchange); on the
    # non-broadcast path the overlap join re-shuffles the exploded
    # relation anyway, so the full-text corpus shuffle would be pure
    # added cost and must be absent (r16 gate)
    assert "REPARTITION_BY_COL" in plan, plan
    plan_off = _plan(
        benchmark_contamination(docs, benchmark_max_id=50, broadcast_benchmark=False)
    )
    assert "CartesianProduct" not in plan_off
    assert "REPARTITION_BY_COL" not in plan_off, plan_off


def test_tpch_q21_no_cartesian_no_window(spark):
    from deimos_spark.operators import tpch

    plan = _plan(tpch.h21_waiting_supplier(spark, SF))
    # the double-correlation is two hash aggregates, not window/cartesian
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 4


def test_dsir_family_reuses_tokenize_exchange(spark):
    """t21/t23 promise their tokenize+hash (doc,bucket) aggregate's
    exchange is computed ONCE and reused by both the bucket model and
    the per-doc scoring — the difference between 1x and 2x corpus cost
    at 100 TB. AQE shows that as a ReusedExchange/ReusedShuffle node (or
    a reused stage) in the final plan."""
    for name in ("t21_dsir_weights", "t23_unigram_ppl"):
        df = all_queries()[name].builder(spark, SF)
        plan = _plan(df)
        assert ("ReusedExchange" in plan) or ("ReusedShuffle" in plan), name


def test_source_overlap_content_join_is_hash(spark):
    """t24's CONTENT self-join must be a hash join keyed on the md5
    hash — never a cartesian product over documents. (The separate
    source-PAIR cross join is dimension-sized by design: n_src² rows,
    broadcast; it is allowed to plan as a nested-loop over the tiny
    source list.)"""
    plan = _plan(all_queries()["t24_source_overlap"].builder(spark, SF))
    assert "CartesianProduct" not in plan
    # the ck equi-join planned as a hash join
    assert "HashJoin [ck" in plan or "HashJoin [source" in plan or (
        "SortMergeJoin [ck" in plan
    ), plan[:2000]


def test_funnel_scans_events_once(spark):
    """VERDICT r9 #2: the funnel reads the event log ONCE however long
    the funnel — one scan, one groupBy(user) shuffle, reach chain as
    array expressions. A per-step filter+join shape re-reads the fact
    table len(steps) times, which at 100 TB means an 8-step funnel
    pays 8 full scans."""
    df = all_queries()["x06_funnel"].builder(spark, SF)
    plan = _plan(df)
    assert plan.count("events.parquet") == 1, plan


def test_semdedup_plan_has_no_crossjoin_no_range_sort(spark):
    """t27's r11 plan contract: assignment is ONE mapInPandas
    projection (no crossJoin row blowup, no per-vector row_number
    window), pruning shuffles ONCE on the cluster id, and the sorted
    summary comes from a single-partition local sort (repartition(1)),
    never a rangepartitioning exchange — whose sampling pass would
    re-execute the pipeline with AQE off."""
    plan = _plan(all_queries()["t27_semdedup"].builder(spark, SF))
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan.lower()
    low = plan.lower()
    assert low.count("hashpartitioning") <= 1  # the groupBy(_cid) shuffle
    assert "exchange singlepartition" in low  # K-bounded local sort


def test_x10_plan_is_long_sums_no_decimal_aggregate(spark):
    """x10's r11 contract: the aggregate buffers are BIGINT partial
    sums (lo/hi split) — no sum(decimal) in the aggregate, so no
    per-row BigDecimal on any path; decimal appears only in the
    per-GROUP reconstruction after the final aggregate."""
    plan = _plan(all_queries()["x10_decimal_revenue"].builder(spark, SF))
    import re as _re

    agg_lines = [
        ln for ln in plan.splitlines() if "HashAggregate" in ln
    ]
    assert agg_lines, plan
    for ln in agg_lines:
        assert not _re.search(r"sum\([^)]*decimal", ln, _re.I), ln


def test_t15_single_pass_no_join(spark):
    """t15's r15 reshape: ONE scan+explode pass, no join — the old plan
    evaluated the exploded-shingle subtree three times (df-frequency
    aggregate, per-doc total, join back) and paid ~10 exchanges. The
    window's per-shingle layout is established by the SAME exchange the
    distinct uses (repartition(_s) satisfies the (_id,_s) clustering),
    so the whole query is 2 hash exchanges + the output sort."""
    plan = _plan(all_queries()["t15_duplicate_ngrams"].builder(spark, SF))
    assert "Join" not in plan, plan
    assert plan.count("Generate") == 1, plan
    # spread (round-robin) + hash(_s) + hash(_id) + output range sort
    assert plan.count("Exchange") <= 4, plan
    assert "Window" in plan, plan


def test_t15_big_regime_shape_no_window_skew(spark, scale_regime):
    """t15's r16 scale gate: in the big regime the builder must
    switch from the count()-over-Window.partitionBy(_s) single pass
    (which lands a hot shingle's ENTIRE row set in one WindowExec task —
    no partial aggregation, and AQE skew handling covers joins only) to
    the partial-agg document-frequency + flag-join shape, where a hot
    shingle crosses the wire as one (shingle, partial) row per map
    partition and the join is AQE-skew-splittable. Pinned here on a
    deliberately skewed corpus: one boilerplate 5-gram in 50% of docs."""
    from deimos_spark.operators.dedup import duplicate_ngram_spans

    # skewed corpus: half the docs share one boilerplate 5-gram
    hot = "the quick brown fox jumps"
    docs = spark.range(400).selectExpr(
        "id AS doc_id",
        f"concat(CASE WHEN id % 2 = 0 THEN '{hot} ' ELSE '' END, "
        "'u', id, ' v', id, ' w', id, ' x', id, ' y', id, ' z', id) AS text",
    )
    small = duplicate_ngram_spans(docs, n=5, min_docs=2, single_pass=True)
    big = duplicate_ngram_spans(docs, n=5, min_docs=2, single_pass=False)
    assert sorted(small.collect()) == sorted(big.collect())
    plan = _plan(big)
    assert "Window" not in plan, plan
    assert "partial_count" in plan, plan  # map-side reduction of the hot key

    # the BUILDER gate: in the small regime the declared query plans
    # the window shape (test_t15_single_pass_no_join); force the whole
    # session into the big regime (AQE on, no spread) and it must plan
    # the big-regime shape — with the exploded-shingle subtree
    # materialized once, not twice (exchange reuse; kept possible by
    # the null-safe flag join, see duplicate_ngram_spans)
    with scale_regime(0):
        plan_big = _plan(all_queries()["t15_duplicate_ngrams"].builder(spark, SF))
    assert "Window" not in plan_big, plan_big
    assert "Join" in plan_big, plan_big
    assert (
        "ReusedExchange" in plan_big or "ReusedShuffle" in plan_big
    ), plan_big
