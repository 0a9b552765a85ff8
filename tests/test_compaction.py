"""Compaction (A14) and batch slicing (A15) — mirrors the reference's
batch_slicer_spec scenario: messages [C1,A1,B1,A2,C2,C3] (letter=key,
number=occurrence) slice to [[C1,A1,B1],[A2,C2],[C3]].
"""

from pyspark.sql import Row

from deimos_spark.operators.compaction import compact_keep_last, slice_batch, slice_ids


def _batch(spark):
    # arrival order via offset; key=k
    rows = [
        Row(k="C", v="C1", partition=0, offset=0),
        Row(k="A", v="A1", partition=0, offset=1),
        Row(k="B", v="B1", partition=0, offset=2),
        Row(k="A", v="A2", partition=0, offset=3),
        Row(k="C", v="C2", partition=0, offset=4),
        Row(k="C", v="C3", partition=0, offset=5),
    ]
    return spark.createDataFrame(rows)


def test_compact_keep_last(spark):
    out = compact_keep_last(_batch(spark), ["k"], ["partition", "offset"])
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {"A": "A2", "B": "B1", "C": "C3"}


def test_compact_preserves_unkeyed(spark):
    rows = [
        Row(k=None, v="u1", partition=0, offset=0),
        Row(k=None, v="u2", partition=0, offset=1),
        Row(k="A", v="A1", partition=0, offset=2),
        Row(k="A", v="A2", partition=0, offset=3),
    ]
    out = compact_keep_last(spark.createDataFrame(rows), ["k"], ["offset"])
    vs = sorted(r["v"] for r in out.collect())
    assert vs == ["A2", "u1", "u2"]  # unkeyed rows all kept


def test_compact_is_one_aggregate_and_keeps_unkeyed_duplicates(spark):
    """One evaluation of the input: a single Aggregate and no Union
    branch. Exact-duplicate unkeyed rows each get their own group, so
    both survive; the output keeps the input's columns in order."""
    rows = [
        Row(k=None, v="u", partition=0, offset=0),
        Row(k=None, v="u", partition=0, offset=0),
        Row(k="A", v="A1", partition=0, offset=1),
        Row(k="A", v="A2", partition=0, offset=2),
    ]
    df = spark.createDataFrame(rows)
    out = compact_keep_last(df, ["k"], ["partition", "offset"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate [") == 1, plan
    assert "Union" not in plan, plan
    assert out.columns == df.columns
    got = sorted((r["k"] or "", r["v"]) for r in out.collect())
    assert got == [("", "u"), ("", "u"), ("A", "A2")]


def test_slice_batch_caches_nothing(spark):
    spark.catalog.clearCache()
    slices = slice_batch(_batch(spark), ["k"], ["partition", "offset"])
    assert [s.count() for s in slices] == [3, 2, 1]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_slice_ids_match_reference_algorithm(spark):
    out = slice_ids(_batch(spark), ["k"], ["partition", "offset"])
    got = {r["v"]: r["_slice"] for r in out.collect()}
    assert got == {"C1": 1, "A1": 1, "B1": 1, "A2": 2, "C2": 2, "C3": 3}


def test_slice_batch_materializes_reference_slices(spark):
    slices = slice_batch(_batch(spark), ["k"], ["partition", "offset"])
    as_sets = [sorted(r["v"] for r in s.collect()) for s in slices]
    assert as_sets == [["A1", "B1", "C1"], ["A2", "C2"], ["C3"]]
    # each slice has distinct keys
    for s in slices:
        ks = [r["k"] for r in s.collect()]
        assert len(ks) == len(set(ks))


def test_minhash_collapse_exact_equals_unique_corpus(spark):
    """collapse_exact on a dup-heavy corpus ≡ running on unique contents:
    representative pairs identical; cost scales with unique docs only."""
    from pyspark.sql import functions as F

    from deimos_spark.operators import dedup

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # duplicate every doc 3x with distinct ids; min-id copy is the 0th,
    # so representatives == the original ids
    big = d.crossJoin(spark.range(3).withColumnRenamed("id", "_c")).select(
        (F.col("doc_id") * 3 + F.col("_c")).alias("doc_id"), "text"
    )
    uniq = d.select((F.col("doc_id") * 3).alias("doc_id"), "text")

    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(
            big, jaccard_threshold=0.3, collapse_exact=True
        ).collect()
    )
    want = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(uniq, jaccard_threshold=0.3).collect()
    )
    assert got == want


def test_jaccard_vs_query_matches_perrow_reference(spark):
    """jaccard_vs_query's exploded-aggregate form must agree exactly with
    the per-row ngram_jaccard_expr reference expression (same shingle
    semantics incl. short-doc fallback and whitespace normalization)."""
    from pyspark.sql import functions as F

    from deimos_spark.operators import dedup

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # add degenerate docs: short (<n tokens), multi-space, empty-ish
    extra = spark.createDataFrame(
        [
            (100001, "one two"),
            (100002, "   padded    spaces   between   tokens here  "),
            (100003, "x"),
        ],
        "doc_id long, text string",
    )
    d = d.select("doc_id", "text").union(extra)
    qtext = d.filter(F.col("doc_id") == 0).select("text").head()[0]

    fast = dedup.jaccard_vs_query(d, qtext, n=3, k=10_000)
    ref_jac = dedup.ngram_jaccard_expr(F.col("text"), F.lit(qtext), 3)
    ref = d.select(
        "doc_id", F.round(ref_jac, 4).alias("jaccard")
    )
    got = {(r["doc_id"], r["jaccard"]) for r in fast.collect()}
    want = {(r["doc_id"], r["jaccard"]) for r in ref.collect()}
    assert got == want


def test_duplicate_ngram_spans_known_counts(spark):
    """t15 kernel on a hand-built corpus: shared 3-grams counted per doc,
    unique docs report zero."""
    from deimos_spark.operators import dedup

    d = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),       # shares 3-grams with 2
            (2, "the quick brown fox sleeps"),      # 2 shared of 3
            (3, "completely different text here"),  # no overlap
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_ngrams"], r["dup_ngrams"])
        for r in dedup.duplicate_ngram_spans(d, n=3).collect()
    }
    # doc1/doc2 share "the quick brown" and "quick brown fox"
    assert out[1] == (3, 2)
    assert out[2] == (3, 2)
    assert out[3] == (2, 0)


def test_scrub_pii_redacts_typed_tokens(spark):
    from deimos_spark.functions.text import pii_counts, scrub_pii

    d = spark.createDataFrame(
        [("mail a.user@corp.example.org or call +1-555-123-4567 from 192.168.0.1 ok",)],
        "t string",
    )
    row = d.select(
        scrub_pii("t").alias("s"), *[
            v.alias(k) for k, v in pii_counts("t").items()
        ]
    ).head()
    assert "[EMAIL]" in row["s"] and "[PHONE]" in row["s"] and "[IPV4]" in row["s"]
    assert "a.user@" not in row["s"] and "192.168" not in row["s"]
    assert (row["email"], row["phone"], row["ipv4"]) == (1, 1, 1)
