"""Deduplication operators for LLM-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup — all expressed
with JVM-side columnar expressions (xxhash64, higher-order functions) so
they distribute cleanly: the only shuffles are the groupBy on hash keys /
LSH buckets, which is the theoretical minimum for dedup.

Scale notes (100 TB):
- exact dedup: shuffle on a 256-bit content hash, uniform by construction —
  no skew. Map-side combine removes intra-partition dupes first.
- MinHash-LSH: band buckets are the join key; bucket sizes are bounded by
  tuning (bands×rows); candidate verification is per-pair Jaccard, done
  after the equi-join (never cartesian).
- SimHash: 64-bit fingerprint; near-dup candidates via band equality on
  16-bit chunks (any hamming-≤3 pair shares ≥1 of 4 chunks — pigeonhole).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from deimos_spark.functions.text import shingles, tokens


# ---------------------------------------------------------------- exact

def dedup_exact(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact dedup on a column subset. dropDuplicates = hash shuffle on the
    cols + first-row pick; deterministic result set (not row identity)."""
    return df.dropDuplicates(cols)


def dedup_by_content_hash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the smallest id per identical content (sha2-256 of text).
    Hashing first means the shuffle carries a 32-byte key instead of the
    full document — at 100 TB that's the difference that matters."""
    h = F.sha2(F.col(text_col), 256)
    return (
        df.withColumn("_h", h)
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .drop("_h")
    )


# ---------------------------------------------------------------- MinHash + LSH

_LONG_MAX = (1 << 63) - 1


def minhash_signature_from_shingles(
    shingle_col: Column, num_hashes: int = 32
) -> Column:
    """MinHash signature as array<bigint> from a precomputed shingle array:
    one fold over the shingles, updating all num_hashes mins per element
    (single pass — the shingle array is never re-evaluated)."""
    return F.aggregate(
        shingle_col,
        F.array_repeat(F.lit(_LONG_MAX).cast("long"), num_hashes),
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.xxhash64(s, F.lit(j)) for j in range(num_hashes)]),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_signature(
    col: Column | str, num_hashes: int = 32, shingle_n: int = 3
) -> Column:
    """MinHash signature from raw text (prefer the _from_shingles variant
    inside pipelines so the shingle array is computed once per row)."""
    return minhash_signature_from_shingles(shingles(col, shingle_n), num_hashes)


def exploded_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    partition_by_shingle: bool = False,
) -> DataFrame:
    """Distinct word n-gram shingles in exploded form: (_id, _s).

    Shingles are built as ONE per-row string array (codegen'd split +
    an element_at window per position), then exploded — replacing the
    earlier posexplode → Window.partitionBy(_id).orderBy(_p) chain,
    i.e. a full token-relation shuffle AND a per-doc sort, with zero
    pre-explode shuffles (the t06 minhash lesson; a bare explode of one
    array carrying only the id stays on the fast generator path).
    Docs with fewer than n tokens contribute their whole trimmed,
    whitespace-normalized text as the single shingle — byte-identical
    to the previous implementation and to `shingles()`.

    partition_by_shingle=True hash-partitions the exploded rows on _s
    BEFORE the distinct: HashPartitioning(_s) satisfies the distinct's
    ClusteredDistribution((_id, _s)) (subset rule), so the dedup agg
    adds NO exchange of its own and the returned relation is laid out
    on the shingle key — a downstream per-shingle window or groupBy
    then needs only a sort, not another full exchange of the exploded
    relation (r15, duplicate_ngram_spans). Rows are identical either
    way; only the physical layout differs.
    """
    parts = ", ".join(f"element_at(_ws, i + {k + 1})" for k in range(n))
    sh = (
        f"CASE WHEN size(_ws) < {n} THEN "
        f"array(regexp_replace(trim({text_col}), '\\\\s+', ' ')) "
        f"ELSE transform(sequence(0, size(_ws) - {n}), "
        f"i -> concat_ws(' ', {parts})) END"
    )
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col),
        F.expr(f"split(trim({text_col}), '\\\\s+')").alias("_ws"),
    ).select("_id", F.explode(F.expr(sh)).alias("_s"))
    if partition_by_shingle:
        ex = ex.repartition("_s")
    return ex.distinct()


def collapse_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Collapse byte-identical documents to one representative (min id)
    before any near-dup pipeline. At corpus scale, boilerplate pages form
    exact-dup clusters of 10⁴⁺ copies; every such cluster lands in ONE LSH
    bucket and produces O(cluster²) candidate pairs. Collapsing first makes
    the near-dup cost a function of UNIQUE content — the only shape that
    survives 100 TB. Pairs within an exact cluster are jaccard=1.0 by
    definition and don't need scoring.

    Shape (r16): group by the TEXT itself, not xxhash64(text). The old
    groupBy(hash) + first(text) planned as two SortAggregates (First's
    var-length buffer disqualifies HashAggregateExec) with a full sort
    of the text-carrying input BEFORE the exchange; grouping keys may be
    var-length, so groupBy(text).agg(min(id)) is a pure HashAggregate —
    zero sorts (plans/r16/t06_minhash_pairs_{before,after}.txt). Shuffle
    bytes are the same or less: the old partial rows carried
    (hash, min_id, first_text); the new ones carry (text, min_id). It is
    also strictly more exact — a 64-bit hash collision between two
    DIFFERENT texts no longer merges them into one "exact" group."""
    return (
        df.groupBy(F.col(text_col))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, text_col)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    collapse_exact: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding.

    bands=8 × rows=4 over 32 hashes ⇒ s-curve threshold ≈ (1/8)^(1/4) ≈ 0.59.
    Candidates = equi-join on (band_id, band_hash); each candidate pair is
    verified with exact shingle Jaccard (computed on the exploded shingle
    relation — inter via equi-join count, union via |A|+|B|-inter — so the
    whole pipeline is joins + hash aggregates, no interpreted lambdas).

    Hash family: h_j = h1 + j*h2 (double hashing, wraparound arithmetic) —
    2 xxhash64 calls per shingle instead of num_hashes.

    collapse_exact=True pre-collapses byte-identical docs (see
    collapse_exact_duplicates) and returns pairs between REPRESENTATIVES —
    the scale-correct mode for corpora with boilerplate dup clusters.
    """
    if collapse_exact:
        df = collapse_exact_duplicates(df, text_col, id_col)
    rows = num_hashes // bands
    # Shingling is a per-row ARRAY expression: tokens hashed with one
    # codegen'd transform, then the two shingle identity hashes (h1;
    # h2 = same + lit(1)) built as two LONG arrays. This replaces the
    # round-3/4 posexplode → Window.partitionBy(_id).orderBy(_p) chain —
    # i.e. the full token-relation shuffle AND per-doc sort — with zero
    # shuffles before the shingle relation exists. Plain long arrays on
    # purpose: array<struct> through transform-lambdas or a generator
    # that carries a second array measures 20-40x slower on the
    # interpreted (non-codegen) higher-order-function path, while
    # long-array transforms + inline(arrays_zip(...)) stay fast.
    # Expressions are SQL strings: one parse each instead of many py4j
    # Column calls (plan-build time, bench cold_queries).
    toks = f"transform(split(trim({text_col}), '\\\\s+'), w -> xxhash64(w))"

    def _sharr(extra: str) -> str:
        args = ", ".join(
            f"element_at(_th, i + {k + 1})" for k in range(shingle_n)
        )
        # docs with < n tokens contribute their whole text as one shingle
        return (
            f"CASE WHEN size(_th) < {shingle_n} THEN "
            f"array(xxhash64(trim({text_col}){extra})) "
            f"ELSE transform(sequence(0, size(_th) - {shingle_n}), "
            f"i -> xxhash64({args}{extra})) END"
        )

    hashed = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col))
        .select("_id", F.col(text_col), F.expr(toks).alias("_th"))
        .select(
            "_id",
            F.expr(_sharr("")).alias("_h1s"),
            F.expr(_sharr(", 1")).alias("_h2s"),
        )
        .select("_id", F.expr("inline(arrays_zip(_h1s, _h2s))"))
        .select(
            "_id",
            F.col("_h1s").alias("_h1"),
            F.col("_h2s").alias("_h2"),
        )
        # ONE exchange for the whole shingle-hash relation (r15):
        # hash(_id) satisfies both the distinct's (_id,_h1,_h2)
        # clustering (subset rule) and the signature aggregate's
        # groupBy(_id) — the old plan exchanged this relation twice
        # (hash(_id,_h1,_h2) for the distinct, then hash(_id) for the
        # signature). The relation is materialized once and reused by
        # the two verify joins, so the saved exchange is a full pass
        # over every shingle hash. Rows identical; layout only.
        .repartition("_id")
        .distinct()
    )
    # signature: num_hashes mins in ONE hash aggregate (map-side combine
    # shrinks the shuffle to num_docs × num_hashes longs). Signature AND
    # distinct-shingle count ride in the same aggregate, so the doc's
    # size flows through the band join with no separate sizes joins.
    sig = hashed.groupBy("_id").agg(
        F.expr("count(1) AS _n"),
        *[F.expr(f"min(_h1 + {j}L * _h2) AS _m{j}") for j in range(num_hashes)],
    )
    band_structs = ", ".join(
        "struct({b} AS band, xxhash64({cols}) AS bh)".format(
            b=b,
            cols=", ".join(f"_m{b * rows + r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    banded = sig.select(
        "_id", "_n", F.expr(f"explode(array({band_structs})) AS bb")
    ).select("_id", "_n", "bb.band", "bb.bh")

    left = banded.select(
        F.col("_id").alias("id_a"), F.col("_n").alias("_na"), "band", "bh"
    )
    right = banded.select(
        F.col("_id").alias("id_b"), F.col("_n").alias("_nb"), "band", "bh"
    )
    cand = (
        left.join(right, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_na", "_nb")
        .distinct()
    )
    inter = (
        cand.join(hashed.select(F.col("_id").alias("id_a"), "_h1", "_h2"), "id_a")
        .join(
            hashed.select(F.col("_id").alias("id_b"), "_h1", "_h2"),
            ["id_b", "_h1", "_h2"],
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("_inter"),
            F.max("_na").alias("_na"),
            F.max("_nb").alias("_nb"),
        )
    )
    if jaccard_threshold > 0:
        # banding false-positives with ZERO common shingles have jaccard 0
        # and can't pass the threshold — skip the cand←inter left join and
        # fill; `inter` (built from cand) is already the survivor set. One
        # join fewer in the plan (trims both build and run time).
        verified = inter
    else:
        verified = (
            cand.join(
                inter.select("id_a", "id_b", "_inter"), ["id_a", "id_b"], "left"
            ).na.fill({"_inter": 0})
        )
    jac = F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter"))
    return (
        verified.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


# ---------------------------------------------------------------- n-gram Jaccard

def ngram_jaccard_expr(a: Column, b: Column, n: int = 3) -> Column:
    """Exact Jaccard over word n-gram shingle *sets*."""
    sa = F.array_distinct(shingles(a, n))
    sb = F.array_distinct(shingles(b, n))
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def jaccard_vs_query(
    df: DataFrame,
    query_text: str,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """Top-k most-similar documents to a fixed query text by shingle
    Jaccard.

    Shaped for codegen, not per-row array lambdas: Spark higher-order
    functions (transform/aggregate/array_intersect over a built array)
    run interpreted, so the per-row `ngram_jaccard_expr` form was the
    slowest declared query at sf0.01. Instead the corpus is exploded to
    distinct (doc, shingle) rows (posexplode + window lead — fully
    codegen'd), the query's shingle set is computed driver-side (it is a
    plain Python string) and probed with an InSet predicate, and one hash
    aggregate per doc yields |A| and |A∩Q| together:

        J = inter / (|A| + |Q| - inter)      (|Q| is a literal)

    No join against the query side at all; the only shuffles are the
    window partition and the final aggregate, both on doc_id. Top-k is
    TakeOrderedAndProject. Semantics identical to ngram_jaccard_expr
    (kept as the per-row reference form, used in tests)."""
    import re

    stripped = query_text.strip()
    toks = re.split(r"\s+", stripped) if stripped else [""]
    if len(toks) >= n:
        q_shingles = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    else:
        q_shingles = {" ".join(toks)}

    ex = exploded_shingles(df, text_col, id_col, n)
    per_doc = ex.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_na"),
        F.sum(
            F.when(F.col("_s").isin(*q_shingles), 1).otherwise(0)
        ).alias("_inter"),
    )
    union = F.col("_na") + F.lit(len(q_shingles)) - F.col("_inter")
    jac = F.when(union == 0, F.lit(0.0)).otherwise(F.col("_inter") / union)
    return (
        per_doc.select(F.col("_id").alias(id_col), F.round(jac, 4).alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), F.col(id_col))
        .limit(k)
    )


# ------------------------------------------------------------- edit distance

def levenshtein_near_pairs(
    df: DataFrame,
    max_dist: int = 20,
    prefix: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    band_width: int = 64,
    prefix_buckets: int = 16,
    collapse_exact: bool = False,
) -> DataFrame:
    """Fuzzy near-dup pairs: COMPOSITE blocking then edit-distance verify —
    the standard record-linkage shape with a blocking key that keeps
    working at corpus scale.

    collapse_exact=True first collapses byte-identical texts to one
    representative (min id). Exact-dup clusters are the blocking scheme's
    worst case — every copy shares the same block key, so a cluster of c
    copies contributes O(c²) candidate pairs of distance 0 that say
    nothing. Collapsing makes the join cost a function of UNIQUE text
    (measured: the K=10 stress replication drops from super-linear
    exp≈1.7 to flat) and is the mode the declared t11 query uses.

    Blocking on language alone is a scale-killer: at 100 TB one language
    block IS the corpus and the within-block join is O(n²). The composite
    key here is (lang, md5-bucket of the first 8 chars, length band), with
    each probe row exploded to its ±1 adjacent bands so same-length-ish
    pairs across a band boundary still meet. Block-key cardinality grows
    with the corpus (langs × prefix_buckets × length bands) so per-block
    membership stays bounded; the join stays a shuffle-co-located
    equi-join, never cartesian.

    This is declared-approximate by design (pairs differing in their first
    8 chars or by > band_width in length are not candidates); the md5
    bucketing is engine-portable so the same blocking is expressible in
    the DuckDB oracle. For recall-sensitive dedup use minhash candidates +
    `levenshtein` as the verifier instead (minhash_near_pairs).
    Levenshtein is O(prefix²) per candidate pair, which is why candidates
    must be blocked first at any scale.
    """
    from deimos_spark.operators.sampling import hash_bucket

    if collapse_exact:
        # group by the text itself (r16, the collapse_exact_duplicates
        # rationale: var-length GROUPING keys hash-aggregate fine, a
        # var-length first() BUFFER forces SortAggregate + a full
        # pre-exchange sort); identical texts share lang, min() keeps it
        # deterministic anyway — and GROUP BY text is exactly what the
        # declared t11 oracle SQL does
        df = (
            df.groupBy(F.col(text_col))
            .agg(
                F.min(id_col).alias(id_col),
                F.min(lang_col).alias(lang_col),
            )
            .select(id_col, text_col, lang_col)
        )

    pbkt = hash_bucket(
        F.substring(F.col(text_col), 1, 8), prefix_buckets, salt="lev"
    )
    band = F.floor(F.length(F.col(text_col)) / F.lit(float(band_width))).cast("int")
    keyed = df.select(
        F.col(id_col),
        F.col(lang_col).alias("_lang"),
        pbkt.alias("_pbkt"),
        band.alias("_band"),
        F.substring(F.col(text_col), 1, prefix).alias("_t"),
    )
    a = keyed.select(
        F.col(id_col).alias("id_a"),
        "_lang",
        "_pbkt",
        F.explode(
            F.array(F.col("_band") - 1, F.col("_band"), F.col("_band") + 1)
        ).alias("_band"),
        F.col("_t").alias("_ta"),
    )
    b = keyed.select(
        F.col(id_col).alias("id_b"), "_lang", "_pbkt", "_band",
        F.col("_t").alias("_tb"),
    )
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"))
    return (
        a.join(b, ["_lang", "_pbkt", "_band"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("dist"))
        .filter(F.col("dist") <= max_dist)
    )


# ---------------------------------------------------------------- SimHash

def simhash64(col: Column | str) -> Column:
    """64-bit SimHash over whitespace tokens.

    bit b of the fingerprint = sign of Σ_tokens (±1 by bit b of
    xxhash64(token)). Folded entirely in codegen: aggregate over the token
    array with a 64-int accumulator (zip_with add), then re-pack to a long.
    """
    toks = tokens(col)
    # bit positions are unrolled Python-side (shiftright needs a literal int)
    bitvec = F.aggregate(
        toks,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, t: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(F.xxhash64(t), i).bitwiseAND(F.lit(1)) == 1,
                        F.lit(1).cast("long"),
                    ).otherwise(F.lit(-1).cast("long"))
                    for i in range(64)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    # pack sign bits into a long: OR of 2^i for bits where acc[i] > 0
    packed = F.lit(0).cast("long")
    for i in range(64):
        mask = (1 << i) if i < 63 else -(1 << 63)  # bit 63 = long sign bit
        packed = packed.bitwiseOR(
            F.when(
                F.element_at(bitvec, i + 1) > 0, F.lit(mask).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        )
    return packed


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, _sh) 64-bit SimHash per document, computed in exploded shape:
    explode tokens → one xxhash64 per token → 64 conditional sums in a
    single hash aggregate → pack sign bits. Fully codegen'd (the
    `simhash64` column expression is the per-row-array equivalent, which
    runs interpreted — use this one in pipelines)."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_w"),
    ).select(id_col, F.xxhash64("_w").alias("_h"))
    # 64 conditional sums + the bit-pack, each built as ONE SQL string —
    # a single py4j round-trip + JVM parse instead of hundreds of nested
    # Column nodes (the nested bitwiseOR chain alone was 64 levels deep
    # and dominated cold plan-build time)
    agg = toks.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(_h, {i}) & 1L) = 1L "
                f"THEN 1 ELSE -1 END) AS _b{i}"
            )
            for i in range(64)
        ]
    )
    # sum of disjoint power-of-two masks == bitwise OR; bit 63 is the
    # long sign bit, so its mask is Long.MIN_VALUE and two's-complement
    # addition still sets exactly that bit
    pack_terms = " + ".join(
        f"(CASE WHEN _b{i} > 0 THEN {(1 << i) if i < 63 else -(1 << 63)}L "
        "ELSE 0L END)"
        for i in range(64)
    )
    return agg.select(F.col(id_col), F.expr(f"({pack_terms}) AS _sh"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    collapse_exact: bool = False,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ max_hamming.

    Candidate generation: split the 64-bit fingerprint into 4 16-bit chunks;
    any pair within hamming 3 must agree on ≥1 chunk (pigeonhole), so an
    equi-join per chunk finds all candidates without a cartesian product.
    collapse_exact=True pre-collapses byte-identical docs (identical docs
    share a fingerprint, so dup clusters otherwise cost O(cluster²)).
    """
    if collapse_exact:
        df = collapse_exact_duplicates(df, text_col, id_col)
    sh = simhash_fingerprints(df, text_col, id_col)
    chunks = sh.select(
        id_col,
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("_sh", 16 * c)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("cv"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select(id_col, "_sh", "cc.chunk", "cc.cv")
    left = chunks.select(
        F.col(id_col).alias("id_a"), F.col("_sh").alias("sa"), "chunk", "cv"
    )
    right = chunks.select(
        F.col(id_col).alias("id_b"), F.col("_sh").alias("sb"), "chunk", "cv"
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        left.join(right, ["chunk", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ------------------------------------------------- verbatim duplication scan

def duplicate_ngram_spans(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    single_pass: bool = False,
) -> DataFrame:
    """Per-document verbatim-duplication signal: how many of a doc's
    distinct word n-grams also appear in ≥ min_docs-1 OTHER documents.

    This is the Spark-shaped version of the substring-dedup signal from
    the public "Deduplicating Training Data Makes Language Models
    Better" line of work: instead of a suffix array (pointer-chasing,
    single-machine), duplicated spans are found as n-grams whose
    document frequency exceeds a threshold. Every step is a hash
    shuffle on the shingle or the doc id; nothing is ever all-pairs.
    Downstream pipelines drop or trim documents with high
    dup_ngrams/n_ngrams ratios. Integer outputs → exact DuckDB oracle
    comparison. Both shapes below return bit-identical rows
    (oracle-checked at sf0.01 and sf0.1; identity pinned by
    tests/test_plan_shapes.py and, in the big regime, by
    tests/test_full_registry_oracle.py).

    single_pass=True (r15; the SMALL-INPUT shape — callers gate it on
    session.small_input, see queries.q_duplicate_ngrams): ONE pass over
    the exploded-shingle relation. Since the relation is distinct (_id,_s),
    countDistinct(_id) per shingle IS the row count per shingle, so a
    count() window over the _s-partitioned layout (established once,
    shared by the distinct — exploded_shingles(partition_by_shingle=
    True)) flags every row in place and one per-doc aggregate produces
    both counts: 2 exchanges + a sort, explode computed once, no join
    (plans/r16/t15_duplicate_ngrams_smallregime.txt). NOT safe at
    corpus scale: repartition("_s") colocates EVERY row of a shingle,
    and WindowExec has no partial aggregation and buffers each
    partition-by group — a boilerplate n-gram present in a large
    fraction of documents lands its entire row set in ONE task (AQE
    skew handling covers joins only, not windows).

    single_pass=False (r16; the AT-SCALE shape and the default):
    partial-agg document frequency + a join back of the frequent-shingle set. The distinct
    clusters on hash(_id,_s) — well spread even for hot shingles — and
    the groupBy("_s").count() reduces map-side first, so a hot shingle
    crosses the wire as one (shingle, partial) row PER MAP PARTITION,
    not one row per document; the flag join on _s is a real join, which
    AQE's skew-join splitting covers at the 100 TB posture. The
    frequent set is NOT force-broadcast (its size grows with corpus
    duplication; the planner broadcasts it when it fits). The exploded
    relation is referenced twice (frequency + join left), but the two
    references are the same subtree, so exchange reuse materializes
    the scan+explode+distinct once (ReusedExchange in
    plans/r16/t15_duplicate_ngrams_bigregime.txt) — still cheaper than
    the pre-r15 THREE-reference shape with its aggregate-to-aggregate
    join."""
    if single_pass:
        from pyspark.sql import Window

        ex = exploded_shingles(
            df, text_col, id_col, n, partition_by_shingle=True
        )
        w = Window.partitionBy("_s")
        flagged = ex.select(
            "_id", (F.count(F.lit(1)).over(w) >= min_docs).alias("_dup")
        )
    else:
        ex = exploded_shingles(df, text_col, id_col, n)
        freq = (
            ex.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") >= min_docs)
            .select(F.col("_s").alias("_fs"), F.lit(True).alias("_hit"))
        )
        # NULL-SAFE join key, for two load-bearing reasons: (1) semantic
        # identity with the window shape — groupBy and Window.partitionBy
        # both treat NULL as a key value, so a null shingle (null text)
        # must match its frequency row, which a plain equi-join would
        # drop; (2) a plain key lets Catalyst infer isnotnull(_s) on the
        # frequency branch ONLY, making the two exploded-shingle subtrees
        # canonically unequal and defeating exchange reuse — with <=>
        # both branches are identical and the scan+explode+distinct
        # exchange materializes ONCE (ReusedExchange in the big-regime
        # plan).
        flagged = ex.join(
            freq, F.col("_s").eqNullSafe(F.col("_fs")), "left"
        ).select(
            "_id", F.coalesce(F.col("_hit"), F.lit(False)).alias("_dup")
        )
    return flagged.groupBy("_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
        F.sum(F.col("_dup").cast("int")).cast("bigint").alias("dup_ngrams"),
    ).select(
        F.col("_id").alias(id_col), "n_ngrams", "dup_ngrams"
    )


# ------------------------------------------------------ benchmark contamination

def benchmark_contamination(
    df: DataFrame,
    benchmark_max_id: int = 50,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Decontamination primitive: per-document shingle overlap against a
    benchmark set (here: docs with id < benchmark_max_id — in production,
    the eval suites' text). Training corpora must drop documents that
    leak benchmark content; this measures the leak.

    Shape: both sides explode to DISTINCT (doc, shingle) rows (codegen'd
    window-lead, see exploded_shingles); the benchmark's distinct shingle
    set is equi-joined (shuffle on the shingle string — cardinality grows
    with unique benchmark content, never all-pairs), and one aggregate per
    doc yields (total, overlapping) shingle counts. Integer outputs, so
    the DuckDB oracle comparison is exact.

    broadcast_benchmark=True (default) broadcasts the distinct benchmark
    shingle set: eval suites are tiny next to a training corpus, so the
    overlap join becomes a map-side hash probe — the 100-TB corpus side
    is never shuffled for it. Set False when the benchmark side is too
    large for an executor-resident hash table (then it is a shuffle
    equi-join on the shingle, still never all-pairs).

    Shape (r15): ONE pass over the corpus shingles. The old plan used
    the corpus explode twice (per-doc total + overlap join) and joined
    the two aggregates back together — three scan+explode evaluations
    counting the benchmark side
    (plans/r15/t14_benchmark_contamination_before.txt). Now the corpus
    is hash-partitioned on the doc id BEFORE the explode (Generate
    preserves its child's partitioning, and hash(_id) satisfies both
    the distinct's (_id,_s) clustering and the final groupBy(_id)), the
    benchmark set rides in as a broadcast LEFT join carrying a hit
    marker, and one aggregate counts rows and non-null hits: corpus
    explode once, ONE exchange on the corpus path (broadcast path only
    — see the r16 gating note in the body), no aggregate-to-aggregate
    join — bit-identical rows (oracle-checked at sf0.01 and sf0.1)."""
    bench = (
        exploded_shingles(
            df.filter(F.col(id_col) < benchmark_max_id), text_col, id_col, n
        )
        .select("_s")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_benchmark:
        bench = F.broadcast(bench)
        # Pre-explode repartition on the doc id — ONLY on the broadcast
        # path, where it is the corpus's single exchange: hash(_id)
        # satisfies the shingle distinct's (_id,_s) clustering AND the
        # final groupBy(_id), and the broadcast overlap join adds no
        # exchange of its own. It deliberately shuffles raw text rather
        # than bytes-gating: the alternative layouts exchange the
        # EXPLODED relation — n words of text per shingle ≈ n× the
        # corpus bytes (and the pre-r15 plan paid that twice) — so at
        # every scale the pre-explode shuffle moves strictly fewer
        # bytes than any post-explode one; it is skew-free (doc ids)
        # and AQE splits/coalesces it at the 100 TB posture. On the
        # non-broadcast path the overlap join re-shuffles the exploded
        # relation on _s regardless, so the corpus repartition would be
        # a pure extra full-text exchange — exactly the large-benchmark
        # regime that flag exists for — and is skipped (the distinct
        # then clusters on hash(_id,_s) as before).
        corpus_src = df.filter(
            F.col(id_col) >= benchmark_max_id
        ).repartition(id_col)
    else:
        corpus_src = df.filter(F.col(id_col) >= benchmark_max_id)
    corpus = exploded_shingles(corpus_src, text_col, id_col, n)
    return (
        corpus.join(bench, "_s", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.count("_hit").cast("bigint").alias("n_overlap"),
        )
        .select(
            F.col("_id").alias(id_col), "n_shingles", "n_overlap"
        )
        .orderBy(F.col("n_overlap").desc(), id_col)
        .limit(k)
    )
