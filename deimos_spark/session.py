"""SparkSession factory with scale-aware defaults.

Defaults are chosen for correctness-first determinism (UTC session TZ,
ANSI off to match permissive reference coercions) and for scale (AQE on,
skew-join handling on, partial aggregation pushdown). On a real cluster the
same config block applies — only master/memory change.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# Runtime confs applied to *any* session we touch (driver-owned sessions
# included) — these are settable post-launch and are required for
# deterministic, oracle-comparable results.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Non-ANSI semantics: wraparound integer arithmetic (hash families in
    # dedup need modular math) and permissive casts — matching the
    # reference's permissive coercion behavior (SURVEY §1.2).
    "spark.sql.ansi.enabled": "false",
    # NOTE: spark.sql.adaptive.enabled is deliberately NOT pinned here —
    # autotune_for_dir owns it (on at scale, off for provably tiny
    # inputs); Spark's default is already true for sessions that never
    # pass through autotune. The sub-confs below only bind when it's on.
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce post-shuffle partitions to the advisory byte size rather than
    # stopping at defaultParallelism (the `true` default). With `true`, a
    # 600 KB shuffle still fans out to 32 micro-tasks; with `false` it runs
    # as 1-2 right-sized tasks. Spark's own tuning guide recommends `false`
    # on busy clusters — at 100 TB the advisory size (64 MB) governs either
    # way, so this only removes small-stage scheduling overhead.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas path (vectorized transfer).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos timestamp —
    # read as long (ns since epoch) and convert explicitly where needed.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Delta column-mapping id mode matches parquet columns by field id
    # instead of name. Set once here, not per-read: the conf only changes
    # behavior when the REQUESTED schema carries parquet.field.id metadata
    # (only our id-mode reads do), so it is inert for every other scan,
    # and per-read set/restore can't work anyway — the scan is lazy and
    # reads the conf at execution, not plan, time.
    "spark.sql.parquet.fieldId.read.enabled": "true",
    # PySpark 4 wraps EVERY DataFrame/Column API call to ship the Python
    # call site to the JVM for richer error messages — ~4 py4j round
    # trips plus a Python stack walk PER OPERATION (errors/utils.py
    # _with_origin). Measured r15: a TPC-H builder (h08) spends most of
    # its 553 py4j round trips there; plan-BUILD time is ~1/3 of the
    # warm bench total. Error call-site enrichment is diagnostics, not
    # semantics — results are identical. PySpark caches this flag on
    # first use, so it must be set before the first DataFrame op
    # (get_spark applies it right after getOrCreate; on foreign
    # sessions apply_runtime_confs sets it best-effort).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# Sessions (by applicationId) that already received RUNTIME_CONFS: the
# values are static, so re-applying them on every builder call only costs
# py4j round trips — 8 conf.set trips per table load, 64 per TPC-H
# 8-table build (measured r15, ~0.17s of h08's build). Keyed on
# applicationId (not id(spark)) so a new session whose Python object
# reuses a GC'd address still gets the confs.
_runtime_confs_applied: set[str] = set()


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply deterministic runtime confs to an existing session.

    Safe on sessions we don't own (e.g. the verify driver's): every key in
    RUNTIME_CONFS is a runtime-mutable SQL conf. Idempotent per session —
    see _runtime_confs_applied.
    """
    try:
        key = spark.sparkContext.applicationId
    except Exception:
        key = None
    if key is not None and key in _runtime_confs_applied:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-mutable in this deployment; keep going
    if key is not None:
        _runtime_confs_applied.add(key)
    return spark


# Scale regime. AQE's value is runtime re-planning: partition
# coalescing, skew-join splitting, join-strategy switches — decisions that
# only EXIST when shuffles carry enough data for stats to change the plan.
# For a sub-second query over a tiny input there is nothing to re-decide,
# and AQE's per-stage materialization barrier + driver re-optimization
# costs a measured ~80-130ms per query (b01 145→64ms, b05 264→134ms,
# b11 275→180ms with AQE off at sf0.1). So: AQE ON (the 100 TB posture)
# unless the input directory is provably below this threshold. The toggle
# keys on DATA SIZE, not on "benchmark mode" — a 100 TB table always
# re-enables it. small_input is its only reader.
AQE_MIN_INPUT_BYTES = int(
    os.environ.get("SPARK_GRAFT_AQE_MIN_BYTES", str(1 << 30))
)

_dir_bytes_cache: dict[str, int] = {}


@dataclass
class _Tuning:
    """autotune_for_dir's per-session record: the session's own
    shuffle-partition and split-size confs as first seen (what the big
    regime runs with) and the (adaptive, partitions, split) triple last
    applied."""

    base_partitions: int
    base_split: str
    applied: tuple | None = None


# keyed on applicationId, like _runtime_confs_applied
_tuning: dict[str, _Tuning] = {}


def dir_input_bytes(sf_dir: str) -> int:
    """Total bytes of data files under sf_dir (cached — the value feeds a
    one-time conf decision, not a live metric)."""
    got = _dir_bytes_cache.get(sf_dir)
    if got is None:
        total = 0
        for root, _dirs, files in os.walk(sf_dir):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        _dir_bytes_cache[sf_dir] = got = total
    return got


def small_input(sf_dir: str) -> bool:
    """The scale regime, decided here and nowhere else: True when the
    input under sf_dir is provably below AQE_MIN_INPUT_BYTES. Every
    small-input shape (autotune_for_dir's AQE-off sizing, spread_small,
    t15's single-pass window) keys on it, so patching the threshold
    switches them together. An unreadable input counts as big: the
    scale-safe shapes are correct at any size."""
    try:
        return dir_input_bytes(sf_dir) < AQE_MIN_INPUT_BYTES
    except Exception:
        return False


def autotune_for_dir(spark: SparkSession, sf_dir: str) -> str:
    """Set AQE, shuffle-partition count and input-split size by regime,
    and return the session's applicationId (so a caller that keys its
    own cache on the session pays no second py4j read).

    - Big input (see small_input): AQE on, with the session's own
      shuffle-partition and split-size confs restored untouched.
    - Small input: AQE off — for a sub-second query over a tiny input
      AQE has nothing to re-decide and its stage barriers cost
      ~80-130ms. Shuffle partitions sized like AQE's own coalescing
      would size them (~16 MiB of input per partition, floored at 8,
      capped at the session's base). Input splits shrunk so the SCAN
      stage still spreads across the executor threads — a 17 MB table
      at the 128 MB default is ONE task doing all the CPU-heavy per-row
      work (tokenize/regex/explode).

    Idempotent and cheap: the applied triple is recorded per session so
    repeated builder calls don't pay py4j conf round-trips. INVARIANT:
    the record assumes these three confs are mutated only through this
    function — code that sets them directly on a session autotune
    manages (tests, notebooks) must restore the confs together with the
    session's _tuning entry, or later builders will skip the re-apply
    and silently run under the leaked values."""
    key = spark.sparkContext.applicationId
    rec = _tuning.get(key)
    if rec is None:
        try:
            base = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            base = 32
        try:
            base_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
        except Exception:
            base_mpb = "134217728b"
        rec = _tuning[key] = _Tuning(base, base_mpb)
    if small_input(sf_dir):
        nbytes = dir_input_bytes(sf_dir)
        try:
            cores = spark.sparkContext.defaultParallelism
        except Exception:
            cores = 32
        want = (
            False,
            max(8, min(rec.base_partitions, -(-nbytes // (16 << 20)))),
            str(max(2 << 20, nbytes // (2 * max(cores, 1)))) + "b",
        )
    else:
        want = (True, rec.base_partitions, rec.base_split)
    if rec.applied != want:
        adaptive, sp, mpb = want
        try:
            spark.conf.set("spark.sql.adaptive.enabled", str(adaptive).lower())
            spark.conf.set("spark.sql.shuffle.partitions", str(sp))
            spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
            rec.applied = want
        except Exception:
            pass
    return key


def spread_small(df, sf_dir: str, by: str | None = None):
    """Redistribute a CPU-heavy small input across the executor threads.

    A tiny parquet file is ONE row group, so the scan is ONE task no
    matter how small maxPartitionBytes goes — and every per-row-expensive
    projection chained onto it (tokenize/regex/md5/explode) serializes on
    a single core while the rest idle. At scale this problem does not
    exist: a 100 TB table has ~800k input splits and the scan stage is
    already wide. So the fix is gated on small_input, like autotune: in
    the small regime a repartition (shuffle bytes bounded by the tiny
    input itself) unlocks the cores; in the big regime this is the
    identity — no shuffle is ever added to a big input.

    `by` (r15): spread by HASH of a key column instead of round-robin.
    When the downstream aggregates group by that key (or a superset —
    hash on a subset of the grouping keys satisfies their clustering),
    the spread exchange doubles as the aggregation layout and the
    post-explode agg exchanges disappear from the small-scale plan
    (t13: two full token-relation exchanges → zero). Key cardinality
    must be ≥ ~20× the thread count for an even spread (doc ids are);
    identical gating, identity at scale.
    """
    if not small_input(sf_dir):
        return df
    if by is not None:
        return df.repartition(by)
    try:
        n = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        n = 32
    return df.repartition(max(8, n))


_CACHED_PARTITIONING = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


@contextmanager
def materialized(df: DataFrame) -> Iterator[DataFrame]:
    """Scope `df` as one cached copy: persisted on entry, unpersisted on
    exit. Every action inside the block — and every DataFrame derived
    from `df`, before or after entry — scans that copy instead of
    re-running `df`'s lineage (UDF decodes, shuffles, source scans).

    The persist is lazy: a block that runs no action evaluates nothing.

    Spark plans a cached query with AQE's partition coalescing switched
    off unless `canChangeCachedPlanOutputPartitioning` is true, and it
    reads that conf when persist() is called, not when the query runs.
    Left off, a cached 600-row shuffle stays at spark.sql.shuffle.partitions
    partitions and a write over it produces that many files. The conf is
    set only around the persist() call: a session-wide setting would
    change every other cached plan too."""
    conf = df.sparkSession.conf
    prev = conf.get(_CACHED_PARTITIONING)
    conf.set(_CACHED_PARTITIONING, "true")
    try:
        df.persist()
    finally:
        conf.set(_CACHED_PARTITIONING, prev)
    try:
        yield df
    finally:
        df.unpersist()


def sort_small(df, *cols):
    """Deterministic output order for a DIMENSION-SIZED result.

    `orderBy` plans a rangepartitioning exchange whose boundary-sampling
    pass is a SEPARATE job that re-executes the final stage before the
    real job runs — pure overhead when the relation being ordered is an
    aggregate over a bounded dimension (languages, sources, calendar
    years, split names, small histograms: tens of rows at ANY corpus
    scale). For those, a single-partition local sort produces the exact
    same row order with one job and no sampling (the t27 precedent,
    tests/test_plan_shapes.py::test_semdedup_plan_has_no_crossjoin...).

    Do NOT use on results that grow with the data (per-document
    relations, pair lists): funneling an unbounded result through one
    task is a scale cliff — those keep the parallel range sort.
    """
    return df.repartition(1).sortWithinPartitions(*cols)


def _mem_to_bytes(mem: str) -> int:
    """Spark byte-string → bytes: both suffix spellings Spark's own
    byteStringAs accepts ('2g' AND '2gb') must keep working here —
    the old code passed the raw string to Spark verbatim."""
    m = str(mem).strip().lower()
    plain_bytes = m.endswith("b") and len(m) > 1 and m[-2].isdigit()
    if m.endswith("b"):
        m = m[:-1]  # '2gb' -> '2g'; '8b' -> '8' (explicit bytes)
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if m and m[-1] in mult:
        return int(float(m[:-1]) * mult[m[-1]])
    # suffixless: Spark's memory confs read bare numbers as MiB
    # (byteStringAsMb) — '4096' means 4 GiB, not 4 KB
    return int(m) if plain_bytes else int(m) << 20


def broadcast_threshold_for_heap(heap: str) -> int:
    """autoBroadcastJoinThreshold scaled to the executor heap.

    A broadcast hash relation CANNOT spill — if the build exceeds
    execution memory the join fails outright ("Not enough memory to
    build and broadcast"), which the 1 GiB lowmem_stress run reproduced
    on h18: a build side that fits a 32 MB on-disk threshold needs
    ~5-10x that as an in-memory hash relation. So the threshold must be
    a FRACTION of memory, not a constant: heap/64 (≈6-10x headroom for
    the in-memory blowup plus concurrent tasks), capped at the 32 MB
    the 8 GiB default has always used, floored at Spark's own 10 MB
    default. At 100 TB the same rule holds per executor."""
    return min(32 << 20, max(10 << 20, _mem_to_bytes(heap) // 64))


def get_spark(app_name: str = "deimos_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults.

    Local test mode honours $SPARK_GRAFT_CPUS (default all cores). On a
    cluster, master comes from spark-submit and these builder confs are
    inherited unchanged.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32

    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            str(broadcast_threshold_for_heap(mem)),
        )
        # Files: keep scan partitions big enough to amortize task overhead
        # locally, small enough to parallelize; at 100 TB the same setting
        # yields ~800k input splits — fine for a 1000-executor cluster.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # set pre-launch too: PySpark caches the flag on first DataFrame
        # op (see RUNTIME_CONFS comment)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
