"""Physical data layout: the one parquet file layer the Delta and Iceberg
table formats write and read through, plus clustered writes for data
skipping and small-file compaction.

The file layer (both `delta_interop` and `iceberg_interop` call it; each
keeps only what its format differs in — Delta's JSON stats and log paths,
Iceberg's field-id bounds, manifests and partition typing):
- `arrange`: the range arrangement a sorted or clustered write uses;
- `stage`: the staging walk that writes a DataFrame, decodes each hive
  partition segment (`hive_value`), moves each file into the table and
  drops zero-row files;
- `footer`: a file's row count, per-column bounds and null counts from
  the parquet footer alone;
- `dv_rows`/`drop_dv_rows`: deletion vectors expanded to (file, row
  index) rows on executors and anti-joined from a scan.

Why layout matters at scale:
- Parquet stores per-row-group min/max statistics. A table RANGE-clustered
  on its hot filter columns turns those stats into an index: a reader's
  predicate eliminates whole files/row-groups (data skipping) instead of
  scanning them. Unclustered data has overlapping min/max everywhere and
  skips nothing.
- Streaming sinks and incremental merges accrete small files; at scale the
  scan becomes task-scheduling-bound (one task per tiny file) and the
  NameNode/listing cost explodes. Periodic bin-packing rewrites restore
  target file sizes.
"""

from __future__ import annotations

import math
import os
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Spark's hive directory value for null (and, left alone, for "")
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
# stands in for "" in staged partition dir names, so "" and null land in
# different directories; never recorded — a format records the real ""
_EMPTY_SENTINEL = "__DEIMOS_EMPTY_STRING__"
# deletion vectors whose summed cardinality stays at or below this many
# rows expand into a broadcast relation; above it, a shuffle anti-join
DV_BROADCAST_ROWS = 4_000_000


def arrange(
    df: DataFrame, cols: Sequence[str], n_files: int | None = None
) -> DataFrame:
    """Range-partition on `cols` (into `n_files` partitions when given)
    and sort within each partition: every output file covers a disjoint
    value range, with tight per-row-group bounds inside it. Ascending
    order puts nulls first."""
    ranged = (
        df.repartitionByRange(n_files, *cols)
        if n_files
        else df.repartitionByRange(*cols)
    )
    return ranged.sortWithinPartitions(*cols)


def unlink_quietly(paths) -> None:
    """Best-effort unlink of files no commit references."""
    for p in paths:
        try:
            os.unlink(p)
        except OSError:
            pass


def _unescape(s: str) -> str:
    """Hive percent-escaping inverse for partition dir segments."""
    if "%" not in s:
        return s
    out, i, n = [], 0, len(s)
    while i < n:
        if s[i] == "%" and i + 3 <= n:
            try:
                out.append(chr(int(s[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(s[i])
        i += 1
    return "".join(out)


def hive_value(raw: str) -> str | None:
    """One hive partition dir value decoded: the null directory is None,
    percent-escapes are undone, and the staging sentinel is ""."""
    if raw == HIVE_NULL:
        return None
    v = _unescape(raw)
    return "" if v == _EMPTY_SENTINEL else v


@dataclass(frozen=True)
class Footer:
    """What a parquet footer says about its file without reading a data
    page: the row count, (min, max) per boundable column and null counts.
    `bounds` keeps only top-level columns whose every row group carries
    accepted bounds: integer, boolean or string values, strings of 32
    characters or fewer. Float and double columns never get bounds —
    writers exclude NaN from min/max, so a footer cannot bound a column
    holding NaN — and a rejected or missing bound in any row group drops
    the column, since partial bounds would let a reader skip a file that
    matches. `nulls` keeps only columns whose every row group reports a
    null count."""

    rows: int
    bounds: dict = field(default_factory=dict)
    nulls: dict = field(default_factory=dict)


def _boundable(lo, hi) -> bool:
    return isinstance(lo, (int, str, bool)) and not (
        isinstance(lo, str) and (len(lo) > 32 or len(str(hi)) > 32)
    )


def footer(path: str) -> Footer:
    """The footer of the parquet file at `path` (see Footer). pyarrow
    predates the parquet VARIANT logical type and refuses such footers
    wholesale; the stdlib thrift-compact parser still recovers the row
    count, and the file gets no bounds. Raises when neither can parse
    the file."""
    try:
        import pyarrow.parquet as pq

        md = pq.read_metadata(path)
    except Exception:
        from deimos_spark.schemas.thriftcompact import read_footer

        return Footer(read_footer(path)[0])
    bounds: dict = {}
    nulls: dict = {}
    unbounded: set = set()
    null_gaps: set = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue  # nested: out of scope
            st = col.statistics
            # null counts accumulate before any bound gating: an all-null
            # row group has no bounds but does have nulls
            if st is not None and st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            else:
                null_gaps.add(name)
            if name in unbounded:
                continue
            if st is None or not st.has_min_max or not _boundable(
                st.min, st.max
            ):
                unbounded.add(name)
                bounds.pop(name, None)
                continue
            lo, hi = st.min, st.max
            if name in bounds:
                lo, hi = min(bounds[name][0], lo), max(bounds[name][1], hi)
            bounds[name] = (lo, hi)
    return Footer(
        md.num_rows,
        bounds,
        {k: v for k, v in nulls.items() if k not in null_gaps},
    )


def stage(
    df: DataFrame,
    root: str,
    partition_cols: Sequence[str],
    land,
    prefix: str = "",
    keep_empty: bool = False,
) -> list[tuple[str, dict, Footer | None]]:
    """The one staging walk of the table formats' writers. Writes `df`
    hive-partitioned on `partition_cols` into a staging directory under
    `root`, walks it, decodes each file's directory segments into
    {column: value} (see hive_value) and moves the file to
    `root/land(staged_dir, values)/{prefix}{uid}-{n}.parquet`, where
    `staged_dir` is the file's hive directory relative to the staging
    root ("" when unpartitioned). Returns [(path relative to root,
    values, footer)] in directory order. A file whose footer reports
    0 rows is deleted, not moved, unless `keep_empty`, which keeps every
    file and reads no footer (the footer is then None).

    Spark writes both null and "" to the `__HIVE_DEFAULT_PARTITION__`
    directory; string partition columns stage "" as a sentinel, so the
    two decode apart."""
    import shutil
    import uuid

    for f in df.schema.fields:
        if f.name in partition_cols and isinstance(f.dataType, T.StringType):
            df = df.withColumn(
                f.name,
                F.when(F.col(f.name) == "", F.lit(_EMPTY_SENTINEL)).otherwise(
                    F.col(f.name)
                ),
            )
    uid = uuid.uuid4().hex[:12]
    staging = os.path.join(root, f".staging_{uid}")
    out = df.write.mode("overwrite")
    if partition_cols:
        out = out.partitionBy(*partition_cols)
    out.parquet(staging)
    staged: list[tuple[str, dict, Footer | None]] = []
    for dirpath, _, names in sorted(os.walk(staging)):
        reldir = os.path.relpath(dirpath, staging)
        reldir = "" if reldir == os.curdir else reldir
        values = {}
        for seg in reldir.split(os.sep) if reldir else ():
            k, _, v = seg.partition("=")
            values[k] = hive_value(v)
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(dirpath, name)
            foot = None if keep_empty else footer(src)
            if foot is not None and foot.rows == 0:
                continue  # left in staging, removed below
            dest = land(reldir, values)
            os.makedirs(os.path.join(root, dest), exist_ok=True)
            rel = os.path.join(
                dest, f"{prefix}{uid}-{len(staged):05d}.parquet"
            )
            os.rename(src, os.path.join(root, rel))
            staged.append((rel, values, foot))
    shutil.rmtree(staging, ignore_errors=True)
    return staged


def dv_rows(
    spark: SparkSession,
    descs: Sequence[tuple[str, object, int]],
    decode,
    fp: str,
    pos: str,
) -> DataFrame:
    """Deletion vectors → the (`fp`, `pos`) rows they delete. `descs` is
    [(file key, JSON-able descriptor, cardinality)], one per file with a
    DV; `decode(descriptor)` returns the deleted row indexes and runs on
    executors, so only the descriptors (a few hundred bytes each) leave
    the driver, never the positions. The relation is broadcast-hinted
    when the summed cardinality is at most DV_BROADCAST_ROWS; a heavily
    deleted table stays a shuffle join that concentrates the expansion
    nowhere."""
    import json

    desc = spark.createDataFrame(
        [(f, json.dumps(d)) for f, d, _ in descs],
        f"{fp} string, __dv_desc string",
    )
    if len(descs) > 1:
        desc = desc.repartition(min(len(descs), 64))

    def _expand(batches):
        import json as _json

        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            for f, d in zip(pdf[fp], pdf["__dv_desc"]):
                idx = _np.asarray(decode(_json.loads(d)), dtype="int64")
                yield _pd.DataFrame({fp: f, pos: idx})

    rows = desc.mapInPandas(_expand, f"{fp} string, {pos} long")
    if sum(int(c or 0) for _, _, c in descs) <= DV_BROADCAST_ROWS:
        rows = F.broadcast(rows)
    return rows


def drop_dv_rows(
    scan: DataFrame,
    fp: str,
    pos: str,
    descs: Sequence[tuple[str, object, int]],
    decode,
) -> DataFrame:
    """`scan` without the rows its deletion vectors delete: one anti-join
    on (`fp`, `pos`), the columns where `scan` carries each row's
    `_metadata.file_path` key and `_metadata.row_index` (see dv_rows)."""
    return scan.join(
        dv_rows(scan.sparkSession, descs, decode, fp, pos),
        [fp, pos],
        "left_anti",
    )


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    partition_by: Sequence[str] = (),
    target_rows_per_file: int | None = None,
    mode: str = "overwrite",
    curve: str = "linear",
) -> None:
    """Write parquet clustered on `cluster_cols`.

    curve="linear" (default): repartitionByRange gives disjoint value
    ranges per output file (tight, non-overlapping min/max stats →
    maximal row-group skipping for range and point predicates on the
    LEADING column); sortWithinPartitions tightens per-row-group bounds
    inside each file. curve="z" / "hilbert": interleaved clustering —
    every file covers a small hyper-rectangle, so stats prune on ANY of
    the columns (see zorder_key/hilbert_key; pick these whenever 2+
    columns are filtered independently). `partition_by` adds directory
    partitioning on top for coarse partition pruning (e.g. by day),
    with clustering handling the fine grain (e.g. by user within day).
    """
    n = (
        max(1, math.ceil(df.count() / target_rows_per_file))
        if target_rows_per_file is not None
        else None
    )
    if curve != "linear":
        out = cluster_arrange(df, cluster_cols, n_files=n, curve=curve)
    else:
        out = arrange(df, cluster_cols, n)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _bucket_exprs(df: DataFrame, cols: Sequence[str], bits: int) -> list:
    """Per-column equal-width bucket expressions to [0, 2^bits) via
    `width_bucket` over each column's min/max (one scalar agg total —
    a bounded driver read of 2 numbers per column, the same shape
    Delta's OPTIMIZE ZORDER uses for range ids). Shared by the Z-order
    and Hilbert keys — the curves differ only in how the buckets
    combine into one key.

    Equal-width bucketing keeps the key expression O(bits) instead of a
    2^bits-way CASE; heavily skewed columns trade some balance for that
    (the docstring's honest caveat — quantile boundaries would fix skew
    at the cost of an approxQuantile pass)."""
    bounds = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).head()
    if bounds is None or bounds["__n"] == 0:
        raise ValueError("cluster key: empty DataFrame — nothing to cluster")
    n_buckets = 1 << bits
    out = []
    for c in cols:
        if bounds[f"mn_{c}"] is None:
            raise ValueError(
                f"cluster key: column {c!r} is all NULL — no value range "
                "to bucket; drop it from the clustering columns"
            )
        mn = float(bounds[f"mn_{c}"])
        mx = float(bounds[f"mx_{c}"])
        if mx <= mn:
            mx = mn + 1.0
        # per-row NULLs land in bucket 0 (width_bucket yields NULL, which
        # would otherwise null the whole interleaved key for the row)
        b = (
            F.width_bucket(
                F.coalesce(F.col(c).cast("double"), F.lit(mn)),
                F.lit(mn), F.lit(mx),
                F.lit(n_buckets),
            )
            - F.lit(1)
        )
        out.append(
            F.least(F.greatest(b, F.lit(0)), F.lit(n_buckets - 1)).cast(
                "long"
            )
        )
    return out


def zorder_key(
    df: DataFrame, cols: Sequence[str], bits: int = 12
) -> "tuple[DataFrame, str]":
    """Add a Morton (Z-order) key column interleaving `cols`' bucketed
    values → (df, key_col_name).

    Everything after the min/max probe is a single codegen'd expression
    — no window, no Python, no shuffle beyond the caller's eventual
    range partition. See _bucket_exprs for the bucketing contract."""
    if not cols or len(cols) * bits > 63:
        raise ValueError(
            f"zorder needs 1..{63 // bits} columns at {bits} bits"
        )
    z = F.lit(0).cast("long")
    for j, b in enumerate(_bucket_exprs(df, cols, bits)):
        for i in range(bits):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * len(cols) + j))
    key = "__zorder"
    return df.withColumn(key, z), key


def hilbert_key(
    df: DataFrame, cols: Sequence[str], bits: int = 12
) -> "tuple[DataFrame, str]":
    """Add a Hilbert-curve key column over `cols`' bucketed values →
    (df, key_col_name).

    Why offer Hilbert next to Z-order: Morton order has long "jumps"
    (the curve teleports across the key space at power-of-two
    boundaries), so a file covering a contiguous Morton range can span
    two far-apart hyper-rectangles and its min/max stats widen; the
    Hilbert curve is jump-free (every consecutive pair of cells is
    axis-adjacent), which keeps per-file bounding boxes tighter on
    average — the reason Databricks' liquid clustering and Iceberg's
    `hilbert` sort-order transform use it at 100-TB scale.

    Implementation: bucketing is the same codegen'd expression as
    Z-order (see _bucket_exprs); the bucket→index mapping is Skilling's
    transpose algorithm ("Programming the Hilbert curve", AIP 2004 —
    public domain), vectorized over rows in an Arrow-batched pandas_udf.
    Python in the path is a deliberate, write-time-only trade: the key
    is computed once per clustering rewrite, never at query time, and
    the kernel is pure numpy bit math (no per-row Python)."""
    if not cols or len(cols) * bits > 63:
        raise ValueError(
            f"hilbert needs 1..{63 // bits} columns at {bits} bits"
        )
    n = len(cols)
    if n == 1:
        # 1-D Hilbert is the identity — same key as Z-order, no UDF
        return zorder_key(df, cols, bits)

    import pandas as pd  # noqa: F401 (kernel type context)

    @F.pandas_udf("long")
    def _hilbert(*bcols):
        import numpy as np
        import pandas as pd

        X = np.stack(
            [c.to_numpy(dtype=np.int64) for c in bcols], axis=1
        ).astype(np.uint64)
        # Skilling AxestoTranspose: in-place Gray-code untwisting
        M = np.uint64(1) << np.uint64(bits - 1)
        Q = M
        one = np.uint64(1)
        while Q > one:
            P = Q - one
            for i in range(n):
                upper = (X[:, i] & Q) != 0
                X[upper, 0] ^= P
                lower = ~upper
                t = (X[lower, 0] ^ X[lower, i]) & P
                X[lower, 0] ^= t
                X[lower, i] ^= t
            Q >>= one
        for i in range(1, n):
            X[:, i] ^= X[:, i - 1]
        t = np.zeros(len(X), dtype=np.uint64)
        Q = M
        while Q > one:
            mask = (X[:, n - 1] & Q) != 0
            t[mask] ^= Q - one
            Q >>= one
        for i in range(n):
            X[:, i] ^= t
        # interleave the transpose MSB-first into one integer
        h = np.zeros(len(X), dtype=np.uint64)
        for b in range(bits - 1, -1, -1):
            for i in range(n):
                h = (h << one) | ((X[:, i] >> np.uint64(b)) & one)
        return pd.Series(h.astype(np.int64))

    bexprs = _bucket_exprs(df, cols, bits)
    key = "__hilbert"
    return df.withColumn(key, _hilbert(*bexprs)), key


def cluster_key(
    df: DataFrame, cols: Sequence[str], bits: int = 12, curve: str = "z"
) -> "tuple[DataFrame, str]":
    """Dispatch: space-filling-curve key for `curve` in {"z",
    "hilbert"} — the one entry point the plain-parquet and Delta/
    Iceberg clustering writers share."""
    if curve == "z":
        return zorder_key(df, cols, bits)
    if curve == "hilbert":
        return hilbert_key(df, cols, bits)
    raise ValueError(f"unknown clustering curve {curve!r} (z | hilbert)")


def cluster_arrange(
    df: DataFrame,
    cols: Sequence[str],
    n_files: int | None = None,
    bits: int = 12,
    curve: str = "z",
) -> DataFrame:
    """Arrange rows for an interleaved-clustered write: range-partition
    + sort on the curve key, then drop it (layout-only — schema
    unchanged). Factored out so lakehouse writers (Delta/Iceberg
    OPTIMIZE ZORDER) can reuse the exact arrangement their add-action
    stats are then computed over."""
    keyed, key = cluster_key(df, cols, bits, curve)
    return arrange(keyed, [key], n_files).drop(key)


def cluster_arrange_or_linear(
    df: DataFrame,
    cols: Sequence[str],
    n_files: int | None = None,
    bits: int = 12,
    curve: str = "z",
) -> DataFrame:
    """cluster_arrange, degrading to the plain linear arrangement when
    the curve key is undefined — an empty live row set (files present
    but every row DV-deleted) or an all-NULL cluster column (ADVICE
    r13). Maintenance verbs (OPTIMIZE/compaction) route through this:
    failing the rewrite exactly when compaction is most needed is the
    wrong trade, and the linear sort is well-defined on both degenerate
    inputs (NULLs order first; empty sorts are no-ops)."""
    try:
        return cluster_arrange(df, cols, n_files, bits, curve)
    except ValueError:
        return arrange(df, cols, n_files)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int,
    bits: int = 12,
    mode: str = "overwrite",
    curve: str = "z",
) -> None:
    """Write parquet clustered on a space-filling curve over `cols` —
    multi-dimensional data skipping (Delta OPTIMIZE ZORDER's shape):
    each output file covers a small hyper-rectangle of the key space,
    so min/max stats prune files for predicates on ANY of the columns,
    where a linear sort only skips on its leading column. `curve` picks
    Morton ("z", pure codegen'd expressions) or Hilbert ("hilbert",
    tighter boxes, one vectorized write-time kernel — see
    hilbert_key)."""
    cluster_arrange(df, cols, n_files, bits, curve).write.mode(mode).parquet(
        path
    )


def compact_files(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int,
    cluster_cols: Sequence[str] = (),
    curve: str = "linear",
) -> int:
    """Bin-pack a small-file parquet directory into ~target-sized files;
    returns the new file count. Rewrites into a temp dir, then swaps it in
    with two renames: between them no directory exists at `path`, and a
    crash there leaves the rows under `._compact_old`. For atomic
    compaction use a Delta table and `DeltaTableWriter.optimize`. Re-clusters
    while rewriting when `cluster_cols` given — compaction is the natural
    moment to restore sort order degraded by incremental appends;
    curve="z"/"hilbert" restores INTERLEAVED clustering instead (see
    write_clustered)."""
    df = spark.read.parquet(path)
    n = max(1, math.ceil(df.count() / target_rows_per_file))
    tmp = path.rstrip("/") + "._compact_tmp"
    if cluster_cols and curve != "linear":
        out = cluster_arrange_or_linear(
            df, cluster_cols, n_files=n, curve=curve
        )
    elif cluster_cols:
        out = arrange(df, cluster_cols, n)
    else:
        out = df.repartition(n)
    out.write.mode("overwrite").parquet(tmp)
    import shutil

    old = path.rstrip("/") + "._compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n


def file_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-file row counts + byte sizes for layout health monitoring
    (input_file_name is the standard lineage column)."""
    df = spark.read.parquet(path)
    counts = df.groupBy(
        F.regexp_replace(F.input_file_name(), "^file:/*", "/").alias("file")
    ).agg(F.count(F.lit(1)).alias("rows"))
    sizes = [
        (os.path.join(dp, f), os.path.getsize(os.path.join(dp, f)))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    sizes_df = spark.createDataFrame(sizes, "file string, bytes long")
    return counts.join(sizes_df, "file", "left").select("file", "rows", "bytes")
