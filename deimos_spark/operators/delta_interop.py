"""Delta Lake table interop — pure-Python log replay AND protocol-
faithful writes over the PUBLIC Delta transaction-log protocol
(delta.io PROTOCOL.md; no Delta code or jars used).

Why: a user migrating from the reference stack often lands data in
real Delta tables. This adapter lets every operator in this repo read
such a table with nothing but `spark.read.parquet` underneath:

- `_delta_log/{version:020d}.json` — one JSON action per line:
  `add` (file becomes live), `remove` (file dead), `metaData` (schema =
  a Spark StructType JSON string, partition columns), `protocol`,
  `commitInfo` (ignored).
- `{version:020d}.checkpoint.parquet` + `_last_checkpoint` — the full
  action state materialized; its few non-file actions are read with
  pyarrow (so a reader without a SparkSession gets the table's schema
  and protocol), its add rows WITH Spark's parquet reader, and only
  later JSON commits replay (an O(interval) replay bound).
  Standard multi-part checkpoints (`{v}.checkpoint.{i}.{n}.parquet`,
  `_last_checkpoint.parts`) are read too. The WRITE side emits
  single-file checkpoints every `checkpoint_interval` commits so
  long-lived tables we produce stay O(interval) to read.
- Partition values live in the LOG, not the files — each add's
  `partitionValues` map is re-attached as literal columns cast via the
  table schema.

Scope: reader protocol v1-v3 with readerFeatures ⊆ {timestampNtz,
deletionVectors, columnMapping} — deletion vectors decode via
`deltadv.py` (Z85 + RoaringBitmapArray native format) and filter
through a broadcast anti-join on `_metadata.row_index`; column mapping
mode "name" scans by each field's `delta.columnMapping.physicalName`
and renames to the logical schema; mode "id" scans by parquet field ids
(Spark's `parquet.field.id` schema metadata + fieldId read conf);
mapping over partitioned tables translates the physical-keyed
partitionValues back to logical columns. Later features refuse loudly.
The write side (`DeltaTableWriter`: append/overwrite; `DeltaKeyedTable`:
keyed MERGE) emits minReaderVersion-1 logs — add/remove/metaData/
protocol actions with hard-link put-if-absent version claims — so any
real Delta reader can consume tables these classes produce.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deimos_spark.operators.layout import (
    Footer,
    arrange,
    drop_dv_rows,
    footer,
    hive_value,
    stage,
    unlink_quietly,
)


class DeltaProtocolError(Exception):
    """Table uses a protocol/feature this reader doesn't support."""


def _pv_str(o) -> str | None:
    """Render a Python value with the convention Spark used when it wrote
    the table's partition dir names (which become the log's
    partitionValues strings): booleans lowercase ('true'/'false', not
    Python's 'True'), floats via repr (matches Java's shortest-roundtrip
    for the common cases), dates/timestamps via Spark's
    'yyyy-MM-dd[ HH:mm:ss]' which str() already yields for
    datetime.date/datetime. Python str() alone renders bool as 'True',
    which matches nothing in the log and silently prunes every file."""
    if o is None:
        return None
    if isinstance(o, bool):
        return "true" if o else "false"
    if isinstance(o, float):
        return repr(o)
    return str(o)


@dataclass
class DeltaSnapshot:
    version: int
    # file path (rel) -> partitionValues map (raw strings, per protocol)
    files: dict[str, dict[str, str]]
    schema: T.StructType | None
    partition_columns: list[str] = field(default_factory=list)
    # delta.columnMapping.mode: "none" | "name" ("id" refused)
    column_mapping: str = "none"
    # raw protocol/metaData/add actions, preserved so a writer can
    # materialize this snapshot back out as a checkpoint without loss
    protocol_raw: dict | None = None
    meta_raw: dict | None = None
    adds_raw: dict[str, dict] = field(default_factory=dict)
    # setTransaction state (PROTOCOL.md "Transaction Identifiers"):
    # appId → latest committed txn version, the idempotent-write
    # watermark streaming sinks use to skip replayed micro-batches
    txns: dict[str, int] = field(default_factory=dict)
    # domainMetadata state (PROTOCOL.md "Domain Metadata"): domain →
    # latest action (removed tombstones KEPT — checkpoints must carry
    # them). delta.rowTracking's configuration holds the row-id high
    # watermark the writer advances.
    domains: dict[str, dict] = field(default_factory=dict)


class DeltaCommitConflict(Exception):
    """Another writer claimed this log version first."""


# ------------------------------------------------------------ log rules
# One definition per rule of the log layout; the batch reader, the
# writer, read_changes and the `deltastream` source all go through them.


def _commit_file(log_dir: str, version: int) -> str:
    return os.path.join(log_dir, f"{version:020d}.json")


def _commit_versions(names) -> list[int]:
    """Sorted versions of the `{v:020d}.json` commits among `names`
    (entries of a `_delta_log` listing)."""
    return sorted(
        int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()
    )


def _checkpoint_version(name: str) -> int | None:
    """The version of a checkpoint file name, else None. Every
    checkpoint name (classic, multi-part, v2 manifest) starts with the
    20-digit version."""
    if ".checkpoint" in name and name[:20].isdigit():
        return int(name[:20])
    return None


def latest_version(log_dir: str) -> int:
    """The newest version the log records, -1 for an empty log.
    Checkpoint names count: legal log cleanup deletes the JSON commits a
    checkpoint covers (the checkpoint version's own included), and a
    writer that only saw JSON would re-claim version 0 and fork the
    table."""
    names = os.listdir(log_dir)
    ckpts = [_checkpoint_version(n) for n in names]
    return max(
        [*_commit_versions(names), *(v for v in ckpts if v is not None)],
        default=-1,
    )


def _commit_info(path: str) -> dict:
    """The commit's `commitInfo` action ({} when it has none or the
    file is unreadable). The spec allows it anywhere in the commit."""
    try:
        with open(path) as fh:
            for line in fh:
                if '"commitInfo"' not in line:
                    continue
                a = json.loads(line)
                if "commitInfo" in a:
                    return a["commitInfo"] or {}
    except (OSError, ValueError):
        pass
    return {}


def _commit_ts(path: str) -> float:
    """A commit's timestamp in epoch millis, by reliability:
    `commitInfo.inCommitTimestamp` (the clock-skew-proof writer feature)
    > `commitInfo.timestamp` (what writers — ours included — record and
    history UIs display; integral, so history() / version_at /
    read_changes timestamp bounds stay mutually consistent) > the log
    file's modification time (survives writers that record no
    commitInfo at all)."""
    ci = _commit_info(path)
    for k in ("inCommitTimestamp", "timestamp"):
        if ci.get(k) is not None:
            return float(ci[k])
    return os.path.getmtime(path) * 1000.0


def _physical_name(f: T.StructField, mode: str) -> str:
    """The name data files, stats and partitionValues give a column:
    its `delta.columnMapping.physicalName` in the name/id mapping modes
    (PROTOCOL.md "Column Mapping"), its logical name otherwise."""
    if mode not in ("name", "id"):
        return f.name
    return (f.metadata or {}).get("delta.columnMapping.physicalName", f.name)


def _file_field(f: T.StructField, mode: str) -> T.StructField:
    """A logical field as the data files store it: the physical name,
    and in id mode the `parquet.field.id` scans resolve it by — names in
    the files are irrelevant there (renames without rewrites)."""
    if mode != "id":
        return T.StructField(_physical_name(f, mode), f.dataType, f.nullable)
    fid = (f.metadata or {}).get("delta.columnMapping.id")
    if fid is None:
        raise DeltaProtocolError(
            f"column {f.name!r} lacks delta.columnMapping.id in id "
            "mapping mode"
        )
    return T.StructField(
        _physical_name(f, mode), f.dataType, f.nullable,
        metadata={"parquet.field.id": int(fid)},
    )


def _data_fields(snap: DeltaSnapshot) -> list[T.StructField]:
    """The schema fields data files carry: partition columns live in the
    log's partitionValues, not in the files."""
    return [
        f for f in snap.schema.fields if f.name not in snap.partition_columns
    ]


def _restricted(snap: DeltaSnapshot, kept: dict) -> DeltaSnapshot:
    """`snap` narrowed to the files in `kept` ({path: partitionValues});
    `snap` itself when nothing was dropped."""
    if len(kept) == len(snap.files):
        return snap
    return replace(
        snap,
        files=kept,
        adds_raw={p: a for p, a in snap.adds_raw.items() if p in kept},
        txns=dict(snap.txns),
        domains=dict(snap.domains),
    )


def _check_reader_protocol(p: dict) -> None:
    """Refuse a protocol action this reader cannot honor."""
    if p.get("minReaderVersion", 1) > 3:
        raise DeltaProtocolError(
            f"minReaderVersion {p['minReaderVersion']} > 3 unsupported"
        )
    for feat in p.get("readerFeatures") or []:
        # deletionVectors / columnMapping handled in read();
        # v2Checkpoint handled in _load_checkpoint_v2;
        # variantType (+ the preview name early writers used):
        # schemaString "variant" parses to Spark's native
        # VariantType and the parquet variant encoding reads
        # natively (the Iceberg r12 precedent — same encoding)
        if feat not in (
            "timestampNtz", "deletionVectors", "columnMapping",
            "v2Checkpoint", "vacuumProtocolCheck",
            "variantType", "variantType-preview",
        ):
            raise DeltaProtocolError(f"reader feature {feat!r} unsupported")


def _parquet_actions(path: str, kinds: tuple[str, ...]) -> list[dict]:
    """The `kinds` actions of a log parquet file (checkpoint part, v2
    manifest) read with pyarrow on the driver: one `{kind: action}` per
    non-null cell, in row order, map values as dicts — the shape JSON
    commits' actions have. Needs no SparkSession."""
    from functools import reduce

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    def py(v, t):
        if v is None:
            return None
        if pa.types.is_map(t):
            return {k: py(x, t.item_type) for k, x in v}
        if pa.types.is_struct(t):
            return {f.name: py(v.get(f.name), f.type) for f in t}
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return [py(x, t.value_type) for x in v]
        return v

    pf = papq.ParquetFile(path)
    cols = [k for k in kinds if k in pf.schema_arrow.names]
    if not cols:
        return []
    tbl = pf.read(columns=cols)
    tbl = tbl.filter(reduce(pc.or_, [pc.is_valid(tbl[c]) for c in cols]))
    types = {f.name: f.type for f in tbl.schema}
    return [
        {c: py(v, types[c])}
        for row in tbl.to_pylist()
        for c, v in row.items()
        if v is not None
    ]


# ------------------------------------------------------------ writer gate

# Writer features this engine implements end-to-end (PROTOCOL.md "Table
# Features", writer column). Committing into a table that declares
# anything else (icebergCompat*, ...) would silently break that
# feature's invariants for every other engine — the spec requires
# writers to refuse such tables, mirroring the reader gate.
# domainMetadata: domains replay latest-per-domain and re-materialize
# into both checkpoint formats (unknown domains preserved verbatim).
# rowTracking: fresh baseRowId ranges above the delta.rowTracking
# high watermark + defaultRowCommitVersion on every add (see
# DeltaTableWriter._row_tracking_patch); operations that would need
# row-id PRESERVATION across rewrites are gated separately on
# delta.enableRowTracking in check_writer_protocol.
SUPPORTED_WRITER_FEATURES = {
    "appendOnly",
    "changeDataFeed",
    "deletionVectors",
    "v2Checkpoint",
    "timestampNtz",
    "domainMetadata",
    "rowTracking",
    # every commit stamps a monotonic commitInfo.inCommitTimestamp
    # when delta.enableInCommitTimestamps=true (see _commit)
    "inCommitTimestamp",
    # vacuum() probes the writer protocol before deleting anything —
    # exactly the check this feature exists to force
    "vacuumProtocolCheck",
    # writes land physical names + field ids (_to_physical); schema
    # evolution on mapped tables assigns fresh field ids + synthetic
    # physical names per the spec's add-column rule (check_write_schema)
    "columnMapping",
    # VariantType columns written natively by Spark's parquet writer
    # (the spec's variant encoding); new tables declare the feature at
    # birth (_meta_actions), evolution INTO it is gated loudly. The
    # preview feature name is the same encoding (early writers) — a
    # table declaring it must stay writable or the evolution gate's
    # preview branch could never be reached
    "variantType",
    "variantType-preview",
}

# Features we may coexist with ONLY while the table provably does not
# use them: their semantics are enforced at write time (we don't), so a
# declared-but-inert feature is safe and an active one is not. Activity
# is detected from the table metadata itself (see check_writer_protocol)
# — and detected unconditionally, so a table carrying e.g. CHECK
# constraints without declaring the feature still refuses.
_GATED_IF_ACTIVE = {
    "invariants",
    "checkConstraints",
    "generatedColumns",
    "identityColumns",
}

# minWriterVersion → implicitly-required feature set (PROTOCOL.md legacy
# protocol table); version 7 reads the explicit writerFeatures list.
_LEGACY_WRITER_FEATURES = {
    1: frozenset(),
    2: frozenset({"appendOnly", "invariants"}),
    3: frozenset({"appendOnly", "invariants", "checkConstraints"}),
    4: frozenset(
        {
            "appendOnly",
            "invariants",
            "checkConstraints",
            "changeDataFeed",
            "generatedColumns",
        }
    ),
    5: frozenset(
        {
            "appendOnly",
            "invariants",
            "checkConstraints",
            "changeDataFeed",
            "generatedColumns",
            "columnMapping",
        }
    ),
    6: frozenset(
        {
            "appendOnly",
            "invariants",
            "checkConstraints",
            "changeDataFeed",
            "generatedColumns",
            "columnMapping",
            "identityColumns",
        }
    ),
}


def check_writer_protocol(snap: DeltaSnapshot, operation: str) -> None:
    """Refuse to commit into a table whose writer protocol this engine
    does not implement — the spec-required mirror of the reader gate
    (PROTOCOL.md: "a writer must not write to a table whose
    minWriterVersion/writerFeatures it does not support").

    `operation` ∈ {"append", "overwrite", "merge", "optimize",
    "vacuum"} — needed
    for `delta.appendOnly`: the spec allows dataChange=false removes
    (OPTIMIZE) on append-only tables but forbids logical deletes, so
    overwrite/merge refuse while append/optimize pass.

    Checks, in order:
    - minWriterVersion ≤ 7; v7 writerFeatures ⊆ supported ∪ inert-able.
    - ACTIVE use of enforce-at-write features we don't implement refuses
      regardless of protocol declaration: CHECK constraints
      (`delta.constraints.*` config keys), column invariants
      (`delta.invariants` field metadata), generated columns
      (`delta.generationExpression`), identity columns
      (`delta.identity.*`).
    - Column mapping (name/id) is writable: files land physical names
      + field ids; schema evolution on mapped tables assigns fresh
      field ids + synthetic physical names (check_write_schema).
    - `delta.appendOnly=true` refuses overwrite/merge.
    """
    proto = snap.protocol_raw or {}
    mwv = proto.get("minWriterVersion", 1)
    if not isinstance(mwv, int) or isinstance(mwv, bool) or mwv > 7:
        raise DeltaProtocolError(
            f"minWriterVersion {mwv!r} unsupported — refusing to write"
        )
    if mwv >= 7:
        feats = set(proto.get("writerFeatures") or [])
    else:
        legacy = _LEGACY_WRITER_FEATURES.get(mwv)
        if legacy is None:
            # corrupt/foreign log (0, negative, non-enumerated): a
            # protocol refusal, not a KeyError crash
            raise DeltaProtocolError(
                f"minWriterVersion {mwv!r} unknown — refusing to write"
            )
        feats = set(legacy)
    unknown = feats - SUPPORTED_WRITER_FEATURES - _GATED_IF_ACTIVE
    if unknown:
        raise DeltaProtocolError(
            f"writer features {sorted(unknown)} unsupported — writing "
            "would break their invariants for other engines"
        )

    conf = (snap.meta_raw or {}).get("configuration") or {}
    if operation != "vacuum":
        # enforce-at-write features gate DATA writes; vacuum writes no
        # rows and cannot violate column-level invariants — only the
        # unknown-feature check above protects it (vacuumProtocolCheck)
        checks = [k for k in conf if k.startswith("delta.constraints.")]
        if checks:
            raise DeltaProtocolError(
                f"table declares CHECK constraints {sorted(checks)} — "
                "this writer does not enforce them, refusing to write"
            )
        for f in snap.schema.fields if snap.schema is not None else []:
            md = f.metadata or {}
            if "delta.invariants" in md:
                raise DeltaProtocolError(
                    f"column {f.name!r} declares an invariant — this "
                    "writer does not enforce it, refusing to write"
                )
            if "delta.generationExpression" in md:
                raise DeltaProtocolError(
                    f"column {f.name!r} is a generated column — this "
                    "writer does not compute it, refusing to write"
                )
            if any(k.startswith("delta.identity.") for k in md):
                raise DeltaProtocolError(
                    f"column {f.name!r} is an identity column — this "
                    "writer does not allocate its values, refusing to "
                    "write"
                )
    # column mapping (name/id) is WRITABLE: _write_files lands
    # physical column names + parquet field ids and keys
    # partitionValues on physical names (see _column_map/_to_physical);
    # schema EVOLUTION on mapped tables works too — check_write_schema
    # assigns each new field a fresh id above
    # delta.columnMapping.maxColumnId and a synthetic physicalName,
    # bumping the counter (the spec's add-column rule).
    if conf.get("delta.appendOnly") == "true" and operation in (
        "overwrite",
        "merge",
    ):
        raise DeltaProtocolError(
            f"delta.appendOnly table refuses {operation} (logical "
            "deletes are forbidden; only append and dataChange=false "
            "OPTIMIZE are allowed)"
        )
    # delta.enableRowTracking tables accept merge/optimize: copied
    # rows' ids/commit-versions are PRESERVED via the materialized
    # row-tracking columns (see DeltaTableWriter._rt_rewrite and the
    # reader's with_row_ids path) — the spec's stability mechanism.
    # Appends/overwrites create logically NEW rows (fresh ids).


def rt_materialized_cols(
    meta_raw: dict | None,
) -> tuple[str | None, str | None]:
    """The row-tracking MATERIALIZED column names (PROTOCOL.md "Row
    Tracking"): physical parquet columns — never part of the logical
    schema, never renamed by column mapping — holding a copied row's
    preserved row id / row commit version. Set in the table
    configuration at enablement time by the enabling writer."""
    conf = (meta_raw or {}).get("configuration") or {}
    return (
        conf.get("delta.rowTracking.materializedRowIdColumnName"),
        conf.get("delta.rowTracking.materializedRowCommitVersionColumnName"),
    )


# ------------------------------------------------- schema enforcement

def _schema_drift(
    table_schema: T.StructType, batch_schema: T.StructType
) -> tuple[list[T.StructField], list[str]]:
    """(new top-level fields in the batch, incompatibility errors).
    Missing table columns in the batch are FINE (the protocol reads
    absent parquet columns as null); same-name different-type is an
    error (no implicit casts — a silently cast file is how two engines
    end up disagreeing about a table's contents)."""
    tbl = {f.name: f for f in table_schema.fields}
    extra: list[T.StructField] = []
    errors: list[str] = []
    for f in batch_schema.fields:
        t = tbl.get(f.name)
        if t is None:
            extra.append(f)
        elif t.dataType != f.dataType:
            errors.append(
                f"column {f.name!r}: table has "
                f"{t.dataType.simpleString()}, batch has "
                f"{f.dataType.simpleString()}"
            )
    return extra, errors


def _schema_has_variant(schema: T.StructType) -> bool:
    """True when any field (nested included) is VariantType — gates the
    variantType table feature. Recursive isinstance walk, NOT a
    simpleString substring test: a field merely NAMED 'invariant' /
    'variant_id' must not drag the protocol to v3/v7."""

    def _walk(dt) -> bool:
        if isinstance(dt, T.VariantType):
            return True
        if isinstance(dt, T.StructType):
            return any(_walk(f.dataType) for f in dt.fields)
        if isinstance(dt, T.ArrayType):
            return _walk(dt.elementType)
        if isinstance(dt, T.MapType):
            return _walk(dt.keyType) or _walk(dt.valueType)
        return False

    return any(_walk(f.dataType) for f in schema.fields)


def check_write_schema(
    snap: DeltaSnapshot,
    batch_schema: T.StructType,
    merge_schema: bool = False,
) -> list[dict]:
    """Delta schema enforcement on write: refuse type conflicts always;
    refuse NEW columns unless `merge_schema` (the protocol's schema
    evolution — returns the updated metaData action to commit, new
    fields appended nullable). Missing nullable table columns are
    allowed (files simply lack them). Evolution on column-mapped
    tables assigns each new field a fresh field id above
    delta.columnMapping.maxColumnId and a synthetic physicalName
    (`col-<uuid>`), bumping the counter — the spec's add-column rule
    for mapped tables."""
    if snap.schema is None:
        return []
    extra, errors = _schema_drift(snap.schema, batch_schema)
    if errors:
        raise DeltaProtocolError(
            "schema enforcement: incompatible batch schema — "
            + "; ".join(errors)
        )
    missing_required = [
        f.name
        for f in snap.schema.fields
        if f.name not in {g.name for g in batch_schema.fields}
        and not f.nullable
    ]
    if missing_required:
        raise DeltaProtocolError(
            f"schema enforcement: batch lacks non-nullable table "
            f"columns {missing_required}"
        )
    if not extra:
        return []
    if not merge_schema:
        raise DeltaProtocolError(
            f"schema enforcement: batch adds columns "
            f"{[f.name for f in extra]} — pass merge_schema=True to "
            "evolve the table schema"
        )
    # evolving INTO variant: the table's protocol must already declare
    # the variantType feature — appending a variant column to a table
    # whose (possibly foreign) readers never opted in would make the
    # table unreadable to them without the feature-name refusal the
    # spec guarantees. Loud here; create variant tables at birth (the
    # writer declares the feature) or pre-upgrade the protocol.
    variant_extra = [
        f.name
        for f in extra
        if _schema_has_variant(T.StructType([f]))
    ]
    if variant_extra:
        proto = snap.protocol_raw or {}
        declared = set(proto.get("readerFeatures") or []) | set(
            proto.get("writerFeatures") or []
        )
        if not declared & {"variantType", "variantType-preview"}:
            raise DeltaProtocolError(
                f"schema evolution adds variant columns {variant_extra} "
                f"but the table's protocol does not declare the "
                f"variantType feature — recreate with a variant schema "
                f"(the writer declares it at birth) or upgrade the "
                f"protocol first"
            )
    meta = dict(snap.meta_raw or {})
    if (snap.column_mapping or "none") != "none":
        import uuid

        conf = dict(meta.get("configuration") or {})
        try:
            maxid = int(conf.get("delta.columnMapping.maxColumnId", 0))
        except (TypeError, ValueError):
            maxid = 0
        for f in snap.schema.fields:
            fid = (f.metadata or {}).get("delta.columnMapping.id")
            if fid is not None:
                maxid = max(maxid, int(fid))
        new_fields = []
        for f in extra:
            maxid += 1
            new_fields.append(
                T.StructField(
                    f.name,
                    f.dataType,
                    True,
                    metadata={
                        "delta.columnMapping.id": maxid,
                        "delta.columnMapping.physicalName": (
                            f"col-{uuid.uuid4().hex[:16]}"
                        ),
                    },
                )
            )
        conf["delta.columnMapping.maxColumnId"] = str(maxid)
        meta["configuration"] = conf
    else:
        new_fields = [
            T.StructField(f.name, f.dataType, True) for f in extra
        ]
    new_schema = T.StructType(list(snap.schema.fields) + new_fields)
    meta["schemaString"] = json.dumps(new_schema.jsonValue())
    return [{"metaData": meta}]


# ----------------------------------------------------- txn identifiers

def _txn_action(txn: tuple[str, int]) -> dict:
    import time as _time

    app_id, version = txn
    return {
        "txn": {
            "appId": str(app_id),
            "version": int(version),
            "lastUpdated": int(_time.time() * 1000),
        }
    }


def _txn_already_applied(snap: DeltaSnapshot, txn: tuple[str, int]) -> bool:
    """Spec rule: a writer claiming (appId, version) must skip the write
    when the table already records a txn for appId at >= version — the
    batch landed in a previous (crashed-after-commit) attempt."""
    app_id, version = txn
    return snap.txns.get(str(app_id), -1) >= int(version)


class DeltaTableReader:
    """Read a Delta table directory: `read()` → DataFrame (latest or
    time-travel version), `snapshot()` → live file set. With
    `spark=None` the log-only calls work — `snapshot(_meta_only=True)`,
    the commit listing and a commit's actions — which is how the
    `deltastream` source plans."""

    def __init__(self, spark: SparkSession | None, path: str):
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, "_delta_log")
        if not os.path.isdir(self.log_dir):
            raise FileNotFoundError(f"{path} has no _delta_log — not a Delta table")
        # diagnostics: JSON commits parsed by the most
        # recent snapshot(), and whether it had to LIST the log dir (the
        # expensive primitive on object stores) vs following
        # _last_checkpoint and probing exact commit names.
        self.last_snapshot_commit_reads = 0
        self.last_snapshot_listed_log = False
        # add-action rows the last snapshot() materialized on the driver
        # from checkpoint/sidecar scans — with a partition_filter this is
        # the PRUNED count (the scale assertion tests pin this)
        self.last_checkpoint_rows_collected = 0

    # ------------------------------------------------------------- actions

    def _apply_action(self, action: dict, snap: DeltaSnapshot) -> None:
        if "add" in action:
            a = action["add"]
            snap.files[a["path"]] = dict(a.get("partitionValues") or {})
            snap.adds_raw[a["path"]] = a
        elif "remove" in action:
            snap.files.pop(action["remove"]["path"], None)
            snap.adds_raw.pop(action["remove"]["path"], None)
        elif "metaData" in action:
            md = action["metaData"]
            fmt = (md.get("format") or {}).get("provider", "parquet")
            if fmt != "parquet":
                raise DeltaProtocolError(f"unsupported data format {fmt!r}")
            mode = (md.get("configuration") or {}).get(
                "delta.columnMapping.mode"
            ) or "none"
            if mode not in ("none", "name", "id"):
                raise DeltaProtocolError(
                    f"column mapping mode {mode!r} not supported"
                )
            snap.column_mapping = mode
            # schemaString IS Spark's StructType JSON — parse directly
            snap.schema = T.StructType.fromJson(json.loads(md["schemaString"]))
            snap.partition_columns = list(md.get("partitionColumns") or [])
            snap.meta_raw = md
        elif "protocol" in action:
            snap.protocol_raw = action["protocol"]
            _check_reader_protocol(action["protocol"])
        elif "txn" in action:
            # transaction identifier: replayed in commit order, so the
            # latest action per appId wins (the spec's rule)
            t = action["txn"] or {}
            app = t.get("appId")
            if app is not None and t.get("version") is not None:
                snap.txns[str(app)] = int(t["version"])
        elif "domainMetadata" in action:
            # latest action per domain wins; removed=true stays as a
            # tombstone (the spec's checkpoint reconciliation keeps it)
            dm = action["domainMetadata"] or {}
            if dm.get("domain") is not None:
                snap.domains[str(dm["domain"])] = dm
        # commitInfo / cdc: no effect on the live file set

    def _replay_json_commit(self, version: int, snap: DeltaSnapshot) -> bool:
        p = _commit_file(self.log_dir, version)
        try:
            with open(p) as fh:
                lines = fh.read().splitlines()
        except FileNotFoundError:
            return False  # absent = end of log (callers verify no hole)
        except OSError as e:
            # present but unreadable (EACCES/EIO/...): failing loudly is
            # the contract — returning False here would silently serve
            # the previous version's rows as if this commit never existed
            raise DeltaProtocolError(
                f"{p}: commit exists but is unreadable: {e!r}"
            ) from None
        self.last_snapshot_commit_reads += 1
        for line in lines:
            if not line.strip():
                continue
            try:
                self._apply_action(json.loads(line), snap)
            except DeltaProtocolError:
                raise  # deliberate feature refusals keep their message
            except (ValueError, KeyError, TypeError, AttributeError) as e:
                raise DeltaProtocolError(
                    f"{p}: corrupt commit line: {e!r}"
                ) from None
        snap.version = version
        return True

    # ---------------------------------------------------------- checkpoint

    _CKPT_MULTI = re.compile(
        r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$"
    )
    # V2 checkpoint manifest: {v}.checkpoint.{uuid}.{json|parquet}
    # (single non-dotted token — can't collide with multi-part's two
    # numeric segments)
    _CKPT_V2 = re.compile(r"^(\d{20})\.checkpoint\.([^.]+)\.(json|parquet)$")
    # the actions of a checkpoint that are not file actions
    _NON_FILE = ("protocol", "metaData", "txn", "domainMetadata")

    def _checkpoint_sets(self, names) -> dict[int, tuple[str, list[str]]]:
        """version → (kind, file list) for every COMPLETE checkpoint in
        the log: classic single-file `{v}.checkpoint.parquet`, standard
        multi-part `{v}.checkpoint.{i}.{n}.parquet` (all n parts
        present), and V2 checkpoint manifests
        `{v}.checkpoint.{uuid}.{json|parquet}` (kind "v2" — their file
        actions may live in sidecars)."""
        out: dict[int, tuple[str, list[str]]] = {}
        multi: dict[tuple[int, int], dict[int, str]] = {}
        v2: dict[int, str] = {}
        for n in names:
            if n.endswith(".checkpoint.parquet"):
                stem = n[: -len(".checkpoint.parquet")]
                if stem.isdigit():
                    out[int(stem)] = (
                        "v1", [os.path.join(self.log_dir, n)]
                    )
                continue
            m = self._CKPT_MULTI.match(n)
            if m:
                v, i, total = (int(m.group(k)) for k in (1, 2, 3))
                multi.setdefault((v, total), {})[i] = os.path.join(
                    self.log_dir, n
                )
                continue
            m = self._CKPT_V2.match(n)
            if m:
                v2[int(m.group(1))] = os.path.join(self.log_dir, n)
        for (v, total), parts in multi.items():
            if len(parts) == total and v not in out:
                out[v] = ("v1", [parts[i] for i in sorted(parts)])
        for v, p in v2.items():
            # a classic checkpoint at the same version is equivalent;
            # prefer whichever exists, v2 only as the alternative
            out.setdefault(v, ("v2", [p]))
        return out

    def _physical_prune(
        self, snap: DeltaSnapshot, prune: dict | None
    ) -> dict | None:
        """Translate a normalized {logical_col: [raw str|None]} prune spec
        to PHYSICAL partitionValues keys using the snapshot's schema (in
        mapping modes partitionValues key on physicalName). Returns None
        when pruning can't be applied safely (no schema yet, or a column
        not in the schema — caller post-filters instead)."""
        if not prune or snap.schema is None:
            return None
        fields = {f.name: f for f in snap.schema.fields}
        if not set(prune) <= set(fields):
            return None
        return {
            _physical_name(fields[c], snap.column_mapping): vals
            for c, vals in prune.items()
        }

    def _collect_add_rows(self, df, cols, snap, prune, stats_prune=None):
        """Collect add actions from a checkpoint/sidecar scan with the
        100-TB driver-memory shape: the partition-prune predicate, the
        stats-based file-skip predicate, and the column pruning (drop the
        per-file `stats` JSON, the dominant payload) are pushed into the
        DISTRIBUTED scan, so the driver materializes only the surviving
        files' control fields — not the whole checkpoint. Returns the
        number of rows collected."""
        if "add" not in cols:
            return 0
        sel = df.filter(F.col("add").isNotNull())
        pp = self._physical_prune(snap, prune)
        add_type = df.schema["add"].dataType
        if pp and (
            not isinstance(add_type, T.StructType)
            or "partitionValues" not in add_type.names
        ):
            pp = None  # no partitionValues in this layout: post-filter
        if pp:
            for pk, vals in pp.items():
                item = F.col("add.partitionValues").getItem(pk)
                opts = [v for v in vals if v is not None]
                cond = item.isin(opts) if opts else F.lit(False)
                if any(v is None for v in vals):
                    cond = cond | item.isNull()
                sel = sel.filter(cond)
        if (
            stats_prune
            and isinstance(add_type, T.StructType)
            and "stats" in add_type.names
        ):
            # file skipping on data-column stats, evaluated IN the scan:
            # keep a file unless its [min, max] provably misses the
            # requested range; files without stats (or without the
            # column) always survive — absent stats never drop data
            for col, (lo, hi, numeric) in stats_prune.items():
                # bracket-quoted path: `col` may be a physicalName
                # (column-mapped tables) with dashes/dots in it
                mn = F.get_json_object(
                    F.col("add.stats"), f"$['minValues']['{col}']"
                )
                mx = F.get_json_object(
                    F.col("add.stats"), f"$['maxValues']['{col}']"
                )
                if numeric:
                    mn, mx = mn.cast("double"), mx.cast("double")
                miss = F.lit(False)
                if hi is not None:
                    miss = miss | (mn > F.lit(hi))
                if lo is not None:
                    miss = miss | (mx < F.lit(lo))
                keep = (
                    F.col("add.stats").isNull()
                    | mn.isNull()
                    | mx.isNull()
                    | ~miss
                )
                sel = sel.filter(keep)
        add_col = F.col("add")
        for heavy in ("stats", "stats_parsed", "parsedStats"):
            add_col = add_col.dropFields(heavy)
        rows = sel.select(add_col.alias("add")).collect()
        for row in rows:
            self._apply_action(
                {"add": row.asDict(recursive=True)["add"]}, snap
            )
        self.last_checkpoint_rows_collected += len(rows)
        return len(rows)

    def _load_checkpoint(
        self,
        version: int,
        paths: list[str],
        prune: dict | None = None,
        stats_prune: dict | None = None,
        meta_only: bool = False,
    ) -> DeltaSnapshot | None:
        if not all(os.path.exists(p) for p in paths):
            return None
        snap = DeltaSnapshot(version, {}, None)
        try:
            # phase 1: the handful of non-file actions, read with pyarrow
            # on the driver (no Spark job, no session needed); the
            # metaData row is needed BEFORE the add scan so mapping-mode
            # prune columns can be translated to physical names
            actions = [
                a for p in paths for a in _parquet_actions(p, self._NON_FILE)
            ]
        except Exception:
            return None  # unreadable/corrupt checkpoint → caller falls back
        for a in actions:
            self._apply_action(a, snap)
        if meta_only:
            return snap
        try:
            # phase 2: file actions, prune + stats-drop pushed to the scan
            df = self.spark.read.parquet(*paths)
            self._collect_add_rows(
                df, set(df.columns), snap, prune, stats_prune
            )
        except Exception:
            return None
        # remove actions in a checkpoint are tombstones for vacuum
        # bookkeeping only — the add set is already net of them
        return snap

    def _load_checkpoint_v2(
        self,
        version: int,
        manifest_path: str,
        prune: dict | None = None,
        stats_prune: dict | None = None,
        meta_only: bool = False,
    ) -> DeltaSnapshot | None:
        """V2 checkpoint (PROTOCOL.md "V2 Checkpoints"): a manifest file
        `{v}.checkpoint.{uuid}.{json|parquet}` holding non-file actions
        (+ a `checkpointMetadata` action) and EITHER inline file actions
        OR `sidecar` actions naming parquet files under
        `_delta_log/_sidecars/` that carry the add/remove state. Same
        net-adds semantics as classic checkpoints; a `meta_only` load
        opens no sidecar."""
        snap = DeltaSnapshot(version, {}, None)
        sidecars: list[str] = []
        try:
            if manifest_path.endswith(".json"):
                with open(manifest_path) as fh:
                    actions = [
                        json.loads(line)
                        for line in fh.read().splitlines()
                        if line.strip()
                    ]
            else:
                actions = _parquet_actions(
                    manifest_path,
                    (*self._NON_FILE, "add", "sidecar", "checkpointMetadata"),
                )
        except Exception:
            return None  # unreadable manifest → caller falls back
        saw_meta = False
        kinds = self._NON_FILE if meta_only else (*self._NON_FILE, "add")
        for action in actions:
            if "checkpointMetadata" in action:
                saw_meta = True
                cm = action["checkpointMetadata"] or {}
                if cm.get("version") not in (None, version):
                    raise DeltaProtocolError(
                        f"{manifest_path}: checkpointMetadata version "
                        f"{cm.get('version')} != file version {version}"
                    )
                continue
            if "sidecar" in action:
                sc = action["sidecar"] or {}
                p = sc.get("path")
                if not p:
                    raise DeltaProtocolError(
                        f"{manifest_path}: sidecar action without path"
                    )
                sidecars.append(
                    os.path.join(self.log_dir, "_sidecars", p)
                )
                continue
            for kind in kinds:
                if kind in action and action[kind] is not None:
                    self._apply_action({kind: action[kind]}, snap)
        if not saw_meta:
            raise DeltaProtocolError(
                f"{manifest_path}: V2 checkpoint manifest lacks the "
                "required checkpointMetadata action"
            )
        if meta_only:
            return snap
        for sp in sidecars:
            try:
                df = self.spark.read.parquet(sp)
                cols = set(df.columns)
            except Exception as e:
                raise DeltaProtocolError(
                    f"sidecar {os.path.basename(sp)} unreadable: {e!r}"
                ) from None
            try:
                # same driver-memory shape as classic checkpoints: prune
                # + stats-drop pushed into the distributed sidecar scan
                self._collect_add_rows(df, cols, snap, prune, stats_prune)
            except Exception as e:
                raise DeltaProtocolError(
                    f"sidecar {os.path.basename(sp)} unreadable: {e!r}"
                ) from None
            # removes in sidecars are vacuum tombstones, like v1
        return snap

    def _load_last_checkpoint(self) -> dict | None:
        try:
            with open(os.path.join(self.log_dir, "_last_checkpoint")) as fh:
                raw = fh.read()
            return json.loads(raw) if raw.strip() else None
        except (OSError, ValueError):
            return None

    # ------------------------------------------------------------ snapshot

    def snapshot(
        self,
        version: int | None = None,
        partition_filter: dict[str, object] | None = None,
        stats_filter: dict[str, tuple] | None = None,
        _meta_only: bool = False,
    ) -> DeltaSnapshot:
        """Live file set at `version` (default latest). Fast path follows
        `_last_checkpoint` (honoring its `parts` field for multi-part
        checkpoints) and probes JSON commits forward by exact name —
        Delta logs are gapless by the commit protocol — then confirms
        end-of-log with one name-only LIST (hole detection for any hole
        width; no checkpoint re-read or replay from it). Slow path (no/
        stale/corrupt pointer, or time travel before it) lists the dir
        and replays from the listing.

        `partition_filter` (same contract as read()'s) makes this a
        PRUNED, read-only snapshot: the predicate is pushed into the
        distributed checkpoint/sidecar scans so the driver materializes
        only the surviving files — the 100-TB shape, where the full add
        set (millions of files, dominated by per-file stats JSON) must
        never land on the driver. The JSON commit tail (bounded by
        checkpoint interval) is post-filtered driver-side. A pruned
        snapshot can seed a commit only when that commit's removes stay
        inside the pruned partitions (both MERGE modes); it still
        carries the protocol, metaData, txn and domainMetadata state
        (so the row-tracking watermark cannot regress), but any
        operation that must see every live file (overwrite, optimize)
        needs an unpruned one.

        `stats_filter` = {col: (lo, hi)} closed ranges (either side
        None) — FILE SKIPPING on the writer-recorded per-file stats,
        also pushed into the checkpoint scan: a file is dropped only
        when its recorded [min, max] provably misses the range; files
        without stats always survive. Numeric or string columns only
        (refuses others loudly)."""
        # `_meta_only`: a schema/protocol probe — no checkpoint add is
        # collected and no Spark job runs (the JSON tail still replays,
        # bounded by the checkpoint interval)
        sprune = None
        if stats_filter and not _meta_only:
            sprune = self._normalize_stats_filter(version, stats_filter)
        self.last_snapshot_commit_reads = 0
        self.last_snapshot_listed_log = False
        self.last_checkpoint_rows_collected = 0
        prune = None
        if partition_filter:
            prune = {
                c: [
                    None if o is None else _pv_str(o)
                    for o in (
                        want
                        if isinstance(want, (list, tuple, set))
                        else [want]
                    )
                ]
                for c, want in partition_filter.items()
            }

        lc = self._load_last_checkpoint()
        if (
            lc is not None
            and isinstance(lc.get("version"), int)
            and (version is None or lc["version"] <= version)
        ):
            cv = lc["version"]
            parts = lc.get("parts")
            if isinstance(parts, int) and parts > 0:
                paths = [
                    os.path.join(
                        self.log_dir,
                        f"{cv:020d}.checkpoint.{i:010d}.{parts:010d}.parquet",
                    )
                    for i in range(1, parts + 1)
                ]
            else:
                paths = [
                    os.path.join(self.log_dir, f"{cv:020d}.checkpoint.parquet")
                ]
            snap = self._load_checkpoint(cv, paths, prune, sprune, _meta_only)
            if snap is None:
                # classic names absent: a v2 checkpoint's UUID manifest
                # name can't be constructed, but our writer records it
                # in the pointer — probing it keeps the no-LIST fast
                # path alive across v2 checkpoints
                mname = lc.get("v2Manifest")
                if (
                    isinstance(mname, str)
                    and os.sep not in mname
                    and mname.startswith(f"{cv:020d}.checkpoint.")
                ):
                    mp = os.path.join(self.log_dir, mname)
                    if os.path.exists(mp):
                        snap = self._load_checkpoint_v2(
                            cv, mp, prune, sprune, _meta_only
                        )
            if snap is not None:
                v = snap.version + 1
                while version is None or v <= version:
                    if not self._replay_json_commit(v, snap):
                        # Logs are gapless by the commit protocol, so the
                        # first absent name normally IS the end. A present
                        # successor means a HOLE (torn delete / bit rot):
                        # refuse rather than return a silently stale
                        # snapshot that drops v's adds / resurrects its
                        # removes. A fixed exists() probe window is blind
                        # to holes wider than itself (ADVICE r12), so
                        # confirm end-of-log with ONE name-only listing —
                        # conclusive for ANY hole width. This is not the
                        # slow path (no checkpoint re-pick, no replay from
                        # the listing; names only), so the fast path's win
                        # — skipping the full list+checkpoint+replay — and
                        # last_snapshot_listed_log's meaning are intact.
                        hole_hi = max(
                            (
                                c
                                for c in _commit_versions(
                                    os.listdir(self.log_dir)
                                )
                                if c >= v
                                and (version is None or c <= version)
                            ),
                            default=None,
                        )
                        if hole_hi is not None:
                            raise DeltaProtocolError(
                                f"{self.path}: commit {v} missing "
                                f"but {hole_hi} exists — log has a "
                                "hole; refusing a partial replay"
                            )
                        break
                    v += 1
                if version is not None and snap.version < version:
                    raise DeltaProtocolError(
                        f"version {version} not present (latest {snap.version})"
                    )
                return self._post_stats_prune(
                    self._post_prune(snap, prune), sprune
                )

        self.last_snapshot_listed_log = True
        names = os.listdir(self.log_dir)
        commits = _commit_versions(names)
        ckpt_sets = self._checkpoint_sets(names)
        if not commits and not ckpt_sets:
            raise DeltaProtocolError(f"{self.path}: empty _delta_log")

        snap = DeltaSnapshot(-1, {}, None)
        for cv in sorted(ckpt_sets, reverse=True):
            if version is not None and cv > version:
                continue
            kind, paths = ckpt_sets[cv]
            loaded = (
                self._load_checkpoint_v2(
                    cv, paths[0], prune, sprune, _meta_only
                )
                if kind == "v2"
                else self._load_checkpoint(
                    cv, paths, prune, sprune, _meta_only
                )
            )
            if loaded is not None:
                snap = loaded
                break
        if snap.version < 0 and ckpt_sets and not commits:
            # every checkpoint unreadable and the commits below them were
            # legitimately cleaned: there is nothing to rebuild from, and
            # returning the empty snapshot would read as a 0-row table
            raise DeltaProtocolError(
                f"{self.path}: no readable checkpoint "
                f"(candidates at versions {sorted(ckpt_sets)}) and no "
                "JSON commits to replay — refusing to read corrupt "
                "state as an empty table"
            )
        for v in commits:
            if v <= snap.version:
                continue
            if version is not None and v > version:
                break
            if v != snap.version + 1:
                # Commits below a checkpoint are legitimately cleaned;
                # above the replay base they must be contiguous. A hole
                # would silently drop the missing version's adds and
                # resurrect its removes in every downstream job.
                raise DeltaProtocolError(
                    f"{self.path}: cannot replay to commit {v} from "
                    f"version {snap.version} — either the log has a "
                    f"hole, or every checkpoint covering "
                    f"{snap.version + 1}..{v - 1} is unreadable and "
                    "their commits were cleaned; refusing a partial "
                    "replay"
                )
            if not self._replay_json_commit(v, snap):
                # listed a moment ago but gone now: racing cleaner or
                # torn delete — refuse rather than skip it
                raise DeltaProtocolError(
                    f"{self.path}: commit {v} disappeared during replay"
                )
        if version is not None and snap.version < version:
            raise DeltaProtocolError(
                f"version {version} not present (latest {snap.version})"
            )
        return self._post_stats_prune(self._post_prune(snap, prune), sprune)

    def _normalize_stats_filter(
        self, version: int | None, stats_filter: dict
    ) -> dict:
        """{col: (lo, hi)} → {stats_key: (lo, hi, numeric)} validated
        against the table schema. One extra snapshot probe to learn the
        schema; numeric columns compare as doubles, strings
        lexicographically, anything else refuses loudly (a silent
        unsupported-type skip would read as 'no matching files').

        On column-mapped tables (name/id modes) the stats JSON keys on
        delta.columnMapping.physicalName, not the logical name — the
        returned dict is keyed by the PHYSICAL name so both the pushed
        get_json_object lookup and the JSON-tail post-prune hit."""
        probe = self.snapshot(version, _meta_only=True)
        if probe.schema is None:
            raise DeltaProtocolError(
                f"{self.path}: no metaData action in log"
            )
        fields = {f.name: f for f in probe.schema.fields}
        out = {}
        for col, rng in stats_filter.items():
            if col not in fields:
                raise DeltaProtocolError(
                    f"stats_filter column {col!r} not in table schema"
                )
            lo, hi = rng
            fld = fields[col]
            dt = fld.dataType
            key = _physical_name(fld, probe.column_mapping)
            if "'" in key:
                raise DeltaProtocolError(
                    f"stats_filter column {col!r}: physical name {key!r} "
                    "not addressable in a JSON path"
                )
            if isinstance(dt, T.NumericType):
                out[key] = (lo, hi, True)
            elif isinstance(dt, T.StringType):
                out[key] = (lo, hi, False)
            else:
                raise DeltaProtocolError(
                    f"stats_filter on {dt.simpleString()} column {col!r} "
                    "unsupported (numeric and string only)"
                )
        return out

    def _post_stats_prune(
        self, snap: DeltaSnapshot, sprune: dict | None
    ) -> DeltaSnapshot:
        """Driver-side stats filter for the JSON commit tail (adds there
        still carry their stats string)."""
        if not sprune:
            return snap

        def _keep(a: dict) -> bool:
            st = a.get("stats")
            if not st:
                return True
            try:
                parsed = json.loads(st) if isinstance(st, str) else st
            except ValueError:
                return True
            mins = parsed.get("minValues") or {}
            maxs = parsed.get("maxValues") or {}
            for col, (lo, hi, numeric) in sprune.items():
                mn, mx = mins.get(col), maxs.get(col)
                if mn is None or mx is None:
                    continue
                try:
                    if numeric:
                        mn, mx = float(mn), float(mx)
                    if hi is not None and mn > hi:
                        return False
                    if lo is not None and mx < lo:
                        return False
                except (TypeError, ValueError):
                    continue
            return True

        return _restricted(
            snap,
            {
                p: pv
                for p, pv in snap.files.items()
                if _keep(snap.adds_raw.get(p) or {})
            },
        )

    def _post_prune(
        self, snap: DeltaSnapshot, prune: dict | None
    ) -> DeltaSnapshot:
        """Driver-side filter for files the pushed-down checkpoint prune
        couldn't cover: adds from the JSON commit tail (bounded by the
        checkpoint interval) and layouts without partitionValues. Values
        in `prune` are already normalized raw strings (or None)."""
        if not prune:
            return snap
        if snap.schema is not None:
            unknown = set(prune) - set(snap.partition_columns)
            if unknown:
                raise DeltaProtocolError(
                    f"partition_filter names non-partition columns "
                    f"{sorted(unknown)}"
                )
        fields = {
            f.name: f for f in (snap.schema.fields if snap.schema else [])
        }
        pk = {
            c: _physical_name(fields[c], snap.column_mapping)
            if c in fields
            else c
            for c in prune
        }

        def _keep(pvals: dict) -> bool:
            for c, vals in prune.items():
                raw = pvals.get(pk[c])
                if not any(
                    (v is None and raw is None)
                    or (v is not None and raw == v)
                    for v in vals
                ):
                    return False
            return True

        return _restricted(
            snap, {p: pv for p, pv in snap.files.items() if _keep(pv)}
        )

    def txn_version(self, app_id: str) -> int | None:
        """Latest committed transaction version for `app_id` (the
        setTransaction watermark; PROTOCOL.md "Transaction
        Identifiers"), or None if the app never wrote. Meta-only probe:
        no add materialization."""
        return self.snapshot(_meta_only=True).txns.get(str(app_id))

    def version_at(self, as_of_ms: int) -> int:
        """Timestamp time travel: the latest version whose commit
        timestamp is <= `as_of_ms` (epoch millis). Per the protocol a
        commit's timestamp is its log file's modification time UNLESS
        the commit carries `commitInfo.inCommitTimestamp` (the
        clock-skew-proof writer feature) — honored here when present.
        Requires a LIST of the log dir — timestamp resolution is
        inherently a listing operation, unlike version reads."""
        eligible = [
            v
            for v in _commit_versions(os.listdir(self.log_dir))
            if _commit_ts(_commit_file(self.log_dir, v)) <= as_of_ms
        ]
        if not eligible:
            raise DeltaProtocolError(
                f"no commit at or before timestamp {as_of_ms}"
            )
        return max(eligible)

    def _first_version_at_or_after(self, ts_ms: int) -> int:
        """Smallest commit version whose timestamp is >= `ts_ms` (the
        CDF startingTimestamp convention). Listing-based, like all
        timestamp resolution."""
        for v in _commit_versions(os.listdir(self.log_dir)):
            if _commit_ts(_commit_file(self.log_dir, v)) >= ts_ms:
                return v
        raise DeltaProtocolError(
            f"no commit at or after timestamp {ts_ms}"
        )

    # ---------------------------------------------------------------- read

    def read(
        self,
        version: int | None = None,
        partition_filter: dict[str, object] | None = None,
        as_of_ms: int | None = None,
        stats_filter: dict[str, tuple] | None = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """`with_row_ids=True` (row-tracking tables) appends
        `__rt_row_id` / `__rt_rcv` long columns — each row's stable row
        id and row commit version per PROTOCOL.md "Row Tracking":
        the file's MATERIALIZED column value when present, else
        baseRowId + file row index / defaultRowCommitVersion. Used by
        rewriting writers (merge/optimize) to preserve ids for copied
        rows."""
        if as_of_ms is not None:
            if version is not None:
                raise ValueError("pass version OR as_of_ms, not both")
            version = self.version_at(as_of_ms)
        return self._read(
            version, partition_filter, stats_filter, with_row_ids
        )

    def history(self, limit: int | None = None) -> list[dict]:
        """DESCRIBE HISTORY parity: one dict per commit, NEWEST first —
        version, timestamp (epoch ms, inCommitTimestamp-aware), and the
        commit's commitInfo payload when present (operation, metrics —
        whatever the writer recorded; ours and foreign ones differ).
        A driver-side metadata listing, like every history API."""
        import math

        out = []
        for v in reversed(_commit_versions(os.listdir(self.log_dir))):
            p = _commit_file(self.log_dir, v)
            out.append(
                {
                    "version": v,
                    # ceil: a floor-truncated float mtime would make
                    # read_changes(ending_ts_ms=<this>) exclude the very
                    # commit it came from
                    "timestamp": math.ceil(_commit_ts(p)),
                    "commitInfo": _commit_info(p),
                }
            )
            if limit is not None and len(out) >= limit:
                break
        return out

    def files_df(self, version: int | None = None) -> DataFrame:
        """The live file set as a DataFrame (delta's `t.files` /
        DESCRIBE DETAIL granularity): recorded path, size, numRecords
        (from stats when present), partitionValues, DV cardinality,
        and row-tracking fields."""
        snap = self.snapshot(version)
        rows = []
        for p in sorted(snap.files):
            a = snap.adds_raw.get(p) or {}
            n = None
            try:
                parsed = json.loads(a.get("stats") or "")
                if isinstance(parsed, dict):
                    n = parsed.get("numRecords")
            except (ValueError, TypeError):
                pass
            dv = a.get("deletionVector") or {}
            rows.append(
                (
                    p,
                    a.get("size"),
                    n,
                    dict(snap.files[p]),
                    dv.get("cardinality"),
                    a.get("baseRowId"),
                    a.get("defaultRowCommitVersion"),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "path string, size long, num_records long, "
            "partition_values map<string,string>, dv_cardinality long, "
            "base_row_id long, default_row_commit_version long",
        )

    def history_df(self, limit: int | None = None) -> DataFrame:
        """history() as a DataFrame (DESCRIBE HISTORY's relational
        shape) — composes with sql()/joins like the Iceberg inspect
        tables."""
        rows = [
            (
                h["version"],
                int(h["timestamp"]),
                (h.get("commitInfo") or {}).get("operation"),
                (h.get("commitInfo") or {}).get("engineInfo"),
            )
            for h in self.history(limit)
        ]
        return self.spark.createDataFrame(
            rows,
            "version long, timestamp long, operation string, "
            "engine_info string",
        )

    def read_changes(
        self,
        starting_version: int | None = None,
        ending_version: int | None = None,
        starting_ts_ms: int | None = None,
        ending_ts_ms: int | None = None,
    ) -> DataFrame:
        """Batch change feed between versions (both INCLUSIVE — the
        delta-spark `table_changes` convention): table columns +
        `_change_type`, `_commit_version`, `_commit_timestamp`.
        Timestamp bounds (`starting_ts_ms`/`ending_ts_ms`, exclusive
        with their version twins) resolve per the CDF convention: start
        at the first commit at-or-after, end at the last at-or-before.

        Per the protocol's Change Data Files rules, a commit that
        carries `cdc` actions is read from THOSE files exclusively (they
        record the commit's row-level changes, `_change_type` in-file);
        a commit without them derives `insert` rows from its
        dataChange=true add actions. Commits that express row-level
        changes WITHOUT cdc files — remove actions or DV-carrying adds
        with dataChange=true — refuse loudly: their changes cannot be
        reconstructed, and guessing would corrupt downstream consumers.
        dataChange=false adds/removes (OPTIMIZE) contribute nothing, as
        required.

        Scale: each version's files are read in one grouped scan via the
        same assembly as read() (partition literals, column mapping);
        version count in a range is bounded by consume cadence, not
        table size, and nothing here materializes data driver-side.
        The batch twin of the `deltastream` streaming source, which
        plans each commit through the same `_change_files`."""
        if starting_version is not None and starting_ts_ms is not None:
            raise ValueError("pass starting_version OR starting_ts_ms")
        if ending_version is not None and ending_ts_ms is not None:
            raise ValueError("pass ending_version OR ending_ts_ms")
        if starting_ts_ms is not None:
            # CDF timestamp convention: start at the first commit AT OR
            # AFTER the bound, end at the last commit at or before it
            starting_version = self._first_version_at_or_after(
                starting_ts_ms
            )
        if ending_ts_ms is not None:
            ending_version = self.version_at(ending_ts_ms)
        if starting_version is None:
            raise ValueError(
                "read_changes needs starting_version or starting_ts_ms"
            )
        probe = self.snapshot(_meta_only=True)
        if probe.schema is None:
            raise DeltaProtocolError(f"{self.path}: no metaData action in log")
        if ending_version is None:
            ending_version = probe.version
        if starting_version < 0 or starting_version > ending_version:
            raise ValueError(
                f"bad version range [{starting_version}, {ending_version}]"
            )
        parts: list[DataFrame] = []
        for v in range(starting_version, ending_version + 1):
            is_cdc, files, ts = self._change_files(v)
            if is_cdc:
                df = self._read_cdc_files(files, probe)
            elif files:
                df = self._assemble(
                    replace(
                        probe,
                        version=v,
                        files={
                            a["path"]: dict(a.get("partitionValues") or {})
                            for a in files
                        },
                        adds_raw={a["path"]: a for a in files},
                    )
                ).withColumn("_change_type", F.lit("insert"))
            else:
                continue
            parts.append(
                df.withColumn("_commit_version", F.lit(v).cast("long"))
                .withColumn(
                    "_commit_timestamp",
                    F.timestamp_millis(F.lit(int(ts))),
                )
            )
        if not parts:
            schema = T.StructType(probe.schema.fields.copy())
            schema.add("_change_type", T.StringType())
            schema.add("_commit_version", T.LongType())
            schema.add("_commit_timestamp", T.TimestampType())
            return self.spark.createDataFrame([], schema)
        out = parts[0]
        for q in parts[1:]:
            out = out.unionByName(q)
        return out

    def _commit_actions(self, v: int) -> list[dict]:
        """The actions of JSON commit `v`, its protocol actions checked
        against this reader. A commit the log no longer holds (cleaned
        below a checkpoint) raises, naming it: skipping it would drop
        its changes without a word."""
        try:
            with open(_commit_file(self.log_dir, v)) as fh:
                actions = [
                    json.loads(ln) for ln in fh.read().splitlines() if ln.strip()
                ]
        except OSError:
            raise DeltaProtocolError(
                f"{self.path}: commit {v} not available (log cleaned?) — "
                "cannot compute its changes"
            ) from None
        for a in actions:
            if "protocol" in a:
                _check_reader_protocol(a["protocol"])
        return actions

    def _change_files(self, v: int) -> tuple[bool, list[dict], float]:
        """Commit `v`'s change feed, per the protocol's Change Data Files
        rules: `(True, its cdc actions, ts)` when it carries any — they
        record the commit's row-level changes, `_change_type` in-file —
        else `(False, its dataChange=true add actions, ts)`, whose rows
        are inserts. `ts` is the commit timestamp in epoch millis.
        Row-level changes WITHOUT cdc files (removes, or DV-carrying
        adds, with dataChange=true) refuse: they cannot be
        reconstructed, and guessing would corrupt downstream consumers.
        dataChange=false adds/removes (OPTIMIZE) contribute nothing."""
        actions = self._commit_actions(v)
        ts = _commit_ts(_commit_file(self.log_dir, v))
        cdc = [a["cdc"] for a in actions if a.get("cdc")]
        if cdc:
            return True, cdc, ts
        adds = [
            a["add"]
            for a in actions
            if a.get("add") and a["add"].get("dataChange", True)
        ]
        if any(
            a.get("remove") and a["remove"].get("dataChange", True)
            for a in actions
        ) or any(a.get("deletionVector") for a in adds):
            raise DeltaProtocolError(
                f"{self.path}: version {v} contains row-level changes "
                "(remove/deletion-vector) without cdc files — changes are "
                "not reconstructable; enable CDF on the writer "
                "(DeltaKeyedTable enable_cdf=True)"
            )
        return False, adds, ts

    def _file_schema(
        self, snap: DeltaSnapshot, extra: list[T.StructField] = ()
    ) -> T.StructType:
        """The requested schema of a data or change-data file scan: the
        data fields as the files store them (`_file_field`), then
        `extra`. Id mode matches columns by parquet field id: Spark's
        scan does that when the requested schema carries
        `parquet.field.id` metadata and the fieldId read conf is on. The
        conf is set in session.RUNTIME_CONFS; it is re-asserted here for
        foreign sessions and stays set (NOT restored): the scan is lazy
        and reads confs at execution time, and the conf is inert for any
        requested schema without parquet.field.id metadata."""
        if snap.column_mapping == "id":
            self.spark.conf.set(
                "spark.sql.parquet.fieldId.read.enabled", "true"
            )
        return T.StructType(
            [_file_field(f, snap.column_mapping) for f in _data_fields(snap)]
            + list(extra)
        )

    @staticmethod
    def _logical(df: DataFrame, snap: DeltaSnapshot, extra) -> DataFrame:
        """A scan of `_file_schema` with the data columns renamed to
        their logical names (a no-op select on unmapped tables is
        skipped); the `extra` columns pass through."""
        mode = snap.column_mapping
        if mode not in ("name", "id"):
            return df
        return df.select(
            *[
                F.col(_physical_name(f, mode)).alias(f.name)
                for f in _data_fields(snap)
            ],
            *extra,
        )

    def _read_cdc_files(
        self, cdc_actions: list[dict], snap: DeltaSnapshot
    ) -> DataFrame:
        """Read a commit's `cdc` actions (PROTOCOL.md Change Data
        Files): parquet under the table root carrying the data columns
        plus `_change_type`; partition columns re-attach as typed
        literals from the action's partitionValues, same as adds.
        Mapped tables: cdc files carry PHYSICAL names (the data-file
        rule) — requested physically, aliased back to logical."""
        file_schema = self._file_schema(
            snap, [T.StructField("_change_type", T.StringType())]
        )
        parts = []
        for key, paths in self._partition_groups(
            snap,
            {a["path"]: a.get("partitionValues") for a in cdc_actions},
        ):
            df = self.spark.read.schema(file_schema).parquet(
                *[os.path.join(self.path, p) for p in paths]
            )
            df = self._logical(df, snap, ["_change_type"])
            parts.append(
                self._with_partition_values(df, key, snap).select(
                    *[f.name for f in snap.schema.fields], "_change_type"
                )
            )
        out = parts[0]
        for q in parts[1:]:
            out = out.unionByName(q)
        return out

    @staticmethod
    def _partition_groups(
        snap: DeltaSnapshot, files: dict[str, dict | None]
    ) -> list[tuple[tuple, list[str]]]:
        """Group {rel path: partitionValues} by partition value tuple —
        one scan per group, in a None-safe deterministic order (null
        values first). Keys are ((logical column, raw value), ...);
        mapped tables key partitionValues on PHYSICAL names (PROTOCOL.md
        "Column Mapping"), while metaData.partitionColumns stays
        logical."""
        pv_key = {
            f.name: _physical_name(f, snap.column_mapping)
            for f in snap.schema.fields
        }
        groups: dict[tuple, list[str]] = {}
        for path, pvals in files.items():
            key = tuple(
                (c, (pvals or {}).get(pv_key[c]))
                for c in snap.partition_columns
            )
            groups.setdefault(key, []).append(path)
        return sorted(
            groups.items(),
            key=lambda kv: tuple(
                (c, v is not None, v or "") for c, v in kv[0]
            ),
        )

    @staticmethod
    def _with_partition_values(
        df: DataFrame, key: tuple, snap: DeltaSnapshot
    ) -> DataFrame:
        """Re-attach one group's partition columns as typed literals —
        Delta keeps them in the log, not the files."""
        ptypes = {f.name: f.dataType for f in snap.schema.fields}
        for col, raw in key:
            df = df.withColumn(col, F.lit(raw).cast(ptypes[col]))
        return df

    def _read(
        self,
        version: int | None = None,
        partition_filter: dict[str, object] | None = None,
        stats_filter: dict[str, tuple] | None = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """`partition_filter` prunes by the LOG's partitionValues before
        any file is opened — {col: value} or {col: [values...]}; values
        compare as the protocol's raw strings (None matches null). At
        100 TB this is the difference between planning over the files of
        one partition and listing-and-opening all of them; Spark's own
        partition pruning can't help because Delta carries partition
        values in the log, not the directory layout."""
        # pruning happens INSIDE snapshot(): pushed into the distributed
        # checkpoint scan, post-filtered for the JSON tail — the driver
        # only ever holds the pruned file set (see snapshot() docstring)
        snap = self.snapshot(version, partition_filter, stats_filter)
        return self._assemble(snap, with_row_ids=with_row_ids)

    def _assemble(
        self,
        snap: DeltaSnapshot,
        with_row_ids: bool = False,
        with_file_pos: bool = False,
    ) -> DataFrame:
        """Materialize a snapshot's file set as one DataFrame: files
        grouped by partition values (one scan per group, partition
        columns re-attached as typed literals — Delta keeps them in the
        log, not the files), column-mapping translation, DV-carrying
        files routed through the distributed DV anti-join.

        `with_row_ids` appends `__rt_row_id`/`__rt_rcv`: the file's
        materialized row-tracking column when present (nullable long,
        read even though it is outside the logical schema), else
        baseRowId + row index / defaultRowCommitVersion from the add
        actions — attached via ONE broadcast join on a per-file map,
        never a per-file driver loop.

        `with_file_pos` keeps `__rt_file` (absolute data file path) and
        `__rt_ri` (file-local row index) on every live row — where a
        DV-mode MERGE finds the rows its deletion vectors must drop."""
        if snap.schema is None:
            raise DeltaProtocolError(f"{self.path}: no metaData action in log")
        mat_id, mat_cv = (
            rt_materialized_cols(snap.meta_raw)
            if with_row_ids
            else (None, None)
        )
        rt_extra = [c for c in (mat_id, mat_cv) if c]
        with_pos = with_row_ids or with_file_pos
        # materialized row-tracking columns are physical-only: files
        # written before enablement (or by appends, which leave them
        # unset) simply lack them and read as null
        data_schema = self._file_schema(
            snap, [T.StructField(c, T.LongType(), True) for c in rt_extra]
        )
        if not snap.files:
            out = self.spark.createDataFrame([], snap.schema)
            if with_row_ids:
                out = out.withColumn(
                    "__rt_row_id", F.lit(None).cast("long")
                ).withColumn("__rt_rcv", F.lit(None).cast("long"))
            return out

        parts = []
        for key, paths in self._partition_groups(snap, snap.files):
            clean = [
                p
                for p in paths
                if not (snap.adds_raw.get(p) or {}).get("deletionVector")
            ]
            dved = [p for p in paths if p not in clean]
            scans = []
            if clean:
                df = self.spark.read.schema(data_schema).parquet(
                    *[os.path.join(self.path, p) for p in clean]
                )
                if with_pos:
                    df = df.withColumn(
                        "__rt_file",
                        F.regexp_replace(
                            F.col("_metadata.file_path"), "^file:", ""
                        ),
                    ).withColumn("__rt_ri", F.col("_metadata.row_index"))
                scans.append(df)
            if dved:
                scans.append(
                    self._read_with_dvs(
                        dved, data_schema, snap, keep_meta=with_pos
                    )
                )
            extras = (
                [*rt_extra, "__rt_file", "__rt_ri"] if with_pos else []
            )
            for df in scans:
                parts.append(
                    self._with_partition_values(
                        self._logical(df, snap, extras), key, snap
                    ).select(*[f.name for f in snap.schema.fields], *extras)
                )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if not with_row_ids:
            return out
        pos = [] if with_file_pos else ["__rt_file", "__rt_ri"]
        # one broadcast map (abs file path -> add's row-tracking
        # fields); rows whose file never carried baseRowId surface null
        base_rows = [
            (
                os.path.abspath(os.path.join(self.path, p)),
                (snap.adds_raw.get(p) or {}).get("baseRowId"),
                (snap.adds_raw.get(p) or {}).get("defaultRowCommitVersion"),
            )
            for p in snap.files
        ]
        base_map = self.spark.createDataFrame(
            base_rows, "__rt_file string, __rt_base long, __rt_dcv long"
        )
        out = out.join(F.broadcast(base_map), "__rt_file", "left")
        rid = F.col("__rt_base") + F.col("__rt_ri")
        rcv = F.col("__rt_dcv")
        if mat_id:
            rid = F.coalesce(F.col(mat_id), rid)
        if mat_cv:
            rcv = F.coalesce(F.col(mat_cv), rcv)
        return (
            out.withColumn("__rt_row_id", rid.cast("long"))
            .withColumn("__rt_rcv", rcv.cast("long"))
            .drop(*pos, "__rt_base", "__rt_dcv", *rt_extra)
        )

    def _read_with_dvs(
        self,
        rel_paths: list[str],
        data_schema: T.StructType,
        snap: DeltaSnapshot,
        keep_meta: bool = False,
    ) -> DataFrame:
        """Scan files that carry deletion vectors, dropping deleted rows:
        the file layer's one DV anti-join (layout.drop_dv_rows) on
        (`_metadata.file_path`, `_metadata.row_index`). The driver ships
        only the per-file DV descriptors; executors decode the bitmaps
        (deltadv.dv_row_indexes). Only the files that HAVE a DV pay the
        metadata projection + join."""
        from deimos_spark.operators.deltadv import dv_row_indexes

        table_path = self.path
        descs = []
        for rel in rel_paths:
            dv = snap.adds_raw[rel]["deletionVector"]
            descs.append(
                (
                    os.path.abspath(os.path.join(self.path, rel)),
                    dv,
                    (dv or {}).get("cardinality", 0),
                )
            )
        df = (
            self.spark.read.schema(data_schema)
            .parquet(*[os.path.join(self.path, p) for p in rel_paths])
            .withColumn(
                "__dv_file",
                F.regexp_replace(F.col("_metadata.file_path"), "^file:", ""),
            )
            .withColumn("__dv_ri", F.col("_metadata.row_index"))
        )
        out = drop_dv_rows(
            df,
            "__dv_file",
            "__dv_ri",
            descs,
            lambda d: dv_row_indexes(table_path, d),
        )
        if keep_meta:
            # surviving rows keep (file, row index) for row-id
            # derivation — renamed to the _assemble row-id temps
            return out.withColumnRenamed(
                "__dv_file", "__rt_file"
            ).withColumnRenamed("__dv_ri", "__rt_ri")
        return out.drop("__dv_file", "__dv_ri")


def _checkpoint_add_struct():
    """The `add` column of a checkpoint (classic file and v2 sidecar
    alike). Nullable deletionVector: dropping it would resurrect
    soft-deleted rows; nullable row-tracking fields: dropping them would
    reset every row id at the next log truncation."""
    import pyarrow as pa

    return pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            (
                "deletionVector",
                pa.struct(
                    [
                        ("storageType", pa.string()),
                        ("pathOrInlineDv", pa.string()),
                        ("offset", pa.int32()),
                        ("sizeInBytes", pa.int32()),
                        ("cardinality", pa.int64()),
                    ]
                ),
            ),
            ("baseRowId", pa.int64()),
            ("defaultRowCommitVersion", pa.int64()),
            ("stats", pa.string()),
        ]
    )


class DeltaTableWriter:
    """Append / overwrite / MERGE a Delta table by writing protocol-
    faithful JSON commits — the write-side twin of DeltaTableReader.

    Versions are claimed with a temp-file + hard-link put-if-absent
    (maps to a conditional put on object stores), so concurrent writers conflict cleanly instead of
    clobbering; losers re-derive against the winner's snapshot and
    retry (optimistic concurrency, the Delta commit protocol's shape).

    Partitioned writes follow the Delta convention: data files land
    under hive-style dirs but the partition COLUMNS are dropped from
    the files — values live only in each add's `partitionValues`, which
    is what real Delta readers (and our reader) expect.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: T.StructType | str | None = None,
        partition_by: tuple[str, ...] = (),
        max_commit_retries: int = 5,
        checkpoint_interval: int = 20,
        checkpoint_format: str = "classic",
        sort_by: tuple[str, ...] = (),
        sort_partitions: int | None = None,
        checkpoint_part_actions: int | None = None,
    ):
        if checkpoint_format not in ("classic", "v2"):
            raise ValueError(
                f"checkpoint_format {checkpoint_format!r}: classic or v2"
            )
        if checkpoint_part_actions and checkpoint_format == "v2":
            # refuse loudly (ADVICE r13 #3): v2 checkpoints are a single
            # manifest + sidecars; the multi-part split applies to
            # classic checkpoints only, and silently ignoring the
            # request would hand the user a layout they didn't ask for.
            raise ValueError(
                "checkpoint_part_actions applies to classic checkpoints "
                "only; checkpoint_format='v2' writes a single manifest "
                "(use classic, or drop checkpoint_part_actions)"
            )
        self.spark = spark
        self.path = path
        self.partition_by = list(partition_by)
        self.max_commit_retries = max_commit_retries
        self.checkpoint_interval = checkpoint_interval
        self.checkpoint_format = checkpoint_format
        # multi-part classic checkpoints (VERDICT r12 #6): past this
        # many actions per part, the checkpoint is written as
        # {v}.checkpoint.{i:010d}.{n:010d}.parquet parts + a `parts`
        # field in _last_checkpoint (the PROTOCOL.md shape real writers
        # emit for million-add tables — one driver-built parquet file
        # holding the full add state is the wrong shape at 100 TB).
        # None = single-file (fine at sandbox scale).
        self.checkpoint_part_actions = checkpoint_part_actions
        # write clustering (Delta has no sort-order metadata — the
        # protocol's data skipping works purely off per-file stats, so
        # range-clustering on these columns makes each add's
        # minValues/maxValues disjoint and every conforming reader's
        # stats pruning effective). sort_partitions pins the range
        # shuffle width (= output file count); unpinned, AQE coalesces
        # small batches to one file.
        self.sort_by = tuple(sort_by)
        self.sort_partitions = sort_partitions
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        self.schema = schema
        self.log_dir = os.path.join(path, "_delta_log")
        os.makedirs(self.log_dir, exist_ok=True)

    # -------------------------------------------------------------- commit

    def _latest_version(self) -> int:
        return latest_version(self.log_dir)

    def _add_num_records(self, a: dict) -> int:
        """numRecords for an add action: from its stats JSON, else the
        file's footer (layout.footer, no data pages)."""
        s = a.get("stats")
        if s:
            try:
                parsed = json.loads(s)
                # stats can legally be any JSON; only an object carries
                # numRecords — 'null'/'123' fall through to the footer
                if isinstance(parsed, dict):
                    n = parsed.get("numRecords")
                    if n is not None:
                        return int(n)
            except (ValueError, TypeError):
                pass
        return footer(os.path.join(self.path, a["path"])).rows

    def _row_tracking_patch(
        self, snap: DeltaSnapshot | None, actions: list[dict], version: int
    ) -> list[dict]:
        """PROTOCOL.md "Row Tracking": when the table's protocol
        declares the rowTracking writer feature, every commit must
        assign row ids — each new `add` gets a fresh `baseRowId` range
        strictly above the `delta.rowTracking` domain's
        rowIdHighWaterMark plus `defaultRowCommitVersion` = this
        commit's version, `remove` actions carry the removed add's
        fields, and the domain's watermark advances past every
        assigned id. Adds that already carry a baseRowId (the DV
        merge's same-file re-adds) keep it — that IS the spec's
        preservation rule for unrewritten files."""
        proto = (snap.protocol_raw if snap else None) or {}
        if "rowTracking" not in (proto.get("writerFeatures") or []):
            return actions
        dm = snap.domains.get("delta.rowTracking") or {}
        hwm = None
        try:
            cfg = json.loads(dm.get("configuration") or "")
            hwm = int(cfg["rowIdHighWaterMark"])
        except (ValueError, TypeError, KeyError):
            pass
        if hwm is None:
            # missing/corrupt watermark domain (a prior writer's spec
            # violation, or a table that declared the feature without
            # ever writing): derive the floor from ASSIGNED ranges —
            # starting at 0 would mint row ids that collide with
            # existing files'. Live adds alone are not enough (an
            # OPTIMIZE may have removed the highest-id files), so every
            # surviving JSON commit's add/remove row-tracking fields
            # count too. One full replay + log scan, only in this
            # anomalous case (the probe may have been meta-only);
            # residual risk: ranges known only to cleaned-up commits
            # behind a checkpoint whose files were since removed.
            full = DeltaTableReader(self.spark, self.path).snapshot()
            hwm = -1
            for a in full.adds_raw.values():
                b = a.get("baseRowId")
                if b is not None:
                    hwm = max(
                        hwm, int(b) + max(self._add_num_records(a), 1) - 1
                    )
            for v in _commit_versions(os.listdir(self.log_dir)):
                try:
                    lines = open(
                        _commit_file(self.log_dir, v)
                    ).read().splitlines()
                except OSError:
                    continue
                for line in lines:
                    if '"baseRowId"' not in line:
                        continue
                    try:
                        act = json.loads(line)
                        a = act.get("add") or act.get("remove") or {}
                        b = int(a["baseRowId"])
                    except (ValueError, TypeError, KeyError):
                        continue
                    span = 1
                    if act.get("add"):
                        try:
                            # the file may be vacuumed away by now —
                            # stats parse still works, footer may not
                            span = max(self._add_num_records(a), 1)
                        except Exception:
                            span = 1
                    hwm = max(hwm, b + span - 1)
        assigned = False
        for act in actions:
            if "add" in act:
                a = act["add"]
                if a.get("defaultRowCommitVersion") is None:
                    a["defaultRowCommitVersion"] = version
                if a.get("baseRowId") is None:
                    a["baseRowId"] = hwm + 1
                    hwm += self._add_num_records(a)
                    assigned = True
            elif "remove" in act:
                r = act["remove"]
                prior = snap.adds_raw.get(r.get("path")) or {}
                for k in ("baseRowId", "defaultRowCommitVersion"):
                    if r.get(k) is None and prior.get(k) is not None:
                        r[k] = prior[k]
        if not assigned:
            return actions
        return actions + [
            {
                "domainMetadata": {
                    "domain": "delta.rowTracking",
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": hwm}
                    ),
                    "removed": False,
                }
            }
        ]

    def _commit(
        self,
        version: int,
        actions: list[dict],
        op: str = "WRITE",
        snap: DeltaSnapshot | None = None,
    ) -> None:
        import time as _time
        import uuid

        actions = self._row_tracking_patch(snap, actions, version)
        ci = next((a for a in actions if "commitInfo" in a), None)
        if ci is None:
            # informational, first line by convention: gives history()
            # (ours and real engines') an operation label + timestamp
            ci = {
                "commitInfo": {
                    "timestamp": int(_time.time() * 1000),
                    "operation": op,
                    "engineInfo": "deimos-spark",
                }
            }
            actions = [ci] + actions
        proto = (snap.protocol_raw if snap else None) or {}
        conf = ((snap.meta_raw if snap else None) or {}).get(
            "configuration"
        ) or {}
        if (
            "inCommitTimestamp" in (proto.get("writerFeatures") or [])
            and conf.get("delta.enableInCommitTimestamps") == "true"
        ):
            # spec "In-Commit Timestamps": commitInfo MUST be the
            # first action and carry an inCommitTimestamp STRICTLY
            # greater than the previous commit's — monotonic even
            # against wall-clock skew
            prev = _commit_file(self.log_dir, version - 1)
            if os.path.exists(prev):
                prev_ict = int(_commit_ts(prev))
            else:
                # log cleanup truncated the JSON tail at the checkpoint:
                # recover the watermark from _last_checkpoint's advisory
                # inCommitTimestamp field (stamped by our checkpoint
                # writers) so a backwards wall-clock step can't emit a
                # non-monotonic ICT. Foreign checkpoints without the
                # field fall back to the checkpoint file's own
                # commit-era bound of -1 (wall clock wins).
                try:
                    lc = self._reader()._load_last_checkpoint() or {}
                    prev_ict = int(lc.get("inCommitTimestamp", -1))
                except Exception:
                    prev_ict = -1
            ci["commitInfo"]["inCommitTimestamp"] = max(
                int(_time.time() * 1000), prev_ict + 1
            )
            actions = [ci] + [a for a in actions if a is not ci]
        payload = "\n".join(json.dumps(a) for a in actions) + "\n"
        tmp = os.path.join(self.log_dir, f".tmp_{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        target = _commit_file(self.log_dir, version)
        try:
            os.link(tmp, target)  # atomic put-if-absent
        except FileExistsError as e:
            raise DeltaCommitConflict(f"version {version} already committed") from e
        finally:
            os.unlink(tmp)
        self._maybe_checkpoint(version)

    # ----------------------------------------------------- checkpoint emit

    def _maybe_checkpoint(self, version: int) -> None:
        """Every `checkpoint_interval` commits, materialize the live
        action state as `{v:020d}.checkpoint.parquet` + `_last_checkpoint`
        (the reader's replay-cost bound — without this, a
        streaming sink producing 10k micro-batch commits makes every
        reader replay 10k JSON files). Best-effort: a failed checkpoint
        leaves the log correct and the next interval retries."""
        if self.checkpoint_interval <= 0 or version <= 0:
            return
        if version % self.checkpoint_interval != 0:
            return
        try:
            self._write_checkpoint(version)
        except Exception:
            pass

    def _json_ict(self, version: int) -> int | None:
        """The exact commitInfo.inCommitTimestamp recorded in
        {version}.json, or None (file missing / table not ICT-enabled).
        Stamped into _last_checkpoint as an advisory field so the ICT
        monotonicity watermark survives log cleanup truncating the JSON
        commits at the checkpoint (readers ignore unknown
        _last_checkpoint keys)."""
        ict = _commit_info(
            _commit_file(self.log_dir, version)
        ).get("inCommitTimestamp")
        return int(ict) if ict is not None else None

    def _write_checkpoint(self, version: int) -> None:
        if self.checkpoint_format == "v2":
            return self._write_checkpoint_v2(version)
        return self._write_checkpoint_classic(version)

    def _checkpoint_add_rows(self, snap: DeltaSnapshot) -> list[dict]:
        """One checkpoint `add` row per live file, in path order. Stats
        carry forward from the JSON commit's add, else are re-derived
        from the parquet footer (the reader's checkpoint load drops
        stats driver-side, so a re-checkpoint would otherwise lose
        them)."""
        rows = []
        for p in sorted(snap.files):
            a = snap.adds_raw.get(p) or {}
            full = os.path.join(self.path, p)
            rows.append(
                {
                    "add": {
                        "path": p,
                        "partitionValues": snap.files[p],
                        "size": a.get("size")
                        or (
                            os.path.getsize(full)
                            if os.path.exists(full)
                            else 0
                        ),
                        "modificationTime": a.get("modificationTime") or 0,
                        "dataChange": bool(a.get("dataChange", True)),
                        "deletionVector": a.get("deletionVector"),
                        "baseRowId": a.get("baseRowId"),
                        "defaultRowCommitVersion": a.get(
                            "defaultRowCommitVersion"
                        ),
                        "stats": a.get("stats")
                        or (
                            self._file_stats(full)
                            if os.path.exists(full)
                            else None
                        ),
                    }
                }
            )
        return rows

    def _write_checkpoint_v2(self, version: int) -> None:
        """V2 checkpoint (PROTOCOL.md "V2 Checkpoints"): the write twin
        of _load_checkpoint_v2 — a `{v}.checkpoint.{uuid}.json` manifest
        holding checkpointMetadata + protocol + metaData + one `sidecar`
        action, with the add-file state in a parquet sidecar under
        `_delta_log/_sidecars/`. Readers without the v2Checkpoint
        feature must not read the table at all, which is why
        checkpoint_format="v2" declares the feature in the FIRST
        commit's protocol; attaching to a table whose protocol lacks it
        refuses here rather than emit a checkpoint real readers would
        mis-handle."""
        import time as _time
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as papq

        snap = DeltaTableReader(self.spark, self.path).snapshot(version)
        if snap.meta_raw is None:
            return
        feats = (snap.protocol_raw or {}).get("writerFeatures") or []
        if "v2Checkpoint" not in feats:
            raise DeltaProtocolError(
                "v2 checkpoint requested but the table's protocol does "
                "not declare the v2Checkpoint feature"
            )
        add_schema = pa.schema([("add", _checkpoint_add_struct())])
        rows = self._checkpoint_add_rows(snap)
        sdir = os.path.join(self.log_dir, "_sidecars")
        os.makedirs(sdir, exist_ok=True)
        sc_name = f"{uuid.uuid4()}.parquet"
        tmp = os.path.join(sdir, f".sc_{uuid.uuid4().hex}.parquet")
        papq.write_table(
            pa.Table.from_pylist(rows, schema=add_schema), tmp
        )
        os.replace(tmp, os.path.join(sdir, sc_name))
        manifest = [
            {"checkpointMetadata": {"version": version}},
            {"protocol": snap.protocol_raw},
            {"metaData": snap.meta_raw},
            # latest txn per appId lives in the manifest (non-file
            # actions) — spec-required so idempotency survives log
            # truncation at the checkpoint
            *(
                {
                    "txn": {
                        "appId": a,
                        "version": snap.txns[a],
                        "lastUpdated": None,
                    }
                }
                for a in sorted(snap.txns)
            ),
            # latest domainMetadata per domain, removed tombstones
            # included (spec checkpoint reconciliation) — dropping
            # delta.rowTracking here would reset the row-id watermark
            *(
                {"domainMetadata": snap.domains[d]}
                for d in sorted(snap.domains)
            ),
            {
                "sidecar": {
                    "path": sc_name,
                    "sizeInBytes": os.path.getsize(
                        os.path.join(sdir, sc_name)
                    ),
                    "modificationTime": int(_time.time() * 1000),
                }
            },
        ]
        mtmp = os.path.join(self.log_dir, f".m_{uuid.uuid4().hex}.json")
        with open(mtmp, "w") as fh:
            for a in manifest:
                fh.write(json.dumps(a) + "\n")
            fh.flush()
            os.fsync(fh.fileno())
        mname = f"{version:020d}.checkpoint.{uuid.uuid4()}.json"
        os.replace(mtmp, os.path.join(self.log_dir, mname))
        lc_tmp = os.path.join(self.log_dir, f".lc_{uuid.uuid4().hex}.json")
        with open(lc_tmp, "w") as fh:
            # v2Manifest is an extra advisory key (readers ignore unknown
            # _last_checkpoint fields): the UUID manifest name is not
            # constructible from the version alone, so without it every
            # snapshot after a v2 checkpoint would pay the listing slow
            # path the fast path exists to avoid
            lc = {
                "version": version,
                "size": len(manifest),
                "v2Manifest": mname,
            }
            ict = self._json_ict(version)
            if ict is not None:
                lc["inCommitTimestamp"] = ict
            json.dump(lc, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(lc_tmp, os.path.join(self.log_dir, "_last_checkpoint"))

    def _write_checkpoint_classic(self, version: int) -> None:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as papq

        snap = DeltaTableReader(self.spark, self.path).snapshot(version)
        if snap.meta_raw is None:
            return  # no metaData yet — nothing worth checkpointing
        mapss = pa.map_(pa.string(), pa.string())
        pa_schema = pa.schema(
            [
                (
                    "protocol",
                    pa.struct(
                        [
                            ("minReaderVersion", pa.int32()),
                            ("minWriterVersion", pa.int32()),
                            ("readerFeatures", pa.list_(pa.string())),
                            ("writerFeatures", pa.list_(pa.string())),
                        ]
                    ),
                ),
                (
                    "metaData",
                    pa.struct(
                        [
                            ("id", pa.string()),
                            (
                                "format",
                                pa.struct(
                                    [
                                        ("provider", pa.string()),
                                        ("options", mapss),
                                    ]
                                ),
                            ),
                            ("schemaString", pa.string()),
                            ("partitionColumns", pa.list_(pa.string())),
                            ("configuration", mapss),
                            ("createdTime", pa.int64()),
                        ]
                    ),
                ),
                # spec: a checkpoint must carry the latest txn action
                # per appId — dropping them would reset every streaming
                # sink's idempotency watermark at the next checkpoint
                (
                    "txn",
                    pa.struct(
                        [
                            ("appId", pa.string()),
                            ("version", pa.int64()),
                            ("lastUpdated", pa.int64()),
                        ]
                    ),
                ),
                # spec "Domain Metadata": a checkpoint carries the
                # latest action per domain (removed tombstones too) —
                # dropping delta.rowTracking would reset the row-id
                # high watermark at the next log truncation
                (
                    "domainMetadata",
                    pa.struct(
                        [
                            ("domain", pa.string()),
                            ("configuration", pa.string()),
                            ("removed", pa.bool_()),
                        ]
                    ),
                ),
                ("add", _checkpoint_add_struct()),
            ]
        )
        meta = snap.meta_raw
        proto = dict(
            snap.protocol_raw or {"minReaderVersion": 1, "minWriterVersion": 2}
        )
        rows: list[dict] = [
            {
                "protocol": {
                    "minReaderVersion": proto.get("minReaderVersion", 1),
                    "minWriterVersion": proto.get("minWriterVersion", 2),
                    "readerFeatures": proto.get("readerFeatures"),
                    "writerFeatures": proto.get("writerFeatures"),
                }
            },
            {
                "metaData": {
                    "id": meta.get("id"),
                    "format": {
                        "provider": (meta.get("format") or {}).get(
                            "provider", "parquet"
                        ),
                        "options": (meta.get("format") or {}).get("options")
                        or {},
                    },
                    "schemaString": meta.get("schemaString"),
                    "partitionColumns": list(
                        meta.get("partitionColumns") or []
                    ),
                    "configuration": meta.get("configuration") or {},
                    "createdTime": meta.get("createdTime"),
                }
            },
        ]
        for app_id in sorted(snap.txns):
            rows.append(
                {
                    "txn": {
                        "appId": app_id,
                        "version": snap.txns[app_id],
                        "lastUpdated": None,
                    }
                }
            )
        rows += self._checkpoint_add_rows(snap)
        for d in sorted(snap.domains):
            dm = snap.domains[d]
            rows.append(
                {
                    "domainMetadata": {
                        "domain": dm.get("domain"),
                        "configuration": dm.get("configuration"),
                        "removed": bool(dm.get("removed", False)),
                    }
                }
            )
        per_part = self.checkpoint_part_actions
        if per_part and len(rows) > per_part:
            # multi-part checkpoint (PROTOCOL.md): actions split across
            # {v}.checkpoint.{i:010d}.{n:010d}.parquet; protocol/metaData
            # land exactly once (part 1, where this writer's chunking
            # puts the leading non-add actions). ALL temps are written
            # and fsync'd BEFORE any final name appears, and the pointer
            # is only updated after every part is in place — a crash
            # mid-rename leaves an incomplete set that readers reject
            # (part-count mismatch) and fall back past.
            chunks = [
                rows[i : i + per_part]
                for i in range(0, len(rows), per_part)
            ]
            n_parts = len(chunks)
            tmps = []
            for chunk in chunks:
                tmp = os.path.join(
                    self.log_dir, f".ckpt_{uuid.uuid4().hex}.parquet"
                )
                papq.write_table(
                    pa.Table.from_pylist(chunk, schema=pa_schema), tmp
                )
                with open(tmp, "rb") as fh:
                    os.fsync(fh.fileno())
                tmps.append(tmp)
            for i, tmp in enumerate(tmps, start=1):
                os.replace(
                    tmp,
                    os.path.join(
                        self.log_dir,
                        f"{version:020d}.checkpoint."
                        f"{i:010d}.{n_parts:010d}.parquet",
                    ),
                )
            # fsync the log dir so the renames themselves are durable
            # before the pointer names this part set (ADVICE r13 #1 —
            # the part temps are fsync'd above; without this dirsync a
            # crash could lose a rename while the pointer survives).
            dfd = os.open(self.log_dir, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        else:
            n_parts = None
            table = pa.Table.from_pylist(rows, schema=pa_schema)
            tmp = os.path.join(
                self.log_dir, f".ckpt_{uuid.uuid4().hex}.parquet"
            )
            papq.write_table(table, tmp)
            os.replace(
                tmp,
                os.path.join(
                    self.log_dir, f"{version:020d}.checkpoint.parquet"
                ),
            )
        lc_tmp = os.path.join(self.log_dir, f".lc_{uuid.uuid4().hex}.json")
        with open(lc_tmp, "w") as fh:
            lc = {"version": version, "size": len(rows)}
            if n_parts is not None:
                lc["parts"] = n_parts
            ict = self._json_ict(version)
            if ict is not None:
                lc["inCommitTimestamp"] = ict
            json.dump(lc, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(lc_tmp, os.path.join(self.log_dir, "_last_checkpoint"))

    def _meta_actions(self, schema: T.StructType) -> list[dict]:
        import time as _time
        import uuid

        # reader-writer TABLE FEATURES the birth protocol must declare
        # (PROTOCOL.md "Table Features"): v2 checkpoints by writer
        # option, variantType whenever the schema carries a variant
        # column (readers that can't decode the parquet variant
        # encoding must be able to refuse by feature name)
        rw_feats = []
        if self.checkpoint_format == "v2":
            rw_feats.append("v2Checkpoint")
        if _schema_has_variant(schema):
            rw_feats.append("variantType")
        if rw_feats:
            proto = {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(rw_feats),
                    "writerFeatures": sorted(rw_feats),
                }
            }
        else:
            proto = {
                "protocol": {"minReaderVersion": 1, "minWriterVersion": 2}
            }
        return [
            proto,
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema.jsonValue()),
                    "partitionColumns": self.partition_by,
                    "configuration": {},
                    "createdTime": int(_time.time() * 1000),
                }
            },
        ]

    # --------------------------------------------------------- data files

    @staticmethod
    def _column_map(
        snap: DeltaSnapshot | None,
    ) -> dict[str, tuple[str, int | None]] | None:
        """logical name → (physicalName, field id) for column-mapped
        tables; None when the table has no mapping. What the write
        path uses to land files other mapped-table readers resolve."""
        if snap is None or (snap.column_mapping or "none") == "none":
            return None
        if snap.schema is None:
            raise DeltaProtocolError(
                "column-mapped table without a schema in the log"
            )
        return DeltaTableWriter._column_map_of(
            snap.schema, snap.column_mapping
        )

    @staticmethod
    def _column_map_of(
        schema: T.StructType, mode: str
    ) -> dict[str, tuple[str, int | None]]:
        out: dict[str, tuple[str, int | None]] = {}
        for f in schema.fields:
            fid = (f.metadata or {}).get("delta.columnMapping.id")
            out[f.name] = (
                _physical_name(f, mode),
                int(fid) if fid is not None else None,
            )
        return out

    @staticmethod
    def _to_physical(df: DataFrame, cmap: dict) -> DataFrame:
        """Rename logical batch columns to their physical names and
        attach `parquet.field.id` metadata (PROTOCOL.md Column
        Mapping: data files carry physical names; id-mode readers
        resolve by field id). Columns outside the table schema
        (e.g. `_change_type` in cdc files) pass through untouched."""
        cols = []
        for f in df.schema.fields:
            phys, fid = cmap.get(f.name, (f.name, None))
            if fid is not None:
                cols.append(
                    F.col(f.name).alias(
                        phys, metadata={"parquet.field.id": fid}
                    )
                )
            else:
                cols.append(F.col(f.name).alias(phys))
        df.sparkSession.conf.set(
            "spark.sql.parquet.fieldId.write.enabled", "true"
        )
        return df.select(*cols)

    def _stage_files(
        self, df: DataFrame, cmap: dict | None = None, cdc: bool = False
    ) -> list[tuple[str, dict, Footer | None]]:
        """Write df as parquet and move the files into the table through
        the file layer's staging walk (layout.stage), Delta layout:
        partition columns stripped from the files, their values returned
        per file as (table-relative path, partitionValues, footer). Data
        files land under hive-style partition dirs and zero-row data
        files are dropped; change data files (`cdc`) all land in
        `_change_data/`, empty or not. `cmap` (column-mapped tables)
        lands PHYSICAL column names + field ids in the files and keys
        partitionValues on physical names — both spec requirements for
        mapped tables. "" and null partition values stay distinct, as
        the protocol's partitionValues require."""
        pcols = list(self.partition_by)
        if cmap:
            df = self._to_physical(df, cmap)
            pcols = [cmap.get(c, (c, None))[0] for c in pcols]
        return stage(
            df,
            self.path,
            pcols,
            (lambda d, _: "_change_data") if cdc else (lambda d, _: d),
            prefix="cdc-" if cdc else "part-",
            keep_empty=cdc,
        )

    def _write_files(
        self, df: DataFrame, cmap: dict | None = None,
        pre_arranged: bool = False,
    ) -> list[dict]:
        """Write df as data files (see _stage_files) and return their add
        actions; an empty batch commits no add. `pre_arranged`: the
        caller already partitioned+sorted the rows (OPTIMIZE ZORDER) —
        re-sorting on sort_by here would destroy that arrangement."""
        import time as _time

        if self.sort_by and not pre_arranged:
            # sort on LOGICAL names, before any mapping rename
            missing = [
                c for c in self.sort_by if c not in df.columns
            ]
            if missing:
                raise DeltaProtocolError(
                    f"sort_by columns {missing} not in batch schema"
                )
            df = arrange(df, self.sort_by, self.sort_partitions)
        return [
            self._add_action(rel, pvals, _time, foot)
            for rel, pvals, foot in self._stage_files(df, cmap)
        ]

    def _add_action(
        self, rel: str, pvals: dict, _time, foot: Footer | None = None
    ) -> dict:
        full = os.path.join(self.path, rel)
        add = {
            "path": rel.replace(os.sep, "/"),
            "partitionValues": pvals,
            "size": os.path.getsize(full),
            "modificationTime": int(_time.time() * 1000),
            "dataChange": True,
        }
        stats = self._file_stats(full, foot)
        if stats is not None:
            add["stats"] = stats
        return {"add": add}

    def _write_cdc_files(
        self, df: DataFrame, cmap: dict | None = None
    ) -> list[dict]:
        """Write change rows (table columns + `_change_type`) as Change
        Data Files (PROTOCOL.md) under `_change_data/`, partition values
        recorded in each `cdc` action — the same layout rule as data
        files (see _stage_files), so `read_changes` re-attaches them
        identically. cdc actions carry dataChange=false: they describe a
        commit's changes, they are not part of the table's live state.
        `_change_type` passes through column mapping untouched."""
        return [
            {
                "cdc": {
                    "path": rel.replace(os.sep, "/"),
                    "partitionValues": pvals,
                    "size": os.path.getsize(os.path.join(self.path, rel)),
                    "dataChange": False,
                }
            }
            for rel, pvals, _ in self._stage_files(df, cmap, cdc=True)
        ]

    @staticmethod
    def _file_stats(full: str, foot: Footer | None = None) -> str | None:
        """Per-file stats JSON (PROTOCOL.md "Per-file Statistics"):
        numRecords + minValues/maxValues/nullCount rendered from the
        parquet FOOTER (layout.footer, read here unless `foot` already
        holds it — no data read). This is what lets any conforming
        reader data-skip our tables. Conservative by omission, under the
        file layer's rules: columns whose bounds are absent or rejected
        in ANY row group, nested or of a type we don't render (binary,
        timestamps, float/double), or strings over 32 chars get no
        bounds; nullCount only appears for columns where EVERY row group
        reported a null_count. None when the footer is unreadable."""
        if foot is None:
            try:
                foot = footer(full)
            except Exception:
                return None
        out: dict = {"numRecords": foot.rows}
        if foot.bounds:
            out["minValues"] = {k: lo for k, (lo, _) in foot.bounds.items()}
            out["maxValues"] = {k: hi for k, (_, hi) in foot.bounds.items()}
        if foot.nulls:
            out["nullCount"] = foot.nulls
        return json.dumps(out)

    def _written(self, actions: list[dict]) -> list[str]:
        """The files that freshly written add/cdc actions name."""
        return [
            os.path.join(self.path, (a.get("add") or a["cdc"])["path"])
            for a in actions
        ]

    def _commit_loop(self, attempt, op: str = "WRITE") -> None:
        """The one optimistic-commit loop (the Delta commit protocol's
        shape): read the latest version `v`, let `attempt(v)` derive its
        commit against it — `(actions, written_paths, snap)`, or None
        when there is nothing to commit — and claim `v+1`. A lost race
        unlinks every file the attempt wrote (data, cdc, DV) and
        re-derives against the winner's snapshot."""
        for _ in range(self.max_commit_retries):
            v = self._latest_version()
            out = attempt(v)
            if out is None:
                return
            actions, written, snap = out
            try:
                self._commit(v + 1, actions, op=op, snap=snap)
                return
            except DeltaCommitConflict:
                unlink_quietly(written)
        raise DeltaCommitConflict(
            f"could not commit after {self.max_commit_retries} tries"
        )

    # ----------------------------------------------------------- write API

    def _reader(self) -> DeltaTableReader:
        return DeltaTableReader(self.spark, self.path)

    def append(
        self,
        df: DataFrame,
        txn: tuple[str, int] | None = None,
        merge_schema: bool = False,
    ) -> None:
        """`txn=(app_id, version)` makes the append IDEMPOTENT via the
        protocol's transaction identifier (PROTOCOL.md "Transaction
        Identifiers"): the commit records a `txn` action, and a replay
        of an (app_id, version) at or below the table's recorded
        watermark is a silent no-op — exactly-once sink semantics for
        foreachBatch micro-batches whose batch id is the version.

        Schema enforcement (the protocol's write contract): type
        conflicts and new columns refuse; `merge_schema=True` evolves
        the table instead (new fields appended nullable, committed as
        an updated metaData action)."""

        def attempt(v):
            probe = None
            meta_update: list[dict] = []
            if v >= 0:
                # spec-required writer gate: a meta-only probe (no add
                # materialization) — refuse foreign tables whose writer
                # protocol/active features we don't implement, BEFORE
                # paying for the data-file write
                probe = self._reader().snapshot(_meta_only=True)
                check_writer_protocol(probe, "append")
                if txn is not None and _txn_already_applied(probe, txn):
                    return None
                meta_update = check_write_schema(
                    probe, df.schema, merge_schema
                )
            cmap = self._column_map(probe)
            if cmap is not None and meta_update:
                # mapped evolution: the NEW fields' physical names live
                # only in the updated metaData — map from it
                cmap = self._column_map_of(
                    T.StructType.fromJson(
                        json.loads(
                            meta_update[0]["metaData"]["schemaString"]
                        )
                    ),
                    probe.column_mapping,
                )
            adds = self._write_files(df, cmap)
            actions = (
                self._meta_actions(df.schema) if v < 0 else meta_update
            ) + adds
            if txn is not None:
                actions = [_txn_action(txn)] + actions
            return actions, self._written(adds), probe

        self._commit_loop(attempt)

    def _rt_rewrite(
        self, snap: DeltaSnapshot | None
    ) -> tuple[str, str, dict | None] | None:
        """Row-tracking rewrite support (PROTOCOL.md "Row Tracking"):
        when the table ENABLES row tracking (stability promised), a
        writer that copies rows into new files must materialize their
        preserved row ids / commit versions into the configured
        physical columns. Returns (mat_id_col, mat_cv_col,
        metaData_action_to_commit_or_None) — names minted and recorded
        in the table configuration if the enabling writer never set
        them — or None when the table does not enable row tracking
        (fresh ids are legal, nothing to materialize)."""
        if snap is None:
            return None
        conf = (snap.meta_raw or {}).get("configuration") or {}
        proto = snap.protocol_raw or {}
        if not (
            conf.get("delta.enableRowTracking") == "true"
            and "rowTracking" in (proto.get("writerFeatures") or [])
        ):
            return None
        mat_id, mat_cv = rt_materialized_cols(snap.meta_raw)
        if mat_id and mat_cv:
            return mat_id, mat_cv, None
        import uuid as _uuid

        uid = _uuid.uuid4().hex
        mat_id = mat_id or f"_row-id-col-{uid}"
        mat_cv = mat_cv or f"_row-commit-version-col-{uid}"
        meta = dict(snap.meta_raw or {})
        meta["configuration"] = {
            **conf,
            "delta.rowTracking.materializedRowIdColumnName": mat_id,
            "delta.rowTracking.materializedRowCommitVersionColumnName": mat_cv,
        }
        return mat_id, mat_cv, {"metaData": meta}

    def optimize(
        self,
        zorder_by: "Sequence[str]" = (),
        curve: str = "z",
        n_files: int | None = None,
    ) -> None:
        """Compact the table: rewrite the current live rows as fresh
        files and drop every old add — including DV-carrying ones, so
        accumulated soft deletes become physical (the protocol's
        OPTIMIZE shape: `dataChange: false`, the logical content is
        unchanged and downstream streams must not re-emit it). Run this
        periodically on DV-merged tables; without it, heavily-deleted
        files keep paying their DV anti-join forever.

        `zorder_by` = OPTIMIZE ZORDER BY (Delta's own maintenance verb):
        the rewrite is arranged along a space-filling curve over those
        columns (`curve`: "z" Morton / "hilbert" — layout.cluster_arrange)
        so every fresh file covers a small hyper-rectangle of the key
        space; the per-file min/max stats recorded in the add actions
        then prune files for predicates on ANY clustered column (the
        reader's stats_filter / DataFrame-filter skipping), where
        sort_by's linear order only prunes on its leading column. It
        overrides the writer's sort_by for this rewrite, exactly like
        the real OPTIMIZE ZORDER."""

        def attempt(v):
            if v < 0:
                return None
            reader = self._reader()
            snap = reader.snapshot(v)
            check_writer_protocol(snap, "optimize")
            if not snap.files:
                return None
            rt = self._rt_rewrite(snap)
            meta_up: list[dict] = []
            if rt is None:
                current = reader._assemble(snap)
            else:
                # OPTIMIZE copies rows unmodified: preserve BOTH the
                # row id and the row commit version by materializing
                # them into the configured physical columns
                mat_id, mat_cv, meta_action = rt
                current = (
                    reader._assemble(snap, with_row_ids=True)
                    .withColumnRenamed("__rt_row_id", mat_id)
                    .withColumnRenamed("__rt_rcv", mat_cv)
                )
                if meta_action is not None:
                    meta_up = [meta_action]
            removes = [
                {"remove": {"path": p, "dataChange": False}}
                for p in sorted(snap.files)
            ]
            if zorder_by:
                from deimos_spark.operators import layout

                current = layout.cluster_arrange_or_linear(
                    current, list(zorder_by), n_files=n_files, curve=curve
                )
            adds = self._write_files(
                current,
                self._column_map(snap),
                pre_arranged=bool(zorder_by),
            )
            for a in adds:
                a["add"]["dataChange"] = False
            return meta_up + removes + adds, self._written(adds), snap

        self._commit_loop(attempt, op="OPTIMIZE")

    def vacuum(
        self, keep_versions: int = 0, retention_seconds: float = 3600.0
    ) -> list[str]:
        """Delete data/DV files no snapshot within the retention window
        references; returns the deleted paths. `keep_versions` retains
        the file sets of that many historical versions (0 = only the
        current snapshot survives — time travel past that is gone,
        exactly the documented Delta VACUUM trade-off).

        Files younger than `retention_seconds` are kept even when
        unreferenced: `_write_files`/`write_dv_file` move files into
        their final table location BEFORE the commit attempt, so a
        vacuum racing an in-flight append/merge (or a commit-conflict
        retry window) would otherwise delete files the writer's
        about-to-succeed commit references — silent data loss. This is
        the same rationale as real Delta's time-based retention window
        (default 7 days there; 1 hour here, sized for test tables —
        pass 0.0 only when no concurrent writer can exist)."""
        import time as _time

        reader = self._reader()
        latest = self._latest_version()
        if latest < 0:
            return []
        # the vacuumProtocolCheck contract: BEFORE deleting anything,
        # verify we understand every writer feature that could be
        # tracking files in ways this vacuum doesn't know about —
        # refusing beats silently deleting a live file
        check_writer_protocol(
            reader.snapshot(_meta_only=True), "vacuum"
        )
        keep: set[str] = set()
        lo = max(0, latest - keep_versions)
        for v in range(lo, latest + 1):
            try:
                snap = reader.snapshot(v)
            except DeltaProtocolError:
                continue
            for rel, a in snap.adds_raw.items():
                keep.add(os.path.abspath(os.path.join(self.path, rel)))
                desc = (a or {}).get("deletionVector")
                if desc and desc.get("storageType") in ("u", "p"):
                    from .deltadv import _dv_file_path

                    keep.add(
                        os.path.abspath(_dv_file_path(self.path, desc)[0])
                    )
            # change data files of kept versions stay readable via
            # read_changes; older ones age out with retention, the
            # documented CDF-vacuum trade-off
            try:
                with open(_commit_file(self.log_dir, v)) as fh:
                    for line in fh:
                        if '"cdc"' not in line:
                            continue
                        a = json.loads(line)
                        if a.get("cdc"):
                            keep.add(
                                os.path.abspath(
                                    os.path.join(
                                        self.path, a["cdc"]["path"]
                                    )
                                )
                            )
            except (OSError, ValueError):
                pass
        deleted = []
        cutoff = _time.time() - retention_seconds
        for dirpath, _, names in os.walk(self.path):
            if "_delta_log" in dirpath or ".staging" in dirpath:
                continue
            for n in names:
                if not (
                    n.endswith(".parquet") or n.startswith("deletion_vector_")
                ):
                    continue
                ap = os.path.abspath(os.path.join(dirpath, n))
                if ap in keep:
                    continue
                try:
                    if os.path.getmtime(ap) > cutoff:
                        continue  # young: possibly an in-flight writer's
                    os.unlink(ap)
                    deleted.append(ap)
                except OSError:
                    pass
        return deleted

    def cleanup_log(self, retention_seconds: float = 3600.0) -> list[str]:
        """Metadata retention (the log half of vacuum; delta-spark's
        metadata cleanup): delete JSON commits and SUPERSEDED checkpoint
        sets at versions ≤ the newest checkpoint, keeping the newest
        checkpoint itself — readers reconstruct every retained state
        from it, and `_latest_version` counts checkpoint names, so
        writers keep claiming correct versions (the fork-at-v0 bug the
        truncation regression test pins). Files younger than
        `retention_seconds` survive (same racing-writer rationale as
        vacuum). Returns deleted paths.

        Trade-offs are the documented Delta ones: time travel, history()
        and read_changes below the checkpoint version stop working.
        v2-checkpoint sidecars referenced by the KEPT manifest survive;
        older sidecar files age out with their manifests."""
        import time as _time

        lc = self._reader()._load_last_checkpoint()
        cv = (lc or {}).get("version")
        if not isinstance(cv, int):
            return []  # no checkpoint: every commit is load-bearing
        cutoff = _time.time() - retention_seconds
        deleted: list[str] = []

        def _rm(p: str) -> None:
            try:
                if os.path.getmtime(p) > cutoff:
                    return
                os.unlink(p)
                deleted.append(p)
            except OSError:
                pass

        names = sorted(os.listdir(self.log_dir))
        for v in _commit_versions(names):
            if v <= cv:
                _rm(_commit_file(self.log_dir, v))
        for n in names:
            # superseded checkpoint sets only — never the newest
            cpv = _checkpoint_version(n)
            if cpv is not None and cpv < cv:
                _rm(os.path.join(self.log_dir, n))
        # sidecars referenced by ANY surviving v2 manifest stay —
        # including manifests newer than the pointer (a pointer-update
        # race must not orphan a valid checkpoint's add state)
        keep_sidecars: set[str] = set()
        for n in os.listdir(self.log_dir):
            if ".checkpoint." not in n or not n.endswith(".json"):
                continue
            try:
                with open(os.path.join(self.log_dir, n)) as fh:
                    for line in fh:
                        if '"sidecar"' in line:
                            a = json.loads(line)
                            if a.get("sidecar", {}).get("path"):
                                keep_sidecars.add(a["sidecar"]["path"])
            except (OSError, ValueError):
                return deleted  # unreadable manifest: keep all sidecars
        sdir = os.path.join(self.log_dir, "_sidecars")
        if os.path.isdir(sdir):
            for n in sorted(os.listdir(sdir)):
                if n not in keep_sidecars and n.endswith(".parquet"):
                    p = os.path.join(sdir, n)
                    try:
                        if os.path.getmtime(p) <= cutoff:
                            os.unlink(p)
                            deleted.append(p)
                    except OSError:
                        pass
        return deleted

    def overwrite(
        self, df: DataFrame, overwrite_schema: bool = False
    ) -> None:
        """Schema enforcement applies here too: a drifted overwrite
        refuses unless `overwrite_schema=True` commits the replacement
        schema as an updated metaData action (legal on overwrite — the
        old files are all removed in the same commit)."""

        def attempt(v):
            removes = []
            meta_update: list[dict] = []
            snap = None
            if v >= 0:
                snap = self._reader().snapshot(v)
                check_writer_protocol(snap, "overwrite")
                if (
                    (snap.meta_raw or {}).get("configuration") or {}
                ).get("delta.enableChangeDataFeed") == "true":
                    # CDF tables require cdc files on every remove-
                    # carrying commit; this plain writer doesn't emit
                    # them (DeltaKeyedTable does) — refusing beats
                    # breaking the table's change readers
                    raise DeltaProtocolError(
                        "overwrite of a changeDataFeed-enabled table "
                        "needs CDC files — use DeltaKeyedTable"
                    )
                if overwrite_schema:
                    if snap.schema is not None and (
                        snap.schema != df.schema
                    ):
                        if (snap.column_mapping or "none") != "none":
                            raise DeltaProtocolError(
                                "schema replacement on a column-mapped "
                                "table unsupported, refusing"
                            )
                        meta = dict(snap.meta_raw or {})
                        meta["schemaString"] = json.dumps(
                            df.schema.jsonValue()
                        )
                        meta_update = [{"metaData": meta}]
                else:
                    meta_update = check_write_schema(
                        snap, df.schema, merge_schema=False
                    )
                removes = [
                    {"remove": {"path": p, "dataChange": True}}
                    for p in sorted(snap.files)
                ]
            adds = self._write_files(df, self._column_map(snap))
            actions = (
                (self._meta_actions(df.schema) if v < 0 else [])
                + meta_update
                + removes
                + adds
            )
            return actions, self._written(adds), snap

        self._commit_loop(attempt)


def convert_parquet_dir(
    spark: SparkSession,
    path: str,
    partition_by: tuple[str, ...] = (),
) -> int:
    """CONVERT TO DELTA, in place: write a version-0 _delta_log whose
    add actions REFERENCE the directory's existing parquet files — no
    data rewrite, the migration path Delta ships as `CONVERT TO
    DELTA` (PROTOCOL.md: a table is just a log whose adds point at
    files). Hive-style `key=value` layouts convert with
    `partition_by` naming the directory keys, matching the Delta
    convention the writer already follows (values live in each add's
    partitionValues; the files don't contain the columns). Each add
    carries footer-derived stats (numRecords + column bounds), so
    data skipping works on the converted table immediately.

    Refuses loudly when: the directory already has a Delta log (a
    second convert would fork history), the layout has non-hive
    subdirectories, or the dir keys don't match `partition_by`.
    Returns the number of files converted; the result is an ordinary
    table — DeltaTableReader reads it and DeltaTableWriter appends
    version 1+ on top.

    Directory segments decode by the file layer's one rule
    (layout.hive_value: hive %-escapes undone). One inherent loss: an
    EMPTY-STRING value converts to null, because Spark's hive layout
    writes "" and null to the same `__HIVE_DEFAULT_PARTITION__`
    directory — the source directory itself already conflated them
    (our own writer avoids this with a sentinel, layout.stage; a plain
    parquet writer did not)."""
    import time as _time

    log_dir = os.path.join(path, "_delta_log")
    if os.path.isdir(log_dir) and any(
        n.endswith(".json") or ".checkpoint" in n
        for n in os.listdir(log_dir)
    ):
        raise DeltaProtocolError(
            f"{path} already has a Delta log — converting again would "
            f"fork the table's history"
        )
    pset = set(partition_by)
    files: list[tuple[str, dict]] = []
    for root, dirs, fs in os.walk(path):
        dirs[:] = [
            d
            for d in dirs
            if d != "_delta_log" and not d.startswith(".")
        ]
        for f in sorted(fs):
            if not f.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(root, f), path)
            segs = [
                s for s in os.path.dirname(rel).split(os.sep) if s
            ]
            bad = [s for s in segs if "=" not in s]
            if bad:
                raise DeltaProtocolError(
                    f"{rel}: non-hive subdirectory {bad[0]!r} — only "
                    f"key=value partition layouts convert in place"
                )
            pvals: dict = {}
            for s in segs:
                k, v = s.split("=", 1)
                pvals[k] = hive_value(v)
            if set(pvals) != pset:
                raise DeltaProtocolError(
                    f"{rel}: directory keys {sorted(pvals)} != "
                    f"partition_by {sorted(pset)}"
                )
            files.append((rel, pvals))
    if not files:
        raise DeltaProtocolError(f"{path}: no parquet files to convert")
    # full logical schema: Spark's scan infers partition columns and
    # their types from the hive directories
    schema = spark.read.parquet(path).schema
    writer = DeltaTableWriter(
        spark, path, partition_by=tuple(partition_by)
    )
    adds = [
        writer._add_action(rel, pvals, _time)
        for rel, pvals in sorted(files)
    ]
    writer._commit(0, writer._meta_actions(schema) + adds, op="CONVERT")
    return len(adds)


class DeltaKeyedTable:
    """MERGE semantics over a real Delta table layout — the default
    keyed sink of `Engine.table`/`Engine.consumer` and the store behind
    `OutboxTable`: upsert/delete by key as ONE atomic commit of remove+add
    actions, optimistic retry on conflict, snapshot-isolated readers."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols,
        schema: T.StructType | str | None = None,
        max_commit_retries: int = 5,
        checkpoint_interval: int = 20,
        use_dvs: bool = False,
        partition_by: tuple[str, ...] = (),
        enable_cdf: bool = False,
    ):
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        # use_dvs: soft-delete via deletion vectors (protocol v3) instead
        # of rewriting survivor files — merge cost becomes O(batch), not
        # O(table). Readers need DV support (ours, and any real engine).
        self.use_dvs = use_dvs
        # enable_cdf: merges write Change Data Files (insert /
        # update_preimage / update_postimage / delete rows under
        # _change_data/ + cdc actions), making every commit's row-level
        # changes reconstructable via read_changes — without them a
        # MERGE commit's remove/DV actions refuse there. Pure-append
        # commits still omit cdc files (the protocol lets readers derive
        # inserts from add actions).
        self.enable_cdf = enable_cdf
        # the writer creates _delta_log eagerly, which would turn a plain
        # parquet directory into an empty table hiding every row
        if (
            os.path.isdir(path)
            and not os.path.isdir(os.path.join(path, "_delta_log"))
            and any(
                f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
            )
        ):
            raise DeltaProtocolError(
                f"{path} holds parquet files but no _delta_log; convert "
                f"it in place with convert_parquet_dir(spark, path, "
                f"partition_by) before opening it as a Delta table"
            )
        self.writer = DeltaTableWriter(
            spark,
            path,
            schema=schema,
            max_commit_retries=max_commit_retries,
            checkpoint_interval=checkpoint_interval,
            partition_by=partition_by,
        )
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        self.schema = schema

    def read(self, version: int | None = None) -> DataFrame:
        try:
            return DeltaTableReader(self.spark, self.path).read(version)
        except DeltaProtocolError:
            if self.schema is None:
                raise
            return self.spark.createDataFrame([], self.schema)

    # ------------------------------------------------------- change feed

    def _cdf_rows(
        self, pre: DataFrame, upserts: DataFrame | None
    ) -> DataFrame:
        """The commit's change rows (table columns + `_change_type`).
        `pre` holds the CURRENT rows whose keys the batch touches: those
        re-appearing in `upserts` become update_preimage (old values) +
        update_postimage (new values) pairs, the rest are deletes;
        upsert keys with no current row are inserts. All splits are
        broadcast semi/anti joins on batch-sized key sets — CDF costs
        O(batch), like the merge itself."""
        cols = pre.columns
        out_cols = [*cols, "_change_type"]
        if upserts is None:
            return pre.withColumn("_change_type", F.lit("delete"))
        ukeys = upserts.select(*self.key_cols).distinct()
        mkeys = pre.select(*self.key_cols).distinct()
        pre_upd = (
            pre.join(F.broadcast(ukeys), self.key_cols, "left_semi")
            .withColumn("_change_type", F.lit("update_preimage"))
        )
        pre_del = (
            pre.join(F.broadcast(ukeys), self.key_cols, "left_anti")
            .withColumn("_change_type", F.lit("delete"))
        )
        post_upd = (
            upserts.join(F.broadcast(mkeys), self.key_cols, "left_semi")
            .withColumn("_change_type", F.lit("update_postimage"))
        )
        ins = (
            upserts.join(F.broadcast(mkeys), self.key_cols, "left_anti")
            .withColumn("_change_type", F.lit("insert"))
        )
        out = pre_upd.select(*out_cols)
        for part in (pre_del, post_upd, ins):
            out = out.unionByName(part.select(*out_cols))
        return out

    def _cdf_protocol_action(self, proto: dict | None) -> list[dict]:
        """Protocol upgrade declaring the changeDataFeed writer feature
        (spec: writer feature ⇒ minWriterVersion 7, with the previous
        version's implicit features spelled out); empty when already
        declared."""
        proto = proto or {}
        feats = set(proto.get("writerFeatures") or [])
        if "changeDataFeed" in feats:
            return []
        if not feats and proto.get("minWriterVersion", 2) <= 2:
            feats = {"appendOnly", "invariants"}
        feats.add("changeDataFeed")
        up = {
            "minReaderVersion": proto.get("minReaderVersion", 1),
            "minWriterVersion": 7,
            "writerFeatures": sorted(feats),
        }
        if up["minReaderVersion"] >= 3:
            up["readerFeatures"] = proto.get("readerFeatures") or []
        return [{"protocol": up}]

    def _meta_actions(self, schema: T.StructType) -> list[dict]:
        """The writer's protocol+metaData birth actions; with CDF on,
        the table declares delta.enableChangeDataFeed (the spec's table
        property) and the changeDataFeed writer feature from creation."""
        acts = self.writer._meta_actions(schema)
        if self.enable_cdf:
            acts[1]["metaData"]["configuration"][
                "delta.enableChangeDataFeed"
            ] = "true"
            acts[0] = self._cdf_protocol_action(acts[0]["protocol"])[0]
        return acts

    def _key_partition_filter(
        self, affected: DataFrame, pcols
    ) -> dict[str, list] | None:
        """Key-subset-gated MERGE pruning: when a partition column is
        part of the key, only files whose partitionValues appear in the
        batch can hold its keys. Returns the read()/snapshot()
        `partition_filter` naming those values, or None (no pruning)
        when no partition column is a key column or the batch spans
        more than 1024 partitions — the distinct values are a bounded
        control read, and a wider batch just skips pruning, never
        wrong."""
        prune_cols = [c for c in pcols if c in self.key_cols]
        if not prune_cols:
            return None
        # cast to string SPARK-side: Spark's string cast is the same
        # rendering it used for the hive partition dir names that became
        # the log's partitionValues ('true' not Python's 'True' for
        # booleans, Java float formatting) — Python str() over typed row
        # values silently mismatches and would prune every file,
        # skipping deletes.
        vals = (
            affected.select(
                *[F.col(c).cast("string").alias(c) for c in prune_cols]
            )
            .distinct()
            .limit(1025)
            .collect()
        )
        if len(vals) > 1024:
            return None
        # per-column value sets (a superset of the exact tuple set for
        # multi-column keys — pruning may keep a few extra files, never
        # drop a needed one)
        return {
            c: sorted(
                {r[c] for r in vals}, key=lambda v: (v is not None, v or "")
            )
            for c in prune_cols
        }

    def merge(
        self,
        upserts: DataFrame | None = None,
        delete_keys: DataFrame | None = None,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """Upsert `upserts` and delete `delete_keys` by key in ONE commit.

        Both modes share one body: a meta-only probe (writer-protocol
        gate, txn replay, schema enforcement — merge never evolves the
        schema — and the CDF flag), one snapshot pinned to the probe's
        version and pruned to the batch's partitions, and one read of
        those partitions' live rows, which also gives the change feed's
        preimage. Only the removal step differs:
        - rewrite mode (default) removes every file of the touched
          partitions and writes their surviving rows plus the upserts;
        - DV mode (`use_dvs`) keeps the data files and folds the hit
          rows' indexes into each file's deletion vector (remove +
          re-add of the SAME file with a widened DV — the protocol's
          DV-update pattern); upserts append as new files. Work is
          O(batch + touched files' metadata), not O(table). The first
          DV commit upgrades the table protocol to v3/v7 with the
          deletionVectors feature.
        On a table partitioned by key columns, both modes touch only
        the files of the partitions the batch's keys name: the other
        partitions' adds stay in the log as they were.

        Empty batches: a zero-row output file is never added. A merge
        that changes nothing commits nothing — unless it carries `txn`,
        whose watermark must still advance. The first merge of a table
        creates it from the upserts' schema even when they are empty; a
        delete-only merge before the first commit is a no-op.

        `txn=(app_id, version)` makes the merge IDEMPOTENT: the
        commit carries the protocol's `txn` action and a replayed
        (app_id, version) at or below the recorded watermark is a
        silent no-op — the exactly-once half of streaming foreachBatch
        MERGE (pass the micro-batch id as version). The watermark
        survives checkpoints."""
        affected = None
        for src in (upserts, delete_keys):
            if src is not None:
                k = src.select(*self.key_cols).distinct()
                affected = k if affected is None else affected.union(k).distinct()
        if affected is None:
            return
        w = self.writer
        rdr = DeltaTableReader(self.spark, self.path)
        keys = self.key_cols

        def attempt(v):
            snap, current, rt, cdf = None, None, None, self.enable_cdf
            if v >= 0:
                probe = rdr.snapshot(v, _meta_only=True)
                check_writer_protocol(probe, "merge")
                if txn is not None and _txn_already_applied(probe, txn):
                    return None
                if upserts is not None:
                    check_write_schema(probe, upserts.schema)
                # spec: once a table declares delta.enableChangeDataFeed,
                # EVERY writer must emit cdc files on remove-carrying
                # commits — honor it even when this instance was built
                # with enable_cdf=False (we implement CDF, so honoring
                # beats refusing)
                cdf = cdf or (
                    (probe.meta_raw or {}).get("configuration") or {}
                ).get("delta.enableChangeDataFeed") == "true"
                # the prune is handed to snapshot() itself, which pushes
                # it into the distributed checkpoint scan — at millions
                # of files the driver holds only the batch's partitions'
                # adds. Removes stay inside them and domainMetadata is
                # carried, so the commit can be derived against it.
                snap = rdr.snapshot(
                    v,
                    partition_filter=self._key_partition_filter(
                        affected, probe.partition_columns
                    ),
                )
                if not self.use_dvs:
                    rt = w._rt_rewrite(snap)
                if snap.files:
                    # DV-applied: rows an older DV already deleted are
                    # neither hits nor preimages
                    current = rdr._assemble(
                        snap,
                        with_row_ids=rt is not None,
                        with_file_pos=self.use_dvs,
                    )
                    if rt is not None:
                        # rewrite-mode merge copies SURVIVORS unmodified:
                        # preserve their row ids + commit versions via
                        # the materialized columns; upsert rows are
                        # logically new (delete+insert semantics) and
                        # stay null -> fresh ids from the new adds'
                        # baseRowId ranges
                        current = current.withColumnRenamed(
                            "__rt_row_id", rt[0]
                        ).withColumnRenamed("__rt_rcv", rt[1])
            elif upserts is None:
                return None  # no table to delete from, no schema to create
            cmap = w._column_map(snap)
            removes: list[dict] = []
            dv_adds: list[dict] = []
            dv_paths: list[str] = []
            if self.use_dvs:
                if current is not None:
                    removes, dv_adds, dv_paths = self._widen_dvs(
                        snap,
                        current.join(F.broadcast(affected), keys, "left_semi"),
                    )
                new_state = upserts
            else:
                removes = [
                    {"remove": {"path": p, "dataChange": True}}
                    for p in sorted(snap.files if snap else ())
                ]
                survivors = (
                    current.join(F.broadcast(affected), keys, "left_anti")
                    if current is not None
                    else None
                )
                if survivors is None:
                    new_state = upserts
                elif upserts is None:
                    new_state = survivors
                else:
                    ups = upserts
                    if rt is not None:
                        ups = ups.withColumn(
                            rt[0], F.lit(None).cast("long")
                        ).withColumn(rt[1], F.lit(None).cast("long"))
                    new_state = survivors.unionByName(
                        ups.select(*survivors.columns)
                    )
            adds = (
                w._write_files(new_state, cmap)
                if new_state is not None
                else []
            )
            proto = (snap.protocol_raw if snap else None) or {}
            proto_actions: list[dict] = []
            if dv_adds and "deletionVectors" not in (
                proto.get("readerFeatures") or []
            ):
                proto = self._dv_protocol(proto)
                proto_actions = [{"protocol": proto}]
            cdc_actions: list[dict] = []
            if cdf and removes:
                # remove/DV actions don't mirror a commit's logical
                # changes (a rewrite rewrites survivors too), so with
                # CDF on, EVERY remove-carrying commit records cdc files
                # — including its insert rows, since cdc replaces adds
                # for change readers
                pre = current.select(*snap.schema.fieldNames()).join(
                    F.broadcast(affected), keys, "left_semi"
                )
                cdc_actions = w._write_cdc_files(
                    self._cdf_rows(pre, upserts), cmap
                )
                # one protocol action carrying DV + CDF
                proto_actions = (
                    self._cdf_protocol_action(proto) or proto_actions
                )
            actions = (
                ([rt[2]] if rt is not None and rt[2] is not None else [])
                + proto_actions
                + cdc_actions
                + removes
                + dv_adds
                + adds
            )
            if v < 0:
                actions = self._meta_actions(upserts.schema) + actions
            elif not actions and txn is None:
                return None
            if txn is not None:
                # committed even when the data delta is empty: the
                # watermark must advance or the NEXT batch's replay
                # check would re-apply this one
                actions = [_txn_action(txn)] + actions
            return actions, w._written(cdc_actions + adds) + dv_paths, snap

        w._commit_loop(attempt, op="MERGE")

    def _widen_dvs(
        self, snap: DeltaSnapshot, hits: DataFrame
    ) -> tuple[list[dict], list[dict], list[str]]:
        """DV mode's removal step: fold the hit rows' file-local indexes
        (`__rt_file`/`__rt_ri`) into each file's deletion vector. Returns
        (removes, same-file re-adds with the widened DV, DV files
        written). Indexes aggregate per FILE executor-side; the driver
        streams one file's index list at a time (toLocalIterator) — peak
        driver memory is O(rows of one data file), never O(total hits)."""
        import numpy as np

        from .deltadv import _dv_file_path, dv_row_indexes, write_dv_file

        removes, dv_adds, dv_paths = [], [], []
        grouped = hits.groupBy("__rt_file").agg(
            F.sort_array(F.collect_list("__rt_ri")).alias("__ris")
        )
        for r in grouped.toLocalIterator():
            rel = os.path.relpath(r["__rt_file"], self.path)
            old_add = snap.adds_raw.get(rel) or {}
            idx = np.asarray(r["__ris"], dtype=np.int64)
            old_desc = old_add.get("deletionVector")
            if old_desc:
                idx = np.union1d(idx, dv_row_indexes(self.path, old_desc))
            desc = write_dv_file(self.path, idx)
            dv_paths.append(_dv_file_path(self.path, desc)[0])
            removes.append({"remove": {"path": rel, "dataChange": True}})
            new_add = dict(old_add) or {
                "path": rel,
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(self.path, rel)),
                "modificationTime": 0,
                "dataChange": True,
            }
            new_add["deletionVector"] = desc
            new_add["dataChange"] = True
            dv_adds.append({"add": new_add})
        return removes, dv_adds, dv_paths

    @staticmethod
    def _dv_protocol(proto: dict) -> dict:
        """`proto` upgraded to declare deletionVectors (reader v3,
        writer v7). UNION with the table's existing features — replacing
        the protocol outright would silently drop declared features
        (rowTracking, domainMetadata, ...) and break every writer that
        keys behavior on them. Legacy (pre-feature) protocols carry
        their version-implied features forward explicitly, per the
        spec's upgrade rule."""
        old_w = set(proto.get("writerFeatures") or [])
        if proto.get("minWriterVersion", 1) < 7 and not old_w:
            old_w = set(
                _LEGACY_WRITER_FEATURES.get(proto.get("minWriterVersion", 1))
                or []
            )
        old_r = set(proto.get("readerFeatures") or [])
        if "columnMapping" in old_w:
            # the one legacy READER-relevant feature (mrv 2): once on
            # table features, readers must be told explicitly or they'd
            # misread physical names
            old_r.add("columnMapping")
        return {
            "minReaderVersion": max(3, proto.get("minReaderVersion", 1)),
            "minWriterVersion": max(7, proto.get("minWriterVersion", 1)),
            "readerFeatures": sorted({"deletionVectors"} | old_r),
            "writerFeatures": sorted({"deletionVectors"} | old_w),
        }

    def upsert(self, batch: DataFrame, order_cols=None) -> None:
        if order_cols:
            from deimos_spark.operators.compaction import compact_keep_last

            batch = compact_keep_last(batch, self.key_cols, list(order_cols))
        self.merge(upserts=batch)

    def delete(self, keys: DataFrame) -> None:
        self.merge(delete_keys=keys)
