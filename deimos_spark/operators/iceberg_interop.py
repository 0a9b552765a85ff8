"""Apache Iceberg table adapter — pure-Python metadata walk over the
PUBLIC Iceberg table spec (iceberg.apache.org/spec; no Iceberg jars or
runtime used). Reader covers v1/v2 incl. position AND equality deletes;
writer (`IcebergTableWriter`) emits v2 append/overwrite snapshots
(identity-partitioned layouts included) with the full metadata chain;
`IcebergKeyedTable` adds keyed MERGE via position-delete emission.

The metadata chain, exactly as the spec lays it out:

    metadata/version-hint.text           -> current metadata version
    metadata/v{N}.metadata.json          -> schema, snapshots,
                                            current-snapshot-id
    snapshot.manifest-list (Avro OCF)    -> manifest file paths
    manifest file (Avro OCF)             -> data-file entries
                                            (status: existing/added/deleted)
    data files (parquet)                 -> spark.read.parquet

The Avro layer is the pure-Python OCF codec (schemas/avro_ocf.py), so
nothing here needs a jar. Iceberg data files carry ALL columns
(identity-partition values included — unlike Delta/Hive layouts), so
reading is a plain parquet scan over the live file set; Catalyst
pushdown/pruning applies as usual.

Scope (honest gates, refused loudly): format-version 1 and 2 tables,
including v2 POSITION deletes (delete files of (file_path, pos) pairs,
applied as one anti-join against `_metadata.file_path`/`row_index` —
the common MERGE/DELETE output of real engines) and v2 EQUALITY deletes
(value-keyed delete files with `equality_ids`, sequence-number-gated
null-safe anti-joins — the Flink/CDC upsert shape), plus the v3
surface: deletion vectors, column defaults, and the v3 types
(unknown, ns-timestamps, variant — both physical layouts, r12).
Unsupported file formats and format-version 4+ raise
IcebergProtocolError.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from deimos_spark.operators.layout import (
    HIVE_NULL,
    arrange,
    drop_dv_rows,
    dv_rows,
    footer,
    stage,
    unlink_quietly,
)
from deimos_spark.schemas.avro_ocf import ocf_read


# transform-result Spark type -> Avro type used in manifest partition
# records and field_summary bound serialization (shared by writer+reader)
_PARTITION_AVRO = {
    "int": "int",
    "bigint": "long",
    "string": "string",
}


class IcebergProtocolError(Exception):
    """Table uses an Iceberg feature/version this reader doesn't support."""


# ----------------------------------------------------- schema conversion

_PRIMITIVES = {
    "boolean": T.BooleanType,
    "int": T.IntegerType,
    "long": T.LongType,
    "float": T.FloatType,
    "double": T.DoubleType,
    "date": T.DateType,
    "string": T.StringType,
    "uuid": T.StringType,
    "binary": T.BinaryType,
    "timestamp": T.TimestampNTZType,
    "timestamptz": T.TimestampType,
}


def iceberg_type_to_spark(t) -> T.DataType:
    """Iceberg JSON type → Spark type (the spec's documented mapping).

    v3 additions (spec v3, 2024/2025 finalization):
    - `unknown`: always-null, no storage — NullType (scans exclude it
      from the parquet read schema and re-add a null literal, since
      the parquet reader rejects void fields; see `read`).
    - `timestamp_ns`/`timestamptz_ns`: Spark has no nanosecond
      timestamp — LongType, epoch nanoseconds, the engine-wide
      convention (catalog._normalize_events_ts; nanosAsLong conf
      makes parquet TIMESTAMP(NANOS) columns arrive as long).
    - `variant` (r12): Spark's native VariantType. The parquet
      variant encoding is the one Iceberg v3 adopted, and this Spark
      build reads BOTH physical layouts natively (unshredded
      metadata/value pairs and shredded typed_value trees —
      `spark.sql.variant.allowReadingShredded` defaults true), so no
      per-layout refusal is needed; both are pinned in
      tests/test_iceberg_v3_types.py. Variant DEFAULTS still refuse
      loudly (no single-value JSON form in this reader), and variant
      requires format-version 3 (checked in _check_v3_features).
    - `geometry(C)` / `geography(C, A)` (r12 session 2): WKB bytes →
      BinaryType, with CRS / edge-interpolation metadata surfaced via
      `IcebergTableReader.geo_columns()` and spatial file pruning via
      `read(bbox_filter=...)` (manifest bounds are WKB POINTs per the
      spec). functions/geo.py holds the WKB envelope/predicate
      kernels. Geo DEFAULTS refuse by name (the spec defines no
      single-value form for them)."""
    if isinstance(t, str):
        if t in _PRIMITIVES:
            return _PRIMITIVES[t]()
        m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        if re.fullmatch(r"fixed\[\d+\]", t):
            return T.BinaryType()
        if t == "unknown":
            return T.NullType()
        if t in ("timestamp_ns", "timestamptz_ns"):
            return T.LongType()
        if t == "variant":
            return T.VariantType()
        if parse_geo_type(t) is not None:
            # v3 geometry/geography: WKB bytes (spec: "well-known
            # binary"), surfaced as BinaryType — Spark has no geometry
            # type. CRS/edge-algorithm metadata via
            # IcebergTableReader.geo_columns(); envelope/predicate
            # helpers in functions/geo.py; manifest-bounds bbox pruning
            # via read(bbox_filter=...) (r12, session 2).
            return T.BinaryType()
        raise IcebergProtocolError(f"unsupported Iceberg type {t!r}")
    kind = t.get("type")
    if kind == "struct":
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    iceberg_type_to_spark(f["type"]),
                    nullable=not f.get("required", False),
                )
                for f in t["fields"]
            ]
        )
    if kind == "list":
        return T.ArrayType(
            iceberg_type_to_spark(t["element"]),
            containsNull=not t.get("element-required", False),
        )
    if kind == "map":
        return T.MapType(
            iceberg_type_to_spark(t["key"]),
            iceberg_type_to_spark(t["value"]),
            valueContainsNull=not t.get("value-required", False),
        )
    raise IcebergProtocolError(f"unsupported Iceberg type {t!r}")


def _contains_variant(t) -> bool:
    """True when an Iceberg JSON type mentions `variant` anywhere —
    variant is a v3-only type, so its presence gates format-version."""
    if isinstance(t, str):
        return t == "variant"
    kind = t.get("type")
    if kind == "struct":
        return any(_contains_variant(f["type"]) for f in t.get("fields") or [])
    if kind == "list":
        return _contains_variant(t.get("element"))
    if kind == "map":
        return _contains_variant(t.get("key")) or _contains_variant(
            t.get("value")
        )
    return False


def parse_geo_type(t) -> dict | None:
    """Parse a v3 `geometry(C)` / `geography(C, A)` type string →
    {"kind", "crs", "algorithm"} (None when `t` is not geo). Spec
    defaults: CRS "OGC:CRS84"; geography edge algorithm "spherical".
    A parenthesized form that doesn't parse refuses loudly — silently
    defaulting a CRS the table spells differently would be a
    coordinate-system corruption, the worst silent failure geo has."""
    if not isinstance(t, str):
        return None
    m = re.fullmatch(r"(geometry|geography)\s*(?:\((.*)\))?", t.strip())
    if not m:
        return None
    kind, args = m.group(1), m.group(2)
    out = {"kind": kind, "crs": "OGC:CRS84"}
    if kind == "geography":
        out["algorithm"] = "spherical"
    if args is not None:
        parts = [a.strip() for a in args.split(",")]
        if not parts or not parts[0] or len(parts) > (2 if kind == "geography" else 1):
            raise IcebergProtocolError(
                f"malformed {kind} type parameters {args!r}"
            )
        out["crs"] = parts[0]
        if len(parts) == 2:
            out["algorithm"] = parts[1]
    return out


def _contains_geo(t) -> bool:
    """Like _contains_variant: geometry/geography are v3-only types."""
    if isinstance(t, str):
        return parse_geo_type(t) is not None
    kind = t.get("type")
    if kind == "struct":
        return any(_contains_geo(f["type"]) for f in t.get("fields") or [])
    if kind == "list":
        return _contains_geo(t.get("element"))
    if kind == "map":
        return _contains_geo(t.get("key")) or _contains_geo(t.get("value"))
    return False


def single_value_from_json(t, v):
    """Iceberg JSON single-value serialization → Python value (spec
    §Appendix C 'Single-value serialization', JSON column). Used for
    v3 column defaults (`initial-default`/`write-default`).

    Nested forms per the spec's JSON column (v3 allows defaults on
    nested types):
    - struct: JSON object keyed by FIELD ID as a string
      (`{"1": 1, "2": "bar"}`) → dict keyed by field NAME; an id not
      in the struct refuses; a missing optional field is null; a
      missing required field refuses.
    - list: JSON array of element single-values → python list.
    - map: `{"keys": [...], "values": [...]}` → list of (k, v) pairs
      (keys need not be strings, so not a dict).
    v3 primitives: timestamp_ns/timestamptz_ns → int epoch
    nanoseconds (the engine-wide long-nanos convention); `unknown`
    admits no default (only null is a legal value, and null defaults
    are illegal)."""
    import base64
    import datetime as _dt
    import decimal as _dec

    if v is None:
        raise IcebergProtocolError("null is not a legal default value")
    if not isinstance(t, str):
        kind = t.get("type")
        if kind == "struct":
            if not isinstance(v, dict):
                raise IcebergProtocolError(
                    f"struct default must be a JSON object, got {v!r}"
                )
            by_id = {str(f["id"]): f for f in t.get("fields") or []}
            unknown_ids = set(v) - set(by_id)
            if unknown_ids:
                raise IcebergProtocolError(
                    f"struct default keys {sorted(unknown_ids)} are not "
                    f"field ids of the struct (spec: object keyed by "
                    f"field id as string)"
                )
            out = {}
            for fid, f in by_id.items():
                if fid in v:
                    out[f["name"]] = single_value_from_json(
                        f["type"], v[fid]
                    )
                elif f.get("required"):
                    raise IcebergProtocolError(
                        f"struct default omits required field "
                        f"{f['name']!r} (id {fid})"
                    )
                else:
                    out[f["name"]] = None
            return out
        if kind == "list":
            if not isinstance(v, list):
                raise IcebergProtocolError(
                    f"list default must be a JSON array, got {v!r}"
                )
            return [single_value_from_json(t["element"], x) for x in v]
        if kind == "map":
            if (
                not isinstance(v, dict)
                or set(v) != {"keys", "values"}
                or not isinstance(v["keys"], list)
                or not isinstance(v["values"], list)
                or len(v["keys"]) != len(v["values"])
            ):
                raise IcebergProtocolError(
                    f"map default must be {{'keys': [...], 'values': "
                    f"[...]}} of equal length, got {v!r}"
                )
            return [
                (
                    single_value_from_json(t["key"], k),
                    single_value_from_json(t["value"], w),
                )
                for k, w in zip(v["keys"], v["values"])
            ]
        raise IcebergProtocolError(
            f"default on nested type {kind!r} unsupported"
        )
    if t == "unknown":
        raise IcebergProtocolError(
            "unknown type admits only null values — a default is illegal"
        )
    if t == "boolean":
        if not isinstance(v, bool):
            raise IcebergProtocolError(f"boolean default {v!r}")
        return v
    if t in ("int", "long"):
        if not isinstance(v, int) or isinstance(v, bool):
            raise IcebergProtocolError(f"{t} default {v!r}")
        return v
    if t in ("float", "double"):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise IcebergProtocolError(f"{t} default {v!r}")
        return float(v)
    if t in ("string", "uuid"):
        if not isinstance(v, str):
            raise IcebergProtocolError(f"{t} default {v!r}")
        return v
    # malformed serializations must surface as PROTOCOL errors — the
    # reader gate catches IcebergProtocolError, not stdlib exceptions
    if (
        t in ("date", "timestamp", "timestamptz", "timestamp_ns",
              "timestamptz_ns")
        and not isinstance(v, str)
    ):
        # found by fuzz: a non-string here leaked AttributeError
        raise IcebergProtocolError(f"{t} default {v!r} must be a string")
    try:
        if t == "date":
            return _dt.date.fromisoformat(v)
        if t == "timestamp":
            return _dt.datetime.fromisoformat(v)
        if t == "timestamptz":
            dt = _dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
            if dt.tzinfo is None:
                raise IcebergProtocolError(
                    f"timestamptz default {v!r} lacks an offset"
                )
            return dt
        if t in ("timestamp_ns", "timestamptz_ns"):
            # ISO string with up to 9 fractional digits → epoch nanos
            # (fromisoformat caps at 6 digits, so split the fraction).
            # Base is non-greedy: a greedy [^.]+ swallowed the offset
            # whenever there were no fractional digits, spuriously
            # refusing valid fraction-less timestamptz_ns defaults.
            m = re.fullmatch(
                r"(.+?)(?:\.(\d{1,9}))?([+-]\d{2}:\d{2}|Z)?", str(v)
            )
            if not m:
                raise IcebergProtocolError(f"malformed {t} default {v!r}")
            base, frac, off = m.groups()
            if t == "timestamptz_ns" and not off:
                raise IcebergProtocolError(
                    f"timestamptz_ns default {v!r} lacks an offset"
                )
            dt = _dt.datetime.fromisoformat(
                base + ((off or "").replace("Z", "+00:00"))
            )
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=_dt.timezone.utc)
            ns = int(dt.timestamp()) * 1_000_000_000
            ns += int((frac or "").ljust(9, "0") or 0)
            return ns
        m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t)
        if m:
            return _dec.Decimal(str(v))
        if t == "binary" or re.fullmatch(r"fixed\[\d+\]", t):
            # spec: binary single-values serialize as base16 strings
            if not isinstance(v, str):
                raise IcebergProtocolError(f"{t} default {v!r}")
            return base64.b16decode(v.upper())
    except IcebergProtocolError:
        raise
    # ValueError covers binascii.Error, ArithmeticError covers
    # decimal.InvalidOperation; AttributeError/KeyError backstop any
    # shape surprise the checks above miss (fuzz contract: stdlib
    # exceptions never leak)
    except (
        ValueError, TypeError, ArithmeticError, AttributeError, KeyError
    ) as e:
        raise IcebergProtocolError(
            f"malformed {t} default {v!r}: {e!r}"
        ) from None
    raise IcebergProtocolError(f"default on Iceberg type {t!r} unsupported")


def default_literal(value, stype):
    """Parsed single-value (from `single_value_from_json`) → Spark
    Column literal of `stype`. F.lit only takes scalars, so nested
    defaults build structurally: struct → F.struct of per-field
    literals, list → F.array, map → F.map_from_arrays. Empty
    containers cast to carry the element type."""
    from pyspark.sql import functions as F

    if value is None:
        return F.lit(None).cast(stype)
    if isinstance(stype, T.StructType):
        return F.struct(
            *[
                default_literal(value.get(f.name), f.dataType).alias(f.name)
                for f in stype.fields
            ]
        )
    if isinstance(stype, T.ArrayType):
        if not value:
            return F.lit([]).cast(stype)
        return F.array(
            *[default_literal(x, stype.elementType) for x in value]
        )
    if isinstance(stype, T.MapType):
        if not value:
            return F.map_from_arrays(
                F.lit([]).cast(T.ArrayType(stype.keyType)),
                F.lit([]).cast(T.ArrayType(stype.valueType)),
            )
        return F.map_from_arrays(
            F.array(*[default_literal(k, stype.keyType) for k, _ in value]),
            F.array(
                *[default_literal(w, stype.valueType) for _, w in value]
            ),
        )
    return F.lit(value).cast(stype)


def _with_write_defaults(df: DataFrame, ice_fields: list[dict]) -> DataFrame:
    """v3 `write-default`: the spec requires WRITERS to materialize the
    default into new data — a file written without the column would
    wrongly surface initial-default (or NULL) to readers."""
    have = set(df.columns)
    for f in ice_fields:
        wd = f.get("write-default")
        if wd is not None and f["name"] not in have:
            df = df.withColumn(
                f["name"],
                default_literal(
                    single_value_from_json(f["type"], wd),
                    iceberg_type_to_spark(f["type"]),
                ),
            )
    return df


def _read_dv(desc):
    """A DV descriptor's deleted positions (runs on executors)."""
    from deimos_spark.operators.puffin import read_dv_blob

    return read_dv_blob(*desc)


def _avro_map(v) -> dict:
    """A manifest map field (`lower_bounds`/`upper_bounds`) as a dict:
    Avro encodes maps with non-string keys as key/value record arrays."""
    if not v:
        return {}
    if isinstance(v, dict):
        return v
    return {e["key"]: e["value"] for e in v}


def _current_schema(md: dict | None) -> dict | None:
    """The current schema of table metadata `md` (None for no table)."""
    known = (md or {}).get("schemas") or []
    cur_sid = (md or {}).get("current-schema-id", 0)
    return next(
        (s for s in known if s.get("schema-id") == cur_sid),
        known[0] if known else None,
    )


# ----------------------------------------------------------------- reader

class IcebergTableReader:
    """Read an Iceberg table directory: `read()` → DataFrame for the
    current (or any) snapshot; `data_files()` → live parquet paths."""

    def __init__(
        self, spark: SparkSession, path: str, pin_version: int | None = None
    ):
        """`pin_version` loads EXACTLY v{N}.metadata.json instead of
        the latest — multi-writer callers (IcebergKeyedTable.merge /
        optimize) pin their probe scans to the same metadata version
        their commit will build on, so a commit racing in between
        surfaces as a version-file collision (IcebergCommitConflict →
        recompute) instead of silently basing stale deletes on a newer
        table (a lost update — caught by the r12 concurrency fuzz)."""
        self.spark = spark
        self.path = path
        self.meta_dir = os.path.join(path, "metadata")
        if not os.path.isdir(self.meta_dir):
            raise FileNotFoundError(
                f"{path} has no metadata/ dir — not an Iceberg table"
            )
        self.pin_version = pin_version
        # DV cardinality (its manifest record_count) per (puffin, offset)
        self._dv_cards: dict[tuple[str, int], int] = {}
        self.metadata = self._load_metadata()
        fv = self.metadata.get("format-version", 1)
        if fv not in (1, 2, 3):
            raise IcebergProtocolError(f"format-version {fv} unsupported")
        if fv >= 3:
            self._check_v3_features()
        else:
            # v3-only types declared by a v1/v2 table = malformed
            # metadata; refuse at open naming field and version
            for f in self.schema_fields():
                if _contains_variant(f["type"]):
                    raise IcebergProtocolError(
                        f"field {f.get('name')!r}: `variant` is a "
                        f"format-version 3 type; this table declares "
                        f"format-version {fv}"
                    )
                if _contains_geo(f["type"]):
                    raise IcebergProtocolError(
                        f"field {f.get('name')!r}: geometry/geography "
                        f"are format-version 3 types; this table "
                        f"declares format-version {fv}"
                    )

    def _check_v3_features(self) -> None:
        """v3 support is deletion vectors (Puffin-framed roaring
        bitmaps, handled in _file_sets/read), row lineage (advisory
        for a reader — ignored), and column defaults — primitive AND
        nested-typed (struct/list/map single-value JSON forms), on
        TOP-LEVEL columns (`initial-default` patched into reads for
        files written before the column existed; `write-default` is a
        writer-side concern and does not affect reads). v3 types:
        unknown reads as null, timestamp_ns/timestamptz_ns as epoch
        nanos, variant as Spark VariantType (both physical layouts,
        r12); geometry/geography refuse BY NAME in
        iceberg_type_to_spark. What still refuses loudly here:
        - a default we cannot PARSE (malformed serialization) —
          silently surfacing NULL where the table declares a default
          is the failure mode this gate exists to prevent;
        - a default on a field NESTED INSIDE a struct/list/map
          column: applying it needs per-file SUBfield presence
          probing, which this reader does not do — ignoring it would
          silently null rows the spec says carry the default;
        - an `unknown`-typed field nested inside a container (the
          scan-side void stripping is top-level only).

        Only the CURRENT schema is gated: reads resolve
        current-schema-id exclusively (schema_fields /
        _initial_defaults), so an unreadable default on a superseded
        historical schema can never surface through this reader and
        refusing the whole table for it would reject tables whose
        problem column was since dropped or retyped."""
        md = self.metadata
        schemas = md.get("schemas")
        if schemas:
            sid = md.get("current-schema-id", 0)
            current = [
                s for s in schemas if s.get("schema-id") == sid
            ] or schemas[:1]
        else:
            current = [md["schema"]] if md.get("schema") else []

        def _walk_nested(t, path):
            # inner fields of container types: defaults unsupported,
            # nested `unknown` unsupported — both loud, by name
            if isinstance(t, str):
                if t == "unknown" and path:
                    raise IcebergProtocolError(
                        f"v3 `unknown` type nested at {'.'.join(path)!r} "
                        f"unsupported (top-level unknown columns read "
                        f"as null; nested void cannot be stripped from "
                        f"the parquet read schema)"
                    )
                return
            kind = t.get("type")
            if kind == "struct":
                for f in t.get("fields") or []:
                    for key in ("initial-default", "write-default"):
                        if f.get(key) is not None:
                            raise IcebergProtocolError(
                                f"v3 {key} on NESTED field "
                                f"{'.'.join(path + [f['name']])!r} "
                                f"unsupported: this reader applies "
                                f"defaults to top-level columns only "
                                f"(per-file subfield presence probing "
                                f"unimplemented); refusing rather than "
                                f"silently dropping the default"
                            )
                    _walk_nested(f["type"], path + [f["name"]])
            elif kind == "list":
                _walk_nested(t.get("element"), path + ["element"])
            elif kind == "map":
                _walk_nested(t.get("key"), path + ["key"])
                _walk_nested(t.get("value"), path + ["value"])

        for sch in current:
            for f in sch.get("fields") or []:
                # unsupported v3 types (geometry/geography) refuse AT
                # OPEN, not at first read (variant-below-v3 is gated
                # in __init__ — this method only runs at fv >= 3)
                try:
                    iceberg_type_to_spark(f["type"])
                except IcebergProtocolError as e:
                    raise IcebergProtocolError(
                        f"field {f.get('name')!r}: {e}"
                    ) from e
                for key in ("initial-default", "write-default"):
                    if f.get(key) is not None:
                        if parse_geo_type(f["type"]) is not None:
                            # the v3 spec defines no single-value
                            # serialization for geo types — a table
                            # declaring one is malformed; refuse BY
                            # NAME rather than with a generic parse
                            # error
                            raise IcebergProtocolError(
                                f"v3 {key} on geometry/geography field "
                                f"{f.get('name')!r} unsupported: the "
                                f"spec defines no geo single-value form"
                            )
                        try:
                            single_value_from_json(f["type"], f[key])
                        except IcebergProtocolError as e:
                            raise IcebergProtocolError(
                                f"v3 {key} on field {f.get('name')!r} "
                                f"unreadable: {e}"
                            ) from e
                if not isinstance(f["type"], str):
                    _walk_nested(f["type"], [f["name"]])

    # ------------------------------------------------------- metadata file

    def _load_metadata(self) -> dict:
        if self.pin_version is not None:
            p = os.path.join(
                self.meta_dir, f"v{self.pin_version}.metadata.json"
            )
            if not os.path.exists(p):
                raise IcebergProtocolError(
                    f"pinned metadata version {self.pin_version} absent"
                )
            with open(p) as fh:
                return json.load(fh)
        hint = os.path.join(self.meta_dir, "version-hint.text")
        candidate = None
        if os.path.exists(hint):
            with open(hint) as fh:
                v = fh.read().strip()
            for name in (f"v{v}.metadata.json", f"{v}.metadata.json"):
                p = os.path.join(self.meta_dir, name)
                if os.path.exists(p):
                    candidate = p
                    break
            # The hint is written AFTER the metadata commit, so a crash
            # in that window leaves it one-or-more versions STALE — a
            # routine state, not corruption. Probe forward to the true
            # latest (HadoopTableOperations' findVersion behavior);
            # trusting the hint verbatim would silently serve old data.
            if candidate is not None and v.isdigit():
                nxt = int(v) + 1
                while True:
                    for name in (
                        f"v{nxt}.metadata.json",
                        f"{nxt}.metadata.json",
                    ):
                        p = os.path.join(self.meta_dir, name)
                        if os.path.exists(p):
                            candidate = p
                            break
                    else:
                        break
                    nxt += 1
        if candidate is None:
            versions = []
            for n in os.listdir(self.meta_dir):
                m = re.fullmatch(r"v?(\d+)(?:-[0-9a-f-]+)?\.metadata\.json", n)
                if m:
                    versions.append((int(m.group(1)), n))
            if not versions:
                raise IcebergProtocolError(
                    f"{self.meta_dir}: no *.metadata.json found"
                )
            candidate = os.path.join(self.meta_dir, max(versions)[1])
        with open(candidate) as fh:
            return json.load(fh)

    # --------------------------------------------------------------- paths

    def _local(self, uri: str) -> str:
        """Spec paths are absolute URIs; fixtures may use relative paths."""
        if uri.startswith("file://"):
            return uri[len("file://") :]
        if uri.startswith("/"):
            return uri
        if "://" in uri:
            raise IcebergProtocolError(
                f"non-local file URI {uri!r} unreachable from this adapter"
            )
        return os.path.join(self.path, uri)

    # ----------------------------------------------------------- snapshots

    def snapshot(self, snapshot_id: int | None = None) -> dict:
        snaps = self.metadata.get("snapshots") or []
        if snapshot_id is None:
            snapshot_id = self.metadata.get("current-snapshot-id")
            if snapshot_id in (None, -1):
                return {}
        for s in snaps:
            if s.get("snapshot-id") == snapshot_id:
                return s
        raise IcebergProtocolError(f"snapshot {snapshot_id} not found")

    def history(self, limit: int | None = None) -> list[dict]:
        """Table history parity (`SELECT * FROM t.history` /
        DESCRIBE HISTORY shape): one dict per snapshot, NEWEST first —
        snapshot-id, timestamp-ms, parent-snapshot-id (None for roots
        or tables that don't record lineage), sequence-number, and the
        spec's summary map (operation + whatever the writer recorded).
        Pure metadata, no file opens."""
        snaps = sorted(
            self.metadata.get("snapshots") or [],
            key=lambda s: (
                s.get("sequence-number", 0),
                s.get("timestamp-ms", 0),
            ),
            reverse=True,
        )
        out = [
            {
                "snapshot_id": s.get("snapshot-id"),
                "timestamp_ms": s.get("timestamp-ms"),
                "parent_snapshot_id": s.get("parent-snapshot-id"),
                "sequence_number": s.get("sequence-number"),
                "summary": dict(s.get("summary") or {}),
            }
            for s in snaps
        ]
        return out[:limit] if limit is not None else out

    def refs(self) -> dict[str, dict]:
        """The spec's `refs` map: name → {snapshot-id, type
        ("branch"|"tag"), retention fields}. Branches/tags are how real
        tables pin audit states and WAP workflows."""
        return dict(self.metadata.get("refs") or {})

    def snapshot_id_for_ref(self, name: str) -> int:
        r = (self.metadata.get("refs") or {}).get(name)
        if r is None:
            raise IcebergProtocolError(
                f"ref {name!r} not found (have: "
                f"{sorted(self.metadata.get('refs') or {})})"
            )
        return int(r["snapshot-id"])

    # --------------------------------------------------- inspect tables
    # The metadata-table surface real engines expose as
    # `SELECT * FROM t.snapshots / t.files / t.refs / t.manifests` —
    # small driver-assembled relations (bounded by snapshot/manifest
    # counts, exactly like the engines' own implementations), returned
    # as DataFrames so they compose with sql()/joins.

    def snapshots_df(self) -> DataFrame:
        rows = [
            (
                s.get("snapshot-id"),
                s.get("parent-snapshot-id"),
                s.get("sequence-number"),
                s.get("timestamp-ms"),
                (s.get("summary") or {}).get("operation"),
                {
                    k: str(v)
                    for k, v in (s.get("summary") or {}).items()
                    if k != "operation"
                },
            )
            for s in self.metadata.get("snapshots") or []
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, parent_id long, sequence_number long, "
            "committed_at_ms long, operation string, "
            "summary map<string,string>",
        )

    def refs_df(self) -> DataFrame:
        rows = [
            (name, r.get("type"), r.get("snapshot-id"))
            for name, r in sorted(self.refs().items())
        ]
        return self.spark.createDataFrame(
            rows, "name string, type string, snapshot_id long"
        )

    def files_df(self, snapshot_id: int | None = None) -> DataFrame:
        """Live DATA files of a snapshot (content=0), with the
        recorded path, row/byte counts, typed-as-string partition
        tuple, and sort_order_id."""
        _, manifests = ocf_read(
            self._local(self.snapshot(snapshot_id)["manifest-list"])
        ) if self.snapshot(snapshot_id) else (None, [])
        rows = []
        for mf in manifests:
            if (mf.get("content") or 0) != 0:
                continue
            _, entries = ocf_read(self._local(mf["manifest_path"]))
            for e in entries:
                if e.get("status") == 2:  # DELETED
                    continue
                d = e["data_file"]
                if (d.get("content", 0) or 0) != 0:
                    continue
                part = {
                    k: (None if v is None else str(v))
                    for k, v in (d.get("partition") or {}).items()
                }
                rows.append(
                    (
                        d.get("file_path"),
                        str(d.get("file_format", "PARQUET")),
                        d.get("record_count"),
                        d.get("file_size_in_bytes"),
                        part,
                        d.get("sort_order_id"),
                    )
                )
        return self.spark.createDataFrame(
            rows,
            "file_path string, file_format string, record_count long, "
            "file_size_in_bytes long, partition map<string,string>, "
            "sort_order_id int",
        )

    def manifests_df(self, snapshot_id: int | None = None) -> DataFrame:
        snap = self.snapshot(snapshot_id)
        manifests = (
            ocf_read(self._local(snap["manifest-list"]))[1]
            if snap
            else []
        )
        rows = [
            (
                m.get("manifest_path"),
                m.get("manifest_length"),
                m.get("content"),
                m.get("partition_spec_id"),
                m.get("added_snapshot_id"),
                m.get("added_files_count"),
                m.get("existing_files_count"),
                m.get("deleted_files_count"),
            )
            for m in manifests
        ]
        return self.spark.createDataFrame(
            rows,
            "path string, length long, content int, "
            "partition_spec_id int, added_snapshot_id long, "
            "added_files_count int, existing_files_count int, "
            "deleted_files_count int",
        )

    def snapshot_id_at(self, as_of_ms: int) -> int:
        """Timestamp time travel: the snapshot current AS OF `as_of_ms`
        (epoch millis) — the latest snapshot whose `timestamp-ms` is
        <= the bound, per the spec's snapshot-log semantics."""
        snaps = self.metadata.get("snapshots") or []
        eligible = [
            s for s in snaps if s.get("timestamp-ms", 0) <= as_of_ms
        ]
        if not eligible:
            raise IcebergProtocolError(
                f"no snapshot at or before timestamp {as_of_ms}"
            )
        return max(eligible, key=lambda s: s["timestamp-ms"])["snapshot-id"]

    def _ice_field_types(self) -> dict:
        """{name: (field_id, single-value type key)} for the current
        Iceberg schema's boundable primitive columns."""
        md = self.metadata
        if "schemas" in md:
            sid = md.get("current-schema-id", 0)
            sch = next(
                (x for x in md["schemas"] if x.get("schema-id") == sid),
                md["schemas"][0],
            )
        else:
            sch = md.get("schema") or {}
        out = {}
        for f in sch.get("fields") or []:
            out[f["name"]] = (f["id"], _BOUNDABLE_ICE.get(f.get("type")))
        return out

    def _normalize_stats_filter(self, stats_filter: dict) -> dict:
        """{col: (lo, hi)} → {field_id: (lo, hi, type_key)}; unknown
        columns or unboundable types refuse loudly (a silent skip would
        read as 'no matching files')."""
        types = self._ice_field_types()
        out = {}
        for col, (lo, hi) in stats_filter.items():
            if col not in types:
                raise IcebergProtocolError(
                    f"stats_filter column {col!r} not in table schema"
                )
            fid, tkey = types[col]
            if tkey is None:
                raise IcebergProtocolError(
                    f"stats_filter on column {col!r} unsupported "
                    "(int/long/string bounds only)"
                )
            out[fid] = (lo, hi, tkey)
        return out

    def geo_columns(self) -> dict:
        """{name: {"kind", "crs", "algorithm"?, "field_id"}} for the
        current schema's TOP-LEVEL geometry/geography columns — the
        typed metadata a consumer needs to interpret the WKB bytes
        (nested geo fields read fine as binary but carry no pruning
        surface)."""
        out = {}
        for f in self.schema_fields():
            g = parse_geo_type(f.get("type"))
            if g is not None:
                out[f["name"]] = {**g, "field_id": f["id"]}
        return out

    def _normalize_bbox_filter(self, bbox_filter: dict) -> dict:
        """{col: (xmin, ymin, xmax, ymax)} → {field_id: (bbox, kind)};
        non-geo columns refuse loudly (a silent pass-through would scan
        everything and read as 'the filter worked')."""
        geo = self.geo_columns()
        out = {}
        for col, bbox in bbox_filter.items():
            if col not in geo:
                raise IcebergProtocolError(
                    f"bbox_filter column {col!r} is not a top-level "
                    f"geometry/geography column of this table"
                )
            if len(bbox) != 4:
                raise IcebergProtocolError(
                    f"bbox_filter for {col!r}: expected "
                    f"(xmin, ymin, xmax, ymax), got {bbox!r}"
                )
            xmin, ymin, xmax, ymax = (float(v) for v in bbox)
            if xmin > xmax or ymin > ymax:
                raise IcebergProtocolError(
                    f"bbox_filter for {col!r}: empty box {bbox!r}"
                )
            out[geo[col]["field_id"]] = (
                (xmin, ymin, xmax, ymax),
                geo[col]["kind"],
            )
        return out

    @staticmethod
    def _entry_outside_bbox(df_rec: dict, gprune: dict) -> bool:
        """True when an entry's geo bounds (WKB POINTs: lower =
        (xmin, ymin), upper = (xmax, ymax), spec v3) PROVE it misses
        every requested box. Missing/undecodable bounds → False.
        Geography x-bounds may WRAP the antimeridian (lower.x >
        upper.x ⇒ the file's lon range is [lower.x, 180] ∪
        [-180, upper.x]) — a wrapped range is disjoint from the query
        box only when BOTH pieces are."""
        from deimos_spark.functions.geo import parse_wkb_point

        lows = _avro_map(df_rec.get("lower_bounds"))
        highs = _avro_map(df_rec.get("upper_bounds"))
        for fid, ((xmin, ymin, xmax, ymax), kind) in gprune.items():
            lb, ub = lows.get(fid), highs.get(fid)
            if not lb or not ub:
                continue
            try:
                lx, ly = parse_wkb_point(lb)
                ux, uy = parse_wkb_point(ub)
            except Exception:  # undecodable bounds: keep the file —
                continue  # pruning must only ever shrink IO
            if ly > ymax or uy < ymin:
                return True
            if lx <= ux:
                if lx > xmax or ux < xmin:
                    return True
            elif lx > xmax and ux < xmin:
                return True
        return False

    @staticmethod
    def _entry_outside_bounds(df_rec: dict, sprune: dict) -> bool:
        """True when an entry's recorded column bounds PROVE it misses
        the requested ranges. Missing/undecodable bounds → False."""
        from deimos_spark.operators.iceberg_transforms import (
            single_value_deserialize,
        )

        lows = _avro_map(df_rec.get("lower_bounds"))
        highs = _avro_map(df_rec.get("upper_bounds"))
        for fid, (lo, hi, tkey) in sprune.items():
            mn = single_value_deserialize(tkey, lows.get(fid))
            mx = single_value_deserialize(tkey, highs.get(fid))
            if mn is None or mx is None:
                continue
            try:
                if hi is not None and mn > hi:
                    return True
                if lo is not None and mx < lo:
                    return True
            except TypeError:
                continue
        return False

    def _file_sets(
        self,
        snapshot_id: int | None = None,
        partition_filter: dict | None = None,
        stats_filter: dict | None = None,
        bbox_filter: dict | None = None,
    ) -> tuple[
        list[tuple[str, str, int, dict, int]],
        list[str],
        list[tuple[str, int, tuple[int, ...]]],
        list[tuple[str, str, int, int]],
    ]:
        """Walk the manifest chain → (data, position_deletes,
        equality_deletes, deletion_vectors).

        deletion_vectors (v3): (referenced data file path as recorded,
        local Puffin path, content_offset, content_size_in_bytes) —
        content=1 entries whose file_format is PUFFIN; the spec allows
        at most one live DV per data file per snapshot, so they apply
        unconditionally to their referenced file (a DV supersedes all
        earlier position deletes for that file).

        data: (file_path as recorded in the manifest, local path,
        data sequence number, partition tuple, partition_spec_id) — the
        recorded path is what position-delete rows reference (spec:
        delete rows carry the data file's exact `file_path`); the
        sequence number gates equality deletes; the spec id resolves the
        entry's partition tuple against the spec its manifest was
        written under (evolved tables carry several).
        position_deletes: local paths of parquet position-delete files
        (`content=1`); they name files explicitly, so they need no
        sequence gate here (paths are unique per the spec's
        UUID-named-file layout).
        equality_deletes: (local path, data sequence number,
        equality field ids) for `content=2` files — applied to data files
        with STRICTLY SMALLER sequence numbers (the spec's rule that
        makes CDC re-inserts at a later sequence survive earlier
        deletes).

        Sequence numbers per the v2 inheritance rule: an entry missing/
        null `sequence_number` inherits its manifest's `sequence_number`
        from the manifest list (0 when absent — v1 tables have no
        sequence numbers and no delete files to gate).
        """
        snap = self.snapshot(snapshot_id)
        if not snap:
            return [], [], [], []
        sprune = (
            self._normalize_stats_filter(stats_filter)
            if stats_filter
            else None
        )
        gprune = (
            self._normalize_bbox_filter(bbox_filter)
            if bbox_filter
            else None
        )
        _, manifests = ocf_read(self._local(snap["manifest-list"]))
        data: list[tuple[str, str, int, dict, int]] = []
        pos_deletes: list[str] = []
        eq_deletes: list[tuple[str, int, tuple[int, ...]]] = []
        dvs: list[tuple[str, str, int, int]] = []
        self.last_manifests_skipped = 0
        for mf in manifests:
            mf_seq = mf.get("sequence_number")
            mf_spec = int(mf.get("partition_spec_id") or 0)
            # manifest-level skipping (the Iceberg scan-planning
            # contract): the manifest list's field_summary bounds can
            # prove a DATA manifest holds no matching partition tuple —
            # at 100 TB this is the difference between opening thousands
            # of manifest files and opening the few that matter. Delete
            # manifests are never skipped (their files apply to
            # surviving data regardless of their own partition tuples).
            if (
                partition_filter
                and (mf.get("content") or 0) == 0
                and mf.get("partitions")
                and self._summary_excludes(
                    mf["partitions"], partition_filter, mf_spec
                )
            ):
                self.last_manifests_skipped += 1
                continue
            _, entries = ocf_read(self._local(mf["manifest_path"]))
            for e in entries:
                if e.get("status") == 2:  # DELETED
                    continue
                df = e["data_file"]
                seq = e.get("sequence_number")
                if seq is None:
                    seq = mf_seq if mf_seq is not None else 0
                content = df.get("content", 0) or 0
                # prune DATA entries at walk time so the driver only
                # retains the surviving files, not the whole table's
                # entry list (delete files are never pruned: a matching
                # delete can target surviving data regardless of its own
                # partition tuple)
                if (
                    partition_filter
                    and content == 0
                    and not self._partition_keep(
                        dict(df.get("partition") or {}),
                        partition_filter,
                        mf_spec,
                    )
                ):
                    continue
                # entry-level column-bounds skipping (spec fields
                # 125/128): drop data entries whose recorded [min, max]
                # provably miss the stats_filter ranges — delete entries
                # are never skipped
                if (
                    sprune
                    and content == 0
                    and self._entry_outside_bounds(df, sprune)
                ):
                    continue
                # geo-bounds skipping (same spec fields, WKB-point
                # encoded): drop data entries whose recorded envelope
                # provably misses every bbox_filter box
                if (
                    gprune
                    and content == 0
                    and self._entry_outside_bbox(df, gprune)
                ):
                    continue
                fmt = str(df.get("file_format", "PARQUET")).upper()
                if content == 0:
                    if fmt != "PARQUET":
                        raise IcebergProtocolError(
                            f"file format {fmt!r} unsupported"
                        )
                    data.append(
                        (
                            df["file_path"],
                            self._local(df["file_path"]),
                            seq,
                            dict(df.get("partition") or {}),
                            mf_spec,
                        )
                    )
                elif content == 1:  # position deletes
                    if fmt == "PUFFIN":
                        # v3 deletion vector: one roaring bitmap per
                        # referenced data file, addressed by exact
                        # (offset, size) inside the Puffin container
                        dvs.append(self._dv_entry(df))
                    elif fmt != "PARQUET":
                        raise IcebergProtocolError(
                            "non-parquet position-delete files unsupported"
                        )
                    else:
                        pos_deletes.append(self._local(df["file_path"]))
                elif content == 2:  # equality deletes
                    if fmt != "PARQUET":
                        raise IcebergProtocolError(
                            "non-parquet equality-delete files unsupported"
                        )
                    ids = tuple(df.get("equality_ids") or ())
                    if not ids:
                        raise IcebergProtocolError(
                            "equality-delete file without equality_ids"
                        )
                    eq_deletes.append(
                        (self._local(df["file_path"]), seq, ids)
                    )
                else:
                    raise IcebergProtocolError(
                        f"delete content={content} unsupported"
                    )
        return data, pos_deletes, eq_deletes, dvs

    def data_files(
        self,
        snapshot_id: int | None = None,
        partition_filter: dict[str, object] | None = None,
    ) -> list[str]:
        data = self._file_sets(snapshot_id, partition_filter)[0]
        return [p for _, p, _, _, _ in data]

    # ---------------------------------------------------------------- read

    def schema_fields(self) -> list[dict]:
        """Raw field dicts of the CURRENT schema (v1's inline `schema`
        or the v2+ `schemas` list resolved by current-schema-id)."""
        md = self.metadata
        if "schemas" in md:  # v2+
            sid = md.get("current-schema-id", 0)
            ice = next(
                (s for s in md["schemas"] if s.get("schema-id") == sid),
                md["schemas"][0],
            )
        else:  # v1
            ice = md["schema"]
        return ice["fields"]

    def schema(self) -> T.StructType:
        out = iceberg_type_to_spark(
            {"type": "struct", "fields": self.schema_fields()}
        )
        assert isinstance(out, T.StructType)
        return out

    def _scan_parquet(self, paths: list) -> DataFrame:
        """spark.read over data files with the current schema. v3
        `unknown` (NullType) columns are excluded from the parquet
        read schema — Spark's parquet reader rejects void fields —
        and re-added as null literals in schema position (the spec:
        unknown values are always null, files never store them)."""
        schema = self.schema()
        voids = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, T.NullType)
        ]
        if not voids:
            return self.spark.read.schema(schema).parquet(*paths)
        from pyspark.sql import functions as F

        readable = T.StructType(
            [f for f in schema.fields if f.name not in voids]
        )
        df = self.spark.read.schema(readable).parquet(*paths)
        for name in voids:
            df = df.withColumn(name, F.lit(None))
        return df.select(*[f.name for f in schema.fields])

    def _field_names_by_id(self) -> dict[int, str]:
        return {
            f["id"]: f["name"] for f in self.schema_fields() if "id" in f
        }

    def _partition_fields(self, spec_id: int | None = None):
        """Partition spec (the entry's own `spec_id`, or the table
        default) → {field_name: PartitionField} (source resolved to a
        column name via the schema's field ids). Evolved tables carry
        several specs; pruning an entry with the WRONG spec would drop
        live files, so an unknown spec id refuses loudly."""
        from deimos_spark.operators.iceberg_transforms import (
            parse_spec_transform,
        )

        cache = getattr(self, "_pf_cache", None)
        if cache is None:
            cache = self._pf_cache = {}
        if spec_id in cache:
            return cache[spec_id]
        md = self.metadata
        fields = []
        specs = md.get("partition-specs") or []
        if specs:
            sid = md.get("default-spec-id", 0) if spec_id is None else spec_id
            spec = next(
                (s for s in specs if s.get("spec-id") == sid), None
            )
            if spec is None:
                if spec_id is None:
                    spec = specs[0]
                else:
                    raise IcebergProtocolError(
                        f"manifest references partition spec {spec_id} "
                        "absent from table metadata"
                    )
            fields = spec.get("fields") or []
        elif md.get("partition-spec"):  # v1 layout
            fields = md["partition-spec"]
        by_id = self._field_names_by_id()
        out = {}
        for f in fields:
            src = by_id.get(f.get("source-id"), "")
            try:
                pf = parse_spec_transform(f["transform"], f["name"], src)
            except ValueError as e:
                raise IcebergProtocolError(str(e)) from None
            out[pf.name] = pf
        cache[spec_id] = out
        return out

    def _summary_excludes(
        self, summaries: list, partition_filter: dict, spec_id: int
    ) -> bool:
        """True when the manifest-list field_summary bounds PROVE no
        entry in the manifest can match the filter. Conservative in
        every unknown: missing bounds, unserializable types, or a filter
        key the spec can't resolve → False (open the manifest)."""
        from deimos_spark.operators.iceberg_transforms import (
            TransformError,
            single_value_deserialize,
            transform_value,
            result_spark_type,
        )

        try:
            pfs = self._partition_fields(spec_id)
        except IcebergProtocolError:
            return False
        order = list(pfs.values())  # spec order (insertion-ordered)
        spark_types = {f.name: f.dataType.simpleString() for f in self.schema().fields}
        by_source: dict[str, list[int]] = {}
        by_name: dict[str, int] = {}
        for i, pf in enumerate(order):
            by_source.setdefault(pf.source, []).append(i)
            by_name[pf.name] = i

        def _candidates(key, opts):
            """(field index, transformed candidate values) pairs."""
            out = []
            if key in by_source:
                for i in by_source[key]:
                    pf = order[i]
                    try:
                        out.append((i, [transform_value(pf, o) for o in opts]))
                    except TransformError:
                        return None
            elif key in by_name:
                out.append((by_name[key], list(opts)))
            else:
                return None
            return out

        for key, want in partition_filter.items():
            opts = list(want) if isinstance(
                want, (list, tuple, set)
            ) else [want]
            cands = _candidates(key, opts)
            if cands is None:
                return False
            for i, vals in cands:
                if i >= len(summaries):
                    continue
                sm = summaries[i] or {}
                pf = order[i]
                src_t = spark_types.get(pf.source)
                if src_t is None:
                    continue
                try:
                    at = _PARTITION_AVRO.get(
                        result_spark_type(pf, src_t)
                    )
                except TransformError:
                    continue
                if at is None:
                    continue
                lo = single_value_deserialize(at, sm.get("lower_bound"))
                hi = single_value_deserialize(at, sm.get("upper_bound"))

                def _inside(v):
                    if v is None:
                        return bool(sm.get("contains_null"))
                    if lo is None or hi is None:
                        return True  # no bounds: can't exclude
                    try:
                        return lo <= v <= hi
                    except TypeError:
                        return True
                if not any(_inside(v) for v in vals):
                    return True  # every candidate provably outside
        return False

    def _partition_keep(
        self, pvals: dict, partition_filter: dict, spec_id: int | None = None
    ) -> bool:
        """True when a manifest entry's partition tuple can match the
        filter. Filter keys may name a SOURCE column (values are
        transformed with the spec's transform before comparing — e.g.
        {"id": 5} prunes a bucket[4] layout by bucketing 5) or a
        partition FIELD (raw transformed values compared directly).
        Resolution uses the ENTRY's partition spec, so evolved tables
        prune each manifest against the spec it was written under; a
        filter key an entry's spec cannot resolve refuses loudly —
        guessing would either drop live files or leak pruned ones."""
        from deimos_spark.operators.iceberg_transforms import (
            TransformError,
            transform_value,
        )

        pfs = self._partition_fields(spec_id)
        by_source: dict[str, list] = {}
        for pf in pfs.values():
            by_source.setdefault(pf.source, []).append(pf)
        for key, want in partition_filter.items():
            opts = list(want) if isinstance(
                want, (list, tuple, set)
            ) else [want]
            if key in by_source:
                for pf in by_source[key]:
                    try:
                        txs = {transform_value(pf, o) for o in opts}
                    except TransformError as e:
                        raise IcebergProtocolError(str(e)) from None
                    if pvals.get(pf.name) not in txs:
                        return False
            elif key in pfs:
                if pvals.get(key) not in opts:
                    return False
            else:
                raise IcebergProtocolError(
                    f"partition_filter key {key!r} is not a partition "
                    f"source or field under partition spec "
                    f"{spec_id if spec_id is not None else 'default'} — "
                    "entries written under this spec cannot be pruned "
                    "safely"
                )
        return True

    def read(
        self,
        snapshot_id: int | None = None,
        partition_filter: dict[str, object] | None = None,
        as_of_ms: int | None = None,
        stats_filter: dict[str, tuple] | None = None,
        bbox_filter: dict[str, tuple] | None = None,
        ref: str | None = None,
        _keep_meta: bool = False,
    ) -> DataFrame:
        """`partition_filter` prunes by each manifest entry's typed
        `partition` record before any file opens — {col: value} or
        {col: [values...]}. Manifest-level pruning is the Iceberg scan
        contract: at 100 TB the planner touches KB of manifest metadata
        instead of listing/opening the full file set. (Identity values
        also remain in the data files, so Catalyst still row-group-
        prunes whatever survives.) `as_of_ms` is timestamp time travel
        (the latest snapshot at or before the bound).

        `bbox_filter` ({geo_col: (xmin, ymin, xmax, ymax)}) prunes by
        the manifests' geo bounds (WKB POINTs, v3 spec) — like
        stats_filter it only SHRINKS the file set; pair it with
        functions.geo.bbox_intersects for the row-level predicate."""
        if sum(x is not None for x in (snapshot_id, as_of_ms, ref)) > 1:
            raise ValueError(
                "pass at most one of snapshot_id / as_of_ms / ref"
            )
        if as_of_ms is not None:
            snapshot_id = self.snapshot_id_at(as_of_ms)
        if ref is not None:
            snapshot_id = self.snapshot_id_for_ref(ref)
        schema = self.schema()
        data, pos_deletes, eq_deletes, dvs = self._file_sets(
            snapshot_id, partition_filter, stats_filter, bbox_filter
        )
        meta_cols = ["__ice_fp", "__ice_pos"] if _keep_meta else []
        if not data:
            out_schema = T.StructType(schema.fields.copy())
            if _keep_meta:
                out_schema.add("__ice_fp", T.StringType())
                out_schema.add("__ice_pos", T.LongType())
            return self.spark.createDataFrame([], out_schema)
        df = self._scan_parquet([p for _, p, _, _, _ in data])
        defaults = self._initial_defaults()
        if (
            not pos_deletes
            and not eq_deletes
            and not dvs
            and not _keep_meta
            and not defaults
        ):
            return df
        from pyspark.sql import functions as F

        cols = df.columns
        # hidden _metadata resolves only on the scan relation — project it
        # once; all delete passes key off the projected columns
        scan = df.select(
            "*",
            F.col("_metadata.file_path").alias("__ice_fp"),
            F.col("_metadata.row_index").alias("__ice_pos"),
        )
        if defaults:
            # before EQUALITY deletes: delete keys must compare against
            # the defaulted values, not the NULL a pre-add file stores
            scan = self._patch_initial_defaults(
                scan, [p for _, p, _, _, _ in data], defaults
            )
        if pos_deletes:
            scan = self._apply_position_deletes(scan, data, pos_deletes)
        if dvs:
            scan = self._apply_deletion_vectors(scan, dvs)
        if eq_deletes:
            scan = self._apply_equality_deletes(scan, data, eq_deletes)
        return scan.select(*cols, *meta_cols)

    # ------------------------------------------------------ incremental

    def _lineage(
        self, from_snapshot_id: int | None, to_snapshot_id: int | None
    ) -> list[dict]:
        """Snapshots strictly after `from` up to and including `to`,
        oldest first. Walks `parent-snapshot-id` links when the table
        records them (the spec's lineage field); tables without parent
        links (older writers) fall back to `sequence-number` order,
        which is equivalent on the linear histories such writers
        produce. Refuses when `from` is not an ancestor of `to` —
        an incremental scan across divergent branches is meaningless."""
        snaps = {
            s["snapshot-id"]: s
            for s in self.metadata.get("snapshots") or []
        }
        to_id = to_snapshot_id
        if to_id is None:
            to_id = self.metadata.get("current-snapshot-id")
            if to_id in (None, -1):
                return []
        if to_id not in snaps:
            raise IcebergProtocolError(f"snapshot {to_id} not found")
        if from_snapshot_id is not None and from_snapshot_id not in snaps:
            raise IcebergProtocolError(
                f"snapshot {from_snapshot_id} not found (expired?)"
            )
        if from_snapshot_id == to_id:
            return []
        if any("parent-snapshot-id" in s for s in snaps.values()):
            chain: list[dict] = []
            cur: int | None = to_id
            while cur is not None:
                if cur == from_snapshot_id:
                    return list(reversed(chain))
                s = snaps.get(cur)
                if s is None:
                    break  # parent expired out of the metadata
                chain.append(s)
                cur = s.get("parent-snapshot-id")
            if from_snapshot_id is not None:
                raise IcebergProtocolError(
                    f"snapshot {from_snapshot_id} is not an ancestor of "
                    f"{to_id}"
                )
            return list(reversed(chain))
        # no parent links anywhere: order by (sequence-number,
        # timestamp-ms, metadata list position) — v1 tables have no
        # sequence numbers, so the later keys break the ties their
        # linear histories produce
        keyed = {
            s["snapshot-id"]: (
                s.get("sequence-number", 0),
                s.get("timestamp-ms", 0),
                i,
            )
            for i, s in enumerate(self.metadata.get("snapshots") or [])
        }
        lo = (
            keyed[from_snapshot_id]
            if from_snapshot_id is not None
            else (-1, -1, -1)
        )
        hi = keyed[to_id]
        return sorted(
            (s for s in snaps.values() if lo < keyed[s["snapshot-id"]] <= hi),
            key=lambda s: keyed[s["snapshot-id"]],
        )

    def _added_data_files(
        self, snap: dict, strict_appends: bool = True
    ) -> list[str]:
        """Local paths of DATA files ADDED by exactly this snapshot:
        only manifests the snapshot itself wrote (`added_snapshot_id`
        matches) can hold its additions, so carried-forward manifests
        are never opened — the incremental walk touches O(new files)
        metadata regardless of table size.

        `strict_appends=False` (the streaming source's ignoreChanges
        path) SKIPS delete manifests/entries the snapshot added instead
        of refusing — callers accept re-delivery semantics there."""
        sid = snap["snapshot-id"]
        _, manifests = ocf_read(self._local(snap["manifest-list"]))
        out: list[str] = []
        for mf in manifests:
            if mf.get("added_snapshot_id") is None:
                # spec field 503 is required; without it additions can't
                # be attributed to a snapshot — a silent empty result
                # would read as "nothing new", so refuse loudly
                raise IcebergProtocolError(
                    f"manifest {mf.get('manifest_path')!r} lacks "
                    "added_snapshot_id — incremental attribution "
                    "impossible on this table"
                )
            if mf.get("added_snapshot_id") != sid:
                continue
            if (mf.get("content") or 0) != 0:
                if not strict_appends:
                    continue
                raise IcebergProtocolError(
                    f"snapshot {sid} ({snap.get('summary', {}).get('operation')}) "
                    "added delete files — not an append"
                )
            _, entries = ocf_read(self._local(mf["manifest_path"]))
            for e in entries:
                if e.get("status") != 1:  # only ADDED entries
                    continue
                esid = e.get("snapshot_id")
                if esid is not None and esid != sid:
                    continue
                df = e["data_file"]
                if (df.get("content", 0) or 0) != 0:
                    if not strict_appends:
                        continue
                    raise IcebergProtocolError(
                        f"snapshot {sid} added delete content — not an append"
                    )
                fmt = str(df.get("file_format", "PARQUET")).upper()
                if fmt != "PARQUET":
                    raise IcebergProtocolError(
                        f"file format {fmt!r} unsupported"
                    )
                out.append(self._local(df["file_path"]))
        return out

    def read_incremental(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        snapshot_col: str | None = None,
    ) -> DataFrame:
        """Incremental APPEND scan: rows added by snapshots AFTER
        `from_snapshot_id` (exclusive; None = from table creation) up to
        `to_snapshot_id` (inclusive; None = current) — the standing
        ingestion pattern for training-data pipelines: checkpoint the
        consumed snapshot id, read only what landed since.

        Semantics match Iceberg's incremental append scan: `append`
        snapshots contribute their added files, `replace` snapshots
        (compaction — data unchanged) are skipped, and `overwrite`/
        `delete` snapshots REFUSE loudly — row-level changes cannot be
        represented as an append stream; re-read the full snapshot or
        use a CDC view instead.

        `snapshot_col` names an optional output column carrying the
        snapshot id that added each row — attached via a broadcast
        (file → snapshot) map against `_metadata.file_path`, one scan
        over the union of added files (never a per-file union plan).

        Scale: only manifests written BY in-range snapshots are opened
        (`added_snapshot_id` match), so cost is O(files added in range),
        not O(table). Requires the range's snapshots to be unexpired."""
        from pyspark.sql import functions as F

        schema = self.schema()
        pairs: list[tuple[str, int]] = []
        for snap in self._lineage(from_snapshot_id, to_snapshot_id):
            op = (snap.get("summary") or {}).get("operation", "append")
            if op == "replace":
                continue  # compaction: logical content unchanged
            if op != "append":
                raise IcebergProtocolError(
                    f"incremental read crosses snapshot "
                    f"{snap['snapshot-id']} with operation {op!r} — only "
                    "append/replace histories are incremental-readable; "
                    "use read_changelog for row-level changes"
                )
            for p in self._added_data_files(snap):
                pairs.append((p, snap["snapshot-id"]))
        if not pairs:
            out_schema = T.StructType(schema.fields.copy())
            if snapshot_col:
                out_schema.add(snapshot_col, T.LongType())
            return self.spark.createDataFrame([], out_schema)
        df = self._scan_parquet([p for p, _ in pairs])
        defaults = self._initial_defaults()
        if not snapshot_col and not defaults:
            return df
        scan = df.select(
            "*", F.col("_metadata.file_path").alias("__ice_fp")
        )
        if defaults:
            scan = self._patch_initial_defaults(
                scan, [p for p, _ in pairs], defaults
            )
        if snapshot_col:
            smap = self.spark.createDataFrame(
                [("file:" + p, sid) for p, sid in pairs],
                f"__ice_fp string, {snapshot_col} long",
            )
            scan = scan.join(F.broadcast(smap), "__ice_fp")
        return scan.drop("__ice_fp")

    def _added_files_split(self, snap: dict):
        """(data_paths, pos_delete_paths, eq_deletes, dv_adds) ADDED by
        exactly this snapshot — the content-split sibling of
        _added_data_files, same attribution rules (only manifests with
        matching added_snapshot_id open; entry snapshot_id inheritance;
        refusal on unattributable manifests). eq_deletes entries are
        (local_path, equality_ids); dv_adds are v3 deletion-vector
        descriptors (referenced recorded path, local puffin, offset,
        size)."""
        sid = snap["snapshot-id"]
        _, manifests = ocf_read(self._local(snap["manifest-list"]))
        data: list[str] = []
        pos: list[str] = []
        eq: list[tuple[str, tuple[int, ...]]] = []
        dvs: list[tuple[str, str, int, int]] = []
        for mf in manifests:
            if mf.get("added_snapshot_id") is None:
                raise IcebergProtocolError(
                    f"manifest {mf.get('manifest_path')!r} lacks "
                    "added_snapshot_id — changelog attribution "
                    "impossible on this table"
                )
            if mf.get("added_snapshot_id") != sid:
                continue
            _, entries = ocf_read(self._local(mf["manifest_path"]))
            for e in entries:
                if e.get("status") != 1:
                    continue
                esid = e.get("snapshot_id")
                if esid is not None and esid != sid:
                    continue
                df = e["data_file"]
                fmt = str(df.get("file_format", "PARQUET")).upper()
                content = df.get("content", 0) or 0
                if fmt == "PUFFIN" and content == 1:
                    # v3 DV add: positions NEW to this snapshot emit as
                    # deletes (already-dead rows are silenced by the
                    # parent-live semi-join, so the superseded DV's
                    # positions need no explicit subtraction)
                    dvs.append(self._dv_entry(df))
                    continue
                if fmt != "PARQUET":
                    raise IcebergProtocolError(
                        f"file format {fmt!r} unsupported"
                    )
                p = self._local(df["file_path"])
                if content == 0:
                    data.append(p)
                elif content == 1:
                    pos.append(p)
                elif content == 2:
                    ids = tuple(df.get("equality_ids") or ())
                    if not ids:
                        raise IcebergProtocolError(
                            "equality-delete file without equality_ids"
                        )
                    eq.append((p, ids))
                else:
                    raise IcebergProtocolError(
                        f"delete content={content} unsupported"
                    )
        return data, pos, eq, dvs

    def read_changelog(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        type_col: str = "_change_type",
        snapshot_col: str = "_snapshot_id",
        ordinal_col: str = "_change_ordinal",
    ) -> DataFrame:
        """Incremental CHANGELOG scan — the row-level superset of
        read_incremental, Iceberg's incremental-changelog semantics:
        for each snapshot after `from` (exclusive) through `to`
        (inclusive), emit its row-level changes as `insert` / `delete`
        rows (an upsert is a delete+insert pair, the merge-on-read
        shape) with the snapshot id attached.

        Per snapshot: added DATA files emit inserts; added position-
        delete files emit the TARGETED rows (fetched from the parent
        snapshot's live view, so rows already dead stay silent); added
        equality-delete files emit the parent-live rows matching their
        key values (the parent view ends before this snapshot, so the
        spec's strictly-smaller-sequence gate holds by construction);
        a wholesale overwrite emits deletes for every parent-live row
        whose file the new snapshot dropped. `replace` (compaction)
        snapshots emit nothing.

        Each row also carries `_change_ordinal` — the snapshot's
        1-based position in the consumed window (snapshot IDs are
        unordered; the ordinal is what downstream keep-last compaction
        orders by — see table_cdc.iceberg_changelog_to_ops).

        Scale: inserts stay O(files added). Delete reconstruction plans
        one parent-snapshot read per CHANGED snapshot, filtered by
        broadcast semi-joins on the delete sets — the consume-window
        cost profile (few snapshots per call), not O(history)."""
        from pyspark.sql import functions as F

        schema = self.schema()
        names = [f.name for f in schema.fields]
        out_cols = [*names, type_col, snapshot_col, ordinal_col]
        by_id = self._field_names_by_id()
        defaults = self._initial_defaults()
        chain = self._lineage(from_snapshot_id, to_snapshot_id)
        parts: list[DataFrame] = []
        prev: int | None = from_snapshot_id
        for ordinal, snap in enumerate(chain, start=1):
            sid = snap["snapshot-id"]
            op = (snap.get("summary") or {}).get("operation", "append")
            if op == "replace":
                prev = sid
                continue
            data, pos, eq, dv_adds = self._added_files_split(snap)
            if data:
                ins = self._scan_parquet(data)
                if defaults:
                    # inserts from snapshots older than a column add
                    # surface the default, same as read() would
                    ins = self._patch_initial_defaults(
                        ins.select(
                            "*",
                            F.col("_metadata.file_path").alias("__ice_fp"),
                        ),
                        data,
                        defaults,
                    )
                parts.append(
                    ins.select(
                        *names,
                        F.lit("insert").alias(type_col),
                        F.lit(sid).cast("long").alias(snapshot_col),
                        F.lit(ordinal).cast("long").alias(ordinal_col),
                    )
                )
            dropped: list[str] = []
            parent_data = None
            if op not in ("append",) and prev is not None:
                parent_data = self._file_sets(prev)[0]
                prev_files = {rec for rec, *_ in parent_data}
                cur_files = {
                    rec for rec, *_ in self._file_sets(sid)[0]
                }
                dropped = sorted(prev_files - cur_files)
            if (pos or eq or dv_adds or dropped) and prev is not None:
                if parent_data is None:
                    parent_data = self._file_sets(prev)[0]
                base = self.read(snapshot_id=prev, _keep_meta=True)
                dels: list[DataFrame] = []
                if pos:
                    # (recorded path, pos) → the parent-live rows they
                    # target; recorded→scanned URI via the parent file
                    # mapping, broadcast (delete sets are batch-sized)
                    mapping = self.spark.createDataFrame(
                        [
                            ("file:" + local, rec)
                            for rec, local, *_ in parent_data
                        ],
                        "__ice_fp string, __del_fp string",
                    )
                    pd = (
                        self.spark.read.parquet(*pos)
                        .select(
                            F.col("file_path").alias("__del_fp"),
                            F.col("pos").cast("long").alias("__ice_pos"),
                        )
                        .join(F.broadcast(mapping), "__del_fp")
                        .select("__ice_fp", "__ice_pos")
                    )
                    dels.append(
                        base.join(
                            F.broadcast(pd),
                            ["__ice_fp", "__ice_pos"],
                            "left_semi",
                        )
                    )
                if dv_adds:
                    # v3 DV adds: the DV's positions, semi-joined to the
                    # PARENT-live view — already-dead rows (incl. the
                    # superseded DV's positions) drop out structurally
                    dd = dv_rows(
                        self.spark,
                        self._dv_descs(dv_adds),
                        _read_dv,
                        "__ice_fp",
                        "__ice_pos",
                    )
                    dels.append(
                        base.join(dd, ["__ice_fp", "__ice_pos"], "left_semi")
                    )
                for p, ids in eq:
                    try:
                        keys = [by_id[i] for i in ids]
                    except KeyError as e:
                        raise IcebergProtocolError(
                            f"equality_ids reference unknown field id {e}"
                        ) from None
                    ed = (
                        self.spark.read.parquet(p)
                        .select(*keys)
                        .distinct()
                    )
                    cond = F.lit(True)
                    for n in keys:
                        cond = cond & base[n].eqNullSafe(ed[n])
                    dels.append(base.join(ed, cond, "left_semi"))
                if dropped:
                    dmap = self.spark.createDataFrame(
                        [("file:" + self._local(rec),) for rec in dropped],
                        "__ice_fp string",
                    )
                    dels.append(
                        base.join(
                            F.broadcast(dmap), "__ice_fp", "left_semi"
                        )
                    )
                if dels:
                    merged = dels[0]
                    for d in dels[1:]:
                        merged = merged.unionByName(d)
                    parts.append(
                        merged.dropDuplicates(["__ice_fp", "__ice_pos"])
                        .select(
                            *names,
                            F.lit("delete").alias(type_col),
                            F.lit(sid).cast("long").alias(snapshot_col),
                            F.lit(ordinal).cast("long").alias(ordinal_col),
                        )
                    )
            prev = sid
        if not parts:
            out_schema = T.StructType(schema.fields.copy())
            out_schema.add(type_col, T.StringType())
            out_schema.add(snapshot_col, T.LongType())
            out_schema.add(ordinal_col, T.LongType())
            return self.spark.createDataFrame([], out_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(*out_cols)

    def _apply_equality_deletes(
        self,
        df: DataFrame,
        data: list[tuple[str, str, int, dict]],
        eq_deletes: list[tuple[str, int, tuple[int, ...]]],
    ) -> DataFrame:
        """v2 equality deletes: each delete file's rows name column
        VALUES (for the fields in `equality_ids`); a data row is deleted
        when it matches any delete row null-safely on those columns AND
        its file's data sequence number is strictly below the delete
        file's. Spark-first: the data sequence number rides in via a
        broadcast (file_path → seq) map join, and each (seq, ids) delete
        group is one null-safe-equi anti-join — the delete side is small
        (CDC keys), so AQE broadcasts it; nothing here is per-row Python
        or a driver loop over data.
        """
        from pyspark.sql import functions as F

        by_id = self._field_names_by_id()
        seq_map = self.spark.createDataFrame(
            [("file:" + local, seq) for _, local, seq, _, _ in data],
            "__ice_fp string, __ice_seq long",
        )
        scan = df.join(F.broadcast(seq_map), "__ice_fp")

        groups: dict[tuple[int, tuple[int, ...]], list[str]] = {}
        for local, seq, ids in eq_deletes:
            groups.setdefault((seq, ids), []).append(local)
        for (seq, ids), paths in sorted(groups.items()):
            try:
                names = [by_id[i] for i in ids]
            except KeyError as e:
                raise IcebergProtocolError(
                    f"equality_ids reference unknown field id {e}"
                ) from None
            dels = (
                self.spark.read.parquet(*paths).select(*names).distinct()
            )
            cond = F.lit(True)
            for n in names:
                cond = cond & scan[n].eqNullSafe(dels[n])
            cond = cond & (scan["__ice_seq"] < F.lit(seq))
            scan = scan.join(dels, cond, "left_anti")
        return scan

    def _apply_position_deletes(
        self,
        df: DataFrame,
        data: list[tuple[str, str, int, dict]],
        deletes: list[str],
    ) -> DataFrame:
        """v2 position deletes: delete-file rows are (file_path, pos)
        pairs naming the data file's recorded path and the row's ordinal
        within it. Spark-first: `_metadata.file_path` + `_metadata
        .row_index` give exactly that ordinal at scan time, so the whole
        operation is one anti-join — no per-file driver loop, and the
        delete side stays a normal relation Catalyst/AQE can broadcast
        when small (the overwhelmingly common case)."""
        from pyspark.sql import functions as F

        scan = df  # arrives with __ice_fp/__ice_pos projected (see read())
        # recorded manifest path -> the URI _metadata.file_path reports
        # (Hadoop renders local files as "file:/abs/path" — one slash)
        mapping = self.spark.createDataFrame(
            [("file:" + local, rec) for rec, local, _, _, _ in data],
            "__ice_fp string, __del_fp string",
        )
        dels = (
            self.spark.read.parquet(*deletes)
            .select(
                F.col("file_path").alias("__del_fp"),
                F.col("pos").cast("long").alias("__ice_pos"),
            )
            .join(F.broadcast(mapping), "__del_fp")
            .select("__ice_fp", "__ice_pos")
        )
        return scan.join(dels, ["__ice_fp", "__ice_pos"], "left_anti")

    def _apply_deletion_vectors(
        self, df: DataFrame, dvs: list[tuple[str, str, int, int]]
    ) -> DataFrame:
        """v3 deletion vectors: one Puffin-framed roaring bitmap per
        referenced data file → the file layer's one DV anti-join
        (layout.drop_dv_rows) on (__ice_fp, __ice_pos). Only the
        descriptors leave the driver; the bitmaps decode on executors,
        so a billion deleted positions never land on the driver."""
        return drop_dv_rows(
            df, "__ice_fp", "__ice_pos", self._dv_descs(dvs), _read_dv
        )

    def _dv_entry(self, df: dict) -> tuple[str, str, int, int]:
        """A PUFFIN delete entry's data_file → (referenced data file,
        local puffin path, offset, size); its cardinality (the entry's
        record_count) is kept for _dv_descs."""
        ref = df.get("referenced_data_file")
        off = df.get("content_offset")
        size = df.get("content_size_in_bytes")
        if ref is None or off is None or size is None:
            raise IcebergProtocolError(
                "PUFFIN delete entry missing referenced_data_file/"
                "content_offset/content_size_in_bytes"
            )
        puf = self._local(df["file_path"])
        self._dv_cards[(puf, int(off))] = int(df.get("record_count") or 0)
        return ref, puf, int(off), int(size)

    def _dv_descs(
        self, dvs: list[tuple[str, str, int, int]]
    ) -> list[tuple[str, tuple, int]]:
        """DV entries (see _dv_entry) → layout.dv_rows descriptors keyed
        by the URI the scan's `_metadata.file_path` reports for the
        referenced file (Hadoop renders local files as
        "file:/abs/path"), so the DV rows join a scan with no
        path-mapping relation. An entry this reader's _dv_entry did not
        build has no recorded cardinality and raises KeyError rather
        than defaulting to one that would always broadcast."""
        return [
            (
                "file:" + self._local(ref),
                (puf, off, size),
                self._dv_cards[(puf, off)],
            )
            for ref, puf, off, size in dvs
        ]

    # ---------------------------------------------------- column defaults

    def _initial_defaults(self) -> list[tuple[str, object, T.DataType]]:
        """Current-schema fields declaring a v3 `initial-default`,
        parsed → [(name, python value, spark type)]. Empty for the
        overwhelming majority of tables — the read path pays nothing
        unless a default actually exists."""
        out = []
        for f in (self.schema_fields() or []):
            dv = f.get("initial-default")
            if dv is not None:
                out.append(
                    (
                        f["name"],
                        single_value_from_json(f["type"], dv),
                        iceberg_type_to_spark(f["type"]),
                    )
                )
        return out

    def _patch_initial_defaults(
        self,
        scan: DataFrame,
        local_paths: list[str],
        defaults: list[tuple[str, object, T.DataType]],
    ) -> DataFrame:
        """v3 `initial-default` semantics (spec: 'the value for rows
        written before the field was added'): a data file that does
        NOT CONTAIN the field surfaces the default; a file that has
        the column keeps its stored values — including genuine NULLs,
        which is why a blanket `coalesce` would be wrong.

        Scale shape: field presence comes from parquet FOOTERS, read
        on executors (mapInPandas over the file list — one footer
        each, no data pages), and joins back as a broadcast
        (file → has-field) relation keyed on `_metadata.file_path`,
        so a million-file table never funnels footers through the
        driver. `scan` arrives with `__ice_fp` projected."""
        import pandas as pd
        from pyspark.sql import functions as F

        names = [n for n, _, _ in defaults]
        paths = self.spark.createDataFrame(
            [("file:" + p, p) for p in local_paths],
            "__ice_fp string, __local string",
        )

        def _probe(batches):
            import pyarrow.parquet as pq

            for pdf in batches:
                rows = []
                for fp, local in zip(pdf["__ice_fp"], pdf["__local"]):
                    cols = set(pq.read_schema(local).names)
                    rows.append([fp] + [n in cols for n in names])
                yield pd.DataFrame(
                    rows,
                    columns=["__ice_fp"]
                    + [f"__has_{i}" for i in range(len(names))],
                )

        probe_schema = ", ".join(
            ["__ice_fp string"]
            + [f"__has_{i} boolean" for i in range(len(names))]
        )
        has = paths.repartition(
            max(len(local_paths) // 64, 1)
        ).mapInPandas(_probe, probe_schema)
        scan = scan.join(F.broadcast(has), "__ice_fp", "left")
        for i, (name, value, stype) in enumerate(defaults):
            scan = scan.withColumn(
                name,
                F.when(
                    F.coalesce(F.col(f"__has_{i}"), F.lit(True)),
                    F.col(name),
                ).otherwise(default_literal(value, stype)),
            )
        return scan.drop(*[f"__has_{i}" for i in range(len(names))])


# ----------------------------------------------------------------- writer

_SPARK_TO_ICE = {
    "boolean": "boolean",
    "int": "int",
    "bigint": "long",
    "float": "float",
    "double": "double",
    "date": "date",
    "string": "string",
    "binary": "binary",
    "timestamp_ntz": "timestamp",
    "timestamp": "timestamptz",
    # v3 only — _snapshot_commit refuses variant batches below fv 3
    "variant": "variant",
}


def spark_schema_to_iceberg(
    schema: T.StructType, type_overrides: dict[str, str] | None = None
) -> list[dict]:
    """Spark StructType → Iceberg schema field list (ids assigned 1..n;
    flat primitive schemas — the writer's declared scope).

    `type_overrides` declares Iceberg types Spark cannot spell —
    today geometry/geography over BinaryType WKB columns (the writer's
    geo_columns parameter); an override on a non-binary column or a
    non-geo override string refuses."""
    fields = []
    overrides = type_overrides or {}
    unknown = set(overrides) - {f.name for f in schema.fields}
    if unknown:
        raise IcebergProtocolError(
            f"type_overrides name absent columns {sorted(unknown)}"
        )
    for i, f in enumerate(schema.fields, 1):
        s = f.dataType.simpleString()
        if f.name in overrides:
            ice = overrides[f.name]
            if parse_geo_type(ice) is None:
                raise IcebergProtocolError(
                    f"column {f.name!r}: override {ice!r} is not a "
                    f"geometry/geography type"
                )
            if s != "binary":
                raise IcebergProtocolError(
                    f"column {f.name!r}: geo columns must be Spark "
                    f"binary (WKB), got {s!r}"
                )
        else:
            m = re.fullmatch(r"decimal\((\d+),(\d+)\)", s)
            if m:
                ice = f"decimal({m.group(1)}, {m.group(2)})"
            elif s in _SPARK_TO_ICE:
                ice = _SPARK_TO_ICE[s]
            else:
                raise IcebergProtocolError(
                    f"column {f.name!r}: type {s!r} not writable as Iceberg"
                )
        fields.append(
            {"id": i, "name": f.name, "required": False, "type": ice}
        )
    return fields


def _ice_type_of(f: T.StructField) -> str:
    s = f.dataType.simpleString()
    m = re.fullmatch(r"decimal\((\d+),(\d+)\)", s)
    if m:
        return f"decimal({m.group(1)}, {m.group(2)})"
    if s in _SPARK_TO_ICE:
        return _SPARK_TO_ICE[s]
    raise IcebergProtocolError(
        f"column {f.name!r}: type {s!r} not writable as Iceberg"
    )


def evolve_iceberg_schema(
    existing: dict,
    batch: T.StructType,
    last_column_id: int,
    merge_schema: bool,
) -> tuple[list[dict], int, bool]:
    """Schema enforcement + opt-in evolution against an EXISTING table
    schema → (merged field list with ids preserved, new last-column-id,
    changed?).

    Field ids are the spec's identity for bounds/equality-ids/partition
    sources — they must NEVER be re-derived from a batch's column
    order: a narrower batch would silently reassign ids and corrupt
    every prior manifest's column-bounds semantics. Batch columns must
    match the table's types (no implicit casts); missing optional table
    columns are fine (absent parquet columns read null); missing
    REQUIRED columns refuse; new columns refuse unless `merge_schema`,
    which appends them as optional with fresh ids past last-column-id.
    """
    by_name = {f["name"]: f for f in existing.get("fields") or []}
    errors: list[str] = []
    extra: list[T.StructField] = []
    seen = set()
    for f in batch.fields:
        seen.add(f.name)
        ice = _ice_type_of(f)
        ex = by_name.get(f.name)
        if ex is None:
            extra.append(f)
        elif ex["type"] != ice and not (
            # geometry/geography columns are WKB binary on the Spark
            # side — a binary batch column matches them by design
            ice == "binary"
            and parse_geo_type(ex["type"]) is not None
        ):
            errors.append(
                f"column {f.name!r}: table has {ex['type']!r}, "
                f"batch has {ice!r}"
            )
    if errors:
        raise IcebergProtocolError(
            "schema enforcement: incompatible batch schema — "
            + "; ".join(errors)
        )
    missing_required = [
        f["name"]
        for f in existing.get("fields") or []
        if f["name"] not in seen
        and f.get("required")
        # a required column with a write-default is fillable by the
        # writer (v3 semantics) — absence from the batch is legal
        and f.get("write-default") is None
    ]
    if missing_required:
        raise IcebergProtocolError(
            f"schema enforcement: batch lacks required table columns "
            f"{missing_required}"
        )
    if extra and not merge_schema:
        raise IcebergProtocolError(
            f"schema enforcement: batch adds columns "
            f"{[f.name for f in extra]} — pass merge_schema=True to "
            "evolve the table schema"
        )
    fields = [dict(f) for f in existing.get("fields") or []]
    nid = last_column_id
    for f in extra:
        nid += 1
        fields.append(
            {
                "id": nid,
                "name": f.name,
                "required": False,
                "type": _ice_type_of(f),
            }
        )
    return fields, nid, bool(extra)


class IcebergCommitConflict(Exception):
    """Another writer claimed this metadata version first."""


# Avro schemas for the written manifests — field names and the field-id
# attributes follow the Iceberg spec's Avro tables (v2, unpartitioned)
_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {
            "name": "snapshot_id",
            "type": ["null", "long"],
            "default": None,
            "field-id": 1,
        },
        {
            "name": "sequence_number",
            "type": ["null", "long"],
            "default": None,
            "field-id": 3,
        },
        {
            "name": "file_sequence_number",
            "type": ["null", "long"],
            "default": None,
            "field-id": 4,
        },
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {
                        "name": "record_count",
                        "type": "long",
                        "field-id": 103,
                    },
                    {
                        "name": "file_size_in_bytes",
                        "type": "long",
                        "field-id": 104,
                    },
                    # spec fields 125/128: per-column bounds keyed by
                    # field id (Appendix-D single-value bytes) — what
                    # lets a scan skip ENTRIES without opening files
                    {
                        "name": "lower_bounds",
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "k126_v127",
                                    "fields": [
                                        {
                                            "name": "key",
                                            "type": "int",
                                            "field-id": 126,
                                        },
                                        {
                                            "name": "value",
                                            "type": "bytes",
                                            "field-id": 127,
                                        },
                                    ],
                                },
                            },
                        ],
                        "default": None,
                        "field-id": 125,
                    },
                    {
                        "name": "upper_bounds",
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "k129_v130",
                                    "fields": [
                                        {
                                            "name": "key",
                                            "type": "int",
                                            "field-id": 129,
                                        },
                                        {
                                            "name": "value",
                                            "type": "bytes",
                                            "field-id": 130,
                                        },
                                    ],
                                },
                            },
                        ],
                        "default": None,
                        "field-id": 128,
                    },
                    {
                        "name": "sort_order_id",
                        "type": ["null", "int"],
                        "default": None,
                        "field-id": 140,
                    },
                ],
            },
        },
    ],
}


# iceberg primitive type -> the single-value codec's type key (bounds are
# only recorded for these; others are skipped, which disables skipping
# for that column but never drops data)
_BOUNDABLE_ICE = {"int": "int", "long": "long", "string": "string"}


def _file_column_bounds(path: str, ice_fields: list[dict]):
    """(lower_bounds, upper_bounds) as [{key: field_id, value: bytes}],
    None where empty. Non-geo bounds come from the parquet FOOTER under
    the file layer's rules (layout.footer, the same rules Delta's stats
    JSON renders): top-level columns whose every row group carries
    accepted bounds, no float or double bounds, strings of 32
    characters or fewer; of those, int, long and string fields are
    serialized. A footer pyarrow cannot read yields no footer bounds.
    Geo bounds are envelopes computed from the column's values (below).
    """
    from deimos_spark.operators.iceberg_transforms import (
        single_value_serialize,
    )

    try:
        bounds = footer(path).bounds
    except Exception:
        bounds = {}
    lower, upper = [], []
    for f in sorted(ice_fields, key=lambda f: f["name"]):
        tkey = _BOUNDABLE_ICE.get(f["type"])
        if tkey is None or f["name"] not in bounds:
            continue
        lo, hi = bounds[f["name"]]
        lb = single_value_serialize(tkey, lo)
        ub = single_value_serialize(tkey, hi)
        if lb is None or ub is None:
            continue
        lower.append({"key": f["id"], "value": lb})
        upper.append({"key": f["id"], "value": ub})

    # geo bounds (v3): lower/upper are x/y-min/max WKB POINTs computed
    # from the DATA (parquet byte-order stats on WKB blobs are
    # meaningless as envelopes). GEOMETRY: planar min/max — exact.
    # GEOGRAPHY: spherical-edge envelopes (r14, VERDICT r13 #7) —
    # per-edge great-circle latitude extrema (Clairaut), wound-pole
    # caps, and a minimal covering longitude interval that may WRAP the
    # antimeridian (lower.x > upper.x per the spec), computed over the
    # union of ALL values' longitude arcs (per-value covers don't
    # compose — the minimal cover of covers can exclude longitudes a
    # later value reaches through the gap). POINT-only columns reduce
    # to the old exact point path by construction. An unparseable value
    # still disables the column's bounds (missing bounds are
    # non-prunable, never wrong). The column is read back COLUMN-PRUNED
    # per freshly-written local file; a cluster writer would fold this
    # accumulation into the write tasks themselves.
    geo_fields = [
        (f["name"], f["id"], (parse_geo_type(f["type"]) or {}).get("kind"))
        for f in ice_fields
        if isinstance(f.get("type"), str)
        and parse_geo_type(f["type"]) is not None
    ]
    if geo_fields:
        from deimos_spark.functions.geo import (
            _merge_arcs,
            parse_envelope,
            spherical_lon_arcs_and_lat,
            wkb_point,
        )

        try:
            import pyarrow.parquet as papq

            tbl = papq.read_table(
                path, columns=[n for n, _, _ in geo_fields]
            )
        except Exception:
            tbl = None
        if tbl is not None:
            for name, fid, kind in geo_fields:
                if name not in tbl.column_names:
                    continue
                env = None
                ok = True
                arcs: list = []  # geography longitude arcs, all values
                for v in tbl.column(name).to_pylist():
                    if v is None:
                        continue
                    try:
                        if kind == "geography":
                            got = spherical_lon_arcs_and_lat(v)
                            if got is None:
                                continue  # EMPTY geometry
                            va, ylo, yhi = got
                            arcs.extend(va)
                            e = (0.0, ylo, 0.0, yhi)  # x from arcs below
                        else:
                            e = parse_envelope(v)
                    except Exception:
                        ok = False  # unparseable value: no bounds for
                        break  # this column (pruning stays safe)
                    if e is None:
                        continue
                    env = e if env is None else (
                        min(env[0], e[0]), min(env[1], e[1]),
                        max(env[2], e[2]), max(env[3], e[3]),
                    )
                if ok and env is not None:
                    xlo, xhi = env[0], env[2]
                    if kind == "geography":
                        # minimal covering interval of every value's
                        # longitude arcs — may WRAP the antimeridian
                        # (lower.x > upper.x ⇒ [lo,180] ∪ [-180,hi]):
                        # for data clustered at ±180 the naive range
                        # spans the globe and prunes nothing
                        xlo, xhi = _merge_arcs(arcs)
                    lower.append(
                        {"key": fid, "value": wkb_point(xlo, env[1])}
                    )
                    upper.append(
                        {"key": fid, "value": wkb_point(xhi, env[3])}
                    )
    return (lower or None), (upper or None)


def _wrapped_lon_bounds(lons: list) -> "tuple[float, float] | None":
    """(lower_x, upper_x) with lower_x > upper_x when wrapping the
    antimeridian yields a strictly tighter longitude interval than the
    naive [min, max]; None when the naive range is already tightest.
    Takes the geography-POINT longitudes the bounds pass already
    collected (no second column decode)."""
    lons = sorted(lons)
    if len(lons) < 2:
        return None
    naive = lons[-1] - lons[0]
    # largest gap between consecutive longitudes; the wrapped interval
    # excludes exactly that gap
    gap, at = 0.0, 0
    for i in range(1, len(lons)):
        if lons[i] - lons[i - 1] > gap:
            gap, at = lons[i] - lons[i - 1], i
    # interval excluding the interior gap: [lons[at], 180]∪[-180, lons[at-1]]
    if gap > 0 and 360.0 - gap < naive:
        return (lons[at], lons[at - 1])
    return None

# v3 deletion-vector manifest entries: data_file extended with the DV
# address fields (spec ids 143-145); built lazily from the base schema
def _dv_manifest_entry_schema() -> dict:
    sch = json.loads(json.dumps(_MANIFEST_ENTRY_SCHEMA))
    sch["fields"][-1]["type"]["fields"] += [
        {
            "name": "referenced_data_file",
            "type": ["null", "string"],
            "default": None,
            "field-id": 143,
        },
        {
            "name": "content_offset",
            "type": ["null", "long"],
            "default": None,
            "field-id": 144,
        },
        {
            "name": "content_size_in_bytes",
            "type": ["null", "long"],
            "default": None,
            "field-id": 145,
        },
    ]
    return sch


_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        # spec field 507: per-partition-field summaries (ordered by the
        # manifest's partition spec) — the bounds that let readers skip
        # whole manifests without opening them
        {
            "name": "partitions",
            "type": [
                "null",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "r508",
                        "fields": [
                            {
                                "name": "contains_null",
                                "type": "boolean",
                                "field-id": 509,
                            },
                            {
                                "name": "contains_nan",
                                "type": ["null", "boolean"],
                                "default": None,
                                "field-id": 518,
                            },
                            {
                                "name": "lower_bound",
                                "type": ["null", "bytes"],
                                "default": None,
                                "field-id": 510,
                            },
                            {
                                "name": "upper_bound",
                                "type": ["null", "bytes"],
                                "default": None,
                                "field-id": 511,
                            },
                        ],
                    },
                },
            ],
            "default": None,
            "field-id": 507,
        },
    ],
}


class IcebergTableWriter:
    """Append/overwrite writer for Iceberg v2 tables — the export half
    of the interop story (a pipeline leaving this engine can land its
    output as a real lakehouse table). Emits the full spec chain per
    commit: parquet data files → manifest (Avro OCF with spec
    field-ids) → manifest list → v{N}.metadata.json + version-hint.text.

    `partition_by` declares partition fields — identity columns AND the
    spec's non-identity transforms: `"col"` (identity),
    `"bucket(N, col)"`, `"truncate(W, col)"`, `"years(col)"`,
    `"months(col)"`, `"days(col)"`, `"hours(col)"` (iceberg_transforms
    .py implements the spec's murmur3 bucket hash with Appendix B's
    published vectors pinned in tests). Data files land under hive-style
    dirs named by the TRANSFORMED value but — per the Iceberg spec,
    unlike Delta/Hive — KEEP the source columns in the files; the
    transformed partition tuple is recorded in each manifest entry's
    `partition` record (field-ids 1000+) and the table metadata's
    partition-spec carries the transform string, so real engines prune
    by manifest. Source-type gates per transform are in
    `iceberg_transforms.WRITABLE_SOURCES` (refused loudly).

    Commit protocol: the new metadata file is claimed with the same
    temp + hard-link put-if-absent the Delta writer uses (HadoopTables'
    filesystem-atomic rename shape); losers raise IcebergCommitConflict.
    append/overwrite/add_files commit once and leave a loser's files for
    expire_snapshots; keyed writes (`IcebergKeyedTable` below) retry
    through `_commit_loop`, which unlinks a lost attempt's files.
    """

    _PARTITION_AVRO = _PARTITION_AVRO

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        max_commit_retries: int = 5,
        partition_by: tuple[str, ...] = (),
        format_version: int = 2,
        sort_by: tuple[str, ...] = (),
        sort_partitions: int | None = None,
        geo_columns: dict[str, str] | None = None,
    ):
        from deimos_spark.operators.iceberg_transforms import (
            parse_partition_field,
        )

        if format_version not in (2, 3):
            raise IcebergProtocolError(
                f"writer format_version {format_version}: 2 or 3"
            )
        # geo columns: {spark binary column: "geometry(C)" /
        # "geography(C, A)"} — v3-only types, like variant
        self.geo_types = dict(geo_columns or {})
        for col, ice in self.geo_types.items():
            if parse_geo_type(ice) is None:
                raise IcebergProtocolError(
                    f"geo_columns[{col!r}] = {ice!r}: not a "
                    f"geometry/geography type string"
                )
        if self.geo_types and format_version < 3:
            raise IcebergProtocolError(
                "geometry/geography are format-version 3 types — "
                "construct the writer with format_version=3"
            )
        self.spark = spark
        self.path = path
        self.max_commit_retries = max_commit_retries
        # spec sort orders (identity asc nulls-first): data range-
        # clusters on these columns before writing, so per-file
        # min/max bounds become disjoint and stats_filter/other
        # engines' scan planning prune files instead of reading them —
        # the clustering half of the write path. Recorded in table
        # metadata (sort-orders / default-sort-order-id) and on each
        # data file (sort_order_id, spec field 140).
        self.sort_by = tuple(sort_by)
        # explicit range-partition count (= target file count per
        # write): AQE coalesces an unpinned range shuffle of small
        # batches into one file; pinning it sizes output files
        self.sort_partitions = sort_partitions
        # v3 adds REQUIRED row lineage (spec: writers must assign row
        # ids): table metadata carries next-row-id, each snapshot its
        # first-row-id, each added data file an explicit first_row_id.
        # An existing v3 table is never downgraded regardless of this
        # flag (see _snapshot_commit).
        self.format_version = format_version
        self.partition_fields = [
            parse_partition_field(s) for s in partition_by
        ]
        self.meta_dir = os.path.join(path, "metadata")
        self.data_dir = os.path.join(path, "data")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # ------------------------------------------------------------- helpers

    def _current(self) -> tuple[int, dict | None]:
        """(metadata version, metadata dict) of the latest committed
        metadata file; (0, None) for an empty table."""
        versions = []
        for n in os.listdir(self.meta_dir):
            m = re.fullmatch(r"v(\d+)\.metadata\.json", n)
            if m:
                versions.append(int(m.group(1)))
        if not versions:
            return 0, None
        v = max(versions)
        with open(os.path.join(self.meta_dir, f"v{v}.metadata.json")) as fh:
            return v, json.load(fh)

    def _write_data_files(
        self, df: DataFrame, pre_arranged: bool = False
    ) -> list[tuple[str, int, int, dict]]:
        """df → parquet files under data/ through the file layer's
        staging walk (layout.stage); [(abs_path, rows, bytes,
        partition_values)]. A file whose footer reports 0 rows is
        dropped: an empty df writes nothing, so callers read emptiness
        from the result.

        Partitioned writes compute each partition field's TRANSFORMED
        value into a throwaway `__ice_pv_*` column for Spark's
        `partitionBy` (which drops its partitioning columns from the
        files — Iceberg requires the SOURCE columns kept); the walk
        decodes the hive dir names ("" and null kept apart) and they are
        typed here by the transform's RESULT type. One distributed write
        either way — no per-partition driver loop.
        """
        from deimos_spark.operators.iceberg_transforms import (
            result_spark_type,
            transform_column,
        )

        src_types = {
            f.name: f.dataType.simpleString() for f in df.schema.fields
        }
        if self.sort_by and not pre_arranged:
            missing = [c for c in self.sort_by if c not in src_types]
            if missing:
                raise IcebergProtocolError(
                    f"sort_by columns {missing} not in batch schema"
                )
            # the range shuffle IS the point (clustering), opted into by
            # declaring sort_by
            df = arrange(df, self.sort_by, self.sort_partitions)
        tmp_cols = [f"__ice_pv_{pf.name}" for pf in self.partition_fields]
        for pf, tc in zip(self.partition_fields, tmp_cols):
            df = df.withColumn(tc, transform_column(pf, src_types[pf.source]))
        res_types = {
            tc: result_spark_type(pf, src_types[pf.source])
            for pf, tc in zip(self.partition_fields, tmp_cols)
        }

        def typed(tc: str, v):
            if v is not None and res_types[tc] in ("int", "bigint"):
                return int(v)
            return v

        data_rel = os.path.relpath(self.data_dir, self.path)

        def land(_, values: dict) -> str:
            return os.path.join(
                data_rel,
                *[
                    "{}={}".format(
                        pf.name, HIVE_NULL if values[tc] is None else values[tc]
                    )
                    for pf, tc in zip(self.partition_fields, tmp_cols)
                ],
            )

        return [
            (
                os.path.join(self.path, rel),
                foot.rows,
                os.path.getsize(os.path.join(self.path, rel)),
                {
                    pf.name: typed(tc, values[tc])
                    for pf, tc in zip(self.partition_fields, tmp_cols)
                },
            )
            for rel, values, foot in stage(df, self.path, tmp_cols, land)
        ]

    def _commit(self, version: int, md: dict) -> None:
        import uuid

        tmp = os.path.join(self.meta_dir, f".tmp_{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(md, fh)
            fh.flush()
            os.fsync(fh.fileno())
        target = os.path.join(self.meta_dir, f"v{version}.metadata.json")
        try:
            os.link(tmp, target)  # atomic put-if-absent
        except FileExistsError as e:
            raise IcebergCommitConflict(
                f"metadata v{version} already committed"
            ) from e
        finally:
            os.unlink(tmp)
        # the hint is advisory (readers fall back to listing); last wins
        hint_tmp = os.path.join(self.meta_dir, f".hint_{uuid.uuid4().hex}")
        with open(hint_tmp, "w") as fh:
            fh.write(str(version))
        os.replace(hint_tmp, os.path.join(self.meta_dir, "version-hint.text"))

    # ----------------------------------------------------------- write API

    def _snapshot_commit(self, df: DataFrame | None, overwrite: bool, **kw):
        """One snapshot (see _snapshot) committed on the latest metadata
        without a retry: a loser raises IcebergCommitConflict and its
        files stay for expire_snapshots (append, overwrite, add_files)."""
        mv, md = self._current()
        new_md, _ = self._snapshot(md, df, overwrite, **kw)
        self._commit(mv + 1, new_md)

    def _commit_loop(self, attempt) -> None:
        """The one optimistic-commit loop (the shape of
        DeltaTableWriter._commit_loop): read the latest metadata
        `(mv, md)`, let `attempt(mv, md)` derive its commit against it —
        `(_snapshot keyword arguments, files it wrote)`, or None when
        there is nothing to commit — build the snapshot on `md` and claim
        v{mv+1}. Anything committed after the attempt's reads collides on
        that version file; the lost attempt's files (data, delete and
        puffin files, the snapshot's manifests and manifest list) are
        unlinked and the attempt re-derives against the winner's
        metadata. A snapshot refused by schema enforcement unlinks the
        attempt's files too."""
        for _ in range(self.max_commit_retries):
            mv, md = self._current()
            out = attempt(mv, md)
            if out is None:
                return
            commit, written = out
            try:
                new_md, meta = self._snapshot(md, **commit)
            except IcebergProtocolError:
                unlink_quietly(written)  # refused: no commit names them
                raise
            try:
                self._commit(mv + 1, new_md)
                return
            except IcebergCommitConflict:
                unlink_quietly(written + meta)
        raise IcebergCommitConflict(
            f"could not commit after {self.max_commit_retries} tries"
        )

    def _snapshot(
        self,
        md: dict | None,
        df: DataFrame | None,
        overwrite: bool,
        delete_files: list[tuple[str, int, int, dict]] | None = None,
        schema_override: T.StructType | None = None,
        eq_delete_files: list[tuple[str, int, int, dict]] | None = None,
        eq_key_cols: list[str] | None = None,
        dv_entries: list[dict] | None = None,
        drop_dv_for: set[str] | None = None,
        merge_schema: bool = False,
        summary_extra: dict[str, str] | None = None,
        pre_written: list[tuple[str, int, int, dict]] | None = None,
        pre_arranged: bool = False,
    ) -> tuple[dict, list[str]]:
        """One snapshot on top of metadata `md` → (the new metadata, the
        files written for it: data files, manifests, manifest list); the
        caller commits it as the next version. `df` → new data files
        (None for delete-only commits, with `schema_override` supplying
        the table schema); `pre_written` (with df=None) registers
        ALREADY-WRITTEN parquet files as this snapshot's data files —
        merge upserts and the add_files migration path (manifest
        entries, footer bounds, and sequence numbers are built
        identically to written files); `delete_files` → already-written
        position-delete parquet files recorded in their own content=1
        manifest;
        `eq_delete_files` → EQUALITY-delete parquet files (rows = key
        values, columns = `eq_key_cols`) recorded content=2 with
        `equality_ids` resolved from the schema — they share the new
        snapshot's sequence number, so per the spec's strictly-smaller
        rule they erase prior data while same-commit adds survive (the
        Flink CDC upsert shape).

        v3 extensions: `dv_entries` = deletion-vector descriptors
        ({referenced_data_file, puffin_path, offset, size,
        cardinality}) recorded as a content=1 manifest of PUFFIN
        entries; `drop_dv_for` = recorded data-file paths whose PRIOR
        DVs this commit supersedes — the spec allows at most one live
        DV per data file, so carried-forward delete manifests are
        rewritten without those entries (dropped entirely when empty).
        Both require format-version 3."""
        import time as _time
        import uuid

        from deimos_spark.schemas.avro_ocf import ocf_write

        # never downgrade an existing v3 table; upgrade v2→3 when asked
        fv = max(
            self.format_version,
            (md or {}).get("format-version", 2),
        )
        if (dv_entries or drop_dv_for) and fv < 3:
            raise IcebergProtocolError(
                "deletion vectors require format-version 3"
            )
        batch_struct = df.schema if df is not None else schema_override
        if batch_struct is not None and fv < 3:
            bad = [
                f.name
                for f in batch_struct.fields
                if "variant" in f.dataType.simpleString()
            ]
            if bad:
                raise IcebergProtocolError(
                    f"columns {bad} are variant-typed: `variant` is a "
                    f"format-version 3 type — construct the writer "
                    f"with format_version=3"
                )
        seq = (md.get("last-sequence-number", 0) if md else 0) + 1
        snap_id = seq  # sequential ids: deterministic and spec-legal
        now = int(_time.time() * 1000)

        existing_schema = _current_schema(md)
        if existing_schema is None:
            ice_fields = spark_schema_to_iceberg(
                batch_struct, getattr(self, "geo_types", None)
            )
            last_col_id = len(ice_fields)
            schema_id = 0
            all_schemas = [
                {"type": "struct", "schema-id": 0, "fields": ice_fields}
            ]
        else:
            # schema enforcement against the TABLE schema — field ids
            # are never re-derived from batch column order (a narrower
            # batch would reassign ids and corrupt every prior
            # manifest's bounds/equality-ids semantics)
            ice_fields, last_col_id, changed = evolve_iceberg_schema(
                existing_schema,
                batch_struct,
                md.get(
                    "last-column-id",
                    len(existing_schema.get("fields") or []),
                ),
                merge_schema,
            )
            # geo declarations bind at TABLE CREATION: on an existing
            # table a writer-declared geo column must already carry a
            # geo type in the table schema — letting it evolve in as
            # plain `binary` would silently mis-type the column for
            # every other engine
            for gcol, want_t in (getattr(self, "geo_types", None) or {}).items():
                ex_t = next(
                    (
                        f.get("type")
                        for f in ice_fields
                        if f["name"] == gcol
                    ),
                    None,
                )
                ex_geo = parse_geo_type(ex_t) if ex_t is not None else None
                if ex_geo is None:
                    raise IcebergProtocolError(
                        f"geo_columns[{gcol!r}]: existing table schema "
                        f"has {ex_t!r}, not a geo type — geo columns "
                        f"must be declared when the table is created"
                    )
                # kind/CRS/edge-algorithm must MATCH the table: a
                # geography declaration writing into a geometry column
                # (or a different CRS) would silently swap coordinate
                # semantics for every other engine
                if ex_geo != parse_geo_type(want_t):
                    raise IcebergProtocolError(
                        f"geo_columns[{gcol!r}] declares {want_t!r} but "
                        f"the table schema has {ex_t!r} — declarations "
                        f"must match the existing geo type exactly"
                    )
            if changed:
                schema_id = (
                    max(
                        s.get("schema-id", 0)
                        for s in md.get("schemas") or [{}]
                    )
                    + 1
                )
                all_schemas = (md.get("schemas") or []) + [
                    {
                        "type": "struct",
                        "schema-id": schema_id,
                        "fields": ice_fields,
                    }
                ]
            else:
                schema_id = md.get("current-schema-id", 0)
                all_schemas = md.get("schemas") or [
                    {
                        "type": "struct",
                        "schema-id": 0,
                        "fields": ice_fields,
                    }
                ]
        id_by_name = {f["name"]: f["id"] for f in ice_fields}
        spark_types = {
            f.name: f.dataType.simpleString() for f in batch_struct.fields
        }
        from deimos_spark.operators.iceberg_transforms import (
            WRITABLE_SOURCES,
            result_spark_type,
        )

        for pf in self.partition_fields:
            if pf.source not in id_by_name:
                raise IcebergProtocolError(
                    f"partition source column {pf.source!r} not in schema"
                )
            if spark_types[pf.source] not in WRITABLE_SOURCES.get(
                pf.kind, ()
            ):
                raise IcebergProtocolError(
                    f"{pf.spec_transform} over {spark_types[pf.source]!r} "
                    f"column {pf.source!r} unsupported (accepts: "
                    f"{WRITABLE_SOURCES.get(pf.kind, ())})"
                )

        files = (
            self._write_data_files(
                _with_write_defaults(df, ice_fields),
                pre_arranged=pre_arranged,
            )
            if df is not None
            else list(pre_written or [])
        )
        written = [p for p, _, _, _ in files] if df is not None else []
        uid = uuid.uuid4().hex[:12]

        entry_schema = _MANIFEST_ENTRY_SCHEMA
        if fv >= 3:
            # v3 row lineage: every added data file carries an explicit
            # first_row_id (spec field 142)
            entry_schema = json.loads(json.dumps(_MANIFEST_ENTRY_SCHEMA))
            entry_schema["fields"][-1]["type"]["fields"].append(
                {
                    "name": "first_row_id",
                    "type": ["null", "long"],
                    "default": None,
                    "field-id": 142,
                }
            )
        if self.partition_fields:
            entry_schema = json.loads(json.dumps(entry_schema))
            pfields = [
                {
                    "name": pf.name,
                    "type": [
                        "null",
                        self._PARTITION_AVRO[
                            result_spark_type(pf, spark_types[pf.source])
                        ],
                    ],
                    "default": None,
                    "field-id": 1000 + i,
                }
                for i, pf in enumerate(self.partition_fields)
            ]
            entry_schema["fields"][-1]["type"]["fields"].insert(
                2,
                {
                    "name": "partition",
                    "field-id": 102,
                    "type": {
                        "type": "record",
                        "name": "r102",
                        "fields": pfields,
                    },
                },
            )

        # v3 row lineage: files claim contiguous row-id ranges starting
        # at the table's next-row-id; the metadata advances past them
        row_cursor = (md or {}).get("next-row-id", 0) if fv >= 3 else None

        # spec sort orders: PRESERVE whatever the table already
        # declares (previously clobbered to []); when this writer
        # sorts, reuse a matching existing order or mint the next
        # order-id, and stamp it as the default + on each data file
        prior_sos = (md.get("sort-orders") if md else None) or [
            {"order-id": 0, "fields": []}
        ]
        default_so = (md or {}).get("default-sort-order-id", 0)
        soid = None
        if self.sort_by and df is not None:
            unknown_sort = [
                c for c in self.sort_by if c not in id_by_name
            ]
            if unknown_sort:
                raise IcebergProtocolError(
                    f"sort_by columns {unknown_sort} not in table schema"
                )
            want = [
                {
                    "transform": "identity",
                    "source-id": id_by_name[c],
                    "direction": "asc",
                    "null-order": "nulls-first",
                }
                for c in self.sort_by
            ]
            hit = next(
                (s for s in prior_sos if s.get("fields") == want), None
            )
            if hit is None:
                soid = (
                    max(s.get("order-id", 0) for s in prior_sos) + 1
                )
                prior_sos = prior_sos + [
                    {"order-id": soid, "fields": want}
                ]
            else:
                soid = hit["order-id"]
            default_so = soid

        def _data_file(p, rows, size, pvals):
            nonlocal row_cursor
            lower, upper = _file_column_bounds(p, ice_fields)
            d = {
                "content": 0,
                "file_path": f"file://{p}",
                **({"partition": pvals} if self.partition_fields else {}),
                "file_format": "PARQUET",
                "record_count": rows,
                "file_size_in_bytes": size,
                "lower_bounds": lower,
                "upper_bounds": upper,
                "sort_order_id": soid,
            }
            if row_cursor is not None:
                d["first_row_id"] = row_cursor
                row_cursor += rows
            return d

        def _field_summaries(data_files):
            """Spec field-507 summaries: per partition field (spec
            order), null presence + single-value-serialized min/max of
            the files' transformed partition tuples. Bounds omitted
            (None) for unserializable values — skipping disabled, never
            wrong."""
            if not self.partition_fields:
                return None
            from deimos_spark.operators.iceberg_transforms import (
                single_value_serialize,
            )

            out = []
            for pf in self.partition_fields:
                at = self._PARTITION_AVRO[
                    result_spark_type(pf, spark_types[pf.source])
                ]
                vals = [
                    (d.get("partition") or {}).get(pf.name)
                    for d in data_files
                ]
                nn = [v for v in vals if v is not None]
                out.append(
                    {
                        "contains_null": any(v is None for v in vals),
                        "contains_nan": None,
                        "lower_bound": (
                            single_value_serialize(at, min(nn)) if nn else None
                        ),
                        "upper_bound": (
                            single_value_serialize(at, max(nn)) if nn else None
                        ),
                    }
                )
            return out

        manifests = []

        def _add_manifest(prefix, schema, content, data_files, partitions=None):
            """One manifest of ADDED entries: each kind of file gets its
            own, as the manifest list's `content` is data(0) XOR
            deletes(1)."""
            mpath = os.path.join(self.meta_dir, f"{prefix}-{uid}.avro")
            ocf_write(
                mpath,
                schema,
                [
                    {
                        "status": 1,  # ADDED
                        "snapshot_id": snap_id,
                        "sequence_number": seq,
                        "file_sequence_number": seq,
                        "data_file": d,
                    }
                    for d in data_files
                ],
            )
            written.append(mpath)
            manifests.append(
                {
                    "manifest_path": f"file://{mpath}",
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": 0,
                    "content": content,
                    "sequence_number": seq,
                    "min_sequence_number": seq,
                    "added_snapshot_id": snap_id,
                    "added_files_count": len(data_files),
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                    "added_rows_count": sum(
                        d["record_count"] for d in data_files
                    ),
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                    "partitions": partitions,
                }
            )

        def _delete_file(p, rows, size, content, **extra):
            return {
                "content": content,
                "file_path": f"file://{p}",
                "file_format": "PARQUET",
                "record_count": rows,
                "file_size_in_bytes": size,
                **extra,
            }

        if files:
            data_files = [_data_file(*f) for f in files]
            _add_manifest(
                "m", entry_schema, 0, data_files, _field_summaries(data_files)
            )
        if delete_files:
            _add_manifest(
                "d",
                _MANIFEST_ENTRY_SCHEMA,
                1,
                [_delete_file(p, r, n, 1) for p, r, n, _ in delete_files],
            )
        if eq_delete_files:
            if not eq_key_cols:
                raise IcebergProtocolError(
                    "eq_delete_files requires eq_key_cols"
                )
            try:
                eq_ids = [id_by_name[c] for c in eq_key_cols]
            except KeyError as e:
                raise IcebergProtocolError(
                    f"equality key column {e} not in schema"
                ) from None
            eq_schema = json.loads(json.dumps(_MANIFEST_ENTRY_SCHEMA))
            eq_schema["fields"][-1]["type"]["fields"].append(
                {
                    "name": "equality_ids",
                    "type": ["null", {"type": "array", "items": "int"}],
                    "default": None,
                    "field-id": 135,
                }
            )
            _add_manifest(
                "e",
                eq_schema,
                1,
                [
                    _delete_file(p, r, n, 2, equality_ids=eq_ids)
                    for p, r, n, _ in eq_delete_files
                ],
            )
        if dv_entries:
            _add_manifest(
                "dv",
                _dv_manifest_entry_schema(),
                1,
                [
                    {
                        "content": 1,
                        "file_path": f"file://{self._local_path(d['puffin_path'])}",
                        "file_format": "PUFFIN",
                        "record_count": d["cardinality"],
                        "file_size_in_bytes": os.path.getsize(
                            self._local_path(d["puffin_path"])
                        ),
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "referenced_data_file": d["referenced_data_file"],
                        "content_offset": d["offset"],
                        "content_size_in_bytes": d["size"],
                    }
                    for d in dv_entries
                ],
            )
        if not overwrite and md is not None:
            # append: carry the previous snapshot's manifests forward
            prev = next(
                (
                    s
                    for s in md.get("snapshots", [])
                    if s["snapshot-id"] == md.get("current-snapshot-id")
                ),
                None,
            )
            if prev is not None:
                _, prev_manifests = ocf_read(
                    self._local_path(prev["manifest-list"])
                )
                if drop_dv_for:
                    prev_manifests = self._rewrite_superseded_dvs(
                        prev_manifests, drop_dv_for, uid, written
                    )
                defaults = {
                    "partition_spec_id": 0,
                    "content": 0,
                    "sequence_number": seq - 1,
                    "min_sequence_number": 0,
                    "added_snapshot_id": 0,
                    "added_files_count": 0,
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                    "added_rows_count": 0,
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                    "partitions": None,
                }
                for pm in prev_manifests:
                    pm = dict(pm)
                    for k, v in defaults.items():
                        if pm.get(k) is None:
                            pm[k] = v
                    manifests.append(pm)
        mlpath = os.path.join(self.meta_dir, f"snap-{snap_id}-{uid}.avro")
        ocf_write(mlpath, _MANIFEST_FILE_SCHEMA, manifests)
        written.append(mlpath)

        snapshot = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": now,
            "manifest-list": f"file://{mlpath}",
            "summary": {
                "operation": "overwrite"
                if (overwrite or delete_files or eq_delete_files or dv_entries)
                else "append",
                **(summary_extra or {}),
            },
            "schema-id": schema_id,
        }
        if fv >= 3:
            snapshot["first-row-id"] = (md or {}).get("next-row-id", 0)
        if md is not None and md.get("current-snapshot-id") not in (None, -1):
            # spec optional field; incremental scans walk this lineage
            snapshot["parent-snapshot-id"] = md["current-snapshot-id"]
        new_md = {
            "format-version": fv,
            "table-uuid": (
                md.get("table-uuid")
                if md
                else "00000000-0000-0000-0000-0000000000" + f"{snap_id:02d}"
            ),
            "location": f"file://{self.path}",
            "last-sequence-number": seq,
            "last-updated-ms": now,
            "last-column-id": last_col_id,
            "schemas": all_schemas,
            "current-schema-id": schema_id,
            "partition-specs": [
                {
                    "spec-id": 0,
                    "fields": [
                        {
                            "name": pf.name,
                            "transform": pf.spec_transform,
                            "source-id": id_by_name[pf.source],
                            "field-id": 1000 + i,
                        }
                        for i, pf in enumerate(self.partition_fields)
                    ],
                }
            ],
            "default-spec-id": 0,
            "last-partition-id": 999 + len(self.partition_fields),
            "sort-orders": prior_sos,
            "default-sort-order-id": default_so,
            "snapshots": (md.get("snapshots", []) if md else []) + [snapshot],
            "current-snapshot-id": snap_id,
            # spec `refs`: main tracks the current snapshot; every
            # other ref (tags, audit branches) is preserved verbatim
            "refs": {
                **((md.get("refs") if md else None) or {}),
                "main": {"snapshot-id": snap_id, "type": "branch"},
            },
            "snapshot-log": (md.get("snapshot-log", []) if md else [])
            + [{"snapshot-id": snap_id, "timestamp-ms": now}],
            "metadata-log": [],
        }
        if fv >= 3:
            new_md["next-row-id"] = row_cursor
        return new_md, written

    def _rewrite_superseded_dvs(
        self,
        prev_manifests: list[dict],
        drop_dv_for: set[str],
        uid: str,
        written: list[str],
    ) -> list[dict]:
        """Carry-forward filter for the one-live-DV-per-file rule:
        delete manifests holding PUFFIN entries whose
        referenced_data_file is being re-DV'd this commit are rewritten
        without them (dropped entirely when nothing survives); the
        rewritten manifests' paths are appended to `written`. Opens
        only content=1 manifests — at scale that is the bounded delete-
        manifest set, and optimize() resets it."""
        from deimos_spark.schemas.avro_ocf import ocf_read, ocf_write

        out: list[dict] = []
        for i, pm in enumerate(prev_manifests):
            if (pm.get("content") or 0) != 1:
                out.append(pm)
                continue
            mpath = self._local_path(pm["manifest_path"])
            _, entries = ocf_read(mpath)
            survivors = [
                e
                for e in entries
                if not (
                    str(e["data_file"].get("file_format", "")).upper()
                    == "PUFFIN"
                    and e["data_file"].get("referenced_data_file")
                    in drop_dv_for
                )
            ]
            if len(survivors) == len(entries):
                out.append(pm)
                continue
            if not survivors:
                continue  # every entry superseded: drop the manifest
            rpath = os.path.join(self.meta_dir, f"dvr-{uid}-{i}.avro")
            ocf_write(rpath, _dv_manifest_entry_schema(), survivors)
            written.append(rpath)
            npm = dict(pm)
            npm["manifest_path"] = f"file://{rpath}"
            npm["manifest_length"] = os.path.getsize(rpath)
            npm["added_files_count"] = len(survivors)
            npm["added_rows_count"] = sum(
                e["data_file"].get("record_count") or 0 for e in survivors
            )
            out.append(npm)
        return out

    def _local_path(self, uri: str) -> str:
        return uri[len("file://"):] if uri.startswith("file://") else uri

    def append(self, df: DataFrame, merge_schema: bool = False) -> None:
        """Schema-enforced (type conflicts and new columns refuse);
        `merge_schema=True` evolves: new columns appended as OPTIONAL
        fields with fresh ids past last-column-id, committed as a new
        schema-id — prior snapshots keep referencing theirs."""
        self._snapshot_commit(df, overwrite=False, merge_schema=merge_schema)

    def add_files(self, src_dir: str) -> int:
        """Iceberg's `add_files`/migrate procedure: register EXISTING
        parquet files as one append snapshot WITHOUT rewriting data —
        manifests simply reference them by absolute path (spec:
        `file_path` is a full URI, files need not live under the
        table location). Manifest entries are built by the exact same
        code as written files, so footer-derived column bounds (and
        with them stats skipping) work on migrated files immediately;
        the table's schema gate runs against the files' Spark-inferred
        schema, refusing drift exactly like append.

        Scope, refused loudly: only FLAT directories of parquet
        (hive-partitioned layouts need a partition-spec mapping this
        reader does not infer) and only unpartitioned table specs.
        Returns the number of files registered."""
        if self.partition_fields:
            raise IcebergProtocolError(
                "add_files supports unpartitioned table specs only — "
                "a partitioned migration needs per-file partition "
                "values this procedure does not infer"
            )
        files: list[tuple[str, int, int, dict]] = []
        for n in sorted(os.listdir(src_dir)):
            full = os.path.join(src_dir, n)
            if os.path.isdir(full):
                if "=" in n or any(
                    f.endswith(".parquet") for f in os.listdir(full)
                ):
                    raise IcebergProtocolError(
                        f"add_files: {src_dir} is not a flat parquet "
                        f"directory (subdir {n!r}); hive layouts need "
                        f"an explicit partition spec"
                    )
                continue
            if not n.endswith(".parquet"):
                continue
            files.append((full, footer(full).rows, os.path.getsize(full), {}))
        if not files:
            raise IcebergProtocolError(
                f"add_files: no parquet files under {src_dir}"
            )
        schema = self.spark.read.parquet(src_dir).schema
        self._snapshot_commit(
            None,
            overwrite=False,
            schema_override=schema,
            pre_written=files,
            summary_extra={"added-migrated-files": str(len(files))},
        )
        return len(files)

    def overwrite(self, df: DataFrame, merge_schema: bool = False) -> None:
        """Same enforcement as append — an overwrite replaces DATA, not
        identity: field ids are forever (the spec forbids reuse), so a
        wholesale schema replacement is refused rather than risked;
        additive evolution via merge_schema is the supported path."""
        self._snapshot_commit(df, overwrite=True, merge_schema=merge_schema)

    def set_ref(
        self,
        name: str,
        snapshot_id: int | None = None,
        ref_type: str = "tag",
    ) -> None:
        """Create or move a ref (spec `refs` map): `ref_type` "tag"
        pins a snapshot (audit states, WAP publishes), "branch" names a
        movable head. Default snapshot is the current one. Renaming
        "main" by hand is refused — the writer owns it."""
        if ref_type not in ("tag", "branch"):
            raise ValueError(f"ref_type {ref_type!r}: tag or branch")
        if name == "main":
            raise ValueError("'main' is writer-managed")
        mv, md = self._current()
        if md is None:
            raise IcebergProtocolError("no table to tag")
        sid = (
            snapshot_id
            if snapshot_id is not None
            else md.get("current-snapshot-id")
        )
        if sid in (None, -1):
            raise IcebergProtocolError("table has no snapshot to tag")
        if not any(
            s.get("snapshot-id") == sid for s in md.get("snapshots") or []
        ):
            raise IcebergProtocolError(f"snapshot {sid} not found")
        new_md = dict(md)
        new_md["refs"] = {
            **(md.get("refs") or {}),
            name: {"snapshot-id": int(sid), "type": ref_type},
        }
        self._commit(mv + 1, new_md)

    def drop_ref(self, name: str) -> None:
        if name == "main":
            raise ValueError("'main' is writer-managed")
        mv, md = self._current()
        refs = dict((md or {}).get("refs") or {})
        if name not in refs:
            raise IcebergProtocolError(f"ref {name!r} not found")
        del refs[name]
        new_md = dict(md)
        new_md["refs"] = refs
        self._commit(mv + 1, new_md)

    def expire_snapshots(
        self,
        keep_last: int = 1,
        retention_seconds: float = 3600.0,
    ) -> list[str]:
        """The Iceberg maintenance pair to Delta's vacuum: rewrite table
        metadata retaining only the last `keep_last` snapshots, then
        delete data/delete/manifest files no retained snapshot
        references (returned as a path list). Time travel past the
        retained window is gone — the documented trade-off.

        Files younger than `retention_seconds` are kept even when
        unreferenced: writers place files before committing, so an
        expiry racing an in-flight append would otherwise delete files
        its about-to-succeed commit references (same rationale as
        Delta vacuum's window; pass 0.0 only when no concurrent writer
        can exist)."""
        import time as _time

        mv, md = self._current()
        if md is None:
            return []
        snaps = md.get("snapshots") or []
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        # spec ref retention: a snapshot targeted by ANY ref (tag or
        # branch head) never expires — tags exist precisely to pin
        # audit states past the time-based window
        ref_ids = {
            int(r["snapshot-id"])
            for r in (md.get("refs") or {}).values()
            if r.get("snapshot-id") is not None
        }
        tail = snaps[-keep_last:]
        tail_ids = {s["snapshot-id"] for s in tail}
        retained = [
            s
            for s in snaps
            if s["snapshot-id"] in tail_ids or s["snapshot-id"] in ref_ids
        ]
        if len(retained) == len(snaps):
            kept_all = True
        else:
            kept_all = False
            new_md = dict(md)
            new_md["snapshots"] = retained
            new_md["snapshot-log"] = [
                e
                for e in md.get("snapshot-log", [])
                if e.get("snapshot-id")
                in {s["snapshot-id"] for s in retained}
            ]
            self._commit(mv + 1, new_md)

        # referenced-file closure of the RETAINED snapshots
        reader = IcebergTableReader(self.spark, self.path)
        keep: set[str] = set()
        for s in retained:
            ml = reader._local(s["manifest-list"])
            keep.add(os.path.abspath(ml))
            _, manifests = ocf_read(ml)
            for mf in manifests:
                mp = reader._local(mf["manifest_path"])
                keep.add(os.path.abspath(mp))
                _, entries = ocf_read(mp)
                for e in entries:
                    if e.get("status") == 2:
                        continue
                    keep.add(
                        os.path.abspath(
                            reader._local(e["data_file"]["file_path"])
                        )
                    )
        deleted: list[str] = []
        cutoff = _time.time() - retention_seconds
        roots = [self.data_dir, self.meta_dir]
        for root in roots:
            for dirpath, _, names in os.walk(root):
                for n in names:
                    # .puffin: superseded deletion-vector containers
                    # become orphans once every manifest entry that
                    # referenced them is rewritten away — live ones are
                    # in the keep set via their entries' file_path
                    if not (
                        n.endswith(".parquet")
                        or n.endswith(".avro")
                        or n.endswith(".puffin")
                    ):
                        continue
                    ap = os.path.abspath(os.path.join(dirpath, n))
                    if ap in keep:
                        continue
                    try:
                        if os.path.getmtime(ap) > cutoff:
                            continue  # young: possibly in-flight
                        os.unlink(ap)
                        deleted.append(ap)
                    except OSError:
                        pass
        if kept_all and not deleted:
            return []
        return deleted


class IcebergKeyedTable:
    """MERGE semantics over an Iceberg table, merge-on-read — the
    Iceberg twin of `DeltaKeyedTable(use_dvs=True)`: a merge appends its
    upserts as new data files and records its deletes in delete files
    instead of rewriting survivors, so it costs O(batch + delete-file
    metadata), not O(table). This is the low-shuffle shape real engines
    (Spark/Flink Iceberg writers) emit; any spec-conforming reader —
    ours included — applies the deletes at scan time. `delete_mode`
    picks the on-disk delete format outside readers must support:
    "position" (v2 position-delete files), "equality" (v2
    equality-delete files) or "dv" (v3 Puffin deletion vectors).
    `partition_by` is accepted in every mode.

    `optimize()` compacts: rewrites current live rows as a fresh
    overwrite snapshot, after which accumulated delete files stop
    costing their scan-time anti-join.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols,
        max_commit_retries: int = 5,
        delete_mode: str = "position",
        partition_by: tuple[str, ...] = (),
    ):
        if delete_mode not in ("position", "equality", "dv"):
            raise ValueError(
                f"delete_mode must be position|equality|dv, got {delete_mode!r}"
            )
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        # "position": probe-scan for row positions, write (path, pos)
        # delete files — read-side cost is one anti-join, merge pays an
        # O(table) key-probe scan. "equality": write just the batch's
        # KEYS as a content=2 equality-delete file — merge is O(batch)
        # with NO table scan at all (the Flink CDC upsert shape); reads
        # pay a null-safe anti-join per delete generation until
        # optimize() compacts. At 100 TB with frequent keyed batches,
        # equality mode is the only merge whose cost is independent of
        # table size.
        # "dv" (v3): like position mode, but the (file, pos) hits land
        # as Puffin deletion vectors — one roaring bitmap per touched
        # data file, superseding that file's previous DV (the spec's
        # one-live-DV-per-file rule), so read-side delete state stays
        # O(deleted files), never O(merge count); the table is written
        # as format-version 3 with row lineage.
        self.delete_mode = delete_mode
        # partitioned keyed tables work in ALL delete modes: Iceberg
        # data files keep their source columns (unlike Delta), so the
        # position-mode probe scan and the equality-mode anti-join see
        # partition columns like any other; only the upsert WRITE path
        # needs the partition spec
        self.writer = IcebergTableWriter(
            spark,
            path,
            max_commit_retries=max_commit_retries,
            partition_by=partition_by,
            format_version=3 if delete_mode == "dv" else 2,
        )
        # delete files (position pairs / equality keys) are never
        # partitioned data files — they write through a plain writer
        self._delete_writer = (
            self.writer
            if not partition_by
            else IcebergTableWriter(spark, path)
        )

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        return IcebergTableReader(self.spark, self.path).read(snapshot_id)

    def upsert(self, batch: DataFrame) -> None:
        self.merge(upserts=batch)

    def delete(self, keys: DataFrame) -> None:
        self.merge(delete_keys=keys)

    def optimize(
        self,
        zorder_by: "list[str] | tuple[str, ...]" = (),
        curve: str = "z",
        n_files: int | None = None,
    ) -> None:
        """Compaction = overwrite with the CURRENT live rows. The read
        and the commit pin the same metadata version (r12): an
        unpinned overwrite racing a merge could commit rows read
        BEFORE that merge and silently roll it back.

        `zorder_by`: rewrite along a space-filling curve over those
        columns (curve "z" Morton / "hilbert" — the shape of Iceberg's
        own zorder/hilbert sort-order transforms) so the per-file
        lower/upper bounds recorded in the manifests prune files for
        predicates on ANY clustered column via the reader's
        stats_filter — where a linear sort_by only prunes its leading
        column."""

        def attempt(mv, md):
            if md is None:
                return None
            current = IcebergTableReader(
                self.spark, self.path, pin_version=mv
            ).read()
            if zorder_by:
                from deimos_spark.operators import layout

                current = layout.cluster_arrange_or_linear(
                    current, list(zorder_by), n_files=n_files, curve=curve,
                )
            commit = {
                "df": current,
                "overwrite": True,
                "pre_arranged": bool(zorder_by),
            }
            return commit, []

        self.writer._commit_loop(attempt)

    # snapshot-summary keys for idempotent merges (the Flink-Iceberg
    # pattern: Iceberg has no txn action, so the app's watermark rides
    # in each committed snapshot's summary)
    _TXN_APP_KEY = "deimos.txn.app-id"
    _TXN_VER_KEY = "deimos.txn.version"

    def _txn_watermark(self, md: dict | None, app_id: str) -> int:
        wm = -1
        for s in (md or {}).get("snapshots") or []:
            summ = s.get("summary") or {}
            if summ.get(self._TXN_APP_KEY) == app_id:
                try:
                    wm = max(wm, int(summ.get(self._TXN_VER_KEY, -1)))
                except (TypeError, ValueError):
                    pass
        return wm

    def merge(
        self,
        upserts: DataFrame | None = None,
        delete_keys: DataFrame | None = None,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """Upsert `upserts` and delete `delete_keys` by key in ONE
        snapshot. Every delete mode runs one body through the writer's
        commit loop: the txn watermark check, one reader pinned to the
        attempt's metadata version, one write of the upserts and one
        commit. Only the delete artifact differs by mode (see
        _delete_artifact). A table with no snapshot has no live files,
        so there is nothing to delete from.

        Empty batches: a zero-row output file is never committed. A
        merge that changes nothing commits nothing — unless it carries
        `txn`, whose watermark must still advance. The first merge of a
        table creates it from the upserts' schema even when they are
        empty; a delete-only merge before the first commit is a no-op.
        Equality mode never scans the table, so its key files commit
        whether or not they hit a live row.

        `txn=(app_id, version)` makes the merge IDEMPOTENT — the
        Iceberg flavor of Delta's txn action: the watermark rides in
        each committed snapshot's summary (the public Flink-Iceberg
        sink pattern) and a replayed (app_id, version) at or below the
        recorded maximum is a silent no-op. Caveat (same as Flink's):
        expire_snapshots retention must exceed the replay window, or an
        app whose last commit expired can be replayed."""
        summary_extra = None
        if txn is not None:
            summary_extra = {
                self._TXN_APP_KEY: str(txn[0]),
                self._TXN_VER_KEY: str(int(txn[1])),
            }
        affected = None
        for src in (upserts, delete_keys):
            if src is not None:
                k = src.select(*self.key_cols).distinct()
                affected = (
                    k if affected is None else affected.union(k).distinct()
                )
        if affected is None:
            return
        w = self.writer

        def attempt(mv, md):
            # the attempt's metadata anchors it all: the txn check, the
            # probe scan (reader pinned to mv) and the commit target
            # (v{mv+1}). A commit landing in between collides on that
            # version file and the loop retries on fresh state — without
            # the pin, stale deletes landed silently (a lost update,
            # caught by the r12 fuzz).
            if txn is not None and self._txn_watermark(
                md, str(txn[0])
            ) >= int(txn[1]):
                return None
            if md is None and upserts is None:
                return None  # no table to delete from, no schema to create
            commit = {
                "df": None, "overwrite": False, "summary_extra": summary_extra
            }
            written: list[str] = []
            if upserts is not None:
                fields = (_current_schema(md) or {}).get("fields") or []
                files = w._write_data_files(
                    _with_write_defaults(upserts, fields)
                )
                commit.update(pre_written=files, schema_override=upserts.schema)
                written += [p for p, _, _, _ in files]
            if md is not None:
                reader = IcebergTableReader(
                    self.spark, self.path, pin_version=mv
                )
                if upserts is None:
                    commit["schema_override"] = reader.schema()
                live = reader._file_sets(None)
                if live[0]:
                    artifact, paths = self._delete_artifact(
                        reader, live, affected
                    )
                    commit.update(artifact)
                    written += paths
                if not written and txn is None:
                    return None
            return commit, written

        w._commit_loop(attempt)

    def _delete_artifact(
        self, reader: IcebergTableReader, live: tuple, affected: DataFrame
    ) -> tuple[dict, list[str]]:
        """merge's one mode-specific step: record the deletion of
        `affected`'s keys from the live data files (`live` =
        reader._file_sets) → (_snapshot keyword arguments, files
        written); no file when nothing is deleted.
        - equality: the batch keys themselves, as equality-delete files;
        - position: the probe scan's hits as (file_path, pos) files;
        - dv: each hit file's live DV widened by its hits, in one puffin.
        """
        from pyspark.sql import functions as F

        data, _, _, live_dvs = live
        if self.delete_mode == "equality":
            # no probe scan: the delete files ARE the key batch — written
            # with the batch's natural partitioning (the spec allows many
            # equality-delete files per commit; coalesce(1) here would
            # funnel a 100M-key delete batch through one task)
            files = self._delete_writer._write_data_files(affected)
            return (
                {"eq_delete_files": files, "eq_key_cols": self.key_cols},
                [p for p, _, _, _ in files],
            )
        # the key-only probe scan: hits aggregate per FILE executor-side;
        # the driver only ever streams one file's position list at a
        # time (DV mode) or nothing at all (position mode writes the
        # delete files distributedly) — never the full O(matched rows)
        # pair list a 50M-row delete batch would otherwise materialize.
        # A key an earlier merge already deleted must be no hit, so a
        # re-delete writes nothing: position mode probes the pinned
        # reader's delete-applied view; dv mode probes the raw files and
        # drops the old DV's positions on the driver, in the fold below,
        # which reads each hit file's old DV anyway (no executor-side
        # DV expansion).
        rec_by_fp = {"file:" + local: rec for rec, local, _, _, _ in data}
        if self.delete_mode == "position":
            probe = reader.read(_keep_meta=True)
            fp, pos = F.col("__ice_fp"), F.col("__ice_pos")
        else:
            probe = reader._scan_parquet([local for _, local, _, _, _ in data])
            fp = F.col("_metadata.file_path")
            pos = F.col("_metadata.row_index")
        hits = (
            probe.select(*self.key_cols, fp.alias("__fp"), pos.alias("__pos"))
            .join(affected, self.key_cols, "left_semi")
            .groupBy("__fp")
            .agg(
                F.sort_array(
                    F.collect_list(F.col("__pos").cast("long"))
                ).alias("__poss")
            )
        )
        if self.delete_mode == "position":
            # map the scan's file URI back to the manifest's record path
            # via a tiny broadcast relation; the sort keeps the spec's
            # (file_path, pos) order inside each delete file
            fp_map = self.spark.createDataFrame(
                sorted(rec_by_fp.items()), "__fp string, file_path string"
            )
            files = self._delete_writer._write_data_files(
                hits.select("__fp", F.explode("__poss").alias("pos"))
                .join(F.broadcast(fp_map), "__fp")
                .select("file_path", "pos")
                .sort("file_path", "pos")
            )
            return {"delete_files": files}, [p for p, _, _, _ in files]

        import uuid

        import numpy as np

        from deimos_spark.operators.puffin import (
            _frame_positions,
            read_dv_blob,
            write_puffin_framed,
        )

        # fold the hits into each touched file's EXISTING live DV (the
        # spec's one-DV-per-file rule: the replacement supersedes, so it
        # must carry the union); keep only the framed (compressed
        # roaring) blob per file
        old_dvs = {ref: (lp, off, size) for ref, lp, off, size in live_dvs}
        framed: dict[str, tuple[bytes, int]] = {}
        for r in hits.toLocalIterator():
            rec = rec_by_fp.get(r["__fp"])
            if rec is None:
                continue
            idx = np.asarray(r["__poss"], dtype=np.int64)
            if rec in old_dvs:
                old = read_dv_blob(*old_dvs[rec])
                if np.isin(idx, old).all():
                    continue  # every hit is already deleted
                idx = np.union1d(idx, old)
            framed[rec] = _frame_positions(idx)
        if not framed:
            return {}, []
        puffin = os.path.join(
            self.writer.data_dir, f"dv-{uuid.uuid4().hex[:12]}.puffin"
        )
        blob_meta = write_puffin_framed(puffin, framed)
        dv_entries = [
            {
                "referenced_data_file": rec,
                "puffin_path": puffin,
                "offset": off,
                "size": size,
                "cardinality": card,
            }
            for rec, (off, size, card) in sorted(blob_meta.items())
        ]
        superseded = set(framed) & set(old_dvs)
        return (
            {"dv_entries": dv_entries, "drop_dv_for": superseded or None},
            [puffin],
        )
