"""Deletion-vector reads: the deltadv codec (Z85, portable Roaring,
portable 64-bit RoaringBitmapArray, DV file framing+CRC) and
DeltaTableReader integration — hand-authored minReaderVersion-3 logs per
the public protocol spec, rows dropped by file-local row index.
"""

import json
import os

import numpy as np
import pytest
from pyspark.sql import types as T

from deimos_spark.operators import deltadv
from deimos_spark.operators.delta_interop import (
    DeltaProtocolError,
    DeltaTableReader,
)
from tests.test_delta_interop import (
    SCHEMA_JSON,
    _add,
    _commit,
    _meta,
    _write_data_file,
)

PROTO_V3 = {
    "protocol": {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
        "writerFeatures": ["deletionVectors"],
    }
}


# ------------------------------------------------------------- codec unit


def test_z85_roundtrip():
    for data in (b"", b"\x00\x00\x00\x00", b"\xff" * 8, bytes(range(32))):
        assert deltadv.z85_decode(deltadv.z85_encode(data)) == data
    with pytest.raises(deltadv.DeletionVectorError):
        deltadv.z85_decode("abc")  # not a multiple of 5


@pytest.mark.parametrize(
    "indexes",
    [
        [],
        [0],
        [0, 1, 2, 5, 65535, 65536, 70000],
        list(range(5000)),  # forces a bitmap container (card > 4096)
        [2**32 + 7, 2**33 + 1, 3],  # multiple high-32 bitmaps
    ],
)
def test_bitmap_array_roundtrip(indexes):
    idx = np.asarray(indexes, dtype=np.int64)
    data = deltadv.serialize_bitmap_array(idx)
    out = deltadv.deserialize_bitmap_array(data)
    assert out.tolist() == sorted(set(indexes))


def test_bitmap_array_golden_bytes():
    """Pin the EXACT portable byte layout from PROTOCOL.md ("Deletion
    Vector Format"): magic, count of NON-EMPTY bitmaps (8B LE), then per
    bitmap a 4-byte LE key followed by a standard portable 32-bit
    Roaring bitmap. Hand-derived from the spec — not a self-round-trip —
    so a drift back to a keyless/dense layout fails here even though
    serialize+deserialize would still agree with each other.
    """
    import struct

    def roaring32_array(vals16):  # one array container, key 0
        return (
            struct.pack("<II", 12346, 1)           # no-run cookie, 1 container
            + struct.pack("<HH", 0, len(vals16) - 1)  # key 0, card-1
            + struct.pack("<I", 16)                # offset header
            + b"".join(struct.pack("<H", v) for v in vals16)
        )

    # values {3, 5, 2^32+3}: keys 0 and 1, both present
    expect = (
        struct.pack("<Iq", deltadv.MAGIC, 2)
        + struct.pack("<I", 0) + roaring32_array([3, 5])
        + struct.pack("<I", 1) + roaring32_array([3])
    )
    got = deltadv.serialize_bitmap_array(
        np.array([3, 5, (1 << 32) + 3], dtype=np.int64)
    )
    assert got == expect
    assert deltadv.deserialize_bitmap_array(expect).tolist() == [
        3, 5, (1 << 32) + 3,
    ]

    # SPARSE keys {0, 5}: the portable format stores 2 bitmaps with
    # explicit keys — NOT 6 dense slots. This is the real-engine
    # compatibility case the keyless layout broke.
    sparse = (
        struct.pack("<Iq", deltadv.MAGIC, 2)
        + struct.pack("<I", 0) + roaring32_array([7])
        + struct.pack("<I", 5) + roaring32_array([9])
    )
    idx = np.array([7, (5 << 32) + 9], dtype=np.int64)
    assert deltadv.serialize_bitmap_array(idx) == sparse
    assert deltadv.deserialize_bitmap_array(sparse).tolist() == idx.tolist()

    # keys must be strictly increasing — a duplicated/decreasing key is
    # a corrupt payload, not a silent merge
    bad = (
        struct.pack("<Iq", deltadv.MAGIC, 2)
        + struct.pack("<I", 5) + roaring32_array([1])
        + struct.pack("<I", 5) + roaring32_array([2])
    )
    with pytest.raises(deltadv.DeletionVectorError, match="increasing"):
        deltadv.deserialize_bitmap_array(bad)


def test_run_container_decode():
    """Hand-build a SERIAL_COOKIE run-container bitmap and decode it."""
    import struct

    # one container, run flag set, runs [(10, len 5), (100, len 1)]
    buf = struct.pack("<I", deltadv._SERIAL_COOKIE | (0 << 16))
    buf += b"\x01"  # run flag bitset: container 0 is a run container
    buf += struct.pack("<HH", 0, 7 - 1)  # key 0, cardinality 7
    buf += struct.pack("<H", 2)  # 2 runs (size<4 → no offset header)
    buf += struct.pack("<HH", 10, 4)  # 10..14
    buf += struct.pack("<HH", 100, 1)  # 100..101
    vals, pos = deltadv._deserialize_roaring32(bytes(buf), 0)
    assert pos == len(buf)
    assert vals.tolist() == [10, 11, 12, 13, 14, 100, 101]


def test_dv_file_roundtrip(tmp_path):
    table = str(tmp_path)
    idx = np.array([1, 3, 2**32 + 4], dtype=np.int64)
    desc = deltadv.write_dv_file(table, idx, prefix="ab")
    assert desc["storageType"] == "u"
    assert desc["cardinality"] == 3
    out = deltadv.dv_row_indexes(table, desc)
    assert out.tolist() == [1, 3, 2**32 + 4]


def test_dv_file_crc_detects_corruption(tmp_path):
    table = str(tmp_path)
    desc = deltadv.write_dv_file(table, np.array([5, 6], dtype=np.int64))
    u = desc["pathOrInlineDv"]
    fname = next(f for f in os.listdir(table) if f.startswith("deletion_"))
    p = os.path.join(table, fname)
    blob = bytearray(open(p, "rb").read())
    blob[10] ^= 0xFF
    open(p, "wb").write(bytes(blob))
    with pytest.raises(deltadv.DeletionVectorError, match="checksum"):
        deltadv.dv_row_indexes(table, desc)
    assert u  # descriptor untouched — the FILE is what failed


def test_inline_descriptor_roundtrip(tmp_path):
    desc = deltadv.inline_dv_descriptor(np.array([0, 9, 100], dtype=np.int64))
    assert desc["storageType"] == "i"
    out = deltadv.dv_row_indexes(str(tmp_path), desc)
    assert out.tolist() == [0, 9, 100]


# ------------------------------------------------------- reader integration


def _add_dv(path, desc, pvals=None):
    a = _add(path, pvals)
    a["add"]["deletionVector"] = desc
    return a


def test_read_drops_dv_rows(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    rows = [(i, f"v{i}") for i in range(10)]
    _write_data_file(spark, table, "part-0.parquet", rows)
    # rows 2, 5, 7 soft-deleted via an on-disk DV
    desc = deltadv.write_dv_file(table, np.array([2, 5, 7], dtype=np.int64))
    _commit(table, 0, [PROTO_V3, _meta(), _add_dv("part-0.parquet", desc)])
    got = sorted(
        r.id for r in DeltaTableReader(spark, table).read().collect()
    )
    assert got == [0, 1, 3, 4, 6, 8, 9]


def test_read_mixes_clean_and_dv_files(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    _write_data_file(spark, table, "a.parquet", [(i, "a") for i in range(5)])
    _write_data_file(
        spark, table, "b.parquet", [(i, "b") for i in range(5, 10)]
    )
    desc = deltadv.inline_dv_descriptor(np.array([0, 4], dtype=np.int64))
    _commit(
        table,
        0,
        [PROTO_V3, _meta(), _add("a.parquet"), _add_dv("b.parquet", desc)],
    )
    got = sorted(
        r.id for r in DeltaTableReader(spark, table).read().collect()
    )
    # b.parquet local rows 0 and 4 are ids 5 and 9
    assert got == [0, 1, 2, 3, 4, 6, 7, 8]


def test_dv_updated_by_readd(spark, tmp_path):
    """MERGE-style history: re-adding a file with a wider DV replaces the
    old entry; time travel still sees the narrow one."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    _write_data_file(spark, table, "f.parquet", [(i, "x") for i in range(6)])
    d1 = deltadv.inline_dv_descriptor(np.array([1], dtype=np.int64))
    d2 = deltadv.inline_dv_descriptor(np.array([1, 2, 3], dtype=np.int64))
    _commit(table, 0, [PROTO_V3, _meta(), _add_dv("f.parquet", d1)])
    _commit(
        table,
        1,
        [
            {"remove": {"path": "f.parquet", "dataChange": True}},
            _add_dv("f.parquet", d2),
        ],
    )
    rd = DeltaTableReader(spark, table)
    assert sorted(r.id for r in rd.read().collect()) == [0, 4, 5]
    assert sorted(r.id for r in rd.read(version=0).collect()) == [
        0, 2, 3, 4, 5,
    ]


def test_dv_on_partitioned_table(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    schema_json = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": False, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                {"name": "p", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    _write_data_file(spark, table, "p=x/a.parquet", [(1, "a"), (2, "b")])
    _write_data_file(spark, table, "p=y/b.parquet", [(3, "c"), (4, "d")])
    desc = deltadv.inline_dv_descriptor(np.array([0], dtype=np.int64))
    _commit(
        table,
        0,
        [
            PROTO_V3,
            _meta(schema_json, ("p",)),
            _add("p=x/a.parquet", {"p": "x"}),
            _add_dv("p=y/b.parquet", desc, {"p": "y"}),
        ],
    )
    got = {(r.id, r.p) for r in DeltaTableReader(spark, table).read().collect()}
    assert got == {(1, "x"), (2, "x"), (4, "y")}  # id 3 deleted


def test_unknown_reader_feature_still_refused(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    _commit(
        table,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["typeWidening"],
                }
            },
            _meta(),
        ],
    )
    with pytest.raises(DeltaProtocolError, match="typeWidening"):
        DeltaTableReader(spark, table).read()


# ----------------------------------------------- DV-based keyed MERGE


def test_keyed_merge_with_dvs_soft_deletes(spark, tmp_path):
    """use_dvs=True: deletes widen per-file DVs instead of rewriting
    survivors; upserts append new files; the table upgrades to v3."""
    from deimos_spark.operators.delta_interop import (
        DeltaKeyedTable,
        DeltaTableReader,
    )

    t = str(tmp_path / "kt")
    kt = DeltaKeyedTable(spark, t, ["id"], use_dvs=True)
    kt.upsert(spark.createDataFrame([(i, f"v{i}") for i in range(10)], "id long, v string"))
    files_v0 = set(DeltaTableReader(spark, t).snapshot().files)

    kt.delete(spark.createDataFrame([(3,), (7,)], "id long"))
    rd = DeltaTableReader(spark, t)
    snap = rd.snapshot()
    # same data files, now carrying DVs — nothing was rewritten
    assert set(snap.files) == files_v0
    assert any(
        (snap.adds_raw[p] or {}).get("deletionVector") for p in snap.files
    )
    assert (snap.protocol_raw or {}).get("minReaderVersion") == 3
    assert sorted(r.id for r in rd.read().collect()) == [0, 1, 2, 4, 5, 6, 8, 9]


def test_keyed_merge_dv_upsert_replaces_and_widens(spark, tmp_path):
    from deimos_spark.operators.delta_interop import (
        DeltaKeyedTable,
        DeltaTableReader,
    )

    t = str(tmp_path / "kt2")
    kt = DeltaKeyedTable(spark, t, ["id"], use_dvs=True)
    kt.upsert(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string"))
    kt.upsert(spark.createDataFrame([(2, "B"), (4, "d")], "id long, v string"))
    kt.delete(spark.createDataFrame([(1,)], "id long"))
    got = {(r.id, r.v) for r in DeltaTableReader(spark, t).read().collect()}
    assert got == {(2, "B"), (3, "c"), (4, "d")}


def test_keyed_merge_dv_survives_checkpoint(spark, tmp_path):
    """DV descriptors and the v3 protocol must round-trip through the
    writer's parquet checkpoint — a checkpoint that drops them would
    resurrect deleted rows."""
    from deimos_spark.operators.delta_interop import (
        DeltaKeyedTable,
        DeltaTableReader,
    )

    t = str(tmp_path / "kt3")
    kt = DeltaKeyedTable(
        spark, t, ["id"], use_dvs=True, checkpoint_interval=3
    )
    kt.upsert(spark.createDataFrame([(i, "x") for i in range(8)], "id long, v string"))
    kt.delete(spark.createDataFrame([(0,)], "id long"))
    kt.delete(spark.createDataFrame([(1,)], "id long"))  # v2 -> checkpoint at 3? (v starts 0)
    kt.delete(spark.createDataFrame([(2,)], "id long"))
    kt.delete(spark.createDataFrame([(3,)], "id long"))
    logdir = os.path.join(t, "_delta_log")
    assert any(n.endswith(".checkpoint.parquet") for n in os.listdir(logdir))
    rd = DeltaTableReader(spark, t)
    assert sorted(r.id for r in rd.read().collect()) == [4, 5, 6, 7]


def test_keyed_merge_dv_deletes_on_pre_partitioned_table(spark, tmp_path):
    """Round-5 refused this; now a DV delete lands on a table another
    writer partitioned, folding the hit into that partition's file DV
    (non-key partition column: no pruning, full probe, still correct)."""
    from deimos_spark.operators.delta_interop import (
        DeltaKeyedTable,
        DeltaTableReader,
        DeltaTableWriter,
    )

    t = str(tmp_path / "kt4")
    w = DeltaTableWriter(spark, t, partition_by=("p",))
    w.append(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y")], "id long, v string, p string"
        )
    )
    kt = DeltaKeyedTable(spark, t, ["id"], use_dvs=True)
    kt.delete(spark.createDataFrame([(1,)], "id long"))
    snap = DeltaTableReader(spark, t).snapshot()
    assert any(
        (snap.adds_raw[p] or {}).get("deletionVector") for p in snap.files
    )
    got = {(x.id, x.p) for x in DeltaTableReader(spark, t).read().collect()}
    assert got == {(2, "y")}


# ------------------------------------------- column mapping (name mode)


def _mapped_meta(mode="name"):
    """metaData whose schemaString carries physical column names, as
    Databricks-style column-mapping tables do."""
    schema_json = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "id",
                    "type": "long",
                    "nullable": False,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-aaa111",
                    },
                },
                {
                    "name": "v",
                    "type": "string",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-bbb222",
                    },
                },
            ],
        }
    )
    m = _meta(schema_json)
    m["metaData"]["configuration"] = {"delta.columnMapping.mode": mode}
    return m


def test_column_mapping_name_mode_reads(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    # the data FILE stores physical names
    _write_data_file(
        spark, table, "f.parquet", [(1, "a"), (2, "b")],
        schema="`col-aaa111` long, `col-bbb222` string",
    )
    _commit(
        table, 0,
        [
            {
                "protocol": {
                    "minReaderVersion": 2,
                    "minWriterVersion": 5,
                }
            },
            _mapped_meta(),
            _add("f.parquet"),
        ],
    )
    df = DeltaTableReader(spark, table).read()
    assert df.columns == ["id", "v"]
    assert {(r.id, r.v) for r in df.collect()} == {(1, "a"), (2, "b")}


def test_column_mapping_composes_with_dvs(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    _write_data_file(
        spark, table, "f.parquet", [(1, "a"), (2, "b"), (3, "c")],
        schema="`col-aaa111` long, `col-bbb222` string",
    )
    desc = deltadv.inline_dv_descriptor(np.array([1], dtype=np.int64))
    _commit(
        table, 0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["columnMapping", "deletionVectors"],
                }
            },
            _mapped_meta(),
            _add_dv("f.parquet", desc),
        ],
    )
    df = DeltaTableReader(spark, table).read()
    assert {(r.id, r.v) for r in df.collect()} == {(1, "a"), (3, "c")}


def _write_fieldid_file(table, name, rows):
    """Data file with arbitrary PHYSICAL names + parquet field ids —
    what an id-mode (Databricks-style) writer produces. pyarrow maps
    b'PARQUET:field_id' field metadata to the parquet schema's field_id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    arr_id = pa.array([r[0] for r in rows], pa.int64())
    arr_v = pa.array([r[1] for r in rows], pa.string())
    schema = pa.schema(
        [
            pa.field(
                "whatever-x1", pa.int64(),
                metadata={b"PARQUET:field_id": b"1"},
            ),
            pa.field(
                "whatever-x2", pa.string(),
                metadata={b"PARQUET:field_id": b"2"},
            ),
        ]
    )
    pq.write_table(
        pa.Table.from_arrays([arr_id, arr_v], schema=schema),
        os.path.join(table, name),
    )


def test_column_mapping_id_mode_reads(spark, tmp_path):
    """id mode (round-5 refusal closed): columns match by parquet field
    id — the file's column NAMES are garbage on purpose and must not
    matter (that is what id mode buys: renames without rewrites)."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    _write_fieldid_file(table, "f.parquet", [(1, "a"), (2, "b")])
    _commit(
        table, 0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            _mapped_meta(mode="id"),
            _add("f.parquet"),
        ],
    )
    df = DeltaTableReader(spark, table).read()
    assert df.columns == ["id", "v"]
    assert {(r.id, r.v) for r in df.collect()} == {(1, "a"), (2, "b")}


def test_column_mapping_id_mode_composes_with_dvs(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    _write_fieldid_file(table, "f.parquet", [(1, "a"), (2, "b"), (3, "c")])
    desc = deltadv.inline_dv_descriptor(np.array([0], dtype=np.int64))
    _commit(
        table, 0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["columnMapping", "deletionVectors"],
                }
            },
            _mapped_meta(mode="id"),
            _add_dv("f.parquet", desc),
        ],
    )
    df = DeltaTableReader(spark, table).read()
    assert {(r.id, r.v) for r in df.collect()} == {(2, "b"), (3, "c")}


def _mapped_partitioned_meta(mode="name"):
    """Mapping + partitions: metaData.partitionColumns stays LOGICAL,
    add.partitionValues keys on the PHYSICAL name (PROTOCOL.md)."""
    schema_json = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "id",
                    "type": "long",
                    "nullable": False,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-aaa111",
                    },
                },
                {
                    "name": "p",
                    "type": "string",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-ppp999",
                    },
                },
            ],
        }
    )
    m = _meta(schema_json)
    m["metaData"]["partitionColumns"] = ["p"]
    m["metaData"]["configuration"] = {"delta.columnMapping.mode": mode}
    return m


def test_column_mapping_over_partitions(spark, tmp_path):
    """Round-5 refusal closed: name-mode mapping on a partitioned
    table — partitionValues keyed by physical name resolve back to the
    logical partition column, and partition_filter prunes logically."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    _write_data_file(
        spark, table, "fx.parquet", [(1,), (2,)], schema="`col-aaa111` long"
    )
    _write_data_file(
        spark, table, "fy.parquet", [(3,)], schema="`col-aaa111` long"
    )
    _commit(
        table, 0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            _mapped_partitioned_meta(),
            _add("fx.parquet", {"col-ppp999": "x"}),
            _add("fy.parquet", {"col-ppp999": "y"}),
        ],
    )
    r = DeltaTableReader(spark, table)
    df = r.read()
    assert sorted(df.columns) == ["id", "p"]
    assert {(x.id, x.p) for x in df.collect()} == {
        (1, "x"), (2, "x"), (3, "y"),
    }
    pruned = r.read(partition_filter={"p": "y"})
    assert {(x.id, x.p) for x in pruned.collect()} == {(3, "y")}


# ---------------------------------------------- OPTIMIZE + VACUUM


def test_optimize_clears_dvs_and_vacuum_reclaims(spark, tmp_path):
    """The maintenance pair a DV-merged table needs: OPTIMIZE rewrites
    live rows as fresh files (dataChange=false) so soft deletes become
    physical; VACUUM then reclaims the unreferenced data and DV files."""
    from deimos_spark.operators.delta_interop import (
        DeltaKeyedTable,
        DeltaTableReader,
    )

    t = str(tmp_path / "kt")
    kt = DeltaKeyedTable(spark, t, ["id"], use_dvs=True)
    kt.upsert(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, v string"
        )
    )
    kt.delete(spark.createDataFrame([(2,), (5,)], "id long"))
    snap = DeltaTableReader(spark, t).snapshot()
    assert any(
        (snap.adds_raw[p] or {}).get("deletionVector") for p in snap.files
    )
    dv_files = [n for n in os.listdir(t) if n.startswith("deletion_vector_")]
    assert dv_files

    kt.writer.optimize()
    snap2 = DeltaTableReader(spark, t).snapshot()
    assert not any(
        (snap2.adds_raw[p] or {}).get("deletionVector") for p in snap2.files
    )
    rd = DeltaTableReader(spark, t)
    assert sorted(r.id for r in rd.read().collect()) == [0, 1, 3, 4, 6, 7, 8, 9]

    deleted = kt.writer.vacuum(keep_versions=0, retention_seconds=0.0)
    assert deleted  # old data files + orphaned DV files reclaimed
    assert not [
        n for n in os.listdir(t) if n.startswith("deletion_vector_")
    ]
    # current snapshot still fully readable after vacuum
    assert sorted(r.id for r in rd.read().collect()) == [0, 1, 3, 4, 6, 7, 8, 9]


def test_keyed_merge_dv_partitioned_layout(spark, tmp_path):
    """VERDICT r5 #4: DV-based keyed MERGE on a PARTITIONED Delta
    layout — deletes fold into per-file DVs (no survivor rewrite),
    partition values ride the log, and when a partition column is part
    of the key the probe scan is pruned to the batch's partitions
    (untouched partitions' files are not even opened, asserted via
    unchanged adds)."""
    from deimos_spark.operators.delta_interop import (
        DeltaKeyedTable,
        DeltaTableReader,
    )

    t = str(tmp_path / "ktp")
    kt = DeltaKeyedTable(
        spark, t, ["day", "id"], use_dvs=True, partition_by=("day",)
    )
    rows = [(d, i, f"v{d}-{i}") for d in ("a", "b") for i in range(5)]
    kt.upsert(
        spark.createDataFrame(rows, "day string, id long, v string")
    )
    r = DeltaTableReader(spark, t)
    snap0 = r.snapshot()
    assert snap0.partition_columns == ["day"]
    files_by_part = {}
    for p, pv in snap0.files.items():
        files_by_part.setdefault(pv["day"], set()).add(p)
    assert set(files_by_part) == {"a", "b"}

    # delete two keys in partition 'a' only
    kt.delete(
        spark.createDataFrame([("a", 1), ("a", 3)], "day string, id long")
    )
    snap1 = DeltaTableReader(spark, t).snapshot()
    # partition b's adds are untouched — no rewrite, no DV
    for p in files_by_part["b"]:
        assert p in snap1.files
        assert not (snap1.adds_raw[p] or {}).get("deletionVector")
    # partition a's file(s) re-added with DVs, same data file paths
    assert any(
        (snap1.adds_raw[p] or {}).get("deletionVector")
        for p in snap1.files
        if snap1.files[p]["day"] == "a"
    )
    assert set(snap1.files) == set(snap0.files)  # no data file rewritten
    got = {(x.day, x.id) for x in DeltaTableReader(spark, t).read().collect()}
    assert got == {(d, i) for d, i, _ in rows} - {("a", 1), ("a", 3)}

    # upsert into one partition: survivors keep their DVs, new file lands
    kt.upsert(
        spark.createDataFrame(
            [("a", 2, "A2"), ("a", 9, "new")], "day string, id long, v string"
        )
    )
    got = {
        (x.day, x.id, x.v) for x in DeltaTableReader(spark, t).read().collect()
    }
    assert ("a", 2, "A2") in got and ("a", 9, "new") in got
    assert ("a", 2, "va-2") not in got
    assert len(got) == 9  # 10 - 2 deleted - 1 replaced + 1 replacement + 1 new

    # replay-cost shape: merges touched only affected partitions' files;
    # partition b never gained a DV through all of it
    snap2 = DeltaTableReader(spark, t).snapshot()
    for p in files_by_part["b"]:
        assert not (snap2.adds_raw[p] or {}).get("deletionVector")


def test_keyed_merge_dv_partitioned_null_partition(spark, tmp_path):
    """Null partition values round-trip through the DV merge path."""
    from deimos_spark.operators.delta_interop import (
        DeltaKeyedTable,
        DeltaTableReader,
    )

    t = str(tmp_path / "ktpn")
    kt = DeltaKeyedTable(
        spark, t, ["id"], use_dvs=True, partition_by=("day",)
    )
    kt.upsert(
        spark.createDataFrame(
            [(None, 1, "x"), ("a", 2, "y")], "day string, id long, v string"
        )
    )
    kt.delete(spark.createDataFrame([(1,)], "id long"))
    got = {(x.day, x.id) for x in DeltaTableReader(spark, t).read().collect()}
    assert got == {("a", 2)}


def test_vacuum_retention_protects_young_files(spark, tmp_path):
    """Default-retention vacuum must keep young unreferenced files: a
    writer moves data/DV files into the table BEFORE committing, so
    deleting them mid-flight would let its commit land pointing at
    missing files (the Delta retention-window rationale)."""
    from deimos_spark.operators.delta_interop import DeltaTableWriter

    t = str(tmp_path / "t")
    w = DeltaTableWriter(spark, t)
    w.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    # simulate an in-flight writer: a data file and a DV file placed in
    # the table but not referenced by any commit yet
    orphan = os.path.join(t, "part-inflight.parquet")
    spark.createDataFrame([(9, "z")], "id long, v string").toPandas().to_parquet(
        orphan
    )
    deltadv.write_dv_file(t, np.array([0], dtype=np.int64))
    assert w.vacuum() == []  # young + unreferenced -> kept
    assert os.path.exists(orphan)
    assert [n for n in os.listdir(t) if n.startswith("deletion_vector_")]
    got = w.vacuum(retention_seconds=0.0)  # expired -> reclaimed
    assert orphan in got
    assert not [n for n in os.listdir(t) if n.startswith("deletion_vector_")]


def test_delta_partition_filter_prunes_from_log(spark, tmp_path):
    """read(partition_filter=...) drops files by the LOG's
    partitionValues before any scan (Delta has no dir-layout pruning)."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    schema_json = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": False, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                {"name": "p", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    _write_data_file(spark, table, "p=x/a.parquet", [(1, "a"), (2, "b")])
    _write_data_file(spark, table, "p=y/b.parquet", [(3, "c")])
    _commit(
        table, 0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            _meta(schema_json, ("p",)),
            _add("p=x/a.parquet", {"p": "x"}),
            _add("p=y/b.parquet", {"p": "y"}),
        ],
    )
    rd = DeltaTableReader(spark, table)
    assert {r.id for r in rd.read(partition_filter={"p": "x"}).collect()} == {1, 2}
    assert {
        r.id for r in rd.read(partition_filter={"p": ["x", "y"]}).collect()
    } == {1, 2, 3}
    with pytest.raises(DeltaProtocolError, match="non-partition"):
        rd.read(partition_filter={"nope": 1})


# ----------------------------------------- corrupt-input containment


def test_corrupt_dv_payloads_contained(tmp_path):
    """Fuzz: arbitrary bytes fed through an inline descriptor must
    surface as DeletionVectorError — never a raw struct/index/overflow
    error that kills a Spark task (the corrupt-input discipline the
    media codecs follow)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(min_size=0, max_size=200))
    def fuzz(blob):
        pad = (-len(blob)) % 4
        desc = {
            "storageType": "i",
            "pathOrInlineDv": deltadv.z85_encode(blob + b"\x00" * pad),
            "sizeInBytes": len(blob),
            "cardinality": 1,
        }
        try:
            deltadv.dv_row_indexes(str(tmp_path), desc)
        except deltadv.DeletionVectorError:
            pass  # the contract: typed, catchable, record-level

    fuzz()


def test_corrupt_dv_with_valid_magic_contained(tmp_path):
    """Payloads that pass the magic check but lie about structure."""
    import struct as _struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(min_size=0, max_size=120))
    def fuzz(tail):
        blob = _struct.pack("<Iq", deltadv.MAGIC, 1) + tail
        pad = (-len(blob)) % 4
        desc = {
            "storageType": "i",
            "pathOrInlineDv": deltadv.z85_encode(blob + b"\x00" * pad),
            "sizeInBytes": len(blob),
        }
        try:
            deltadv.dv_row_indexes(str(tmp_path), desc)
        except deltadv.DeletionVectorError:
            pass

    fuzz()


def test_corrupt_commit_json_contained(spark, tmp_path):
    """A mangled commit file surfaces as DeltaProtocolError, not a raw
    JSONDecodeError from deep in the replay loop."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    _write_data_file(spark, table, "f.parquet", [(1, "a")])
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta(), _add("f.parquet"),
    ])
    logp = os.path.join(table, "_delta_log", f"{1:020d}.json")
    with open(logp, "w") as fh:
        fh.write('{"add": {"path": "f.parq\n')  # truncated mid-object
    with pytest.raises(DeltaProtocolError, match="corrupt commit"):
        DeltaTableReader(spark, table).read()


def test_keyed_merge_dv_boolean_partition_key_prune(spark, tmp_path):
    """ADVICE r6 (medium): the merge's partition prune collected typed
    row values and compared Python str() ('True') against the log's
    partitionValues ('true'), so on boolean partition keys EVERY file
    was pruned and deletes silently became no-ops. The prune now casts
    to string Spark-side (Spark's own rendering == what it wrote in the
    hive dir names)."""
    from deimos_spark.operators.delta_interop import (
        DeltaKeyedTable,
        DeltaTableReader,
    )

    t = str(tmp_path / "ktb")
    kt = DeltaKeyedTable(
        spark, t, ["flag", "id"], use_dvs=True, partition_by=("flag",)
    )
    rows = [(f, i, f"v{f}-{i}") for f in (True, False) for i in range(4)]
    kt.upsert(
        spark.createDataFrame(rows, "flag boolean, id long, v string")
    )
    snap0 = DeltaTableReader(spark, t).snapshot()
    assert {pv["flag"] for pv in snap0.files.values()} == {"true", "false"}

    # the regression: delete two keys in the flag=true partition —
    # under the old str() convention no file matched and both rows
    # survived
    kt.delete(
        spark.createDataFrame([(True, 1), (True, 3)], "flag boolean, id long")
    )
    got = {(x.flag, x.id) for x in DeltaTableReader(spark, t).read().collect()}
    assert got == {(f, i) for f, i, _ in rows} - {(True, 1), (True, 3)}

    # upsert replacing one key must not duplicate it either
    kt.upsert(
        spark.createDataFrame(
            [(False, 2, "NEW")], "flag boolean, id long, v string"
        )
    )
    vals = {
        (x.flag, x.id): x.v
        for x in DeltaTableReader(spark, t).read().collect()
    }
    assert vals[(False, 2)] == "NEW"
    assert len(vals) == 6


def test_delta_partition_filter_accepts_python_bool(spark, tmp_path):
    """read(partition_filter={'flag': True}) must match the log's
    'true' string (same normalization as the merge prune)."""
    from deimos_spark.operators.delta_interop import (
        DeltaTableReader,
        DeltaTableWriter,
    )

    t = str(tmp_path / "pfb")
    w = DeltaTableWriter(spark, t, partition_by=("flag",))
    w.append(
        spark.createDataFrame(
            [(True, 1), (True, 2), (False, 3)], "flag boolean, id long"
        )
    )
    r = DeltaTableReader(spark, t)
    got = {x.id for x in r.read(partition_filter={"flag": True}).collect()}
    assert got == {1, 2}
    got = {x.id for x in r.read(partition_filter={"flag": False}).collect()}
    assert got == {3}
