"""Delta `variantType` table feature (r12 session 2 — the Delta twin of
the Iceberg v3 variant reads, same parquet variant encoding):

- new tables with VariantType columns declare the feature at birth
  (reader-writer feature, protocol v3/v7 — PROTOCOL.md "Variant Type");
- reads are native (Spark's parquet variant decode; variant_get works);
- foreign tables declaring `variantType` or the preview name read;
- schema evolution INTO variant on a table that never declared the
  feature refuses loudly (its readers never opted in); evolution on a
  table that DID declare it works;
- v2Checkpoint and variantType compose in one birth protocol.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from deimos_spark.operators.delta_interop import (
    DeltaProtocolError,
    DeltaTableReader,
    DeltaTableWriter,
)


def _variant_df(spark, start=0):
    return spark.range(start, start + 4).select(
        F.col("id"),
        F.parse_json(
            F.concat(
                F.lit('{"a": '),
                F.col("id").cast("string"),
                F.lit(', "tags": ["x","y"]}'),
            )
        ).alias("payload"),
    )


def _protocol_action(path):
    with open(
        os.path.join(path, "_delta_log", "00000000000000000000.json")
    ) as fh:
        for line in fh:
            a = json.loads(line)
            if "protocol" in a:
                return a["protocol"]
    raise AssertionError("no protocol action in first commit")


def test_variant_roundtrip_and_birth_protocol(spark, tmp_path):
    path = str(tmp_path / "t")
    w = DeltaTableWriter(spark, path)
    w.append(_variant_df(spark))
    proto = _protocol_action(path)
    assert proto["minReaderVersion"] == 3
    assert proto["minWriterVersion"] == 7
    assert "variantType" in proto["readerFeatures"]
    assert "variantType" in proto["writerFeatures"]
    rows = (
        DeltaTableReader(spark, path)
        .read()
        .select(
            "id", F.variant_get("payload", "$.a", "int").alias("a"),
            F.variant_get("payload", "$.tags[0]", "string").alias("t0"),
        )
        .orderBy("id")
        .collect()
    )
    assert [(r.id, r.a, r.t0) for r in rows] == [
        (i, i, "x") for i in range(4)
    ]


def test_variant_adds_carry_num_records_and_empty_append_adds_nothing(
    spark, tmp_path
):
    """pyarrow refuses variant footers; the row count still comes from
    the footer, so a variant add carries numRecords and a zero-row file
    is dropped like any other — an empty append commits no add."""
    path = str(tmp_path / "t")
    w = DeltaTableWriter(spark, path)
    w.append(_variant_df(spark).limit(1).coalesce(1))
    w.append(_variant_df(spark).limit(0))

    def adds(version):
        log = os.path.join(path, "_delta_log", f"{version:020d}.json")
        with open(log) as fh:
            actions = [json.loads(line) for line in fh if line.strip()]
        return [a["add"] for a in actions if "add" in a]

    assert [json.loads(a["stats"])["numRecords"] for a in adds(0)] == [1]
    assert adds(1) == []
    assert DeltaTableReader(spark, path).read().count() == 1


def test_second_append_and_optimize_keep_variant(spark, tmp_path):
    path = str(tmp_path / "t")
    w = DeltaTableWriter(spark, path)
    w.append(_variant_df(spark))
    w.append(_variant_df(spark, start=10))
    r = DeltaTableReader(spark, path)
    assert r.read().count() == 8
    w.optimize()
    got = sorted(
        x.a
        for x in r.read()
        .select(F.variant_get("payload", "$.a", "int").alias("a"))
        .collect()
    )
    assert got == [0, 1, 2, 3, 10, 11, 12, 13]


def test_preview_feature_name_reads(spark, tmp_path):
    """Early writers declared `variantType-preview` — the reader
    accepts it (same encoding)."""
    path = str(tmp_path / "t")
    DeltaTableWriter(spark, path).append(_variant_df(spark))
    log = os.path.join(path, "_delta_log", "00000000000000000000.json")
    lines = []
    with open(log) as fh:
        for line in fh:
            a = json.loads(line)
            if "protocol" in a:
                a["protocol"]["readerFeatures"] = ["variantType-preview"]
                a["protocol"]["writerFeatures"] = ["variantType-preview"]
            lines.append(json.dumps(a))
    with open(log, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    assert DeltaTableReader(spark, path).read().count() == 4


def test_evolution_into_variant_gated_by_feature(spark, tmp_path):
    # table WITHOUT the feature: refuse
    p1 = str(tmp_path / "novar")
    w1 = DeltaTableWriter(spark, p1)
    w1.append(spark.range(2).select("id"))
    with pytest.raises(DeltaProtocolError, match="variantType"):
        w1.append(_variant_df(spark), merge_schema=True)
    # table WITH the feature: a second variant column evolves fine
    p2 = str(tmp_path / "var")
    w2 = DeltaTableWriter(spark, p2)
    w2.append(_variant_df(spark))
    w2.append(
        _variant_df(spark).withColumn(
            "extra", F.parse_json(F.lit('{"k": 1}'))
        ),
        merge_schema=True,
    )
    df = DeltaTableReader(spark, p2).read()
    assert "extra" in df.columns
    assert df.count() == 8


def test_v2_checkpoint_and_variant_compose(spark, tmp_path):
    path = str(tmp_path / "t")
    w = DeltaTableWriter(spark, path, checkpoint_format="v2")
    w.append(_variant_df(spark))
    proto = _protocol_action(path)
    assert set(proto["readerFeatures"]) == {"v2Checkpoint", "variantType"}
    assert set(proto["writerFeatures"]) == {"v2Checkpoint", "variantType"}
    assert DeltaTableReader(spark, path).read().count() == 4


def test_variantlike_names_do_not_trigger_the_feature(spark, tmp_path):
    """A field NAMED 'invariant'/'variant_id' must not drag the table
    to v3/v7 (_schema_has_variant is a type walk, not a substring
    test), and merge-schema-evolving such a column must not hit the
    variant gate."""
    from pyspark.sql import types as T

    path = str(tmp_path / "t")
    w = DeltaTableWriter(spark, path)
    df = spark.createDataFrame(
        [(1, (True,), "v1")],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField(
                    "meta",
                    T.StructType(
                        [T.StructField("invariant", T.BooleanType())]
                    ),
                ),
                T.StructField("variant_id", T.StringType()),
            ]
        ),
    )
    w.append(df)
    proto = _protocol_action(path)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    # evolving another variant-NAMED (not -typed) column is fine
    w.append(
        df.withColumn("invariant_code", df.variant_id), merge_schema=True
    )
    assert DeltaTableReader(spark, path).read().count() == 2


def test_preview_feature_table_stays_writable(spark, tmp_path):
    """The preview name is the same encoding — a table declaring it
    must accept appends (and the evolution gate's preview branch must
    be reachable)."""
    path = str(tmp_path / "t")
    DeltaTableWriter(spark, path).append(_variant_df(spark))
    log = os.path.join(path, "_delta_log", "00000000000000000000.json")
    lines = []
    with open(log) as fh:
        for line in fh:
            a = json.loads(line)
            if "protocol" in a:
                a["protocol"]["readerFeatures"] = ["variantType-preview"]
                a["protocol"]["writerFeatures"] = ["variantType-preview"]
            lines.append(json.dumps(a))
    with open(log, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    w = DeltaTableWriter(spark, path)
    w.append(_variant_df(spark, start=10))
    assert DeltaTableReader(spark, path).read().count() == 8
    # a SECOND variant column evolves under the preview declaration
    w.append(
        _variant_df(spark, start=20).withColumn(
            "extra", F.parse_json(F.lit('{"k": 2}'))
        ),
        merge_schema=True,
    )
    assert DeltaTableReader(spark, path).read().count() == 12
