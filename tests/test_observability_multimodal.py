"""Observability (metrics/logging/error policy/retry), test helpers,
multimodal plumbing."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from deimos_spark import observability as obs
from deimos_spark.operators import multimodal as mm
from deimos_spark.operators.delta_interop import DeltaKeyedTable
from deimos_spark.schemas.avro import parse_avsc
from deimos_spark.schemas.codecs import (
    add_registry_frame,
    extract_schema_id,
    get_codec,
    strip_registry_frame,
)
from deimos_spark.streaming.consumer import BatchConsumer, ConsumerConfig
from deimos_spark.streaming.producer import Producer, TopicConfig
from deimos_spark.testing import MemorySink
from deimos_spark.testing import test_consume_batch as drive_consume_batch

MY_SCHEMA = parse_avsc(
    {
        "type": "record",
        "name": "MySchema",
        "fields": [
            {"name": "test_id", "type": "string"},
            {"name": "some_int", "type": "int"},
        ],
    }
)


# ------------------------------------------------------------------ metrics

def test_metrics_registry():
    r = obs.MetricsRegistry()
    r.increment("publish", topic="t")
    r.increment("publish", by=4, topic="t")
    r.gauge("lag", 2.5, topic="t")
    r.time("batch", 0.1)
    assert r.counters["publish{topic=t}"] == 5
    assert r.gauges["lag{topic=t}"] == 2.5
    assert r.timers["batch"] == [0.1]


def test_log_batch_modes(spark):
    df = spark.createDataFrame([Row(test_id="a", some_int=1)])
    lines = []
    for mode in ("counts", "keys", "payloads", "headers"):
        obs.log_batch(df, mode=mode, key_cols=("test_id",), log=lines.append)
    assert "rows=1" in lines[0]
    assert "('a',)" in lines[1]
    assert "some_int" in lines[2]
    assert "struct" in lines[3]
    with pytest.raises(ValueError):
        obs.log_batch(df, mode="nope")


def test_error_policy():
    seen = []
    p = obs.ErrorPolicy(reraise=False, on_error=seen.append)
    p.handle(ValueError("x"))  # swallowed
    assert len(seen) == 1
    p2 = obs.ErrorPolicy(reraise=False, fatal=lambda e: isinstance(e, KeyError))
    with pytest.raises(KeyError):
        p2.handle(KeyError("fatal"))


def test_route_invalid_to_dlq(spark, tmp_path):
    df = spark.createDataFrame([Row(k="a", v=1), Row(k=None, v=2), Row(k="c", v=None)])
    dlq = str(tmp_path / "dlq")
    valid = obs.route_invalid(df, F.col("k").isNotNull() & F.col("v").isNotNull(), dlq)
    assert sorted(r["k"] for r in valid.collect()) == ["a"]
    dlq_rows = spark.read.parquet(dlq)
    assert dlq_rows.count() == 2
    assert "_dlq_at" in dlq_rows.columns


def test_with_retry():
    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise OSError("deadlock")

    obs.with_retry(flaky, retries=2, sleep=lambda s: None)
    assert len(calls) == 3

    with pytest.raises(OSError):
        obs.with_retry(
            lambda: (_ for _ in ()).throw(OSError("x")),
            retries=1,
            sleep=lambda s: None,
        )


# ------------------------------------------------------------- test helpers

def test_memory_sink_and_assertions(spark):
    sink = MemorySink()
    p = Producer(TopicConfig(topic="t", schema=MY_SCHEMA, key_field="test_id"))
    sink.publish(p, spark.createDataFrame([Row(test_id="a", some_int=1)]))
    sink.assert_sent("t", {"test_id": "a", "some_int": 1})
    sink.assert_sent("t", {"some_int": 1})  # subset match
    with pytest.raises(AssertionError):
        sink.assert_sent("t", {"some_int": 99})
    with pytest.raises(AssertionError):
        sink.assert_sent("other", {"some_int": 1})


def test_test_consume_batch_driver(spark, tmp_path):
    table = DeltaKeyedTable(
        spark, str(tmp_path / "tbl"), ["test_id"], schema=MY_SCHEMA.struct
    )
    p = Producer(TopicConfig(topic="t", schema=MY_SCHEMA, key_field="test_id"))
    c = BatchConsumer(ConsumerConfig(schema=MY_SCHEMA, key_cols=["test_id"]), table)
    drive_consume_batch(spark, p, c, [Row(test_id="a", some_int=1)])
    assert table.read().count() == 1


# ------------------------------------------------------------ registry frame

def test_registry_framing_roundtrip(spark):
    codec = get_codec("json", MY_SCHEMA)
    df = spark.createDataFrame([Row(test_id="a", some_int=7)])
    framed = df.select(
        add_registry_frame(
            codec.encode(F.struct("test_id", "some_int")), schema_id=42
        ).alias("b")
    )
    out = framed.select(
        extract_schema_id(F.col("b")).alias("sid"),
        codec.decode(strip_registry_frame(F.col("b"))).alias("p"),
    ).head()
    assert out["sid"] == 42
    assert out["p"]["test_id"] == "a" and out["p"]["some_int"] == 7


# --------------------------------------------------------------- multimodal

def _media_df(spark):
    rows = [
        Row(
            media_id=i,
            content=bytes([i] * 64),
            meta=Row(mime="image/png", width=64, height=64, duration_ms=None, sample_rate=None),
        )
        for i in range(3)
    ]
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)


def test_image_features_deterministic(spark):
    df = _media_df(spark)
    out = mm.extract_image_features(df, out_dim=8)
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 3
    assert len(rows[0]["features"]) == 8
    assert rows[0]["n_bytes"] == 64
    # deterministic: rerun gives identical features
    rows2 = {r["media_id"]: r for r in mm.extract_image_features(df, out_dim=8).collect()}
    assert rows[1]["features"] == rows2[1]["features"]


def test_frame_sampling_fanout(spark):
    out = mm.sample_frames(_media_df(spark), every_n=16, max_frames=3)
    rows = out.collect()
    assert len(rows) == 9  # 3 videos × 3 frames
    assert all(len(bytes(r["frame"])) == 16 for r in rows)


def test_media_stats_prunes_binary(spark, tmp_path):
    path = str(tmp_path / "media")
    _media_df(spark).write.parquet(path)
    out = mm.media_stats(spark.read.parquet(path))
    r = out.head()
    assert r["mime"] == "image/png" and r["c"] == 3 and r["avg_width"] == 64.0
    # column pruning: the parquet ReadSchema must not include `content`
    plan = out._jdf.queryExecution().executedPlan().toString()
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "content" not in read_schema[0]


def test_resize_composes_with_feature_extract(spark):
    df = _media_df(spark)
    resized = mm.resize_images(df, width=32, height=32)
    rows = {r["media_id"]: r for r in resized.collect()}
    assert rows[1]["meta"]["width"] == 32 and rows[1]["meta"]["height"] == 32
    # area ratio (32*32)/(64*64) = 0.25 → 16 of 64 bytes in the stub
    assert len(bytes(rows[1]["content"])) == 16
    # schema-compatible output: feature extraction runs on the resized df
    feats = mm.extract_image_features(resized, out_dim=4).collect()
    assert len(feats) == 3 and all(len(r["features"]) == 4 for r in feats)


def test_audio_features_duration_estimate(spark):
    rows = [
        Row(
            media_id=i,
            content=bytes([i]) * 32_000,
            meta=Row(mime="audio/wav", width=None, height=None,
                     duration_ms=None, sample_rate=16_000),
        )
        for i in range(2)
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in mm.extract_audio_features(df, out_dim=6).collect()}
    # 32000 bytes / 2 bytes-per-sample / 16 kHz = 1 s
    assert out[0]["est_duration_ms"] == 1000
    assert len(out[0]["features"]) == 6


def _synth_media(spark, n):
    """Deterministic synthetic media table: content = sha256(id) bytes,
    mime cycles over 3 types, width/height derived from id — every value
    reproducible driver-side for golden assertions."""
    return (
        spark.range(n)
        .select(
            F.col("id").alias("media_id"),
            F.unhex(F.sha2(F.col("id").cast("string"), 256)).alias("content"),
            F.struct(
                F.element_at(
                    F.array(F.lit("image/png"), F.lit("image/jpeg"), F.lit("audio/wav")),
                    (F.col("id") % 3 + 1).cast("int"),
                ).alias("mime"),
                (F.col("id") % 100 + 100).cast("int").alias("width"),
                F.lit(64).cast("int").alias("height"),
                F.lit(None).cast("long").alias("duration_ms"),
                F.lit(16000).cast("int").alias("sample_rate"),
            ).alias("meta"),
        )
    )


def test_media_stats_golden_at_scale(spark, tmp_path):
    """20k-row golden check for the metadata path: exact per-mime counts
    and avg width, computed over a multi-file parquet table, with the
    binary column verifiably absent from the scan (column pruning — the
    property that keeps metadata queries cheap on a 100-TB media lake)."""
    n = 20_000
    path = str(tmp_path / "media20k")
    _synth_media(spark, n).repartition(8).write.parquet(path)

    media = spark.read.parquet(path)
    stats = mm.media_stats(media)
    got = {r["mime"]: (r["c"], round(r["avg_width"], 6)) for r in stats.collect()}
    # golden: ids 0..19999; mime = id%3; width = id%100 + 100.
    # Within each residue class widths hit each value of (id%100) exactly
    # n/300 times... computed exactly driver-side instead:
    import statistics

    expect = {}
    for mime, resid in [("image/png", 0), ("image/jpeg", 1), ("audio/wav", 2)]:
        ids = range(resid, n, 3)
        expect[mime] = (
            len(ids),
            round(statistics.mean(i % 100 + 100 for i in ids), 6),
        )
    assert got == expect

    plan = stats._jdf.queryExecution().executedPlan().toString()
    m = [l for l in plan.split("\n") if "ReadSchema" in l]
    assert m and "content" not in m[0]  # binary column never scanned


def test_image_features_golden_at_scale(spark):
    """Feature kernel over 20k rows across many Arrow batches: exact row
    count, and spot-checked vectors equal the driver-side mirror of the
    deterministic stub (golden values independent of batching/partitioning)."""
    import hashlib

    n = 20_000
    feats = mm.extract_image_features(_synth_media(spark, n).repartition(16), out_dim=8)
    assert feats.count() == n

    def expect_vec(media_id):
        content = hashlib.sha256(str(media_id).encode()).digest()
        h = hashlib.sha256(content).digest()
        return [h[i % 32] / 255.0 for i in range(8)]

    # features are float32 on the wire: compare at float32 precision
    got = {
        r["media_id"]: [round(float(x), 6) for x in r["features"]]
        for r in feats.filter(F.col("media_id").isin(0, 1234, 19999)).collect()
    }
    for mid in (0, 1234, 19999):
        assert got[mid] == [round(x, 6) for x in expect_vec(mid)], mid


def test_frame_fanout_exact_at_scale(spark):
    """Fan-out arithmetic is exact at 20k rows: 32-byte stub content,
    every_n=10, max_frames=4 → min(4, 32//10) = 3 frames per video."""
    n = 20_000
    frames = mm.sample_frames(_synth_media(spark, n), every_n=10, max_frames=4)
    assert frames.count() == n * 3
    per = frames.groupBy("media_id").count()
    assert per.filter(F.col("count") != 3).count() == 0


# ----------------------------------------------- round-6: A35 tracing


def test_mock_tracer_contract():
    """Reference tracing/provider.rb contract: start/finish/set_error/
    active_span/set_tag/get_tag; nesting makes the innermost span
    active (batch_consumption.rb tags 'topic' on the active span and
    deadlock retry reads it back)."""
    t = obs.MockTracer()
    outer = t.start("deimos-consumer", resource="MyConsumer")
    t.set_tag("topic", "accts")
    assert t.active_span() is outer
    assert t.get_tag("topic") == "accts"
    inner = t.start("db-write")
    assert t.active_span() is inner
    assert t.get_tag("topic") is None  # inner span has its own tags
    t.finish(inner)
    assert t.active_span() is outer
    boom = RuntimeError("x")
    t.set_error(outer, boom)
    t.finish(outer)
    assert [s.name for s in t.finished] == ["db-write", "deimos-consumer"]
    done = t.finished[1]
    assert done.error is boom and done.get_tag("topic") == "accts"
    assert done.duration_s is not None and done.duration_s >= 0
    # context-manager form records errors and always finishes
    import pytest as _pytest

    with _pytest.raises(ValueError):
        with t.span("poll", resource="R"):
            raise ValueError("y")
    assert t.finished[-1].name == "poll"
    assert isinstance(t.finished[-1].error, ValueError)


def test_consumer_batch_traced(spark, tmp_path):
    """consume_batch runs inside a 'deimos-consumer' span with the topic
    tagged; a failing batch records the error on the span and re-raises
    (consumer.rb _with_span/_error parity)."""
    from pyspark.sql import Row, Window

    from deimos_spark.streaming.producer import Producer, TopicConfig

    schema = parse_avsc(
        {
            "type": "record",
            "name": "Acct",
            "fields": [
                {"name": "acct_id", "type": "string"},
                {"name": "balance", "type": "int"},
            ],
        }
    )
    tracer = obs.MockTracer()
    p = Producer(TopicConfig(topic="tr", schema=schema, key_field="acct_id"))
    table = DeltaKeyedTable(
        spark, str(tmp_path / "tr"), ["acct_id"], schema=schema.struct
    )
    c = BatchConsumer(
        ConsumerConfig(
            schema=schema, key_cols=["acct_id"], tracer=tracer, topic="tr",
        ),
        table,
    )
    msgs = p.build_messages(
        spark.createDataFrame([Row(acct_id="a", balance=1)])
    )
    w = Window.orderBy(F.monotonically_increasing_id())
    batch = (
        msgs.withColumn("offset", F.row_number().over(w))
        .withColumn("partition", F.lit(0))
        .select("key", "value", "partition", "offset")
    )
    c.consume_batch(batch)
    assert len(tracer.finished) == 1
    span = tracer.finished[0]
    assert span.name == "deimos-consumer"
    assert span.resource == "BatchConsumer"
    assert span.get_tag("topic") == "tr" and span.error is None

    # error path: a batch missing the value column fails decode; the
    # span records the error and the exception still propagates
    import pytest as _pytest

    bad = spark.createDataFrame([Row(key=bytearray(b"k"), partition=0,
                                     offset=9)])
    with _pytest.raises(Exception):
        c.consume_batch(bad)
    assert tracer.finished[-1].error is not None


def test_poller_cycle_traced(spark, tmp_path):
    from deimos_spark.sources.poller import TimeBasedPoller

    src_path = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 100), (2, 200)], "id long, updated_at long"
    ).write.parquet(src_path)
    seen = []
    tracer = obs.MockTracer()
    poller = TimeBasedPoller(
        source=lambda: spark.read.parquet(src_path),
        publish=lambda df: seen.append(df.count()),
        cursor_path=str(tmp_path / "cur"),
        delay_micros=0,
        tracer=tracer,
    )
    n = poller.run_once(now_micros=10_000)
    assert n == 2 and seen
    assert [s.name for s in tracer.finished] == ["deimos-db-poller"]
    assert tracer.finished[0].error is None
