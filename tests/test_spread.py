"""session.spread_small — the scale-gated input redistribution for
CPU-heavy work over tiny single-row-group files. The gate is
session.small_input, the one autotune uses: identity at scale,
round-robin repartition below it."""

from deimos_spark import session as S


def test_spread_small_repartitions_tiny_input(spark, tmp_path):
    p = str(tmp_path / "tiny")
    spark.range(1000).coalesce(1).write.parquet(p)
    out = S.spread_small(spark.read.parquet(p), p)
    assert out.rdd.getNumPartitions() >= 8
    assert out.count() == 1000


def test_spread_small_identity_at_scale(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "big")
    spark.range(1000).coalesce(1).write.parquet(p)
    monkeypatch.setitem(S._dir_bytes_cache, p, S.AQE_MIN_INPUT_BYTES)
    df = spark.read.parquet(p)
    out = S.spread_small(df, p)
    assert out is df, "at/above the threshold spread must be identity"


def test_spread_small_unreadable_dir_is_identity(spark):
    df = spark.range(10)
    # dir_input_bytes returns 0 for a missing dir (os.walk yields
    # nothing) — still well below the threshold, so the contract is
    # simply: no crash, rows preserved
    out = S.spread_small(df, "/nonexistent/nowhere")
    assert out.count() == 10
