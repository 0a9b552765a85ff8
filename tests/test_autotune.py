"""Scale-aware session autotune (session.autotune_for_dir): the round-7
perf lever — AQE, shuffle-partition count, and input-split size keyed on
input scale. A silent regression here re-adds ~100ms/query of stage
barriers at small scale or (worse) turns AQE off at 100 TB."""

import pytest

from deimos_spark import session as S


@pytest.fixture
def fresh_state(spark, scale_regime, monkeypatch):
    """Drop this session's autotune record, so bases are re-read from
    the confs a test sets; restore record, confs and size cache after."""
    monkeypatch.setattr(S, "_dir_bytes_cache", dict(S._dir_bytes_cache))
    with scale_regime() as key:
        S._tuning.pop(key, None)
        yield key


def _mkdir_with_bytes(tmp_path, name, nbytes):
    d = tmp_path / name
    d.mkdir()
    (d / "data.parquet").write_bytes(b"\x00" * nbytes)
    return str(d)


def test_small_dir_turns_aqe_off_and_rightsizes(spark, tmp_path, fresh_state):
    small = _mkdir_with_bytes(tmp_path, "small", 20 << 20)  # 20 MiB
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728b")
    S.autotune_for_dir(spark, small)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    # ~16 MiB per shuffle partition, floored at 8
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    # splits shrunk so the scan spreads over cores (>= 2 MiB floor)
    mpb = int(spark.conf.get("spark.sql.files.maxPartitionBytes").rstrip("b"))
    assert (2 << 20) <= mpb < (128 << 20)


def test_big_dir_keeps_scale_posture(spark, tmp_path, fresh_state, monkeypatch):
    big = _mkdir_with_bytes(tmp_path, "big", 1 << 20)
    # pretend the dir is 2 GiB without writing 2 GiB
    S._dir_bytes_cache[big] = 2 << 30
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728b")
    S.autotune_for_dir(spark, big)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    assert spark.conf.get(
        "spark.sql.files.maxPartitionBytes"
    ) == "134217728b"


def test_registry_builders_apply_autotune(spark, tmp_path, fresh_state):
    """_prepared wires autotune into every declared query build."""
    from deimos_spark.queries import all_queries

    sf = "/root/testdata/sf0.001"
    all_queries()["b01_scan_count"].builder(spark, sf)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
