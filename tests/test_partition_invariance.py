"""Partition-count invariance: a query's RESULT must not depend on how
the data happens to be split — shuffle partition count, scan split
size, or whether AQE re-plans at runtime. On a 1000-executor cluster
every one of these differs from local[32]; an operator whose answer
drifts with task layout (a mapInPandas partial that double-counts a
boundary, a window that assumes one partition, an agg keyed on
partition id) is wrong at scale even if the single-layout oracle run
passes.

Sweep: the shuffle-heaviest oracle-backed registry queries run under
three deliberately different layouts and must produce IDENTICAL rows
(canonicalized exactly like the oracle harness — floats rounded to 9
places, since summation ORDER legitimately varies with partitioning):

- `wide`: many tiny scan splits (256 KiB) — maximizes map-task count,
  so per-partition state (bloom partials, pandas batches) sees many
  small pieces;
- `narrow`: few shuffle partitions (base 8) with default splits;
- `aqe`: AQE forced ON (runtime re-planning, skew-join, partition
  coalescing active) with a large shuffle base.

The knobs are driven through deimos_spark.session's autotune state —
the same path every builder takes — so the sweep exercises the real
conf plumbing, not a parallel test-only one.
"""

import sys
from pathlib import Path

import pytest

import deimos_spark.session as S

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import _norm_rows  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# Shuffle/partition-sensitive, deterministic (oracle-backed) queries:
# grouped aggs, windows, banded dedup joins, connected components,
# bloom partials, deterministic sampling, sessionization.
QUERIES = [
    "b11_agg_hash",
    "b19_window_running",
    "b20_keep_last_per_key",
    "t06_minhash_pairs",
    "t07_simhash_pairs",
    "t17_pack_plan",
    "t18_mixture_sample",
    "t20_dup_clusters",
    "t22_dedup_safe_split",
    "t26_substr_dedup",
    "t28_dedup_apply",
    "t30_bloom_incremental",
    "t24_source_overlap",
    "x13_sessionize",
    "x14_scd2_history",
]

# Layouts are designed around autotune_for_dir's two branches AT THIS
# INPUT SIZE (~0.5 MB): with aqe_min huge the small-input branch fires
# (AQE off, sp=max(8, ~1)=8, mpb≈2 MiB regardless of the bases), so the
# bases only matter with aqe_min=0, which forces the big-input branch
# where they pass through verbatim. The three layouts are therefore
# provably distinct:
#   small:  AQE off, 8 shuffle partitions, ~2 MiB splits
#   wide:   AQE on, 32 shuffle partitions, 128 KiB splits (many map
#           tasks → many bloom/pandas partials, many-partition windows)
#   coarse: AQE on,  8 shuffle partitions, 128 MiB splits (one map task
#           per file — the opposite extreme)
LAYOUTS = {
    # (shuffle base, maxPartitionBytes, aqe_min_bytes)
    "small": (32, "134217728b", 1 << 30),
    "wide": (32, "131072b", 0),
    "coarse": (8, "134217728b", 0),
}

_REGISTRY = None


def _registry():
    global _REGISTRY
    if _REGISTRY is None:
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "__spark_entry__",
            str(
                Path(__file__).resolve().parent.parent
                / "__spark_entry__.py"
            ),
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        _REGISTRY = mod.queries()
    return _REGISTRY


def _run_under(scale_regime, spark, fn, base_sp, mpb, aqe_min):
    # scale_regime empties the prepared-plan cache: without that, layouts
    # 2..n would re-execute layout 1's plan and the sweep would compare a
    # plan with itself
    with scale_regime(aqe_min) as key:
        S._tuning[key] = S._Tuning(base_sp, mpb)
        df = fn(spark, SF_DIR)
        return _norm_rows(df.columns, df.collect())


@pytest.mark.parametrize("qname", QUERIES)
def test_layout_invariant(spark, scale_regime, qname):
    fn = _registry()[qname]
    results = {
        name: _run_under(scale_regime, spark, fn, *knobs)
        for name, knobs in LAYOUTS.items()
    }
    base = results.pop("small")
    assert base, f"{qname}: empty result weakens the property"
    for name, rows in results.items():
        assert rows == base, (
            f"{qname}: result differs between layout 'small' and "
            f"'{name}' — partition-layout-dependent answer"
        )


# ---------------------------------------------------------------------------
# Physical FILE-layout invariance (VERDICT r12 #1): rewriting the input
# tables along a space-filling curve (Z-order / Hilbert) reorders rows
# and redraws file boundaries — a maintenance op a 100-TB table runs
# routinely. Query RESULTS must be identical over the clustered copy;
# only the scan cost may change. Uses the same canonicalization as the
# oracle harness.

ZORDER_COLS = {
    # table -> 2 numeric clustering columns (the multi-predicate shape)
    "lineitem": ["l_orderkey", "l_partkey"],
    "events": ["user_id", "value"],
    "documents": ["doc_id", "n_chars"],
}

# shuffle-heavy queries whose inputs cover all three rewritten tables
ZLAYOUT_QUERIES = [
    "b11_agg_hash",
    "b20_keep_last_per_key",
    "t06_minhash_pairs",
    "t26_substr_dedup",
    "x13_sessionize",
    "x14_scd2_history",
]


@pytest.fixture(scope="module")
def zordered_sf_dir(spark, tmp_path_factory):
    import shutil

    from deimos_spark.operators.layout import write_zordered

    src = Path(SF_DIR)
    dst = tmp_path_factory.mktemp("zsf")
    for t in src.glob("*.parquet"):
        name = t.stem
        out = str(dst / t.name)
        if name in ZORDER_COLS:
            df = spark.read.parquet(str(t))
            curve = "hilbert" if name == "events" else "z"
            write_zordered(df, out, ZORDER_COLS[name], n_files=8, curve=curve)
        else:
            if t.is_dir():
                shutil.copytree(str(t), out)
            else:
                shutil.copy(str(t), out)
    return str(dst)


@pytest.mark.parametrize("qname", ZLAYOUT_QUERIES)
def test_zordered_file_layout_invariant(spark, qname, zordered_sf_dir):
    from deimos_spark.queries import clear_plan_cache

    fn = _registry()[qname]
    clear_plan_cache()
    df = fn(spark, SF_DIR)
    base = _norm_rows(df.columns, df.collect())
    clear_plan_cache()
    dfz = fn(spark, zordered_sf_dir)
    got = _norm_rows(dfz.columns, dfz.collect())
    clear_plan_cache()
    assert base, f"{qname}: empty result weakens the property"
    assert got == base, (
        f"{qname}: result differs between the original and the "
        "z-ordered file layout — row-order/file-boundary-dependent answer"
    )
