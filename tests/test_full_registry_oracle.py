"""CI gate for the driver's blind spot: the per-round CORRECTNESS file
checks a fixed ~50-query window, so the rest of the registry could
silently regress between rounds. This test runs EVERY declared query
against its DuckDB oracle at sf0.001 (rows-only for the no-oracle,
approximate-by-design entries) and fails on any mismatch. sf0.001 is
in the small regime (session.small_input), so a second test re-checks
the builders whose plan shape branches on the regime under the big one.
"""

import os

import pytest

from tools.check_oracle import run_check

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")


@pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"{SF_DIR} not present"
)
def test_full_query_registry_matches_oracle(spark):
    failures = run_check(SF_DIR, spark=spark, quiet=True)
    assert not failures, (
        f"{len(failures)} registry queries diverged from their DuckDB "
        f"oracle at {SF_DIR}: {failures}"
    )


# every builder that calls spread_small or gates on small_input
REGIME_BRANCHING = [
    "t02_lang_id",
    "t12_top_bigrams",
    "t13_repetition_stats",
    "t14_benchmark_contamination",
    "t15_duplicate_ngrams",
    "t16_pii_scrub",
    "t19_gopher_quality",
    "t21_dsir_weights",
    "t23_unigram_ppl",
    "t26_substr_dedup",
    "t29_classifier_quality",
    "t29b_classifier_bigram",
]


@pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"{SF_DIR} not present"
)
def test_big_regime_builders_match_oracle(spark, scale_regime):
    from deimos_spark.queries import all_queries

    assert set(REGIME_BRANCHING) <= set(all_queries())
    with scale_regime(0):
        failures = run_check(
            SF_DIR, only=REGIME_BRANCHING, spark=spark, quiet=True
        )
    assert not failures, (
        f"{len(failures)} big-regime plans diverged from their DuckDB "
        f"oracle at {SF_DIR}: {failures}"
    )
