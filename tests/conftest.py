import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deimos_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("deimos_spark_tests", shuffle_partitions=4)
    yield s


_AUTOTUNED_CONFS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes",
)


@pytest.fixture
def scale_regime(spark):
    """`with scale_regime(aqe_min_bytes):` runs a block with the scale
    threshold patched (None keeps it), an empty plan cache and this
    session's autotune record reset to its base confs; then it restores
    the threshold, the record, the three autotuned confs and the plan
    cache. Record and confs go back together: autotune skips the conf
    writes its record says are applied, so restoring one without the
    other would leave later tests on this shared session under the
    block's confs."""
    from deimos_spark import session as S
    from deimos_spark.queries import clear_plan_cache

    @contextlib.contextmanager
    def run(aqe_min_bytes=None):
        key = spark.sparkContext.applicationId
        threshold, rec = S.AQE_MIN_INPUT_BYTES, S._tuning.get(key)
        confs = {k: spark.conf.get(k) for k in _AUTOTUNED_CONFS}
        if rec is not None:
            S._tuning[key] = S._Tuning(rec.base_partitions, rec.base_split)
        if aqe_min_bytes is not None:
            S.AQE_MIN_INPUT_BYTES = aqe_min_bytes
        clear_plan_cache()
        try:
            yield key
        finally:
            S.AQE_MIN_INPUT_BYTES = threshold
            if rec is None:
                S._tuning.pop(key, None)
            else:
                S._tuning[key] = rec
            for k, v in confs.items():
                spark.conf.set(k, v)
            clear_plan_cache()

    return run
