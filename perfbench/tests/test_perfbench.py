"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
from decimal import Decimal
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from deimos_spark.schemas.pyavro import encode_record  # noqa: E402
from perfbench import datagen  # noqa: E402
from perfbench.checks import (  # noqa: E402
    TableModel,
    broker_mismatches,
    result_digest,
)
from perfbench.olap import QUERIES, Olap  # noqa: E402
from perfbench.pipeline import KEY_SCHEMA, VALUE_SCHEMA, CdcToDelta  # noqa: E402
from perfbench.stats import tail  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.summarize import self_times  # noqa: E402


# ----------------------------------------------------------- percentiles

@pytest.mark.parametrize(
    "n, pct",
    [(1000, 99), (200, 95), (199, 90), (100, 90), (99, 80), (50, 80),
     (40, 75), (39, 50), (20, 50), (19, None)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    t = tail([float(i) for i in range(n)])
    assert t["pct"] == pct
    assert t["n"] == n
    if pct is not None:
        assert n * (100 - pct) / 100 >= 10
        # ranks 0..n-1 hold the values 0..n-1: the percentile is its rank
        assert t["value"] == pytest.approx((n - 1) * pct / 100)
    else:
        assert t["value"] is None


def test_tail_interpolates_between_ranks_of_unsorted_samples():
    xs = [float(x) for x in range(100, 0, -1)]  # 100 .. 1
    t = tail(xs)
    assert (t["pct"], t["n"]) == (90, 100)
    assert t["value"] == pytest.approx(90.1)  # rank 89.1 of 1..100


# -------------------------------------------------- olap result checker

def _olap_checker(ref):
    o = Olap.__new__(Olap)
    o.ref, o.attempted, o.failed = dict(ref), 0, 0
    return o


def test_digest_uses_oracle_normalisation():
    a = result_digest(["b", "a"], [(1, 0.1 + 0.2), (2, Decimal("1.50"))])
    b = result_digest(["a", "b"], [(Decimal("1.5"), 2), (0.3, 1)])
    assert a == b


def test_olap_corrupted_row_counts_one_failure():
    cols, rows = ["k", "v"], [(1, "x"), (2, "y")]
    o = _olap_checker({"q": result_digest(cols, rows)})
    o._check("q", cols, rows)
    o._check("q", cols, [(1, "x"), (2, "z")])
    o._check("q", cols, rows[:1])
    assert (o.attempted, o.failed) == (3, 2)


class _FakeFrame:
    columns = ["n"]

    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


def _raises(*_args):
    raise RuntimeError("builder broke")


def test_olap_submission_that_raises_counts_as_failed_and_run_goes_on():
    bad = QUERIES[1]
    o = _olap_checker({})
    o.spark, o.sf_dir, o.cold_s = None, "", 0.0
    o.specs = {
        q: SimpleNamespace(builder=_raises if q == bad else
                           (lambda *_a: _FakeFrame([(1,)])))
        for q in QUERIES
    }
    o.warmup()
    rec = o.timed(0.0, Tracer(False))
    e2e, detail = o.end_to_end(rec)
    n = len(QUERIES)
    # three passes: first submission, warm, timed; one failure per pass
    assert (o.attempted, o.failed) == (3 * n, 3)
    assert rec["latencies"][bad] == []
    assert len(detail["query_p50_s_by_query"]) == n - 1
    assert e2e["latency_p50_s"] > 0 and e2e["throughput_per_s"] > 0


def test_rows_only_query_is_checked_against_its_first_submission():
    o = _olap_checker({})
    o._check("t", ["n"], [(3,)])
    o._check("t", ["n"], [(3,)])
    o._check("t", ["n"], [(4,)])
    assert (o.attempted, o.failed) == (3, 1)


# ------------------------------------------------------- ingest model

def _chg(event_id, key, name, qty, price, ts):
    return (event_id, key, name, qty, price, ts)


def test_table_model_tombstones_and_reordered_input():
    # listed out of commit order: the model applies (updated_at, event_id)
    changes = [
        _chg(4, 2, None, None, None, 40),   # delete key 2 (last for key 2)
        _chg(1, 1, "a1", 1, 1.0, 10),
        _chg(2, 2, "b1", 2, 2.0, 20),
        _chg(6, 3, "c2", 7, 7.0, 50),       # same ts as 5: event_id breaks it
        _chg(5, 3, None, None, None, 50),   # delete key 3, then re-insert
        _chg(3, 1, "a2", 5, 5.0, 30),
        _chg(7, 4, None, None, None, 60),   # delete of a key never present
    ]
    m = TableModel()
    m.apply(changes)
    assert m.rows == {1: ("a2", 5, 5.0), 3: ("c2", 7, 7.0)}
    assert m.aggregate() == (2, 12)


def test_table_model_counts_each_wrong_key():
    m = TableModel()
    m.apply([_chg(1, 1, "a", 1, 1.0, 1), _chg(2, 2, "b", 2, 2.0, 2)])
    good = [(1, "a", 1, 1.0), (2, "b", 2, 2.0)]
    assert m.mismatches(good) == 0
    assert m.mismatches([(1, "a", 1, 1.0), (2, "b", 3, 2.0)]) == 1
    assert m.mismatches(good + [(9, "z", 0, 0.0)]) == 1
    assert m.mismatches(good[:1]) == 1


# ------------------------------------------------------- broker checker

def _record(partition, offset, key, payload):
    k = encode_record(KEY_SCHEMA, {"widget_id": key})
    if payload is None:
        return (partition, offset, k, None)
    name, qty, price = payload
    v = encode_record(
        VALUE_SCHEMA, {"widget_id": key, "name": name, "qty": qty, "price": price}
    )
    return (partition, offset, k, v)


def test_broker_checker_counts_a_corrupted_message():
    changes = [
        _chg(1, 7, "a", 1, 1.5, 10),
        _chg(2, 8, "b", 2, 2.5, 11),
        _chg(3, 7, None, None, None, 12),
    ]
    good = [
        _record(0, 0, 7, ("a", 1, 1.5)),
        _record(1, 0, 8, ("b", 2, 2.5)),
        _record(0, 1, 7, None),
    ]
    assert broker_mismatches(changes, good, KEY_SCHEMA, VALUE_SCHEMA) == 0
    corrupted = list(good)
    corrupted[1] = _record(1, 0, 8, ("b", 3, 2.5))
    assert broker_mismatches(changes, corrupted, KEY_SCHEMA, VALUE_SCHEMA) == 1
    # key 7's delete delivered before its insert
    reordered = [_record(0, 0, 7, None), good[1], _record(0, 1, 7, ("a", 1, 1.5))]
    assert broker_mismatches(changes, reordered, KEY_SCHEMA, VALUE_SCHEMA) == 1
    assert broker_mismatches(changes, good[:2], KEY_SCHEMA, VALUE_SCHEMA) == 1


def test_broker_checker_counts_undecodable_bytes_without_raising():
    changes = [_chg(1, 7, "a", 1, 1.5, 10)]
    good = _record(0, 0, 7, ("a", 1, 1.5))
    assert broker_mismatches(changes, [good], KEY_SCHEMA, VALUE_SCHEMA) == 0
    garbled = (0, 0, good[2], b"\xff\xff\xff")
    # the message does not decode, and key 7 then misses its change
    assert broker_mismatches(changes, [garbled], KEY_SCHEMA, VALUE_SCHEMA) == 2


def test_cdc_cycle_that_raises_counts_as_failed_and_stops_the_loop(tmp_path):
    w = CdcToDelta(None, 5, 4, str(tmp_path))
    w._land = lambda c: None
    calls = []

    def consume_raises(c, tracer):
        calls.append(c)
        raise RuntimeError("consumer broke")

    w._cycle = consume_raises
    assert w.warmup() == 0.0
    rec = w.timed(60.0, Tracer(False))
    w.final_check()
    assert calls == [0]  # no cycle runs after a broken one
    assert (w.attempted, w.failed) == (1, 1)
    e2e, detail = w.end_to_end(rec)
    assert detail["cycles"] == 0
    assert e2e == {"latency_p50_s": 0.0, "throughput_per_s": 0.0}


# ---------------------------------------------------- staged inputs

def _files(d):
    return {
        f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))
    }


def test_same_seed_stages_byte_identical_olap_tables(tmp_path):
    datagen.write_olap_tables(5, 0.001, str(tmp_path / "a"))
    datagen.write_olap_tables(5, 0.001, str(tmp_path / "b"))
    datagen.write_olap_tables(6, 0.001, str(tmp_path / "c"))
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert sorted(a) == [f"{t}.parquet" for t in sorted(datagen.olap_tables(5, 0.001))]
    assert a == b
    assert a != c


def test_same_seed_stages_byte_identical_change_sets(tmp_path):
    CdcToDelta(None, 5, 4, str(tmp_path)).stage(str(tmp_path / "a"))
    CdcToDelta(None, 5, 4, str(tmp_path)).stage(str(tmp_path / "b"))
    CdcToDelta(None, 6, 4, str(tmp_path)).stage(str(tmp_path / "c"))
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a != c


def test_change_sets_have_skew_and_deletes():
    rows = datagen.change_set(1, 0, 1000, 2000)
    keys = [r[1] for r in rows]
    deletes = sum(1 for r in rows if r[2] is None)
    assert 20 <= deletes <= 90
    assert len(set(keys)) < 0.6 * len(keys)
    assert [r[5] for r in rows] == sorted(r[5] for r in rows)


# ------------------------------------------------------------ self time

def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 1.5, "end": 2.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.5)
    assert st[2] == pytest.approx(3.0)
