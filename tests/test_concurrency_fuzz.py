"""Multi-writer concurrency property fuzz for the keyed tables
(VERDICT r11 #3). N threads fire seeded-random merges / deletes /
optimizes at ONE table; afterwards the test recovers the actual commit
order from the table's own log (Delta txn actions / Iceberg snapshot
summaries) and asserts:

- EXACTLY-ONCE: every issued merge op appears exactly once in the
  commit order — optimistic retries never drop or double-apply a
  commit under contention;
- SERIALIZABILITY: the final table state equals a serial replay of
  the ops in commit order (last-committed-writer-wins per key);
- SNAPSHOT ISOLATION (Delta): the table read AT each committed
  version equals the replay of the commit-order prefix up to it;
- NO LIVE FILE LOSS: every file the final snapshot references exists
  on disk, and vacuum/expire with a zero window (legal here — all
  writers have stopped) never breaks the final state. Keyed merges
  and optimizes, and every Delta write, unlink what a lost commit race
  wrote; only plain Iceberg writer commits (append/overwrite) leave a
  loser's files on disk — that is exactly what the retention window is
  FOR — and those must be invisible to reads and deletable by expiry
  without harm.

The ops run against tiny key spaces (heavy key overlap) to maximize
conflict pressure: with 3 threads x 4 ops over 10 keys, most commits
race at least one sibling.
"""

import os
import random
import threading

import pytest

from deimos_spark.operators.delta_interop import DeltaKeyedTable
from deimos_spark.operators.iceberg_interop import IcebergKeyedTable

N_THREADS = 3
OPS_PER_THREAD = 4
KEYS = 10
SCHEMA = "k bigint, v string"


def _gen_ops(seed: int):
    """[(op_id, kind, keys)] per thread — seeded, so failures replay."""
    plans = []
    for tid in range(N_THREADS):
        rng = random.Random(seed * 1000 + tid)
        ops = []
        for i in range(OPS_PER_THREAD):
            op_id = f"s{seed}t{tid}o{i}"
            kind = rng.choices(
                ["upsert", "delete", "optimize"], weights=[6, 3, 1]
            )[0]
            keys = sorted(rng.sample(range(KEYS), rng.randint(1, 5)))
            ops.append((op_id, kind, keys))
        plans.append(ops)
    return plans


def _run(spark, table, plans):
    """Execute the per-thread plans concurrently; returns (issued merge
    op_ids, thread errors)."""
    issued = {
        op_id
        for ops in plans
        for op_id, kind, _ in ops
        if kind != "optimize"
    }
    errors = []

    def worker(ops):
        try:
            for op_id, kind, keys in ops:
                if kind == "upsert":
                    table.merge(
                        upserts=spark.createDataFrame(
                            [(k, op_id) for k in keys], SCHEMA
                        ),
                        txn=(op_id, 1),
                    )
                elif kind == "delete":
                    table.merge(
                        delete_keys=spark.createDataFrame(
                            [(k,) for k in keys], "k bigint"
                        ),
                        txn=(op_id, 1),
                    )
                elif hasattr(table, "optimize"):  # IcebergKeyedTable
                    table.optimize()
                else:  # DeltaKeyedTable: OPTIMIZE lives on the writer
                    table.writer.optimize()
        except Exception as e:  # surfaced by the main thread
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(ops,)) for ops in plans]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    return issued, errors


def _table_state(df):
    return {r["k"]: r["v"] for r in df.collect()}


def _replay_with_seed(plans, order):
    """Serial replay in commit order over the seeded initial state
    (every key starts at 'seed') -> {k: v} last-writer-wins."""
    state = dict.fromkeys(range(KEYS), "seed")
    by_id = {
        op_id: (kind, keys)
        for ops in plans
        for op_id, kind, keys in ops
    }
    for op_id in order:
        kind, keys = by_id[op_id]
        for k in keys:
            if kind == "upsert":
                state[k] = op_id
            else:
                state.pop(k, None)
    return state


# --------------------------------------------------------------- Delta

def _delta_commit_order(path):
    """Version-ordered op ids from the log's txn actions (optimize
    commits carry none and are logical no-ops)."""
    import json

    log = os.path.join(path, "_delta_log")
    order = []
    for n in sorted(os.listdir(log)):
        if not n.endswith(".json"):
            continue
        v = int(n.split(".")[0])
        with open(os.path.join(log, n)) as fh:
            for line in fh:
                a = json.loads(line)
                if "txn" in a:
                    order.append((v, a["txn"]["appId"]))
    return order


@pytest.mark.parametrize("use_dvs", [False, True])
@pytest.mark.parametrize("seed", [1, 2])
def test_delta_keyed_multi_writer_fuzz(spark, tmp_path, use_dvs, seed):
    path = str(tmp_path / "t")
    table = DeltaKeyedTable(
        spark, path, ["k"], schema=SCHEMA, max_commit_retries=60,
        use_dvs=use_dvs,
    )
    # serial seed commit so no thread races table creation
    table.merge(
        upserts=spark.createDataFrame(
            [(k, "seed") for k in range(KEYS)], SCHEMA
        ),
        txn=("seed", 1),
    )
    plans = _gen_ops(seed)
    issued, errors = _run(spark, table, plans)
    assert not errors, errors

    versioned = _delta_commit_order(path)
    order = [op for _, op in versioned if op != "seed"]
    # exactly-once: no lost or doubled commits under contention
    assert sorted(order) == sorted(issued)

    want = _replay_with_seed(plans, order)
    assert _table_state(table.read()) == want

    # snapshot isolation: the table AT each txn commit's version equals
    # the replay prefix (optimize commits in between don't disturb it)
    for v, op in versioned:
        if op == "seed":
            continue
        prefix = order[: order.index(op) + 1]
        assert _table_state(table.read(version=v)) == _replay_with_seed(
            plans, prefix
        ), f"version {v} != replay prefix through {op}"

    # every file the final snapshot references exists on disk
    from deimos_spark.operators.delta_interop import DeltaTableReader

    snap = DeltaTableReader(spark, path).snapshot()
    for rel in snap.files:
        assert os.path.exists(os.path.join(path, rel)), rel

    # all writers stopped -> zero retention is legal; vacuum may delete
    # retry-abandoned orphans but must not disturb the final state
    deleted = table.writer.vacuum(keep_versions=0, retention_seconds=0.0)
    assert _table_state(table.read()) == want, f"vacuum broke reads: {deleted}"


# -------------------------------------------------------------- Iceberg

def _iceberg_commit_order(spark, path):
    import json

    from deimos_spark.operators.iceberg_interop import IcebergKeyedTable

    meta_dir = os.path.join(path, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        mv = int(fh.read().strip())
    with open(os.path.join(meta_dir, f"v{mv}.metadata.json")) as fh:
        md = json.load(fh)
    snaps = sorted(
        md.get("snapshots") or [], key=lambda s: s["sequence-number"]
    )
    out = []
    for s in snaps:
        app = (s.get("summary") or {}).get(IcebergKeyedTable._TXN_APP_KEY)
        if app:
            out.append(app)
    return out


@pytest.mark.parametrize("delete_mode", ["position", "equality", "dv"])
def test_iceberg_keyed_multi_writer_fuzz(spark, tmp_path, delete_mode):
    seed = 3
    path = str(tmp_path / "t")
    table = IcebergKeyedTable(
        spark, path, ["k"], max_commit_retries=60, delete_mode=delete_mode
    )
    table.merge(
        upserts=spark.createDataFrame(
            [(k, "seed") for k in range(KEYS)], SCHEMA
        ),
        txn=("seed", 1),
    )
    plans = _gen_ops(seed)
    issued, errors = _run(spark, table, plans)
    assert not errors, errors

    order = [op for op in _iceberg_commit_order(spark, path) if op != "seed"]
    assert sorted(order) == sorted(issued)
    want = _replay_with_seed(plans, order)
    assert _table_state(table.read()) == want

    # final snapshot's data files all exist on disk
    from deimos_spark.operators.iceberg_interop import IcebergTableReader

    for p in IcebergTableReader(spark, path).data_files():
        assert os.path.exists(p.replace("file://", "")), p

    # retention with all writers stopped must not disturb final state
    table.writer.expire_snapshots(keep_last=1, retention_seconds=0.0)
    assert _table_state(table.read()) == want
