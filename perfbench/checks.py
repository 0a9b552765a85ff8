"""Correctness checks. Each returns a count of mismatches; the workloads
turn a non-zero count into one failed operation, never a crash."""

from __future__ import annotations

import hashlib
from decimal import Decimal

from tools.check_oracle import _norm_rows

from deimos_spark.schemas.pyavro import decode_record


def _canon(v):
    """check_oracle compares normalised cells with ==, under which 1 == 1.0
    == Decimal('1.00'); map such equal numbers to one spelling so equal
    results hash equally."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        return int(f) if f.is_integer() and abs(f) < 2**53 else repr(round(f, 9))
    if isinstance(v, tuple):
        return tuple(_canon(x) for x in v)
    return repr(v)


def result_digest(cols, rows) -> str:
    """Digest of a query result under check_oracle's normalisation: column
    names compared as a set, rows order-insensitive, floats to 9 places."""
    norm = _norm_rows(list(cols), [tuple(r) for r in rows])
    body = repr((sorted(cols), [_canon(r) for r in norm]))
    return hashlib.sha256(body.encode()).hexdigest()


# -------------------------------------------------------- CDC → Delta

def _is_delete(change) -> bool:
    return change[2] is None and change[3] is None and change[4] is None


def _ordered(changes):
    """Source commit order: (updated_at, event_id), the poller's cursor."""
    return sorted(changes, key=lambda c: (c[5], c[0]))


class TableModel:
    """Reference of the keyed sink table: the last change of a key wins and
    a delete (NULL payload) removes it. Changes are `datagen.change_set`
    rows: (event_id, widget_id, name, qty, price, updated_at)."""

    def __init__(self):
        self.rows: dict[int, tuple] = {}

    def apply(self, changes) -> None:
        for c in _ordered(changes):
            if _is_delete(c):
                self.rows.pop(c[1], None)
            else:
                self.rows[c[1]] = (c[2], c[3], c[4])

    def aggregate(self) -> tuple[int, int]:
        """(live keys, sum of qty): what the read-after-write query returns."""
        return len(self.rows), sum(r[1] for r in self.rows.values())

    def mismatches(self, table_rows) -> int:
        """Keys whose row in `table_rows` ((widget_id, name, qty, price)
        tuples) is missing, extra or different."""
        got = {r[0]: (r[1], r[2], r[3]) for r in table_rows}
        keys = set(got) | set(self.rows)
        return sum(1 for k in keys if got.get(k) != self.rows.get(k))


def broker_mismatches(changes, records, key_schema, value_schema) -> int:
    """Keys whose broker messages, decoded and read in (partition, offset)
    order, differ from the key's change sequence in source order, plus
    messages that do not decode. `records` are (partition, offset, key
    bytes, value bytes)."""
    want: dict[int, list] = {}
    for c in _ordered(changes):
        want.setdefault(c[1], []).append(
            None if _is_delete(c) else (c[2], c[3], c[4])
        )
    got: dict[int, list] = {}
    undecodable = 0
    for _p, _o, key, value in sorted(records, key=lambda r: (r[0], r[1])):
        try:
            k = decode_record(key_schema, key)["widget_id"]
            if value is None:
                payload = None
            else:
                d = decode_record(value_schema, value)
                payload = (d["name"], d["qty"], d["price"])
        except Exception:  # corrupted bytes are a mismatch, not a crash
            undecodable += 1
            continue
        got.setdefault(k, []).append(payload)
    return undecodable + sum(
        1 for k in set(want) | set(got) if want.get(k) != got.get(k)
    )
