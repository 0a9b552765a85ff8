"""Association fan-out: one message writes a parent row plus has_one /
has_many children, with FK backfill and optional replace-children.

Reference behavior (studied from /root/reference/lib/deimos/
active_record_consume/mass_updater.rb:75-131, batch_record.rb,
batch_record_list.rb — behavior only):

- payloads carry nested child records; the consumer splits them into a
  parent table write and child table writes;
- children get the parent's key as FK (the reference backfills via a
  bulk_import_id UUID column because SQL bulk-insert can't return ids —
  with natural/composite keys in Spark we join on the parent key
  directly, no synthetic import id needed);
- replace mode: children of an updated parent that aren't in the new
  payload are deleted (anti-join).

Spark-first: nested struct/array columns → explode → two keyed MERGEs.
The whole fan-out is two shuffles (parent merge, child merge), independent
of fan-out degree.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from deimos_spark.operators.delta_interop import DeltaKeyedTable
    from deimos_spark.operators.iceberg_interop import IcebergKeyedTable


@dataclass
class ChildSpec:
    """One association: payload column holding the nested child(ren)."""

    column: str                 # nested column: struct (has_one) or array<struct> (has_many)
    table: DeltaKeyedTable | IcebergKeyedTable  # key_cols must include fk_cols
    fk_cols: dict[str, str]     # child col -> parent col (FK backfill mapping)
    replace: bool = True        # delete stale children of updated parents


def fan_out(
    batch: DataFrame,
    parent: DeltaKeyedTable | IcebergKeyedTable,
    children: Sequence[ChildSpec],
) -> None:
    """Apply one denormalized batch: parent upserts + child upserts (+ stale
    child deletes). `batch` columns = parent payload columns + one nested
    column per child spec; rows must already be compacted per parent key."""
    child_cols = [c.column for c in children]
    parent_cols = [c for c in batch.columns if c not in child_cols]
    parent.merge(upserts=batch.select(*parent_cols))

    for spec in children:
        col_type = dict(zip(batch.columns, [f.dataType for f in batch.schema.fields]))[
            spec.column
        ]
        is_many = col_type.typeName() == "array"
        fk_parent_cols = [F.col(p).alias(c) for c, p in spec.fk_cols.items()]
        if is_many:
            exploded = batch.select(
                *fk_parent_cols, F.explode_outer(spec.column).alias("_child")
            )
        else:
            exploded = batch.select(*fk_parent_cols, F.col(spec.column).alias("_child"))

        new_children = exploded.filter(F.col("_child").isNotNull()).select(
            *[F.col(c) for c in spec.fk_cols], F.col("_child.*")
        )
        # drop any child field that would collide with a backfilled FK col
        dup = [c for c in new_children.columns if new_children.columns.count(c) > 1]
        if dup:
            raise ValueError(f"child payload redeclares FK columns: {set(dup)}")

        if spec.replace:
            # stale children = rows under an affected parent not present in
            # the new payload → replace = merge new + delete others.
            affected_parents = exploded.select(*[F.col(c) for c in spec.fk_cols]).distinct()
            existing = spec.table.read().join(
                F.broadcast(affected_parents), list(spec.fk_cols), "left_semi"
            )
            stale = existing.join(
                new_children.select(*spec.table.key_cols),
                spec.table.key_cols,
                "left_anti",
            ).select(*spec.table.key_cols)
            spec.table.merge(upserts=new_children, delete_keys=stale)
        else:
            spec.table.merge(upserts=new_children)
