"""Schema evolution: a snapshot → its evolved in-memory successor + ops.

Pure functions: the batch's write commits the successor together with
its data, batch id, offsets and cursor, in one swap. Envelope descriptors
are diffed **by field id** (add, rename, widen), a pulled source schema
**by name** (add, widen). Reference analog: an INFORMATION_SCHEMA diff +
``ALTER TABLE ADD COLUMN`` run as separate DDL ahead of each load
(``/root/reference/source/schema_management.py:11-57``) — add-only and
name-based; columns are never dropped (``README.MD:395``), a rule we keep.
Evolution is metadata-only: no data rewrite at any scale.
"""

from __future__ import annotations

import functools
from dataclasses import asdict, dataclass

from patuha_etl_dlt_spark.cdc.envelope import parse_descriptor
from patuha_etl_dlt_spark.lake.metadata import WIDENINGS, Schema, Snapshot, type_name
from patuha_etl_dlt_spark.lake.table import SYS_COLS


@dataclass(frozen=True)
class EvolutionOp:
    kind: str  # 'add' | 'rename' | 'widen'
    name: str
    new_name: str | None = None
    typ: str | None = None

    def apply(self, schema: Schema) -> Schema:
        if self.kind == "add":
            return schema.add_column(self.name, self.typ)
        if self.kind == "widen":
            return schema.widen_column(self.name, self.typ)
        return schema.rename_column(self.name, self.new_name)


def _successor(snap: Snapshot, ops: list[EvolutionOp]) -> Snapshot:
    return snap.with_schema(functools.reduce(lambda s, op: op.apply(s), ops, snap.schema))


def diff_schemas(snap: Snapshot, incoming: Schema) -> list[EvolutionOp]:
    """Ops to evolve ``snap``'s schema so it can hold ``incoming`` payloads.

    An incoming field that is an OLDER generation of a current one emits
    no op: a name its field id has carried in any schema epoch (a late
    event minted before a rename — the engine remaps its column to the
    current name), or a type the current one widens (its values are cast
    up on write). So a late descriptor never renames a column back or
    narrows it, whatever order the descriptors come in."""
    current = snap.schema
    ops: list[EvolutionOp] = []
    for f in incoming.fields:
        cur = current.field_by_id(f.id)
        if cur is None:
            ops.append(EvolutionOp("add", f.name, typ=f.type))
            continue
        if f.type in WIDENINGS.get(cur.type, set()):
            ops.append(EvolutionOp("widen", cur.name, typ=f.type))
        elif cur.type != f.type and cur.type not in WIDENINGS.get(f.type, set()):
            raise ValueError(
                f"incompatible type change for field id {f.id} "
                f"({cur.name}): {cur.type} -> {f.type}"
            )
        if f.name not in snap.names_of(f.id):
            ops.append(EvolutionOp("rename", cur.name, new_name=f.name))
    return ops


def diff_source_schema(current: Schema, spark_schema) -> list[EvolutionOp]:
    """NAME-based diff of an introspected SOURCE schema (a pulled
    DataFrame's ``df.schema``) against the lake schema, as the reference's
    INFORMATION_SCHEMA diff (``schema_management.py:79-104``): a source
    column the lake lacks → ``add``; a strictly wider source type (per
    ``WIDENINGS``) → ``widen``; a narrower or equal type, or a lake column
    the source lacks → no-op (rows are cast up / NULL-filled; columns are
    never dropped). Pulled rows carry no field ids, so a renamed source
    column becomes an added lake column, exactly the reference's
    behavior."""
    ops: list[EvolutionOp] = []
    by_name = {f.name: f for f in current.fields}
    for f in spark_schema.fields:
        if f.name in SYS_COLS:
            continue
        try:
            src_t = type_name(f.dataType)
        except ValueError:
            raise ValueError(
                f"source column {f.name!r} has no lake type mapping: {f.dataType}"
            ) from None
        cur = by_name.get(f.name)
        if cur is None:
            ops.append(EvolutionOp("add", f.name, typ=src_t))
        elif cur.type != src_t and src_t in WIDENINGS.get(cur.type, set()):
            ops.append(EvolutionOp("widen", cur.name, typ=src_t))
    return ops


def evolve_from_source(snap: Snapshot, spark_schema) -> tuple[Snapshot, list[EvolutionOp]]:
    """``snap``'s successor evolved by the ``diff_source_schema`` ops, and
    the ops — every pull computes it, so a source table that grows or
    widens a column upstream evolves the lake table in the pull's own
    commit."""
    ops = diff_source_schema(snap.schema, spark_schema)
    return _successor(snap, ops), ops


def ops_json(ops: list[EvolutionOp]) -> list[dict]:
    """The ``evolution_ops`` commit metric: one dict per applied op,
    without its unset fields."""
    return [{k: v for k, v in asdict(o).items() if v is not None} for o in ops]


def evolve_table(snap: Snapshot, descriptors: list[str]) -> tuple[Snapshot, list[EvolutionOp]]:
    """``snap``'s successor evolved to hold every envelope schema in
    ``descriptors`` (the engine collects them in its offsets pass), and
    the ops. Each descriptor that changes the schema adds one schema
    epoch, so every name a field has carried stays in ``snap.schemas``,
    where the engine maps delta columns by field id."""
    ops: list[EvolutionOp] = []
    # deterministic order: ascending max field id ⇒ older descriptors first
    for d in sorted({d for d in descriptors if d}, key=lambda s: (parse_descriptor(s).max_id, s)):
        step = diff_schemas(snap, parse_descriptor(d))
        snap = _successor(snap, step)
        ops += step
    return snap, ops
