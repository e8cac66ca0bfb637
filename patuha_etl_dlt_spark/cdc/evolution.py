"""Schema evolution: envelope descriptor → lake-table metadata ops.

The engine diffs each distinct ``schema_json`` in a batch against the
target table schema **by field id** and applies, in order: type widenings,
renames, then added columns. Reference analog: source-vs-target
INFORMATION_SCHEMA diff + ``ALTER TABLE ADD COLUMN``
(``/root/reference/source/schema_management.py:11-57``) — add-only and
name-based; columns are never dropped (``README.MD:395``), a rule we keep.

Scale note: the engine collects the distinct ``schema_json`` descriptors
inside its offsets pass (a handful per batch at worst); the resulting DDL
is metadata-only, so evolution costs no data rewrite at any scale.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

from patuha_etl_dlt_spark.cdc.envelope import parse_descriptor
from patuha_etl_dlt_spark.lake.metadata import WIDENINGS, Schema, type_name
from patuha_etl_dlt_spark.lake.table import SYS_COLS, LakeTable


@dataclass(frozen=True)
class EvolutionOp:
    kind: str  # 'add' | 'rename' | 'widen'
    name: str
    new_name: str | None = None
    typ: str | None = None


def diff_schemas(current: Schema, incoming: Schema) -> list[EvolutionOp]:
    """Ops to evolve ``current`` so it can hold ``incoming`` payloads."""
    ops: list[EvolutionOp] = []
    for f in incoming.fields:
        cur = current.field_by_id(f.id)
        if cur is None:
            ops.append(EvolutionOp("add", f.name, typ=f.type))
            continue
        if cur.type != f.type:
            if f.type in WIDENINGS.get(cur.type, set()):
                ops.append(EvolutionOp("widen", cur.name, typ=f.type))
            else:
                raise ValueError(
                    f"incompatible type change for field id {f.id} "
                    f"({cur.name}): {cur.type} -> {f.type}"
                )
        if cur.name != f.name:
            ops.append(EvolutionOp("rename", cur.name, new_name=f.name))
    return ops


def diff_source_schema(current: Schema, spark_schema) -> list[EvolutionOp]:
    """NAME-based diff of an introspected SOURCE schema (a pulled
    DataFrame's ``df.schema``) against the lake schema — the reference's
    INFORMATION_SCHEMA source-vs-target diff
    (``/root/reference/source/schema_management.py:11-57,79-104``), which
    is add-only and never drops (``README.MD:395``). We keep add + widen:

    - source column absent from the lake table → ``add``;
    - source type strictly wider (per ``WIDENINGS``) → ``widen``;
    - source type narrower or equal → no-op (the merge's ``_align`` casts
      rows up to the lake type);
    - lake column absent from the source → no-op (rows get NULLs; columns
      are never dropped).

    Plain pulled rows carry no field ids, hence by-name matching here vs
    the by-id matching of envelope-descriptor evolution (``diff_schemas``)
    — renames are indistinguishable from drop+add without ids, so a
    renamed source column becomes an added lake column, exactly the
    reference's behavior."""
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


def evolve_from_source(table: LakeTable, spark_schema) -> list[EvolutionOp]:
    """Apply ``diff_source_schema`` ops to ``table`` (metadata-only) and
    return them — the pull loop calls this on every cycle so a source
    table that grows or widens a column upstream auto-evolves before the
    batch is applied."""
    ops = diff_source_schema(table.schema, spark_schema)
    for op in ops:
        if op.kind == "add":
            table.add_column(op.name, op.typ)
        elif op.kind == "widen":
            table.widen_column(op.name, op.typ)
    return ops


def ops_json(ops: list[EvolutionOp]) -> list[dict]:
    """The ``evolution_ops`` commit metric: one dict per applied op,
    without its unset fields."""
    return [{k: v for k, v in asdict(o).items() if v is not None} for o in ops]


def evolve_table(table: LakeTable, descriptors: list[str]) -> list[EvolutionOp]:
    """Evolve ``table`` to hold every envelope schema in ``descriptors``
    (the engine collects them in its offsets pass). Returns the ops
    applied (renames are applied with their pre-rename names, so callers
    can remap delta columns that still carry old names)."""
    descriptors = [d for d in descriptors if d is not None]
    applied: list[EvolutionOp] = []
    # deterministic order: ascending max field id ⇒ older descriptors first
    for d in sorted(set(descriptors), key=lambda s: (parse_descriptor(s).max_id, s)):
        incoming = parse_descriptor(d)
        for op in diff_schemas(table.schema, incoming):
            if op.kind == "add":
                table.add_column(op.name, op.typ)
            elif op.kind == "widen":
                table.widen_column(op.name, op.typ)
            elif op.kind == "rename":
                table.rename_column(op.name, op.new_name)
            applied.append(op)
    return applied
