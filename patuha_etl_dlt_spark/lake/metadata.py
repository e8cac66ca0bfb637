"""Lake-table metadata: schemas with field IDs, snapshots, atomic pointer.

Schema evolution is column-ID based (the Iceberg model): renames and type
widenings keep the field id, so old data files remain readable under the
current schema by id-mapping at scan time. The reference's analog is
INFORMATION_SCHEMA diffing + ``ALTER TABLE ADD COLUMN``
(``/root/reference/source/schema_management.py:11-57``), which is add-only
and name-based; field ids are what let us additionally support rename and
type-widen (north-rule requirement).
"""

from __future__ import annotations

import dataclasses
import json
import os
import tempfile
import time
import uuid
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import types as T

# simple DDL-ish type names -> Spark types
_TYPES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "binary": T.BinaryType(),
    "boolean": T.BooleanType(),
}

# allowed lossless widenings (old -> set of new)
WIDENINGS: dict[str, set[str]] = {
    "int": {"long", "double"},
    "float": {"double"},
    "long": {"double"},  # lossy >2^53 but matches common lake semantics opt-in
}


def spark_type(name: str) -> T.DataType:
    if name.startswith("decimal(") and name.endswith(")"):
        p, s = (int(x) for x in name[8:-1].split(","))
        return T.DecimalType(p, s)
    try:
        return _TYPES[name]
    except KeyError:
        raise ValueError(f"unsupported lake type: {name}") from None


def type_name(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    for k, v in _TYPES.items():
        if v == dt:
            return k
    raise ValueError(f"unsupported Spark type for lake schema: {dt}")


@dataclass(frozen=True)
class Field:
    id: int
    name: str
    type: str
    nullable: bool = True

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "type": self.type, "nullable": self.nullable}

    @staticmethod
    def from_json(d: dict) -> "Field":
        return Field(d["id"], d["name"], d["type"], d.get("nullable", True))


@dataclass(frozen=True)
class Schema:
    fields: tuple[Field, ...]

    @staticmethod
    def of(fields: list[Field]) -> "Schema":
        return Schema(tuple(fields))

    @property
    def names(self) -> list[str]:
        return [f.name for f in self.fields]

    def field_by_name(self, name: str) -> Field:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(name)

    def field_by_id(self, fid: int) -> Field | None:
        for f in self.fields:
            if f.id == fid:
                return f
        return None

    @property
    def max_id(self) -> int:
        return max((f.id for f in self.fields), default=0)

    def to_struct(self) -> T.StructType:
        return T.StructType(
            [T.StructField(f.name, spark_type(f.type), f.nullable) for f in self.fields]
        )

    def to_json(self) -> list[dict]:
        return [f.to_json() for f in self.fields]

    @staticmethod
    def from_json(lst: list[dict]) -> "Schema":
        return Schema(tuple(Field.from_json(d) for d in lst))

    # --- evolution (all return a NEW Schema; validation here, commit in table) ---

    def add_column(self, name: str, typ: str, nullable: bool = True) -> "Schema":
        if name in self.names:
            raise ValueError(f"column {name!r} already exists")
        spark_type(typ)  # validate
        return Schema(self.fields + (Field(self.max_id + 1, name, typ, nullable),))

    def rename_column(self, old: str, new: str) -> "Schema":
        if new in self.names:
            raise ValueError(f"column {new!r} already exists")
        f = self.field_by_name(old)
        return Schema(
            tuple(Field(g.id, new, g.type, g.nullable) if g.id == f.id else g for g in self.fields)
        )

    def widen_column(self, name: str, new_type: str) -> "Schema":
        f = self.field_by_name(name)
        if new_type == f.type:
            return self
        if new_type not in WIDENINGS.get(f.type, set()):
            raise ValueError(f"illegal type change {f.type} -> {new_type} for {name!r}")
        return Schema(
            tuple(
                Field(g.id, g.name, new_type, g.nullable) if g.id == f.id else g
                for g in self.fields
            )
        )


@dataclass(frozen=True)
class DataFile:
    path: str  # relative to table root
    bucket: int
    schema_id: int
    # 'base': one LWW-resolved row per key; 'delta': merge-on-read overlay
    # (newer rows/tombstones to be LWW-reduced against base at read time)
    kind: str = "base"

    def to_json(self) -> dict:
        return {
            "path": self.path,
            "bucket": self.bucket,
            "schema_id": self.schema_id,
            "kind": self.kind,
        }

    @staticmethod
    def from_json(d: dict) -> "DataFile":
        return DataFile(d["path"], d["bucket"], d["schema_id"], d.get("kind", "base"))


_NUMERIC = (int, float, Decimal)


def _numeric(v) -> bool:
    return isinstance(v, _NUMERIC) and not isinstance(v, bool)


def _max_cursor(prev, new):
    """Monotone-max for pull cursors that is TYPE-STABLE: int, float and
    Decimal compare numerically (a source whose cursor round-trips
    int→float — e.g. a DOUBLE MAX() — can never move the high-water mark
    backwards); same-type values compare natively; any other type change
    is an explicit error, not a silent reset (a replayed older batch must
    not regress the cursor and re-pull a whole window)."""
    if prev is None:
        return new
    if new is None:
        return prev
    if _numeric(prev) and _numeric(new):
        # keep the winner's own type (int stays int unless a float wins)
        return prev if prev >= new else new
    if type(prev) is type(new):
        return max(prev, new)
    raise TypeError(
        f"cursor type changed: {type(prev).__name__}({prev!r}) -> "
        f"{type(new).__name__}({new!r}); a type flip would bypass the "
        "monotone guard. Migrate the cursor column explicitly (a new table, "
        "or normalize the source cursor type)."
    )


def check_cursor_type(prev, dtype: T.DataType) -> None:
    """``_max_cursor``'s rules against a source column's Spark type, for a
    pull to check before it writes any data file: a numeric cursor
    advances only by a numeric column, a string one (timestamps and dates
    canonicalize to str) only by a string, timestamp or date column."""
    if prev is None:
        return
    if _numeric(prev):
        ok = isinstance(dtype, T.NumericType)
    else:
        ok = isinstance(prev, str) and isinstance(
            dtype, (T.StringType, T.TimestampType, T.TimestampNTZType, T.DateType)
        )
    if not ok:
        raise TypeError(
            f"cursor type changed: the table holds {type(prev).__name__}"
            f"({prev!r}) but the source cursor column is now {dtype.simpleString()}; "
            "a type flip would bypass the monotone guard. Migrate the cursor "
            "explicitly (a new table, or normalize the source type)."
        )


def canonical_cursor(v):
    """A pulled cursor value as committed: timestamps and dates become
    ``str()`` (``YYYY-MM-DD HH:MM:SS[.ffffff]``, whose lexicographic order
    is time order); numbers and strings pass through."""
    return v if v is None or isinstance(v, (*_NUMERIC, str)) else str(v)


def cursor_json(v):
    """JSON form of a pull cursor: a Decimal (a DECIMAL cursor column) is
    stored tagged with its exact digits, so it reads back as a Decimal
    that compares numerically; every other cursor is stored as is."""
    return {"decimal": str(v)} if isinstance(v, Decimal) else v


@dataclass
class Snapshot:
    version: int
    parent: int | None
    schema_id: int
    schemas: dict[int, Schema]  # all historical schemas, keyed by schema id
    key_cols: list[str]
    order_cols: list[str]
    num_buckets: int
    files: list[DataFile]
    # batch ids for idempotent re-apply. With batch_retention=None the list
    # is cumulative; with retention=K only the K most recent are kept (the
    # Delta txn-retention pattern) — exactly-once then holds for any replay
    # within a K-batch horizon, which ``offsets`` guarantees for an engine
    # feed (older events are filtered before they reach the merge).
    batch_ids: list[str] = field(default_factory=list)
    batch_retention: int | None = None
    # the feed's transaction state, committed in the same swap as the data
    # it describes (Delta's txn action): per-partition LSN high-water marks,
    # the pull cursor, and the count of batches ever committed
    offsets: dict[int, int] = field(default_factory=dict)
    cursor: object = None
    n_batches: int = 0
    summary: dict = field(default_factory=dict)
    ts: float = 0.0

    @property
    def schema(self) -> Schema:
        return self.schemas[self.schema_id]

    def names_of(self, fid: int) -> set[str]:
        """Every name field ``fid`` has carried in any schema epoch."""
        return {f.name for s in self.schemas.values() for f in s.fields if f.id == fid}

    def with_schema(self, schema: Schema) -> "Snapshot":
        """In-memory successor with ``schema`` as a new schema epoch (self
        if unchanged); key and order columns follow renames by field id.
        ``LakeTable._commit`` publishes it with the commit's data.
        Widening a merge-key column is refused: the bucket hash is
        type-sensitive (murmur3(int) != murmur3(long)), so it would
        invalidate every recorded ``DataFile.bucket``."""
        if schema == self.schema:
            return self
        old = self.schema

        def follow(name: str) -> str:
            return schema.field_by_id(old.field_by_name(name).id).name

        for k in self.key_cols:
            f = old.field_by_name(k)
            if schema.field_by_id(f.id).type != f.type:
                raise ValueError(
                    f"widen_column: {k!r} is a merge-key column; the bucket "
                    "hash is type-sensitive, so widening it invalidates all "
                    "recorded bucket assignments. Run an explicit re-bucketing "
                    "migration (create a new table with the widened key and "
                    "overwrite() from read()) instead."
                )
        sid = max(self.schemas) + 1
        return dataclasses.replace(
            self,
            schema_id=sid,
            schemas={**self.schemas, sid: schema},
            key_cols=[follow(k) for k in self.key_cols],
            order_cols=[follow(c) for c in self.order_cols],
        )

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "parent": self.parent,
            "schema_id": self.schema_id,
            "schemas": {str(k): v.to_json() for k, v in self.schemas.items()},
            "key_cols": self.key_cols,
            "order_cols": self.order_cols,
            "num_buckets": self.num_buckets,
            "files": [f.to_json() for f in self.files],
            "batch_ids": self.batch_ids,
            "batch_retention": self.batch_retention,
            "offsets": {str(k): v for k, v in sorted(self.offsets.items())},
            "cursor": cursor_json(self.cursor),
            "n_batches": self.n_batches,
            "summary": self.summary,
            "ts": self.ts,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        cursor = d.get("cursor")
        return Snapshot(
            version=d["version"],
            parent=d["parent"],
            schema_id=d["schema_id"],
            schemas={int(k): Schema.from_json(v) for k, v in d["schemas"].items()},
            key_cols=d["key_cols"],
            order_cols=d["order_cols"],
            num_buckets=d["num_buckets"],
            files=[DataFile.from_json(f) for f in d["files"]],
            batch_ids=d.get("batch_ids", []),
            batch_retention=d.get("batch_retention"),
            offsets={int(k): int(v) for k, v in d.get("offsets", {}).items()},
            cursor=Decimal(cursor["decimal"]) if isinstance(cursor, dict) else cursor,
            n_batches=d.get("n_batches", 0),
            summary=d.get("summary", {}),
            ts=d.get("ts", 0.0),
        )


# ---------------------------------------------------------------------------
# atomic metadata IO (local/posix; on object stores this would be a catalog
# compare-and-swap — same contract, different primitive)
# ---------------------------------------------------------------------------


def atomic_write(path: str, data: str) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".tmp-")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)  # atomic on POSIX
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def write_snapshot(meta_dir: str, snap: Snapshot) -> None:
    snap.ts = time.time()
    atomic_write(
        os.path.join(meta_dir, f"snap-{snap.version:08d}.json"),
        json.dumps(snap.to_json()),
    )
    # pointer swap LAST: readers either see the old or the new version
    atomic_write(os.path.join(meta_dir, "CURRENT"), str(snap.version))


def read_current_version(meta_dir: str) -> int | None:
    p = os.path.join(meta_dir, "CURRENT")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read().strip())


def read_snapshot(meta_dir: str, version: int) -> Snapshot:
    with open(os.path.join(meta_dir, f"snap-{version:08d}.json")) as f:
        return Snapshot.from_json(json.load(f))


def new_data_dir(root: str) -> str:
    """Unique dir for one write's data files (never reused → no clobber)."""
    rel = os.path.join("data", uuid.uuid4().hex[:16])
    os.makedirs(os.path.join(root, rel), exist_ok=True)
    return rel
