"""LakeTable — snapshot-versioned Parquet table with commutative MERGE.

This is the engine's sink, replacing the reference's MySQL target tables +
dlt merge disposition (``/root/reference/source/pipeline_management.py:1076``,
``:1826-1862`` — per-row ``INSERT … ON DUPLICATE KEY UPDATE``) with a
Spark-first design:

- **Layout**: data files are Parquet, hash-bucketed on the merge key
  (``pmod(hash(key), num_buckets)``, Spark's Murmur3 hash) and written
  one file per touched bucket per commit. A MERGE appends its
  batch-reduced delta as overlay files (merge-on-read: write cost
  O(delta)); a bucket-pruned read (``read_buckets``) resolves only the
  buckets it touches, a point ``lookup`` reads only its keys' buckets on
  the driver with pyarrow (the bucket hash computed in Python, no Spark
  job), and ``compact_deltas`` folds a bucket's overlays back into one
  base file — the analog of the reference's PK-index pre-creation
  (``index_management.py:177-231``), done with layout instead of indexes.
- **MERGE semantics**: last-writer-wins registers. The winner per key is
  ``max_by(payload, (order_col, _event_id))`` over (base ∪ delta).
  Deletes become *tombstones* (``_deleted=true``) that keep their event
  time, so merge is **commutative and idempotent**: applying batches in
  any order, or re-applying any batch, converges to the same final state
  — the property that makes replay-from-any-checkpoint exact. The
  reference gets a weaker version of this from MySQL upsert arrival order
  (a correctness hazard: ``workflow.md:50-72``); we make it total.
- **Aggregation, not window**: LWW reduction uses ``max_by`` (a declarative
  aggregate with map-side partial aggregation) rather than a window sort.
  Partial aggregation collapses hot keys on the map side, so a key with
  10^6 duplicate events costs ~1 combined row per input partition in the
  shuffle — the primary skew defense; explicit salting (``cdc.dedup``)
  covers the window-based path.
- **One write step, atomic commits + exactly-once**: every data write
  (``merge``, ``overwrite``, ``replace_buckets``, the compactions) goes
  through ``_write``: new files, written bucket-placed and checked,
  either appended as overlays (a merge) or replacing a set of buckets
  (Iceberg's AppendFiles vs ReplacePartitions / RewriteFiles). A
  snapshot manifest lists data files; committing is an atomic pointer
  swap. Each snapshot records the batch ids it contains; re-applying a
  committed ``batch_id`` is a no-op (the Iceberg snapshot-summary
  idempotence protocol). The same swap records the feed's offsets and
  pull cursor (Delta's ``txn`` action), so there is no second state
  store to keep in step.
- **Schema evolution**: add / rename / type-widen with column IDs; old
  files are id-mapped + cast at scan time. An evolved schema is an
  in-memory successor (``Snapshot.with_schema``) that ``merge``,
  ``overwrite`` and ``replace_buckets`` take as ``snap``: schema change,
  data, batch id, offsets and cursor land in one swap.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import decimal
import functools
import glob
import json
import os
import shutil
import struct
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from patuha_etl_dlt_spark.lake import metadata as M
from patuha_etl_dlt_spark.lake import murmur3
from patuha_etl_dlt_spark.lake.metadata import DataFile, Field, Schema, Snapshot

# system columns every lake table carries (reference analog: dlt lineage
# columns _dlt_load_id/_dlt_id, /root/reference/source/database.py:435-458)
SYS_DELETED = "_deleted"
SYS_BATCH = "_batch_id"
SYS_EVENT = "_event_id"
SYS_COLS = (SYS_DELETED, SYS_BATCH, SYS_EVENT)
# change-event operation column a merge delta may carry: 'I' | 'U' | 'D'
OP = "op"

# NULL order-column values sort before everything: one sentinel per
# orderable lake type, shared by the Spark LWW order (``_order_expr``) and
# the driver-side resolution of ``lookup``
_ORDER_NULL = {
    "timestamp": dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc),
    "date": dt.date(1970, 1, 1),
    "long": -(1 << 63),
    "int": -(1 << 31),
    "double": float("-inf"),
    "float": float("-inf"),
    "string": "",
}


def _order_null_value(typ: str):
    """The sorts-before-everything fallback for NULL order-column values,
    chosen from the column's declared lake type. (A hardcoded timestamp
    fallback used to make every merge on a long/date/decimal order column
    fail with DATATYPE_MISMATCH.)"""
    if typ.startswith("decimal("):
        p, s = (int(x) for x in typ[8:-1].split(","))
        return Decimal("-" + "9" * (p - s) + ("." + "9" * s if s else ""))
    try:
        return _ORDER_NULL[typ]
    except KeyError:
        raise ValueError(f"unsupported order-column type: {typ!r}") from None


def _source(f: Field, columns, from_schema: Schema | None) -> str | None:
    """The column of ``columns`` that feeds target field ``f``: matched by
    field id when the data is of ``from_schema``'s epoch, else by name;
    None when the data has no such column."""
    if from_schema is None:
        return f.name if f.name in columns else None
    old = from_schema.field_by_id(f.id)
    return old.name if old is not None and old.name in columns else None


def _arrow_type(typ: str) -> pa.DataType:
    """Arrow type of a lake type, as Spark exchanges it (timestamps are
    UTC instants)."""
    return to_arrow_type(M.spark_type(typ))


def _align_arrow(tbl: pa.Table, schema: Schema, from_schema: Schema) -> pa.Table:
    """``_align`` for rows a data file of ``from_schema``'s epoch holds:
    names id-mapped, widened types cast (unchecked, as Spark's cast),
    missing columns NULL."""
    cols = []
    for f in schema.fields:
        src = _source(f, tbl.column_names, from_schema)
        typ = _arrow_type(f.type)
        cols.append(pa.nulls(tbl.num_rows, typ) if src is None else tbl[src].cast(typ, safe=False))
    return pa.table(cols, names=schema.names)


# every NaN key value maps to this one object, so tuple and set equality
# (identity first) match NaN keys as Spark's join-key normalization does
_NAN = float("nan")


def _key_value(typ: str, v):
    """A looked-up key value as Spark holds it: the value ``F.hash``
    hashes and key equality compares (timestamps in microseconds, dates
    in days, floats rounded to 32 bits, decimals at the column's scale)."""
    if v is None:
        return None
    if typ == "float":
        v = struct.unpack("<f", struct.pack("<f", v))[0]
    elif typ.startswith("decimal("):
        p, s = (int(x) for x in typ[8:-1].split(","))
        v = Decimal(v).quantize(Decimal(1).scaleb(-s), ROUND_HALF_UP, decimal.Context(prec=p))
    else:
        v = M.spark_type(typ).toInternal(v)
    return _NAN if v != v else v


def _stored_keys(tbl: pa.Table, fields: list[Field]) -> list[tuple]:
    """Key tuples of aligned rows, in ``_key_value``'s representation."""
    cols = []
    for f in fields:
        a = tbl[f.name]
        if f.type in ("timestamp", "date"):
            a = a.cast(pa.int64() if f.type == "timestamp" else pa.int32())
        cols.append([_NAN if v != v else v for v in a.to_pylist()])
    return list(zip(*cols))


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.meta_dir = os.path.join(root, "_metadata")

    # ------------------------------------------------------------------ DDL

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        columns: list[tuple[str, str]],
        key_cols: list[str] | str,
        order_col: str | None,
        num_buckets: int = 16,
        batch_retention: int | None = None,
    ) -> "LakeTable":
        """Create an empty table.

        ``columns``: user columns as (name, type) — e.g. the `pages` shape
        [(url,string),(warc_ts,timestamp),(html,binary),(text,string),(lang,string)].
        ``key_cols``: merge key; str or list (composite keys supported, as in
        the reference's utils.py:42-68).
        ``order_col``: the event-time/cursor column used for LWW ordering
        (ties broken by `_event_id`, the LSN — a total order). ``None`` for
        modifier-less tables (the reference's full-refresh dispatch,
        ``pipeline_management.py:2176-2182``): LWW then orders by the
        ``_event_id`` lineage column alone.
        ``batch_retention``: keep only the K most recent batch ids in each
        snapshot manifest (None = unbounded). At a 10^10-event feed the
        cumulative id list would make every commit O(history); with
        retention the manifest stays O(live files + K) forever. Safe when
        replays can only come from the last K batches — the offsets each
        engine commit records in the same snapshot guarantee exactly that
        (older events are filtered out before the merge). Leave None for
        rollup tables fed outside an offset-guarded path.
        """
        key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        names = [c for c, _ in columns]
        for k in key_cols:
            if k not in names:
                raise ValueError(f"key column {k!r} not in columns")
        if order_col is None:
            order_col = SYS_EVENT
        elif order_col not in names:
            raise ValueError(f"order column {order_col!r} not in columns")
        else:
            _order_null_value(dict(columns)[order_col])  # fail fast on unorderable types
        fields = [Field(i + 1, n, t) for i, (n, t) in enumerate(columns)]
        # system columns get reserved NEGATIVE ids so they can never collide
        # with payload field ids from event-envelope schema descriptors
        fields += [
            Field(-1, SYS_DELETED, "boolean"),
            Field(-2, SYS_BATCH, "string"),
            Field(-3, SYS_EVENT, "long"),
        ]
        schema = Schema.of(fields)
        snap = Snapshot(
            version=0,
            parent=None,
            schema_id=0,
            schemas={0: schema},
            key_cols=key_cols,
            order_cols=[order_col, SYS_EVENT],
            num_buckets=num_buckets,
            files=[],
            batch_retention=batch_retention,
            summary={"operation": "create"},
        )
        t = LakeTable(spark, root)
        if M.read_current_version(t.meta_dir) is not None:
            raise ValueError(f"table already exists at {root}")
        M.write_snapshot(t.meta_dir, snap)
        return t

    @staticmethod
    def load(spark: SparkSession, root: str) -> "LakeTable":
        t = LakeTable(spark, root)
        if M.read_current_version(t.meta_dir) is None:
            raise FileNotFoundError(f"no lake table at {root}")
        return t

    @staticmethod
    def exists(root: str) -> bool:
        return M.read_current_version(os.path.join(root, "_metadata")) is not None

    # ----------------------------------------------------------- snapshots

    @property
    def snapshot(self) -> Snapshot:
        v = M.read_current_version(self.meta_dir)
        if v is None:
            raise FileNotFoundError(f"no lake table at {self.root}")
        return M.read_snapshot(self.meta_dir, v)

    @property
    def schema(self) -> Schema:
        return self.snapshot.schema

    def user_columns(self) -> list[str]:
        return [f.name for f in self.schema.fields if f.name not in SYS_COLS]

    def has_batch(self, batch_id: str) -> bool:
        """Exactly-once check: has this batch already been committed?"""
        return batch_id in self.snapshot.batch_ids

    def history(self) -> list[Snapshot]:
        out = []
        v: int | None = M.read_current_version(self.meta_dir)
        while v is not None:
            s = M.read_snapshot(self.meta_dir, v)
            out.append(s)
            v = s.parent
        return out

    # --------------------------------------------------------------- reads

    def _bucket_expr(self, snap: Snapshot):
        """Bucket of a row: ``pmod(hash(keys), num_buckets)`` (Murmur3,
        seed 42, chained over composite keys)."""
        return F.pmod(F.hash(*[F.col(k) for k in snap.key_cols]), F.lit(snap.num_buckets))

    def _place(self, snap: Snapshot, df: DataFrame) -> DataFrame:
        """Bucket placement — the one exchange every bucketed write goes
        through. Spark's hash partitioning computes a row's partition id
        with the same expression as ``_bucket_expr``, so after
        ``repartition(num_buckets, *keys)`` partition ``i`` holds exactly
        bucket ``i``'s rows and the partitioned write emits one file per
        touched bucket. Spark plans no second exchange when ``df`` is
        already placed this way (e.g. the output of ``_lww_reduce``)."""
        return df.repartition(snap.num_buckets, *[F.col(k) for k in snap.key_cols])

    def _align(self, df: DataFrame, schema: Schema, from_schema: Schema | None = None) -> DataFrame:
        """Project ``df`` to ``schema``: id-map names (when ``from_schema``
        given), cast widened types, fill missing columns with NULL."""
        cols = []
        for f in schema.fields:
            src = _source(f, df.columns, from_schema)
            col = F.lit(None) if src is None else F.col(src)
            cols.append(col.cast(M.spark_type(f.type)).alias(f.name))
        return df.select(*cols)

    def _read_files(self, snap: Snapshot, files: list[DataFile]) -> DataFrame:
        """Read data files (all schema epochs), aligned to the current schema
        **including system columns**; tombstones included."""
        target = snap.schema
        if not files:
            return self.spark.createDataFrame([], target.to_struct())
        by_sid: dict[int, list[str]] = {}
        for f in files:
            by_sid.setdefault(f.schema_id, []).append(os.path.join(self.root, f.path))
        parts = []
        for sid, paths in sorted(by_sid.items()):
            raw = self.spark.read.schema(snap.schemas[sid].to_struct()).parquet(*paths)
            parts.append(self._align(raw, target, from_schema=snap.schemas[sid]))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def _order_expr(self, snap: Snapshot):
        order_col = snap.order_cols[0]
        typ = snap.schema.field_by_name(order_col).type
        return F.struct(
            F.coalesce(F.col(order_col), F.lit(_order_null_value(typ)).cast(typ)).alias("o1"),
            F.coalesce(F.col(SYS_EVENT), F.lit(-1)).alias("o2"),
        )

    def _lww_reduce(self, snap: Snapshot, df: DataFrame) -> DataFrame:
        """One LWW winner per key (max_by aggregate). The rows are placed
        into their buckets first, so the aggregate needs no exchange of
        its own and its output is already placed for a bucketed write:
        a reduce and its write share one exchange."""
        payload = [c for c in df.columns if c not in snap.key_cols]
        return (
            self._place(snap, df)
            .groupBy(*snap.key_cols)
            .agg(F.max_by(F.struct(*payload), self._order_expr(snap)).alias("_w"))
            .select(*snap.key_cols, *[F.col(f"_w.{c}").alias(c) for c in payload])
        )

    def _resolved(
        self, snap: Snapshot, files: list[DataFile], purge_below: int | None = None
    ) -> DataFrame:
        """Merge-on-read resolution: buckets without delta overlays stream
        straight from their base files; buckets WITH overlays are
        LWW-reduced across base ∪ delta. Tombstones retained, except (a
        compaction's purge) those whose event id is below ``purge_below``.

        When every bucket is dirty (a compaction rewrite) the reduced part
        is returned alone, not unioned with an empty frame, so it keeps
        its bucket placement and the rewrite plans a single exchange."""
        dirty = {f.bucket for f in files if f.kind == "delta"}
        clean_files = [f for f in files if f.bucket not in dirty]
        dirty_files = [f for f in files if f.bucket in dirty]
        if not dirty_files:
            df = self._read_files(snap, clean_files)
        else:
            df = self._lww_reduce(snap, self._read_files(snap, dirty_files))
            if clean_files:
                df = self._read_files(snap, clean_files).unionByName(df)
        if purge_below is None:
            return df
        return df.filter(
            (~F.coalesce(F.col(SYS_DELETED), F.lit(False)))
            | (F.coalesce(F.col(SYS_EVENT), F.lit(-1)) >= F.lit(int(purge_below)))
        )

    @staticmethod
    def _view(df: DataFrame, include_deleted: bool, include_system: bool) -> DataFrame:
        """A resolved frame as readers see it: live rows only, and without
        the system columns, unless asked for."""
        if not include_deleted:
            df = df.filter(~F.coalesce(F.col(SYS_DELETED), F.lit(False)))
        if not include_system:
            df = df.drop(*SYS_COLS)
        return df

    def read(
        self,
        include_deleted: bool = False,
        include_system: bool = False,
        snap: Snapshot | None = None,
    ) -> DataFrame:
        """State of the table at ``snap`` (default: the head; an older one
        from ``history()`` is time travel) as a DataFrame, merge-on-read
        overlays resolved."""
        snap = snap or self.snapshot
        return self._view(self._resolved(snap, snap.files), include_deleted, include_system)

    def read_buckets(
        self,
        buckets,
        include_deleted: bool = False,
        include_system: bool = False,
    ) -> DataFrame:
        """Bucket-pruned read: resolve and return ONLY the given buckets'
        files, as a Spark plan (file-level pruning — the scan never opens
        untouched buckets, checkable via ``DataFrame.inputFiles()``). The
        bucket of a key is ``pmod(hash(keys), num_buckets)`` (see
        ``_bucket_expr``; ``murmur3.spark_hash`` computes it on the
        driver); callers that fold whole buckets of state (e.g. the
        incremental-rollup fold) compute the touched buckets from their
        keys and skip the rest of the table entirely — O(touched state),
        not O(state). A read of a few keys is ``lookup``, which needs no
        Spark job."""
        snap = self.snapshot
        wanted = set(buckets)
        df = self._resolved(snap, [f for f in snap.files if f.bucket in wanted])
        return self._view(df, include_deleted, include_system)

    def lookup(self, keys, include_system: bool = False) -> DataFrame:
        """Point lookup: current rows for the given key values — the CDC
        operator's "did url X land?" read. ``keys``: list of key values
        (tuples for composite keys); missing keys return no row.

        Runs no Spark job. The keys' buckets are computed on the driver
        with Spark's own hash (``murmur3.spark_hash``, the placement
        ``_bucket_expr`` describes), and only those buckets' files are
        opened, with pyarrow (``_read_matches``): driver memory is the
        matched row groups plus the key columns, never the table. The
        rows are resolved as ``read`` resolves them — last writer wins in
        ``_order_expr``'s order wherever a bucket has overlays — and come
        back as a local DataFrame, so collecting it runs on the driver."""
        snap = self.snapshot
        kfields = [snap.schema.field_by_name(k) for k in snap.key_cols]
        ktypes = [f.type for f in kfields]
        wanted = {
            tuple(_key_value(t, v) for t, v in zip(ktypes, k if isinstance(k, tuple) else (k,)))
            for k in keys
        }
        wanted = {k for k in wanted if None not in k}  # a NULL key is never stored
        buckets = {murmur3.spark_hash(k, ktypes) % snap.num_buckets for k in wanted}
        # Arrow's is_in tells -0.0 from 0.0 and Spark's key equality does
        # not: floating value sets hold both zeros (_pick filters exactly)
        value_sets = {
            f.name: pa.array(
                [k[i] for k in wanted] + ([0.0, -0.0] if f.type in ("float", "double") else []),
                _arrow_type(f.type),
            )
            for i, f in enumerate(kfields)
        }
        files = [f for f in snap.files if f.bucket in buckets]
        dirty = {f.bucket for f in files if f.kind == "delta"}
        # as in _resolved: rows of buckets with overlays are LWW-reduced,
        # a clean bucket's base rows are taken as stored
        empty = pa.schema([(f.name, _arrow_type(f.type)) for f in snap.schema.fields]).empty_table()
        rows = {False: [empty], True: [empty]}
        for f in files:
            rows[f.bucket in dirty] += self._read_matches(snap, f, value_sets)
        resolved = pa.concat_tables(
            self._pick(snap, pa.concat_tables(parts), kfields, wanted, reduce)
            for reduce, parts in rows.items()
        )
        df = self.spark.createDataFrame(resolved, snap.schema.to_struct())
        return self._view(df, False, include_system)

    def _read_matches(self, snap: Snapshot, f: DataFile, value_sets: dict) -> list[pa.Table]:
        """The rows of data file ``f`` whose key columns hold looked-up
        values, aligned to the current schema. Key columns are read first;
        a row group is read in full only where one of its keys matches."""
        src = snap.schemas[f.schema_id]
        kschema = Schema.of([snap.schema.field_by_name(k) for k in snap.key_cols])
        out = []
        path = os.path.join(self.root, f.path)
        with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as pf:
            present = pf.schema_arrow.names
            kcols = [c for c in (_source(k, present, src) for k in kschema.fields) if c]
            for rg in range(pf.num_row_groups):
                keys = _align_arrow(pf.read_row_group(rg, columns=kcols), kschema, src)
                mask = functools.reduce(
                    pc.and_, (pc.is_in(keys[c], value_set=v) for c, v in value_sets.items())
                )
                if pc.any(mask).as_py():
                    rows = pf.read_row_group(rg, columns=present).filter(mask)
                    out.append(_align_arrow(rows, snap.schema, src))
        return out

    @staticmethod
    def _pick(
        snap: Snapshot, tbl: pa.Table, kfields: list[Field], wanted: set, reduce: bool
    ) -> pa.Table:
        """The rows of ``tbl`` whose key is looked up; with ``reduce``, only
        each key's last writer in ``_order_expr``'s order (NULL order value
        -> the type's sentinel, NULL event id -> -1)."""
        keys = _stored_keys(tbl, kfields)
        if not reduce:
            return tbl.take(pa.array([i for i, k in enumerate(keys) if k in wanted], pa.int64()))
        order_col = snap.order_cols[0]
        typ = snap.schema.field_by_name(order_col).type
        order = pa.table({
            "o1": pc.fill_null(tbl[order_col], pa.scalar(_order_null_value(typ), _arrow_type(typ))),
            "o2": pc.fill_null(tbl[SYS_EVENT], -1),
        })
        last = {}
        for i in pc.sort_indices(order, [("o1", "ascending"), ("o2", "ascending")]).to_pylist():
            if keys[i] in wanted:
                last[keys[i]] = i
        return tbl.take(pa.array(sorted(last.values()), pa.int64()))

    # -------------------------------------------------------------- writes

    def _write(
        self,
        snap: Snapshot,
        rows: DataFrame,
        replace,
        batch_id: str | None = None,
        txn=None,
        operation: str = "merge",
    ) -> dict:
        """The one write-and-commit step every data write goes through.

        A ``batch_id`` already in ``snap`` returns ``{"skipped": True}``
        (exactly-once; ``rows`` is a lazy plan, so nothing has run).
        Otherwise ``rows`` (aligned to snap.schema, system columns stamped)
        are written bucket-placed, one Hive partition dir per bucket. The
        row and tombstone counts are observed AFTER placement, in the
        write's own stage: observed upstream of the exchange, they are lost
        when adaptive execution replaces an empty shuffle stage.

        The layout the reads rely on is checked before anything is
        committed: a bucket that received more than one file, or with
        ``replace`` a row outside the ``replace`` buckets, fails the write
        and removes its data dir.

        The commit intent is ``replace``: ``None`` (a merge) appends the new
        files to ``snap``'s as ``delta`` overlays; otherwise (a set of
        buckets) they become the ``base`` of those buckets and every other
        bucket's files are kept. ``txn`` as in ``_commit``. Returns the
        write's metrics (a replacement's carry ``buckets_replaced``), which
        the snapshot summary records too."""
        if batch_id and batch_id in snap.batch_ids:
            return {"skipped": True, "batch_id": batch_id}
        rel = M.new_data_dir(self.root)
        out = os.path.join(self.root, rel)
        # a write task reads whole placed partitions, i.e. whole buckets, so
        # merging them into at most one task per core keeps one file per
        # bucket; adaptive execution never coalesces a numbered repartition
        width = min(snap.num_buckets, self.spark.sparkContext.defaultParallelism)
        obs = Observation()
        placed = self._place(snap, rows).coalesce(width).observe(
            obs,
            F.count(F.lit(1)).alias("rows_written"),
            F.sum(F.col(SYS_DELETED).cast("long")).alias("tombstones"),
        )
        placed = placed.withColumn("_bucket", self._bucket_expr(snap))
        placed.write.partitionBy("_bucket").mode("overwrite").parquet(out)
        kind = "delta" if replace is None else "base"
        files: list[DataFile] = []
        for bdir in glob.glob(os.path.join(out, "_bucket=*")):
            b = int(os.path.basename(bdir).split("=", 1)[1])
            for p in glob.glob(os.path.join(bdir, "*.parquet")):
                files.append(DataFile(os.path.relpath(p, self.root), b, snap.schema_id, kind))
        buckets = {f.bucket for f in files}
        stray = buckets - replace if replace is not None else set()
        if stray or len(files) != len(buckets):
            shutil.rmtree(out, ignore_errors=True)
            if stray:
                raise ValueError(
                    f"{operation}: rows outside buckets {sorted(replace)}: buckets {sorted(stray)}"
                )
            raise RuntimeError(
                f"bucket layout violated: {len(files)} files for "
                f"{len(buckets)} touched buckets under {rel}"
            )
        metrics = {
            "skipped": False,
            "batch_id": batch_id,
            "buckets_touched": len(buckets),
            "files_written": len(files),
            # on-disk bytes of this write's files (driver-side stat of a
            # handful of paths)
            "bytes_written": sum(os.path.getsize(os.path.join(self.root, f.path)) for f in files),
            **obs.get,
        }
        if replace is None:
            kept = snap.files
        else:
            kept = [f for f in snap.files if f.bucket not in replace]
            metrics["buckets_replaced"] = len(replace)
        self._commit(snap, kept + files, batch_id, {"operation": operation, **metrics}, txn)
        return metrics

    def _commit(
        self, snap: Snapshot, files: list[DataFile], batch_id: str | None, summary: dict, txn=None
    ) -> Snapshot:
        """Publish the successor of ``snap`` with ``files``. ``txn``: the
        batch's transaction record, a zero-arg callable returning
        ``(offsets, cursor)`` — called here, after the data files are
        written (a pull learns its cursor from the write's own
        Observation), and folded in: offsets by per-partition max, the
        cursor by ``_max_cursor``. Without ``txn`` both carry forward.
        Data, batch id, offsets and cursor land in one snapshot swap."""
        ids = snap.batch_ids + ([batch_id] if batch_id else [])
        if snap.batch_retention is not None:
            ids = ids[-snap.batch_retention:]
        offsets, cursor = txn() if txn is not None else ({}, None)
        merged = dict(snap.offsets)
        for p, lsn in offsets.items():
            merged[int(p)] = max(merged.get(int(p), -1), int(lsn))
        new = dataclasses.replace(
            snap,
            version=snap.version + 1,
            parent=snap.version,
            files=files,
            batch_ids=ids,
            offsets=merged,
            cursor=M._max_cursor(snap.cursor, cursor),
            n_batches=snap.n_batches + (1 if batch_id else 0),
            summary=summary,
        )
        M.write_snapshot(self.meta_dir, new)
        return new

    def _stamped(
        self, snap: Snapshot, df: DataFrame, batch_id: str | None, deleted=None
    ) -> DataFrame:
        """``df`` aligned to the schema with its system columns stamped: the
        tombstone flag (``deleted``, else False), the batch id, and a NULL
        event id unless ``df`` carries one."""
        df = df.withColumn(SYS_DELETED, F.lit(False) if deleted is None else deleted)
        df = df.withColumn(SYS_BATCH, F.lit(batch_id))
        if SYS_EVENT not in df.columns:
            df = df.withColumn(SYS_EVENT, F.lit(None).cast("long"))
        return self._align(df, snap.schema)

    def overwrite(
        self, df: DataFrame, batch_id: str | None = None, txn=None, snap: Snapshot | None = None
    ) -> dict:
        """Full refresh (the reference's ``write_disposition="replace"`` path,
        ``pipeline_management.py:1225-1506``): target := source, as a new
        snapshot — O(metadata) "truncate", no row deletes: every bucket is
        replaced. ``txn``: see ``_commit``; ``snap``: see ``merge``."""
        snap = snap or self.snapshot
        return self._write(
            snap, self._stamped(snap, df, batch_id), set(range(snap.num_buckets)),
            batch_id, txn, "overwrite",
        )

    def merge(
        self,
        delta: DataFrame,
        batch_id: str | None = None,
        delta_reduced: bool = False,
        observe: tuple = (),
        txn=None,
        snap: Snapshot | None = None,
    ) -> dict:
        """Key-partitioned MERGE of a change-event delta into the table.

        ``delta`` carries the user columns (any subset, any historical
        names — it is id-less so matched by current name, cast as needed),
        plus ``_event_id`` (the LSN) and optionally an ``op`` column with
        values 'I'|'U'|'D'. Rows with op='D' become tombstones; a delta
        without ``op`` is all upserts. Equivalent to
        Iceberg ``MERGE INTO t USING delta ON key WHEN MATCHED [AND op='D']
        THEN DELETE / UPDATE WHEN NOT MATCHED THEN INSERT`` — but
        commutative (see module docstring).

        Merge-on-read: the batch's LWW winners are APPENDED as overlay
        files, one per touched bucket (``_write``); reads LWW-resolve
        overlays against base. Write cost per batch is O(delta), not
        O(touched table state). ``compact_deltas`` folds overlays back into
        one base file per bucket — run after every merge, that is the
        read-optimal layout, with identical ``read()`` results because the
        LWW reduction is associative and commutative.

        ``delta_reduced``: promise that ``delta`` already carries at most
        ONE row per key (e.g. the engine's pre-extraction LWW reduce). The
        merge then skips its in-batch reduction — the winner is identical
        (reducing singletons is the identity), one full aggregation pass
        over the batch saved.

        ``observe``: ``(Observation, *aggregate columns)`` to evaluate over
        the incoming ``delta`` rows (e.g. a pull's row count and cursor
        max). The delta is bucket-placed first, so the observation runs in
        the write's own stage: observed upstream of a shuffle it would be
        lost whenever adaptive execution replaces an empty shuffle stage.

        ``txn``: the batch's ``(offsets, cursor)`` record, committed with
        the data (see ``_commit``).

        ``snap``: the snapshot to write on and succeed — the head the
        caller read or its evolved successor (default: the head).

        Returns a metrics dict (``files_written`` always equals
        ``buckets_touched``; ``rows_written``/``tombstones`` are observed
        in the write's own stage, no extra job); a re-applied ``batch_id``
        short-circuits to ``{"skipped": True}`` (exactly-once).
        """
        snap = snap or self.snapshot
        if observe:
            delta = self._place(snap, delta).observe(*observe)

        key_cond = F.lit(True)
        for k in snap.key_cols:
            key_cond = key_cond & F.col(k).isNotNull()
        delta = delta.filter(key_cond)

        deleted = F.upper(F.col(OP)) == F.lit("D") if OP in delta.columns else None
        delta = self._stamped(snap, delta, batch_id, deleted)
        # winners WITHIN the batch only; no base read: write cost is O(delta)
        winners = delta if delta_reduced else self._lww_reduce(snap, delta)
        return self._write(snap, winners, None, batch_id, txn)

    def replace_buckets(
        self, df: DataFrame, buckets, batch_id: str | None = None, snap: Snapshot | None = None
    ) -> dict:
        """Atomic bucket-granular overwrite: ``df`` must contain ALL
        surviving rows for ``buckets`` (one row per key); those buckets'
        files are replaced with freshly-written base files and every other
        bucket's files are kept untouched (a row outside ``buckets`` fails
        the write). Batch-id idempotent like merge; ``snap`` as in
        ``merge``.

        This is the bucket-rewrite primitive the incremental rollup folds
        through: the caller has already read the touched buckets' state and
        recombined it, so the write needs no base read of its own."""
        snap = snap or self.snapshot
        return self._write(
            snap, self._stamped(snap, df, batch_id), set(buckets), batch_id,
            operation="replace_buckets",
        )

    def compact_deltas(
        self, purge_tombstones_below: int | None = None, snap: Snapshot | None = None
    ) -> int:
        """Fold merge-on-read overlays into base files: every bucket with
        an overlay file is rewritten to one resolved base file (Iceberg
        rewrite_data_files + rewrite_position_delete_files analog). Returns
        buckets compacted.

        ``purge_tombstones_below``: additionally drop tombstone rows whose
        event id is below this horizon from the buckets being rewritten
        anyway — zero extra I/O vs a standalone ``compact_tombstones``
        full rewrite. Safe ONLY when the table's LWW order is LSN-monotone
        per key — in particular when ``order_cols[0]`` is the ``_event_id``
        lineage column itself (``CdcEngine.maybe_compact`` checks this
        before passing a horizon). With a business order column, a future
        above-horizon event can carry an older/NULL order value and LOSE
        the LWW race to a below-horizon tombstone; purging that tombstone
        would resurrect the key. Callers with such tables must vouch for
        their own horizon.
        Tombstones in buckets this fold does not touch survive until their
        bucket next compacts — opportunistic GC; buckets that keep
        receiving deletes keep getting folded, which bounds growth exactly
        where growth happens.

        ``snap``: the head the caller already read (default: read here)."""
        snap = snap or self.snapshot
        targets = {f.bucket for f in snap.files if f.kind == "delta"}
        if targets:
            files = [f for f in snap.files if f.bucket in targets]
            self._write(
                snap, self._resolved(snap, files, purge_tombstones_below), targets,
                operation="compact_deltas",
            )
        return len(targets)

    # ----------------------------------------------------- schema evolution

    def _evolve(self, fn, op: str) -> None:
        """Commit the head's successor with schema ``fn(schema)`` and no
        data (``Snapshot.with_schema``: key and order columns follow a
        rename, a merge-key widen is refused)."""
        snap = self.snapshot
        new = snap.with_schema(fn(snap.schema))
        if new is not snap:
            self._commit(new, new.files, None, {"operation": op})

    def add_column(self, name: str, typ: str) -> None:
        self._evolve(lambda s: s.add_column(name, typ), f"add_column:{name}")

    def rename_column(self, old: str, new: str) -> None:
        self._evolve(lambda s: s.rename_column(old, new), f"rename_column:{old}->{new}")

    def widen_column(self, name: str, new_type: str) -> None:
        self._evolve(lambda s: s.widen_column(name, new_type), f"widen_column:{name}:{new_type}")

    # ---------------------------------------------------------- maintenance

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Drop old snapshot manifests and data files no current snapshot
        references (Iceberg's expire_snapshots/remove_orphan_files analog,
        reference hygiene analog: staging cleanup
        ``pipeline_management.py:1864-1873``). Returns files deleted."""
        hist = self.history()
        keep = hist[:keep_last]
        live = {f.path for s in keep for f in s.files}
        deleted = 0
        for s in hist[keep_last:]:
            for f in s.files:
                if f.path not in live:
                    p = os.path.join(self.root, f.path)
                    if os.path.exists(p):
                        os.unlink(p)
                        deleted += 1
            os.unlink(os.path.join(self.meta_dir, f"snap-{s.version:08d}.json"))
        # re-parent the oldest kept snapshot so history() stops cleanly
        if len(hist) > keep_last and keep:
            oldest = keep[-1]
            oldest.parent = None
            M.atomic_write(
                os.path.join(self.meta_dir, f"snap-{oldest.version:08d}.json"),
                json.dumps(oldest.to_json()),
            )
        return deleted

    def compact_tombstones(self, older_than_event_id: int) -> None:
        """Purge tombstones whose LSN every feed partition has passed —
        safe once no event with a smaller LSN can still arrive."""
        snap = self.snapshot
        self._write(
            snap, self._resolved(snap, snap.files, older_than_event_id),
            {f.bucket for f in snap.files}, operation="compact_tombstones",
        )
