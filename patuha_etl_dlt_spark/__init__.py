"""patuha_etl_dlt_spark — a PySpark-native CDC / incremental-ingest engine.

A brand-new engine with the capabilities of the reference
(malemalice/patuha-etl-dlt: MySQL→MySQL incremental/CDC sync via dlt,
``/root/reference/source/pipeline_management.py``) re-expressed Spark-first:

- binlog/WAL-style change-event feed → key-partitioned MERGE into snapshot-
  versioned lake tables (``lake.LakeTable``) with exactly-once commits,
- last-writer-wins dedup per key by ``(warc_ts, lsn)`` — commutative, so
  replay from any checkpoint converges (CRDT-style LWW register),
- schema evolution (add / rename / type-widen) detected from event
  envelopes or the pulled source schema, metadata-only,
- the schema change, per-partition offsets and pull cursor committed in
  the same snapshot as the data, plus batch lineage and a metrics log,
- vectorized pandas/Arrow UDFs for all Python-side transforms (no
  per-row Python UDFs anywhere in the hot path),
- skew handling: salted two-phase reduction and partial-aggregate LWW.

No Iceberg/Delta jars exist in this environment, so the lake layer is a
minimal, self-contained snapshot format on Parquet (atomic manifest
pointer, merge-on-read overlays with bucket-pruned reads and compaction,
column-ID schema evolution,
snapshot-summary batch ids) — the same contract Iceberg would provide.
"""

__version__ = "0.1.0"

from patuha_etl_dlt_spark.session import get_spark  # noqa: F401
