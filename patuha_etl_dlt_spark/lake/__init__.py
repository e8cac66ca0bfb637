"""Minimal snapshot-versioned lake-table format on Parquet.

Provides the sink contract the north rule assigns to Iceberg (no lake-format
jars exist in this environment, so we implement the needed subset directly,
Spark-first):

- atomic snapshot commits via a manifest + pointer-file swap,
- key-bucketed data layout with merge-on-read MERGE overlays and
  bucket-granular compaction,
- column-ID-based schema evolution (add / rename / type-widen),
- snapshot-summary batch ids for exactly-once re-apply,
- tombstoned deletes (LWW registers) so merge is commutative and replay
  from any checkpoint converges.

Reference analog: the dlt merge write-disposition + MySQL target tables
(``/root/reference/source/pipeline_management.py:1076``,
``index_management.py:14-44``) — re-imagined as immutable Parquet
snapshots instead of row-locked InnoDB upserts.
"""

from patuha_etl_dlt_spark.lake.metadata import Field, Schema, Snapshot  # noqa: F401
from patuha_etl_dlt_spark.lake.table import LakeTable  # noqa: F401
