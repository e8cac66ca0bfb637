"""CDC engine: change-event feed → lake-table MERGE, exactly once.

Spark-first re-expression of the reference's incremental sync pipeline
(``/root/reference/source/pipeline_management.py:605-1223``)."""

from patuha_etl_dlt_spark.cdc.checkpoint import CheckpointStore  # noqa: F401
from patuha_etl_dlt_spark.cdc.engine import CdcEngine  # noqa: F401
