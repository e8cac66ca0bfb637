"""Change-event envelope: the binlog/WAL-style record the engine tails.

The reference approximates CDC with timestamp cursors over source tables
(``/root/reference/source/pipeline_management.py:818``, ``:947-950``) and
cannot see deletes (timestamp CDC is insert/update-only; full refresh is
its workaround, ``:1225-1506``). Our envelope carries an explicit
``op ∈ {I,U,D}`` and a unique, strictly-increasing ``lsn`` so ordering is
total and deletes are first-class.

``schema_json`` describes the *payload* columns of the event with field
ids — the engine diffs it against the target table schema to drive
evolution (reference analog: INFORMATION_SCHEMA diffing,
``schema_management.py:79-104``, which is add-only and name-based; ids
let us also detect renames and type widenings).
"""

from __future__ import annotations

import json

from pyspark.sql import types as T

from patuha_etl_dlt_spark.lake.metadata import Field, Schema
from patuha_etl_dlt_spark.lake.table import OP

# envelope columns (``op`` is defined beside the lake's system columns,
# because the merge reads it): the event's LSN, its feed partition, and
# its payload schema descriptor
LSN = "lsn"
PARTITION = "partition_id"
SCHEMA = "schema_json"
ENVELOPE_COLS = [LSN, OP, PARTITION, SCHEMA]

# payload columns the engine derives from one another: ``text`` is
# extracted from ``html``
HTML = "html"
TEXT = "text"

# base payload: the `pages` shape from BASELINE.json input_hint
PAGES_COLUMNS: list[tuple[str, str]] = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    (HTML, "binary"),
    (TEXT, "string"),
    ("lang", "string"),
]


def event_struct(payload: list[tuple[str, str]] = PAGES_COLUMNS) -> T.StructType:
    from patuha_etl_dlt_spark.lake.metadata import spark_type

    fields = [
        T.StructField(LSN, T.LongType(), False),
        T.StructField(OP, T.StringType(), False),
    ]
    fields += [T.StructField(n, spark_type(t), True) for n, t in payload]
    fields += [
        T.StructField(PARTITION, T.IntegerType(), False),
        T.StructField(SCHEMA, T.StringType(), True),
    ]
    return T.StructType(fields)


def schema_descriptor(fields: list[tuple[int, str, str]]) -> str:
    """Serialize a payload schema descriptor: [(id, name, type), ...]."""
    return json.dumps([{"id": i, "name": n, "type": t} for i, n, t in fields])


def parse_descriptor(s: str) -> Schema:
    return Schema.of([Field(d["id"], d["name"], d["type"]) for d in json.loads(s)])


def base_descriptor() -> str:
    """Descriptor matching PAGES_COLUMNS with ids 1..5 (ids align with
    LakeTable.create's id assignment for the same column list)."""
    return schema_descriptor([(i + 1, n, t) for i, (n, t) in enumerate(PAGES_COLUMNS)])
