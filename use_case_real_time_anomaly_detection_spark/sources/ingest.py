"""NDJSON event ingest with declared-schema mapping (S1).

≙ the reference's Events API path: the generator POSTs newline-delimited
JSON batches and a JSONPath mapping coerces fields into the declared
table schema — including string→Float32 coercion of `value`
(reference: data-generator/anomaly-dataset-live.py:157-164,204-208;
datasources/incoming_data.datasource:3-5; config/sample_report.json:1
shows `"value": "677.88"` arriving as a string).

Spark equivalents: explicit StructType (never inferSchema — SURVEY.md
§1.2) and from_json over the posted lines; the declared-schema cast is
the JSONPath-coercion analog. The Events API append
(serving.EventStore.append_ndjson) is the one caller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
)

# the reference's incoming_data schema, transposed
# (id Int16, timestamp DateTime, value Float32 — incoming_data.datasource:2-9)
EVENT_JSON_SCHEMA = StructType(
    [
        StructField("id", StringType()),  # arrives loosely typed
        StructField("timestamp", StringType()),
        StructField("value", StringType()),  # string in sample_report.json
    ]
)


def parse_events(lines: DataFrame, line_col: str = "value") -> DataFrame:
    """NDJSON lines → typed events. Declared schema + explicit casts
    (the Float32/DateTime coercions the reference's JSONPath layer does).
    The frame's other columns (e.g. an ``event_id`` assigned at append)
    ride through ahead of (id, ts, value). Unparseable lines yield NULL
    id/ts and can be routed to a dead-letter sink by the caller
    (from_json is permissive, never throws)."""
    keep = [c for c in lines.columns if c != line_col]
    parsed = lines.select(
        *keep,
        F.from_json(F.col(line_col).cast("string"), EVENT_JSON_SCHEMA).alias("e"),
    )
    # try_cast / try_to_timestamp: under ANSI mode (Spark 4 default) plain
    # casts THROW on malformed data — ingest must degrade bad fields to
    # NULL (dead-letterable), never fail the job
    return parsed.select(
        *keep,
        F.col("e.id").try_cast("int").alias("id"),
        F.try_to_timestamp("e.timestamp").alias("ts"),
        F.col("e.value").try_cast("float").alias("value"),  # string → Float32
    )
