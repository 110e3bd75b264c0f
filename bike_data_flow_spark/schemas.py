"""Schema definitions — Spark StructType translations of the reference's
Pandera schemas (reference: wrm_pipeline/wrm_pipeline/models/stations.py:10-31
processed, :39-60 enhanced).

Constraint metadata (the Pandera Check-s) lives in CONSTRAINTS and is
enforced by operators/quality.validate — declaratively, as Spark
filters, not row-wise Python.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# models/stations.py:10-31 → processed_data_schema, column order
# pinned by processed_all.py:188.
PROCESSED_SCHEMA = StructType(
    [
        StructField("station_id", StringType(), False),
        StructField("name", StringType(), False),
        StructField("timestamp", TimestampType(), False),
        StructField("gmt_local_diff_sec", LongType(), False),
        StructField("gmt_servertime_diff_sec", LongType(), False),
        StructField("lat", DoubleType(), False),
        StructField("lon", DoubleType(), False),
        StructField("bikes", LongType(), False),
        StructField("spaces", LongType(), False),
        StructField("installed", BooleanType(), False),
        StructField("locked", BooleanType(), False),
        StructField("temporary", BooleanType(), False),
        StructField("total_docks", LongType(), False),
        StructField("givesbonus_acceptspedelecs_fbbattlevel", BooleanType(), True),
        StructField("pedelecs", LongType(), False),
        StructField("s3_source_key", StringType(), False),
        StructField("file_timestamp", TimestampType(), False),
    ]
)

# models/stations.py:39-60 → enhanced_daily_schema; order enhanced_all.py:77-84
# pins record_type at position 16 — after pedelecs, BEFORE the lineage columns
# (s3_source_key, file_timestamp) — so positional consumers of the reference's
# ordered CSV output line up.
ENHANCED_SCHEMA = StructType(
    list(PROCESSED_SCHEMA.fields[:15])
    + [StructField("record_type", StringType(), False)]
    + list(PROCESSED_SCHEMA.fields[15:])
    + [
        StructField("date", TimestampType(), False),
        StructField("processed_at", TimestampType(), False),
    ]
)
assert [f.name for f in ENHANCED_SCHEMA.fields[14:]] == [
    "pedelecs",
    "record_type",
    "s3_source_key",
    "file_timestamp",
    "date",
    "processed_at",
]

RECORD_TYPES = ("station", "bike", "unknown")

# Pandera Check translations (models/stations.py:18-28, :53-55):
# {column: (constraint kind, argument)}
CONSTRAINTS: dict[str, list[tuple[str, object]]] = {
    "bikes": [("ge", 0)],
    "spaces": [("ge", 0)],
    "pedelecs": [("ge", 0)],
    "total_docks": [("ge", 1)],
    "record_type": [("isin", RECORD_TYPES)],
}
