"""Catalog views over the enhanced zone — the reference's 4 DuckDB views
(create_enhanced_views.py:60-95) as Spark SQL temp views.

- wrm_stations_all:    full scan, canonical ordering hoisted to query
                       level (Spark, like DuckDB, doesn't guarantee
                       view-level ORDER BY survives — SURVEY §7.4.5)
- wrm_stations_only:   record_type = 'station'
- wrm_bikes_only:      record_type = 'bike'
- wrm_stations_latest: ROW_NUMBER latest-per-station (W1)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

def latest_per_station(df: DataFrame) -> DataFrame:
    """W1 (create_enhanced_views.py:84-94): newest snapshot per station.
    Catalyst's InferWindowGroupLimit turns the rn=1 filter into a
    per-partition top-1 — no full materialization of ranks."""
    w = Window.partitionBy("station_id").orderBy(
        F.desc("date"), F.desc("file_timestamp")
    )
    return (
        df.filter(F.col("record_type") == "station")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def create_views(spark: SparkSession, enhanced: DataFrame) -> None:
    enhanced.createOrReplaceTempView("wrm_stations_all")
    enhanced.filter(F.col("record_type") == "station").createOrReplaceTempView(
        "wrm_stations_only"
    )
    enhanced.filter(F.col("record_type") == "bike").createOrReplaceTempView(
        "wrm_bikes_only"
    )
    latest_per_station(enhanced).createOrReplaceTempView("wrm_stations_latest")

