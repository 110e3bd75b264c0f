"""Raw wire-format parser: landing-zone text files → typed DataFrame.

Reference behavior being reproduced (all under
wrm_pipeline/wrm_pipeline/assets/stations/processed_all.py):
- CSV lines; header starts with '#id' (:112-131)
- column 2 is composite 'epoch|gmt_local|gmt_server', split into 3 (:128-143)
- rows whose composite field doesn't split into exactly 3 parts are
  DROPPED, not failed (:144-146)
- '#id' → 'station_id' (:156); 11 typed casts (:159-185)
- boolean strings true/false (any case) → bool; empty/missing pedelec
  flag → False (:167-183)
- rows with unparseable numerics are dropped (the reference skips the
  whole FILE on cast failure :197-199; row-granular is the scalable
  choice)
- epoch-seconds float → timestamp (:226)
- lineage: source key + file timestamp from filename regex
  `wrm_stations_(\\d{4}-\\d{2}-\\d{2}_\\d{2}-\\d{2}-\\d{2})\\.txt$`,
  falling back to file modification time (:99-106)

Spark-first design: one `spark.read.text` scan (line mode), all
transforms as Column expressions — a single narrow stage, no shuffle,
no Python. At 100 TB the parser is embarrassingly parallel and the
file listing/partition pruning comes from the dt= directory layout.

A day is read as its `dt=` *directory* with a `pathGlobFilter` of
`RAW_FILE_GLOB`, so the file index gets one root and lists it on the
driver. A *file* glob (`dt=X/*.txt`) would hand it one root per file,
and above `spark.sql.sources.parallelPartitionDiscovery.threshold` (32
roots) the listing becomes a Spark job of its own, run while the
DataFrame is being built.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

FILENAME_TS_REGEX = r"wrm_stations_(\d{4}-\d{2}-\d{2}_\d{2}-\d{2}-\d{2})\.txt$"
# The landing files a read admits, as a `pathGlobFilter` on file names;
# it keeps out the `.tmp` files `LandingZone.land` renames into place.
RAW_FILE_GLOB = "*.txt"
_BOOL_TRUE = ("true",)  # compared lower-cased; everything else → False


def _to_bool(c: Column, default_false: bool = True) -> Column:
    """Reference mapping (processed_all.py:167-183): 'true' (any case) →
    True, anything else (incl. '' / null) → False."""
    out = F.when(F.lower(c).isin(*_BOOL_TRUE), F.lit(True)).otherwise(F.lit(False))
    return out


def parse_raw_lines(df: DataFrame) -> DataFrame:
    """Parse a line-mode DataFrame (column ``value``, optionally
    ``_metadata``) into the processed schema (minus lineage, added by
    `with_lineage`). Rows with unparseable numerics are dropped.

    ``_metadata`` is carried through as a plain column: in a file scan
    it is a hidden metadata column that resolves through any projection,
    but in a foreachBatch frame it is an ordinary struct column that a
    ``select`` would drop.
    """
    meta = [F.col("_metadata")] if "_metadata" in df.columns else []
    # Header rows start with '#id'; data rows don't.
    lines = df.filter(~F.col("value").startswith("#id") & (F.length(F.trim("value")) > 0))

    parts = F.split(F.col("value"), ",")
    composite = F.split(F.element_at(parts, 2), "\\|")

    parsed = lines.select(
        F.col("value"),
        *[F.element_at(parts, i + 1).alias(n) for i, n in enumerate(_POSITIONS)],
        composite.alias("_composite"),
        *meta,
    )

    # Drop malformed rows: wrong column count or composite != 3 parts
    # (processed_all.py:144-146; pinned by test_processed.py:240-272).
    parsed = parsed.filter(
        (F.size(parts) == len(_POSITIONS)) & (F.size(F.col("_composite")) == 3)
    )

    # try_cast, not cast: under ANSI mode (Spark 4 default) a malformed
    # numeric would fail the job; the reference drops such rows instead.
    typed = parsed.select(
        F.col("#id").alias("station_id"),
        F.col("name"),
        F.timestamp_seconds(
            F.element_at(F.col("_composite"), 1).try_cast("double")
        ).alias("timestamp"),
        F.element_at(F.col("_composite"), 2).try_cast("long").alias("gmt_local_diff_sec"),
        F.element_at(F.col("_composite"), 3).try_cast("long").alias("gmt_servertime_diff_sec"),
        F.col("lat").try_cast("double").alias("lat"),
        F.col("lon").try_cast("double").alias("lon"),
        F.col("bikes").try_cast("long").alias("bikes"),
        F.col("spaces").try_cast("long").alias("spaces"),
        _to_bool(F.col("installed")).alias("installed"),
        _to_bool(F.col("locked")).alias("locked"),
        _to_bool(F.col("temporary")).alias("temporary"),
        F.col("total_docks").try_cast("long").alias("total_docks"),
        _to_bool(F.col("givesbonus_acceptspedelecs_fbbattlevel")).alias(
            "givesbonus_acceptspedelecs_fbbattlevel"
        ),
        F.col("pedelecs").try_cast("long").alias("pedelecs"),
        *meta,
    )

    # Casts of garbage → NULL; reference semantics: such rows can't
    # survive (its pandas astype would throw for the whole file).
    return typed.filter(
        F.col("timestamp").isNotNull()
        & F.col("gmt_local_diff_sec").isNotNull()
        & F.col("gmt_servertime_diff_sec").isNotNull()
        & F.col("lat").isNotNull()
        & F.col("lon").isNotNull()
        & F.col("bikes").isNotNull()
        & F.col("spaces").isNotNull()
        & F.col("total_docks").isNotNull()
        & F.col("pedelecs").isNotNull()
    )


_POSITIONS = [
    "#id",
    "composite_raw",
    "name",
    "lat",
    "lon",
    "bikes",
    "spaces",
    "installed",
    "locked",
    "temporary",
    "total_docks",
    "givesbonus_acceptspedelecs_fbbattlevel",
    "pedelecs",
]


def with_lineage(df: DataFrame) -> DataFrame:
    """Attach s3_source_key + file_timestamp lineage columns.

    file_timestamp: filename regex first (processed_all.py:99-102),
    file modification time as fallback (:104-106) via the parquet/text
    `_metadata` struct — no extra listing pass.
    """
    fname = F.col("_metadata.file_path")
    ts_str = F.regexp_extract(fname, FILENAME_TS_REGEX, 1)
    return df.withColumns(
        {
            "s3_source_key": fname,
            # try_to_timestamp: non-matching filenames yield '' which must
            # fall through to mtime, not fail (ANSI mode would throw)
            "file_timestamp": F.coalesce(
                F.try_to_timestamp(ts_str, F.lit("yyyy-MM-dd_HH-mm-ss")),
                F.col("_metadata.file_modification_time").cast("timestamp"),
            ),
        }
    )


def process_partition(
    spark: SparkSession, landing_dir: str, dt: str
) -> DataFrame:
    """Strict batch entry point with the reference's failure contract
    (test_processed.py:219-301): missing partition → FileNotFoundError;
    partition whose files yield zero valid rows → ValueError("No valid
    data found after processing"). `read_raw_partition` stays lazy and
    tolerant (ST7: log-and-continue)."""
    path = f"{landing_dir}/dt={dt}"
    if not os.path.isdir(path):
        raise FileNotFoundError(f"raw partition not found: {path}")
    df = read_raw_partition(spark, landing_dir, dt)
    if df.limit(1).count() == 0:
        raise ValueError("No valid data found after processing")
    return df


def read_raw_partition(
    spark: SparkSession, landing_dir: str, dt: str | None = None
) -> DataFrame:
    """Scan raw landing files (all partitions, or one dt=) → typed,
    lineage-attached processed DataFrame.

    Reading the whole dt= directory in ONE spark.read.text call makes
    the reference's per-file loop + pd.concat (processed_all.py:223,
    U1) disappear: the union is the scan. The roots are directories
    filtered to `RAW_FILE_GLOB`: one for a day, whose build lists it on
    the driver and starts no job, or one per day for a backfill, not
    one per file. The backfill's days are listed here rather than given
    as one `dt=*` glob, which the file-sink metadata probe takes for a
    literal path (logging a FileNotFoundException trace on every read).
    """
    if dt:
        days = [f"{landing_dir}/dt={dt}"]
    else:
        pattern = os.path.join(glob.escape(landing_dir), "dt=*")
        days = sorted(d for d in glob.glob(pattern) if os.path.isdir(d))
    lines = (
        spark.read.option("pathGlobFilter", RAW_FILE_GLOB)
        .text(days)
        .select("value", "_metadata")
    )
    return parse_landed(lines)


def parse_landed(lines: DataFrame) -> DataFrame:
    """Landing-file lines (``value``, ``_metadata``) → processed rows
    with lineage: the one parse path of the batch read and of the
    stream's micro-batches."""
    return with_lineage(parse_raw_lines(lines)).drop("_metadata")
