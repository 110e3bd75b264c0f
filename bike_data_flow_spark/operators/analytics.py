"""Analytics over the enhanced table — the reference's query surface:

- station_summary (query_station_summary.py:13-45): counts + top-10
- record_type_distribution (create_enhanced_views.py:103-107)
- bounding box (bike_spatial_density_analysis.py:35-46)
- grid density (…:68-190) — REDESIGNED: the reference loops over
  ~1000 grid cells in Python applying a bounding-box mask per cell
  (O(cells×N), driver-bound). Here: O(N) bin-id arithmetic + one
  partial-aggregated groupBy. Same cells, same counts, shuffle-parallel.
- daily station/bike summaries (iceberg_assets.py:159-169, 192-201)
  with DETERMINISTIC first/last via explicit intra-group time order
  (SURVEY §7.4.2 — pandas 'first' depended on concat order).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def station_summary(enhanced: DataFrame, top_n: int = 10) -> dict:
    """COUNT(*) + latest-N sample (A1, O2). Small collect at the edge —
    presentation-layer, like the reference's returned dict."""
    total = enhanced.count()
    latest = (
        enhanced.orderBy(F.desc("timestamp"))
        .limit(top_n)
        .select("station_id", "name", "timestamp", "bikes", "spaces")
        .collect()
    )
    return {
        "total_records": total,
        "latest_sample": [r.asDict() for r in latest],
    }


def record_type_distribution(enhanced: DataFrame) -> DataFrame:
    return enhanced.groupBy("record_type").agg(F.count(F.lit(1)).alias("cnt"))


def bounding_box(stations: DataFrame) -> DataFrame:
    """A4 with null rejection (P10)."""
    return stations.filter(
        F.col("lat").isNotNull() & F.col("lon").isNotNull()
    ).agg(
        F.min("lat").alias("min_lat"),
        F.max("lat").alias("max_lat"),
        F.min("lon").alias("min_lon"),
        F.max("lon").alias("max_lon"),
    )


@dataclass(frozen=True)
class Grid:
    min_lat: float
    min_lon: float
    lat_delta: float
    lon_delta: float
    n_cells_side: int


def make_grid(bounds: dict, target_cells: int = 1000) -> Grid:
    """Reference grid construction (…:68-134): ~sqrt(1000) cells per side
    over the bounding box."""
    side = int(math.sqrt(target_cells))
    lat_span = bounds["max_lat"] - bounds["min_lat"]
    lon_span = bounds["max_lon"] - bounds["min_lon"]
    return Grid(
        min_lat=bounds["min_lat"],
        min_lon=bounds["min_lon"],
        lat_delta=lat_span / side if lat_span else 1.0,
        lon_delta=lon_span / side if lon_span else 1.0,
        n_cells_side=side,
    )


def grid_density(points: DataFrame, grid: Grid) -> DataFrame:
    """Per-cell density: sum(bikes), station/bike record counts (A6).

    bin = floor((coord - min) / delta), clamped so the max edge joins the
    last cell (the reference's last cell is inclusive on its upper edge).
    """
    side = grid.n_cells_side
    bin_lat = F.least(
        F.floor((F.col("lat") - grid.min_lat) / grid.lat_delta),
        F.lit(side - 1),
    )
    bin_lon = F.least(
        F.floor((F.col("lon") - grid.min_lon) / grid.lon_delta),
        F.lit(side - 1),
    )
    return (
        points.filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
        .withColumn("bin_lat", bin_lat)
        .withColumn("bin_lon", bin_lon)
        .groupBy("bin_lat", "bin_lon")
        .agg(
            F.sum("bikes").alias("bike_count"),
            F.count(F.when(F.col("record_type") == "station", 1)).alias("station_records"),
            F.count(F.when(F.col("record_type") == "bike", 1)).alias("bike_records"),
        )
    )


def top_density_cells(density: DataFrame, k: int = 10) -> DataFrame:
    """O4: top-k cells by bike_count (deterministic tie-break on bins)."""
    return density.orderBy(
        F.desc("bike_count"), F.asc("bin_lat"), F.asc("bin_lon")
    ).limit(k)


def _ordered_first_last(df: DataFrame, cols: list[str]) -> DataFrame:
    """Attach rn_first/rn_last over (station_id, name) ordered by
    (timestamp, file_timestamp) — the deterministic replacement for
    pandas positional first/last."""
    keys = ["station_id", "name"]
    wa = Window.partitionBy(*keys).orderBy(F.asc("timestamp"), F.asc("file_timestamp"))
    wd = Window.partitionBy(*keys).orderBy(F.desc("timestamp"), F.desc("file_timestamp"))
    return df.select(
        *keys,
        *cols,
        F.row_number().over(wa).alias("rn_first"),
        F.row_number().over(wd).alias("rn_last"),
    )


def daily_station_summary(stations: DataFrame) -> DataFrame:
    """A5 (iceberg_assets.py:159-169): per (station_id, name) bike/space
    stats; installed fraction = avg(cast); round(2); first total_docks
    made deterministic by time order."""
    base = _ordered_first_last(
        stations, ["bikes", "spaces", "total_docks", "installed"]
    )
    return base.groupBy("station_id", "name").agg(
        F.round(F.avg("bikes"), 2).alias("bikes_mean"),
        F.max("bikes").alias("bikes_max"),
        F.min("bikes").alias("bikes_min"),
        F.round(F.stddev_samp("bikes"), 2).alias("bikes_std"),
        F.round(F.avg("spaces"), 2).alias("spaces_mean"),
        F.max("spaces").alias("spaces_max"),
        F.min("spaces").alias("spaces_min"),
        F.round(F.stddev_samp("spaces"), 2).alias("spaces_std"),
        F.max(F.when(F.col("rn_first") == 1, F.col("total_docks"))).alias(
            "total_docks_first"
        ),
        F.round(F.avg(F.col("installed").cast("double")), 2).alias(
            "installed_fraction"
        ),
    )


def daily_bike_summary(bikes: DataFrame) -> DataFrame:
    """A8 (iceberg_assets.py:192-201): per bike first/last/std of
    position; round(6)."""
    base = _ordered_first_last(bikes, ["lat", "lon", "installed"])
    return base.groupBy("station_id", "name").agg(
        F.round(F.max(F.when(F.col("rn_first") == 1, F.col("lat"))), 6).alias("lat_first"),
        F.round(F.max(F.when(F.col("rn_last") == 1, F.col("lat"))), 6).alias("lat_last"),
        F.round(F.stddev_samp("lat"), 6).alias("lat_std"),
        F.round(F.max(F.when(F.col("rn_first") == 1, F.col("lon"))), 6).alias("lon_first"),
        F.round(F.max(F.when(F.col("rn_last") == 1, F.col("lon"))), 6).alias("lon_last"),
        F.round(F.stddev_samp("lon"), 6).alias("lon_std"),
        F.round(F.avg(F.col("installed").cast("double")), 6).alias("installed_fraction"),
    )


def skyline_2d(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Pareto frontier maximizing (x, y): rows no other row beats on
    both dimensions (ties kept — an exactly-equal pair dominates
    neither way).

    Skylines are distributive — frontier(A ∪ B) ⊆ frontier(A) ∪
    frontier(B) — so the plan is the classic two-stage shape: each
    task prunes its partition to a local frontier with one
    sort + group-max sweep (mapInPandas), then the single merge task
    sweeps the union of local frontiers. The shuffle carries only
    local-frontier rows (for n points per task, expected O(log n) on
    independent dimensions), never the corpus.
    """
    import pandas as pd

    def _frontier(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pdf
        pdf = pdf.sort_values([x_col, y_col], ascending=False, kind="mergesort")
        # keep a row iff its y equals its x-group's max AND that max
        # strictly beats the best y of every strictly-higher-x group
        grp_max = pdf.groupby(x_col, sort=False)[y_col].transform("max")
        firsts = ~pdf[x_col].duplicated()
        prior = grp_max[firsts].cummax().shift(1)
        prior_best = prior.reindex(pdf.index).ffill().fillna(float("-inf"))
        return pdf[(pdf[y_col] == grp_max) & (grp_max > prior_best)]

    def kernel(it):
        batches = [pdf for pdf in it if not pdf.empty]
        if batches:
            yield _frontier(pd.concat(batches, ignore_index=True))

    local = df.mapInPandas(kernel, schema=df.schema)
    return local.repartition(1).mapInPandas(kernel, schema=df.schema)
