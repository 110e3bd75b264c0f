"""The read path: the reference's view/analytics query set over an
enhanced zone, each result checked against DuckDB over the same Parquet.

A traced ``wrm_feed`` run serves the zone its stream built through this
set once, after the timed window: it checks the views, analytics and
quality operators and times each query's build (the call that returns a
DataFrame), action, and Catalyst planning.
"""

from __future__ import annotations

import math
import time

QUERIES = ("views", "latest", "station_summary", "record_types", "density",
           "daily_station_summary", "validate")
LATEST_COLS = ("station_id", "name", "timestamp", "bikes", "spaces", "file_timestamp")
SUMMARY_COLS = ("station_id", "name", "bikes_mean", "bikes_max", "bikes_min",
                "bikes_std", "spaces_mean", "spaces_max", "spaces_min",
                "spaces_std", "total_docks_first", "installed_fraction")


def _norm(rows, cols):
    # timestamps compare as naive UTC datetimes from both engines (run.py
    # pins the process time zone to UTC, as the session's is)
    return sorted(tuple(r[c] for c in cols) for r in rows)


class Client:
    """The reference's view/analytics set, in its fixed order. Each method
    returns (build_s, exec_s, result): build is the call that returns a
    DataFrame, exec its action."""

    def __init__(self, spark, zone: str) -> None:
        from bike_data_flow_spark.operators import analytics, enhance, quality, views
        from bike_data_flow_spark.schemas import ENHANCED_SCHEMA

        self.spark, self.zone = spark, zone
        self.A, self.E, self.Q, self.V = analytics, enhance, quality, views
        self.schema = ENHANCED_SCHEMA
        self.enhanced = None
        self.plan_s: list[float] = []

    def _timed(self, build, act):
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        out = act(df)
        t2 = time.perf_counter()
        self.plan_s.append(_planning_s(df))
        return t1 - t0, t2 - t1, out

    def views(self):
        def build():
            self.enhanced = self.E.read_enhanced(self.spark, self.zone)
            self.V.create_views(self.spark, self.enhanced)
            return self.enhanced
        return self._timed(build, lambda df: None)

    def latest(self):
        return self._timed(lambda: self.spark.table("wrm_stations_latest"),
                           lambda df: df.collect())

    def station_summary(self):
        # the function runs its own count and collect: all of it is action
        return self._timed(lambda: self.enhanced,
                           lambda df: self.A.station_summary(df))

    def record_types(self):
        return self._timed(lambda: self.A.record_type_distribution(self.enhanced),
                           lambda df: df.collect())

    def density(self):
        def build():
            bounds = self.A.bounding_box(self.enhanced).collect()[0].asDict()
            grid = self.A.make_grid(bounds)
            return self.A.top_density_cells(self.A.grid_density(self.enhanced, grid))
        return self._timed(build, lambda df: df.collect())

    def daily_station_summary(self):
        return self._timed(lambda: self.A.daily_station_summary(self.spark.table("wrm_stations_only")),
            lambda df: df.collect())

    def validate(self):
        return self._timed(lambda: self.enhanced,
                           lambda df: self.Q.validate(df, self.schema, strict_order=False))


def _planning_s(df) -> float:
    """Catalyst analysis + optimization + planning time of a DataFrame's
    last query execution, from its phase tracker."""
    if df is None:
        return 0.0
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.values().iterator()
    total = 0
    while it.hasNext():
        ph = it.next()
        total += ph.endTimeMs() - ph.startTimeMs()
    return total / 1000


def _duckdb_check(zone: str, results: dict) -> list[str]:
    """Every query's result against DuckDB 1.0 over the same files."""
    import duckdb

    src = f"read_parquet('{zone}/dt=*/*.parquet', hive_partitioning=true)"
    con = duckdb.connect()
    errors = []

    def rows(sql):
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]

    want = rows(f"""
        SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY station_id
            ORDER BY date DESC, file_timestamp DESC) AS rn
          FROM {src} WHERE record_type = 'station') WHERE rn = 1""")
    if _norm(want, LATEST_COLS) != _norm(results["latest"], LATEST_COLS):
        errors.append("wrm_stations_latest differs from DuckDB")

    total = rows(f"SELECT count(*) AS n FROM {src}")[0]["n"]
    top_ts = sorted(r["timestamp"] for r in rows(
        f"SELECT timestamp FROM {src} ORDER BY timestamp DESC LIMIT 10"))
    got = results["station_summary"]
    if got["total_records"] != total or sorted(
            r["timestamp"] for r in got["latest_sample"]) != top_ts:
        errors.append("station_summary differs from DuckDB")

    want = rows(f"SELECT record_type, count(*) AS cnt FROM {src} GROUP BY 1")
    if _norm(want, ("record_type", "cnt")) != _norm(results["record_types"], ("record_type", "cnt")):
        errors.append("record_type_distribution differs from DuckDB")

    b = rows(f"""SELECT min(lat) AS min_lat, max(lat) AS max_lat, min(lon) AS min_lon,
                 max(lon) AS max_lon FROM {src} WHERE lat IS NOT NULL AND lon IS NOT NULL""")[0]
    side = int(math.sqrt(1000))
    dlat = (b["max_lat"] - b["min_lat"]) / side or 1.0
    dlon = (b["max_lon"] - b["min_lon"]) / side or 1.0
    want = rows(f"""
        SELECT least(floor((lat - {b['min_lat']!r}) / {dlat!r}), {side - 1}) AS bin_lat,
               least(floor((lon - {b['min_lon']!r}) / {dlon!r}), {side - 1}) AS bin_lon,
               sum(bikes) AS bike_count,
               count(CASE WHEN record_type = 'station' THEN 1 END) AS station_records,
               count(CASE WHEN record_type = 'bike' THEN 1 END) AS bike_records
        FROM {src} WHERE lat IS NOT NULL AND lon IS NOT NULL
        GROUP BY 1, 2 ORDER BY bike_count DESC, bin_lat, bin_lon LIMIT 10""")
    cols = ("bin_lat", "bin_lon", "bike_count", "station_records", "bike_records")
    if [tuple(int(r[c]) for c in cols) for r in want] != [
            tuple(int(r[c]) for c in cols) for r in results["density"]]:
        errors.append("top_density_cells differs from DuckDB")

    want = rows(f"""
        SELECT station_id, name,
          round(avg(bikes), 2) AS bikes_mean, max(bikes) AS bikes_max,
          min(bikes) AS bikes_min, round(stddev_samp(bikes), 2) AS bikes_std,
          round(avg(spaces), 2) AS spaces_mean, max(spaces) AS spaces_max,
          min(spaces) AS spaces_min, round(stddev_samp(spaces), 2) AS spaces_std,
          arg_min(total_docks, timestamp) AS total_docks_first,
          round(avg(installed::DOUBLE), 2) AS installed_fraction
        FROM {src} WHERE record_type = 'station' GROUP BY 1, 2""")
    got = {(r["station_id"], r["name"]): r for r in results["daily_station_summary"]}
    ok = len(want) == len(got)
    for w in want:
        g = got.get((w["station_id"], w["name"]))
        if g is None or any(
            abs(float(w[c]) - float(g[c])) > 0.0100001 for c in SUMMARY_COLS[2:]
        ):
            ok = False
    if not ok:
        errors.append("daily_station_summary differs from DuckDB")

    bad = rows(f"""SELECT count(*) AS n FROM {src} WHERE bikes < 0 OR spaces < 0
                   OR pedelecs < 0 OR total_docks < 1
                   OR record_type NOT IN ('station', 'bike', 'unknown')""")[0]["n"]
    if bad != 0 or not results["validate"].ok:
        errors.append("quality.validate disagrees with DuckDB's constraint count")
    con.close()
    return errors


def serve(spark, zone: str, counters=None) -> tuple[list[str], dict]:
    """Run the query set once over ``zone`` and check every result against
    DuckDB. Returns (errors, per-query timings and, given ``counters``,
    the query's jobs and task time)."""
    client = Client(spark, zone)
    results, timings = {}, {}
    for name in QUERIES:
        before = counters.read() if counters else None
        build_s, exec_s, results[name] = getattr(client, name)()
        timings[name] = {"build_s": build_s, "exec_s": exec_s,
                         "plan_s": client.plan_s[-1]}
        if counters:
            timings[name].update(counters.delta(before, counters.read()))
    return _duckdb_check(zone, results), timings
