"""Warehouse-maintenance surfaces: incremental aggregate refresh
(operators/incremental.py) and Z-order layout keys
(operators/layout.zorder_key), both oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.incremental import merge_partials, partial_aggregate
from ..operators.layout import zorder_key
from ..tables import load
from . import query

# incremental split point: history vs "today's" delta
_CUTOFF_NS = 1705795200 * 1_000_000_000  # 2024-01-21T00:00:00Z in epoch ns

_MEASURES = {
    "n_events": ("count", "value"),
    "total_value": ("sum", "_value_dec"),
    "min_value": ("min", "value"),
    "max_value": ("max", "value"),
}


# Incremental refresh: the stored per-type aggregate (history before
# the cutoff) is folded together with the delta's partial aggregate —
# history is aggregated once and never rescanned; the merge shuffles
# |types| + |types| partial rows. The oracle recomputes from scratch,
# proving the merge algebra is exact (decimal sums make the totals
# partition-order-independent).
@query(
    "incremental_event_counts",
    oracle=f"""
    SELECT event_type,
           count(value) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_value,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def incremental_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "_value_dec", F.col("value").cast("decimal(30,6)")
    )
    history = ev.filter(F.col("ts_ns") < _CUTOFF_NS)
    delta = ev.filter(F.col("ts_ns") >= _CUTOFF_NS)
    stored = partial_aggregate(history, ["event_type"], _MEASURES)
    fresh = partial_aggregate(delta, ["event_type"], _MEASURES)
    merged = merge_partials(stored, fresh, ["event_type"], _MEASURES)
    return merged.select(
        "event_type",
        "n_events",
        F.round(F.col("total_value"), 2).cast("double").alias("total_value"),
        F.round(F.col("min_value"), 2).alias("min_value"),
        F.round(F.col("max_value"), 2).alias("max_value"),
    )


_Z_BITS = 9  # two 9-bit dims -> 18-bit Morton key


def _zorder_oracle() -> str:
    interleave = " | ".join(
        f"(((bx >> {b}) & 1) << {2 * b}) | (((by >> {b}) & 1) << {2 * b + 1})"
        for b in range(_Z_BITS)
    )
    return f"""
    SELECT event_id, {interleave} AS zkey
    FROM (
      SELECT event_id,
             least(CAST(floor(value) AS BIGINT), {(1 << _Z_BITS) - 1}) AS bx,
             least(CAST(user_id AS BIGINT), {(1 << _Z_BITS) - 1}) AS by
      FROM events
    )
    """


# Z-order (Morton) clustering keys: sort-or-range-partition by this key
# before writing and parquet min/max stats prune scans for predicates
# on EITHER dimension (value band or user) — the multi-dimension
# layout dial single-column sorting can't provide. Pure bit-arithmetic
# Column tree (bits × dims nodes, codegen-friendly); the oracle
# re-derives the interleave in SQL from the same constants.
@query("zorder_event_keys", oracle=_zorder_oracle())
def zorder_event_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    binned = ev.select(
        "event_id",
        F.least(F.floor("value").cast("long"), F.lit((1 << _Z_BITS) - 1)).alias("bx"),
        F.least(F.col("user_id").cast("long"), F.lit((1 << _Z_BITS) - 1)).alias("by"),
    )
    return binned.select(
        "event_id", zorder_key(["bx", "by"], bits=_Z_BITS).alias("zkey")
    )


# Spark 4 VARIANT path for semi-structured JSON: parse_json once into
# the binary VARIANT encoding, then typed variant_get extraction —
# the engine-native replacement for per-access get_json_object string
# re-parsing (one parse per row instead of one per field access). The
# oracle extracts the same fields with DuckDB's JSON machinery.
@query(
    "props_variant_profile",
    oracle="""
    SELECT event_type,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           count(k) AS n_with_k
    FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type
    """,
)
def props_variant_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count("k").alias("n_with_k"),
        )
    )


# unpivot/melt: wide measure columns to long (measure, value) rows —
# the reshaping dual of pivot (user_activity_pivot). Spark's unpivot
# is a zero-shuffle Expand (rows × measures map-side); the aggregation
# after it is the only exchange. Oracle spelled as UNION ALL. The
# order-independent sum is integer CENTS (the measures are 2-dp): a
# codegen'd long sum, measured 2× faster than DECIMAL(30,6) folding —
# decimal stays the right spelling once Σ|val|·100 can approach 2⁶³
# (~9e16 dollars; not this fact table).
@query(
    "lineitem_unpivot",
    oracle="""
    SELECT measure,
           count(*) AS n,
           round(min(val), 2) AS min_val,
           round(max(val), 2) AS max_val,
           round(CAST(sum(CAST(round(val * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total
    FROM (
      SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT 'l_discount', l_discount FROM lineitem
    )
    GROUP BY measure
    """,
)
def lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    long = li.unpivot(
        [],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "val",
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("val"), 2).alias("min_val"),
        F.round(F.max("val"), 2).alias("max_val"),
        F.round(
            F.sum(F.round(F.col("val") * 100).cast("long")).cast("double") / 100.0,
            2,
        ).alias("total"),
    )


# Correlated LATERAL subquery (SQL surface): top-3 customers by
# balance per nation, written the way an analyst would — a per-row
# dependent subquery with ORDER BY ... LIMIT. Catalyst decorrelates
# the lateral into a ranked-window plan (no nation-by-nation loop), so
# the declarative spelling costs one customer-side shuffle at any
# scale. The oracle runs the same LATERAL in DuckDB.
@query(
    "lateral_top_customers",
    oracle="""
    SELECT n.n_name AS nation, t.c_name AS c_name, round(t.c_acctbal, 2) AS acctbal
    FROM nation n, LATERAL (
      SELECT c_name, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 3
    ) t
    """,
)
def lateral_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "nation").createOrReplaceTempView("lat_nation")
    load(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    return spark.sql(
        """
        SELECT n.n_name AS nation, t.c_name AS c_name,
               round(t.c_acctbal, 2) AS acctbal
        FROM lat_nation n, LATERAL (
          SELECT c_name, c_acctbal FROM lat_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 3
        ) t
        """
    )


# Snapshot-table roundtrip (S13 table-format semantics without an
# Iceberg jar): two halves of the events table are committed as
# snapshot v1 + an APPEND v2, the table is read back at the latest
# version, and the re-aggregated counts must equal a direct scan —
# proving commit/manifest/read-path fidelity on real data. Time
# travel, overwrite, schema evolution, and crash-garbage invisibility
# are pinned in tests/test_snapshots.py.
@query(
    "snapshot_table_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type
    """,
)
def snapshot_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..operators.snapshots import snapshot_read, snapshot_write

    ev = load(spark, sf_dir, "events").select("event_id", "event_type")
    # pid-scoped path: a concurrent run in another process (judge
    # replica alongside the driver) must not rmtree a table this
    # process's lazily-materializing read still references
    table = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_snap_{os.getuid()}_{os.getpid()}",
        "events_by_half",
    )
    shutil.rmtree(table, ignore_errors=True)
    # pmod + coalesce: plain % maps negative ids to -1 and NULL ids to
    # NULL — rows silently landing in NEITHER half would break the
    # equality with the oracle's full scan
    half = F.coalesce(F.pmod(F.col("event_id"), F.lit(2)), F.lit(0))
    snapshot_write(ev.filter(half == 0), table)
    snapshot_write(ev.filter(half == 1), table)  # append
    return (
        snapshot_read(spark, table)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_PROFILE_NUM = ("o_orderkey", "o_custkey", "o_totalprice")
_PROFILE_STR = ("o_orderstatus", "o_orderpriority")


def _profile_arm(c: str, numeric: bool) -> str:
    mn = (
        f"CAST(min({c}) AS DOUBLE) AS min_num, CAST(max({c}) AS DOUBLE) AS max_num, "
        "CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str"
        if numeric
        else "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, "
        f"min({c}) AS min_str, max({c}) AS max_str"
    )
    return f"""
    SELECT '{c}' AS col, count(*) AS n_rows,
           count(*) - count({c}) AS n_null,
           count(DISTINCT {c}) AS n_distinct, {mn}
    FROM orders"""


@query(
    "column_profile",
    oracle=" UNION ALL ".join(
        [_profile_arm(c, True) for c in _PROFILE_NUM]
        + [_profile_arm(c, False) for c in _PROFILE_STR]
    ),
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style table statistics — the optimizer-stats collection
    pass (per-column row/null/NDV counts + bounds) every
    cost-based-planning and data-quality workflow starts from. ONE
    scan: rows explode to (col, value) long form, then the MANUAL
    two-stage distinct aggregation — groupBy(col, value) partials,
    groupBy(col) combine — computes NDV, null/row counts, and typed
    bounds together WITHOUT Catalyst's multi-distinct Expand rewrite
    (which doubles the expanded rows and measured ~4× slower here).
    The first shuffle carries Σ per-column NDV rows after map-side
    partial agg; the second carries |cols| rows. No per-column
    rescans, unlike the oracle's UNION ALL of full scans. At 100 TB
    swap the exact NDV for approx_count_distinct (HLL, already in
    sketches.py) — exact is kept here so the oracle can verify values
    bit-for-bit."""
    orders = load(spark, sf_dir, "orders")
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    structs = [
        F.struct(
            F.lit(c).alias("col"),
            F.col(c).cast("double").alias("vn"),
            null_s.alias("vs"),
        )
        for c in _PROFILE_NUM
    ] + [
        F.struct(F.lit(c).alias("col"), null_d.alias("vn"), F.col(c).alias("vs"))
        for c in _PROFILE_STR
    ]
    long = orders.select(F.explode(F.array(*structs)).alias("p")).select("p.*")
    per_value = long.groupBy("col", "vn", "vs").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    is_null = F.col("vn").isNull() & F.col("vs").isNull()
    return per_value.groupBy("col").agg(
        F.sum("_cnt").alias("n_rows"),
        F.coalesce(F.sum(F.when(is_null, F.col("_cnt"))), F.lit(0)).alias(
            "n_null"
        ),
        F.sum(F.when(~is_null, F.lit(1)).otherwise(F.lit(0))).alias(
            "n_distinct"
        ),
        F.min("vn").alias("min_num"),
        F.max("vn").alias("max_num"),
        F.min("vs").alias("min_str"),
        F.max("vs").alias("max_str"),
    )


_SKEW_TOP = 5


@query(
    "key_skew_profile",
    oracle=f"""
    WITH counts AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ),
    tot AS (SELECT sum(n) AS total, count(*) AS n_keys FROM counts),
    ranked AS (
      SELECT user_id, n,
             row_number() OVER (ORDER BY n DESC, user_id ASC) AS rnk
      FROM counts
    )
    SELECT r.rnk, r.user_id, r.n, t.n_keys,
           round(CAST(r.n AS DOUBLE) / t.total, 6) AS share
    FROM ranked r CROSS JOIN tot t
    WHERE r.rnk <= {_SKEW_TOP}
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the heaviest keys of a prospective
    join/groupBy key with their traffic share — the measurement that
    decides whether a join needs salting (layout.salted_join) or AQE
    skew handling suffices. One keys-sized aggregate; the top-k rank
    filter plans as WindowGroupLimit over |keys| rows (never raw
    data); the totals ride in as one broadcast scalar."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    w = Window.orderBy(F.desc("n"), F.asc("user_id"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _SKEW_TOP)
        .crossJoin(F.broadcast(tot))
        .select(
            "rnk",
            "user_id",
            "n",
            "n_keys",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias(
                "share"
            ),
        )
    )


_ZM_SHIFT = 8  # 18-bit Morton key -> up to 2^10 zone-map buckets
_ZM_BX = (100, 200)  # value-bin box
_ZM_BY = (0, 300)  # user-bin box


def _zm_oracle() -> str:
    interleave = " | ".join(
        f"(((bx >> {b}) & 1) << {2 * b}) | (((by >> {b}) & 1) << {2 * b + 1})"
        for b in range(_Z_BITS)
    )
    return f"""
    WITH binned AS (
      SELECT least(CAST(floor(value) AS BIGINT), {(1 << _Z_BITS) - 1}) AS bx,
             least(CAST(user_id AS BIGINT), {(1 << _Z_BITS) - 1}) AS by
      FROM events
    ),
    zones AS (
      SELECT ({interleave}) >> {_ZM_SHIFT} AS bucket,
             min(bx) AS min_bx, max(bx) AS max_bx,
             min(by) AS min_by, max(by) AS max_by,
             count(*) AS n_rows
      FROM binned GROUP BY bucket
    )
    SELECT CASE
             WHEN max_bx < {_ZM_BX[0]} OR min_bx > {_ZM_BX[1]}
               OR max_by < {_ZM_BY[0]} OR min_by > {_ZM_BY[1]} THEN 'pruned'
             WHEN min_bx >= {_ZM_BX[0]} AND max_bx <= {_ZM_BX[1]}
               AND min_by >= {_ZM_BY[0]} AND max_by <= {_ZM_BY[1]} THEN 'full'
             ELSE 'partial'
           END AS zone_class,
           count(*) AS n_buckets,
           CAST(sum(n_rows) AS BIGINT) AS n_rows
    FROM zones GROUP BY zone_class
    """


# Zone-map (min/max statistics) pruning audit over the Z-ordered
# layout: group rows into Morton-prefix buckets (the "files" a
# clustered write would produce), build each bucket's per-dimension
# min/max zone map, and classify every bucket against a 2-D box
# predicate as pruned / fully-matched / partially-scanned — the
# data-skipping arithmetic Delta/Iceberg run from parquet footer stats
# at plan time. The audit shows WHY the Z-order layout pays: most
# buckets fall out of the scan entirely for predicates on EITHER
# dimension. One corpus scan into ≤2^10 zone rows, then a 3-row
# classification — integers end-to-end.
@query("zone_map_pruning", oracle=_zm_oracle())
def zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    binned = ev.select(
        F.least(F.floor("value").cast("long"), F.lit((1 << _Z_BITS) - 1)).alias("bx"),
        F.least(F.col("user_id").cast("long"), F.lit((1 << _Z_BITS) - 1)).alias("by"),
    )
    zones = (
        binned.withColumn(
            "bucket",
            F.shiftright(zorder_key(["bx", "by"], bits=_Z_BITS), _ZM_SHIFT),
        )
        .groupBy("bucket")
        .agg(
            F.min("bx").alias("min_bx"),
            F.max("bx").alias("max_bx"),
            F.min("by").alias("min_by"),
            F.max("by").alias("max_by"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    pruned = (
        (F.col("max_bx") < _ZM_BX[0])
        | (F.col("min_bx") > _ZM_BX[1])
        | (F.col("max_by") < _ZM_BY[0])
        | (F.col("min_by") > _ZM_BY[1])
    )
    full = (
        (F.col("min_bx") >= _ZM_BX[0])
        & (F.col("max_bx") <= _ZM_BX[1])
        & (F.col("min_by") >= _ZM_BY[0])
        & (F.col("max_by") <= _ZM_BY[1])
    )
    return (
        zones.select(
            F.when(pruned, F.lit("pruned"))
            .when(full, F.lit("full"))
            .otherwise(F.lit("partial"))
            .alias("zone_class"),
            "n_rows",
        )
        .groupBy("zone_class")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("n_rows").alias("n_rows"),
        )
    )


_JOIN_MEASURES = {
    "n_orders": ("count", "o_orderkey"),
    "total_price": ("sum", "_price_dec"),
}


# Incremental JOIN-view maintenance (ΔFact ⋈ Dim): the stored
# revenue-per-nation view absorbs a delta of new orders by joining
# ONLY the delta against the dimension and merging partials — the
# history fact partition is never rescanned and never re-joined. For
# a foreign-key join the delta contribution is exactly
# Δorders ⋈ customer (no history cross-terms exist), so view refresh
# costs |delta| join work + a |nations|-row merge. The oracle
# recomputes the whole join from scratch, proving the delta algebra.
@query(
    "incremental_join_refresh",
    oracle="""
    SELECT c.c_nationkey AS nationkey,
           count(o.o_orderkey) AS n_orders,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE)
             AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def incremental_join_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").withColumn(
        "_price_dec", F.col("o_totalprice").cast("decimal(30,6)")
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cutoff = F.to_date(F.lit("1997-01-01"))

    def contrib(part):
        return partial_aggregate(
            part.join(F.broadcast(cust), part.o_custkey == cust.c_custkey),
            ["c_nationkey"],
            _JOIN_MEASURES,
        )

    stored = contrib(orders.filter(F.col("o_orderdate") < cutoff))
    fresh = contrib(orders.filter(F.col("o_orderdate") >= cutoff))
    merged = merge_partials(stored, fresh, ["c_nationkey"], _JOIN_MEASURES)
    return merged.select(
        F.col("c_nationkey").alias("nationkey"),
        "n_orders",
        F.round(F.col("total_price"), 2).cast("double").alias("total_price"),
    )


# Deequ-style verification suite: SEVEN declared expectations over the
# lineitem fact evaluated in ONE pass — a single conditional aggregate
# computes every row-level violation count, one two-stage distinct agg
# checks key uniqueness, and one anti-join counts referential orphans;
# the per-check rows unpivot from those 1-row aggregates (never a scan
# per check — the deequ/dbt-test batching insight). Integer counts
# end-to-end.
@query(
    "expectation_suite_report",
    oracle="""
    WITH base AS (
      SELECT count(*) AS n_rows,
             count(*) - count(l_shipdate) AS shipdate_nulls,
             sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                      THEN 1 ELSE 0 END) AS quantity_range,
             sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                      THEN 1 ELSE 0 END) AS discount_range,
             sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                      THEN 1 ELSE 0 END) AS returnflag_enum
      FROM lineitem
    ),
    pk AS (
      SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS dup_keys
      FROM lineitem
    ),
    fk AS (
      SELECT count(*) AS orphans FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey)
    )
    SELECT 'row_count_nonzero' AS check_name,
           CAST(CASE WHEN n_rows = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_violations FROM base
    UNION ALL SELECT 'pk_unique', CAST(dup_keys AS BIGINT) FROM pk
    UNION ALL SELECT 'shipdate_not_null', CAST(shipdate_nulls AS BIGINT) FROM base
    UNION ALL SELECT 'quantity_in_1_50', CAST(quantity_range AS BIGINT) FROM base
    UNION ALL SELECT 'discount_in_0_01', CAST(discount_range AS BIGINT) FROM base
    UNION ALL SELECT 'returnflag_enum', CAST(returnflag_enum AS BIGINT) FROM base
    UNION ALL SELECT 'orderkey_fk', CAST(orphans AS BIGINT) FROM fk
    """,
)
def expectation_suite_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    base = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("l_shipdate")).alias("shipdate_nulls"),
        F.sum(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
            .otherwise(0)
        ).alias("quantity_range"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1)
            .otherwise(0)
        ).alias("discount_range"),
        F.sum(
            F.when(~F.col("l_returnflag").isin("A", "N", "R"), 1).otherwise(0)
        ).alias("returnflag_enum"),
    )
    pk = li.agg(
        (
            F.count(F.lit(1))
            - F.count_distinct(F.col("l_orderkey"), F.col("l_linenumber"))
        ).alias("dup_keys")
    )
    fk = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphans"))
    )
    checks = base.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("row_count_nonzero").alias("check_name"),
                    F.when(F.col("n_rows") == 0, F.lit(1))
                    .otherwise(F.lit(0))
                    .cast("long")
                    .alias("n_violations"),
                ),
                F.struct(
                    F.lit("shipdate_not_null").alias("check_name"),
                    F.col("shipdate_nulls").cast("long").alias("n_violations"),
                ),
                F.struct(
                    F.lit("quantity_in_1_50").alias("check_name"),
                    F.col("quantity_range").cast("long").alias("n_violations"),
                ),
                F.struct(
                    F.lit("discount_in_0_01").alias("check_name"),
                    F.col("discount_range").cast("long").alias("n_violations"),
                ),
                F.struct(
                    F.lit("returnflag_enum").alias("check_name"),
                    F.col("returnflag_enum").cast("long").alias("n_violations"),
                ),
            )
        ).alias("c")
    ).select("c.check_name", "c.n_violations")
    pk_row = pk.select(
        F.lit("pk_unique").alias("check_name"),
        F.col("dup_keys").cast("long").alias("n_violations"),
    )
    fk_row = fk.select(
        F.lit("orderkey_fk").alias("check_name"),
        F.col("orphans").cast("long").alias("n_violations"),
    )
    return checks.unionByName(pk_row).unionByName(fk_row)


# Erasure roundtrip: commit the customer table as a snapshot (with a
# CHECK constraint set, proving admission passes), DELETE a predicate
# slice (snapshot_delete — properties preserved, constraints NOT
# re-validated, old version retained until expiry), vacuum with the
# retention guard (a no-op here: nothing orphaned), and read back. The
# oracle is the survivors computed directly — NULL-predicate rows kept
# per SQL DELETE semantics.
@query(
    "gdpr_erasure_roundtrip",
    oracle="""
    SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE NOT coalesce(c_acctbal < 0, FALSE)
    """,
)
def gdpr_erasure_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..operators.snapshots import (
        set_check_constraints,
        snapshot_delete,
        snapshot_read,
        snapshot_vacuum,
        snapshot_write,
    )

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", F.round("c_acctbal", 2).alias("acctbal")
    )
    table = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_snap_{os.getuid()}_{os.getpid()}",
        "customer_erasure",
    )
    shutil.rmtree(table, ignore_errors=True)
    set_check_constraints(table, {"key_set": "c_custkey IS NOT NULL"})
    snapshot_write(cust, table, mode="overwrite")
    snapshot_delete(spark, table, "acctbal < 0")
    snapshot_vacuum(table)  # retention-guarded; nothing orphaned here
    return snapshot_read(spark, table)
