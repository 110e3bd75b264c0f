"""Eleventh wave: gaps-and-islands streaks and interval sweep-line
concurrency — two classic warehouse shapes the registry still lacked.

- user_activity_streaks: longest run of CONSECUTIVE active days per
  user via the date-minus-row_number anchor trick (no self-join, no
  recursion): two user-partitioned windows + one bounded aggregate.
- in_flight_lineitems_peak: sweep-line peak concurrency over
  [o_orderdate, l_shipdate) intervals — each interval becomes a +1/-1
  boundary pair, a date-bounded aggregate nets the deltas, and one
  running sum over |distinct dates| rows (calendar-bounded, NOT
  corpus-bounded) yields the in-flight count; top-10 peak days out.

Both are pure integer/date arithmetic — no float-fold concerns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import pins
from ..tables import load
from . import query


# Gaps-and-islands without a join: for each user's ordered distinct
# active days, day − row_number is CONSTANT within a consecutive run —
# grouping by that anchor labels the islands. Shuffles: one distinct
# (user, day) aggregate, one user-partitioned window, one
# (user, anchor) count, one per-user max — all bounded by |user-days|.
# The reference has no streak analytics; this is the standard
# retention-adjacent shape its daily summaries feed into.
@query(
    "user_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    runs AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY d ASC) AS INTEGER) AS anchor
      FROM days
    ),
    islands AS (
      SELECT user_id, anchor, count(*) AS streak
      FROM runs GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(max(streak) AS BIGINT) AS longest_streak,
           CAST(sum(streak) AS BIGINT) AS n_active_days,
           count(*) AS n_streaks
    FROM islands GROUP BY user_id
    """,
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy(F.asc("d"))
    runs = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    islands = runs.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak")
    )
    return islands.groupBy("user_id").agg(
        F.max("streak").alias("longest_streak"),
        F.sum("streak").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


_PEAK_K = 10


# Sweep-line concurrency: an order line is "in flight" on day d when
# o_orderdate <= d < l_shipdate. Exploding each interval into a +1/-1
# boundary pair and netting per day makes the running sum's input
# |distinct dates| rows — calendar-bounded (~2.5k days for TPC-H
# regardless of SF), so the single ordered cumulative window is NOT a
# corpus-sized single-partition scan; the corpus-sized work is the
# fact-fact orders⋈lineitem join (key-partitioned) and the per-day
# delta aggregate, both shuffle-bounded and AQE-planned.
@query(
    "in_flight_lineitems_peak",
    oracle=f"""
    WITH bounds AS (
      SELECT o.o_orderdate AS d, 1 AS delta
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT l.l_shipdate AS d, -1 AS delta
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    daily AS (
      SELECT d, CAST(sum(delta) AS BIGINT) AS net FROM bounds GROUP BY d
    ),
    running AS (
      SELECT d, sum(net) OVER (ORDER BY d ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS in_flight
      FROM daily
    )
    SELECT d, CAST(in_flight AS BIGINT) AS in_flight FROM running
    ORDER BY in_flight DESC, d ASC LIMIT {_PEAK_K}
    """,
)
def in_flight_lineitems_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey, "inner"
    ).select("o_orderdate", "l_shipdate")
    # ONE join: each interval explodes map-side into its ±1 boundary
    # pair (a union of two selects would duplicate the fact-fact join
    # subtree — twice the shuffle at any scale)
    bounds = joined.select(
        F.explode(
            F.array(
                F.struct(F.col("o_orderdate").alias("d"), F.lit(1).alias("delta")),
                F.struct(F.col("l_shipdate").alias("d"), F.lit(-1).alias("delta")),
            )
        ).alias("b")
    ).select("b.d", "b.delta")
    daily = bounds.groupBy("d").agg(F.sum("delta").alias("net"))
    w = (
        Window.orderBy(F.asc("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = daily.withColumn("in_flight", F.sum("net").over(w))
    return (
        running.select("d", "in_flight")
        .orderBy(F.desc("in_flight"), F.asc("d"))
        .limit(_PEAK_K)
    )


_SSSP_SRC = 0
_SSSP_ROUNDS = 3


# Weighted shortest path over the co-purchase graph: edge weight =
# ceil(100 / support) — frequently co-bought parts are "close", rare
# pairings are far — and Bellman-Ford min-plus relaxation finds the
# cheapest ≤3-edge path from the seed part. Integer weights keep the
# semiring exact on both engines; the oracle's recursive CTE
# enumerates bounded paths and min-collapses them. The edge build is
# keyed on the ORDER (Σ basket² work, never parts²).
@query(
    "copurchase_cheapest_path",
    oracle=f"""
    WITH RECURSIVE items AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
    ),
    support AS (
      SELECT a.part AS src, b.part AS dst, count(*) AS s
      FROM items a JOIN items b ON a.okey = b.okey
      WHERE a.part <> b.part
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT src, dst, CAST(ceil(100.0 / s) AS BIGINT) AS w FROM support
    ),
    walk(node, cost, hop) AS (
      SELECT CAST({_SSSP_SRC} AS BIGINT), CAST(0 AS BIGINT), 0
      UNION
      SELECT edges.dst, walk.cost + edges.w, walk.hop + 1
      FROM walk JOIN edges ON edges.src = walk.node
      WHERE walk.hop < {_SSSP_ROUNDS}
    )
    SELECT node, min(cost) AS cost FROM walk GROUP BY node
    """,
)
def copurchase_cheapest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bellman_ford

    li = load(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    a = items.select(F.col("okey"), F.col("part").alias("src"))
    b = items.select(F.col("okey"), F.col("part").alias("dst"))
    support = (
        a.join(b, "okey")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    edges = pins.cache(support.select(
        "src",
        "dst",
        F.ceil(F.lit(100.0) / F.col("s")).cast("long").alias("w"),
    ))
    seed = spark.range(1).select(F.lit(_SSSP_SRC).cast("long").alias("node"))
    return bellman_ford(edges, seed, rounds=_SSSP_ROUNDS)


_ER_MAX_DIST = 4


# Entity resolution end-to-end: blocked Levenshtein candidate pairs
# (the similar_part_names shape) collapsed into canonical entity
# clusters by connected components — (a,b),(b,c) must land in ONE
# entity even when a,c were never compared. Node ids are min-partkey
# per name (integers, so the CC small-residue union-find fast path
# applies); the oracle closes the same edge set with a recursive CTE.
@query(
    "fuzzy_entity_clusters",
    oracle=f"""
    WITH RECURSIVE n AS (
      SELECT p_name, CAST(min(p_partkey) AS BIGINT) AS nid
      FROM part GROUP BY p_name
    ),
    b AS (SELECT p_name, nid, string_split(p_name, ' ')[-1] AS blk FROM n),
    pairs AS MATERIALIZED (
      SELECT a.nid AS id_a, c.nid AS id_b
      FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
      WHERE levenshtein(a.p_name, c.p_name) <= {_ER_MAX_DIST}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    walk AS (
      SELECT nid AS id, nid AS label FROM n
      UNION
      SELECT e.dst AS id, w.label FROM walk w JOIN edges e ON e.src = w.id
    )
    SELECT n.p_name AS name, CAST(min(w.label) AS BIGINT) AS cluster_id
    FROM n JOIN walk w ON w.id = n.nid
    GROUP BY n.p_name
    """,
)
def fuzzy_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairing goes through capped_block_join: within-block
    exact join additionally banded by name length (lossless for the
    Levenshtein radius), with a per-block size cap and MinHash-LSH
    fallback for oversized blocks — candidate pairs are bounded by
    cap²/2 per block instead of Θ(n²/|colors|) when the last-token
    blocking key's ~constant cardinality meets a growing corpus. At
    gate SFs every block ≤ 8 names, so the exact route (and the
    oracle's plain blocked join) is what runs."""
    from ..operators.dedup import capped_block_join, connected_components

    part = load(spark, sf_dir, "part")
    n = pins.cache(part.groupBy("p_name").agg(
        F.min("p_partkey").cast("long").alias("nid")
    ))
    blk = F.element_at(F.split(F.col("p_name"), " "), -1)
    names = n.select(
        F.col("nid"), F.col("p_name").alias("name"), blk.alias("blk")
    )
    pairs = (
        capped_block_join(names, max_len_diff=_ER_MAX_DIST)
        .filter(F.levenshtein(F.col("na"), F.col("nb")) <= _ER_MAX_DIST)
        .select("id_a", "id_b")
    )
    cc = connected_components(pairs, n.select("nid"), id_col="nid")
    return n.join(cc, "nid").select(
        F.col("p_name").alias("name"), "cluster_id"
    )


_TT_SPLIT = "TIMESTAMP '2024-01-16'"
_TT_SCALE = 100  # values scaled to exact integer hundredths


# Welch's two-sample t-test per event type between the first and
# second half of the month — "did this sensor's distribution SHIFT,
# and is the shift significant?" — the hypothesis-testing companion
# to the PSI/CUSUM drift monitors. All moments come from ONE
# conditional aggregate over integer-scaled values (exact, fold-free);
# t and the Welch–Satterthwaite df are scalar expressions over those
# exact sums, identical trees on both engines.
@query(
    "value_welch_ttest",
    oracle=f"""
    WITH m AS (
      SELECT event_type,
             CAST(sum(CASE WHEN ts < {_TT_SPLIT} THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN ts < {_TT_SPLIT}
                      THEN CAST(round(value * {_TT_SCALE}) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN ts < {_TT_SPLIT}
                      THEN CAST(round(value * {_TT_SCALE}) AS BIGINT)
                           * CAST(round(value * {_TT_SCALE}) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS ss1,
             CAST(sum(CASE WHEN ts >= {_TT_SPLIT} THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN ts >= {_TT_SPLIT}
                      THEN CAST(round(value * {_TT_SCALE}) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS s2,
             CAST(sum(CASE WHEN ts >= {_TT_SPLIT}
                      THEN CAST(round(value * {_TT_SCALE}) AS BIGINT)
                           * CAST(round(value * {_TT_SCALE}) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS ss2
      FROM events GROUP BY event_type
    ),
    g AS (
      SELECT event_type, n1, n2,
             CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
             (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) / n1 AS se1,
             (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1) / n2 AS se2
      FROM m WHERE n1 >= 2 AND n2 >= 2
    )
    SELECT event_type, n1, n2,
           round((m1 - m2) / {_TT_SCALE}, 4) AS mean_shift,
           round((m1 - m2) / sqrt(se1 + se2), 4) AS t_stat,
           round((se1 + se2) * (se1 + se2)
                 / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 2) AS welch_df
    FROM g
    """,
)
def value_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    split = F.to_timestamp(F.lit("2024-01-16"))
    xi = F.round(F.col("value") * _TT_SCALE).cast("bigint")
    first = F.col("ts") < split
    m = ev.groupBy("event_type").agg(
        F.sum(F.when(first, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(first, xi).otherwise(0)).cast("bigint").alias("s1"),
        F.sum(F.when(first, xi * xi).otherwise(0)).cast("bigint").alias("ss1"),
        F.sum(F.when(~first, 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum(F.when(~first, xi).otherwise(0)).cast("bigint").alias("s2"),
        F.sum(F.when(~first, xi * xi).otherwise(0)).cast("bigint").alias("ss2"),
    )
    g = m.filter((F.col("n1") >= 2) & (F.col("n2") >= 2)).select(
        "event_type",
        "n1",
        "n2",
        (F.col("s1").cast("double") / F.col("n1")).alias("m1"),
        (F.col("s2").cast("double") / F.col("n2")).alias("m2"),
        (
            (F.col("ss1").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n1"))
            / (F.col("n1") - 1)
            / F.col("n1")
        ).alias("se1"),
        (
            (F.col("ss2").cast("double") - F.col("s2").cast("double") * F.col("s2") / F.col("n2"))
            / (F.col("n2") - 1)
            / F.col("n2")
        ).alias("se2"),
    )
    se = F.col("se1") + F.col("se2")
    return g.select(
        "event_type",
        "n1",
        "n2",
        F.round((F.col("m1") - F.col("m2")) / _TT_SCALE, 4).alias("mean_shift"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se), 4).alias("t_stat"),
        F.round(
            (se * se)
            / (
                F.col("se1") * F.col("se1") / (F.col("n1") - 1)
                + F.col("se2") * F.col("se2") / (F.col("n2") - 1)
            ),
            2,
        ).alias("welch_df"),
    )


# Difference-in-differences: the 2×2 (cohort × period) causal
# estimator — treated cohort = odd user_ids, post period = second
# half of the month; DiD = (treated post − treated pre) − (control
# post − control pre). All four cell means come from ONE conditional
# aggregate of integer-scaled exact sums; the estimate is a scalar
# expression over them (identical trees both engines). 1 row out.
@query(
    "did_value_estimate",
    oracle=f"""
    WITH cells AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS treated,
             CASE WHEN ts >= {_TT_SPLIT} THEN 1 ELSE 0 END AS post,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * {_TT_SCALE}) AS BIGINT)) AS BIGINT) AS s
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT
        sum(CASE WHEN treated = 1 AND post = 1
                 THEN CAST(s AS DOUBLE) / n ELSE 0 END) AS t1,
        sum(CASE WHEN treated = 1 AND post = 0
                 THEN CAST(s AS DOUBLE) / n ELSE 0 END) AS t0,
        sum(CASE WHEN treated = 0 AND post = 1
                 THEN CAST(s AS DOUBLE) / n ELSE 0 END) AS c1,
        sum(CASE WHEN treated = 0 AND post = 0
                 THEN CAST(s AS DOUBLE) / n ELSE 0 END) AS c0,
        CAST(sum(n) AS BIGINT) AS n_total
      FROM cells
    )
    SELECT n_total,
           round((t1 - t0) / {_TT_SCALE}, 4) AS treated_delta,
           round((c1 - c0) / {_TT_SCALE}, 4) AS control_delta,
           round(((t1 - t0) - (c1 - c0)) / {_TT_SCALE}, 4) AS did
    FROM m
    """,
)
def did_value_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    split = F.to_timestamp(F.lit("2024-01-16"))
    xi = F.round(F.col("value") * _TT_SCALE).cast("bigint")
    cells = ev.groupBy(
        (F.col("user_id") % 2).cast("bigint").alias("treated"),
        F.when(F.col("ts") >= split, 1).otherwise(0).alias("post"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xi).cast("bigint").alias("s"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    cell = lambda t, p: F.sum(  # noqa: E731
        F.when((F.col("treated") == t) & (F.col("post") == p), mean).otherwise(
            0.0
        )
    )
    m = cells.agg(
        cell(1, 1).alias("t1"),
        cell(1, 0).alias("t0"),
        cell(0, 1).alias("c1"),
        cell(0, 0).alias("c0"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    return m.select(
        "n_total",
        F.round((F.col("t1") - F.col("t0")) / _TT_SCALE, 4).alias("treated_delta"),
        F.round((F.col("c1") - F.col("c0")) / _TT_SCALE, 4).alias("control_delta"),
        F.round(
            ((F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0")))
            / _TT_SCALE,
            4,
        ).alias("did"),
    )


# Lag-1 autocorrelation per event type (the ACF[1] of each sensor
# family): Pearson correlation over consecutive-reading pairs within
# each user's series, pooled per type. The lag pairs come from ONE
# (user)-partitioned sort window (bounded partitions — never a
# per-type global sort); every Pearson term is an exact integer-scaled
# sum, so the coefficient is a scalar expression over exact BIGINTs.
@query(
    "value_autocorr_lag1",
    oracle=f"""
    WITH p AS (
      SELECT event_type,
             CAST(round(value * {_TT_SCALE}) AS BIGINT) AS x,
             lag(CAST(round(value * {_TT_SCALE}) AS BIGINT)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY epoch_us(ts), event_id) AS y
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM p WHERE y IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 4) AS acf1
    FROM s WHERE n >= 2
    """,
)
def value_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    xi = F.round(F.col("value") * _TT_SCALE).cast("bigint")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc("ts_ns"), F.asc("event_id")
    )
    p = ev.select(
        "event_type", xi.alias("x"), F.lag(xi).over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    s = p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    denx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    deny = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return (
        s.filter(F.col("n") >= 2)
        .select("event_type", "n", F.round(num / F.sqrt(denx * deny), 4).alias("acf1"))
    )
