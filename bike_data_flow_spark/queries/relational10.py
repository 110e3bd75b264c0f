"""Tenth wave: deterministic per-group sampling and trailing EWMA.

- group_hash_sample: k rows per group chosen by md5-hash order — the
  per-stratum "uniform" sample that is stable across retries,
  partitions, and engines (rand()-free sampleBy). One window shuffle;
  rank filter rewrites to map-side WindowGroupLimit.
- user_value_ewma: exponentially-weighted moving average over each
  user's trailing 8 events, spelled as an explicit lag-term CHAIN
  (t0 + t1·α + … + t7·α⁷) — an expression tree, not an aggregate, so
  the IEEE addition order is pinned by construction and both engines
  produce bit-identical doubles before rounding. One (user, ts) sort
  window serves all 8 lags.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import pins
from ..tables import load
from . import query

_GS_K = 3
_EWMA_ALPHA = 0.5
_EWMA_DEPTH = 8


@query(
    "group_hash_sample",
    oracle=f"""
    SELECT o_custkey, o_orderkey
    FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY md5('gs|' || CAST(o_orderkey AS VARCHAR)) ASC,
                        o_orderkey ASC
             ) AS rn
      FROM orders
    )
    WHERE rn <= {_GS_K}
    """,
)
def group_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample: hash order stands in for a
    uniform draw, reproducibly. The rank filter plans as map-side
    WindowGroupLimit — at scale only ≤k rows per group per mapper
    reach the shuffle."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc(F.md5(F.concat(F.lit("gs|"), F.col("o_orderkey").cast("string")))),
        F.asc("o_orderkey"),
    )
    return (
        orders.select("o_custkey", "o_orderkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _GS_K)
        .drop("rn")
    )


def _ewma_terms_sql() -> tuple[str, str]:
    nums, dens = [], []
    for d in range(_EWMA_DEPTH):
        w = _EWMA_ALPHA**d
        lagv = f"lag(round(value, 2), {d}) OVER w" if d else "round(value, 2)"
        nums.append(f"coalesce({lagv} * {w!r}, 0.0)")
        dens.append(f"CASE WHEN {lagv} IS NOT NULL THEN {w!r} ELSE 0.0 END")
    return " + ".join(nums), " + ".join(dens)


@query(
    "user_value_ewma",
    oracle=f"""
    SELECT event_id, user_id,
           round(({_ewma_terms_sql()[0]}) / ({_ewma_terms_sql()[1]}), 4) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-8 EWMA of event values per user. The weighted sum is a
    fixed-shape expression chain over lags (never a frame aggregate),
    so cross-engine float parity holds with no margin tricks; early
    rows renormalize over the lags that exist."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    num = F.lit(0.0)
    den = F.lit(0.0)
    # build the chain in the SAME order as the SQL: d ascending,
    # left-assoc additions
    terms = []
    for d in range(_EWMA_DEPTH):
        weight = _EWMA_ALPHA**d
        base = F.round(F.col("value"), 2)
        lagv = F.lag(base, d).over(w) if d else base
        terms.append((lagv, weight))
    num = F.coalesce(terms[0][0] * F.lit(terms[0][1]), F.lit(0.0))
    den = F.when(terms[0][0].isNotNull(), F.lit(terms[0][1])).otherwise(F.lit(0.0))
    for lagv, weight in terms[1:]:
        num = num + F.coalesce(lagv * F.lit(weight), F.lit(0.0))
        den = den + F.when(lagv.isNotNull(), F.lit(weight)).otherwise(F.lit(0.0))
    return ev.select(
        "event_id", "user_id", F.round(num / den, 4).alias("ewma")
    )


# MATCH_RECOGNIZE-lite: each user's event history compresses to a
# symbol string (first letter of the type, ts order) and CEP patterns
# become plain regexes over it. 'v+c' = a view-run converting to a
# click; 'c[^p]*p' = click eventually followed by purchase.
_SEQ_PATTERNS = {"view_burst_click": "v+c", "click_to_purchase": "c[^p]*p"}


@query(
    "event_regex_matches",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts ASC, event_id ASC) AS s
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           {", ".join(
             f"len(regexp_extract_all(s, '{p}')) AS {name}"
             for name, p in _SEQ_PATTERNS.items()
           )}
    FROM seq
    """,
)
def event_regex_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite complex-event patterns: per-user event
    histories become symbol strings (one char per event, time order),
    and sequence patterns become ordinary regex counts — the batch
    complement of the streaming CEP funnel, with full regex power
    (alternation, negation, runs) instead of a fixed step list.

    Non-overlapping leftmost match semantics on BOTH engines (RE2 and
    java.util.regex agree for these patterns). One user-keyed
    aggregate; the symbol string is bounded by events-per-user."""
    ev = load(spark, sf_dir, "events")
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("ts_ns"), F.col("event_id"),
                F.substring("event_type", 1, 1).alias("ch"),
            )
        )
    )
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(ordered, lambda x: x["ch"]), ""
        ).alias("s")
    )
    return seq.select(
        "user_id",
        *[
            F.size(F.regexp_extract_all(F.col("s"), F.lit(p), F.lit(0))).alias(name)
            for name, p in _SEQ_PATTERNS.items()
        ],
    )


_MB_MIN_SUPPORT = 3


@query(
    "copurchase_pairs",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
    ),
    n_orders AS (SELECT CAST(count(DISTINCT okey) AS DOUBLE) AS n FROM items),
    part_counts AS (SELECT part, count(*) AS c FROM items GROUP BY part),
    pair_counts AS (
      SELECT a.part AS part_a, b.part AS part_b, count(*) AS c_ab
      FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
      GROUP BY a.part, b.part
    )
    SELECT part_a, part_b, c_ab,
           round((c_ab / n) / ((ca.c / n) * (cb.c / n)), 4) AS lift
    FROM pair_counts
    JOIN part_counts ca ON ca.part = part_a
    JOIN part_counts cb ON cb.part = part_b
    CROSS JOIN n_orders
    WHERE c_ab >= {_MB_MIN_SUPPORT}
    """,
)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pairwise association: parts co-occurring in ≥
    min_support orders, with lift = P(ab)/(P(a)·P(b)) — the 2-itemset
    core of Apriori/FP-growth. ONE shuffle builds sorted per-order
    basket arrays (collect_set dedupes inside the groupBy — no
    separate distinct exchange); pairs then EXPLODE MAP-SIDE from each
    basket (i<j over the sorted array), replacing the former
    basket-keyed self-join — pair work is still Σ basket²/2 over
    orders, never parts², but without shuffling the items twice into
    a join (measured 1.37 s → 0.89 s at sf0.1). A pathological
    mega-basket is the skew knob a basket-size cap would bound.
    Part-frequency joins broadcast at catalog scale."""
    li = load(spark, sf_dir, "lineitem")
    # cached: three consumers (order count, part counts, pair explode)
    baskets = pins.cache(
        li.groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("basket"))
    )
    n_orders = baskets.agg(F.count(F.lit(1)).cast("double").alias("n"))
    part_counts = (
        baskets.select(F.explode("basket").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # i<j pairs via two chained generators (posexplode + slice/explode):
    # generators stay in codegen, unlike a nested transform/flatten
    # lambda building the struct-pair array interpreted (0.69 s → 0.47 s)
    exploded = baskets.select(
        F.col("basket"), F.posexplode("basket").alias("i", "part_a")
    )
    pair_counts = (
        exploded.select(
            "part_a",
            F.explode(F.expr("slice(basket, i + 2, size(basket))")).alias(
                "part_b"
            ),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= _MB_MIN_SUPPORT)
    )
    ca = part_counts.select(F.col("part").alias("part_a"), F.col("c").alias("_ca"))
    cb = part_counts.select(F.col("part").alias("part_b"), F.col("c").alias("_cb"))
    return (
        pair_counts.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "c_ab",
            F.round(
                (F.col("c_ab") / F.col("n"))
                / ((F.col("_ca") / F.col("n")) * (F.col("_cb") / F.col("n"))),
                4,
            ).alias("lift"),
        )
    )


# PSI drift bins: fixed [0, 500) range in 10 equal bins (deterministic
# — quantile-derived bins would couple the metric to its own data);
# reference window = first half of the month, comparison = second.
_PSI_BINS = 10
_PSI_LO, _PSI_HI = 0.0, 500.0
_PSI_SPLIT = "2024-01-16"
_PSI_EPS = 1e-6  # empty-bin smoothing, same literal both engines


@query(
    "value_psi_drift",
    oracle=f"""
    WITH binned AS (
      SELECT CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' THEN 'ref' ELSE 'cur' END
               AS win,
             least(CAST(floor((value - {_PSI_LO})
                              / (({_PSI_HI} - {_PSI_LO}) / {_PSI_BINS}))
                        AS BIGINT), {_PSI_BINS - 1}) AS bin
      FROM events WHERE value IS NOT NULL
    ),
    counts AS (
      SELECT bin,
             sum(CASE WHEN win = 'ref' THEN 1 ELSE 0 END) AS n_ref,
             sum(CASE WHEN win = 'cur' THEN 1 ELSE 0 END) AS n_cur
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(sum(n_ref) AS DOUBLE) AS tr,
                   CAST(sum(n_cur) AS DOUBLE) AS tc FROM counts)
    SELECT bin,
           round(n_ref / tr, 6) AS p_ref,
           round(n_cur / tc, 6) AS p_cur,
           round((n_cur / tc - n_ref / tr)
                 * ln((n_cur / tc + {_PSI_EPS}) / (n_ref / tr + {_PSI_EPS})),
                 6) + 0.0 AS psi_term
    FROM counts, tot
    """,
)
def value_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift of the event value distribution
    between the month's first and second half: per-bin (p_ref, p_cur)
    and the PSI contribution (p_cur−p_ref)·ln(p_cur/p_ref), smoothed
    against empty bins — the ML-ops distribution monitor (Σ psi_term
    > 0.2 is the conventional alarm). One scan, one bins-sized
    aggregate; fixed equal-width bins keep the metric decoupled from
    its own data (quantile bins would drift with the drift)."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    width = (_PSI_HI - _PSI_LO) / _PSI_BINS
    binned = ev.select(
        F.when(F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"), "ref")
        .otherwise("cur")
        .alias("win"),
        F.least(
            F.floor((F.col("value") - _PSI_LO) / width).cast("long"),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("win") == "ref", 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("win") == "cur", 1).otherwise(0)).alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").cast("double").alias("tr"),
        F.sum("n_cur").cast("double").alias("tc"),
    )
    pr = F.col("n_ref") / F.col("tr")
    pc = F.col("n_cur") / F.col("tc")
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.round(pr, 6).alias("p_ref"),
        F.round(pc, 6).alias("p_cur"),
        (
            F.round((pc - pr) * F.log((pc + _PSI_EPS) / (pr + _PSI_EPS)), 6)
            + F.lit(0.0)
        ).alias("psi_term"),
    )


@query(
    "referential_integrity_audit",
    oracle="""
    SELECT 'orders.o_custkey->customer' AS fk, count(*) AS n_rows,
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders', count(*),
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    UNION ALL
    SELECT 'lineitem.l_partkey->part', count(*),
           CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier', count(*),
           CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
    UNION ALL
    SELECT 'customer.c_nationkey->nation', count(*),
           CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit over the star schema — the referential
    health check a warehouse runs after every load. Each FK is one
    left join + conditional count; dimension sides broadcast, the two
    fact-fact legs shuffle on their keys (AQE-planned). At 100 TB the
    orphan COUNT (not the orphan rows) is the steady-state monitor;
    the same joins with a filter materialize the quarantine set."""
    def leg(fact, fcol, dim, dcol, name):
        f = load(spark, sf_dir, fact)
        d = load(spark, sf_dir, dim).select(F.col(dcol).alias("_dk"))
        return (
            f.join(d, f[fcol] == F.col("_dk"), "left")
            .agg(
                F.lit(name).alias("fk"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(F.col("_dk").isNull(), 1).otherwise(0)
                ).alias("n_orphans"),
            )
        )

    legs = [
        leg("orders", "o_custkey", "customer", "c_custkey",
            "orders.o_custkey->customer"),
        leg("lineitem", "l_orderkey", "orders", "o_orderkey",
            "lineitem.l_orderkey->orders"),
        leg("lineitem", "l_partkey", "part", "p_partkey",
            "lineitem.l_partkey->part"),
        leg("lineitem", "l_suppkey", "supplier", "s_suppkey",
            "lineitem.l_suppkey->supplier"),
        leg("customer", "c_nationkey", "nation", "n_nationkey",
            "customer.c_nationkey->nation"),
    ]
    out = legs[0]
    for more in legs[1:]:
        out = out.unionAll(more)
    return out


_SEAS_SIGMA = 3.0


@query(
    "seasonal_value_outliers",
    oracle=f"""
    WITH pts AS (
      SELECT event_id, user_id, value,
             dayofweek(ts) + 1 AS dow, hour(ts) AS hod,
             CAST(round(value * 100) AS BIGINT) AS xi
      FROM events WHERE value IS NOT NULL
    ),
    stats AS (
      SELECT dow, hod,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xi) AS BIGINT) AS sx,
             CAST(sum(xi * xi) AS BIGINT) AS sxx
      FROM pts GROUP BY dow, hod
    ),
    enriched AS (
      SELECT p.event_id, p.user_id, p.value, p.dow, p.hod,
             CAST(s.sx AS DOUBLE) / s.n / 100 AS mu,
             CASE WHEN s.n > 1
                  THEN sqrt(CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE)
                            / s.n / (s.n - 1)) / 100
                  ELSE 0.0 END AS sigma
      FROM pts p JOIN stats s ON s.dow = p.dow AND s.hod = p.hod
    )
    SELECT event_id, user_id, dow, hod,
           round(value, 2) AS value,
           round(mu, 4) AS expected,
           round(sigma, 4) AS sigma
    FROM enriched
    WHERE abs(value - mu) > {_SEAS_SIGMA} * sigma AND sigma > 0
    """,
)
def seasonal_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: each event scored against
    its (day-of-week, hour) cohort's mean ± 3σ — the time-of-day-aware
    outlier gate plain z-scores miss. Parity pattern: values scale to
    integer centi-units so the count/sum/sum-of-squares are EXACT and
    order-independent; mean and σ derive from those integers in
    identical IEEE ops on both engines, so the >3σ cut never flickers.
    One seasonal-cell aggregate (≤ 7×24 rows, broadcast back)."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pts = ev.select(
        "event_id",
        "user_id",
        "value",
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hod"),
        F.round(F.col("value") * 100).cast("bigint").alias("xi"),
    )
    stats = pts.groupBy("dow", "hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xi").alias("sx"),
        F.sum(F.col("xi") * F.col("xi")).alias("sxx"),
    )
    mu = F.col("sx").cast("double") / F.col("n") / 100
    sigma = F.when(
        F.col("n") > 1,
        F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            / F.col("n")
            / (F.col("n") - 1)
        )
        / 100,
    ).otherwise(F.lit(0.0))
    enriched = pts.join(
        F.broadcast(stats.select("dow", "hod", mu.alias("mu"), sigma.alias("sigma"))),
        ["dow", "hod"],
    )
    return enriched.filter(
        (F.abs(F.col("value") - F.col("mu")) > _SEAS_SIGMA * F.col("sigma"))
        & (F.col("sigma") > 0)
    ).select(
        "event_id",
        "user_id",
        "dow",
        "hod",
        F.round("value", 2).alias("value"),
        F.round("mu", 4).alias("expected"),
        F.round("sigma", 4).alias("sigma"),
    )


_KANON_K = 5


@query(
    "k_anonymity_audit",
    oracle=f"""
    WITH cells AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             count(*) AS n
      FROM customer
      GROUP BY 1, 2, 3
    ),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM cells)
    SELECT c_nationkey, c_mktsegment, bal_band, n,
           n < {_KANON_K} AS violates_k,
           round(n / t, 6) AS cell_frac
    FROM cells, tot
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifier cells (nation ×
    segment × coarse balance band): cells with fewer than k members
    re-identify their rows and need suppression/generalization before
    release — the privacy-compliance scan a data-sharing pipeline
    runs pre-export. One grouping-key aggregate; the violating-cell
    list is the suppression worklist."""
    c = load(spark, sf_dir, "customer")
    cells = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").cast("double").alias("t"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "c_nationkey",
        "c_mktsegment",
        "bal_band",
        "n",
        (F.col("n") < _KANON_K).alias("violates_k"),
        F.round(F.col("n") / F.col("t"), 6).alias("cell_frac"),
    )


@query(
    "conversion_latency_quantiles",
    oracle="""
    WITH c AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'purchase'),
    paired AS (
      SELECT p.user_id, p.event_id,
             epoch_us(p.ts) - max(epoch_us(c.ts)) AS latency_us
      FROM p JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
      GROUP BY p.user_id, p.event_id, epoch_us(p.ts)
    ),
    seg AS (SELECT c_custkey, c_mktsegment FROM customer)
    SELECT c_mktsegment,
           count(*) AS n_conversions,
           round(quantile_cont(latency_us / 1000000.0, 0.5), 4) AS p50_s,
           round(quantile_cont(latency_us / 1000000.0, 0.9), 4) AS p90_s
    FROM paired JOIN seg ON c_custkey = user_id
    GROUP BY c_mktsegment
    """,
)
def conversion_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion latency percentiles per customer
    segment — the funnel-health metric (how long users deliberate,
    segmented). Each purchase pairs with its user's LATEST preceding
    click (an as-of max, one grouped aggregate over the time-ordered
    pair join); percentiles run per segment after a broadcast
    dimension join."""
    ev = load(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts_ns").alias("c_ts_ns")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts_ns"
    )
    paired = (
        p.join(c, (F.col("c_user") == F.col("user_id"))
               & (F.col("c_ts_ns") <= F.col("ts_ns")))
        .groupBy("user_id", "event_id", "ts_ns")
        .agg(
            ((F.col("ts_ns") - F.max("c_ts_ns")) / F.lit(1000)).alias(
                "latency_us"
            )
        )
    )
    seg = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        paired.join(F.broadcast(seg), "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(
                F.percentile(F.col("latency_us") / 1_000_000.0, F.lit(0.5)), 4
            ).alias("p50_s"),
            F.round(
                F.percentile(F.col("latency_us") / 1_000_000.0, F.lit(0.9)), 4
            ).alias("p90_s"),
        )
    )


@query(
    "weekly_growth_rates",
    oracle="""
    WITH w AS (
      SELECT event_type,
             epoch_ms(date_trunc('week', ts)) AS week_ms,
             count(*) AS n,
             round(sum(value), 2) AS total_value
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, week_ms, n, total_value,
           round(CAST(n AS DOUBLE)
                 / lag(n) OVER (PARTITION BY event_type ORDER BY week_ms)
                 - 1, 4) AS wow_growth
    FROM w
    """,
)
def weekly_growth_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type — the BI trend table
    (NULL growth on each series' first week). One (type, week)
    aggregate + a lag window sharing its partitioning."""
    ev = load(spark, sf_dir, "events")
    w = ev.groupBy(
        "event_type",
        F.unix_millis(F.date_trunc("week", F.col("ts"))).alias("week_ms"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    win = Window.partitionBy("event_type").orderBy("week_ms")
    return w.select(
        "event_type",
        "week_ms",
        "n",
        "total_value",
        F.round(F.col("n").cast("double") / F.lag("n").over(win) - 1, 4).alias(
            "wow_growth"
        ),
    )


_BFS_SRC = 0
_BFS_MAX_HOPS = 3


@query(
    "copurchase_bfs_hops",
    oracle=f"""
    WITH RECURSIVE items AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT a.part AS src, b.part AS dst
      FROM items a JOIN items b ON a.okey = b.okey
      WHERE a.part <> b.part
    ),
    walk(node, hop) AS (
      SELECT CAST({_BFS_SRC} AS BIGINT), 0
      UNION
      SELECT edges.dst, walk.hop + 1
      FROM walk JOIN edges ON edges.src = walk.node
      WHERE walk.hop < {_BFS_MAX_HOPS}
    )
    SELECT node, min(hop) AS hops FROM walk GROUP BY node
    """,
)
def copurchase_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS over the co-purchase graph (parts sharing an order
    are adjacent) from a seed part — "how far is everything from this
    product", the reachability primitive behind recommendation-radius
    and taint-propagation questions. The edge build is keyed on the
    ORDER (Σ basket² work, the market-basket shape — never parts²);
    each BFS round is one frontier⋈edges equi-join, frontier-bounded.
    The oracle's recursive CTE uses UNION (dedup) so its row count
    stays node-bounded; min(hop) collapses its multi-path visits to
    the same min-hop semantics the engine's first-visit invariant
    gives directly."""
    from ..operators.graph import bfs_hops

    li = load(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    a = items.select("okey", F.col("part").alias("src"))
    b = items.select("okey", F.col("part").alias("dst"))
    # cached: every BFS round probes this edge list
    edges = pins.cache(
        a.join(b, "okey")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    src = li.sparkSession.range(_BFS_SRC, _BFS_SRC + 1).select(
        F.col("id").alias("node")
    )
    return bfs_hops(edges, src, _BFS_MAX_HOPS)


_PR_D = 0.85
_PR_ITERS = 3
_PR_SCALE = 1_000_000_000_000
# exact repr of the Python double 1.0-0.85, so both engines parse the
# SAME teleport constant (a "0.15" SQL literal is a DIFFERENT double)
_PR_TELEPORT = repr(1.0 - _PR_D)


def _pagerank_rounds() -> str:
    """Integer-state rounds (mirrors operators/graph.pagerank): rank
    state is rank×SCALE as BIGINT; no multi-digit double rounding ever
    touches state (engines implement round(x, 12) differently — the
    sf0.01 boundary divergence this replaced)."""
    parts = []
    prev = "p0"
    for t in range(1, _PR_ITERS + 1):
        parts.append(f"""
    r{t} AS (
      SELECT e.dst AS node,
             CAST(sum(CAST(round({_PR_D!r} * p.ps / p.deg) AS BIGINT))
                  AS BIGINT) AS s
      FROM edges e JOIN {prev} p ON p.node = e.src
      GROUP BY 1
    ),
    p{t} AS (
      SELECT r{t}.node, deg.deg,
             CAST(round({_PR_TELEPORT} * CAST({_PR_SCALE} AS DOUBLE) / n.n)
                  AS BIGINT) + r{t}.s AS ps
      FROM r{t} JOIN deg ON deg.node = r{t}.node CROSS JOIN n
    )""")
        prev = f"p{t}"
    return ",".join(parts)


@query(
    "copurchase_pagerank",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT a.part AS src, b.part AS dst
      FROM items a JOIN items b ON a.okey = b.okey
      WHERE a.part <> b.part
    ),
    deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
    n AS (SELECT count(*) AS n FROM deg),
    p0 AS (
      SELECT node, deg,
             CAST(round(CAST({_PR_SCALE} AS DOUBLE) / n.n) AS BIGINT) AS ps
      FROM deg CROSS JOIN n
    ),{_pagerank_rounds()}
    SELECT node, ps AS pr_scaled,
           CAST(ps AS DOUBLE) / CAST({_PR_SCALE} AS DOUBLE) AS pagerank
    FROM p{_PR_ITERS}
    """,
    bench=True,
)
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetric co-purchase graph — which products
    sit at the center of the purchasing network (the recommender-
    centrality companion to lift and BFS radius). Fixed 3 power-
    iteration rounds; the oracle unrolls them into CTE chains and the
    integer-scaled contribution sums make every round exact and
    fold-order-free on both engines. Each round is one edges⋈ranks
    equi-join + one node-bounded partial agg (operators/graph.py)."""
    from ..operators.graph import pagerank

    li = load(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    a = items.select("okey", F.col("part").alias("src"))
    b = items.select("okey", F.col("part").alias("dst"))
    edges = pins.cache(
        a.join(b, "okey")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return pagerank(edges, damping=_PR_D, iters=_PR_ITERS)


# ONE dialect-portable SQL text executed verbatim by BOTH engines —
# Spark 4's recursive-CTE surface (SPARK-24497) against DuckDB's.
# The walked graph is the NATION-level trade network (who supplies
# whom), so the node set is a fixed-size dimension: UNION ALL path
# enumeration is ≤ |nations|^hops at ANY scale factor. (The original
# spelling walked the part-level co-purchase graph; a testdata refresh
# made its path count cross Spark's 1M recursion-row guard at sf0.01 —
# UNION-dedup recursion, which bounds rows, is UNION_NOT_SUPPORTED_IN_
# RECURSIVE_CTE in Spark 4.1, so boundedness must come from the graph.
# Corpus-scale traversals stay with the operator spelling,
# copurchase_bfs_hops, whose visited-set anti-join prunes paths.)
_RCTE_SQL = f"""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS src,
                      CAST(s.s_nationkey AS BIGINT) AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
    ),
    walk(node, hop) AS (
      SELECT CAST({_BFS_SRC} AS BIGINT), 0
      UNION ALL
      SELECT edges.dst, walk.hop + 1
      FROM walk JOIN edges ON edges.src = walk.node
      WHERE walk.hop < {_BFS_MAX_HOPS}
    )
    SELECT node, min(hop) AS hops FROM walk GROUP BY node
"""


@query("recursive_sql_bfs", oracle=_RCTE_SQL)
def recursive_sql_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE BFS over the nation trade graph: the IDENTICAL
    SQL text (WITH RECURSIVE, Spark 4) runs verbatim on both engines —
    pinning that the engine's recursive SQL dialect is DuckDB-portable.
    UNION ALL recursion is bounded by the hop guard TIMES the
    fixed-size node set (≤ 25^3 paths regardless of SF); min(hop)
    collapses multi-path visits. For corpus-scale graphs prefer the
    operator (bfs_hops: visited-set anti-join prunes paths — plain
    UNION ALL recursion cannot)."""
    for t in ("lineitem", "orders", "customer", "supplier"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_RCTE_SQL)


@query(
    "winsorized_value_stats",
    oracle="""
    WITH bounds AS (
      SELECT event_type,
             round(quantile_cont(value, 0.05), 4) AS lo,
             round(quantile_cont(value, 0.95), 4) AS hi
      FROM events GROUP BY event_type
    ),
    clamped AS (
      SELECT e.event_type,
             round(least(greatest(e.value, b.lo), b.hi), 4) AS w,
             CAST(e.value < b.lo AS INT) AS is_lo,
             CAST(e.value > b.hi AS INT) AS is_hi,
             b.lo, b.hi
      FROM events e JOIN bounds b USING (event_type)
    )
    SELECT event_type,
           count(*) AS n,
           CAST(sum(is_lo) AS BIGINT) AS n_clamped_low,
           CAST(sum(is_hi) AS BIGINT) AS n_clamped_high,
           min(lo) AS lo, min(hi) AS hi,
           round(CAST(sum(CAST(w AS DECIMAL(30,6))) AS DOUBLE) / count(*), 4)
             AS winsor_mean
    FROM clamped GROUP BY event_type
    """,
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust scaling: clamp each event's value to its
    type's [p05, p95] band and report the tail-trimmed mean — the
    outlier-insensitive statistic feeding normalization and anomaly
    baselines. The percentile boundaries come from ONE type-sized
    aggregate broadcast back into a map-side clamp (no sort of the
    fact table); bounds are pre-rounded so both engines clamp on the
    identical double, and the winsorized sum rides DECIMAL for
    fold-order-free parity."""
    ev = load(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.05)), 4).alias("lo"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("hi"),
    )
    j = ev.join(F.broadcast(bounds), "event_type")
    w = F.round(F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")), 4)
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("value") < F.col("lo")).cast("int")).alias("n_clamped_low"),
        F.sum((F.col("value") > F.col("hi")).cast("int")).alias("n_clamped_high"),
        F.min("lo").alias("lo"),
        F.min("hi").alias("hi"),
        F.round(
            F.sum(w.cast("decimal(30,6)")).cast("double") / F.count(F.lit(1)), 4
        ).alias("winsor_mean"),
    )
