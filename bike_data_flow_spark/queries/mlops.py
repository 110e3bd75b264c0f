"""Distributed classifier training/scoring queries (operators/ml.py).

The oracle unrolls the full gradient-descent training into CTEs (the
same technique as the k-means and BPE oracles): w0 starts at zero,
each round's CTE computes the round-6 gradient update from the feature
CTE, and the final select scores every doc with the learned weights —
so DuckDB *trains the same classifier* and the value hash checks the
whole optimization, not just a frozen scoring pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import ml as M
from ..operators import pins
from ..tables import load
from .textops import _sql_hash
from . import query

_B = M.LOGREG_BUCKETS
_ITERS = M.LOGREG_ITERS
_LR = M.LOGREG_LR
_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"


def _feature_cte() -> str:
    bucket = _sql_hash("tok") + f" % {_B}"
    xs = ",\n             ".join(
        f"sum(CASE WHEN {bucket} = {b} THEN 1 ELSE 0 END)"
        f" / count(*) AS x{b}"
        for b in range(_B)
    )
    return f"""f AS (
      SELECT doc_id, y,
             {xs}
      FROM (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
               unnest({_TOKS}) AS tok
        FROM documents
      )
      GROUP BY doc_id, y
    )"""


def _z_sql(prefix: str) -> str:
    """w0 + w1*x0 + ... folded left-to-right in ascending bucket order
    (must match operators/ml._z_expr exactly)."""
    terms = [f"{prefix}.w0"] + [
        f"{prefix}.w{b + 1} * f.x{b}" for b in range(_B)
    ]
    return " + ".join(terms)


def _p_sql(prefix: str) -> str:
    return f"round(1.0 / (1.0 + exp(-({_z_sql(prefix)}))), 6)"


def _train_ctes() -> list[str]:
    ctes = [_feature_cte()]
    # round 1 from zero weights: z = 0, p = round(1/(1+exp(0)),6) = 0.5
    prev = None
    for t in range(1, _ITERS + 1):
        p = "0.5" if prev is None else _p_sql(prev)
        src = "f" if prev is None else f"f, {prev}"
        # prev-round weights appear OUTSIDE aggregates in an aggregate
        # query; any_value() over the 1-row CTE keeps DuckDB's binder
        # happy without changing the value
        pw = (
            (lambda i: "0.0")
            if prev is None
            else (lambda i, _p=prev: f"any_value({_p}.w{i})")
        )
        cols = [
            f"round({pw(0)} + {_LR} * round(sum(f.y - {p}) / count(*), 6), 6) AS w0"
        ] + [
            f"round({pw(b + 1)} + {_LR} * "
            f"round(sum((f.y - {p}) * f.x{b}) / count(*), 6), 6) AS w{b + 1}"
            for b in range(_B)
        ]
        ctes.append(f"g{t} AS (\n      SELECT " + ",\n             ".join(cols) + f"\n      FROM {src}\n    )")
        prev = f"g{t}"
    return ctes


@query(
    "quality_classifier_scores",
    oracle="WITH "
    + ",\n    ".join(_train_ctes())
    + f"""
    SELECT f.doc_id, f.y,
           {_p_sql(f"g{_ITERS}")} AS p,
           CAST({_p_sql(f"g{_ITERS}")} >= 0.5 AS INT) AS predicted
    FROM f, g{_ITERS}
    """,
    bench=True,
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the fastText-style linear filter (logistic regression on
    hashed token ratios, full-batch GD, fixed rounds) on the corpus'
    own language labels, then score every doc — the quality/language
    filter stage of GPT-3/CCNet-style pipelines. Training state is
    B+1 doubles per round; scoring is map-only.

    Honesty note: the synthetic corpus draws every language from ONE
    shared 31-word vocabulary (verified), so no bag-of-words model can
    beat the base rate here — this gate verifies the DISTRIBUTED
    OPTIMIZATION end-to-end (both engines run the same GD and must
    land on hash-identical weights/scores); actual learning is pinned
    by tests/test_ml.py on a separable fixture (accuracy 1.0).
    See operators/ml.py for the float-parity contract."""
    docs = load(spark, sf_dir, "documents")
    feats = pins.cache(M.hashed_token_features(
        docs, label=(F.col("lang") == "en").cast("int")
    ))
    weights = M.logreg_train(feats)
    out = M.logreg_score(feats, weights)
    return out.select("doc_id", "y", "p", "predicted")


# Reliability diagram for the trained classifier: decile-bin the
# predicted probability and compare mean prediction against empirical
# positive rate — the calibration audit every production filter needs
# before its scores gate data. p is round(6) on both engines (hash-
# identical); the bin means use DECIMAL partial sums so the per-bin
# aggregation is exact and fold-order-free; rates divide integer
# counts. One extra aggregate over the already-trained scores: the
# corpus is scanned once into |bins| rows.
@query(
    "score_calibration_bins",
    oracle="WITH "
    + ",\n    ".join(_train_ctes())
    + f""",
    scored AS (
      SELECT f.doc_id, f.y, {_p_sql(f"g{_ITERS}")} AS p
      FROM f, g{_ITERS}
    )
    SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
           count(*) AS n,
           round(CAST(sum(CAST(p AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
             AS mean_p,
           round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS pos_rate
    FROM scored GROUP BY bin
    """,
)
def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    feats = pins.cache(M.hashed_token_features(
        docs, label=(F.col("lang") == "en").cast("int")
    ))
    weights = M.logreg_train(feats)
    scored = M.logreg_score(feats, weights)
    return (
        scored.select(
            F.least(F.floor(F.col("p") * 10).cast("long"), F.lit(9)).alias("bin"),
            "p",
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("p").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_p"),
            F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias(
                "pos_rate"
            ),
        )
    )


_CHI2_K = 20


# Chi-square feature selection: rank tokens by association with the
# label (lang = 'en') from the 2×2 presence contingency table — the
# classic filter-method companion to the hashed-feature classifier
# above. Integer contingency cells (a,b,c,d) come from ONE vocab-
# bounded aggregate; N and P are one broadcast scalar row; the chi2
# expression is written with identical association on both engines
# (integer cross-product difference cast to DOUBLE once), so doubles
# agree bit-for-bit before round(4).
@query(
    "chi2_token_ranking",
    oracle=f"""
    WITH staged AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             list_distinct({_TOKS}) AS toks
      FROM documents WHERE len(trim(text)) > 0
    ),
    stats AS (
      SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS p FROM staged
    ),
    tok AS (SELECT y, unnest(toks) AS token FROM staged),
    per AS (
      SELECT token, count(*) AS nt, CAST(sum(y) AS BIGINT) AS a
      FROM tok GROUP BY token
    )
    SELECT token,
           round(CASE WHEN nt = stats.n OR stats.p = 0 OR stats.p = stats.n
                 THEN 0.0
                 ELSE (CAST(stats.n AS DOUBLE)
                       * (CAST(a * (stats.n - stats.p - nt + a)
                               - (nt - a) * (stats.p - a) AS DOUBLE)
                          * CAST(a * (stats.n - stats.p - nt + a)
                                 - (nt - a) * (stats.p - a) AS DOUBLE)))
                      / ((CAST(nt AS DOUBLE) * (stats.n - nt))
                         * (CAST(stats.p AS DOUBLE) * (stats.n - stats.p)))
                 END, 4) AS chi2
    FROM per, stats
    ORDER BY chi2 DESC, token ASC LIMIT {_CHI2_K}
    """,
)
def chi2_token_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as T

    docs = load(spark, sf_dir, "documents")
    staged = docs.filter(F.length(F.trim("text")) > 0).select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("y"),
        F.array_distinct(T.tokens(F.col("text"))).alias("toks"),
    )
    stats = staged.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").cast("long").alias("p")
    )
    per = (
        staged.select("y", F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("nt"), F.sum("y").cast("long").alias("a"))
    )
    j = per.crossJoin(F.broadcast(stats))
    ad_bc = (
        F.col("a") * (F.col("n") - F.col("p") - F.col("nt") + F.col("a"))
        - (F.col("nt") - F.col("a")) * (F.col("p") - F.col("a"))
    ).cast("double")
    chi2 = F.when(
        (F.col("nt") == F.col("n"))
        | (F.col("p") == 0)
        | (F.col("p") == F.col("n")),
        F.lit(0.0),
    ).otherwise(
        (F.col("n").cast("double") * (ad_bc * ad_bc))
        / (
            (F.col("nt").cast("double") * (F.col("n") - F.col("nt")))
            * (F.col("p").cast("double") * (F.col("n") - F.col("p")))
        )
    )
    return (
        j.select("token", F.round(chi2, 4).alias("chi2"))
        .orderBy(F.desc("chi2"), F.asc("token"))
        .limit(_CHI2_K)
    )


# --- distributed closed-form linear regression ------------------------------
# Multi-feature OLS (y = b0 + b1·quantity + b2·discount over lineitem)
# via the normal equations: ONE pass accumulates the 3×3 Gram matrix
# and moment vector as EXACT DECIMAL sums (integer-scaled inputs:
# cents / hundredths), the 3-unknown solve is Cramer's rule — a pure
# scalar expression over the ten sums. The solve text is ONE shared
# string evaluated by F.expr on Spark and spliced verbatim into the
# oracle, so the double arithmetic trees are identical by
# construction. Scale shape: map-side partial sums → 1 row; the
# "model fit" costs exactly one corpus aggregate (the PCA/covariance
# pattern, order-independent because every sum is exact).

_REG_DET = (
    "(n*(sqq*sdd - sqd*sqd) - sq*(sq*sdd - sqd*sd) + sd*(sq*sqd - sqq*sd))"
)
_REG_DET0 = (
    "(sy*(sqq*sdd - sqd*sqd) - sq*(sqy*sdd - sqd*sdy) + sd*(sqy*sqd - sqq*sdy))"
)
_REG_DET1 = (
    "(n*(sqy*sdd - sqd*sdy) - sy*(sq*sdd - sqd*sd) + sd*(sq*sdy - sqy*sd))"
)
_REG_DET2 = (
    "(n*(sqq*sdy - sqy*sqd) - sq*(sq*sdy - sqy*sd) + sy*(sq*sqd - sqq*sd))"
)
_REG_B0S = f"({_REG_DET0} / {_REG_DET})"
_REG_B1S = f"({_REG_DET1} / {_REG_DET})"
_REG_B2S = f"({_REG_DET2} / {_REG_DET})"
_REG_OUT = {
    "b0": f"round({_REG_B0S} / 100, 6)",
    "b1": f"round({_REG_B1S} / 100, 6)",
    "b2": f"round({_REG_B2S}, 6)",
    "r2": (
        f"round(1 - (syy - ({_REG_B0S}*sy + {_REG_B1S}*sqy + {_REG_B2S}*sdy))"
        f" / (syy - sy*sy/n), 6)"
    ),
}


@query(
    "price_regression_ols",
    oracle=f"""
    WITH raw AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS d,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    sums AS (
      SELECT count(*) AS cn,
             sum(CAST(q AS DECIMAL(38,0))) AS csq,
             sum(CAST(d AS DECIMAL(38,0))) AS csd,
             sum(CAST(q*q AS DECIMAL(38,0))) AS csqq,
             sum(CAST(q*d AS DECIMAL(38,0))) AS csqd,
             sum(CAST(d*d AS DECIMAL(38,0))) AS csdd,
             sum(CAST(y AS DECIMAL(38,0))) AS csy,
             sum(CAST(q*y AS DECIMAL(38,0))) AS csqy,
             sum(CAST(d*y AS DECIMAL(38,0))) AS csdy,
             sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS csyy
      FROM raw
    ),
    g AS (
      SELECT CAST(cn AS DOUBLE) AS n, CAST(csq AS DOUBLE) AS sq,
             CAST(csd AS DOUBLE) AS sd, CAST(csqq AS DOUBLE) AS sqq,
             CAST(csqd AS DOUBLE) AS sqd, CAST(csdd AS DOUBLE) AS sdd,
             CAST(csy AS DOUBLE) AS sy, CAST(csqy AS DOUBLE) AS sqy,
             CAST(csdy AS DOUBLE) AS sdy, CAST(csyy AS DOUBLE) AS syy
      FROM sums
    )
    SELECT CAST(n AS BIGINT) AS n,
           {_REG_OUT["b0"]} AS b0,
           {_REG_OUT["b1"]} AS b1,
           {_REG_OUT["b2"]} AS b2,
           {_REG_OUT["r2"]} AS r2
    FROM g
    """,
)
def price_regression_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    raw = li.select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("d"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    sums = raw.agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum(dec(F.col("q"))).alias("csq"),
        F.sum(dec(F.col("d"))).alias("csd"),
        F.sum(dec(F.col("q") * F.col("q"))).alias("csqq"),
        F.sum(dec(F.col("q") * F.col("d"))).alias("csqd"),
        F.sum(dec(F.col("d") * F.col("d"))).alias("csdd"),
        F.sum(dec(F.col("y"))).alias("csy"),
        F.sum(dec(F.col("q") * F.col("y"))).alias("csqy"),
        F.sum(dec(F.col("d") * F.col("y"))).alias("csdy"),
        F.sum(dec(F.col("y")) * dec(F.col("y"))).alias("csyy"),
    )
    g = sums.select(
        F.col("cn").cast("double").alias("n"),
        F.col("csq").cast("double").alias("sq"),
        F.col("csd").cast("double").alias("sd"),
        F.col("csqq").cast("double").alias("sqq"),
        F.col("csqd").cast("double").alias("sqd"),
        F.col("csdd").cast("double").alias("sdd"),
        F.col("csy").cast("double").alias("sy"),
        F.col("csqy").cast("double").alias("sqy"),
        F.col("csdy").cast("double").alias("sdy"),
        F.col("csyy").cast("double").alias("syy"),
    )
    return g.select(
        F.col("n").cast("bigint").alias("n"),
        F.expr(_REG_OUT["b0"]).alias("b0"),
        F.expr(_REG_OUT["b1"]).alias("b1"),
        F.expr(_REG_OUT["b2"]).alias("b2"),
        F.expr(_REG_OUT["r2"]).alias("r2"),
    )


# Split-conformal calibration of the OLS model: the 90th-percentile
# absolute residual is the (distribution-free) half-width of a 90%
# prediction interval. Per-row predictions are scalar expressions of
# the Gram-solve coefficients (identical doubles both engines, since
# the q/d/y inputs are exact integers); the quantile runs over those
# identical doubles with the engine pair already gate-proven on
# quantile_cont↔percentile. One extra corpus pass over the same scan.
@query(
    "regression_conformal_q",
    oracle=f"""
    WITH raw AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS d,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    sums AS (
      SELECT count(*) AS cn,
             sum(CAST(q AS DECIMAL(38,0))) AS csq,
             sum(CAST(d AS DECIMAL(38,0))) AS csd,
             sum(CAST(q*q AS DECIMAL(38,0))) AS csqq,
             sum(CAST(q*d AS DECIMAL(38,0))) AS csqd,
             sum(CAST(d*d AS DECIMAL(38,0))) AS csdd,
             sum(CAST(y AS DECIMAL(38,0))) AS csy,
             sum(CAST(q*y AS DECIMAL(38,0))) AS csqy,
             sum(CAST(d*y AS DECIMAL(38,0))) AS csdy
      FROM raw
    ),
    g AS (
      SELECT CAST(cn AS DOUBLE) AS n, CAST(csq AS DOUBLE) AS sq,
             CAST(csd AS DOUBLE) AS sd, CAST(csqq AS DOUBLE) AS sqq,
             CAST(csqd AS DOUBLE) AS sqd, CAST(csdd AS DOUBLE) AS sdd,
             CAST(csy AS DOUBLE) AS sy, CAST(csqy AS DOUBLE) AS sqy,
             CAST(csdy AS DOUBLE) AS sdy
      FROM sums
    ),
    resid AS (
      SELECT abs(y - ({_REG_B0S} + {_REG_B1S} * q + {_REG_B2S} * d)) AS r
      FROM raw, g
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(r, 0.9) / 100, 4) AS q90_abs_residual
    FROM resid
    """,
)
def regression_conformal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    raw = pins.cache(li.select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("d"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    ))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = raw.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec(F.col("q"))).cast("double").alias("sq"),
        F.sum(dec(F.col("d"))).cast("double").alias("sd"),
        F.sum(dec(F.col("q") * F.col("q"))).cast("double").alias("sqq"),
        F.sum(dec(F.col("q") * F.col("d"))).cast("double").alias("sqd"),
        F.sum(dec(F.col("d") * F.col("d"))).cast("double").alias("sdd"),
        F.sum(dec(F.col("y"))).cast("double").alias("sy"),
        F.sum(dec(F.col("q") * F.col("y"))).cast("double").alias("sqy"),
        F.sum(dec(F.col("d") * F.col("y"))).cast("double").alias("sdy"),
    )
    resid = raw.crossJoin(F.broadcast(g)).select(
        F.abs(
            F.col("y")
            - (
                F.expr(_REG_B0S)
                + F.expr(_REG_B1S) * F.col("q")
                + F.expr(_REG_B2S) * F.col("d")
            )
        ).alias("r")
    )
    # exact interpolated quantile WITHOUT the single-task exact
    # percentile buffer merge (operators/selection.exact_quantile_cont:
    # histogram rank selection, only the ≈n/bins rank-holding buckets
    # ever sort) — the scale shape; values are the identical order
    # statistics + interpolation both engines compute
    from ..operators.selection import exact_quantile_cont

    return exact_quantile_cont(resid, 0.9, value_col="r").select(
        "n", F.round(F.col("q") / 100, 4).alias("q90_abs_residual")
    )
