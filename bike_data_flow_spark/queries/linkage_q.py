"""Probabilistic record linkage (Fellegi–Sunter) over the `part`
table: multi-pass blocked candidate pairs scored by data-estimated
log-likelihood weights. Oracles compute the identical model in DuckDB
from the same exact integer histograms, so u probabilities, weights,
scores, and decisions hash-match bit-for-bit (modulo the repo-wide
round(…, 4) convention on floating outputs).

Extends the reference's entity-resolution surface (SURVEY.md §2
north-star; sibling of relational11.fuzzy_entity_clusters): where the
fuzzy clusterer links by name edit-distance alone, the FS model fuses
ALL fields with principled per-field evidence weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import linkage as L
from ..operators import pins
from ..tables import load
from . import query

# Compared fields and their assumed m = P(agree | true match). u is
# estimated from the data; m is the model's prior belief about field
# reliability (name almost always survives a true re-record; size is
# the most volatile).
_FS_M = {"p_name": 0.95, "p_brand": 0.90, "p_type": 0.85, "p_size": 0.70}
_FS_FIELDS = list(_FS_M)

# Decision thresholds on the summed weight (base-2 log-likelihood
# ratio). The 2⁴ agreement patterns land at discrete scores; these
# sit in the wide gaps between observed tiers at every gate SF
# (nearest tiers: 7.67 / 10.14 around 9.0 and 6.31 / 7.67 around 6.5).
_FS_MATCH_T = 9.0
_FS_POSSIBLE_T = 6.5

# Multi-pass blocking: same name tail + brand, and same name tail +
# size. Two cheap compound keys keep the pair set sub-quadratic while
# every compared field can still DISAGREE inside some pass (a single
# pass on (tok, brand) could never observe brand disagreement).
_FS_BLOCKS = [["tok", "p_brand"], ["tok", "p_size"]]

_B_SQL = """
  b AS (SELECT p_partkey, p_name, p_brand, p_type, p_size,
               string_split(p_name, ' ')[-1] AS tok FROM part)
"""

# WHERE {field} IS NOT NULL mirrors field_u_long's NULL-free histogram
# (no-op on part's non-null columns; documents the model contract).
_U_ONE = (
    "(SELECT (sum(c*c) - sum(c)) / (sum(c)*sum(c) - sum(c)) "
    "FROM (SELECT count(*) AS c FROM b WHERE {field} IS NOT NULL "
    "GROUP BY {field}))"
)

_U_SQL = (
    "u AS (SELECT "
    + ", ".join(
        _U_ONE.format(field=f) + f" AS u_{f}" for f in _FS_FIELDS
    )
    + ")"
)

# (1-m) is emitted as the EXACT repr of the double Spark computes at
# plan time (F.lit(1.0) - F.lit(m), e.g. 0.050000000000000044) — a
# rounded decimal literal like 0.05 differs by 1 ulp and would break
# bit-for-bit parity on scores near a round(,4) boundary.
#
# The oracle mirrors fs_weight's FULL boundary model, not just its
# interior (ADVICE r10): u clamps into [ε, 1-ε] with the exact double
# literals Spark folds at plan time (for u strictly inside the range
# greatest/least pass the exact double through, so non-degenerate data
# is bit-identical either way), and a NULL u — a field with no
# observed values — contributes zero evidence. Without the mirror,
# parity on the FS queries would be data-dependent: a constant or
# near-unique compared field would score large-finite in Spark but
# ±inf/NULL here, failing the hash check confusingly.
_U_EPS_SQL = repr(L._U_EPS)  # '1e-12'
_U_HI_SQL = repr(1.0 - L._U_EPS)  # exact repr of Spark's 1.0 - ε fold
_UC_SQL = "greatest(least(u_{f}, " + _U_HI_SQL + "), " + _U_EPS_SQL + ")"
_W_SQL = " + ".join(
    f"CASE WHEN u_{f} IS NULL THEN 0.0 "
    f"WHEN {f}_l = {f}_r THEN log2({m!r} / {_UC_SQL.format(f=f)}) "
    f"ELSE log2({(1.0 - m)!r} / (1.0 - {_UC_SQL.format(f=f)})) END"
    for f, m in _FS_M.items()
)

_CAND_SQL = """
  cand AS (
    SELECT a.p_partkey AS id_a, c.p_partkey AS id_b,
           a.p_name AS p_name_l, c.p_name AS p_name_r,
           a.p_brand AS p_brand_l, c.p_brand AS p_brand_r,
           a.p_type AS p_type_l, c.p_type AS p_type_r,
           a.p_size AS p_size_l, c.p_size AS p_size_r
    FROM b a JOIN b c
      ON a.tok = c.tok AND a.p_brand = c.p_brand
     AND a.p_partkey < c.p_partkey
    UNION
    SELECT a.p_partkey, c.p_partkey,
           a.p_name, c.p_name, a.p_brand, c.p_brand,
           a.p_type, c.p_type, a.p_size, c.p_size
    FROM b a JOIN b c
      ON a.tok = c.tok AND a.p_size = c.p_size
     AND a.p_partkey < c.p_partkey
  )
"""


# Candidate generation is two blocked self-joins (multi-pass blocking)
# deduped on the id pair; scoring is a pure map stage with the one-row
# u frame broadcast; only pairs at/above the 'possible' threshold are
# materialized. At 100 TB the pair volume is set by the blocking keys
# (Σ|block|²/2 per pass) — skewed keys should route through
# dedup.capped_block_join; these two compound keys are ~uniform.
@query(
    "fs_linkage_scores",
    oracle=f"""
    WITH {_B_SQL}, {_U_SQL}, {_CAND_SQL},
    scored AS (
      SELECT id_a, id_b, round({_W_SQL}, 4) AS score
      FROM cand, u
    )
    SELECT id_a, id_b, score,
           CASE WHEN score >= {_FS_MATCH_T} THEN 'match'
                ELSE 'possible' END AS decision
    FROM scored WHERE score >= {_FS_POSSIBLE_T}
    """,
    bench=True,
)
def fs_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter pair scores + decisions over multi-pass blocked
    candidates. See operators/linkage.py for the model and the 100 TB
    plan shape."""
    part = load(spark, sf_dir, "part")
    records = part.select(
        "p_partkey",
        *_FS_FIELDS,
        F.element_at(F.split("p_name", " "), -1).alias("tok"),
    )
    u_row = L.field_u_probabilities(records, _FS_FIELDS)
    # dedup=False + dedup_pairs=True: score the raw pass multiset and
    # dedup the few narrow survivors AFTER the threshold filter instead
    # of sort-aggregating the full wide candidate set before scoring
    # (identical output set — duplicates carry identical fields, so
    # identical scores; see fs_score's contract)
    pairs = L.blocked_pairs(
        records, "p_partkey", _FS_BLOCKS, carry=_FS_FIELDS, dedup=False
    )
    return L.fs_score(
        pairs,
        u_row,
        _FS_M,
        match_threshold=_FS_MATCH_T,
        possible_threshold=_FS_POSSIBLE_T,
        dedup_pairs=True,
    )


# Sorted-neighborhood candidates (window, sort passes): n·(window−1)
# pairs per pass by construction — the LINEAR-volume alternative to
# hash blocking whose recall comes from sort adjacency, not key
# equality (the constructive answer to the stripe-cap recall finding,
# SCALE_SMOKE r12: an oversized equality block must either pay |b|²/2
# or stripe away recall proportionally; SNM never forms the block).
# Pass 1 sorts by name (re-records sort adjacent); pass 2 by the
# attribute triple (same-spec parts with DIFFERENT names adjacent, so
# name disagreement is observable — the multi-pass principle _FS_BLOCKS
# follows).
_SNM_WINDOW = 12
_SNM_PASSES = [["p_name"], ["p_brand", "p_type", "p_size"]]


def _snm_rn_sql(name: str, keys: list[str]) -> str:
    order = ", ".join([*keys, "p_partkey"])
    return (
        f"{name} AS (SELECT p_partkey, p_name, p_brand, p_type, p_size, "
        f"ROW_NUMBER() OVER (ORDER BY {order}) AS rn FROM part)"
    )


def _snm_cand_sql(tbl: str) -> str:
    # canonicalize each pair to id order so the two passes' UNION
    # dedups on identical rows (fields are functions of the ids)
    fields = ", ".join(
        f"CASE WHEN a.p_partkey < c.p_partkey THEN a.{f} ELSE c.{f} END"
        f" AS {f}_l, "
        f"CASE WHEN a.p_partkey < c.p_partkey THEN c.{f} ELSE a.{f} END"
        f" AS {f}_r"
        for f in _FS_FIELDS
    )
    return (
        f"SELECT least(a.p_partkey, c.p_partkey) AS id_a, "
        f"greatest(a.p_partkey, c.p_partkey) AS id_b, {fields} "
        f"FROM {tbl} a JOIN {tbl} c "
        f"ON c.rn - a.rn BETWEEN 1 AND {_SNM_WINDOW - 1}"
    )


# Rank parity note: both engines order by (sort keys…, p_partkey) —
# a TOTAL order (id tiebreak) under binary string collation on both
# sides — so the rank permutations, and therefore the pair sets, are
# identical; Spark computes the rank distributed (range-repartition +
# partition-local row_number + offset shift, no single-partition
# global sort — operators/linkage.global_sort_index).
@query(
    "snm_linkage_scores",
    oracle=f"""
    WITH {_B_SQL}, {_U_SQL},
    {_snm_rn_sql("rn1", _SNM_PASSES[0])},
    {_snm_rn_sql("rn2", _SNM_PASSES[1])},
    snmc AS (
      {_snm_cand_sql("rn1")}
      UNION
      {_snm_cand_sql("rn2")}
    ),
    scored AS (
      SELECT id_a, id_b, round({_W_SQL}, 4) AS score
      FROM snmc, u
    )
    SELECT id_a, id_b, score,
           CASE WHEN score >= {_FS_MATCH_T} THEN 'match'
                ELSE 'possible' END AS decision
    FROM scored WHERE score >= {_FS_POSSIBLE_T}
    """,
)
def snm_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter scores over SORTED-NEIGHBORHOOD candidates
    (Hernández & Stolfo): two sort passes × window {w}, n·(w−1) pairs
    per pass by construction. Same model, u estimation, thresholds,
    and score arithmetic as fs_linkage_scores — only the candidate
    generator differs (operators/linkage.sorted_neighborhood_pairs:
    range-shuffle + partition-local rank + bucketed window equi-join;
    no global single-partition sort, no theta-join)."""
    part = load(spark, sf_dir, "part")
    records = part.select("p_partkey", *_FS_FIELDS)
    u_row = L.field_u_probabilities(records, _FS_FIELDS)
    pairs = L.sorted_neighborhood_pairs(
        records, "p_partkey", _SNM_PASSES, _SNM_WINDOW, carry=_FS_FIELDS,
        dedup=False,
    )
    return L.fs_score(
        pairs,
        u_row,
        _FS_M,
        match_threshold=_FS_MATCH_T,
        possible_threshold=_FS_POSSIBLE_T,
        dedup_pairs=True,
    )


# The model's explainability artifact: per field, the data-estimated
# u probability and the agreement/disagreement evidence weights. One
# scan, |fields| output rows — the table a linkage reviewer reads
# before trusting the decisions above.
@query(
    "fs_field_weights",
    oracle=f"""
    WITH {_B_SQL},
    s AS (
      {" UNION ALL ".join(
          f"SELECT '{f}' AS field, {_U_ONE.format(field=f)} AS u, "
          f"CAST({m} AS DOUBLE) AS m"
          for f, m in _FS_M.items()
      )}
    )
    SELECT field, round(u, 6) AS u_agree,
           round(log2(m / greatest(least(u, {_U_HI_SQL}), {_U_EPS_SQL})), 4)
             AS w_agree,
           round(log2((1 - m)
                      / (1.0 - greatest(least(u, {_U_HI_SQL}), {_U_EPS_SQL}))),
                 4) AS w_disagree
    FROM s
    """,
)
def fs_field_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    records = part.select("p_partkey", *_FS_FIELDS)
    u = L.field_u_long(records, _FS_FIELDS)
    m = None
    for f, mv in _FS_M.items():
        m = (
            F.when(F.col("field") == f, F.lit(mv))
            if m is None
            else m.when(F.col("field") == f, F.lit(mv))
        )
    uc = L.fs_clamped_u(F.col("u"))
    return u.select(
        "field",
        F.round("u", 6).alias("u_agree"),
        F.round(F.log2(m / uc), 4).alias("w_agree"),
        F.round(
            F.log2((F.lit(1.0) - m) / (F.lit(1.0) - uc)), 4
        ).alias("w_disagree"),
    )


# Entity resolution END of the FS pipeline: 'match'-decided pairs
# collapse into canonical entities by connected components ((a,b),(b,c)
# merge without an (a,c) comparison), emitting one row per resolved
# multi-record entity with its size. Nodes are only pair endpoints —
# the CC residue is bounded by matches, never the record count — and
# the oracle closes the same edge set with a recursive CTE.
@query(
    "fs_linkage_clusters",
    oracle=f"""
    WITH RECURSIVE {_B_SQL}, {_U_SQL}, {_CAND_SQL},
    m AS MATERIALIZED (
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b, round({_W_SQL}, 4) AS score FROM cand, u
      ) WHERE score >= {_FS_MATCH_T}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM m
      UNION ALL
      SELECT id_b, id_a FROM m
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    walk AS (
      SELECT id, id AS label FROM nodes
      UNION
      SELECT e.dst AS id, w.label FROM walk w JOIN edges e ON e.src = w.id
    ),
    comp AS (SELECT id, min(label) AS cluster_id FROM walk GROUP BY id)
    SELECT cluster_id, count(*) AS n_members
    FROM comp GROUP BY cluster_id
    """,
)
def fs_linkage_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    part = load(spark, sf_dir, "part")
    records = part.select(
        "p_partkey",
        *_FS_FIELDS,
        F.element_at(F.split("p_name", " "), -1).alias("tok"),
    )
    u_row = L.field_u_probabilities(records, _FS_FIELDS)
    pairs = L.blocked_pairs(
        records, "p_partkey", _FS_BLOCKS, carry=_FS_FIELDS, dedup=False
    )
    # the match residue feeds THREE consumers (CC's symmetrized edge
    # materialization, node derivation, membership join) — pin it so
    # the blocked-join + scoring pipeline runs once, not per consumer
    matches = pins.cache(L.fs_score(
        pairs,
        u_row,
        _FS_M,
        match_threshold=_FS_MATCH_T,
        possible_threshold=_FS_MATCH_T,  # matches only
        dedup_pairs=True,
    ).select("id_a", "id_b"))
    nodes = (
        matches.select(F.col("id_a").alias("nid"))
        .unionByName(matches.select(F.col("id_b").alias("nid")))
        .distinct()
    )
    comp = connected_components(matches, nodes, id_col="nid")
    return comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )


# The FS framework's third band is OPERATIONAL, not just a label: the
# [possible, match) scores form the clerical-review queue, and a
# reviewer needs to see WHICH fields disagreed to adjudicate. One more
# projection over the same scored pairs — per-field agreement flags
# ride along as booleans.
@query(
    "fs_review_queue",
    oracle=f"""
    WITH {_B_SQL}, {_U_SQL}, {_CAND_SQL}
    SELECT * FROM (
      SELECT id_a, id_b, round({_W_SQL}, 4) AS score,
             p_name_l = p_name_r AS g_name,
             p_brand_l = p_brand_r AS g_brand,
             p_type_l = p_type_r AS g_type,
             p_size_l = p_size_r AS g_size
      FROM cand, u
    ) WHERE score >= {_FS_POSSIBLE_T} AND score < {_FS_MATCH_T}
    """,
)
def fs_review_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    records = part.select(
        "p_partkey",
        *_FS_FIELDS,
        F.element_at(F.split("p_name", " "), -1).alias("tok"),
    )
    u_row = L.field_u_probabilities(records, _FS_FIELDS)
    pairs = L.blocked_pairs(
        records, "p_partkey", _FS_BLOCKS, carry=_FS_FIELDS, dedup=False
    )
    scored = pairs.crossJoin(F.broadcast(u_row))
    total = None
    for f, m in _FS_M.items():
        w = L.fs_weight(F.col(f"{f}_a") == F.col(f"{f}_b"), m, F.col(f))
        total = w if total is None else total + w
    out = scored.select(
        "id_a",
        "id_b",
        F.round(total, 4).alias("score"),
        *[
            (F.col(f"{f}_a") == F.col(f"{f}_b")).alias(f"g_{f[2:]}")
            for f in _FS_FIELDS
        ],
    )
    # duplicates from the raw pass multiset carry identical fields →
    # identical score/flags; dedup the narrow band survivors only
    return out.filter(
        (F.col("score") >= _FS_POSSIBLE_T) & (F.col("score") < _FS_MATCH_T)
    ).dropDuplicates(["id_a", "id_b"])


# Survivorship — the last step of master-data entity resolution: each
# resolved entity gets ONE canonical value per field by plurality vote
# over its members (ties → smallest value), the rule that picks the
# clean majority spelling over the odd one out. Per-field mode =
# count per (cluster, value) + a cluster-partitioned rank window —
# both bounded by entity sizes, never corpus-quadratic.
@query(
    "fs_canonical_records",
    oracle=f"""
    WITH RECURSIVE {_B_SQL}, {_U_SQL}, {_CAND_SQL},
    m AS MATERIALIZED (
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b, round({_W_SQL}, 4) AS score FROM cand, u
      ) WHERE score >= {_FS_MATCH_T}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM m
      UNION ALL
      SELECT id_b, id_a FROM m
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    walk AS (
      SELECT id, id AS label FROM nodes
      UNION
      SELECT e.dst AS id, w.label FROM walk w JOIN edges e ON e.src = w.id
    ),
    comp AS (SELECT id, min(label) AS cluster_id FROM walk GROUP BY id),
    mem AS (
      SELECT c.cluster_id, b.p_name, b.p_brand, b.p_type, b.p_size
      FROM comp c JOIN b ON b.p_partkey = c.id
    ),
    mode_name AS (
      SELECT cluster_id, p_name AS canonical_name FROM (
        SELECT cluster_id, p_name, count(*) AS n FROM mem GROUP BY 1, 2)
      QUALIFY row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY n DESC, p_name ASC) = 1
    ),
    mode_brand AS (
      SELECT cluster_id, p_brand AS canonical_brand FROM (
        SELECT cluster_id, p_brand, count(*) AS n FROM mem GROUP BY 1, 2)
      QUALIFY row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY n DESC, p_brand ASC) = 1
    ),
    mode_type AS (
      SELECT cluster_id, p_type AS canonical_type FROM (
        SELECT cluster_id, p_type, count(*) AS n FROM mem GROUP BY 1, 2)
      QUALIFY row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY n DESC, p_type ASC) = 1
    ),
    sizes AS (SELECT cluster_id, count(*) AS n_members
              FROM mem GROUP BY cluster_id)
    SELECT s.cluster_id, s.n_members, mn.canonical_name,
           mb.canonical_brand, mt.canonical_type
    FROM sizes s
    JOIN mode_name mn USING (cluster_id)
    JOIN mode_brand mb USING (cluster_id)
    JOIN mode_type mt USING (cluster_id)
    """,
)
def fs_canonical_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.dedup import connected_components

    part = load(spark, sf_dir, "part")
    records = part.select(
        "p_partkey",
        *_FS_FIELDS,
        F.element_at(F.split("p_name", " "), -1).alias("tok"),
    )
    u_row = L.field_u_probabilities(records, _FS_FIELDS)
    pairs = L.blocked_pairs(
        records, "p_partkey", _FS_BLOCKS, carry=_FS_FIELDS, dedup=False
    )
    matches = pins.cache(L.fs_score(
        pairs, u_row, _FS_M,
        match_threshold=_FS_MATCH_T, possible_threshold=_FS_MATCH_T,
        dedup_pairs=True,
    ).select("id_a", "id_b"))  # three consumers, one compute
    nodes = (
        matches.select(F.col("id_a").alias("nid"))
        .unionByName(matches.select(F.col("id_b").alias("nid")))
        .distinct()
    )
    comp = connected_components(matches, nodes, id_col="nid")
    mem = pins.cache(comp.join(
        records.withColumnRenamed("p_partkey", "nid"), "nid"
    ))

    def mode(field: str, out: str) -> DataFrame:
        cnt = mem.groupBy("cluster_id", field).agg(
            F.count(F.lit(1)).alias("_n")
        )
        w = Window.partitionBy("cluster_id").orderBy(
            F.desc("_n"), F.asc(field)
        )
        return (
            cnt.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("cluster_id", F.col(field).alias(out))
        )

    sizes = mem.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        sizes.join(mode("p_name", "canonical_name"), "cluster_id")
        .join(mode("p_brand", "canonical_brand"), "cluster_id")
        .join(mode("p_type", "canonical_type"), "cluster_id")
    )
