"""Plan-shape regression tests for the round-4 operators: the scale
claims in SCALE.md (exchange counts, scan counts, no unexpected
joins) are asserted against the actual formatted plans, so a future
refactor that silently adds a shuffle or a re-scan fails here instead
of in a 100 TB run.
"""

from __future__ import annotations

import re

from tests.conftest import SF_DIR
from tools.plans import explain


def _count(plan: str, pattern: str) -> int:
    return len(re.findall(pattern, plan))


def test_time_weighted_value_single_exchange(spark):
    """lead() window + groupBy share ONE user_id hash partitioning —
    the agg must reuse the window's exchange, not add its own."""
    from bike_data_flow_spark.queries.relational9 import time_weighted_value

    plan = explain(time_weighted_value(spark, SF_DIR))
    assert _count(plan, r"\(\d+\) Exchange") == 1, plan
    assert _count(plan, r"\(\d+\) Scan parquet") == 1, plan


def test_dsir_bounded_scans(spark):
    """The fused conditional aggregate holds: at most 3 corpus subtree
    evaluations (probe + cached counts feeding stats/tots), never the
    naive 4; the per-bucket stats join is a broadcast."""
    from bike_data_flow_spark.queries.textops2 import dsir_importance_weights

    plan = explain(dsir_importance_weights(spark, SF_DIR))
    assert _count(plan, r"\(\d+\) Scan parquet") <= 3, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_hof_profile_map_only(spark):
    """Higher-order array functions are a pure map pass: zero
    exchanges, one scan, and column pruning down to the two columns."""
    from bike_data_flow_spark.queries.vectors import embedding_hof_profile

    plan = explain(embedding_hof_profile(spark, SF_DIR))
    assert _count(plan, r"\(\d+\) Exchange") == 0, plan
    assert _count(plan, r"\(\d+\) Scan parquet") == 1, plan
    m = re.search(r"ReadSchema: (.+)", plan)
    assert m and "text" not in m.group(1), m and m.group(1)


def test_semdedup_no_cross_cluster_pairs(spark):
    """The candidate join is keyed on the cluster id (equi-join), never
    a cross join — the SemDeDup scale property."""
    from bike_data_flow_spark.operators.similarity import semdedup
    from bike_data_flow_spark.tables import load

    df = semdedup(load(spark, SF_DIR, "embeddings"), k=3, n_iter=1, tau=0.4)
    plan = explain(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_prefix_filter_join_shape(spark):
    """Candidate generation is an equi-join on the prefix shingle with
    ppjoin prunes — no cross product, and no forced corpus-row
    broadcast (the sizes ride the verify arrays; strategy is AQE's)."""
    from bike_data_flow_spark.operators.dedup import prefix_filter_jaccard_pairs
    from bike_data_flow_spark.tables import load

    df = prefix_filter_jaccard_pairs(load(spark, SF_DIR, "documents"))
    plan = explain(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the ppjoin prunes must sit in the candidate join's condition/filter
    # (pre-shuffle-side), not after the distinct
    assert "array_intersect" in plan, plan


def test_knn_graph_refined_no_cross_product(spark):
    """LSH-bucket candidates + two-hop closure: every join is keyed;
    a refactor to all-pairs would surface as a cross product here."""
    from bike_data_flow_spark.queries.vectors import knn_graph_refined

    plan = explain(knn_graph_refined(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_embedding_top_component_bounded_shuffle(spark):
    """Power iteration: the only aggregates are dim²-bounded partial
    aggs — nothing corpus-sized may shuffle, and no join exists."""
    from bike_data_flow_spark.queries.vectors import embedding_top_component

    plan = explain(embedding_top_component(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert _count(plan, r"\(\d+\) SortMergeJoin") == 0, plan


def test_group_hash_sample_window_group_limit(spark):
    """The k-per-group rank filter must push into a map-side
    WindowGroupLimit — a refactor to filter-after-window would ship
    whole groups through the shuffle."""
    from bike_data_flow_spark.queries.relational10 import group_hash_sample

    plan = explain(group_hash_sample(spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan


def test_token_budget_selection_no_global_window(spark):
    """The corpus-side windows are keyed by score bin; the only
    unpartitioned window runs over the ≤ bins+1 histogram rows. A
    regression to the naive global cumsum would put a corpus-sized
    Window with no partitioning into the plan — detectable as a Sort
    with a single-partition Exchange feeding a Window over the raw
    scan subtree. Cheap proxy: the scan-side Window must carry the
    _bin partition key."""
    from bike_data_flow_spark.queries.textops2 import token_budget_selection

    plan = explain(token_budget_selection(spark, SF_DIR))
    # boundary-fill window is partitioned by _bin
    assert "partitionBy=[_bin" in plan.replace(" ", "") or "_bin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_round5_graph_and_ann_queries_no_cross_product(spark):
    """Every round-5 graph/ANN query must stay keyed: no cartesian, no
    non-broadcast nested-loop join anywhere in the plan."""
    from bike_data_flow_spark.queries.mutations import point_in_time_value_band
    from bike_data_flow_spark.queries.relational10 import copurchase_pairs
    from bike_data_flow_spark.queries.vectors import (
        knn_graph_triangles,
        knn_label_spread,
    )

    for fn in (knn_label_spread, knn_graph_triangles, copurchase_pairs,
               point_in_time_value_band):
        plan = explain(fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, (fn.__name__, plan)


def test_ivfpq_probed_scan_and_no_python(spark):
    """The IVF+PQ fine stage is JVM expression work over the probed
    fraction — no Python evaluation node may appear, and the only
    nested-loop is the broadcast of the 1-row query vector."""
    from bike_data_flow_spark.queries.vectors import ivfpq_topk

    plan = explain(ivfpq_topk(spark, SF_DIR))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_duplicate_spans_no_pair_join(spark):
    """Substring dedup must stay pairwise-free: fingerprint agg +
    semi-join + per-doc window — a refactor to a doc×doc join would
    surface as a cross product or an extra non-semi join here."""
    from bike_data_flow_spark.operators.dedup import duplicate_spans
    from bike_data_flow_spark.tables import load

    plan = explain(duplicate_spans(load(spark, SF_DIR, "documents")))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftSemi" in plan, plan


def test_pii_redaction_map_only(spark):
    """The scrub is a pure map pass: zero exchanges, one scan."""
    from bike_data_flow_spark.queries.pii_q import pii_redaction

    plan = explain(pii_redaction(spark, SF_DIR))
    assert _count(plan, r"\(\d+\) Exchange") == 0, plan
    assert _count(plan, r"\(\d+\) Scan parquet") == 1, plan


def test_classifier_scoring_is_map_only_over_features(spark):
    """Scoring with literal weights is FULLY map-only: the hashed
    features are array transform/filter/size expressions (no token
    explode, no groupBy — the r12 rewrite) and the sigmoid folds plan
    literals, so the whole pipeline has NO Exchange at all."""
    from pyspark.sql import functions as F

    from bike_data_flow_spark.operators import ml as M
    from bike_data_flow_spark.tables import load

    docs = load(spark, SF_DIR, "documents")
    feats = M.hashed_token_features(
        docs, label=(F.col("lang") == "en").cast("int")
    )
    out = M.logreg_score(feats, [0.1] * (M.LOGREG_BUCKETS + 1))
    plan = explain(out)
    assert _count(plan, r"\(\d+\) Exchange") == 0, plan
    assert "Join" not in plan, plan


def test_containment_join_is_keyed(spark):
    from bike_data_flow_spark.operators.dedup import containment_pairs
    from bike_data_flow_spark.tables import load

    plan = explain(containment_pairs(load(spark, SF_DIR, "documents")))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bm25_topk_shape(spark):
    """Top-k plans as TakeOrderedAndProject (no global sort); the
    whole pipeline is equi-join/aggregate only — no cross product
    beyond the 1-row broadcast stats join."""
    from bike_data_flow_spark.operators.retrieval import bm25_topk
    from bike_data_flow_spark.tables import load

    plan = explain(bm25_topk(load(spark, SF_DIR, "documents"), ("hash", "dup")))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert _count(plan, r"\(\d+\) Sort\b") == 0, plan


def test_jl_projection_map_only(spark):
    """JL projection must be a pure map pass: one scan, zero
    exchanges, zero joins — the matrix is plan literals."""
    from bike_data_flow_spark.operators.similarity import jl_project
    from bike_data_flow_spark.tables import load

    plan = explain(jl_project(load(spark, SF_DIR, "embeddings"), in_dim=64))
    assert _count(plan, r"\(\d+\) Exchange") == 0, plan
    assert "Join" not in plan, plan
    assert _count(plan, r"\(\d+\) Scan parquet") == 1, plan


def test_column_profile_single_scan_no_multidistinct_expand(spark):
    """The profile is ONE scan through a long-form explode + manual
    two-stage distinct agg — no per-column rescans (the oracle's
    shape) and no Catalyst multi-distinct Expand (the slow rewrite
    the manual spelling replaces)."""
    from bike_data_flow_spark.queries.maintenance import column_profile

    plan = explain(column_profile(spark, SF_DIR))
    assert _count(plan, r"\(\d+\) Scan parquet") == 1, plan
    assert "Generate" in plan, plan          # the long-form explode
    assert "Expand" not in plan, plan        # no multi-distinct rewrite
    assert _count(plan, r"\(\d+\) Exchange") == 2, plan


def test_ndcg_take_ordered_ideal(spark):
    """The ideal-list selection must plan as TakeOrderedAndProject —
    no corpus-sized single-partition window feeds the IDCG arm."""
    from bike_data_flow_spark.queries.retrieval_q import retrieval_ndcg

    plan = explain(retrieval_ndcg(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_zone_map_single_scan(spark):
    """Zone-map audit: one events scan pruned to (value, user_id),
    aggregates only."""
    from bike_data_flow_spark.queries.maintenance import zone_map_pruning

    plan = explain(zone_map_pruning(spark, SF_DIR))
    assert _count(plan, r"\(\d+\) Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    m = re.search(r"ReadSchema: (.+)", plan)
    assert m and "props" not in m.group(1), m and m.group(1)


def test_chi2_broadcast_stats(spark):
    """The N,P scalar row joins in as a broadcast; top-k is
    TakeOrderedAndProject, never a global sort."""
    from bike_data_flow_spark.queries.mlops import chi2_token_ranking

    plan = explain(chi2_token_ranking(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_streaks_no_join(spark):
    """Gaps-and-islands is windows + aggregates only — the classic
    self-join spelling must never creep back in."""
    from bike_data_flow_spark.queries.relational11 import user_activity_streaks

    plan = explain(user_activity_streaks(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert _count(plan, r"\(\d+\) Scan parquet") == 1, plan


def test_sweep_calendar_bounded_window(spark):
    """The cumulative window consumes the per-day aggregate (calendar-
    bounded), so exactly one window and it sits above the date agg."""
    from bike_data_flow_spark.queries.relational11 import in_flight_lineitems_peak

    plan = explain(in_flight_lineitems_peak(spark, SF_DIR))
    assert _count(plan, r"\(\d+\) Window") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_crosstab_no_pair_blowup(spark):
    """Pair counts derive from group sizes: no self-join of the
    per-(content, source) aggregate against itself beyond the single
    content-total join."""
    from bike_data_flow_spark.queries.textops4 import source_dedup_crosstab

    plan = explain(source_dedup_crosstab(spark, SF_DIR))
    assert _count(plan, r"\(\d+\) (SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)") <= 1, plan
    # the cached per-(content, source) aggregate feeds both sides: one scan
    assert _count(plan, r"\(\d+\) Scan parquet") <= 1, plan


def test_sweep_single_join(spark):
    """The ±1 boundary explode must reuse ONE fact-fact join — the
    union-of-two-selects spelling would execute it twice."""
    from bike_data_flow_spark.queries.relational11 import in_flight_lineitems_peak

    plan = explain(in_flight_lineitems_peak(spark, SF_DIR))
    assert _count(plan, r"\(\d+\) (SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)") == 1, plan


def test_fs_linkage_u_row_broadcast_no_global_sort(spark):
    """The one-row u frame must ride into scoring as a BROADCAST cross
    join (never a shuffled join), and nothing in the plan globally
    sorts or windows the pair set."""
    from bike_data_flow_spark.queries.linkage_q import fs_linkage_scores

    plan = explain(fs_linkage_scores(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert _count(plan, r"\(\d+\) Window") == 0, plan
    assert _count(plan, r"\(\d+\) Sort ") == 0 or "SortMergeJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cluster_balanced_sample_no_window_broadcast_sizes(spark):
    """Per-cluster rates come from a BROADCAST of the k-row size agg
    onto the assignment — no Window, no global sort, no shuffled join
    keyed on the (skewed, k-valued) cluster column."""
    from bike_data_flow_spark.queries.vectors import cluster_balanced_sample

    plan = explain(cluster_balanced_sample(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert _count(plan, r"\(\d+\) Window") == 0, plan


def test_kcenter_rounds_take_ordered_no_shuffle_join(spark):
    """Each greedy round is a literal-fold map pass + TakeOrdered(1):
    the selection plan must show TakeOrderedAndProject and zero joins
    (centroids are plan literals, never a joined side)."""
    from bike_data_flow_spark.operators.similarity import kcenter_greedy
    from bike_data_flow_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    base = emb.select("vec_id", emb["embedding"].alias("_v"))
    from pyspark.sql import functions as F

    from bike_data_flow_spark.operators.similarity import _d

    lit = F.array(*[F.lit(0.0)] * len(emb.select("embedding").first()[0]))
    probe = base.select(
        "vec_id",
        F.aggregate(
            F.zip_with(F.col("_v"), lit, lambda x, y: (_d(x) - y) * (_d(x) - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_dmin"),
    ).orderBy(F.desc("_dmin"), F.asc("vec_id")).limit(1)
    plan = explain(probe)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan, plan
    assert _count(plan, r"\(\d+\) Exchange") == 0, plan


def test_split_contamination_no_pair_join(spark):
    """The audit must stay vocab-bounded: shingles join the split
    assignment once (doc_id key), then aggregate — never a
    shingle-shingle self-join and never a cartesian."""
    from bike_data_flow_spark.queries.textops4 import (
        split_contamination_audit,
    )

    plan = explain(split_contamination_audit(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    # joins: doc_id (shingle->split) + whatever the CC residue pipeline
    # needs; the pair-free claim is "no join keyed on shingle=shingle"
    assert "shingle#" not in _join_keys(plan), plan


def _join_keys(plan: str) -> str:
    import re

    return " ".join(
        m.group(0)
        for m in re.finditer(r"(?:Left keys|Right keys|Join condition).*", plan)
    )


def test_fs_canonical_windows_are_cluster_partitioned(spark):
    """Survivorship's rank windows must be PARTITIONED (by cluster) —
    an unpartitioned window would single-task the corpus."""
    from bike_data_flow_spark.queries.linkage_q import fs_canonical_records

    plan = explain(fs_canonical_records(spark, SF_DIR))
    import re

    windows = list(re.finditer(r"\(\d+\) Window\n(?:.*\n){1,4}", plan))
    assert windows, plan  # the three mode ranks must plan as windows
    for m in windows:
        assert "cluster_id" in m.group(0), m.group(0)
