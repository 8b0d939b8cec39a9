"""Physical-plan quality gates.

Correctness tests prove the WHAT; these prove the HOW survives refactors:
filters reach the parquet scan, projections prune the read schema, small
dimensions broadcast, and shuffle counts stay at the plan-minimum.  At
100 TB each of these properties is the difference between a scan of
gigabytes and a scan of the full table.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from flume_spark.plans import explain_str, n_nodes
from flume_spark.queries import all_queries
from tests.conftest import SF_ORACLE

QUERIES = all_queries()


def explained(spark, name: str) -> str:
    return explain_str(QUERIES[name](spark, SF_ORACLE))


def test_q6_filters_pushed_to_scan(spark):
    plan = explained(spark, "q6_forecast_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in plan, "shipdate range not pushed"
    assert "LessThan(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan


def test_q6_column_pruning(spark):
    plan = explained(spark, "q6_forecast_revenue")
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_quantity" in read and "l_extendedprice" in read
    # untouched wide columns must NOT be read
    assert "l_returnflag" not in read and "l_partkey" not in read


def test_q1_column_pruning(spark):
    plan = explained(spark, "q1_pricing_summary")
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_suppkey" not in read


def test_join_broadcast_is_broadcast(spark):
    plan = explained(spark, "join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q5_all_dims_broadcast(spark):
    """Star join: every dimension broadcasts; the fact table streams.
    A SortMergeJoin here means a dim lost its broadcast hint/threshold."""
    plan = explained(spark, "q5_local_supplier")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_semi_anti_stay_broadcast(spark):
    for name in ("join_semi", "join_anti"):
        plan = explained(spark, name)
        assert "Broadcast" in plan, f"{name}: no broadcast"
        assert "SortMergeJoin" not in plan, f"{name}: fell back to SMJ"


def test_dedup_exact_single_shuffle(spark):
    """Hash-dedup is one groupBy: exactly one Exchange in the plan."""
    plan = explained(spark, "dedup_exact")
    assert n_nodes(plan, "Exchange") <= 1, plan


def test_window_rank_single_shuffle(spark):
    plan = explained(spark, "window_rank")
    assert n_nodes(plan, "Exchange") <= 1, plan


def test_asof_join_single_key_shuffle(spark):
    """The as-of union+window plan must shuffle each side once on the key
    and never range-explode into a join."""
    plan = explained(spark, "join_asof")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # one hashpartitioning exchange per union leg is the expected shape
    assert n_nodes(plan, "Exchange") <= 2, plan


def test_topk_uses_take_ordered(spark):
    """ORDER BY + LIMIT must collapse to TakeOrderedAndProject (per-partition
    heaps), never a global sort."""
    plan = explained(spark, "topk_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_text_ops_are_scan_fused_map_stages(spark):
    """Pure-expression text ops: no shuffle at all — they fuse into the scan."""
    for name in ("text_fingerprint", "text_token_count", "text_subword_tokens"):
        plan = explained(spark, name)
        assert "Exchange" not in plan, f"{name} shuffles: {plan}"


def test_queue_due_filter_pushdown(spark, tmp_path):
    """The per-trigger due predicate must reach the job-log parquet scan."""
    from flume_spark.queue import JobStore, QueueManager

    store = JobStore(spark, str(tmp_path / "jobs"))
    manager = QueueManager(spark, store)
    manager.bulk_enqueue("q0", [("W", "perform", [1])])
    df = manager.due_jobs("q0", 1_700_000_000.0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan
    assert "EqualTo(queue,q0)" in plan or "In(queue" in plan, plan


def test_claim_plan_scale_safe(spark, tmp_path):
    """The queue claim is a TWO-phase top-K: no task ever sorts a queue's
    whole backlog.  Phase 1 (the only data-sized exchange) partitions by
    (queue, _salt) so a hot queue spreads across claim_salts tasks; phase 2
    re-exchanges on queue alone but only over the per-salt top-demand
    survivors.  Structure gated here: exactly 2 exchanges, the one that
    sees the full log is salted, the queue-only one sits strictly above
    the per-salt demand filter (bounded input)."""
    import re

    from flume_spark.queue import JobStore, QueueManager

    store = JobStore(spark, str(tmp_path / "jobs"))
    manager = QueueManager(spark, store)
    manager.bulk_enqueue("q0", [("W", "perform", [i]) for i in range(5)])
    plan = explain_str(manager.claim_plan({"q0": 10, "q1": 10}, 1.7e9, 99))
    assert n_nodes(plan, "Exchange") == 2, plan
    assert "In(queue" in plan or "EqualTo(queue" in plan  # scan pushdown
    # node numbers grow scan->root: the first exchange (full data) must be
    # the salted one; the later (queue-only) exchange runs on bounded rows
    exchanges = re.findall(
        r"^\(\d+\) Exchange\n.*?Arguments: (hashpartitioning\([^\n]*)",
        plan,
        flags=re.MULTILINE | re.DOTALL,
    )
    assert len(exchanges) == 2, plan
    assert "_salt" in exchanges[0], exchanges
    assert "_salt" not in exchanges[1], exchanges
    # every window over the full log is salted: a queue-only window spec
    # may appear only in phase 2 (above the salted rank filter)
    specs = re.findall(r"windowspecdefinition\((queue#\d+(?:, \w+#\d+)*)", plan)
    salted = [s for s in specs if "_salt" in s]
    assert salted, f"no salted window in claim plan: {specs}"


# --- TPC-H extension shapes (tpch_extra.py) --------------------------------


def test_q9_single_shuffle_star(spark):
    """Q9: every dimension broadcasts; the only exchange is the final agg."""
    plan = explained(spark, "q9_product_profit")
    assert "SortMergeJoin" not in plan
    assert n_nodes(plan, "Exchange") <= 1, plan


def test_q12_q19_single_shuffle(spark):
    for name in ("q12_priority_lineclass", "q19_discounted_revenue"):
        plan = explained(spark, name)
        assert n_nodes(plan, "Exchange") <= 1, f"{name}: {plan}"
        assert "CartesianProduct" not in plan


def test_q12_shipdate_pushdown(spark):
    plan = explained(spark, "q12_priority_lineclass")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "In(l_returnflag" in plan or "EqualTo(l_returnflag" in plan


def test_q21_no_self_join(spark):
    """Q21's exists/not-exists collapses to one groupBy on l_orderkey —
    no lineitem self-joins, top-K via per-partition heaps."""
    plan = explained(spark, "q21_sole_returned_supplier")
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert n_nodes(plan, "Exchange") <= 3, plan


def test_q17_correlated_avg_broadcasts(spark):
    """The per-part avg must broadcast back into the fact scan, not SMJ."""
    plan = explained(spark, "q17_small_quantity_revenue")
    assert "SortMergeJoin" not in plan
    assert n_nodes(plan, "Exchange") <= 2, plan


def test_q20_semi_join_broadcasts(spark):
    plan = explained(spark, "q20_volume_suppliers")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_q16_bridge_prunes_lineitem(spark):
    """The part-supplier bridge must read only (l_partkey, l_suppkey)."""
    plan = explained(spark, "q16_supplier_part_counts")
    read = next(l for l in plan.splitlines() if "ReadSchema" in l and "l_partkey" in l)
    assert "l_extendedprice" not in read and "l_quantity" not in read


def test_fact_fact_joins_may_smj(spark):
    """Q7/Q8 join two fact tables (lineitem⋈orders): SMJ/shuffle-hash on the
    key is the *correct* 100 TB plan (broadcast would OOM); dims broadcast."""
    for name in ("q7_volume_shipping", "q8_market_share"):
        plan = explained(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert plan.count("BroadcastHashJoin") >= 2, name


# ---------------------------------------------------------------------------
# Round-2 queries
# ---------------------------------------------------------------------------


def test_salted_join_broadcasts_replicated_dim(spark):
    """The exploded dim stays broadcast (no shuffle added by salting) and
    the aggregate is the plan's only Exchange."""
    plan = explained(spark, "join_skew_salted")
    assert n_nodes(plan, "BroadcastHashJoin") == 1
    assert n_nodes(plan, "Exchange") == 1
    assert n_nodes(plan, "CartesianProduct") == 0


def test_histogram_single_shuffle(spark):
    plan = explained(spark, "agg_histogram")
    assert n_nodes(plan, "Exchange") == 1
    assert "HashAggregate" in plan  # partial+final agg, map-side combine


def test_funnel_no_cartesian_no_smj(spark):
    """Stage joins are equi-joins on user_id over tiny aggregates —
    broadcast, never cartesian or sort-merge at this scale."""
    plan = explained(spark, "events_funnel")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0


def test_tfidf_window_is_per_doc(spark):
    """The top-k window partitions by doc_id — no single-partition global
    sort anywhere in the plan."""
    plan = explained(spark, "text_tfidf_topk")
    assert "Window" in plan
    assert "SinglePartition" not in plan.split("Window")[1].split("\n")[0]
    assert n_nodes(plan, "CartesianProduct") == 0


def test_range_frame_single_window_shuffle(spark):
    plan = explained(spark, "window_range_frame")
    assert n_nodes(plan, "Exchange") == 1  # one hash partition by o_custkey
    assert "RangeFrame" in plan


def test_lsh_verified_no_inverted_self_join(spark):
    """The blessed near-dup path: candidate generation is a banded equi-join
    and verification joins the CANDIDATE list back to the shingle index —
    never a cartesian product, and every join is an equi-join (no theta
    explosion).  This is the plan property that keeps verification linear
    in the candidate count at 100 TB."""
    plan = explained(spark, "dedup_lsh_verified")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert "BroadcastNestedLoopJoin" not in plan


def _lambda_bodies(plan: str) -> list[str]:
    """The argument text of every lambdafunction(...) in a plan string."""
    bodies = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth and i < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        bodies.append(plan[m.end() : i - 1])
    return bodies


def test_lsh_verified_tokenizes_once(spark, monkeypatch):
    """Shingling splits each document once, in a projection below the
    per-position lambda: Catalyst never hoists an expression out of a
    lambda, so a split inside it re-tokenizes the whole document per
    shingle (O(words^2) per doc).  The shingle index is materialized by
    localCheckpoint, so the plans of checkpointed frames are checked too."""
    df_cls = type(spark.range(1))
    real = df_cls.localCheckpoint
    plans = []

    def recording(self, *args, **kwargs):
        plans.append(explain_str(self))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(df_cls, "localCheckpoint", recording)
    plans.append(explained(spark, "dedup_lsh_verified"))
    bodies = [b for plan in plans for b in _lambda_bodies(plan)]
    assert bodies, "no shingle lambda in any plan — the check is vacuous"
    assert not [b for b in bodies if "split(" in b], bodies


def test_kmeans_assign_broadcasts_centroids(spark):
    """Assignment replicates each point against the k-row centroid frame via
    broadcast (nested-loop over k rows), then one groupBy(id): the point
    table is never shuffled to the centroids."""
    plan = explained(spark, "kmeans_assign")
    assert "BroadcastNestedLoopJoin" in plan
    assert n_nodes(plan, "SortMergeJoin") == 0


def test_lsh_buckets_is_scan_fused_map_stage(spark):
    """Bucket assignment is pure expressions (dot products against literal
    hyperplanes): it must fuse into the scan with zero shuffles."""
    plan = explained(spark, "lsh_buckets")
    assert n_nodes(plan, "Exchange") == 0, plan


def test_queue_pending_counts_single_shuffle(spark):
    plan = explained(spark, "queue_pending_counts")
    assert n_nodes(plan, "Exchange") <= 1, plan


def test_sample_weighted_uses_take_ordered(spark):
    """The weighted draw keys in a map stage and takes top-k via
    per-partition heaps — never a global sort of the corpus."""
    plan = explained(spark, "sample_weighted")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_mixture_weights_single_shuffle_broadcast_total(spark):
    """One partial-agg shuffle on the group key; the one-row total joins
    back by broadcast, never a second data-sized shuffle."""
    plan = explained(spark, "mixture_weights")
    assert n_nodes(plan, "Exchange hashpartitioning") <= 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_source_cap_single_shuffle_window(spark):
    """Domain cap is one Exchange on the source key + per-group top-k
    window; the quality expression stays in the map stage."""
    plan = explained(spark, "source_cap")
    assert n_nodes(plan, "Exchange") <= 1, plan
    assert "SinglePartition" not in plan


def test_text_normalize_is_scan_fused(spark):
    plan = explained(spark, "text_normalize")
    assert n_nodes(plan, "Exchange") == 0, plan


def test_interval_join_is_binned_equi_join(spark):
    """The overlap join must plan as an equi-join on the time-bin key —
    never the cartesian/nested-loop Catalyst produces for a pure range
    condition (|L|x|R| at scale)."""
    plan = explained(spark, "join_interval")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_no_declared_query_plans_a_cartesian_product(spark):
    """Global plan-hygiene gate: across the ENTIRE declared surface no
    query may plan a CartesianProduct (broadcast-nested-loop with a
    bounded broadcast side is the accepted non-equi form), and none may
    exceed 12 exchanges — a regression here is a scale bug even when the
    sf0.01 answer stays correct.  Each query is explained with the cache
    CLEARED first (the bench's round-13 per-entry hygiene): live cached
    subtrees from earlier tests — or from earlier queries in this very
    loop — add exchanges to a printed plan that are the SESSION's state,
    not the query's shape (dedup_ngram_jaccard_capped showed 11 mid-suite
    vs 10 fresh; dedup_prefix_filter 13 vs 11), which made this gate
    order-dependent.

    Known truncation (round-15 ADVICE): queries that eagerly
    localCheckpoint a staged subtree at CONSTRUCTION time (e.g.
    dedup_substring_clean's stage_tokens=True token frame, the
    substring_max_dup_span precedent) present a lineage cut at the
    checkpoint scan, so this cap bounds the post-checkpoint plan only —
    the staged subtree's exchanges are spent before explain sees them.
    The per-operator plan gates and PLAN_AUDIT carry the same property;
    treat the 12 as a per-visible-plan bound, not a whole-query one."""
    from flume_spark.plans import n_nodes

    offenders, heavy = [], []
    for name, fn in QUERIES.items():
        spark.catalog.clearCache()
        plan = explain_str(fn(spark, SF_ORACLE))
        if "CartesianProduct" in plan:
            offenders.append(name)
        if n_nodes(plan, "Exchange") > 12:
            heavy.append((name, n_nodes(plan, "Exchange")))
    assert not offenders, f"cartesian product planned by: {offenders}"
    assert not heavy, f"more than 12 exchanges in: {heavy}"


def test_rollup_topk_window_is_one_expand_one_shuffle(spark):
    """The TPC-DS Q67 composition: the 4-level rollup must plan as ONE
    Expand feeding one partial-agg shuffle (never 4 scans), and the
    window must partition by grouping level — no single-partition stage
    anywhere."""
    plan = explained(spark, "rollup_topk_window")
    assert n_nodes(plan, "Expand") == 1, plan
    assert n_nodes(plan, "Scan parquet") == 1
    assert "SinglePartition" not in plan


def test_channel_share_gsets_is_one_expand_one_shuffle(spark):
    """GROUPING SETS + share-of-level window: one Expand, one base scan,
    window partitioned by lvl (4 aggregate-sized partitions)."""
    plan = explained(spark, "channel_share_gsets")
    assert n_nodes(plan, "Expand") == 1, plan
    assert n_nodes(plan, "Scan parquet") == 1
    assert "SinglePartition" not in plan


def test_orders_monthly_remerge_shuffles_partials_only(spark):
    """The pre-agg pattern: one base-table exchange at the day grain, then
    the month rollup re-shuffles only the |days| partial rows — exactly 2
    hash exchanges, both with partial aggregation below them."""
    plan = explained(spark, "orders_monthly_remerge")
    assert n_nodes(plan, "Exchange") == 2, plan
    assert "SinglePartition" not in plan
    # both levels carry map-side partial aggregation
    assert plan.count("partial_sum") >= 2


def test_substring_dedup_no_pairwise(spark):
    """Exact-substring dedup is LINEAR in corpus size: window rows meet the
    duplicated-hash set through equi-joins only — no cartesian product and
    no nested-loop pairwise leg anywhere in the plan.  This is the property
    that lets the Lee-et-al-style span pass run where pairwise similarity
    cannot."""
    plan = explained(spark, "dedup_substring_exact")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_broadcasts_only_centroids(spark):
    """SemDeDup's pairwise leg is ONE exchange on the cluster key feeding a
    per-cluster Arrow matmul — via the cluster-sorted MapInPandas kernel
    (kernels.grouped_arrow_apply: per-partition pandas boundary, since k ∝ n
    makes the clusters small and numerous) — never a theta join between
    point tables; the centroid nested-loop lives inside the materialized
    assignment (checkpointed once), so the final plan carries no
    nested-loop node at all."""
    plan = explained(spark, "dedup_semantic")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert "MapInPandas" in plan
    assert "hashpartitioning(cluster" in plan, plan


def test_substring_clean_no_pairwise(spark):
    """The span-removal action stays linear like the stats pass: canonical
    selection is a map-side-combinable min-struct aggregate and coverage
    meets words through equi-joins on (id, wpos) — no cartesian, no
    nested-loop node anywhere."""
    plan = explained(spark, "dedup_substring_clean")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert "BroadcastNestedLoopJoin" not in plan


def test_multimodal_cosine_pairs_are_cluster_grouped(spark):
    """The media near-dup pairing leg must carry the k-means candidate
    stage: the block-matmul's groupBy key includes the cluster id (grp), so
    pairing cost is sum(cluster_pop^2), never n^2 — and no nested-loop or
    cartesian pairing anywhere.  This is the gate on round 8's one weak
    plan."""
    plan = explained(spark, "dedup_multimodal_cosine")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan
    # the group key of the pairing exchange must include the cluster column
    assert "hashpartitioning(grp" in plan, plan


def test_substring_hot_uses_take_ordered(spark):
    """The boilerplate report's top-N must collapse to per-partition heaps
    (TakeOrderedAndProject), never a global range sort over every window
    hash."""
    plan = explained(spark, "dedup_substring_hot")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_lm_perplexity_model_sided_joins_no_python(spark):
    """The LM perplexity filter must stay entirely JVM-side (no Python
    boundary anywhere) with no pairwise leg: the corpus meets the model
    through equi-joins only, and the 1-row vocab rides as a broadcast
    (its nested-loop is a single-row broadcast, the only BNLJ allowed)."""
    plan = explained(spark, "text_lm_perplexity")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    # the only nested-loop is the 1-row vocab scalar broadcast
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 1
    assert "BroadcastExchange" in plan  # contexts/vocab broadcast
    # Round-14 (driver-record drift post-mortem): the tf⋈bigram-model join
    # must be PINNED to BroadcastHashJoin — the r13 gate accepted an SMJ
    # fallback here, which let an AQE non-conversion degrade the driver
    # run 6.9x with no gate tripping.
    assert n_nodes(plan, "SortMergeJoin") == 0, plan
    assert n_nodes(plan, "BroadcastHashJoin") >= 1


def test_lm_backoff_model_sided_joins_no_python(spark):
    """Same gates for the trigram stupid-backoff scorer: three count
    tiers, all equi-joined; one 1-row totals broadcast; no Python."""
    plan = explained(spark, "text_lm_backoff")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 1
    assert "BroadcastExchange" in plan
    # all three model-tier joins pinned to broadcast (round-14, same
    # rationale as the perplexity gate above)
    assert n_nodes(plan, "SortMergeJoin") == 0, plan
    assert n_nodes(plan, "BroadcastHashJoin") >= 3


def test_classifier_train_hashed_bounded_feature_space(spark):
    """The hashed trainer's weight states are bucket-spine sized: every
    weight join is a broadcast (never a sort-merge over a data-sized
    side), and nothing is pairwise or Python."""
    plan = explained(spark, "text_classifier_train_hashed")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_multimodal_align_equi_joins_single_python_boundary(spark):
    """The cross-modal alignment gate (round-13): id-equi-joins only —
    no cartesian/nested-loop pairing leg — with exactly ONE Python
    boundary (the media feature Arrow kernel; the caption encoder and
    the integer cosine are whole-stage-codegen JVM expressions)."""
    plan = explained(spark, "multimodal_align")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert "BroadcastNestedLoopJoin" not in plan
    assert n_nodes(plan, "MapInPandas") == 1, plan
    # no row-at-a-time python: the scoring is plain projections
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_media_funnel_align_stage_adds_no_python_boundary(spark):
    """The funnel's stage-6 alignment gate must not add a second Python
    boundary per stage: the only MapInPandas kernels in the whole plan
    are the per-modality feature/fingerprint extractions, and the gate
    itself joins on id (no pairing leg)."""
    plan = explained(spark, "media_funnel")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_verified_verify_legs_broadcast(spark):
    """The LSH->exact-verify pipeline's verify legs (candidates joined to
    the shingle index; aggregated pair counts joined to the per-doc size
    table) are candidate-bounded and carry explicit broadcast hints —
    round-14's pin after the r13 driver record showed an unhinted verify
    join degrading 3.3x with a clean compile-time audit.  At the fixed
    oracle scale every join in the pipeline (including the banded
    candidate self-join, which legitimately shuffles at 100 TB) resolves
    to a hash or broadcast join: a SortMergeJoin ANYWHERE here means a
    pin was lost."""
    plan = explained(spark, "dedup_lsh_verified")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0, plan
    assert n_nodes(plan, "BroadcastHashJoin") >= 3


def test_ivfpq_codes_carry_cell_no_query_time_join(spark):
    """IVF-PQ's persisted index stores each vector's coarse cell next to
    its codes (attached once at encode time, round-14): the query plan
    must contain NO join between the codes table and the vectors table —
    the only joins left are the broadcast LUT probes.  The r13 driver
    record flagged this query 7.6x over band; the stats-less
    (checkpointed) codes frame meeting a data-sized cells scan was the
    one AQE-decided join in the pipeline."""
    plan = explained(spark, "ann_topk_ivfpq")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0, plan
    # every remaining join carries an explicit broadcast hint
    assert n_nodes(plan, "BroadcastHashJoin") >= 1
