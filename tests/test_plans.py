"""Physical-plan audits: the properties that make these queries viable
at 100 TB, pinned so they cannot regress.

- filters reach the parquet scan (PushedFilters)
- column pruning reaches the scan (ReadSchema lists only needed columns)
- dimension joins broadcast (no shuffle of the fact table)
- aggregations are partial (map-side combine before the exchange)
- top-k is TakeOrderedAndProject (per-partition heap, no global sort)
- no operator ever degenerates into a CartesianProduct
"""

from __future__ import annotations

import re

import pytest

from nashville_etl_service_backup_spark.queries import extended_queries

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = extended_queries()[name](spark, SF)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(jmode)


def test_q01_scan_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate at the scan
    # pruning: untouched columns never leave the parquet reader
    assert "l_partkey" not in plan
    assert "l_suppkey" not in plan
    assert "partial_sum" in plan  # map-side combine


def test_q03_broadcasts_dimensions(spark):
    plan = plan_of(spark, "q03_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # dim filter pushed
    assert "CartesianProduct" not in plan


def test_q05_no_cartesian_all_dims_broadcast(spark):
    plan = plan_of(spark, "q05_local_supplier")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q06_conjunctive_pushdown(spark):
    plan = plan_of(spark, "q06_forecast_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount,0.03)" in plan
    assert "LessThan(l_quantity,24.0)" in plan


def test_topk_is_take_ordered(spark):
    plan = plan_of(spark, "sim_topk_bruteforce")
    assert "TakeOrderedAndProject" in plan
    for name in ("q03_shipping_priority", "q10_returned_items"):
        assert "TakeOrderedAndProject" in plan_of(spark, name)


def test_paginate_is_topk_not_global_window(spark):
    """O3: pagination must be TakeOrderedAndProject (top page*per_page
    heap that applies the OFFSET itself) — never a window over the table
    (the single-partition global-sort scale-killer)."""
    plan = plan_of(spark, "q_paginate_events")
    # the limit exists and plans as a top-k heap: this is what bounds the
    # rows past the scan to page*per_page
    assert "TakeOrderedAndProject" in plan
    # no global sort anywhere (the pre-fix shape had none either, but a
    # naive orderBy-without-limit regression would reintroduce one)
    assert "rangepartitioning" not in plan
    # the OFFSET needs no row numbering
    assert "Window" not in plan


def test_semi_anti_join_strategies(spark):
    assert "LeftSemi" in plan_of(spark, "q_semi_join_urgent")
    assert "LeftAnti" in plan_of(spark, "q_anti_join_inactive")


def test_dedup_joins_are_equi_joins(spark):
    # candidate generation must be hash-joinable — a cross product here
    # is the difference between viable and unrunnable at scale
    for name in ("dedup_lsh_pairs", "dedup_ngram_jaccard", "dedup_simhash_pairs",
                 "dedup_embedding_pairs"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_etl_pipeline_single_pass(spark):
    plan = plan_of(spark, "q_etl_pipeline")
    assert "CartesianProduct" not in plan
    # dispatch is a when-cascade projection, not a filter-per-branch
    # union (which would re-scan the raw zone once per source)
    assert "Union" not in plan
    assert "InMemoryTableScan" not in plan
    # dedup = ONE exchange keyed on url (SortAggregate within partitions
    # afterwards is fine — it streams; a global sort would not be)
    assert "hashpartitioning(url" in plan
    assert "rangepartitioning" not in plan


def test_serving_filters_prune_scan(spark):
    plan = plan_of(spark, "q_count_purchases")
    assert "EqualTo(event_type,purchase)" in plan
    assert "GreaterThan(value,50.0)" in plan


def test_bm25_stats_broadcast(spark):
    """BM25's corpus-stats join must be a broadcast (single-row build
    side), never a shuffle of the corpus."""
    plan = plan_of(spark, "text_bm25_topk")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_bins_no_global_sort(spark):
    """Packing must sort per hash stream (partitioned window), never
    globally; the only rangepartitioning allowed is the final small
    ORDER BY of the aggregated (stream, pack) rows."""
    plan = plan_of(spark, "text_pack_bins")
    assert "hashpartitioning(stream" in plan
    # the per-doc window runs on the hash-partitioned stream, so no
    # single-partition Exchange feeds the Window node
    window_part = plan.split("Window")[0]
    assert "SinglePartition" not in window_part


def test_contamination_is_equi_join(spark):
    plan = plan_of(spark, "text_contamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_scrub_is_narrow(spark):
    """PII scrub is a pure projection: no Exchange at all before the
    final ORDER BY."""
    plan = plan_of(spark, "text_pii_scrub")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 2  # only the output ordering


def test_spread_noop_on_wide_input(spark):
    """spread() must be identity when the input already has >= cores
    partitions (the 100 TB many-file-scan case) and must add exactly one
    round-robin Exchange when the input is a single unsplittable blob
    (the single-row-group parquet case)."""
    from nashville_etl_service_backup_spark.operators import spread

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000).repartition(par)
    assert spread(wide) is wide  # no new plan node at all

    narrow = spark.range(0, 10_000).coalesce(1)
    out = spread(narrow)
    assert out.rdd.getNumPartitions() == par * 2


def test_zscore_has_no_python_stage(spark):
    """Per-group z-score must be agg + broadcast join, not grouped-map
    pandas: no Python/Arrow node, stats side broadcast."""
    plan = plan_of(spark, "text_zscore_by_lang")
    assert "FlatMapGroupsInPandas" not in plan
    assert "BroadcastHashJoin" in plan


def test_semantic_dedup_no_cartesian(spark):
    # the within-cluster pairing must be an equi-join on cent_id; the
    # only nested-loop joins allowed are the broadcast-tiny centroid
    # crossJoins inside the quantizer
    plan = plan_of(spark, "dedup_semantic_pairs")
    assert "CartesianProduct" not in plan


def test_lm_quality_model_broadcast_and_jvm_only(spark):
    plan = plan_of(spark, "text_lm_quality")
    assert "CartesianProduct" not in plan
    # the bounded trigram model is broadcast into the scoring join —
    # the gram stream itself must never shuffle
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_boilerplate_strip_is_anti_join(spark):
    plan = plan_of(spark, "text_boilerplate_strip")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def _around_round_robin(
    plan: str, node: str = "Filter"
) -> tuple[int, int]:
    """(``node``s with a round-robin Exchange below them, ``node``s
    below one) in an explain tree."""
    # tree lines only: a condition's string literals can break lines
    lines = [ln for ln in plan.splitlines() if re.match(r"[ :]*[+:]- \S", ln)]

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    head = re.compile(rf"[ :]*[+:]- {node}\b")
    above = below = 0
    for i, ln in enumerate(lines):
        if not head.match(ln):
            continue
        sub = []
        for nxt in lines[i + 1 :]:
            if depth(nxt) <= depth(ln):
                break
            sub.append(nxt)
        if any("RoundRobinPartitioning" in x for x in sub):
            above += 1
    for i, ln in enumerate(lines):
        if "Exchange RoundRobinPartitioning" not in ln:
            continue
        for nxt in lines[i + 1 :]:
            if depth(nxt) <= depth(ln):
                break
            below += bool(head.match(nxt))
    return above, below


@pytest.mark.parametrize(
    "name", ["text_filter_funnel", "llm_tokenize_pack", "text_repetition"]
)
def test_curation_funnel_runs_in_jvm(spark, name):
    """The funnel and the repetition signals are built-in expressions: no
    Python evaluation stage in the plan. (llm_corpus_curation's funnel
    sits behind its kept-set checkpoint; the placement test below
    checks its kept frame.)"""
    plan = plan_of(spark, name)
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_funnel_filters_stay_above_spread(spark):
    """The funnel's Filters sit above spread()'s round-robin Exchange (a
    CollectMetrics node stops Catalyst from pushing them into the
    scan's single task), and text_filter_funnel tallies its one verdict
    column with no Union."""
    from nashville_etl_service_backup_spark.operators import spread
    from nashville_etl_service_backup_spark.queries.llmdata import (
        _funnel_verdicts,
    )
    from nashville_etl_service_backup_spark.tables import load

    def simple(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    docs = spread(load(spark, SF, "documents"))
    verdicts = _funnel_verdicts(docs, keep_cols=("doc_id", "lang"))
    kept = verdicts.filter("verdict = 'kept'").select("doc_id", "text")
    assert "EvalPython" not in simple(kept)
    above, below = _around_round_robin(simple(kept))
    assert (above, below) == (1, 0)

    funnel = simple(extended_queries()["text_filter_funnel"](spark, SF))
    assert "Union" not in funnel
    assert _around_round_robin(funnel)[1] == 0
    assert _around_round_robin(funnel, "CollectMetrics") == (1, 0)


def test_chunk_windows_tokenize_once_above_spread(spark):
    """Chunking explodes the chunk expression itself: no size() > 0
    Filter is inferred and pushed below spread()'s round-robin Exchange,
    so the tokenizer runs once per document, in the spread tasks."""
    df = extended_queries()["text_chunk_windows"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _around_round_robin(plan) == (0, 0)
    assert _around_round_robin(plan, "Generate") == (1, 0)


def test_dup_spans_hashed_equi_join_no_text_shuffle(spark):
    """Duplicated-span audit: candidate aggregation and the doc-frequency
    join move only (md5 hash, id, count) — document text never crosses an
    Exchange — and every join is an equi-join."""
    plan = plan_of(spark, "text_dup_spans")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)
    assert "partial_count" in plan or "partial_sum" in plan


def test_bpe_encode_is_narrow_jvm_projection(spark):
    """Tokenizer apply: no hash/range shuffle and zero Python stages —
    the whole merge chain stays in JVM expressions. (The one allowed
    Exchange is spread()'s round-robin fan-out of the single-split test
    scan, a no-op on multi-split production inputs.)"""
    plan = plan_of(spark, "text_bpe_encode")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_dsir_sample_broadcasts_counts_no_wide_shuffle(spark):
    """Importance resampling: the per-group count joins back by
    broadcast; the corpus itself is never hash-repartitioned."""
    plan = plan_of(spark, "text_dsir_sample")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        # only the tiny group-count aggregate may hash-shuffle
        assert "doc_id" not in m.group(1)


def test_hybrid_rrf_windows_over_candidates_only(spark):
    """RRF fusion: the single-partition windows run over top-50
    candidate lists (bounded by the retrievers' TakeOrderedAndProject
    heaps), never over the corpus."""
    plan = plan_of(spark, "hybrid_search_rrf")
    assert "TakeOrderedAndProject" in plan  # both retrievers reduce first
    assert "CartesianProduct" not in plan
    # final fuse is a top-k heap too, not a global sort of fused rows
    assert plan.count("TakeOrderedAndProject") >= 2


def test_snapshot_delta_single_equi_join(spark):
    """Snapshot diff: one full-outer equi-join on the id, fingerprints
    (not text) as the only payload."""
    plan = plan_of(spark, "text_snapshot_delta")
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)


def test_quality_classifier_trains_without_wide_shuffle(spark):
    """GD training/scoring plan: standardization stats ride a broadcast
    1-row join, no FlatMapGroupsInPandas, no CartesianProduct, and the
    document rows never hash-shuffle (the only exchanges are the
    single-partition aggregate trees)."""
    plan = plan_of(spark, "text_quality_classifier")
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats frame
    assert "hashpartitioning" not in plan  # doc rows never key-shuffle


def test_quality_tree_single_histogram_shuffle_per_node(spark):
    """Tree scoring plan: leaf stats broadcast back; no cartesian, no
    pandas stages — split search happened at build time over the
    (feature,bin) histogram only."""
    plan = plan_of(spark, "text_quality_tree")
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # 4-row leaf table join-back


def test_classifier_eval_windows_over_histogram_only(spark):
    """AUC plan: the rank window runs over the distinct-score histogram
    (post-aggregate), never the raw rows — the Sort feeding the Window
    consumes an aggregate, and no per-row global sort appears."""
    plan = plan_of(spark, "text_classifier_eval")
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # the window's sort input is the grouped histogram, not raw docs:
    # the aggregate must appear below the window in the plan tree
    assert plan.index("HashAggregate") < plan.index("Window") or (
        "SortAggregate" in plan
    )


def test_quantize_recall_twin_topk_heaps(spark):
    """Both rankings (exact + quantized) end in TakeOrderedAndProject
    heaps; the scale and query vector broadcast; never a cartesian."""
    plan = plan_of(spark, "sim_quantize_recall")
    # two heap nodes (each named twice in formatted output: tree + detail)
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan


def test_sparse_cosine_is_posting_join_topk(spark):
    """tf-idf scoring is equi-joins over the postings + a top-k heap —
    no cartesian, no corpus-wide global sort."""
    plan = plan_of(spark, "sim_sparse_cosine")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # postings index materialized once


def test_bigram_lm_counts_are_partial(spark):
    """Model counts map-side combine before their shuffles; scoring is
    equi-joins (the 100 TB plan: bigram vocab can exceed broadcast)."""
    plan = plan_of(spark, "text_bigram_lm")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_compaction_plan_no_data_sort(spark):
    """The planner windows the metadata manifest only: one hash
    exchange on the partition key; the final ORDER BY sorts the
    (partition, bin) summary, not the manifest."""
    plan = plan_of(spark, "q_compaction_plan")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_forget_cascade_broadcasts_tombstones(spark):
    """The tombstone set broadcasts into every branch — the raw scan is
    never shuffled on user_id for the erasure tag."""
    plan = plan_of(spark, "q_forget_cascade")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bootstrap_draws_are_codegen_side(spark):
    """The Poisson draw pipeline stays in whole-stage codegen: block
    explode + md5 projection + posexplode of the count array — no
    Python stages, no cartesian."""
    plan = plan_of(spark, "q_bootstrap_ci")
    assert "Generate posexplode" in plan or "posexplode" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_silhouette_no_window_rowlocal_top2(spark):
    """The per-vector (own-centroid, nearest-other) pair comes from a
    per-row Arrow-batched numpy sweep over the collected centroid
    artifact (round 6.1) — no row_number window, no per-vector top-2
    AGGREGATE (the r5 struct aggregate still exchanged ~n partial
    rows), and no interpreted HOF sort_array per row (the r6.0 shape):
    nothing shuffles per vector."""
    plan = plan_of(spark, "sim_cluster_silhouette")
    assert "Window" not in plan
    assert "ArrowEvalPython" in plan  # row-local top-2, Arrow kernel
    assert "CartesianProduct" not in plan


def test_kmeans_assignment_rowlocal_no_argmax_agg_no_rejoin(spark):
    """Round 6.1: nearest-centroid assignment is an Arrow-batched
    numpy sweep against the collected centroid artifact
    (nearest_centroid_vectorized) — no |vectors|×k argmax aggregate
    (partial_max absent), no pts⋈assigned SortMergeJoin re-shuffling
    the vectors, and no n×k row explosion. Re-centering keeps the
    posexplode → combinable decimal-sum shape (the r5 wide-aggregate
    alternative was a measured loss; see kmeans_centroids'
    docstring)."""
    for q in (
        "sim_cluster_silhouette",
        "dedup_semantic_pairs",
        "sim_ann_ivf",
    ):
        plan = plan_of(spark, q)
        assert "partial_max" not in plan, q  # argmax aggregate gone
        assert "ArrowEvalPython" in plan, q  # row-local Arrow assignment
    # silhouette has no join at all beyond the quantizer fit — any SMJ
    # would be the old pts⋈assigned vector re-shuffle
    assert "SortMergeJoin" not in plan_of(spark, "sim_cluster_silhouette")


def test_degree_dist_single_pair_scan(spark):
    """The LSH pair subtree appears once (explode of [doc_a, doc_b]),
    not once per union branch — the pair graph is derived a single
    time per run."""
    plan = plan_of(spark, "dedup_degree_dist")
    # documents parquet is scanned once by the LSH subtree and once for
    # the degree-0 left join — a union-of-selects formulation would
    # duplicate the whole LSH subtree (3+ scans)
    assert plan.count("Location: InMemoryFileIndex") <= 2
    assert "Union" not in plan
    assert "CartesianProduct" not in plan


def test_recall_audit_single_consumption_union_hashagg(spark):
    """Both pair finders feed ONE union + per-pair hash aggregate —
    no persisted-branch re-derivation (each finder evaluated once),
    and no sorted full-outer join: the pair frames cross one exchange,
    unsorted."""
    plan = plan_of(spark, "dedup_recall_audit")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Union" in plan
    # each finder is derived once — the old three-count-branch
    # formulation re-entered each finder subtree from multiple parents.
    # One documents scan is the exact finder's; the LSH finder reads
    # its one signature checkpoint through exactly four leaves (both
    # sides of the band self-join, both sides of the verify join)
    assert plan.count("Location: InMemoryFileIndex") == 1
    leaves = re.findall(
        r"^Arguments: .*?(\w+RDD\[\d+\]).*, ExistingRDD,", plan, re.M
    )
    assert len(leaves) == 4, leaves
    assert len(set(leaves)) == 1, leaves
