"""Plan-regression tests: the physical-plan properties SCALE.md claims
(pushdown, pruning, broadcast, distributed top-k, exchange reuse) are
asserted so optimizer regressions fail CI, not the bench."""

from __future__ import annotations

import pytest

from pandas_etl_spark.catalog import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    jvm = spark._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached parquet
    assert "HashAggregate" in plan
    # column pruning: untouched columns never leave the scan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_selective_filter_fully_pushed(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_project")
    assert "GreaterThanOrEqual(p_size,30)" in plan
    assert "EqualTo(p_brand,Brand#3)" in plan


def test_dim_joins_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_dims_broadcast")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_topk_is_distributed(spark, sf_dir):
    for name in ("top_revenue_orders", "sort_limit"):
        plan = plan_of(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "GlobalSort" not in plan, name


def test_semi_anti_native(spark, sf_dir):
    assert "LeftSemi" in plan_of(spark, sf_dir, "semi_join")
    assert "LeftAnti" in plan_of(spark, sf_dir, "anti_join")


def test_ngram_selfjoin_stays_equi(spark, sf_dir):
    """The inverted-index self-join must stay an equi join on the shingle
    — never a cartesian/BNLJ. (Exchange reuse only materializes once the
    exploded side exceeds the broadcast threshold; at test scale Catalyst
    broadcasts it, which is also fine.)"""
    plan = plan_of(spark, sf_dir, "ngram_jaccard_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_single_shuffle(spark, sf_dir):
    """The as-of join must not shuffle more than once per side: one
    Exchange for the union+window (plus AQE reads), no join at all."""
    plan = plan_of(spark, sf_dir, "asof_join_events")
    assert "Join" not in plan or "BroadcastHashJoin" not in plan
    assert plan.count("Exchange") <= 4  # union window + pre-agg of clicks


def test_exact_dedup_semi_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dedup_exact")
    assert "LeftSemi" in plan


def test_trade_volume_dims_broadcast(spark, sf_dir):
    """Q7 shape: supplier + both nation lookups broadcast; the fact side
    never shuffles for a dimension."""
    plan = plan_of(spark, sf_dir, "trade_volume")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_sample_hash_is_narrow(spark, sf_dir):
    """Hash sampling must stay a scan+filter — no Exchange at all."""
    plan = plan_of(spark, sf_dir, "sample_hash")
    assert "Exchange" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # column pruning: only the three selected columns leave the scan
    assert "o_orderdate" not in read_schema and "o_comment" not in read_schema


def test_qcut_has_no_global_sort(spark, sf_dir):
    """qcut via percentile cutpoints: no Sort over the full table, and
    the one-row cutpoint side is broadcast."""
    plan = plan_of(spark, sf_dir, "qcut_quartiles")
    assert "Sort " not in plan and "GlobalSort" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_profile_is_single_scan(spark, sf_dir):
    """The profiler computes every counter in ONE pass over the data."""
    plan = plan_of(spark, sf_dir, "profile_columns")
    # formatted mode lists each node twice (tree + detail): count tree rows
    assert plan.count("+- Scan parquet") == 1


def test_rolling_time_window_single_shuffle(spark, sf_dir):
    """One Exchange on user_id feeds both window aggregates."""
    plan = plan_of(spark, sf_dir, "rolling_time_window")
    assert plan.count("+- Exchange") == 1
    assert "hashpartitioning(user_id" in plan


def test_tpch_q15_no_cartesian_and_scalar_subquery(spark, sf_dir):
    """Q15: revenue CTE + scalar-subquery max must stay hash-joined —
    the only cross product allowed is the broadcast of the 1-row max."""
    plan = plan_of(spark, sf_dir, "tpch_q15_top_supplier")
    assert "CartesianProduct" not in plan
    assert "Subquery" in plan or "BroadcastNestedLoopJoin" in plan


def test_tpch_q2_decorrelated(spark, sf_dir):
    """The correlated max subquery must decorrelate into an aggregate +
    join, not a per-row re-execution."""
    plan = plan_of(spark, sf_dir, "tpch_q2_shape")
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_upsert_single_shuffle_join(spark, sf_dir):
    """MERGE emulation: ONE key-partitioned join, no broadcast assumption
    violated into a nested loop."""
    plan = plan_of(spark, sf_dir, "upsert_snapshot")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_only_broadcast_crossjoin(spark, sf_dir):
    """TF-IDF: the N-count join is a 1-row broadcast; the term df join is
    an equi join — nothing quadratic."""
    plan = plan_of(spark, sf_dir, "tfidf_top_terms")
    assert "CartesianProduct" not in plan


def test_rank_methods_single_shuffle(spark, sf_dir):
    """All five rank methods share the o_orderstatus partitioning: one
    exchange, several windows over it."""
    plan = plan_of(spark, sf_dir, "rank_methods")
    assert plan.count("Exchange hashpartitioning(o_orderstatus") <= 2


def test_tpch_q14_q19_broadcast_and_pushdown(spark, sf_dir):
    q14 = plan_of(spark, sf_dir, "tpch_q14_promo_revenue")
    assert "BroadcastHashJoin" in q14 and "SortMergeJoin" not in q14
    # the date window reached the lineitem parquet scan
    assert "GreaterThanOrEqual(l_shipdate" in q14
    q19 = plan_of(spark, sf_dir, "tpch_q19_disjunctive")
    assert "BroadcastHashJoin" in q19 and "CartesianProduct" not in q19


def test_winsorize_broadcasts_cutpoints(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "winsorize_values")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_decontaminate_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "decontaminate")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mixture_sample_broadcasts_counts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "mixture_sample")
    assert "BroadcastHashJoin" in plan


def test_tpch_q8_single_fact_shuffle(spark, sf_dir):
    """Q8's seven-way join: every dimension broadcasts; the only
    sort-merge/shuffled join permitted is lineitem⋈orders."""
    plan = plan_of(spark, sf_dir, "tpch_q8_market_share")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 5
    non_broadcast = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert non_broadcast <= 1, plan


def test_tpch_q21_decorrelated_no_cartesian(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair must run as the order-level
    aggregate + join, never a correlated per-row re-execution or a
    cross product."""
    plan = plan_of(spark, sf_dir, "tpch_q21_waiting_supplier")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_tpch_q4_semi_join(spark, sf_dir):
    """Q4's EXISTS compiles to a semi join (no row multiplication +
    dedup), with the order-window filter pushed to the orders scan."""
    plan = plan_of(spark, sf_dir, "tpch_q4_priority_check")
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_unigram_logprob_broadcasts_vocab(spark, sf_dir):
    """The top-V vocabulary and the 1-row totals must broadcast back onto
    the exploded tokens — a second full shuffle of the token stream
    would double the heaviest stage."""
    plan = plan_of(spark, sf_dir, "unigram_logprob_score")
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_bigram_logprob_broadcasts_counts(spark, sf_dir):
    """Both bounded count tables (≤V+1 histories, ≤(V+1)² bigrams) and
    the vocabulary must broadcast back onto the bigram stream — only
    the (id,pos) positional self-join may shuffle it."""
    plan = plan_of(spark, sf_dir, "bigram_logprob_score")
    assert plan.count("BroadcastExchange") >= 3
    assert "CartesianProduct" not in plan


def test_dedup_incremental_anti_joins_no_cartesian(spark, sf_dir):
    """Stop-shingle filtering compiles to two anti joins (NOT broadcast-
    hinted: the stop set grows with corpus size per Heaps' law — AQE
    broadcasts dynamically when it is actually small); no cross
    products anywhere."""
    plan = plan_of(spark, sf_dir, "dedup_incremental")
    assert plan.count("LeftAnti") >= 2
    assert "CartesianProduct" not in plan


def test_tpch_q7_single_fact_shuffle(spark, sf_dir):
    """Q7: all four dims broadcast; the only shuffled join is
    lineitem⋈orders; the 2-year ship window pushes into the scan."""
    plan = plan_of(spark, sf_dir, "tpch_q7_nation_volume")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    non_broadcast = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert non_broadcast <= 1, plan
    assert "1996" in plan  # pushed l_shipdate bound


def test_pmi_vocab_broadcast_and_topk(spark, sf_dir):
    """pmi_cooccur: the vocabulary cap must reach the pair join as a
    broadcast (bounded fan-out) and the final top-k must be distributed
    (TakeOrderedAndProject, no global sort)."""
    plan = plan_of(spark, sf_dir, "pmi_cooccur")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_curate_auto_selects_prefix_plan(spark, sf_dir):
    """curate_corpus at threshold 0.85 must route pairs through the
    prefix-filtered plan (xxhash64 shingle arrays + intersect
    verification), not the inverted-index pair explosion."""
    plan = plan_of(spark, sf_dir, "curate_corpus")
    assert "xxhash64" in plan, "prefix plan not selected"
    assert "array_intersect" in plan


def test_quantize_error_single_corpus_pass_no_python(spark, sf_dir):
    """embedding_quantize_error: per-dim ranges come from one posexplode
    aggregate broadcast back as a 1-row frame; the error computation is
    JVM higher-order expressions — no Python workers, no vector shuffle
    beyond the dims aggregate, corpus joined by broadcast."""
    plan = plan_of(spark, sf_dir, "embedding_quantize_error")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    # exactly one vector-bearing scan pair: corpus + dims source
    # (formatted explain lists each scan twice: tree node + detail)
    assert plan.count("Scan parquet") <= 4, plan


def test_lang_confusion_single_shuffle_grid(spark, sf_dir):
    """lang_confusion aggregates to the |langs|² grid in one hash
    aggregate (map-side partials) and ranks shares over the tiny grid —
    no Python, no extra wide shuffle of document text."""
    plan = plan_of(spark, sf_dir, "lang_confusion")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" not in read_schema  # only lang + text leave the scan


def test_lexical_search_inverted_index_shape(spark, sf_dir):
    """tfidf/bm25 retrieval: the term join must be a hash join keyed on
    the term (inverted-index probe) with the small query side broadcast
    — never a cartesian product; ranking plans a window, not a global
    sort of the corpus."""
    for name in ("tfidf_search_topk", "bm25_search_topk"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        assert "Window" in plan, name


def test_semantic_dedup_anti_join_broadcasts_at_runtime(spark, sf_dir):
    """The survivors anti-join in semantic_dedup builds against an
    id-only DISTINCT aggregate (the drop list). No static broadcast hint
    is placed — at 100 TB the drop list scales with the duplicate count,
    so the choice belongs to AQE — but at any realistic dup fraction AQE
    must convert the SortMergeJoin LeftAnti into a broadcast build. Pin
    that runtime conversion so an AQE/conf regression fails here instead
    of silently costing a corpus-wide shuffle (VERDICT r4 #2)."""
    df = QUERIES["semantic_dedup_checked"](spark, sf_dir)
    df.collect()  # materialize so AdaptiveSparkPlan finalizes
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    final_anti = [
        l for l in executed.splitlines()
        if "LeftAnti" in l and "BroadcastHashJoin" in l
    ]
    assert final_anti, executed


@pytest.mark.slow
def test_plan_lint_clean_across_entire_catalog(spark, sf_dir):
    """Repo-wide scale-hygiene sweep (pandas_etl_spark.plans.lint):
    NO registered query may plan a CartesianProduct or a row-at-a-time
    Python UDF — the two red flags with sanctioned alternatives
    everywhere in this codebase. Queries whose DELIBERATE semantics are
    a cross product (capped brute-force baselines, how='cross'
    operators) are exempted by name with the reason inline."""
    from pandas_etl_spark.plans import lint

    exempt = {
        # capped brute-force correctness baselines (documented O(n²)
        # anchors for the bucketed scale paths)
        "embedding_neardup_exact",
        "semantic_dedup_checked",
        # driver-coordinated multi-phase operators whose catalog result
        # is a driver-local frame: linting their LocalRelation is
        # vacuous and building them runs the full computation
        # (review r5b #4); their distributed constituents are linted
        # through bpe_token_stats/heavy_hitters respectively
        "bpe_learn_merges",
        "heavy_hitters_cms",
    }
    # a misspelled exemption would rot silently (review r5 #5)
    assert exempt <= set(QUERIES), exempt - set(QUERIES)
    failures = []
    for name, fn in QUERIES.items():
        if name in exempt:
            continue
        try:
            problems = lint(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 - sweep collects
            failures.append(f"{name}: lint crashed: {str(e)[:120]}")
            continue
        if problems:
            failures.append(f"{name}: {problems}")
    assert not failures, "\n".join(failures)


def test_plan_summary_reports_pushdown(spark, sf_dir):
    from pandas_etl_spark.plans import plan_summary

    df = QUERIES["pricing_summary"](spark, sf_dir)
    df.collect()  # AQE: codegen spans exist only on the finalized plan
    s = plan_summary(df)
    assert s["scans"] == 1
    assert s["row_python_evals"] == 0
    assert any("l_shipdate" in p for p in s["pushed_filters"])
    assert s["codegen_spans"] >= 1


def test_plan_lint_flags_row_udf(spark):
    from pyspark.sql.functions import udf

    from pandas_etl_spark.plans import lint

    bad = udf(lambda x: x + 1, "long")
    df = spark.range(10).select(bad("id").alias("x"))
    assert any("BatchEvalPython" in p for p in lint(df))
    assert any("CartesianProduct" in p for p in lint(
        spark.range(3).crossJoin(spark.range(1000).hint("shuffle_replicate_nl"))
    ))


def test_plan_summary_counts_operators_once(spark):
    """Formatted explain lists each operator in the tree AND as a detail
    header, and post-execution AQE prints Final + Initial trees; the
    summary must count each physical operator exactly once (review r5:
    a 1-exchange plan reported exchanges=2)."""
    from pyspark.sql import functions as F

    from pandas_etl_spark.plans import plan_summary

    df = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
    assert plan_summary(df)["exchanges"] == 1  # pre-execution
    df.collect()
    assert plan_summary(df)["exchanges"] == 1  # AQE-finalized


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Spark's runtime row-level filtering: a selective dim filter
    injects a bloom_filter_agg subquery whose might_contain() guards
    the fact scan — rows for never-joining keys drop BEFORE the
    shuffle. Engages automatically at real scale (the default
    applicationSideScanSizeThreshold is 10 GB); thresholds are lowered
    here to demonstrate and pin the capability at test volume."""
    from pyspark.sql import functions as F

    from pandas_etl_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_exact_span_dedup_no_token_shuffle(spark, sf_dir):
    """The span-dedup plan shuffles gram hashes and per-doc start lists
    only: token filtering is per-row higher-order functions, so no
    cartesian/BNLJ appears, and (r10) gram ownership is a min(id)
    window over the single gh exchange — not a groupBy+probe-join that
    would tokenize/hash the corpus twice."""
    plan = plan_of(spark, sf_dir, "exact_span_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # token filter lowered to Catalyst higher-order functions, not Python
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_span_family_single_gram_pipeline(spark, sf_dir):
    """r10 fusion regression pins: the rolling-gram explode (the span
    family's dominant cost) must run ONCE per corpus pass.

    r11: the gram-ownership min is now the skew-safe salted attach
    (functions/dedup.salted_key_stat), whose stats branch duplicates
    the gram pipeline in the INITIAL plan but reads the rows branch's
    salted exchange at runtime (ReusedExchange) — so the pin is on the
    EXECUTED final adaptive plan, which is the stronger property.

    - exact_span_dedup: 2 executed parquet scans (gram pipeline + the
      rewrite join's docs side) — the pre-fusion agg+probe shape had 3
      — and the ownership attach must show the runtime reuse.
    - span_dedup_incremental: 3 executed scans (corpus gram index,
      batch gram pipeline, batch rewrite side) — the pre-fusion
      semi/anti/owner shape had 7.
    - segment_neardup: 0 parquet scans in the final frame — the segment
      explode is localCheckpoint-materialized once and every consumer
      (signature pipeline, anti join, per-doc totals) reads the
      checkpoint (pre-fusion: 7 scans).
    """
    from pandas_etl_spark.plans import plan_summary

    s = plan_summary(QUERIES["segment_neardup"](spark, sf_dir))
    assert s["scans"] == 0, (s["scans"], s["read_schemas"])
    for name, max_scans in (
        ("exact_span_dedup", 2),
        ("span_dedup_incremental", 3),
    ):
        df = QUERIES[name](spark, sf_dir)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        final = final.split("== Initial Plan ==")[0]
        n = final.count("FileScan parquet")
        assert n <= max_scans, (name, n, final[:2000])
        assert "ReusedExchange" in final, (name, final[:2000])


def test_hll_rollup_sketches_only_shuffle(spark, sf_dir):
    """The mergeable-sketch rollup plans as two ObjectHashAggregates
    (daily sketch, weekly union), each split partial/merge so only
    KB-sized sketch partials cross the Exchanges — never (day, user)
    pairs — and no join or Python stage appears anywhere."""
    plan = plan_of(spark, sf_dir, "active_users_hll_rollup")
    assert plan.count("ObjectHashAggregate") >= 4  # 2 aggs x partial+merge
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_triangle_census_all_equi_joins(spark, sf_dir):
    """The degree-ordered triangle census must plan every join as a
    hash/sort-merge equi-join, so no CartesianProduct may appear
    anywhere in the plan. r10: the census is the compact-forward form —
    per oriented edge, |N+(x) ∩ N+(y)| over sorted adjacency arrays —
    so the plan must carry the array_intersect projection and must NOT
    materialize wedge rows through a self-join + closing semi-join
    (the pre-r10 shape burned 122 of 142 executor-CPU-seconds
    generating Σ C(out-deg,2) wedge rows at sf0.1)."""
    plan = plan_of(spark, sf_dir, "triangle_count_parts")
    assert "CartesianProduct" not in plan
    # the only sanctioned BNLJ is the 1-row x 1-row Cross stats combine
    # (counts x triangle total); every data-sized join must be equi
    bnlj = [
        l for l in plan.splitlines()
        if "- BroadcastNestedLoopJoin" in l  # tree lines carry the type
    ]
    assert bnlj and all("Cross" in l for l in bnlj), bnlj
    assert "array_intersect" in plan  # compact-forward census
    assert "LeftSemi" not in plan  # no wedge-closure membership join


def test_unicode_normalize_pure_map(spark, sf_dir):
    """normalize_text is a pure map: one Arrow-batched Python stage, no
    aggregation/join/window, and no Exchange beyond ensure_parallelism's
    ingest repartition of the single-file fixture."""
    plan = plan_of(spark, sf_dir, "unicode_normalize")
    tree = plan.split("\n\n")[0]  # operator tree, before the detail section
    assert tree.count("ArrowEvalPython") == 1
    # downstream (printed above the map stage): no Exchange after the map
    assert "Exchange" not in tree.split("ArrowEvalPython")[0]
    for op in ("HashAggregate", "Join", "Window", "Generate"):
        assert op not in plan, op


def test_benford_single_aggregate_per_column(spark, sf_dir):
    """Benford's audit plans per column as ONE map-side-combinable
    digit-count aggregate over the data (partial_count visible) with
    no Python stage, no window, and no cartesian beyond the sanctioned
    1-row stat broadcasts."""
    plan = plan_of(spark, sf_dir, "benford_price_audit")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_rank_tests_no_global_sort_of_raw_rows(spark, sf_dir):
    """KS / MWU / Spearman never sort the raw rows globally: every
    Window in the plan is PARTITIONED (the prefix-sum's per-partition
    running total), so no single-partition Window.orderBy over a
    data-sized frame appears, and there is no Python stage."""
    for name in ("ks_price_drift", "mwu_purchase_vs_click",
                 "spearman_corr_lineitem"):
        plan = plan_of(spark, sf_dir, name)
        for line in plan.splitlines():
            if "Arguments" in line and "partitionBy" not in line:
                continue
            if line.strip().startswith("Window ["):
                assert "__pid" in line or "partitionBy" in line, (name, line)
        assert "ArrowEvalPython" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_theil_sen_group_keyed_pair_join(spark, sf_dir):
    """Theil-Sen's O(n^2) pair enumeration must be an equi join keyed
    on the series (priority) — never a cartesian — and both medians
    must be percentile aggregates, not windows."""
    plan = plan_of(spark, sf_dir, "theil_sen_trend")
    assert "CartesianProduct" not in plan
    assert plan.count("percentile") >= 2


def test_radius_join_blocked_equi_join(spark, sf_dir):
    """The spatial radius join must be a cell-keyed equi join — the
    brute-force cross product lives only in its DuckDB oracle — and the
    haversine math stays JVM-side (no Python stage)."""
    plan = plan_of(spark, sf_dir, "spatial_radius_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__cy" in plan and "__cx" in plan  # join keyed on grid cell
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_knn_join_broadcasts_dim_only(spark, sf_dir):
    """kNN joins the fact side against a BROADCAST dim (the fact table
    never shuffles for the join); the only exchange is the per-fact-key
    top-k window partitioning."""
    plan = plan_of(spark, sf_dir, "nearest_suppliers_knn")
    assert "BroadcastNestedLoopJoin" in plan  # cross w/ broadcast dim
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_activity_streaks_two_data_shuffles(spark, sf_dir):
    """Gaps-and-islands: the (user, day) distinct + one user_id window
    Exchange — both downstream groupBys must reuse the window's
    hash(user_id) partitioning (subset-satisfies-clustering), so no
    further Exchanges appear."""
    plan = plan_of(spark, sf_dir, "activity_streaks")
    n_ex = sum(
        1
        for l in plan.splitlines()
        if l.strip().startswith("(") and ") Exchange" in l
        and "Reused" not in l and "RoundRobin" not in l
    )
    # detail-section entries only; RoundRobin is the test-env
    # parallelism repartition, not part of the algorithm
    assert n_ex <= 3, plan
    assert "Join" not in plan


def test_funnel_and_paths_single_user_sort(spark, sf_dir):
    """The stacked per-user windows (3 funnel stages / gap-flag +
    running session id + two leads) must share ONE user_id Exchange —
    no event-table self-joins, no per-stage scans."""
    for name in ("funnel_time_bound", "session_paths_topk"):
        plan = plan_of(spark, sf_dir, name)
        assert "Join" not in plan, name
        # formatted mode lists each scan twice (tree + detail section)
        assert plan.count("Scan parquet") <= 2, name


def test_acf_broadcasts_day_series(spark, sf_dir):
    """ACF: the heavy lifting is the daily aggregate; the lag self-join
    of the day-level series must broadcast, never SortMergeJoin."""
    plan = plan_of(spark, sf_dir, "acf_daily_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ols_single_moment_aggregate(spark, sf_dir):
    """Closed-form OLS: one map-side-combinable moment aggregate over
    the scan, algebra on the single row after — no joins, no windows,
    no Python stage."""
    plan = plan_of(spark, sf_dir, "ols_price_model")
    assert "Join" not in plan and "Window" not in plan
    assert "partial_var" in plan or "partial" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pareto_abc_no_global_window(spark, sf_dir):
    """ABC classification: the cumulative share must run through the
    range-partitioned prefix sum — a single-partition global window
    (SinglePartition Exchange feeding a Window) must not appear."""
    from pandas_etl_spark.plans import unpartitioned_windows

    plan = plan_of(spark, sf_dir, "pareto_abc_parts")
    for l in plan.splitlines():
        if "Window" in l and "windowspecdefinition" in l:
            assert "__pid" in l, l  # prefix-sum partition-local window
    # No unpartitioned ordered window at all: the cumulative share rides
    # the __pid-local prefix sum and its driver-cumulated offsets (the
    # old "Exchange SinglePartition within 3 lines of Window" check
    # could never fire — formatted trees print exchanges as
    # "Exchange (n)"; SinglePartition only appears on detail lines).
    assert unpartitioned_windows(QUERIES["pareto_abc_parts"](spark, sf_dir)) == []


def test_weighted_sample_ares_distributed_topk(spark, sf_dir):
    """A-Res sampling must be a distributed top-k (TakeOrderedAndProject
    merges per-partition heads), never a global sort."""
    plan = plan_of(spark, sf_dir, "weighted_sample_ares")
    assert "TakeOrderedAndProject" in plan
    assert "GlobalSort" not in plan and "Exchange rangepartitioning" not in plan


# ---------------------------------------------------------------------------
# round-6 additions
# ---------------------------------------------------------------------------


def test_gopher_gate_zero_shuffle(spark, sf_dir):
    """Every Gopher rule is a per-row array expression — the plan must
    contain no Exchange at all beyond the ingest repartition, no join,
    no window, no Python stage."""
    plan = plan_of(spark, sf_dir, "gopher_quality_gate")
    assert "Join" not in plan and "Window" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the only allowed exchange is ensure_parallelism's round-robin ingest
    import re

    for m in re.finditer(r"Exchange (\w+)", plan):
        assert m.group(1) == "RoundRobinPartitioning", m.group(0)


def test_source_overlap_single_wide_shuffle(spark, sf_dir):
    """The contamination matrix must shuffle hash-keyed rows once (the
    gram-hash aggregate); the per-source set sizes must broadcast, not
    sort-merge."""
    plan = plan_of(spark, sf_dir, "source_overlap_jaccard")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # the two size joins
    assert "CartesianProduct" not in plan


def test_knn_label_transfer_corpus_never_shuffles(spark, sf_dir):
    """The query side broadcasts (BroadcastNestedLoopJoin from the
    cosine crossJoin); the corpus-sized side must not hash-exchange
    before scoring — the only aggregates run on query-bounded frames."""
    plan = plan_of(spark, sf_dir, "knn_label_transfer")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_mv_incremental_never_reaggregates_applied(spark, sf_dir):
    """Incremental MV maintenance must not build the applied table at
    all: no full-outer MERGE of base and ops appears (the delta path
    joins old values with a plain left join), and the orders ops log
    is scanned exactly once."""
    plan = plan_of(spark, sf_dir, "mv_incremental_agg")
    # The |MV|-sized bucket merge IS a full outer join — every full-outer
    # join's key columns must be the bucket, never c_custkey (a c_custkey
    # full-outer merge would be rebuilding the applied table). Formatted
    # mode lists keys on "Left/Right keys" detail lines under the "(n)
    # <Join> FullOuter" header, so collect each header's detail block.
    # Formatted detail blocks look like "(25) SortMergeJoin" /
    # "Join type: FullOuter" / "Left keys [1]: [bucket#x]".
    lines = plan.replace("full_outer", "FullOuter").splitlines()
    blocks, cur = [], []
    for l in lines:
        if l.lstrip().startswith("(") and ")" in l[:12]:
            if cur:
                blocks.append(cur)
            cur = [l]
        elif cur:
            cur.append(l)
    if cur:
        blocks.append(cur)
    fo_blocks = [
        b for b in blocks if any("FullOuter" in l for l in b)
    ]
    assert fo_blocks, "expected the bucket-keyed full-outer MV merge"
    for b in fo_blocks:
        key_lines = [l for l in b if "keys" in l.lower()]
        assert key_lines, b[0]
        for kl in key_lines:
            assert "c_custkey" not in kl, kl
            assert "bucket" in kl, kl
    # formatted mode puts the path on a Location detail line, one per scan
    orders_scans = [
        l
        for l in plan.splitlines()
        if "Location" in l and "orders.parquet" in l
    ]
    assert len(orders_scans) == 1, orders_scans


def test_embedding_audit_one_pass(spark, sf_dir):
    """The vector audit is one scan + a 1-row aggregate: no join, no
    window, no Python, and the embeddings file is scanned once."""
    plan = plan_of(spark, sf_dir, "embedding_quality_audit")
    assert "Join" not in plan and "Window" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    emb_scans = [
        l
        for l in plan.splitlines()
        if "Location" in l and "embeddings.parquet" in l
    ]
    assert len(emb_scans) == 1, emb_scans


def test_propensity_match_no_global_sort(spark, sf_dir):
    """The keyless as-of match must run range-partitioned: the score
    stream scans under __pid-local windows, and the only unpartitioned
    ordered window left is the |partitions|-row boundary-carry stitch
    (the old "Exchange SinglePartition within 3 lines of Window" check
    could never fire — formatted trees print exchanges as
    "Exchange (n)" — and was hiding a genuinely single-partition
    keyless asof_join until round 7)."""
    from pandas_etl_spark.plans import unpartitioned_windows

    df = QUERIES["propensity_match_pairs"](spark, sf_dir)
    unpart = unpartitioned_windows(df)
    assert len(unpart) <= 1, unpart
    for w in unpart:  # only the carry stitch may remain
        assert "__fix_" in w or "control_user" in w, w
    plan = plan_of(spark, sf_dir, "propensity_match_pairs")
    assert "__pid" in plan  # the range-partitioned scan is present


def test_weighted_median_no_per_group_serialization(spark, sf_dir):
    """The price-level cumulative weight must ride the range-partitioned
    prefix sum (__pid-local windows), never a per-group ordered window —
    with 3 groups that would serialize the whole table into 3 tasks. A
    SinglePartition window is allowed only over the |groups|-row totals
    frame (the prior-group offsets)."""
    plan = plan_of(spark, sf_dir, "weighted_median_price")
    # the prefix sum pins its range partitioning via localCheckpoint, so
    # the plan shows the checkpointed scan, not the range exchange — the
    # observable invariant is that every window ordering price_c is
    # __pid-local (the prefix-sum shape), never plain per-group
    assert "Scan ExistingRDD" in plan  # the pinned prefix-sum input
    # formatted mode: the spec lives on the Arguments line following the
    # "(N) Window" detail header
    lines = plan.splitlines()
    saw_price_window = False
    for i, l in enumerate(lines):
        if l.strip().startswith("(") and l.strip().endswith("Window"):
            spec = " ".join(lines[i + 1 : i + 4])  # Input + Arguments lines
            if "price_c" in spec and "windowspecdefinition" in spec:
                saw_price_window = True
                assert "windowspecdefinition(__pid" in spec, spec
    assert saw_price_window


def test_registry_unpartitioned_window_whitelist(registry_builds):
    """Repo-wide WindowExec lint (VERDICT r6 #3): every catalog query's
    plan is scanned for unpartitioned ORDERED windows — the shape
    WindowExec warns moves all rows to one task. Each permitted source
    is whitelisted BY NAME with its bounded-frame justification and an
    exact node count; any new source (or a new unpartitioned window
    inside a whitelisted query) fails here and must either switch to
    the range-partitioned prefix/stitch operators or justify itself in
    this table."""
    # name -> (count, why the frame is bounded / deliberately global)
    whitelist = {
        "propensity_match_pairs": (1, "|partitions|-row keyless-asof boundary-carry stitch"),
        "neyman_allocation": (1, "|strata|-row largest-remainder rank"),
        "bh_fdr_segments": (2, "|segments|-row Benjamini-Hochberg rank, twice (rank + step-up)"),
        "weighted_median_price": (1, "|groups|-row prior-group offsets frame"),
        "weighted_percentiles": (1, "|groups|-row prior-group offsets frame"),
        "hconcat_ranked": (2, "5-row frames (rank AFTER TakeOrdered limit 5)"),
        "vocab_topk": (1, "<=200-row frame (rank AFTER the TakeOrdered top-k)"),
        "source_composition": (1, "|sources|-row cumulative share"),
        "vocab_zipf_fit": (1, "top-1000 frame (rank AFTER TakeOrdered)"),
        "seasonal_decompose_hourly": (3, "|hours-in-range|-row centered-MA frames"),
        "survival_km_customers": (2, "|distinct durations|-row KM product frames"),
        "cusum_revenue_shift": (1, "|days|-row CUSUM accumulation"),
        "cumulative_distinct_users": (1, "|days|-row first-seen cumsum"),
    }
    offenders = {}
    for name, built in registry_builds.items():
        if built.error is not None:  # pragma: no cover - surface as a failure
            e = built.error
            offenders[name] = [f"PLAN BUILD FAILED: {type(e).__name__}: {e}"]
        elif built.windows:
            offenders[name] = built.windows
    unexpected = {
        n: ws
        for n, ws in offenders.items()
        if n not in whitelist or len(ws) != whitelist[n][0]
    }
    assert not unexpected, (
        "unwhitelisted unpartitioned ordered windows (single-partition "
        f"at scale): { {n: ws[:2] for n, ws in unexpected.items()} }"
    )
    # and the whitelist must not rot: every entry still has its source
    stale = [n for n in whitelist if n not in offenders]
    assert not stale, f"whitelist entries with no remaining source: {stale}"


def test_knn_scoring_has_no_interpreted_fold(spark, sf_dir):
    """The flat-column cosine scorer (r10): NO higher-order fold
    (aggregate/zip_with) may appear anywhere in the executed kNN plan.
    HOFs are CodegenFallback expressions — one of them in the per-pair
    scoring projection drops the whole projection to interpreted eval
    (measured ~34 µs/pair, 3× the query's CPU), and one in the per-row
    flattening projection (the broadcast join's stream child) strips
    whole-stage codegen off the join subtree. The dim=64 paths must
    stay pure arithmetic: element extraction + norm as multiply-add
    chains, per-pair dot as a chain over the flat columns.
    (semantic_knn_communities shares this scorer but its final explain
    is the LPA label frame — lineage cut by localCheckpoint — so only
    the brute-force baseline is plan-assertable.)"""
    for name in ("ann_cosine_topk",):
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # final adaptive plan only
        assert "BroadcastNestedLoopJoin" in plan, name
        offenders = [
            l.strip()[:160]
            for l in plan.splitlines()
            if ("aggregate(" in l or "zip_with(" in l) and "Scan" not in l
        ]
        assert not offenders, (name, offenders)


@pytest.mark.parametrize("name", ["minhash_lsh_pairs", "minhash_source_signature"])
def test_minhash_verification_has_no_interpreted_fold(spark, sf_dir, name):
    """r10: signature agreement is scored with a codegen'd CASE-sum over
    the flat m0..m{n-1} agg columns (functions/dedup.signature_agreement)
    — the former size(filter(zip_with(...))) was a CodegenFallback chain
    that dropped the per-pair projection to interpreted eval (A/B at
    sf0.1: warm 4.7 -> 3.4 s). Pinned on the LSH verification and the
    source-signature compare. Same offender scan as the kNN scorer pin."""
    df = QUERIES[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    offenders = [
        l.strip()[:160]
        for l in plan.splitlines()
        if ("aggregate(" in l or "zip_with(" in l) and "Scan" not in l
    ]
    assert not offenders, offenders
