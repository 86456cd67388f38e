"""Plan-shape assertions (SURVEY.md §5.2.5): the physical plan, not just the
answer, is part of the contract — these guard the 100 TB posture claims
(pushdown, pruning, broadcast, no nested-loop fact joins)."""

from __future__ import annotations

from sparkstreamingstateful_spark import registry
from sparkstreamingstateful_spark.session import conf_guard

from .conftest import SF_UNIT

QUERIES, _ = registry.collect()


def plan_of(spark, key: str) -> str:
    df = QUERIES[key](spark, SF_UNIT)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown(spark):
    plan = plan_of(spark, "filter_basic")
    assert "PushedFilters: [" in plan
    assert "l_returnflag" in plan.split("PushedFilters")[1][:300]


def test_column_pruning(spark):
    plan = plan_of(spark, "scan_projection_pushdown")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    # none of the other 9 lineitem columns may be read
    for col in ("l_partkey", "l_quantity", "l_shipdate", "l_returnflag"):
        assert col not in read_schema, f"{col} not pruned: {read_schema}"


def test_broadcast_join(spark):
    plan = plan_of(spark, "join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_range_join_not_nested_loop(spark):
    # J7 must keep its equi component → hash/sort-merge join with residual,
    # never BroadcastNestedLoopJoin over the fact table.
    plan = plan_of(spark, "join_theta_range")
    assert "NestedLoop" not in plan


def test_fingerprint_simhash_zero_shuffle(spark):
    # both are per-row reductions expressed as array folds — any Exchange
    # here means a corpus-sized stream is being shuffled to compute a
    # row-local value (the r1 formulations did exactly that).
    from sparkstreamingstateful_spark.plans import shuffle_count

    assert shuffle_count(QUERIES["doc_fingerprint"](spark, SF_UNIT)) == 0
    assert shuffle_count(QUERIES["dedup_simhash"](spark, SF_UNIT)) == 0


def test_similarity_bucketed_scale_shape(spark):
    # The similarity family must survive with size-based broadcasts OFF:
    # every join must carry a real equi-key (prefix item, LSH band+sig),
    # never an unconditional corpus broadcast or a nested-loop fallback.
    # r3: dedup_near/dedup_ngram_jaccard are prefix-filtered threshold
    # joins, embed_near_dup is SRP-LSH, dedup_minhash_lsh is MinHash-LSH —
    # all candidate-bucketed, none all-pairs.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for key in (
            "dedup_near",
            "dedup_ngram_jaccard",
            "embed_near_dup",
            "dedup_minhash_lsh",
        ):
            plan = plan_of(spark, key)
            assert "NestedLoop" not in plan, f"{key}: nested-loop join at scale shape"
            assert "CartesianProduct" not in plan, f"{key}: cartesian join"
            assert "BroadcastExchange" not in plan, f"{key}: corpus broadcast at scale shape"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pairwise_label_bounded_broadcast(spark):
    # embed_pairwise_label's probe panel is CAPPED (labels × _PROBE_CAP
    # rows) and explicitly broadcast — the corpus side must stream past it
    # in one scan. The broadcast here is the design (bounded side), so it
    # must survive even with size-based broadcasts disabled.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "embed_pairwise_label")
        assert "BroadcastExchange" in plan, "capped probe panel not broadcast"
        # the corpus side must NOT be exchanged for the pair join — a
        # sort-merge join would mean the panel lost its bounded-broadcast
        # plan and the corpus is being shuffled against itself
        assert "SortMergeJoin" not in plan.split("BroadcastExchange")[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_edit_distance_bounded_broadcast(spark):
    # text_edit_distance's 10-probe panel is bounded and explicitly
    # broadcast; the corpus must stream past it in ONE scan. Same contract
    # as embed_pairwise_label: the broadcast is the design, so it must
    # survive with size-based broadcasts disabled, and the corpus side must
    # never be shuffled into a SortMergeJoin against the panel.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "text_edit_distance")
        assert "BroadcastExchange" in plan, "probe panel not broadcast"
        assert "SortMergeJoin" not in plan, "corpus shuffled against the panel"
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cluster_cc_checkpoint_truncated_and_bounded(spark):
    # dedup_cluster_cc is iterative: its correctness at scale rests on
    # (a) the LSH edge list being materialized ONCE (localCheckpoint) so
    # iterations never re-run the MinHash pipeline, and (b) a hard
    # iteration cap that fails loud instead of silently emitting wrong
    # components. The final plan must therefore read checkpointed RDDs,
    # not the documents parquet / Python UDF pipeline that produced the
    # edges.
    import inspect

    from sparkstreamingstateful_spark.operators import llm_text

    df = QUERIES["dedup_cluster_cc"](spark, SF_UNIT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "Scan rdd" in plan, (
        "edge list not checkpoint-materialized: " + plan[:500]
    )
    assert "documents.parquet" not in plan, "iterations re-scan the corpus"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the loud non-convergence guard must stay in the source
    src = inspect.getsource(llm_text.connected_components)
    assert "max_iters" in src and "RuntimeError" in src


def test_connected_components_long_chain(spark):
    # A duplicate CHAIN (0~1~2~…~n) has diameter n: plain min-label
    # propagation moves the min ONE hop per iteration and blows any fixed
    # cap. Pointer-jump shortcutting must converge a 2000-link chain well
    # inside the default 20-iteration cap (O(log diameter)), with every
    # node labeled by the chain min.
    from pyspark.sql import functions as F

    from sparkstreamingstateful_spark.operators.llm_text import (
        connected_components,
    )

    n = 2000
    edges = spark.range(n).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = connected_components(sym)
    assert labels.count() == n + 1
    assert labels.filter(F.col("label") != 0).count() == 0, (
        "chain not fully labeled with the component min"
    )


def test_partition_pruning(spark):
    # the day-range predicate must prune at the DIRECTORY level: the scan
    # carries PartitionFilters on `day`, and the pruned read lists only
    # the 3 matching day partitions
    plan = plan_of(spark, "scan_partition_pruning")
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters")[1][:300]
    assert "day" in pf and "isnotnull" in pf


def test_bucketed_join_no_exchange(spark):
    # both sides are bucketed on the join key → the fact-fact join and the
    # follow-on agg on the same key must plan with ZERO exchanges. At
    # sf0.001 Catalyst would rather broadcast the tiny build side, which
    # hides the co-located shape — disable size-based broadcasts to pin
    # the plan the 100 TB fact-fact join would get.
    from sparkstreamingstateful_spark.plans import shuffle_count

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["join_bucketed_colocated"](spark, SF_UNIT)
        assert shuffle_count(df) == 0, "bucketed co-located join still shuffles"
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "BroadcastExchange" not in plan
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q1_whole_stage_codegen(spark):
    df = QUERIES["agg_hash_q1"](spark, SF_UNIT)
    df.collect()  # AQE: codegen spans only appear in the finalized plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators carry the "*(n)" stage marker in the plan string
    assert "*(" in plan
    assert "HashAggregate" in plan
    # partial+final aggregation: the shuffle carries pre-aggregated rows
    assert "partial_sum" in plan


def test_dynamic_partition_pruning_plan(spark):
    """The DPP key's fact scan must carry a runtime pruning expression in
    its PartitionFilters — without it the join would read all ~30 day
    directories and only filter rows post-scan."""
    from sparkstreamingstateful_spark.plans import executed_plan

    df = QUERIES["scan_dynamic_partition_pruning"](spark, SF_UNIT)
    df.count()  # AQE: finalize the executed plan
    plan = executed_plan(df)
    assert "dynamicpruningexpression" in plan and "dynamicpruning#" in plan, (
        "no dynamic pruning expression in the fact scan's PartitionFilters"
    )


def test_skew_join_plan(spark):
    """The AQE skew key's sort-merge join must be runtime-optimized:
    ``skew=true`` in the finalized plan proves OptimizeSkewedJoin split
    the hot partition (detection alone logs nothing into the plan).
    Driven through skew_join_frame inside the key's own conf window —
    the registered key localCheckpoints eagerly, which discards the
    join plan, so the lazy builder is the pin point."""
    from sparkstreamingstateful_spark.operators.joins import (
        _skew_confs,
        skew_join_frame,
    )
    from sparkstreamingstateful_spark.plans import executed_plan

    with conf_guard(spark, _skew_confs(spark, SF_UNIT)):
        df = skew_join_frame(spark, SF_UNIT)
        plan = executed_plan(df, execute=True)
    assert "skew=true" in plan, "OptimizeSkewedJoin did not split the hot partition"
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_range_binned_join_no_nested_loop(spark):
    """join_range_binned exists to AVOID the nested-loop plan a pure
    (no-equi-key) interval join otherwise forces: the binned form must
    plan as a HASH join on the bucket key (broadcast or shuffled), with
    zero BroadcastNestedLoopJoin / CartesianProduct anywhere."""
    from sparkstreamingstateful_spark.plans import executed_plan

    df = QUERIES["join_range_binned"](spark, SF_UNIT)
    plan = executed_plan(df, execute=True)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_bloom_runtime_filter_plan(spark):
    """join_bloom_runtime_filter exists for the injected filter: the
    OPTIMIZED plan must carry the ``bloom_filter_agg`` creation-side
    subquery and a ``might_contain`` predicate on the probe side's
    scan — proof Catalyst rewrote the shuffle join to kill non-matching
    fact rows at the scan. Driven through bloom_join_frame inside the
    key's conf window (the registered key localCheckpoints eagerly,
    which discards the join plan)."""
    from sparkstreamingstateful_spark.operators.joins import (
        _BLOOM_CONFS,
        bloom_join_frame,
    )

    with conf_guard(spark, _BLOOM_CONFS):
        df = bloom_join_frame(spark, SF_UNIT)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter_agg" in plan, "runtime bloom filter not injected"
    assert "might_contain" in plan


def test_join_hints_change_strategy(spark):
    """Q39: the BROADCAST and SHUFFLE_HASH hints must actually steer the
    physical plan — nation joins as BroadcastHashJoin, the orders join
    runs as ShuffledHashJoin (which Spark's default prefers-sort-merge
    policy would not pick unhinted)."""
    plan = plan_of(spark, "sql_join_hints")
    assert "BroadcastHashJoin" in plan
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_distribute_cluster_plan(spark):
    """Q44's DISTRIBUTE BY + SORT BY must plan as exactly one
    hashpartitioning Exchange on c_mktsegment feeding a PARTITION-LOCAL
    sort (global=false) — a global Sort would mean the clause degraded
    to ORDER BY's total sort, the thing the idiom exists to avoid."""
    from sparkstreamingstateful_spark.operators.sqlsurface import _views

    _views(spark, SF_UNIT)
    df = spark.sql(
        """
        SELECT c_mktsegment, c_acctbal, c_custkey
        FROM customer
        DISTRIBUTE BY c_mktsegment
        SORT BY c_mktsegment, c_acctbal, c_custkey
        """
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(c_mktsegment" in plan
    assert "Sort [" in plan and "false, 0" in plan  # Sort(global=false)
    assert plan.count("Exchange") == 1


def test_tablesample_rows_is_limit_not_scan(spark):
    """Q43: TABLESAMPLE (n ROWS) must plan as a limit over the scan —
    executors stop at their quota instead of scanning the table."""
    from sparkstreamingstateful_spark.operators.sqlsurface import _views

    _views(spark, SF_UNIT)
    df = spark.sql("SELECT o_orderkey FROM orders TABLESAMPLE (500 ROWS)")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Limit" in plan


def test_rebalance_hint_plans_rebalance_node(spark):
    """S6q: the REBALANCE hint must plan a RebalancePartitions node
    (the AQE coalesce-and-split shuffle) — NOT degrade to a plain
    RepartitionByExpression, which under skew puts every hot key whole
    into one task and defeats the write-sizing purpose."""
    from sparkstreamingstateful_spark.catalog import load_table

    df = load_table(spark, SF_UNIT, "lineitem").hint(
        "rebalance", "l_returnflag"
    )
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "RebalancePartitions" in logical
    # and the runtime plan goes through an AQE-managed exchange
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in physical


def test_inverted_index_window_is_salted(spark):
    """L25 (r16 tournament fix): the posting-list rank window must stay
    partitioned by (term, salt) — a window partitioned by term alone
    sorts a hot term's entire posting set in ONE task (window partitions
    cannot be AQE-split; stopword df ~ corpus size at 100 TB). Pins:
    exactly one Window node, its partition spec carries the crc32 salt,
    and no Window in the plan partitions by term alone."""
    import re

    from sparkstreamingstateful_spark.operators.llm_text import (
        text_inverted_index,
    )

    plan = (
        text_inverted_index(spark, SF_UNIT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    windows = re.findall(r"Window \[.*", plan)
    assert len(windows) == 1, windows
    # the salt is a materialized column (crc32 % 64 computed in the
    # upstream Project), so the spec names the attribute
    assert re.search(r"\[term#\d+, salt#\d+L\]", windows[0]), windows[0]


def test_collocations_single_scan_checkpoint(spark):
    """L26: the lift key's five downstream consumers (bigram side, two
    unigram joins, both totals) must all read the vocab-sized
    localCheckpoint, never re-run the corpus explode — the r16
    ReusedExchange rule (branch + join over a shared subplan re-scans
    per consumer once column pruning specializes the branches). Pins:
    the executed plan contains NO file scan (every leaf is the
    checkpointed RDD) and ends in TakeOrderedAndProject, not a global
    window/sort."""
    from sparkstreamingstateful_spark.operators.llm_text import (
        text_collocations_lift,
    )

    plan = (
        text_collocations_lift(spark, SF_UNIT)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Scan parquet" not in plan, plan[:2000]
    assert "FileScan" not in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan
    assert "Scan ExistingRDD" in plan


def test_sen_selection_windows_are_bucketed(spark):
    """E26c (r16 distributed selection): every VALUE-LEVEL window in
    the scale path's plan — any window SORTING slopes — must be
    bucket-partitioned (carry bkt in its spec), never per-type alone
    (the ADVICE r15 single-reducer shape: one task sorting a type's
    whole pair set; window partitions cannot be AQE-split). Windows
    WITHOUT a slope sort run on the bucket-count frame (<= _SEN_BUCKETS
    rows per type by construction) and are exempt."""
    import re

    from sparkstreamingstateful_spark.operators.statistics import (
        _mk_hourly_spine,
        _sen_pick_selection,
        _sen_slopes,
    )

    plan = (
        _sen_pick_selection(_sen_slopes(_mk_hourly_spine(spark, SF_UNIT)))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    windows = re.findall(r"Window \[[^\n]*", plan)
    assert windows, "selection plan lost its windows — rewrite the pin"
    slope_sorted = [
        w
        for w in windows
        if re.search(r"windowspecdefinition\([^)]*slope#", w)
    ]
    assert slope_sorted, (
        "selection plan lost its slope-ordered pick window — rewrite"
    )
    for w in slope_sorted:
        spec = re.search(r"windowspecdefinition\(([^)]*)\)", w)
        # bkt must be a PARTITION column (bare attribute, no ASC/DESC
        # direction suffix) — bkt as a mere ORDER column would leave the
        # partition per-type and the single-reducer shape intact
        assert spec is not None and re.search(
            r"bkt#\d+L?(?! (ASC|DESC))", spec.group(1)
        ), "slope-sorting window not bucket-partitioned: " + w[:200]


def test_plan_lint_fingerprint_extraction():
    """scripts/plan_lint.py's node-count fingerprint (VERDICT r17 item
    4) must tokenize plan text without double-counting: Broadcast/
    ReusedExchange are not plain Exchange, WindowGroupLimit/
    WindowInPandas are not Window — a drift here would silently corrupt
    every counts_changed_vs_prev diff from the round it lands."""
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "scripts" / "plan_lint.py"
    spec = importlib.util.spec_from_file_location("plan_lint", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    plan = (
        "AdaptiveSparkPlan\n"
        "+- Exchange hashpartitioning(user_id#1, 32)\n"
        "   +- BroadcastExchange HashedRelationBroadcastMode\n"
        "      +- ReusedExchange [a#2], Exchange rangepartitioning(x ASC)\n"
        "         +- WindowGroupLimit [rank#3], Final\n"
        "            +- Window [row_number()], [user_id#1], [ts#4 ASC]\n"
        "               +- WindowInPandas [udf(v#5)], [doc#6]\n"
        "                  +- SortMergeJoin [k#7], [k#8], Inner\n"
        "                     +- BroadcastHashJoin LeftOuter, BuildRight\n"
        "                        +- BroadcastNestedLoopJoin BuildLeft\n"
        "                           +- CartesianProduct\n"
        "                              +- ShuffledHashJoin [j#9]\n"
    )
    assert mod.plan_counts(plan) == {
        "Exchange": 2,
        "BroadcastExchange": 1,
        "ReusedExchange": 1,
        "WindowGroupLimit": 1,
        "Window": 1,
        "WindowInPandas": 1,
        "SortMergeJoin": 1,
        "BroadcastHashJoin": 1,
        "BroadcastNestedLoopJoin": 1,
        "CartesianProduct": 1,
        "ShuffledHashJoin": 1,
    }
