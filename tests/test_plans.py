"""Physical-plan shape regressions — the 100 TB properties.

Correctness survives a bad plan; scale does not. These tests pin the plan
properties that matter at 1000 executors: dimension joins stay broadcast
(no shuffle of the fact table against small dims), filters reach the
parquet scan (row-group pruning), and projections prune the read schema
(a 2-column query must not read 16 columns).
"""

from __future__ import annotations

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _python_rdd_scans(df) -> list[str]:
    """Lineages of the plan's ``Scan ExistingRDD`` nodes that read a
    Python-side RDD (``createDataFrame`` of local rows: a ``PythonRDD`` in
    the lineage). ``localCheckpoint`` plans the same node over a JVM-side
    RDD, which starts no Python worker."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    leaves = plan.collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    return [lineage for lineage in (
        s.rdd().toDebugString() for s in scans
        if s.nodeName() == "Scan ExistingRDD") if "PythonRDD" in lineage]


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_q3_q5_broadcast_dims(spark):
    for q in ("q3_shipping_priority", "q5_region_volume"):
        plan = _plan(entry.queries()[q](spark, SF))
        assert "BroadcastHashJoin" in plan, f"{q} lost its broadcast join"
        # the fact-side join (lineitem ⋈ orders) may shuffle; the dim joins
        # must not — count sort-merge joins stays below join count
        assert plan.count("BroadcastHashJoin") >= 2, f"{q} dims not broadcast"


def test_q1_filter_pushdown_and_pruning(spark):
    df = entry.queries()["q1_pricing_summary"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # ReadSchema must be the 7 used columns, not all 16
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_comment" not in read_schema and "l_receiptdate" not in read_schema
    assert read_schema.count(":") <= 8


def test_p1_projection_reaches_scan(spark):
    df = entry.queries()["p1_where_filter"](spark, SF)
    plan = _plan(df)
    # (PushedFilters list is display-truncated; assert the leading entries)
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_quantity)" in plan
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert read_schema.count(":") == 4  # exactly the projected columns


def test_chunk_predicates_push_down(orders):
    """A chunked scan must prune at the row-group level, not post-filter:
    every chunk predicate shows up in PushedFilters."""
    from mydumper_spark.planner import plan_integer_chunks

    plan = plan_integer_chunks(orders, "o_orderkey", num_chunks=4)
    chunk0 = orders.where(plan.predicates[-1])  # last chunk: plain range
    p = chunk0._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderkey), GreaterThanOrEqual(o_orderkey" in p


def test_checksum_partial_agg_jvm_side(spark):
    """Checksum must partial-aggregate map-side (one long per partition
    crosses the exchange — the property that makes it viable at 100 TB) and
    stay JVM-side (no Python eval in the hot path)."""
    from mydumper_spark.functions.checksum import checksum_df

    df = checksum_df(entry._t(spark, SF, "orders"))
    plan = _plan(df)
    assert "partial_bit_xor" in plan  # map-side combine before the exchange
    # only the 1-long agg state crosses the final exchange; the fixture's
    # 1-row-group file also gets the parallelism-floor xxhash64 hash
    # spread (a no-op exchange on any well-split production source)
    assert "Exchange SinglePartition" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bucketed_join_no_exchange(spark, tmp_path, orders, customer):
    """Co-located join: two tables bucketed on the join key must join with
    zero Exchange operators — the 100 TB fact-join layout."""
    from mydumper_spark.sinks.writers import write_bucketed

    write_bucketed(
        orders.select("o_custkey", "o_totalprice"), "b_orders", ["o_custkey"], 8
    )
    write_bucketed(
        customer.select("c_custkey", "c_mktsegment"), "b_customer", ["c_custkey"], 8
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the join must rely on bucket co-location
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.table("b_orders")
        b = spark.table("b_customer")
        j = a.join(b, a.o_custkey == b.c_custkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_bernoulli_sample_no_exchange(spark):
    """Scan-side sampling must stay a pure filter — zero shuffles; the
    stratified-fixed variant is allowed exactly one exchange (its window)."""
    for q in ("x_sample_bernoulli", "x_sample_rebalance"):
        plan = _plan(entry.queries()[q](spark, SF))
        assert "Exchange" not in plan, f"{q} grew a shuffle:\n{plan}"
    plan = _plan(entry.queries()["x_sample_stratified"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_asof_join_single_shuffle(spark):
    """The as-of join must stay the union+window merge: ONE hash exchange of
    |L|+|R| rows, never a BroadcastNestedLoop/cartesian range join."""
    plan = _plan(entry.queries()["x_asof_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_range_join_is_equi_join(spark):
    """The range join must plan as a plain equi-join on (key, band) — never
    BroadcastNestedLoop/cartesian over the inequality."""
    plan = _plan(entry.queries()["x_range_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_new_tpch_queries_broadcast_dims(spark):
    """Round-2 join queries keep the q3/q5 discipline: dimension sides
    broadcast, the fact table shuffles at most once."""
    for q in ("q7_nation_trade", "q10_returned_revenue", "q14_promo_share",
              "q18_large_orders", "q19_brand_revenue"):
        plan = _plan(entry.queries()[q](spark, SF))
        assert "BroadcastHashJoin" in plan, f"{q} lost its broadcasts:\n{plan}"


def test_q10_filters_reach_scan(spark):
    plan = _plan(entry.queries()["q10_returned_revenue"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan


def test_sorted_write_range_clustering(spark, orders, tmp_path):
    """Range-clustered layout: the range predicate reaches the parquet
    reader (min/max row-group stat skipping), and matching rows are
    physically clustered in a strict subset of the files — the locality
    that makes the stat skip effective. (File-COUNT metrics don't move:
    non-matching files are still opened for their footer, then their data
    pages are skipped — planning-time file pruning needs hive partitioning,
    which is the s7 surface.)"""
    import os

    from pyspark.sql import functions as F

    from mydumper_spark.sinks.writers import write_sorted

    p = str(tmp_path / "sorted")
    write_sorted(orders, p, ["o_orderkey"], max_records_per_file=200)
    total_files = len([f for f in os.listdir(p) if f.startswith("part-")])
    assert total_files >= 5  # enough granularity for clustering to show
    lo = spark.read.parquet(p).where("o_orderkey < 100")
    assert "PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey,100)" in _plan(lo)
    assert lo.count() == orders.where("o_orderkey < 100").count()
    touched = lo.select(F.input_file_name()).distinct().count()
    assert touched <= 2, (touched, total_files)  # clustered, not scattered
    # the same predicate on an UNSORTED copy touches (nearly) every file
    q = str(tmp_path / "shuffled")
    orders.repartition(8).write.parquet(q)
    scattered = (
        spark.read.parquet(q).where("o_orderkey < 100")
        .select(F.input_file_name()).distinct().count()
    )
    assert scattered > touched


def test_round4_tpch_plan_shapes(spark):
    """q8/q13/q17/q21: dims broadcast, no cartesian anywhere, and the
    aggregate rewrites (Q17 correlated-avg, Q21 double-EXISTS) stay
    bounded-shuffle joins/aggs rather than nested-loop shapes."""
    for q in ("q8_market_share", "q13_customer_distribution",
              "q17_small_quantity_revenue", "q21_waiting_supplier"):
        plan = _plan(entry.queries()[q](spark, SF))
        assert "CartesianProduct" not in plan, f"{q}:\n{plan}"
        assert "BroadcastNestedLoopJoin" not in plan, f"{q}:\n{plan}"
        assert "BroadcastHashJoin" in plan, f"{q} lost its broadcasts:\n{plan}"
    # Q21's agg formulation: at most shuffle-on-orderkey + shuffle-on-suppkey
    # (+1 AQE/sort variance margin) — the EXISTS formulation would add a
    # per-order correlated probe
    plan = _plan(entry.queries()["q21_waiting_supplier"](spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_round5_tpch_plan_shapes(spark):
    """q9/q11/q16 over the derived partsupp: every dimension input
    broadcast-joins (the fact side never shuffles for a join), no
    cartesian/nested-loop beyond q11's documented 1x1 scalar."""
    for q in ("q9_product_profit", "q16_supplier_relationship"):
        plan = _plan(entry.queries()[q](spark, SF))
        assert "CartesianProduct" not in plan, f"{q}:\n{plan}"
        assert "BroadcastNestedLoopJoin" not in plan, f"{q}:\n{plan}"
        assert "BroadcastHashJoin" in plan, f"{q} lost its broadcasts:\n{plan}"
    # Q9: lineitem joins part/partsupp/supplier/nation broadcast; only the
    # orders join + the final group aggregate may shuffle (+1 AQE margin)
    plan = _plan(entry.queries()["q9_product_profit"](spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    # Q16: the supplier exclusion stays a broadcast ANTI join, not a shuffle
    plan = _plan(entry.queries()["q16_supplier_relationship"](spark, SF))
    assert "BuildRight, LeftAnti" in plan or "LeftAnti, BuildRight" in plan, plan


# Queries allowed a BroadcastNestedLoopJoin, each a documented pattern:
# - x_embedding_pairs_exact: the O(n^2) exact ground-truth baseline (the
#   scale path is the banded-LSH variant)
# - x_tfidf_topterms / x_ref_integrity / q22_idle_balance /
#   x_token_frequency_score: joins against a ONE-ROW aggregate (corpus
#   size / totals / global avg / total token count) — a broadcast scalar,
#   not a data-data cross join
_BNLJ_ALLOWED = {
    "x_embedding_pairs_exact",
    "x_tfidf_topterms",
    "x_ref_integrity",
    "q22_idle_balance",
    "x_token_frequency_score",
    # broadcast 1×1 scalar: the nation-group inventory total (the Q11
    # threshold denominator)
    "q11_important_stock",
    # broadcast 1×1 scalar: the corpus (N, avgdl) pair every BM25 term
    # score multiplies by — same shape as x_token_frequency_score's total
    "x_bm25_topk",
    # broadcast 1×1 scalar: the trained LM's total-token count every
    # backoff division divides by (the rollup composes the same score)
    "x_ngram_lm_score",
    "x_lm_source_report",
}


def test_no_cartesian_or_nested_loop_anywhere(spark):
    """Registry-wide plan hygiene: no query may plan a CartesianProduct,
    and BroadcastNestedLoopJoin only where a documented scalar/baseline
    pattern requires it. A new query that accidentally cross-joins two
    data-sized inputs fails here before it ever ships. No query may scan
    a Python-side ``createDataFrame`` either: its first run starts the
    pyspark worker daemon."""
    for name, fn in entry.queries().items():
        df = fn(spark, SF)
        plan = _plan(df)
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian:\n{plan}"
        assert not _python_rdd_scans(df), (
            f"{name} scans a Python-side createDataFrame:\n{plan}")
        if name not in _BNLJ_ALLOWED:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{name} plans a nested-loop join (add to _BNLJ_ALLOWED only "
                f"with a documented scalar/baseline reason):\n{plan}"
            )


def test_round6_sampling_plan_shapes(spark):
    """cap_per_group and mix_corpus are single-exchange, single-scan window
    shapes: budgets/caps constant-fold (no join, no second pass), and the
    scan reads only the used columns."""
    for name in ("x_source_cap", "x_corpus_mix"):
        plan = _plan(entry.queries()[name](spark, SF))
        assert plan.count("Exchange") == 1, (name, plan)
        assert plan.count("Scan parquet") == 1, (name, plan)
        assert "Join" not in plan, (name, plan)


def test_round6_dedup_agg_arbiter_no_window(spark):
    """The default (skew-splittable) dedup arbiter must keep its promised
    shape: the first-occurrence computation is an aggregate + join, with
    no Window node anywhere in the line-dedup plan, and no SortAggregate
    (the packed first-occurrence key hash-aggregates)."""
    plan = _plan(entry.queries()["x_dedup_lines_global"](spark, SF))
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan and "SortAggregate" not in plan, plan


def test_repetition_stats_top_bigram_hash_aggregate(spark):
    """The top-2gram argmax of x_repetition_stats is a max over a packed
    (count, length) key: a HashAggregate, never a SortAggregate."""
    plan = _plan(entry.queries()["x_repetition_stats"](spark, SF))
    assert "HashAggregate" in plan and "SortAggregate" not in plan, plan


def test_round7_quality_filters_zero_exchange(spark):
    """gopher_quality and c4_line_filter are scan-side projections: one
    parquet scan, no Exchange, no Window, no Join — the shape that fuses
    into the reader's codegen stage at any scale."""
    for name in ("x_gopher_quality", "x_c4_filter", "x_pii_redact"):
        plan = _plan(entry.queries()[name](spark, SF))
        assert "Exchange" not in plan, (name, plan)
        assert "Join" not in plan, (name, plan)
        assert plan.count("Scan parquet") == 1, (name, plan)


def test_round7_substring_dedup_agg_arbiter_no_window(spark):
    """exact_substring_dedup defaults to the skew-splittable min(struct)
    arbiter: no Window node; the gram exchange and the doc_id rebuild are
    aggregates + joins only."""
    plan = _plan(entry.queries()["x_substring_dedup"](spark, SF))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_round7_doc_embedding_two_compact_exchanges(spark):
    """feature_hash_embedding's wire bill: exchanges carry (id, bucket,
    sign) and (id, map) — never text — and there are at most three
    (two aggs + the zero-fill join), no window, no cartesian."""
    plan = _plan(entry.queries()["x_doc_embedding"](spark, SF))
    assert plan.count("Exchange") <= 4, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_round8_plan_shapes(spark):
    """Round-8 operators keep their promised shapes:
    - blocklist: pure scan-side projection — zero exchanges, zero joins
      (the list constant-folds);
    - sq8: zero joins/exchanges beyond TakeOrdered's single reduction
      (query codes fold into the projection);
    - lm scoring: the CORPUS side never hash-shuffles before the final
      per-doc aggregate — the three LM joins are all broadcast."""
    plan = _plan(entry.queries()["x_blocklist_filter"](spark, SF))
    assert plan.count("Exchange") == 0, plan
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan

    plan = _plan(entry.queries()["x_sq8_topk"](spark, SF))
    assert "Join" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan

    plan = _plan(entry.queries()["x_ngram_lm_score"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 3, plan
    # all four LM inputs broadcast: uni/bi/uni-again hash-joined, the
    # 1-row total via the allowed scalar cross join — the corpus side's
    # only hash exchange is the final (doc, sum) aggregate
    assert plan.count("BroadcastExchange") == 4, plan


def test_round9_plan_shapes(spark):
    """Round-9 operators keep their promised shapes:
    - rational-α temperature mix: thresholds are driver-computed literals
      → the query itself is a pure scan-side CASE filter (zero exchanges,
      zero joins — the stratified_fractions plan);
    - SoftDeDup reweighting: exactly ONE hash exchange (the fp-keyed
      count aggregate, map-side combined), the count table broadcast back
      — never a window/sort over the corpus."""
    plan = _plan(entry.queries()["x_temperature_mix_a03"](spark, SF))
    assert plan.count("Exchange") == 0, plan
    assert "Join" not in plan, plan

    plan = _plan(entry.queries()["x_soft_dedup_weights"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "Window" not in plan and "Sort " not in plan, plan

    # budget_select: the hierarchical cutoff leaves EXACTLY ONE window —
    # the final running sum inside the single boundary id-bucket — never
    # a window/sort over the whole corpus (the above-threshold branch is
    # a pure filter, no ordering anywhere)
    plan = _plan(entry.queries()["x_budget_select"](spark, SF))
    assert plan.count("Window") == 1, plan
    assert "rangepartitioning" not in plan, plan  # no global sort

    # per-group variant: same promise — one window (over edge buckets
    # only, partitioned), never a corpus-wide sort
    plan = _plan(entry.queries()["x_budget_select_by_lang"](spark, SF))
    assert plan.count("Window") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_round10_plan_shapes(spark):
    """Round-10 operators keep their promised shapes: string-id budget
    selection pays the SAME plan as the numeric form — the prefix-integer
    bucketing is a scan-side projection (conv/rpad/substring codegen), so
    there is still exactly ONE window (the single edge bucket) and no
    range partitioning (no global sort) anywhere."""
    plan = _plan(entry.queries()["x_budget_select_string_ids"](spark, SF))
    assert plan.count("Window") == 1, plan
    assert "rangepartitioning" not in plan, plan
    # the ordering expression must not smuggle in a Python UDF
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_round11_plan_shapes(spark):
    """Round-11 operators keep their promised shapes. centroid_prune:
    no cartesian/nested-loop anywhere (the centroid path is aggregate +
    broadcast join + fold, never pairwise), the join back is a broadcast,
    and no global sort. hard_negatives: the corpus pass is one Arrow
    stage; the only shuffle is the ~partitions×k candidate window."""
    plan = _plan(entry.queries()["x_centroid_prune"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan

    plan2 = _plan(entry.queries()["x_hard_negatives"](spark, SF))
    assert "CartesianProduct" not in plan2, plan2
    assert plan2.count("ArrowEvalPython") <= 1  # the one sanctioned GEMM
    assert "rangepartitioning" not in plan2.lower(), plan2


def test_min_partitions_spread_is_sortfree_and_hostile_name_safe(spark):
    """The parallelism-floor spread hash-partitions on a deterministic
    full-row key (r14): no sort-before-repartition in the plan, and
    hostile column names (dots, backticks) resolve as exact names."""
    from mydumper_spark.util import ensure_min_partitions

    df = entry._t(spark, SF, "orders")
    plan = _plan(ensure_min_partitions(df))
    assert "Exchange hashpartitioning" in plan, plan
    assert "Sort " not in plan, plan  # keyless round-robin would sort first

    hostile = spark.createDataFrame(
        [(1, "x"), (2, "y")], ["we`ird", "a.b"]
    ).coalesce(1)
    out = ensure_min_partitions(hostile)
    assert sorted(tuple(r) for r in out.collect()) == [(1, "x"), (2, "y")]


def test_min_partitions_spread_excludes_nested_maps(spark):
    """xxhash64 rejects MapType at ANY nesting depth
    (DATATYPE_MISMATCH.HASH_MAP_TYPE); the spread key must skip nested-map
    columns (array<map>, struct-with-map) too, not just top-level maps —
    the checksum path feeds arbitrary imported schemas through this floor
    (r15, ADVICE)."""
    from mydumper_spark.util import ensure_min_partitions

    df = spark.sql(
        "SELECT id, array(map('k', id)) AS am, "
        "named_struct('inner', map('k', id)) AS sm, "
        "map('k', id) AS m FROM range(5)"
    ).coalesce(1)
    out = ensure_min_partitions(df)          # must not raise at plan time
    assert sorted(r["id"] for r in out.collect()) == [0, 1, 2, 3, 4]
    # the key still hashes the one hashable column (id), not round-robin
    plan = _plan(out)
    assert "Exchange hashpartitioning" in plan, plan

    all_map = spark.sql(
        "SELECT map('k', id) AS m FROM range(3)").coalesce(1)
    out2 = ensure_min_partitions(all_map)    # no hashable column: round-robin
    assert out2.count() == 3


def test_ngram_lm_training_scan_reuse_pin(spark):
    """x_ngram_lm_score's r14 leave-alone rationale rests on a RUNTIME-only
    property: the 4 static-plan scans of the training slice (bigram side,
    unigram x3) are canonically identical subtrees that AQE collapses into
    ReusedExchange at execution. Pin it in the EXECUTED plan so a refactor
    that breaks canonical-subtree identity (e.g. a divergent alias or
    filter spelling between the unigram and bigram branches) can't
    silently quadruple the training scan (r15; VERDICT r14 #7)."""
    df = entry.queries()["x_ngram_lm_score"](spark, SF)
    # collect (not a noop write): the write command gets its OWN
    # QueryExecution, so only collect finalizes THIS df's adaptive plan
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan, plan
    assert plan.count("ReusedExchange") >= 2, plan
