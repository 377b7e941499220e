"""Physical-plan regression tests (SURVEY.md §4.2): the scale properties —
broadcast joins, predicate pushdown, column pruning, top-k without global
sort, no Python UDFs in JVM-path operators — are asserted, not assumed.
A refactor that silently turns a broadcast join into a shuffle join or adds
a Python UDF to a hot path fails here, not at 100 TB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from enterprise_data_quality_platform_spark.queries import all_queries

from conftest import SF_SMALL

SPECS = all_queries()


def plan_of(spark, name: str) -> str:
    df = SPECS[name].fn(spark, SF_SMALL)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_star_join_broadcasts_dimensions(spark):
    plan = plan_of(spark, "mart_region_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # all dims broadcast at this SF


def test_semijoin_pushes_filter_into_scan(spark):
    plan = plan_of(spark, "mart_priority_semijoin")
    assert "GreaterThanOrEqual(l_quantity,30.0)" in plan  # reaches parquet
    assert "LeftSemi" in plan


def test_column_pruning_reaches_scan(spark):
    plan = plan_of(spark, "dq_null_check")
    # the orders scan must read exactly one column
    assert "ReadSchema: struct<o_custkey:bigint>" in plan


def test_topk_avoids_global_sort(spark):
    plan = plan_of(spark, "sort_limit_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_suite_fusion_reduces_actions(spark):
    """The 8-check suite compiles to ONE action (AQE may split it into a
    few stage-materialization jobs, but far fewer than per-check
    execution). Regression guard: fused must stay well under unfused."""
    from enterprise_data_quality_platform_spark.catalog import table
    from enterprise_data_quality_platform_spark.checks.runner import run_suite
    from enterprise_data_quality_platform_spark.queries.dq import _SUITE

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tables = {
        n: table(spark, SF_SMALL, n)
        for n in ("lineitem", "orders", "nation", "customer")
    }

    def jobs_for(group: str, fuse: bool) -> int:
        sc.setJobGroup(group, group)
        run_suite(tables, _SUITE, fuse=fuse)
        sc.setJobGroup(None, None)
        return len(tracker.getJobIdsForGroup(group))

    fused = jobs_for("suite-fused", True)
    unfused = jobs_for("suite-unfused", False)
    # AQE materializes shuffle stages as jobs on both sides; the fused path
    # still runs one action and strictly fewer jobs (13 vs 21 at writing)
    assert fused < unfused, f"fused={fused} unfused={unfused}"


def test_no_python_udfs_in_jvm_operators(spark):
    """Text/dedup/relational queries must stay inside codegen — no
    BatchEvalPython / ArrowEvalPython nodes (multimodal decode and the
    vectorized cosine are the sanctioned Arrow exceptions)."""
    for name in (
        "text_quality_scores",
        "text_langid_agg",
        "dedup_ngram_jaccard",
        "events_sessionization",
    ):
        plan = plan_of(spark, name)
        assert "EvalPython" not in plan, f"{name} fell off the JVM path"
        assert "MapInPandas" not in plan, f"{name} fell off the JVM path"


def test_knn_scoring_is_arrow_vectorized(spark):
    """Embedding scoring deliberately uses a pandas_udf (one numpy matrix
    op per Arrow batch — measured ~5x the interpreted higher-order
    ``aggregate`` lambda). It must be the VECTORIZED Python node, never
    row-at-a-time."""
    for name in ("embed_knn_bruteforce", "embed_ann_lsh"):
        plan = plan_of(spark, name)
        assert "ArrowEvalPython" in plan, f"{name} lost the vectorized scorer"
        assert "BatchEvalPython" not in plan, f"{name} fell to row-at-a-time"


def test_results_invariant_under_join_strategy(spark):
    """At 100TB the dims stop fitting under the broadcast threshold and the
    planner falls back to sort-merge — results must not depend on which
    strategy Catalyst picks."""
    name = "mart_region_revenue"
    expected = SPECS[name].fn(spark, SF_SMALL).collect()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got = SPECS[name].fn(spark, SF_SMALL).collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == expected


def test_bucketed_join_colocates(spark):
    """Bucketing both join sides on the key removes the shuffle entirely —
    the pre-partitioning lever for repeatedly-joined 100TB fact tables
    (SURVEY.md §4.2). Asserted: the bucketed join plan has NO Exchange."""
    import tempfile

    from enterprise_data_quality_platform_spark.catalog import table

    with tempfile.TemporaryDirectory(prefix="edqp-wh-") as wh:
        # warehouse.dir is static — park the bucketed tables in a
        # temp-location database instead
        spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{wh}/db'")
        orders = table(spark, SF_SMALL, "orders")
        lineitem = table(spark, SF_SMALL, "lineitem")
        from enterprise_data_quality_platform_spark.sources.writers import (
            write_bucketed,
        )

        try:
            write_bucketed(orders, "bucketdb.b_orders", ["o_orderkey"], 8,
                           sort_cols=["o_orderkey"])
            write_bucketed(lineitem, "bucketdb.b_lineitem", ["l_orderkey"], 8,
                           sort_cols=["l_orderkey"])
            old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                joined = spark.table("bucketdb.b_orders").join(
                    spark.table("bucketdb.b_lineitem"),
                    F.col("o_orderkey") == F.col("l_orderkey"),
                )
                plan = joined._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
                assert "SortMergeJoin" in plan
                assert "Exchange" not in plan  # co-located: no shuffle
                assert joined.count() == lineitem.count()
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        finally:
            spark.sql("DROP DATABASE IF EXISTS bucketdb CASCADE")


def test_multimodal_is_arrow_batched(spark):
    """The one sanctioned Python boundary must be Arrow-batched
    (MapInPandas), never row-at-a-time BatchEvalPython."""
    plan = plan_of(spark, "multimodal_features")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_knn_batch_topk_has_partial_window_limit(spark):
    """The per-probe top-k window must not serialize the scored corpus
    through one partition per probe: Spark 4 plans rank<=k as
    WindowGroupLimit with a PARTIAL map-side pass, so only <=k rows per
    (probe, input partition) cross the shuffle. Assert the partial pass is
    present (losing it — e.g. by filtering on a non-rank predicate —
    regresses to a full per-probe sort)."""
    plan = plan_of(spark, "embed_knn_batch")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan, "map-side top-k pass lost"


def test_winnow_single_exchange_and_codegen_hashing(spark):
    """Winnowing fingerprints: the repartition's hashpartitioning(doc_id)
    must serve the window AND the per-doc aggregate — exactly ONE Exchange
    in the whole plan — and gram hashing must be plain codegen expressions
    (no Python, no interpreted HOF lambdas)."""
    plan = plan_of(spark, "text_fingerprint_winnow")
    # count physical-plan node lines ("(N) Exchange"), not substrings
    nodes = [l for l in plan.splitlines() if ") Exchange" in l]
    assert len(nodes) == 1, nodes
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tfidf_topk_has_partial_window_limit(spark):
    """Per-doc top-3 must run the Spark 4 map-side partial WindowGroupLimit
    so no document's full term list crosses the shuffle unpruned."""
    plan = plan_of(spark, "text_tfidf_terms")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_sample_balanced_broadcasts_stratum_counts(spark):
    """The accept filter joins stratum counts + the 1-row target — both
    must broadcast; a shuffle join on the stratum key would re-shuffle the
    whole corpus for a stratum-cardinality dimension."""
    plan = plan_of(spark, "training_sample_balanced")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row target crossJoin
    assert "SortMergeJoin" not in plan


def test_quantize_broadcasts_calibration(spark):
    """Per-dim stats (n_dims rows) must broadcast onto the exploded values;
    vocab-sized frames never justify shuffling the corpus side."""
    plan = plan_of(spark, "embed_quantize_int8")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gapfill_window_runs_over_grid_not_raw_rows(spark):
    """The dense grid must be exploded off the hourly aggregate itself —
    no grid ⋈ hourly join (the join form consumed the hourly subtree three
    times and per-consumer aggregate pruning de-canonicalized them into
    three full event scans — r5 scan-count audit), and the LOCF window
    consumes grid rows, never raw events."""
    plan = plan_of(spark, "events_gapfill_hourly")
    assert "Window" in plan
    assert "Generate" in plan and "explode" in plan  # gap spans per bucket
    assert "Join" not in plan  # no grid-probe join of any kind
    # ONE events scan feeds everything (each scan prints one Location line)
    assert plan.count("Location:") == 1


def test_funnel_single_aggregation_no_self_joins(spark):
    """The staged funnel must be ONE groupBy pass over events — the naive
    per-stage self-join form would show N-1 joins here."""
    plan = plan_of(spark, "events_funnel_conversion")
    assert "Join" not in plan
    assert "PushedFilters" in plan and "In(event_type" in plan


def test_ma7_window_runs_over_daily_aggregate(spark):
    """The frame window must consume the per-day aggregate, never raw
    orders: exactly one unpartitioned Window, fed by a HashAggregate."""
    plan = plan_of(spark, "mart_daily_revenue_ma7")
    assert "Window" in plan
    # formatted plans print parent-first: Window must appear ABOVE the
    # aggregate in the tree, i.e. the aggregate is the window's input
    assert plan.index("Window") < plan.index("HashAggregate")


def test_part_affinity_no_nested_loop(spark):
    """The basket self-join must be a hash/merge equi-join on the order
    key — a nested-loop/cartesian plan here is the O(n^2) failure mode —
    and the two identical fact subtrees must share ONE exchange (the
    long-session-safe form: no ObjectHashAggregate basket state). Since
    r12 the pack-range guard resolves from parquet footer statistics at
    build time on the test data, so the plan carries NO nested loop (and
    no guard subtree) at all."""
    from enterprise_data_quality_platform_spark.operators.packedmap import (
        _footer_col_minmax,
    )

    # the plan assertions below assume the fixture's footers prove the
    # l_partkey range; a fixture without exact stats fails here, by name
    assert _footer_col_minmax(SF_SMALL, "lineitem", "l_partkey") is not None
    plan = plan_of(spark, "mart_part_affinity")
    assert "CartesianProduct" not in plan
    # the footer-verified plan has no guard attach: zero nested loops;
    # the pair self-join itself must stay an equi hash/merge join on the
    # order key
    assert plan.count(") BroadcastNestedLoopJoin") == 0
    assert "raise_error" not in plan  # guard resolved from footer stats
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Left keys [1]: [l_orderkey" in plan  # equi self-join on the basket key
    assert "ObjectHashAggregate" not in plan  # no collect_list state
    assert "TakeOrderedAndProject" in plan  # top-20 without global sort
    # exchange reuse is an AQE runtime decision: execute, then read the
    # final adaptive plan
    df = SPECS["mart_part_affinity"].fn(spark, SF_SMALL)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final  # both join sides fed by ONE shuffle


def test_snapshot_diff_fingerprints_below_the_join(spark):
    """The CDC diff must hash compared columns BEFORE the full outer join
    so only (key, fingerprint) crosses the shuffle."""
    plan = plan_of(spark, "dq_snapshot_diff")
    assert "FullOuter" in plan
    # fingerprint hashing exists and is computed in the detail section of
    # the pre-join projections (details print child-after-parent, so the
    # hash expression appearing after the join header means below it)
    assert plan.index("xxhash64") > plan.index("FullOuter")


def test_transitions_window_is_partitioned_by_user(spark):
    """The lead() window must be partitioned by user_id (distributed) —
    a global window here would serialize the whole event stream."""
    df = SPECS["events_user_transitions"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(user_id" in plan


def test_rate_anomaly_broadcasts_stats_no_window(spark):
    """The SPC z computation must be a 1-row broadcast onto the hourly
    frame — not a global window over hourly rows (and certainly not raw
    events)."""
    plan = plan_of(spark, "events_rate_anomaly")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats crossJoin
    assert "Window" not in plan


def test_scd2_single_window_single_shuffle(spark):
    """lag-flag and running episode number share one partitioning and sort
    order: the two Window nodes (frames differ, so they can't merge) must
    sit on ONE user_id Exchange and ONE Sort — a second sort/shuffle here
    would double the cost of the islands pass."""
    plan = plan_of(spark, "events_scd2_episodes")
    assert "windowspecdefinition(user_id" in plan
    # exactly one hash-exchange on user_id and one user-ordered Sort node
    assert plan.count("Arguments: hashpartitioning(user_id") == 1
    sort_args = [
        line
        for line in plan.splitlines()
        if line.startswith("Arguments: [user_id") and "ASC" in line
    ]
    assert len(sort_args) == 1, sort_args


def test_rfm_uses_broadcast_boundaries_not_global_window(spark):
    """Quartile assignment must come from broadcast percentile boundaries;
    a global ntile window over per-customer rows is the scale-killer this
    query exists to avoid."""
    plan = plan_of(spark, "mart_customer_rfm")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row boundary crossJoin


def test_attribution_window_partitioned_and_filter_after(spark):
    """The carry-forward window must be user-partitioned and the purchase
    filter must NOT be pushed below the window (the window needs every
    event to find the last touch)."""
    df = SPECS["events_attribution"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(user_id" in plan
    # no event_type pushdown into the scan: either no PushedFilters line
    # at all, or one that doesn't mention purchase
    phys = plan_of(spark, "events_attribution")
    pushed = [l for l in phys.splitlines() if "PushedFilters" in l]
    assert all("purchase" not in l for l in pushed)


def test_reconciliation_aggregates_below_the_join(spark):
    """lineitem must pre-aggregate to per-order cents BEFORE joining the
    header — a join of raw lines against orders would shuffle every line
    row twice."""
    plan = plan_of(spark, "dq_reconciliation")
    # tree prints parent-first: the join sits above one side's aggregate
    join_pos = min(
        (plan.index(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin") if j in plan),
    )
    assert "HashAggregate" in plan[join_pos:], "line pre-agg not below join"


def test_pii_scan_is_one_fused_jvm_pass(spark):
    """Four regex flags must fuse into one scan + one aggregate — no
    Python nodes, no repeated scans."""
    plan = plan_of(spark, "text_pii_scan")
    # one scan: formatted output names each scan once in the tree and once
    # in the detail section, so a single scan yields exactly one Location
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_partition_pruning_reaches_scan(spark, sf_dir, tmp_path):
    """A filter on the partition column must become a PartitionFilter
    (directory pruning — zero IO for excluded partitions), not a row
    filter: the difference between scanning one day and scanning 100 TB."""
    from enterprise_data_quality_platform_spark.catalog import table

    orders = table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_by_year")
    (
        orders.withColumn("order_year", F.year("o_orderdate"))
        .write.partitionBy("order_year")
        .parquet(path)
    )
    df = spark.read.parquet(path).filter(F.col("order_year") == 1996)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "= 1996)" in pf  # attribute ids vary (order_year#N)
    # and the pruned read returns exactly the partition's rows
    want = orders.filter(F.year("o_orderdate") == 1996).count()
    assert df.count() == want


def test_dynamic_partition_pruning_on_fact_dim_join(spark, sf_dir, tmp_path):
    """Joining a partitioned fact to a FILTERED dim must inject a runtime
    pruning subquery (DPP): the fact directories to scan are decided by
    the dim filter's result at execution, not statically — the mechanism
    that keeps a 100 TB star join from scanning every date partition."""
    from enterprise_data_quality_platform_spark.catalog import table

    orders = table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_part")
    (
        orders.withColumn("order_year", F.year("o_orderdate"))
        .write.partitionBy("order_year")
        .parquet(path)
    )
    fact = spark.read.parquet(path)
    # Two gotchas pinned here: (1) the dim filter must be on a NON-join
    # column — a literal filter on the key itself gets propagated
    # STATICALLY by Catalyst into a plain PartitionFilter (better than
    # DPP, asserted by the sibling test above); (2) it must be a shape
    # Catalyst's isLikelySelective accepts (equality/IN/LIKE) — a bare
    # boolean attribute predicate does NOT qualify and silently disables
    # DPP.
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(y, "on" if y == 1997 else "off") for y in range(1994, 2002)],
        "y int, flag string",
    ).write.parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("flag") == "on")
    old = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    try:
        joined = fact.join(dim, fact.order_year == dim.y)
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "dynamicpruning" in plan.lower(), "no DPP subquery injected"
        want = orders.filter(F.year("o_orderdate") == 1997).count()
        assert joined.count() == want
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", old
        )


def test_tfidf_explodes_corpus_once(spark):
    """text_tfidf_terms: the tf and df consumers must share ONE exploded
    (doc, token) exchange. Catalyst eliminates an unreferenced inner count
    from the df branch (HashAggregate functions=[]), de-canonicalizing the
    subtrees — the when(tf > 0) guard keeps them identical (round-5 fix:
    the final plan ran the corpus tokenization twice)."""
    df = SPECS["text_tfidf_terms"].fn(spark, SF_SMALL)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert "ReusedExchange" in final
    assert final.count("Generate explode") == 1  # ONE tokenization pass


def _numbered_ops(plan: str) -> list[str]:
    """Operator names from the formatted plan's details section, in
    leaves-first order ((1) Scan parquet ... (N) AdaptiveSparkPlan)."""
    import re

    out = []
    for line in plan.splitlines():
        m = re.match(r"^\((\d+)\) (\S+)", line.strip())
        if m:
            out.append((int(m.group(1)), m.group(2)))
    return [name for _, name in sorted(out)]


def test_boilerplate_ngrams_topk_no_global_sort(spark):
    """Cross-doc boilerplate: gram explode collapses into ONE map-combined
    aggregate; the top-50 is TakeOrderedAndProject (never a global sort of
    gram counts), and no Python UDF touches the path."""
    plan = plan_of(spark, "text_boilerplate_ngrams")
    ops = _numbered_ops(plan)
    assert "TakeOrderedAndProject" in ops
    # two exchanges: the pre-shingle repartition (scan-stage parallelism
    # guard) + the single gram aggregate
    assert ops.count("Exchange") == 2
    assert "hashpartitioning(gram" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # gram construction stays FLAT (slice/arrays_zip/concat after the
    # explode): a higher-order lambda here evaluates interpreted and cost
    # 48 of the query's 49 s at sf10 (r5 third-session profile) — if a
    # lambdafunction reappears in this plan, the rewrite regressed
    assert "lambdafunction" not in plan


def test_csv_roundtrip_is_row_local(spark):
    """to_csv→from_csv adds NO shuffle: the only exchanges are the
    aggregate's and the presentation sort's."""
    plan = plan_of(spark, "source_csv_roundtrip")
    ops = _numbered_ops(plan)
    assert ops.count("Exchange") == 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cumulative_users_windows_over_aggregate_not_raw(spark):
    """The running sum must see the ≤|days| aggregate rows, never raw
    events: both aggregates run BELOW the Window in leaves-first order."""
    ops = _numbered_ops(plan_of(spark, "events_cumulative_users"))
    assert "Window" in ops
    aggs_before = [o for o in ops[: ops.index("Window")] if o == "HashAggregate"]
    assert len(aggs_before) >= 2  # per-user min + per-day count


def test_incremental_exact_state_join_prunes_columns(spark):
    """The shard-vs-state fingerprint probe is an equi join — no nested
    loop or cartesian anywhere in the plan."""
    plan = plan_of(spark, "dedup_incremental_exact")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def _exception_chain_text(e: BaseException) -> str:
    """Concatenated text of an exception plus its __cause__/__context__
    chain. Py4J/Spark wrap the raise_error message at varying depths (and
    occasionally truncate str() under in-session pressure — the one
    observed flake of the pack-guard test), so assertions scan the whole
    chain rather than str(exc.value) alone."""
    parts: list[str] = []
    seen: set[int] = set()
    cur: BaseException | None = e
    while cur is not None and id(cur) not in seen:
        seen.add(id(cur))
        parts.append(str(cur))
        parts.extend(str(a) for a in getattr(cur, "args", ()))
        # Spark Connect / captured errors keep the server-side message here
        for attr in ("desc", "_desc", "java_exception", "getMessage"):
            v = getattr(cur, attr, None)
            try:
                parts.append(str(v() if callable(v) else v))
            except Exception:
                pass
        cur = cur.__cause__ or cur.__context__
    return "\n".join(p for p in parts if p)


def test_part_affinity_pack_guard_raises_on_huge_partkey(spark, tmp_path):
    """ADVICE r5: the packed 64-bit pair key silently collides once
    l_partkey >= 2^32 — the guard must make a scale-up fail LOUDLY
    instead of returning wrong co-occurrence counts."""
    import pytest

    from enterprise_data_quality_platform_spark.queries.relational import (
        mart_part_affinity,
    )

    bad = spark.createDataFrame(
        [(1, 2**32 + 5), (1, 2**32 + 9), (2, 7), (2, 11)],
        "l_orderkey long, l_partkey long",
    )
    bad.write.parquet(str(tmp_path / "lineitem.parquet"))
    with pytest.raises(Exception) as exc:
        mart_part_affinity(spark, str(tmp_path)).collect()
    assert "pack range" in _exception_chain_text(exc.value)

    ok = spark.createDataFrame(
        [(1, 3), (1, 5), (2, 3), (2, 5), (2, 9)],
        "l_orderkey long, l_partkey long",
    )
    import shutil

    shutil.rmtree(str(tmp_path / "lineitem.parquet"))
    ok.write.parquet(str(tmp_path / "lineitem.parquet"))
    rows = mart_part_affinity(spark, str(tmp_path)).collect()
    top = {(r.part_a, r.part_b): r.together_count for r in rows}
    assert top[(3, 5)] == 2 and top[(3, 9)] == 1 and top[(5, 9)] == 1


def test_part_affinity_guard_fallback_without_footer_stats(spark, tmp_path):
    """When the parquet writer emitted no column statistics, the footer
    check cannot prove the pack range, so the r12 build-time guard must
    fall back to the in-plan min/max guard: a huge partkey still fails
    loudly AT ACTION TIME, and in-range data still answers correctly
    (with the 20×1 BroadcastNestedLoopJoin guard attach in the plan)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from enterprise_data_quality_platform_spark.queries.relational import (
        mart_part_affinity,
    )

    def write_nostats(rows, path):
        tbl = pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, path, write_statistics=False)

    write_nostats([(1, 2**32 + 5), (1, 2**32 + 9)], str(tmp_path / "lineitem.parquet"))
    df = mart_part_affinity(spark, str(tmp_path))  # builds: guard is in-plan
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "raise_error" in plan  # fallback guard attached
    with pytest.raises(Exception) as exc:
        df.collect()
    assert "pack range" in _exception_chain_text(exc.value)

    (tmp_path / "lineitem.parquet").unlink()
    write_nostats(
        [(1, 3), (1, 5), (2, 3), (2, 5), (2, 9)],
        str(tmp_path / "lineitem.parquet"),
    )
    rows = mart_part_affinity(spark, str(tmp_path)).collect()
    top = {(r.part_a, r.part_b): r.together_count for r in rows}
    assert top[(3, 5)] == 2 and top[(3, 9)] == 1 and top[(5, 9)] == 1


def test_part_affinity_string_partkey_falls_back_to_in_plan_guard(spark, tmp_path):
    """A footer whose l_partkey min/max is not an int (here a string
    column) proves no pack range: the footer check reports "no stats" and
    the query builds with the in-plan guard instead of raising a bare
    TypeError from comparing a string bound with an int."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from enterprise_data_quality_platform_spark.operators.packedmap import (
        _footer_col_minmax,
    )
    from enterprise_data_quality_platform_spark.queries.relational import (
        mart_part_affinity,
    )

    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([1, 1, 2, 2, 2], pa.int64()),
                "l_partkey": pa.array(["3", "5", "3", "5", "9"], pa.string()),
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )
    assert _footer_col_minmax(str(tmp_path), "lineitem", "l_partkey") is None
    df = mart_part_affinity(spark, str(tmp_path))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "raise_error" in plan  # fallback guard attached


def test_part_affinity_empty_input_returns_empty(spark, tmp_path):
    """An empty lineitem yields an empty result — the pack-range guard's
    NULL min/max (no rows) must not trip the raise."""
    from enterprise_data_quality_platform_spark.queries.relational import (
        mart_part_affinity,
    )

    empty = spark.createDataFrame([], "l_orderkey long, l_partkey long")
    empty.write.parquet(str(tmp_path / "lineitem.parquet"))
    assert mart_part_affinity(spark, str(tmp_path)).collect() == []


def test_shipping_priority_bucketed_is_exchange_free(spark):
    """The bucketed Q3 twin's steady state: with broadcast conversion off
    (forcing the join shape a 100 TB run would see), the orderkey join
    rides the bucket partitioning — NO shuffle Exchange and NO Sort
    anywhere in the final plan (buckets are pre-sorted on the key); the
    only broadcast is the explicitly-hinted customer dim, and the
    aggregate reuses the same partitioning. The top-10 is
    TakeOrderedAndProject (never a global sort)."""
    from enterprise_data_quality_platform_spark.queries.relational import (
        mart_shipping_priority_bucketed,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = mart_shipping_priority_bucketed(spark, SF_SMALL)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        shuffle_exchanges = final.count("Exchange hashpartitioning") + \
            final.count("Exchange rangepartitioning") + \
            final.count("Exchange SinglePartition")
        assert shuffle_exchanges == 0, final
        assert " Sort " not in final and "+- Sort" not in final, final
        assert "TakeOrderedAndProject" in final
        # value parity with the un-bucketed twin on the same session
        from enterprise_data_quality_platform_spark.queries.relational import (
            mart_shipping_priority,
        )
        a = [tuple(r) for r in df.collect()]
        b = [tuple(r) for r in mart_shipping_priority(spark, SF_SMALL).collect()]
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_returned_revenue_bucketed_single_exchange(spark):
    """The bucketed Q10 twin's steady state: the orderkey fact join rides
    the bucket partitioning (no exchange, no sort on either side), and the
    ONLY shuffle left is the custkey re-aggregation — which cannot ride
    orderkey bucketing (group keys ⊉ bucket key) but carries map-side
    partial aggregates, not fact rows. Pinned: exactly one shuffle
    Exchange, zero Sorts, top-20 via TakeOrderedAndProject."""
    from enterprise_data_quality_platform_spark.queries.relational import (
        mart_returned_revenue,
        mart_returned_revenue_bucketed,
    )

    df = mart_returned_revenue_bucketed(spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    shuffle_exchanges = final.count("Exchange hashpartitioning") + \
        final.count("Exchange rangepartitioning") + \
        final.count("Exchange SinglePartition")
    assert shuffle_exchanges == 1, final
    assert " Sort " not in final and "+- Sort" not in final, final
    assert "TakeOrderedAndProject" in final
    # value parity with the un-bucketed twin on the same session
    a = [tuple(r) for r in df.collect()]
    b = [tuple(r) for r in mart_returned_revenue(spark, SF_SMALL).collect()]
    assert a == b


def test_local_supplier_volume_bucketed(spark):
    """The bucketed Q5 twin's steady state: the lineitem⋈orders edge (the
    only fact⋈fact join) rides the bucket partitioning — no exchange, no
    sort under it; the suppkey edge stays a broadcast dim (one layout can
    serve one key — the documented limit). What remains: ONE hash exchange
    of ≤25-group partials and ONE range exchange + Sort ordering the ≤25
    aggregated result rows. Pinned exactly."""
    from enterprise_data_quality_platform_spark.queries.relational import (
        mart_local_supplier_volume,
        mart_local_supplier_volume_bucketed,
    )

    df = mart_local_supplier_volume_bucketed(spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, final
    assert final.count("Exchange rangepartitioning") == 1, final
    assert final.count("Exchange SinglePartition") == 0, final
    sort_lines = [
        ln for ln in final.splitlines() if " Sort " in ln or "+- Sort" in ln
    ]
    # exactly one Sort, and it orders the aggregated result (rev_units),
    # never a join key — the fact join must stay sort-free
    assert len(sort_lines) == 1 and "rev_units" in sort_lines[0], final
    a = [tuple(r) for r in df.collect()]
    b = [tuple(r) for r in mart_local_supplier_volume(spark, SF_SMALL).collect()]
    assert a == b


def test_shipping_priority_packed_no_fact_shuffle(spark):
    """The r8 packed date-map Q3: zero SortMergeJoins — the orderkey
    fact-fact edge is a broadcast word join (both its filters folded into
    slot absence), so the only hash exchanges left are the word-map build
    and the ~20x-reduced (orderkey, daycode) aggregate; the top-10 is
    TakeOrderedAndProject and the final Sort orders 10 rows."""
    from enterprise_data_quality_platform_spark.queries.relational import (
        _mart_shipping_priority_packed as mart_shipping_priority,
    )

    df = mart_shipping_priority(spark, SF_SMALL)
    df.collect()
    fin = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert fin.count("SortMergeJoin") == 0, fin
    assert fin.count("Exchange hashpartitioning") == 2, fin
    assert "TakeOrderedAndProject" in fin


def test_local_supplier_volume_packed_no_fact_shuffle(spark):
    """The r8 composed nation-code maps Q5: zero SortMergeJoins and zero
    fact shuffles — the four hash exchanges are the three word-map builds
    (customer/order/supplier) plus the <=25-group nation aggregate; the
    single Sort orders the <=25 aggregated result rows. This is the plan
    the bucketed twin could NOT reach (one bucket layout cannot co-locate
    both the orderkey and suppkey edges); packed maps remove both."""
    from enterprise_data_quality_platform_spark.queries.relational import (
        _mart_local_supplier_volume_packed as mart_local_supplier_volume,
    )

    df = mart_local_supplier_volume(spark, SF_SMALL)
    df.collect()
    fin = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert fin.count("SortMergeJoin") == 0, fin
    assert fin.count("Exchange hashpartitioning") == 4, fin
    sort_lines = [
        ln for ln in fin.splitlines() if " Sort " in ln or "+- Sort" in ln
    ]
    assert len(sort_lines) == 1 and "rev_units" in sort_lines[0], fin


def test_user_gini_rank_window_over_distinct_count_frame(spark):
    """r11: the Gini rank-sum must NOT materialize a per-user global
    row_number — that was the one single-partition window in the repo
    whose input grew linearly with the data. The tie-group form windows
    over the distinct-count frame (O(sqrt(events)) rows): the plan has no
    row_number, and the window's input is the cnt-grouped aggregate
    (hashpartitioning(cnt) exchange below the single-partition sort)."""
    plan = plan_of(spark, "events_user_gini")
    assert "row_number" not in plan, plan
    assert "hashpartitioning(cnt" in plan, plan
    ops = _numbered_ops(plan)
    # leaves-first: user-count agg, cnt-group agg, THEN the window
    assert "Window" in ops, plan
    aggs_before = [o for o in ops[: ops.index("Window")] if o == "HashAggregate"]
    assert len(aggs_before) >= 4, plan  # partial+final per-user, partial+final per-cnt



def test_driver_frames_only_built_through_local_frame():
    """``createDataFrame(<list>)`` plans a PipelinedRDD whose first action
    forks Python workers; driver-built frames go through
    ``session.local_frame`` (an Arrow-backed LocalRelation) instead. The
    only other caller is ``compat.py``, whose schema is inferred from the
    caller's row-dicts."""
    import inspect
    from pathlib import Path

    from enterprise_data_quality_platform_spark import session

    root = Path(session.__file__).parent
    body, start = inspect.getsourcelines(session.local_frame)
    inside_local_frame = range(start, start + len(body))
    stray = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        if path.name != "compat.py" or path.parent != root
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if ".createDataFrame(" in line
        and not (path == root / "session.py" and i in inside_local_frame)
    ]
    assert not stray, stray
