"""Physical-plan audits — the 100 TB discipline checks (SURVEY.md §4).

Asserts the properties that make these plans survive scale-up: dimension
joins broadcast (no shuffle of the fact table), filters and projections
reach the parquet scan (PushedFilters / ReadSchema pruning), and hot
expressions stay inside WholeStageCodegen.
"""

from __future__ import annotations

from incremental_datapipeline_using_snowflake_spark.queries import all_queries


def plan_of(spark, sf_dir, name: str) -> str:
    fn, _ = all_queries()[name]
    return fn(spark, sf_dir)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_dimension_joins_broadcast(spark, sf_dir):
    """region_revenue: all three dimension joins must be broadcast — the
    lineitem fact table is never shuffled for them."""
    plan = plan_of(spark, sf_dir, "region_revenue")
    assert plan.count("BroadcastHashJoin") >= 3
    # the only shuffles allowed: the fact-side join with orders + final agg
    assert "CartesianProduct" not in plan


def test_q1_scan_prunes_columns_and_pushes_filter(spark, sf_dir):
    """q1: the parquet scan must read only the referenced columns and push
    the shipdate predicate down to the reader."""
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "PushedFilters: [" in plan
    # ReadSchema must not contain unreferenced wide columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in read_schema
    assert "l_partkey" not in read_schema


def test_q1_stays_in_codegen(spark, sf_dir):
    fn, _ = all_queries()["q1_pricing_summary"]
    df = fn(spark, sf_dir)
    df.collect()  # execute THIS plan so AQE finalizes it (count() would
    # spawn a separate query execution and leave this one unfinalized)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # codegen'd stages carry the *(n) marker; scan+filter+partial-agg and
    # the final agg must each be inside one
    assert "*(1)" in plan and "*(2)" in plan
    # no Python UDF in the relational hot path
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_watermark_filter_pushes_down(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "watermark_filter")
    assert "PushedFilters: [" in plan and "GreaterThan" in plan


def test_merge_upsert_broadcasts_source(spark, store):
    """The merge rewrite must broadcast the (small) source side so the
    target is scanned once and never shuffled."""
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.operators import merge_upsert

    target = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    store.overwrite(target, "ns.big")
    src = spark.range(0, 10).select(F.col("id").alias("k"), F.lit(9.9).alias("v"))
    merge_upsert(spark, store, "ns.big", src, keys=["k"], count_rows=False)

    from incremental_datapipeline_using_snowflake_spark.operators.merge import upsert_dataframe

    merged = upsert_dataframe(store.read(spark, "ns.big"), src, keys=["k"])
    plan = merged._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # anti + inner joins against the source present; no sort-merge of target
    assert plan.count("BroadcastHashJoin") >= 2


def _exchange_subtrees(simple_plan: str) -> list[list[str]]:
    """Each exchange node's (shuffle or broadcast) subtree lines, by
    indentation depth."""
    lines = simple_plan.splitlines()
    depth = lambda ln: len(ln) - len(ln.lstrip(" :+-*"))  # noqa: E731
    out = []
    for i, ln in enumerate(lines):
        if "Exchange" in ln:
            d = depth(ln)
            sub = [ln]
            for nxt in lines[i + 1 :]:
                if nxt.strip() and depth(nxt) <= d:
                    break
                sub.append(nxt)
            out.append(sub)
    return out


def test_merge_never_broadcasts_or_shuffles_target(spark, store):
    """100 TB discipline: the merge plan never puts the target table's
    parquet scan under an exchange (shuffle or broadcast), nothing falls
    back to sort-merge, and the source key set reaches the target scan as a
    pushed-down literal predicate."""
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.operators.merge import merge_plan

    target = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    store.overwrite(target, "ns.audit_big")
    src = spark.createDataFrame(
        [(5, 9.9), (10_500, 1.1)], schema="k long, v double"
    )
    result, n_upd, n_ins = merge_plan(
        spark, store.read(spark, "ns.audit_big"), src, keys=["k"]
    )
    plan = result._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "SortMergeJoin" not in plan
    for sub in _exchange_subtrees(plan):
        scans = [ln for ln in sub if "FileScan parquet" in ln or "Scan parquet" in ln]
        assert not scans, "target parquet scan under an exchange:\n" + "\n".join(sub)
    # the key-set predicate is pushed into the (only) target scan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1
    assert "PushedFilters: [Or(Not(In(k, [10500,5]))" in scans[0], scans[0]

    # semantics unchanged: 1 update + 1 insert
    assert (n_upd, n_ins) == (1, 1)
    rows = {r["k"]: r["v"] for r in result.collect()}
    assert len(rows) == 10001 and rows[5] == 9.9 and rows[10_500] == 1.1



def test_inventory_plan_invariants(spark, sf_dir):
    """ONE sweep over the declared inventory asserting the three
    engine-wide plan invariants that used to be three separate sweeps
    (r14: each sweep re-built all ~205 query plans — store-backed queries
    re-ran their store builds — at ~140-160 s PER SWEEP; the checks are
    all readable off one executed-plan string, so three sweeps bought
    nothing but 2x the driver-budget cost):

    - every declared query returns a lazy DataFrame (distributed plan,
      never a driver-collected result);
    - no plan contains a row-at-a-time Python eval (BatchEvalPython /
      PythonUDTF) — Arrow-vectorized exec is the allowed Python path; the
      single exception is udtf_chunk, which exists to pin the UDTF API;
    - no plan contains a CartesianProduct (BroadcastNestedLoopJoin is
      allowed only as the intended non-equi broadcast shape — a cartesian
      between two unbroadcast relations is always a bug at scale).
    """
    from pyspark.sql import DataFrame

    allowed_row_python = {"udtf_chunk"}
    row_python, cartesians = [], []
    for name, (fn, _sql) in all_queries().items():
        df = fn(spark, sf_dir)
        assert isinstance(df, DataFrame), name
        plan = df._jdf.queryExecution().executedPlan().toString()
        if name not in allowed_row_python and (
            "BatchEvalPython" in plan or "PythonUDTF" in plan
        ):
            row_python.append(name)
        if "CartesianProduct" in plan:
            cartesians.append(name)
    assert not row_python, f"row-at-a-time Python in: {row_python}"
    assert not cartesians, f"cartesian products in: {cartesians}"


def test_bm25_plan_has_no_exchange(spark, sf_dir):
    """bm25_topk promises two scans and zero joins: the physical plan must
    contain no Exchange (stats are literals) and use TakeOrdered for the
    global top-k rather than a full sort."""
    from incremental_datapipeline_using_snowflake_spark.queries.temporal_prep import (
        bm25_search,
    )

    plan = bm25_search(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan


def test_zorder_layout_has_no_single_partition_window(spark, sf_dir):
    """zorder_layout's file assignment is distributed_ntile: bucket ids must
    come from range-partitioned per-partition windows, never a global
    `Window ... SinglePartition` that funnels the fact table into one task."""
    from incremental_datapipeline_using_snowflake_spark.queries.relational2 import (
        zorder_layout,
    )

    plan = zorder_layout(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan.lower()
    # every Window node must be partitioned by _pid (per-range-partition
    # row_number); the only SinglePartition exchanges allowed are the final
    # scalar aggregates over <=64 partial rows
    for ln in plan.splitlines():
        if "Window" in ln and "window" in ln.lower():
            assert "_pid" in ln, ln


def test_connected_components_truncates_lineage(spark):
    """The returned labels must be a checkpointed RDD scan — no joins or
    iteration history in the plan (unbounded lineage is the classic
    iterative-Spark failure: plans double per round and stage retries
    recompute the whole history)."""
    from incremental_datapipeline_using_snowflake_spark.ops.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    out = connected_components(edges)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "Join" not in plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Co-located (bucketed) tables join with ZERO exchanges: bucketBy on
    the join key + sortBy gives a SortMergeJoin whose both sides read
    pre-partitioned, pre-sorted buckets — the layout that turns the big
    fact-fact join from a full shuffle into a local merge at 100 TB."""
    import pyspark.sql.functions as F

    left = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name, df in (("bkt_l", left), ("bkt_r", right)):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.option("path", str(tmp_path / name))
                .bucketBy(8, "k")
                .sortBy("k")
                .saveAsTable(name)
            )
        j = spark.table("bkt_l").join(spark.table("bkt_r"), "k")
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan          # no shuffle on either side
        assert j.count() == 5000               # and it actually runs
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ("bkt_l", "bkt_r"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


# (test_no_row_at_a_time_python_in_inventory and
# test_no_unintended_cartesian_products folded into
# test_inventory_plan_invariants above — one inventory sweep instead of
# three, identical assertions.)
