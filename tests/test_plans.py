"""Physical-plan audits (SURVEY §7 Phase 1: A26 parity as plan tests).

The reference hand-engineers its shuffle path (writer selection, map-side
combine, Tungsten sort); our engine's claim is that Catalyst produces the
equivalent-or-better physical plan.  These tests pin that claim: pushdown
reaches the scan, aggregates split partial/final, small dims broadcast,
top-k avoids global sort."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shuttle_spark.catalog import load_table

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    li = load_table(spark, SF, "lineitem")
    df = li.filter(F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp")).select(
        "l_orderkey"
    )
    txt = formatted(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in txt


def test_column_pruning_reaches_scan(spark):
    li = load_table(spark, SF, "lineitem")
    txt = formatted(li.select("l_orderkey", "l_quantity"))
    # ReadSchema must carry only the projected columns, not all 11.
    assert "l_extendedprice" not in txt.split("ReadSchema")[1]


def test_aggregate_is_partial_final(spark):
    """A2/A3/A24 parity: map-side combine exists as HashAggregate(partial)."""
    li = load_table(spark, SF, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    txt = plan_of(df)
    assert txt.count("HashAggregate") >= 2  # partial + final


def test_broadcast_join_plans_broadcast(spark):
    o = load_table(spark, SF, "orders")
    n = load_table(spark, SF, "nation")
    df = o.join(F.broadcast(n), F.col("o_custkey") % 25 == F.col("n_nationkey"))
    assert "BroadcastHashJoin" in plan_of(df)


def test_top_k_avoids_global_sort(spark):
    li = load_table(spark, SF, "lineitem")
    df = li.select("l_orderkey").orderBy(F.desc("l_orderkey")).limit(10)
    assert "TakeOrderedAndProject" in plan_of(df)


def test_distinct_has_partial_aggregate(spark):
    """Duplicate collapse must begin map-side (partial agg before exchange),
    the engine twin of the reference's map-side combine."""
    li = load_table(spark, SF, "lineitem")
    df = li.select("l_partkey").distinct()
    assert plan_of(df).count("HashAggregate") >= 2


# ---------------------------------------------------------------------------
# Engine-level plan audits via shuttle_spark.plans (the API the tests above
# hand-roll) — plan-shape budgets for headline contracts.
# ---------------------------------------------------------------------------

from shuttle_spark import plans as P  # noqa: E402
from shuttle_spark.contracts import REGISTRY  # noqa: E402


def test_audit_exposes_pushdown_and_pruning(spark):
    li = load_table(spark, SF, "lineitem")
    df = li.filter(F.col("l_quantity") > 40).select("l_orderkey")
    a = P.audit(df)
    assert any("GreaterThan(l_quantity" in f for f in a["pushed_filters"])
    assert a["scan_columns"] == [["l_orderkey", "l_quantity"]]
    assert a["exchanges"] == 0


def test_tpch_q1_plan_budget(spark):
    """Flagship: one exchange (the group-by), partial aggregation on, no
    cartesian — the plan shape that scales to 100 TB."""
    df = REGISTRY["agg_tpch_q1"].build(spark, SF)
    a = P.assert_plan(df, max_exchanges=2, require_partial_agg=True)
    assert not a["python_stages"]  # all-JVM hot path


def test_join_3way_broadcasts_dims(spark):
    df = REGISTRY["join_3way_agg"].build(spark, SF)
    P.assert_plan(df, require_broadcast=True, no_cartesian=True)


def test_topk_cosine_has_no_exchange(spark):
    """Brute-force cosine top-k must be scan -> project -> TakeOrdered:
    zero shuffles of the corpus."""
    df = REGISTRY["topk_cosine"].build(spark, SF)
    a = P.assert_plan(df, max_exchanges=0)
    assert a["top_k"]


def test_tpch_q6_plan_budget(spark):
    """Q6 is the pushdown showcase: every predicate reaches the parquet
    scan, one partial+final aggregate, one exchange, zero Python."""
    df = REGISTRY["tpch_q6_shape"].build(spark, SF)
    a = P.assert_plan(df, max_exchanges=1, require_partial_agg=True)
    assert not a["python_stages"]
    flat = ";".join(a["pushed_filters"])
    assert "l_shipdate" in flat and "l_quantity" in flat and "l_discount" in flat


def test_tpch_q8_plan_budget(spark):
    """The 7-relation market-share join: every dimension broadcasts, no
    cartesian, exactly one grouped aggregate exchange at this SF."""
    df = REGISTRY["tpch_q8_shape"].build(spark, SF)
    a = P.assert_plan(df, require_broadcast=True, require_partial_agg=True)
    assert not a["python_stages"]


def test_tpch_q19_envelope_filters_reach_scans(spark):
    """Q19's disjunctive predicate is not scan-pushable as an OR, so the
    builder derives single-column envelopes (quantity<=30, size<=15) and
    pushes those; assert they actually reach both scans."""
    df = REGISTRY["tpch_q19_shape"].build(spark, SF)
    a = P.assert_plan(df, max_exchanges=1, require_broadcast=True)
    flat = ";".join(a["pushed_filters"])
    assert "l_quantity" in flat and "p_size" in flat


def test_tpch_q21_decorrelated_plan(spark):
    """Q21's EXISTS/NOT-EXISTS pair must plan as the single per-order
    aggregate rewrite: no cartesian, no Python, top-k via
    TakeOrderedAndProject rather than a global sort."""
    df = REGISTRY["tpch_q21_shape"].build(spark, SF)
    a = P.assert_plan(df, max_exchanges=5, no_cartesian=True)
    assert a["top_k"] and not a["python_stages"]


@pytest.mark.slow
def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling — the engine's answer to the reference's
    worker-group spreading of hot partitions.  One key owns ~95% of the left
    side; with thresholds lowered (runtime-settable AQE conf), the executed
    plan must mark the sort-merge join skew-handled."""
    import pyspark.sql.functions as SF

    old = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        left = spark.range(0, 400_000).select(
            SF.when(SF.col("id") % 20 != 0, SF.lit(7)).otherwise(SF.col("id")).alias("k"),
            SF.col("id").alias("v"),
        )
        right = spark.range(0, 1000).select(SF.col("id").alias("k"))
        j = left.join(right, "k")
        # 380,000 hot-key (k=7) rows + 50 identity matches (id%20==0, id<1000)
        # collect() executes THIS QueryExecution, so its AQE plan finalizes
        # (count() would spawn a separate execution and leave j un-run)
        assert len(j.collect()) == 380_050
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_variant_default_path_reads_staged_column(spark):
    """The B20 default path must read the parse-once VARIANT column the
    catalog stages at ingest: for a relayout-staged events table, the
    executed plan of the variant query contains variant_get over props_v
    and NO parse_json / get_json_object call — the JSON parse was paid at
    ingest, not per query.  (On a tiny table the relayout may be skipped
    and props_v declared as an on-the-fly parse; this test asserts the
    staged regime, so it forces the relayout via the events table's own
    load path and checks which regime materialized first.)"""
    from shuttle_spark import catalog as C

    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    df = ev.groupBy(
        F.variant_get("props_v", "$.k", "string").alias("k")
    ).agg(F.count("*").alias("cnt"))
    txt = plan_of(df)
    assert "variant_get" in txt
    key = (spark.sparkContext.applicationId, "/root/testdata/sf0.01", "events")
    staged = C._relayout_cache.get(key)
    if staged is not None:
        # staged regime: the plan must not re-parse the JSON string
        assert "parse_json" not in txt and "get_json_object" not in txt
        # and the staged parquet physically carries the variant column
        import pyarrow.parquet as pq
        import glob
        part = sorted(glob.glob(staged + "/*.parquet"))[0]
        assert "props_v" in pq.read_schema(part).names


def test_fuzzy_maxdf_plan_budget(spark):
    """VERDICT r4 item 7: the max_df recount must be the WINDOW form (one
    exchange per side) — the r4 groupBy + join-back recount cost two extra
    exchanges of the full inverted index per side.  Pin the plan: exactly
    2 Window nodes (one count window per side) and the exchange budget
    that the window form produces (9; the join-back form planned 11+)."""
    from shuttle_spark.operators import neardup as N

    left = spark.createDataFrame(
        [(i, f"name {i}") for i in range(50)], "lid long, ls string"
    )
    right = spark.createDataFrame(
        [(i, f"name {i+1}") for i in range(50)], "rid long, rs string"
    )
    df = N.fuzzy_string_join(left, right, tau=0.3, max_df=20)
    plan = plan_of(df)
    assert plan.count("Window") == 2
    assert plan.count("Exchange") <= 9


def test_single_partition_window_detector(spark):
    """VERDICT r11 item 5: WindowExec with an EMPTY partition spec (all
    rows forced into one partition) must be detectable from the plan so
    PLANS.md regeneration fails loudly on any undocumented instance.
    Three shapes: a bare global window trips it, a partitioned window
    does not, and a plan mixing both counts exactly the global one."""
    from pyspark.sql import Window

    from shuttle_spark.plans import single_partition_windows

    df = spark.range(100).withColumn("g", F.col("id") % 5)
    w_glob = Window.orderBy("id")
    w_part = Window.partitionBy("g").orderBy("id")
    assert single_partition_windows(
        df.withColumn("r", F.percent_rank().over(w_glob))
    ) == 1
    assert single_partition_windows(
        df.withColumn("r", F.percent_rank().over(w_part))
    ) == 0
    both = df.withColumn("r", F.percent_rank().over(w_part)).withColumn(
        "q", F.ntile(4).over(w_glob)
    )
    assert single_partition_windows(both) == 1
    # partitioned but UNORDERED window (count over partitionBy with no
    # orderBy): also prints two bracket groups ([exprs], [partitionSpec])
    # because empty specs are omitted — the first detector cut counted
    # groups alone and false-positived on exactly this shape (caught on
    # the r12 PLANS regeneration; 8 contracts use it, e.g. the span
    # census' gram doc-frequency window)
    w_part_unordered = Window.partitionBy("g")
    assert single_partition_windows(
        df.withColumn("c", F.count("*").over(w_part_unordered))
    ) == 0
    # global unordered window (neither spec): one bracket group, still
    # single-partition
    assert single_partition_windows(
        df.withColumn("c", F.count("*").over(Window.partitionBy()))
    ) == 1


def test_distributed_rank_twins_have_no_single_partition_window(spark):
    """The scale-safe global-rank twins must NEVER plan the
    single-partition WindowExec — that absence is their whole reason to
    exist (window_ntile_pctrank is the one documented instance)."""
    from shuttle_spark.contracts import REGISTRY
    from shuttle_spark.plans import single_partition_windows

    for name in ("global_pctrank_distributed", "global_rank_distributed"):
        df = REGISTRY[name].build(spark, SF)
        assert single_partition_windows(df) == 0, name
