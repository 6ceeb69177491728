"""Relational core operators (SURVEY.md §2.B B1-B19).

These wrap the idiomatic DataFrame API so that every operator family the
reference's shuffle service exists to serve (map-side combine + final agg,
hash partitioning, sort-by-partition, reduce-side sort/combine — SURVEY §2.A
A1-A5, A24-A25) has an explicit, documented, testable engine surface.

Nothing here fights Catalyst: projections/filters are declared so pushdown and
pruning reach the parquet scan; aggregations rely on Spark planning
HashAggregate(partial) -> Exchange -> HashAggregate(final), the exact
partial/final split the reference implements by hand in
/root/reference/src/main/scala/org/apache/spark/shuffle/sort/
Ors2ExternalSorter.scala:90-117 (map-side combine) and
Ors2ShuffleReader.scala:69-81 (reduce-side combine).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from shuttle_spark.cache import DFCache, approx_quantiles_cached, cache_key


# ---------------------------------------------------------------------------
# Scan / project / filter (B1-B3) — declarative so Catalyst pushes down.
# ---------------------------------------------------------------------------

def project(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Projection (B2).  Column pruning reaches the scan via Catalyst."""
    return df.select(*cols)


def filter_rows(df: DataFrame, predicate: Column) -> DataFrame:
    """Filter (B3).  Predicates on scan columns become parquet PushedFilters."""
    return df.filter(predicate)


# ---------------------------------------------------------------------------
# Exchange / partitioning (B4, A1) — the reference's hash partitioner
# (Ors2BypassShuffleWriter.scala:48-54) is Spark's HashPartitioning.
# ---------------------------------------------------------------------------

def exchange(df: DataFrame, num_partitions: int, *keys: str | Column) -> DataFrame:
    """Hash-repartition by key (A1).  Result-invariant for downstream aggs."""
    return df.repartition(num_partitions, *keys) if keys else df.repartition(num_partitions)


def range_exchange(df: DataFrame, num_partitions: int, *keys: Column | str) -> DataFrame:
    """Range-repartition (for globally sorted output without a single reducer)."""
    return df.repartitionByRange(num_partitions, *keys)


# ---------------------------------------------------------------------------
# Aggregation (B5, B6) — partial/final agg is planned by Spark automatically;
# plan-shape tests in tests/test_plans.py assert the partial mode exists
# (A2/A3/A24 parity as *plan* tests, per SURVEY §7 Phase 1).
# ---------------------------------------------------------------------------

def hash_aggregate(
    df: DataFrame, keys: Sequence[str | Column], aggs: Sequence[Column]
) -> DataFrame:
    """groupBy + multi-function agg (B5/B6).  Shuffles once on the keys."""
    return df.groupBy(*keys).agg(*aggs)


def rollup_aggregate(
    df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]
) -> DataFrame:
    """GROUP BY ROLLUP (B16).  General form: correct for ANY aggregate
    (incl. avg / count-distinct), at the cost of Spark's Expand operator
    multiplying every FACT row by the number of grouping levels before the
    shuffle.  For decomposable aggregates use
    ``grouping_aggregate_decomposed`` — identical results, Expand over the
    finest-grain partial instead of the fact table.

    Known cross-engine semantic gap (found by the round-5 differential
    fuzzer, pinned in tests/test_fuzz_differential.py): over an EMPTY
    input, SQL-standard ROLLUP/CUBE still emits the ``()`` grouping-set
    row — (NULL..., count=0) — because grouping by the empty set is a
    global aggregate (DuckDB and Postgres do this); Spark emits ZERO
    rows.  Queries whose filter may eliminate every row and that must
    match ANSI engines should union a guarded grand-total row or check
    emptiness explicitly."""
    return df.rollup(*keys).agg(*aggs)


def cube_aggregate(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    """GROUP BY CUBE (B16 sibling).  Same Expand caveat as
    ``rollup_aggregate``."""
    return df.cube(*keys).agg(*aggs)


def grouping_aggregate_decomposed(
    df: DataFrame,
    keys: Sequence[str],
    sums: Sequence[tuple[str, str, int | None]],
    count_alias: str | None = None,
    mode: str = "rollup",
) -> DataFrame:
    """ROLLUP/CUBE for decomposable aggregates (sum/count), computed from
    the finest-grain partial aggregate — the scale form of B16.

    Spark plans ``df.rollup(...)`` as Expand(levels) BELOW the aggregation:
    every fact row is replicated once per grouping level, so a 3-level
    rollup shuffles and hash-aggregates 3N rows (measured 10.8x DuckDB's
    marginal cost at sf1).  Sums and counts re-aggregate losslessly, so
    this computes ``groupBy(keys)`` ONCE over the facts (one partial-
    combined shuffle of G rows, G = distinct key combinations) and applies
    the rollup/cube Expand to those G rows — at 100 TB that is Expand over
    thousands of rows instead of trillions.  Rounding (``round_digits`` in
    each ``(col, alias, round_digits)`` sum spec) happens once, after the
    final re-aggregation, exactly like the single-stage form.

    Not applicable to non-decomposable aggregates (avg must be carried as
    sum+count, count-distinct not at all) — that is why the general
    ``rollup_aggregate`` stays.

    Each sum spec is ``(col, alias, scale)``: both stages accumulate as
    scaled longs (``sum(round(col * 10^scale) as long)``) — exact,
    association-free, identical to the single-stage ``dsum`` result, and
    ~25x faster than the DECIMAL(18, scale) formulation this replaced
    (decimal sums promote past Spark's compact-long representation into
    BigDecimal arithmetic).  ``scale=None`` sums in the column's native
    type.
    """
    partials = []
    for c, a, sc in sums:
        e = F.round(F.col(c) * (10 ** sc)).cast("long") if sc is not None else F.col(c)
        partials.append(F.sum(e).alias(f"__s_{a}"))
    if count_alias is not None:
        partials.append(F.count("*").alias("__c"))
    base = df.groupBy(*keys).agg(*partials)
    finals = []
    for c, a, sc in sums:
        e = F.sum(f"__s_{a}")
        finals.append(
            ((e / F.lit(float(10 ** sc))) if sc is not None else e).alias(a)
        )
    if count_alias is not None:
        finals.append(F.sum("__c").alias(count_alias))
    grouped = base.rollup(*keys) if mode == "rollup" else base.cube(*keys)
    return grouped.agg(*finals)


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage skew-resistant aggregation: stage 1 aggregates on
    (keys, salt) with a random salt in [0, salt_buckets), stage 2 re-combines
    per key.  ``aggs`` maps output name -> (input col/expr, fn) with fn in
    {sum, count, min, max}; fns are chosen for exact two-stage
    decomposability (count recombines via sum).

    This is the engine-level twin of the reference's partition-order
    scrambling + worker-group spreading for hot partitions
    (RandomSortPartition.java:34-91, Ors2ShuffleManager.scala:330-364): a
    single hot key's rows land on salt_buckets reducers instead of one.
    Spark's AQE handles skewed *joins* automatically but not skewed
    aggregation keys — partial aggregation usually absorbs them, except when
    the map-side hash table overflows distinct keys; salting is the explicit
    fix.  Result is hash-identical to the unsalted aggregate (contract
    ``salted_agg_invariance``)."""
    salted = df.withColumn(
        "__salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    stage1_exprs = []
    stage2_exprs = []
    for out, (col, fn) in aggs.items():
        c = F.col(col) if isinstance(col, str) else col
        if fn == "count":
            stage1_exprs.append(F.count(c).alias(f"__p_{out}"))
            stage2_exprs.append(F.sum(f"__p_{out}").alias(out))
        elif fn in ("sum", "min", "max"):
            stage1_exprs.append(getattr(F, fn)(c).alias(f"__p_{out}"))
            stage2_exprs.append(getattr(F, fn)(f"__p_{out}").alias(out))
        else:
            raise ValueError(f"non-decomposable agg fn {fn!r}")
    stage1 = salted.groupBy(*keys, "__salt").agg(*stage1_exprs)
    return stage1.groupBy(*keys).agg(*stage2_exprs)


def pivot_aggregate(
    df: DataFrame,
    key: str,
    pivot_col: str,
    pivot_values: Sequence[str],
    agg: Column,
) -> DataFrame:
    """Pivot: one output column per pivot value.  Values are supplied
    explicitly so the plan stays a single pass (no values-discovery job)."""
    return df.groupBy(key).pivot(pivot_col, list(pivot_values)).agg(agg)


# ---------------------------------------------------------------------------
# Sorts (B9-B11, A4/A25).
# ---------------------------------------------------------------------------

def order_by(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Global sort (A25 reduce-side key sort -> SortExec + range exchange)."""
    return df.orderBy(*cols)


def sort_within_partitions(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Partition-local sort (A4: the reference sorts by partition id only and
    leaves key order to the reducer; this is the exposed analog)."""
    return df.sortWithinPartitions(*cols)


def top_k(df: DataFrame, k: int, *cols: Column | str) -> DataFrame:
    """ORDER BY ... LIMIT k.  Spark plans TakeOrderedAndProject: per-partition
    top-k then a single merge — no global sort materialization, which is the
    scale-correct plan at 100 TB."""
    return df.orderBy(*cols).limit(k)


def top_k_per_group(
    df: DataFrame, partition_keys: Sequence[str], order: Sequence[Column], k: int
) -> DataFrame:
    """Top-k per group via row_number window — one shuffle on the group key."""
    w = Window.partitionBy(*partition_keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Joins (B12-B14).  Catalyst picks broadcast/sort-merge/shuffled-hash from
# stats + AQE; broadcast() pins the small side explicitly.
# ---------------------------------------------------------------------------

def equi_join(
    left: DataFrame, right: DataFrame, on: Column | str | list[str], how: str = "inner"
) -> DataFrame:
    return left.join(right, on, how)


def broadcast_join(
    left: DataFrame, small: DataFrame, on: Column | str | list[str], how: str = "inner"
) -> DataFrame:
    """Explicit broadcast hint (B13): skips the shuffle of the big side's
    partner entirely — at 100 TB this is the difference between a map-side
    join and a 100 TB exchange."""
    return left.join(F.broadcast(small), on, how)


def semi_join(left: DataFrame, right: DataFrame, on: Column | str | list[str]) -> DataFrame:
    """EXISTS (B14)."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: Column | str | list[str]) -> DataFrame:
    """NOT EXISTS (B14)."""
    return left.join(right, on, "left_anti")


def range_join(
    left: DataFrame,
    bands: DataFrame,
    value: Column,
    lo: Column,
    hi: Column,
    how: str = "inner",
    half_open: bool = False,
) -> DataFrame:
    """Range (theta) join: value in [lo, hi] (or [lo, hi) when half_open).
    The bands side must be small; we broadcast it so the plan is
    BroadcastNestedLoopJoin over a tiny build side instead of a cartesian
    shuffle."""
    upper = (value < hi) if half_open else (value <= hi)
    return left.join(F.broadcast(bands), (value >= lo) & upper, how)


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    strict: bool = False,
) -> DataFrame:
    """As-of join: attach, to every left row, the value columns of the most
    recent right row with right.ts <= left.ts (< when strict) and equal keys.

    Implemented as the union-window plan: tag both sides, union, and take
    last(value, ignorenulls) over (key, ts, side) — ONE shuffle on the key
    and a partition-local sort, instead of the range-explode or per-row
    subquery a naive formulation needs.  This is the scale-correct shape: at
    100 TB it is exactly one exchange + sort, skew-handled by AQE.
    """
    tag_r, tag_l = (2, 1) if strict else (0, 1)
    # The carried payload is ONE struct per right row, not per-column
    # values: last(col, ignorenulls) per column would skip a genuinely
    # NULL right value and resurrect an OLDER row's value (or stitch
    # columns from different right rows).  The struct is non-null exactly
    # on right rows (left rows pad it with NULL via allowMissingColumns),
    # so last(struct, ignorenulls) picks the most recent right ROW as a
    # unit and its fields keep their real NULLs.
    r = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(tag_r).alias("__src"),
        F.struct(*[F.col(c).alias(c) for c in value_cols]).alias("__r"),
    )
    l = left.withColumn("__ts", F.col(left_ts)).withColumn("__src", F.lit(tag_l))
    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__src")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.select(
        "*", F.last("__r", ignorenulls=True).over(w).alias("__m")
    )
    out = matched.filter(F.col("__src") == tag_l).select(
        *left.columns,
        *[F.col(f"__m.{c}").alias(f"{c}_asof") for c in value_cols],
    )
    return out


# ---------------------------------------------------------------------------
# Set operations (B15).
# ---------------------------------------------------------------------------

def union_all(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.unionByName(b)


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.exceptAll(b)


# ---------------------------------------------------------------------------
# Windows (B17-B18).
# ---------------------------------------------------------------------------

def gap_fill_time_series(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    aggs: dict[str, Column],
    step: str = "1 hour",
    fill: float | int = 0,
) -> DataFrame:
    """Regularize an event stream into a dense per-key time grid: every
    ``step`` bucket between each key's min and max event time exists in the
    output, ``fill``-filled when empty.

    Plan shape: aggregate to the sparse grid (one shuffle), derive each
    key's [min, max] span from the sparse grid itself, densify with
    sequence+explode (a Generate — no calendar-table join), then left-join
    sparse onto dense on (key, bucket).  The dense side is |keys| x
    |buckets| — tiny relative to the input at scale — and the final join is
    an equi-join AQE will usually broadcast."""
    sparse = df.groupBy(*keys, F.window(ts_col, step).alias("__w")).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )
    sparse = sparse.select(
        *keys, F.col("__w.start").alias("bucket"), *list(aggs)
    )
    span = sparse.groupBy(*keys).agg(
        F.min("bucket").alias("__lo"), F.max("bucket").alias("__hi")
    )
    dense = span.select(
        *keys,
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr(f"INTERVAL {step}"))
        ).alias("bucket"),
    )
    out = dense.join(sparse, [*keys, "bucket"], "left")
    return out.select(
        *keys,
        "bucket",
        *[F.coalesce(F.col(n), F.lit(fill)).alias(n) for n in aggs],
    )


def running_agg(
    df: DataFrame,
    partition_keys: Sequence[str],
    order: Sequence[Column | str],
    agg_col: Column,
    alias: str,
) -> DataFrame:
    """Cumulative window aggregate (UNBOUNDED PRECEDING..CURRENT ROW)."""
    w = (
        Window.partitionBy(*partition_keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(alias, agg_col.over(w))


def ranked(
    df: DataFrame,
    partition_keys: Sequence[str],
    order: Sequence[Column],
    alias: str = "rnk",
    method: str = "rank",
) -> DataFrame:
    """rank/dense_rank/row_number over a partition (B18)."""
    fns = {"rank": F.rank, "dense_rank": F.dense_rank, "row_number": F.row_number}
    w = Window.partitionBy(*partition_keys).orderBy(*order)
    return df.withColumn(alias, fns[method]().over(w))


# Session cache of per-bucket rank offsets (global_rank/pctrank): a local
# relation of <= buckets+1 rows per (source, range_col, boundaries).
_bucket_counts_cache = DFCache(max_size=64)


def clear_bucket_counts_cache() -> None:
    _bucket_counts_cache.clear()


def global_rank(
    df: DataFrame,
    range_col: str,
    order: Sequence[Column | str],
    alias: str = "rn",
    buckets: int = 32,
    keep_total: bool = False,
) -> DataFrame:
    """Distributed global ROW_NUMBER — the scale path for B18's global
    window, which Spark otherwise executes as a SINGLE-partition WindowExec
    (all 100 TB through one task).

    Classic two-pass range ranking, all data movement one even hash shuffle:

    1. bucket each row by approx quantiles of ``range_col`` (driver fetches
       ≤ ``buckets`` boundary values — metadata, not data);
    2. per-bucket counts → exclusive prefix sums = each bucket's global rank
       offset (an agg of ``buckets`` rows, broadcast back);
    3. ``row_number`` within each bucket (hash-partitioned window) + offset.

    Exact for any data distribution: rows with equal ``range_col`` land in
    the same bucket, and buckets are value-disjoint, so bucket order extends
    the global order; tie-breaking inside a bucket uses the full ``order``
    spec.  ``range_col`` must be the leading, ascending sort key; quantile
    skew only unbalances bucket sizes, never correctness.
    """
    probs = [i / buckets for i in range(1, buckets)]
    # Boundary values only steer bucket BALANCE (correctness holds for any
    # value-disjoint bucketing), so they are session-cached like any other
    # table statistic: the warm path runs 2 jobs (bucket-count aggregate +
    # final ranked scan), not 3.
    # Drop non-finite boundaries (a NaN/Inf-bearing range column can
    # surface them from approxQuantile): repr(inf)+'D' would fail to parse
    # in the CASE arms below, and the non-finite rows themselves land in
    # the overflow bucket regardless — NaN/+Inf sort ABOVE every finite
    # double in Spark's total order, so bucket order still extends global
    # order (the same filter zorder_value applies to the same output).
    bounds = sorted(
        {
            b
            for b in approx_quantiles_cached(df, [range_col], probs, 0.001)[0]
            if math.isfinite(b)
        }
    )
    # One parsed CASE expression, not a chain of F.when calls: building a
    # 32-deep when-tree costs ~60 py4j round trips PER QUERY BUILD (each
    # when/otherwise is a JVM call), a measurable slice of the warm path
    # for a plan whose execution is a single job.  The SQL string is one
    # parse.  Boundary literals carry the D suffix so they stay DOUBLE
    # (Spark parses bare decimals as DECIMAL), matching the F.lit(float)
    # semantics of the quantile values.
    #
    # NULLs sort FIRST under Spark's ascending order, so they need their
    # own bucket BEFORE bucket 0: NULL <= bound is NULL, which would fall
    # through to the overflow bucket and break the bucket-order-extends-
    # global-order invariant (approxQuantile ignores NULLs, so no boundary
    # ever captures them).
    arms = " ".join(
        f"WHEN `{range_col}` <= {b!r}D THEN {i}"
        for i, b in enumerate(bounds)
    )
    bucket = F.expr(
        f"CASE WHEN `{range_col}` IS NULL THEN -1 {arms}"
        f" ELSE {len(bounds)} END"
    )
    with_b = df.withColumn("__bucket", bucket)
    # Per-bucket counts -> exclusive prefix-sum offsets.  Like the quantile
    # boundaries above, the bucket histogram is a TABLE STATISTIC a
    # long-lived engine computes once (ANALYZE) and reuses: it is cached
    # per (source, boundary set) as the exclusive prefix-sum offsets (a
    # local relation of <= buckets+1 rows, so a warm build re-plans zero
    # local relations), and the warm path runs ONE job (the final ranked
    # scan), not two.  Unlike the
    # boundaries, counts affect CORRECTNESS — but they are a pure function
    # of the same source relation the cache key identifies.
    key = cache_key(df, params=(range_col, tuple(bounds)))
    offsets = _bucket_counts_cache.get(key)
    if offsets is None:
        cnt_rows = sorted(
            (r["__bucket"], r["__cnt"])
            for r in with_b.groupBy("__bucket")
            .agg(F.count("*").alias("__cnt"))
            .collect()
        )
        total = sum(c for _, c in cnt_rows)
        off_rows, acc = [], 0
        for b, c in cnt_rows:
            off_rows.append((b, acc, total))
            acc += c
        offsets = _bucket_counts_cache.put(key, df.sparkSession.createDataFrame(
            off_rows, "__bucket int, __off long, __n long"
        ))
    if not keep_total:
        offsets = offsets.drop("__n")
    w_local = Window.partitionBy("__bucket").orderBy(*order)
    out = (
        with_b.join(F.broadcast(offsets), "__bucket")
        .withColumn(alias, (F.row_number().over(w_local) + F.col("__off")).cast("long"))
        .drop("__bucket", "__off")
    )
    return out


def global_percent_rank(
    df: DataFrame,
    range_col: str,
    order: Sequence[Column | str],
    alias: str = "pct_rank",
    buckets: int = 32,
) -> DataFrame:
    """Distributed PERCENT_RANK — same two-pass range ranking as
    `global_rank` (no single-partition window), normalized to
    (rank - 1) / (N - 1).

    Requires a total order (``order`` must be unique, e.g. value + key
    tiebreak) so rank == row_number and the result matches SQL
    PERCENT_RANK exactly; N rides the bucket-count aggregate that
    `global_rank` already computes (``keep_total=True``), so there is no
    second full-scan count() job.  This is the scale path for B18's
    percent_rank, whose naive form is a global single-partition window
    (window_ntile_pctrank documents that deliberately; this operator is
    what you run at 100 TB).
    """
    ranked_df = global_rank(
        df, range_col, order, alias="__rn", buckets=buckets, keep_total=True
    )
    return ranked_df.withColumn(
        alias,
        (F.col("__rn") - 1).cast("double")
        / F.greatest(F.col("__n") - 1, F.lit(1)).cast("double"),
    ).drop("__rn", "__n")


# ---------------------------------------------------------------------------
# Change history (SCD-2) and event funnels — the two table shapes every
# warehouse asks of a keyed event log, composed from one keyed window
# each (no extension point in the reference's operator list: its engine
# serves these as plain window/agg dataflows, which is what these plan to).
# ---------------------------------------------------------------------------

def scd2_intervals(
    df: DataFrame,
    key: str,
    ts_col: str,
    attr: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history: collapse a keyed change
    log into validity intervals — one row per RUN of equal ``attr``
    values, with ``valid_from`` (first ts of the run) and ``valid_to``
    (start of the next run, NULL while current).

    Plan: one hash exchange on ``key`` feeds all three window passes
    (change flag via lag, run id via running sum, valid_to via lead) —
    Spark reuses the partitioning, so at 100 TB this is a single shuffle
    of the change log however long the history.  ``tiebreak`` (a unique
    column) makes same-timestamp changes deterministic.  NULL attr values
    form their own runs (null-safe change comparison)."""
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    changed = F.when(
        F.lag(attr).over(w).eqNullSafe(F.col(attr)), F.lit(0)
    ).otherwise(F.lit(1))
    run = F.sum(changed).over(
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = df.select(
        F.col(key), F.col(ts_col), F.col(attr), run.alias("__run")
    ).groupBy(key, "__run", attr).agg(F.min(ts_col).alias("valid_from"))
    # Order the interval chain by the run id, not valid_from: two runs of a
    # key can share a first timestamp (same-ts events split across a change
    # boundary, tiebroken only by ``tiebreak``), and __run is the unique
    # strictly-increasing sequence that valid_from is monotone over.
    w_runs = Window.partitionBy(key).orderBy("__run")
    return runs.select(
        key,
        attr,
        "valid_from",
        F.lead("valid_from").over(w_runs).alias("valid_to"),
    )


def funnel_stages(
    events: DataFrame,
    stages: Sequence[str],
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: per key, the furthest stage reached with
    each stage's FIRST occurrence strictly after the previous stage's
    (classic conversion funnel).  Returns one row per funnel depth
    (stage index 1..n) with the number of keys whose furthest stage is
    exactly that deep; depth 0 counts keys that never hit stage 1.

    Plan: one conditional aggregation per key (min ts per stage — a
    single hash exchange on the key), then the strictly-increasing chain
    is evaluated as a row-local expression and the depth histogram is a
    tiny second aggregate.  No joins, no windows, no per-stage passes —
    the shape that survives a 100 TB event log."""
    mins = events.groupBy(key).agg(
        *[
            F.min(F.when(F.col(type_col) == s, F.col(ts_col))).alias(
                f"__t{i}"
            )
            for i, s in enumerate(stages)
        ]
    )
    depth = F.lit(0)
    reached = None
    for i in range(len(stages)):
        cond = F.col(f"__t{i}").isNotNull()
        if i > 0:
            cond = cond & (F.col(f"__t{i}") > F.col(f"__t{i-1}"))
        reached = cond if reached is None else (reached & cond)
        depth = F.when(reached, F.lit(i + 1)).otherwise(depth)
    return (
        mins.select(depth.alias("depth"))
        .groupBy("depth")
        .agg(F.count("*").alias("n_keys"))
    )


def cohort_retention(
    events: DataFrame, key: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Weekly cohort retention matrix: cohort = the Monday of each key's
    FIRST active week; ``age_weeks`` = whole weeks between the cohort
    week and each later active week; ``n_active`` = distinct keys of the
    cohort active at that age (age 0 row == cohort size).

    Plan: one window min over the key partition derives the cohort per
    row (one hash exchange on the key), activity weeks are row-local
    truncations, and the final distinct-count is the second — much
    smaller — exchange on (cohort, age).  No self-join of the event log
    against its own firsts, which is the naive formulation's second full
    shuffle."""
    wk = F.date_trunc("week", F.col(ts_col)).cast("date")
    act = events.select(F.col(key), wk.alias("__wk"))
    act = act.withColumn(
        "cohort", F.min("__wk").over(Window.partitionBy(key))
    )
    return (
        act.withColumn(
            "age_weeks", (F.datediff("__wk", "cohort") / 7).cast("int")
        )
        .groupBy("cohort", "age_weeks")
        .agg(F.countDistinct(key).alias("n_active"))
    )


def group_outliers_zscore(
    df: DataFrame,
    keys: Sequence[str],
    value: Column | str,
    z: float = 2.0,
) -> DataFrame:
    """Per-group z-score outlier census: for each key group, the row
    count, the count of rows whose quantized value sits more than ``z``
    sample standard deviations from the group mean, and the (rounded)
    mean/std themselves — the per-source anomaly screen of a data-quality
    sweep (is one crawl shard's doc-length distribution broken?).

    Plan: two passes over the fact table, ZERO shuffles of it.  Pass one
    computes exact integer moments (n, sum, sum-of-squares of the
    integer-quantized value) per group — map-side partial aggregates, one
    tiny exchange of the group stats.  The stats relation (|groups| rows)
    is broadcast back for the row-level |x - mean| > z*std test, and pass
    two re-aggregates map-side.  The window formulation would shuffle the
    whole fact table on the group key instead; the join-back is the
    100 TB plan.

    Cross-engine determinism: the value is quantized to integers BEFORE
    any arithmetic, so moments are exact longs; mean/std/threshold are
    then identical IEEE expressions of identical integers in both engines
    — no association-sensitive float aggregate anywhere.  (Dial: the
    sum-of-squares long overflows at sum(v^2) >= 2^63 — v ~1e5 over
    ~6e8 rows; quantize coarser for bigger data.)
    """
    v = (F.col(value) if isinstance(value, str) else value).alias("__v")
    keys = list(keys)
    q = df.select(*keys, F.round(v).cast("long").alias("__ui"))
    stats = q.groupBy(*keys).agg(
        F.count("*").alias("n_rows"),
        F.sum("__ui").alias("__s1"),
        F.sum(F.col("__ui") * F.col("__ui")).alias("__s2"),
    )
    stats = stats.select(
        *keys,
        "n_rows",
        (F.col("__s1").cast("double") / F.col("n_rows")).alias("__mean"),
        # Single-row groups get NULL std (not 0/0 = NaN): NULL propagates
        # cleanly through the |z| comparison (0 outliers) and the rounded
        # output in BOTH engines, where NaN hash/order semantics diverge —
        # the degenerate-input convention of SCALING.md.
        F.when(
            F.col("n_rows") > 1,
            F.sqrt(
                (
                    F.col("__s2").cast("double")
                    - F.col("__s1").cast("double")
                    * F.col("__s1")
                    / F.col("n_rows")
                )
                / (F.col("n_rows") - 1)
            ),
        ).alias("__std"),
    )
    return (
        q.join(F.broadcast(stats), keys)
        .groupBy(*keys)
        .agg(
            F.first("n_rows").alias("n_rows"),
            F.count_if(
                F.abs(F.col("__ui") - F.col("__mean"))
                > F.lit(z) * F.col("__std")
            ).alias("n_outliers"),
            F.round(F.first("__mean"), 6).alias("mean_value"),
            F.round(F.first("__std"), 6).alias("std_value"),
        )
    )


def event_transition_matrix(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-key event sequences:
    ``(from_type, to_type, n_transitions, p)`` where ``p`` is the
    row-normalized transition probability — the user-journey summary that
    complements ``funnel_stages`` (which pins ONE ordered path; this pins
    the whole digraph).

    Plan: one key-partition window (the only fact-table exchange; same
    shape as sessionize/cohort) derives each row's successor via
    ``lead`` ordered by (ts, tiebreak) — the tiebreak keeps same-timestamp
    runs deterministic, the scd2 lesson — then a hash aggregate onto the
    tiny |types|^2 matrix, where row totals and probabilities are
    window-computed over the already-aggregated relation (no second pass
    over the facts).  Probabilities are integer-ratio doubles — identical
    in both engines, no float-sum drift."""
    w = Window.partitionBy(key).orderBy(F.col(ts_col), F.col(tiebreak))
    seq = events.select(
        F.col(key),
        F.col(type_col).alias("from_type"),
        F.lead(type_col).over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    mat = seq.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )
    row_tot = Window.partitionBy("from_type")
    return mat.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(row_tot),
            6,
        ).alias("p"),
    )


def sample_k_per_group(
    df: DataFrame,
    keys: Sequence[str],
    id_col: str,
    k: int,
    seed: int = 7,
) -> DataFrame:
    """Deterministic fixed-size per-group sample: exactly ``min(k, |group|)``
    rows per key group, chosen by a seeded content hash — the "sample k
    docs per source for eval" pipeline op.  Unlike ``sampleBy`` (Bernoulli
    — group sizes vary run-to-run and can be 0), the hash order makes the
    sample exact-size, reproducible across engines, partitionings, and
    reruns, and refreshable by bumping ``seed``.

    Plan: rank-filter over a (keys)-partitioned window ordered by
    ``md5(id:seed)`` — Spark 3.5+ plans this as WindowGroupLimit, a
    map-side partial top-k per group BEFORE the exchange, so the shuffle
    carries at most ``k`` rows per group per input partition, not the
    fact table.  The hash tie-breaks by id, so duplicate ids cannot make
    the cut order ambiguous."""
    from shuttle_spark.operators.integrity import md5_prefix32

    # NULL-propagating concat (not concat_ws) so a NULL id sorts as a NULL
    # hash — identical to the oracle's `id || ':' || seed`, which is NULL
    # for NULL ids; concat_ws would hash just ':seed' and rank NULL ids
    # deterministically-but-differently from the SQL twin
    sort_key = md5_prefix32(
        F.concat(F.col(id_col).cast("string"), F.lit(":"), F.lit(str(seed)))
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(sort_key, F.col(id_col))
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


_PS_U_BITS = 22  # 22-bit uniform keeps w_cents * 2^22 inside int64 to w ~ 2^41


def priority_sample_per_group(
    df: DataFrame,
    keys: Sequence[str],
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 7,
    weight_scale: int = 2,
) -> DataFrame:
    """Deterministic WEIGHTED per-group sampling — priority sampling
    (Duffield/Lund/Thorup, JACM 2007): each row draws a seeded uniform
    u and competes with priority w/u; the k highest priorities win, so
    heavy rows are proportionally more likely to survive, and the
    returned ``est_cents = max(w, tau)`` (tau = the (k+1)-th priority)
    is the unbiased subset-sum estimator — ``SUM(est_cents)`` over the
    sample estimates the group's total weight.  The weighted companion
    to ``sample_k_per_group``: "keep k docs per source, favoring the
    long/high-quality ones, with calibrated totals".

    Everything is exact integer arithmetic, bit-stable cross-engine:
    ``w_cents = floor(w * 10^scale + 0.5)`` (the B6 money discipline),
    ``u`` is the 32-bit md5 prefix of ``id:seed`` folded to 22 bits
    (+1, so u in [1, 2^22]), and ``priority = (w_cents << 22) div u``
    — a true integer division (double floor(a/b) is UNSAFE here: at
    a ~ 2^48 one double ulp is ~0.03, far coarser than the 2^-22 gap
    separating a rational a/b from an integer).  Rows with NULL or
    non-positive weight are excluded (a zero weight can never win and
    would divide the estimator's support).  Ties break by id, so the
    sample is id-exact, reproducible across engines / partitionings /
    reruns, and refreshable by bumping ``seed``.

    Plan: one exchange on ``keys``, one sort; the rank filter and the
    tau extraction share that sort (tau's unordered frame adds no
    exchange).  Per-group state is O(group), shuffled rows are the
    filtered input — at 100 TB pre-filter with the weight predicate
    pushed to the scan."""
    from shuttle_spark.operators.integrity import md5_prefix32

    m = 10 ** weight_scale
    wc = F.floor(F.col(weight_col) * m + F.lit(0.5)).cast("long")
    # NULL-propagating concat (see sample_k_per_group): NULL ids must
    # hash NULL and be excluded with the NULL weights below
    u = (
        md5_prefix32(
            F.concat(
                F.col(id_col).cast("string"), F.lit(":"), F.lit(str(seed))
            )
        )
        % F.lit(1 << _PS_U_BITS)
        + 1
    )
    base = (
        df.withColumn("__wc", wc)
        .filter(F.col("__wc") > 0)
        .withColumn("__u", u)
        .filter(F.col("__u").isNotNull())
        .withColumn(
            "__priority", F.expr(f"(__wc * {1 << _PS_U_BITS}) div __u")
        )
    )
    ordered = Window.partitionBy(*keys).orderBy(
        F.col("__priority").desc(), F.col(id_col)
    )
    whole = Window.partitionBy(*keys)
    ranked = base.withColumn("__rn", F.row_number().over(ordered))
    tau = F.max(
        F.when(F.col("__rn") == k + 1, F.col("__priority"))
    ).over(whole)
    return (
        ranked.withColumn("__tau", tau)
        .filter(F.col("__rn") <= k)
        .select(
            *keys,
            id_col,
            F.col("__wc").alias("w_cents"),
            F.col("__priority").alias("priority"),
            F.greatest(
                F.col("__wc"), F.coalesce(F.col("__tau"), F.lit(0))
            ).alias("est_cents"),
        )
    )


def priority_sample_oracle_sql(
    table: str,
    keys: Sequence[str],
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 7,
    weight_scale: int = 2,
) -> str:
    """DuckDB twin of ``priority_sample_per_group`` — identical hash,
    folding, integer division, ordering, and estimator expressions."""
    m = 10 ** weight_scale
    ks = ", ".join(keys)
    part = ", ".join(keys)
    return (
        f"WITH b AS (SELECT {ks}, {id_col},"
        f" CAST(FLOOR({weight_col} * {m} + 0.5) AS BIGINT) AS w_cents,"
        f" (('0x' || substr(md5(CAST({id_col} AS VARCHAR) || ':' ||"
        f" '{seed}'), 1, 8))::BIGINT % {1 << _PS_U_BITS}) + 1 AS u"
        f" FROM {table} WHERE {weight_col} IS NOT NULL"
        f" AND FLOOR({weight_col} * {m} + 0.5) > 0"
        f" AND {id_col} IS NOT NULL),"
        f" p AS (SELECT {ks}, {id_col}, w_cents,"
        f" (w_cents * {1 << _PS_U_BITS}) // u AS priority FROM b),"
        f" r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY {part}"
        f" ORDER BY priority DESC, {id_col}) AS rn FROM p),"
        f" t AS (SELECT *, MAX(CASE WHEN rn = {k + 1} THEN priority END)"
        f" OVER (PARTITION BY {part}) AS tau FROM r)"
        f" SELECT {ks}, {id_col}, w_cents, priority,"
        f" GREATEST(w_cents, COALESCE(tau, 0)) AS est_cents"
        f" FROM t WHERE rn <= {k}"
    )


def ewma_deviants(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    threshold_cents: int,
    window: int = 8,
    min_lags: int = 4,
) -> DataFrame:
    """Per-key EWMA anomaly detection with an all-integer arithmetic path:
    flag a row whose value deviates from the exponentially-weighted mean of
    its previous ``window`` values by more than ``threshold_cents``.

    The EWMA is a dyadic FIR filter — weight 2^(window-j) on lag j — over
    the value scaled to integer cents, so the weighted sum ``wsum`` and the
    weight total ``denom`` are EXACT int64 in any engine and any execution
    order, and the anomaly predicate |x - wsum/denom| > T is evaluated as
    the integer cross-multiplication |x*denom - wsum| > T*denom: no float
    is ever compared, so threshold membership cannot straddle between
    engines (the discipline of contracts.py's scaled-long sums, applied to
    a recurrence).  Rows with fewer than ``min_lags`` predecessors are not
    scored; NULL values are excluded from the series entirely (they would
    otherwise be ambiguous with not-enough-history NULL lags).

    Plan: ONE window (all ``window`` lags share a frame) = one hash
    exchange on the keys + one sort — per-key state never leaves the JVM,
    and at 100 TB the shuffle is the unavoidable series-partitioning one.
    Scale knob: ``window`` is a column-count constant, not a frame scan.
    """
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    base = df.filter(F.col(value_col).isNotNull()).withColumn("__cents", cents)
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    lags = [F.lag("__cents", j).over(w) for j in range(1, window + 1)]
    weights = [1 << (window - j) for j in range(1, window + 1)]
    wsum = sum(
        (F.coalesce(lag * F.lit(wt), F.lit(0)) for lag, wt in zip(lags, weights)),
        F.lit(0).cast("long"),
    )
    denom = sum(
        (
            F.when(lag.isNull(), F.lit(0)).otherwise(F.lit(wt))
            for lag, wt in zip(lags, weights)
        ),
        F.lit(0).cast("long"),
    )
    scored = base.select(
        *df.columns,
        F.col("__cents").alias("cents"),
        wsum.alias("wsum"),
        denom.alias("denom"),
        lags[min_lags - 1].isNotNull().alias("__scored"),
    )
    return scored.filter(
        F.col("__scored")
        & (
            F.abs(F.col("cents") * F.col("denom") - F.col("wsum"))
            > F.lit(int(threshold_cents)) * F.col("denom")
        )
    ).drop("__scored")


def linear_attribution(
    events: DataFrame,
    conv_type: str = "purchase",
    touch_type: str = "click",
    window_days: int = 7,
) -> DataFrame:
    """Multi-touch LINEAR attribution: every conversion's value is split
    equally across ALL of the same user's touch events in the preceding
    ``window_days`` (vs ``as_of_join``'s single nearest touch).

    Credit is exact INTEGER cents: each of the n touches gets
    ``cents // n``, and the ``cents % n`` remainder goes to the EARLIEST
    touches (rank by touch time, event_id tiebreak) — so per-conversion
    credit sums exactly to the conversion value and no float division
    ever happens (a double 1/3 split would drift hash-visibly when
    re-summed in different orders).

    Plan: both sides are filters pushed to one scan each; the
    touch-window join is an equi-join on user_id with a range residual
    (hash-partitioned — heavy users are AQE skew-split); per-conversion
    fan-out counts and ranks ride ONE window over the join output; the
    final per-touch rollup is a hash aggregate on the touch id.
    """
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    conv = (
        events.filter(
            (F.col("event_type") == conv_type) & F.col("value").isNotNull()
        )
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
            cents.alias("c_cents"),
        )
    )
    touch = events.filter(F.col("event_type") == touch_type).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id"),
        F.col("ts").alias("t_ts"),
    )
    joined = conv.join(touch, "user_id").filter(
        (F.col("t_ts") <= F.col("c_ts"))
        & (F.col("t_ts") > F.col("c_ts") - F.expr(f"INTERVAL {window_days} DAYS"))
    )
    w = Window.partitionBy("c_id")
    wr = w.orderBy("t_ts", "t_id")
    # integer floor division: a cast of the double ratio would round-to-
    # nearest; explicit floor on the exact integer ratio matches SQL's //
    credited = joined.select(
        "t_id",
        "user_id",
        "c_id",
        F.floor(F.col("c_cents") / F.count("*").over(w)).cast("long").alias("__base"),
        (
            F.row_number().over(wr)
            <= F.col("c_cents") % F.count("*").over(w)
        ).cast("long").alias("__extra"),
    )
    return (
        credited.groupBy("t_id", "user_id")
        .agg(
            F.count("*").alias("n_conversions"),
            F.sum(F.col("__base") + F.col("__extra")).alias("credit_cents"),
        )
    )


def key_skew_census(
    df: DataFrame,
    key_cols: Sequence[str],
    top_k: int = 10,
) -> DataFrame:
    """Join/shuffle-key skew diagnostics: the ``top_k`` heaviest key groups
    with their share of all rows — the census a pipeline runs BEFORE
    hash-partitioning 100 TB on a key, to decide between a plain shuffle,
    salting, or AQE skew-join (the engine-side twin of the reference's
    worker load accounting, ShuffleWorkerStatusManager.java:75-130: there
    the system observes partition skew after the fact; here the plan
    chooses around it up front).

    Plan: one partial+final hash aggregate to per-key counts; the total
    is a 1-row aggregate broadcast back (a partition-less window here
    would drag EVERY distinct key through one reducer — the census must
    not itself hit the skew wall it diagnoses); then
    TakeOrderedAndProject for the top-k (never a global sort).  Share is
    an integer-count ratio rounded at 6dp — identical IEEE doubles in any
    engine."""
    counts = df.groupBy(*key_cols).agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__tot"))
    return (
        counts.join(F.broadcast(total))
        .select(
            *key_cols,
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("__tot"), 6).alias(
                "share"
            ),
        )
        .orderBy(F.desc("cnt"), *key_cols)
        .limit(top_k)
    )


def winsorized_stats(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """Per-group winsorized summary: clamp values to the group's
    [lo_q, hi_q] EXACT (discrete) percentiles and report the clamped sum —
    the outlier-capping step a feature pipeline runs before aggregating a
    heavy-tailed metric (interpolating percentiles differ between engines;
    the value AT rank ceil(q*n) is a row that exists, so it is identical
    everywhere).

    All arithmetic is integer cents: the percentile bounds are order
    statistics over ``floor(value*100 + 0.5)`` and the clamped sum is an
    exact int64 — association-free, hash-stable.

    The rank itself is computed in exact BASIS-POINT integer arithmetic:
    ``rank = (round(q*10000)*n + 9999) // 10000`` == ceil(q*n) for any q
    on the 0.01% grid.  A float ``ceil(q*n)`` is a cross-engine trap the
    differential fuzzer caught live: DuckDB parses ``0.28`` as exact
    DECIMAL (0.28*75 = 21.00, ceil 21) while a double 0.28 is
    0.28000000000000003 (ceil 22) — off-by-one order statistics exactly
    when q*n lands on an integer.

    Plan: one window (rank + count share a frame) over a per-key sort —
    the unavoidable order-statistics shuffle — then the tiny per-key
    bounds relation broadcast-joins back and the clamped sum is one hash
    aggregate.  NULL values are excluded (they have no rank)."""
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys, cents.alias("__c")
    )
    w = Window.partitionBy(*keys).orderBy("__c")
    ranked_vals = base.select(
        *keys,
        "__c",
        F.row_number().over(w).alias("__rn"),
        F.count("*").over(Window.partitionBy(*keys)).alias("__n"),
    )
    lo_bp = int(round(lo_q * 10000))
    hi_bp = int(round(hi_q * 10000))

    def _rank(bp: int):
        # exact integer ceil(bp*n/10000): numerator < 2^53 so the double
        # division is exact enough for floor (quotients are >= 1e-4 away
        # from integers unless exactly integral)
        return F.greatest(
            F.floor((F.lit(bp) * F.col("__n") + F.lit(9999)) / F.lit(10000.0)),
            F.lit(1),
        )

    bounds = (
        ranked_vals.filter(
            (F.col("__rn") == _rank(lo_bp)) | (F.col("__rn") == _rank(hi_bp))
        )
        .groupBy(*keys)
        .agg(
            F.min("__c").alias("lo_cents"),
            F.max("__c").alias("hi_cents"),
            F.max("__n").alias("n_rows"),
        )
    )
    clamped = base.join(F.broadcast(bounds), list(keys)).select(
        *keys,
        "lo_cents",
        "hi_cents",
        "n_rows",
        F.greatest(F.least(F.col("__c"), F.col("hi_cents")), F.col("lo_cents")).alias(
            "__cc"
        ),
    )
    return clamped.groupBy(*keys, "lo_cents", "hi_cents", "n_rows").agg(
        F.sum("__cc").alias("winsorized_sum_cents")
    )


def rolling_window_features(
    events: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    at_type: str,
    count_types: Sequence[str],
    window_hours: int = 24,
) -> DataFrame:
    """Point-in-time-correct rolling features: at every ``at_type`` event,
    the count of each ``count_types`` event by the same key in the
    trailing ``window_hours`` — the feature-engineering join that must
    NEVER see the future (computing it with a plain groupBy-per-day and
    joining back leaks same-window-later events; the RANGE frame cannot).

    One window per key (all feature columns share the frame): RANGE
    BETWEEN window PRECEDING AND CURRENT ROW over epoch-micros, which is
    peer-INCLUSIVE on ties in both Spark and ANSI SQL — so tie handling
    needs no event-id tiebreak, unlike ROWS frames (the scd2 lesson's
    complement: RANGE frames are deterministic under ties BY DEFINITION,
    because peers enter together).  Counts are exact integers; the
    at-type filter runs after the window so the frame sees ALL events."""
    us = F.unix_micros(F.col(ts_col))
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(us)
        .rangeBetween(-window_hours * 3_600_000_000, 0)
    )
    feats = [
        F.sum(
            F.when(F.col("event_type") == t, F.lit(1)).otherwise(F.lit(0))
        )
        .over(w)
        .alias(f"n_{t}_{window_hours}h")
        for t in count_types
    ]
    return events.select(*events.columns, *feats).filter(
        F.col("event_type") == at_type
    )


def join_fanout_census(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    top_k: int = 10,
) -> DataFrame:
    """Pre-join fan-out census: the ``top_k`` join keys by output
    cardinality (|left rows| x |right rows| per key) — the companion
    diagnostic to ``key_skew_census``, run BEFORE shipping an equi-join
    over 100 TB: the join's output size is exactly the sum of these
    per-key products, and one viral key (a bot user, a null-ish default)
    can make an innocent-looking join explode quadratically.

    Plan: one partial+final hash agg per side (counts only — the fact
    rows never move), an equi-join of the two tiny count relations, then
    TakeOrderedAndProject.  All integers."""
    keys = list(key_cols)
    a = left.groupBy(*keys).agg(F.count("*").alias("n_left"))
    b = right.groupBy(*keys).agg(F.count("*").alias("n_right"))
    return (
        a.join(b, keys)
        .select(
            *keys,
            "n_left",
            "n_right",
            (F.col("n_left") * F.col("n_right")).alias("fanout"),
        )
        .orderBy(F.desc("fanout"), *keys)
        .limit(top_k)
    )


def rolling_distinct_actives(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window_days: int = 7,
) -> DataFrame:
    """Rolling engagement census per day: distinct actives that day (DAU)
    and over the trailing ``window_days`` (WAU), plus the stickiness
    ratio DAU/WAU — the product-health rollup every event pipeline ships.

    COUNT(DISTINCT) cannot ride a window frame, so the rolling distinct
    is computed set-correctly: dedup to (day, key) once (one shuffle of
    the deduped relation, not the facts), broadcast the tiny day spine,
    fan each (day, key) into the <= ``window_days`` report days it is
    visible from (a bounded explode, not a range self-join), and
    count-distinct per report day.  Ratio is an integer-count ratio
    rounded at 6dp.

    The deduped (day, key) relation feeds three plan branches (spine,
    visibility fan-out, DAU); their identical distinct-exchanges unify
    via Spark's ReusedExchange (verified in the executed plan), so the
    fact table is scanned once — if this operator is ever embedded where
    reuse cannot fire (e.g. differing post-projections per branch),
    stage ``dk`` explicitly instead."""
    day = F.to_date(F.col(ts_col))
    dk = events.select(day.alias("day"), F.col(key_col).alias("k")).distinct()
    spine = dk.select("day").distinct()
    visible = dk.join(
        F.broadcast(spine.select(F.col("day").alias("report_day"))),
        (F.col("day") <= F.col("report_day"))
        & (
            F.col("day")
            > F.date_sub(F.col("report_day"), window_days)
        ),
    )
    wau = visible.groupBy("report_day").agg(
        F.countDistinct("k").alias("wau")
    )
    dau = dk.groupBy("day").agg(F.countDistinct("k").alias("dau"))
    return (
        dau.join(wau, dau["day"] == wau["report_day"])
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


def session_copresence_lift(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    gap_minutes: int = 30,
) -> DataFrame:
    """Within-session co-presence lift between event types — the
    market-basket / co-visitation signal ("users who X in a session also
    Y") computed over gap-delimited sessions.

    Sessions are the explicit cumulative-sum form (new session iff the
    gap to the previous event of the same key is STRICTLY greater than
    ``gap_minutes``; ordered by (ts, id) so ties are deterministic) —
    the same rule Spark's session_window applies, but spelled out so the
    SQL twin can replay it token-for-token.  Lift is
    ``n_ab * n_sessions / (n_a * n_b)`` — all exact integer counts, one
    integer-ratio double rounded at 6dp (>1: the pair co-occurs more
    than independence predicts).

    Plan: one key-partitioned window (lag + cumulative sum share it),
    one dedup to (key, session, type), a self-join on the session id
    (bounded: sessions hold at most |types| distinct rows here), and
    tiny aggregates; n_sessions rides a broadcast 1-row relation, never
    a partition-less window."""
    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(key_col).orderBy(ts_col, "event_id")
    gap_us = F.lit(int(gap_minutes) * 60_000_000)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # two stages (lag, then cumulative sum of its result): a window
    # expression cannot nest inside another window's aggregate; both
    # stages share the same partitioning+ordering so Spark plans ONE
    # exchange + sort with two Window nodes on top
    marked = events.select(
        F.col(key_col).alias("k"),
        F.col(type_col).alias("t"),
        F.col(ts_col),
        F.col("event_id"),
        F.when(F.lag(us).over(w).isNull(), F.lit(0))
        .when(us - F.lag(us).over(w) > gap_us, F.lit(1))
        .otherwise(F.lit(0))
        .alias("__nw"),
    )
    cum2 = Window.partitionBy("k").orderBy(ts_col, "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    st = (
        marked.select("k", "t", F.sum("__nw").over(cum2).alias("sess"))
        .distinct()
    )
    sessions = st.select("k", "sess").distinct()
    n_sessions = sessions.agg(F.count("*").alias("__ns"))
    per_type = st.groupBy("t").agg(F.count("*").alias("n_t"))
    a = st.alias("a")
    b = st.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.sess") == F.col("b.sess"))
            & (F.col("a.t") < F.col("b.t")),
        )
        .groupBy(
            F.col("a.t").alias("type_a"), F.col("b.t").alias("type_b")
        )
        .agg(F.count("*").alias("n_ab"))
    )
    na = per_type.select(F.col("t").alias("type_a"), F.col("n_t").alias("n_a"))
    nb = per_type.select(F.col("t").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .join(F.broadcast(n_sessions))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(
                (F.col("n_ab") * F.col("__ns")).cast("double")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


def lex_okey(ts_col: str, tiebreak: str) -> Column:
    """Deterministic lexicographic ordering key ``biased-epoch-micros ||
    ':' || biased-tiebreak`` for min_by/max_by picks that must agree
    byte-for-byte with a SQL twin.

    Each component is BIASED by 10^19 in decimal(20,0) arithmetic before
    zero-padding: any BIGINT (including negative pre-1970 epoch micros
    and negative ids) maps to a positive 18-20 digit number, so the
    fixed-width lpad(20) never truncates and byte order == numeric order
    over the FULL long range.  The previous formulation (lpad(micros,20)
    / lpad(id,12) on the raw values) silently truncated ids >= 10^12 —
    Spark's lpad truncates longer inputs — and broke ordering for any
    negative component (round-7 ADVICE item)."""
    bias = F.lit("10000000000000000000").cast("decimal(20,0)")

    def _b(c: Column) -> Column:
        return F.lpad(
            (c.cast("decimal(20,0)") + bias).cast("decimal(20,0)").cast("string"),
            20,
            "0",
        )

    return F.concat(
        _b(F.unix_micros(F.col(ts_col))), F.lit(":"), _b(F.col(tiebreak))
    )


# DuckDB twin of lex_okey for oracle SQL strings — kept adjacent so the two
# formulations can only drift visibly.
LEX_OKEY_SQL = (
    "lpad(CAST(CAST(epoch_us({ts}::TIMESTAMP) AS HUGEINT)"
    " + 10000000000000000000 AS VARCHAR), 20, '0') || ':' ||"
    " lpad(CAST(CAST({tiebreak} AS HUGEINT)"
    " + 10000000000000000000 AS VARCHAR), 20, '0')"
)


def long_tiebreak(df: DataFrame, tiebreak: str) -> Column:
    """The tiebreak component of a total-order key, as a validated LONG.

    The ordering-key struct used by ``ohlc_bars`` / ``golden_record``
    (and the SQL twin's ``LEX_OKEY_SQL`` HUGEINT cast) needs the
    tiebreak as a long.  A bare ``cast("long")`` on a NON-numeric
    string (e.g. a UUID column passed by mistake) yields NULL for every
    row under ANSI-off sessions, silently degrading the documented
    total order to a nondeterministic pick among timestamp ties
    (ADVICE r11).  ``stream_cusum`` already rejects bad tiebreak types
    up front; this helper gives the batch okey builders the same
    discipline:

    - integral column (byte/short/int/long): plain widening cast;
    - string column (the documented numeric-string compat path, cast
      like the oracle's HUGEINT): ``try_cast`` + ``raise_error`` so a
      malformed value FAILS THE JOB in both ANSI modes instead of
      sorting as NULL (ANSI-on would raise on its own; ANSI-off would
      silently NULL — this expression raises in either);
    - anything else (double/decimal/timestamp/...): immediate
      ValueError — those types don't round-trip the long order the SQL
      twin uses, so accepting them would diverge the engines.

    An unresolvable column name falls through to the plain cast so
    Spark's own resolution error surfaces with its usual context."""
    from pyspark.sql import types as T

    tb_type = {f.name: f.dataType for f in df.schema.fields}.get(tiebreak)
    col = F.col(tiebreak)
    if tb_type is None or isinstance(
        tb_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        return col.cast("long")
    if isinstance(tb_type, T.StringType):
        return F.when(col.isNull(), F.lit(None).cast("long")).otherwise(
            F.coalesce(
                col.try_cast("long"),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"tiebreak column {tiebreak!r} holds a"
                            " non-numeric string (total order would"
                            " silently degrade): "
                        ),
                        col,
                    )
                ),
            )
        )
    raise ValueError(
        f"tiebreak column {tiebreak!r} must be an integral or"
        f" numeric-string column (got {tb_type.simpleString()}); it is"
        " cast to LONG to match the SQL twin's HUGEINT ordering key"
    )


def ohlc_bars(
    events: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: str = "event_id",
    step: str = "1 hour",
) -> DataFrame:
    """OHLC downsampling (the classic time-series bar aggregate): per
    (keys, time bucket) the OPEN (value at the earliest event), CLOSE
    (latest), HIGH/LOW (max/min), VOLUME (row count) and exact total —
    the continuous-rollup shape every metrics/market pipeline runs
    (the reference's consumers downsample exactly this way before
    serving; SURVEY §2.B B17/B24).

    open/close are deterministic even under timestamp ties: ``min_by`` /
    ``max_by`` order on ``struct(epoch_micros, tiebreak)`` — a total
    order whenever the tiebreak is unique, so a bare-timestamp min_by's
    arbitrary pick among ties cannot occur.  The SQL twin orders on the
    ORDER-EQUIVALENT lexicographic string key ``LEX_OKEY_SQL``
    (zero-padded biased decimals): the two formulations sort identically
    over the full long range, so both engines pick the SAME unique row —
    pick equality, not key-byte equality, is what the oracle hashes.
    The Spark side used the string key too until round 10; the struct
    compares two longs instead of building+comparing a 41-char string
    per row and measured ~8% faster at sf10 (0.76 vs 0.80-0.85 s wall),
    values identical.  high/low are exact picks of stored doubles (the
    B6 discipline), the total is a scaled-long sum.

    Plan: ONE map-side partial + final hash aggregate on (keys, bucket)
    — a single exchange of the already-collapsed bar relation, no
    windows, no second scan; at 100 TB this is the canonical
    pre-aggregation that runs at scan parallelism."""
    keys = list(keys)
    # cast matches the SQL twin's HUGEINT cast: a string-typed numeric
    # tiebreak must order NUMERICALLY on both engines, not
    # lexicographically on one (ADVICE r10); validated so a non-numeric
    # tiebreak fails loudly instead of NULLing the order (ADVICE r11)
    okey = F.struct(
        F.unix_micros(F.col(ts_col)).alias("t"),
        long_tiebreak(events, tiebreak).alias("i"),
    )
    bucket = F.date_trunc("hour", F.col(ts_col)).alias("bucket")
    if step != "1 hour":  # hour is the contract grain; others pass through
        bucket = F.window(F.col(ts_col), step).getField("start").alias("bucket")
    v = F.col(value_col)
    return (
        events.groupBy(*keys, bucket)
        .agg(
            F.min_by(v, okey).alias("open"),
            F.max_by(v, okey).alias("close"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.count("*").alias("volume"),
            F.sum(F.round(v * 100).cast("long")).alias("total_cents"),
        )
    )


def group_outliers_mad(
    df: DataFrame,
    keys: Sequence[str],
    value: Column | str,
    z: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier census via median / MAD (median absolute
    deviation) — the screen that survives what breaks
    ``group_outliers_zscore``: a single extreme value inflates the
    mean/std enough to hide itself (masking), while the median and MAD
    have a 50% breakdown point.  Flags rows with
    ``|x - median| > z * 1.4826 * MAD`` (1.4826 = the standard normal
    consistency constant).

    Cross-engine determinism: the value is integer-quantized first, so
    both percentile passes interpolate identical integers — the R-7
    ``pos = p*(n-1)`` convention with f=0.5 makes every interpolated
    median either an integer or an exact .5, and the second-pass
    deviations are again exact halves; the comparison threshold is then
    an identical IEEE expression in both engines.  Zero-MAD groups
    (>=50% identical values) flag NOTHING unless x != median — the
    documented MAD degeneracy, identical in the SQL twin.

    Plan: the fact table is touched EXACTLY ONCE — a map-side-combined
    (keys, quantized value) histogram aggregate — and every subsequent
    step (cumulative ranks, weighted medians, the deviation histogram,
    the outlier count) runs over that collapsed relation, whose size is
    |groups| x |distinct quantized values|, typically orders of
    magnitude under the fact count.  The naive formulation (Spark's
    imperative ``percentile`` aggregate over raw rows, twice, plus a
    row-level threshold pass) measured 15.5 s at sf10; this histogram
    form measures ~8-11 s there after the round-10 checkpoint removal
    (see the in-line note at the histogram — lineage truncation was
    re-measured and LOST at every scale), with the remaining fixed
    floor the AQE-staged broadcast rounds, which amortize away with
    data volume.  The interpolated
    median over the histogram is computed with the same R-7 arithmetic
    (pos = (n-1)/2; lower + 0.5*(upper-lower) when n is even)."""
    v = F.col(value) if isinstance(value, str) else value
    keys = list(keys)

    def _wmedian(hist: DataFrame, val_col: str) -> DataFrame:
        """(keys, n_rows, med) from a (keys, val, cnt) histogram —
        weighted R-7 median via one cumulative window over the tiny
        histogram relation.  The per-key total rides the SAME window
        partitioning as an unbounded frame (no separate aggregate +
        broadcast join-back — two fewer jobs per median, measured on the
        sf0.1 floor)."""
        w = Window.partitionBy(*keys).orderBy(val_col)
        h = hist.withColumn(
            "__cum",
            F.sum("__cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        ).withColumn(
            "n_rows",
            F.sum("__cnt").over(
                Window.partitionBy(*keys).orderBy(val_col).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        lo_idx = ((F.col("n_rows") - 1) / 2).cast("long")  # floor((n-1)/2)
        hit_lo = (F.col("__cum") - F.col("__cnt") <= lo_idx) & (
            lo_idx < F.col("__cum")
        )
        hi_idx = lo_idx + 1
        hit_hi = (F.col("__cum") - F.col("__cnt") <= hi_idx) & (
            hi_idx < F.col("__cum")
        )
        agg = h.groupBy(*keys).agg(
            F.max("n_rows").alias("n_rows"),
            F.min(F.when(hit_lo, F.col(val_col))).alias("__vlo"),
            F.min(F.when(hit_hi, F.col(val_col))).alias("__vhi"),
        )
        even = F.col("n_rows") % 2 == 0
        med = F.when(
            even,
            F.col("__vlo")
            + 0.5 * (F.coalesce("__vhi", "__vlo") - F.col("__vlo")),
        ).otherwise(F.col("__vlo").cast("double"))
        return agg.select(*keys, "n_rows", med.alias("__med"))

    hist = (
        df.select(*keys, F.round(v).cast("long").alias("__ui"))
        .groupBy(*keys, "__ui")
        .agg(F.count("*").alias("__cnt"))
        # The histogram is referenced by THREE downstream branches (value
        # median, deviation histogram, outlier count).  An earlier round
        # truncated lineage here with a lazy localCheckpoint so the fact
        # scan would run once; re-measured in round 10, the checkpoint
        # LOST or tied at every scale (sf0.1: a wash at ~2.8 s; sf10:
        # 10.6-17.1 s -> 7.9-10.6 s without it) — serializing the
        # |groups|x|values| relation
        # to block storage costs more than Spark's physical-plan reuse
        # of the identical aggregate subtree saves, so the plan is left
        # un-truncated on purpose.
    )
    med = _wmedian(hist.withColumnRenamed("__ui", "__v"), "__v")
    dev_hist = (
        hist.join(F.broadcast(med.select(*keys, "__med")), keys)
        .select(
            *keys,
            F.abs(F.col("__ui") - F.col("__med")).alias("__v"),
            "__cnt",
        )
        .groupBy(*keys, "__v")
        .agg(F.sum("__cnt").alias("__cnt"))
    )
    mad = _wmedian(dev_hist, "__v").select(
        *keys, F.col("__med").alias("__mad")
    )
    out_counts = (
        dev_hist.join(F.broadcast(mad), keys)
        .groupBy(*keys)
        .agg(
            F.sum(
                F.when(
                    F.col("__v") > F.lit(z * 1.4826) * F.col("__mad"),
                    F.col("__cnt"),
                ).otherwise(F.lit(0))
            ).alias("n_outliers")
        )
    )
    return (
        med.join(mad, keys)
        .join(out_counts, keys)
        .select(
            *keys,
            "n_rows",
            "n_outliers",
            F.round(F.col("__med"), 6).alias("median_value"),
            F.round(F.col("__mad"), 6).alias("mad_value"),
        )
    )


def trend_slope(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key OLS trend (slope + intercept of value over time) — the
    drift detector a metrics pipeline runs per user/source/shard ("is
    this key's value trending?").  x = whole hours since the Unix epoch
    (integer), y = value in cents (integer).

    slope = (n*Σxy − Σx·Σy) / (n*Σx² − (Σx)²) over EXACT integer sums —
    map-side partial aggregates of five longs, one tiny exchange, and a
    final ratio of identical integers in both engines (no
    association-sensitive float sum anywhere; the scaled-long discipline
    applied to regression).  Keys with n < 2 or zero x-variance get NULL
    slope/intercept (not 0/0 = NaN — the engine degenerate-input
    convention).  Overflow dial: Σx² < 2^63 needs n_rows_per_key *
    hours² < 9.2e18 — hours ~3e5 for this century, so ~1e8 rows per key;
    re-origin x for longer-lived keys."""
    keys = list(keys)
    x = F.floor(F.unix_micros(F.col(ts_col)) / F.lit(3_600_000_000)).cast(
        "long"
    )
    y = F.round(F.col(value_col) * 100).cast("long")
    q = df.select(*keys, x.alias("__x"), y.alias("__y"))
    agg = q.groupBy(*keys).agg(
        F.count("*").alias("n_rows"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
    )
    n = F.col("n_rows")
    denom = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = F.when(
        (n > 1) & (denom != 0),
        (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast("double")
        / denom.cast("double"),
    )
    intercept = (
        (F.col("__sy").cast("double") - slope * F.col("__sx")) / n
    )
    return agg.select(
        *keys,
        "n_rows",
        F.round(slope, 6).alias("slope_cents_per_hour"),
        F.round(intercept, 6).alias("intercept_cents"),
    )


def ab_test_summary(
    df: DataFrame,
    metric_keys: Sequence[str],
    arm_col: Column | str,
    value_col: str = "value",
) -> DataFrame:
    """Two-sample A/B comparison per metric key: per-arm n/mean, the mean
    difference, pooled standard error, and Welch-style t statistic — the
    experiment-readout aggregate, computed entirely from EXACT integer
    moments (cents-quantized sums and sums of squares) so both engines
    derive identical IEEE doubles and the t-stat is bit-stable.  No
    p-value by design: erf/Student-CDF are transcendental and libm
    last-ulp behavior diverges across engines — a consumer thresholds
    the t-stat (|t| > 1.96 ~ p<.05) identically either way.

    Plan: ONE map-side partial + final hash aggregate on (keys, arm) —
    the fact table is never shuffled wider than the collapsed per-arm
    stats — then a self-pivot of the tiny stats relation (conditional
    aggregation, no join).  Arms beyond {a, b} are ignored; groups
    missing an arm or with n<2 on either side yield NULL t (never
    0/0 = NaN)."""
    arm = F.col(arm_col) if isinstance(arm_col, str) else arm_col
    keys = list(metric_keys)
    q = df.select(
        *keys,
        arm.alias("__arm"),
        F.round(F.col(value_col) * 100).cast("long").alias("__c"),
    ).filter(F.col("__arm").isin("a", "b"))
    per_arm = q.groupBy(*keys, "__arm").agg(
        F.count("*").alias("n"),
        F.sum("__c").alias("s1"),
        F.sum(F.col("__c") * F.col("__c")).alias("s2"),
    )

    def side(col: str, a: str):
        return F.max(F.when(F.col("__arm") == a, F.col(col)))

    stats = per_arm.groupBy(*keys).agg(
        side("n", "a").alias("n_a"),
        side("s1", "a").alias("s1_a"),
        side("s2", "a").alias("s2_a"),
        side("n", "b").alias("n_b"),
        side("s1", "b").alias("s1_b"),
        side("s2", "b").alias("s2_b"),
    )
    mean_a = F.col("s1_a").cast("double") / F.col("n_a")
    mean_b = F.col("s1_b").cast("double") / F.col("n_b")
    var_a = (
        F.col("s2_a").cast("double")
        - F.col("s1_a").cast("double") * F.col("s1_a") / F.col("n_a")
    ) / (F.col("n_a") - 1)
    var_b = (
        F.col("s2_b").cast("double")
        - F.col("s1_b").cast("double") * F.col("s1_b") / F.col("n_b")
    ) / (F.col("n_b") - 1)
    se = F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    ok = (
        F.col("n_a").isNotNull()
        & F.col("n_b").isNotNull()
        & (F.col("n_a") > 1)
        & (F.col("n_b") > 1)
    )
    t = F.when(ok & (se > 0), (mean_b - mean_a) / se)
    return stats.select(
        *keys,
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(mean_a, 6).alias("mean_a_cents"),
        F.round(mean_b, 6).alias("mean_b_cents"),
        F.round(t, 6).alias("t_stat"),
    )


def merge_intervals(
    df: DataFrame,
    keys: Sequence[str],
    start_col: str = "start_us",
    end_col: str = "end_us",
) -> DataFrame:
    """Interval union per key: merge overlapping-or-touching [start, end]
    intervals into maximal disjoint spans — the coverage operator behind
    "total watched seconds", uptime stitching, and sessionized span
    accounting (sessionization's fixed-gap rule is the special case
    end = start + gap).

    Classic cumulative-max sweep: order each key's intervals by (start,
    end), a new span opens where start exceeds the running max of prior
    ends (strict >: touching intervals merge), and the span id is the
    running count of such breaks — three window functions over ONE key
    partition (a single exchange), then one hash aggregate; no
    self-join, no explode.  Works on any integral time unit; NULL
    starts/ends are dropped up front (an unbounded interval has no union
    semantics here)."""
    keys = list(keys)
    s, e = F.col(start_col), F.col(end_col)
    q = df.filter(s.isNotNull() & e.isNotNull()).select(
        *keys, s.alias("__s"), e.alias("__e")
    )
    w = Window.partitionBy(*keys).orderBy("__s", "__e")
    prev_max = F.max("__e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        prev_max.isNull() | (F.col("__s") > prev_max), F.lit(1)
    ).otherwise(F.lit(0))
    spans = q.withColumn("__brk", brk).withColumn(
        "__span",
        F.sum("__brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        spans.groupBy(*keys, "__span")
        .agg(
            F.min("__s").alias("span_start"),
            F.max("__e").alias("span_end"),
            F.count("*").alias("n_intervals"),
        )
        .drop("__span")
    )


def locf_impute(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    cols: Sequence[str],
) -> DataFrame:
    """Last-observation-carried-forward imputation: per key, fill NULLs in
    ``cols`` with the most recent non-NULL value in ``order_by`` order —
    the standard feature-pipeline gap fill for sensor dropouts, sparse
    event attributes, and slowly-changing measurements (leak-free by
    construction: only PAST observations flow forward, never future
    ones, unlike a symmetric interpolation).

    Each column is ``last(col, ignorenulls=True)`` over an unbounded-
    preceding row frame — all columns ride ONE window over ONE key
    partition, so the whole imputation is a single exchange at any
    scale; leading NULLs (no prior observation) stay NULL, the honest
    answer.  ``order_by`` should end in a unique tiebreak column: row
    frames under a non-total order would make "most recent" engine-
    arbitrary, the same pitfall ohlc_bars' lex_okey exists to close."""
    keys = list(keys)
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    return out


def interp_impute(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: str,
    value_col: str,
    scale: int = 2,
) -> DataFrame:
    """Linear-interpolation imputation — the symmetric twin of
    ``locf_impute`` for continuous signals: per key, each NULL value is
    filled on the straight line between the BRACKETING non-NULL
    observations in (ts, tiebreak) order (sensor resampling, price
    curves, telemetry gap repair).  Leading/trailing NULLs (no bracket
    on one side) stay NULL — the honest answer; LOCF them afterwards if
    an edge fill is wanted.  Unlike LOCF this uses FUTURE observations
    by construction: it is for reconstruction/resampling, not leak-free
    feature generation — pick per use.

    Output: ``keys..., ts, tiebreak, value_cents (double, 6dp),
    is_interpolated``.  Exactness: observations are quantized to scaled
    longs FIRST; the interpolated value is ONE fixed-shape IEEE
    expression over four exact integers —
    ``prev + (next - prev) * (t - t0) / (t1 - t0)`` with the identical
    cast/association order in the SQL twin — so both engines emit the
    same double bit-for-bit.  A zero-width bracket (prev and next at
    the same microsecond) carries the previous value rather than
    dividing 0/0.

    Plan: BOTH bracket lookups ride windows over the SAME (keys) x
    (ts, tiebreak) sort — ``last(_, ignorenulls)`` over unbounded
    preceding and ``first(_, ignorenulls)`` over unbounded following —
    so the whole operator is ONE exchange + ONE per-partition sort at
    any scale (Spark computes both frames in one WindowExec pass over
    the sorted run; no join, no self-union).  At 100 TB: identical
    posture to every window operator here — partition by key, watch hot
    keys."""
    keys = list(keys)
    m = 10 ** scale
    t_us = F.unix_micros(F.col(ts_col))
    cents = F.floor(F.col(value_col) * m + F.lit(0.5)).cast("long")
    obs = F.when(
        F.col(value_col).isNotNull(),
        F.struct(t_us.alias("t"), cents.alias("c")),
    )
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col), F.col(tiebreak))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col), F.col(tiebreak))
        .rowsBetween(0, Window.unboundedFollowing)
    )
    staged = df.select(
        *keys,
        F.col(ts_col),
        F.col(tiebreak),
        F.col(value_col).alias("__v"),
        t_us.alias("__t"),
        F.last(obs, ignorenulls=True).over(w_prev).alias("__p"),
        F.first(obs, ignorenulls=True).over(w_next).alias("__n"),
    )
    p_t, p_c = F.col("__p.t"), F.col("__p.c")
    n_t, n_c = F.col("__n.t"), F.col("__n.c")
    interp = F.when(
        n_t > p_t,
        p_c.cast("double")
        + (n_c - p_c).cast("double")
        * (F.col("__t") - p_t).cast("double")
        / (n_t - p_t).cast("double"),
    ).otherwise(p_c.cast("double"))
    filled = F.when(
        F.col("__v").isNotNull(),
        F.floor(F.col("__v") * m + F.lit(0.5)).cast("long").cast("double"),
    ).when(p_t.isNotNull() & n_t.isNotNull(), interp)
    return staged.select(
        *keys,
        ts_col,
        tiebreak,
        F.round(filled, 6).alias("value_cents"),
        (F.col("__v").isNull() & filled.isNotNull()).alias(
            "is_interpolated"
        ),
    )


def interp_impute_oracle_sql(
    table_expr: str,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: str,
    value_col: str,
    scale: int = 2,
) -> str:
    """DuckDB twin of ``interp_impute`` (identical quantization, bracket
    windows, and IEEE expression shape)."""
    m = 10 ** scale
    ks = ", ".join(keys)
    frame = (
        f"PARTITION BY {ks} ORDER BY {ts_col}::TIMESTAMP, {tiebreak}"
    )
    return (
        f"WITH s AS (SELECT {ks}, {ts_col}, {tiebreak},"
        f" {value_col} AS v,"
        f" CAST(epoch_us({ts_col}::TIMESTAMP) AS BIGINT) AS t,"
        f" CASE WHEN {value_col} IS NOT NULL THEN struct_pack("
        f"  t := CAST(epoch_us({ts_col}::TIMESTAMP) AS BIGINT),"
        f"  c := CAST(FLOOR({value_col} * {m} + 0.5) AS BIGINT)) END AS o"
        f" FROM {table_expr}),"
        f" b AS (SELECT *,"
        f" last_value(o IGNORE NULLS) OVER ({frame}"
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,"
        f" first_value(o IGNORE NULLS) OVER ({frame}"
        "  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n"
        " FROM s),"
        " f AS (SELECT *, CASE"
        "  WHEN v IS NOT NULL THEN"
        f"   CAST(CAST(FLOOR(v * {m} + 0.5) AS BIGINT) AS DOUBLE)"
        "  WHEN p.t IS NOT NULL AND n.t IS NOT NULL THEN"
        "   CASE WHEN n.t > p.t THEN"
        "    CAST(p.c AS DOUBLE) + CAST(n.c - p.c AS DOUBLE)"
        "     * CAST(t - p.t AS DOUBLE) / CAST(n.t - p.t AS DOUBLE)"
        "   ELSE CAST(p.c AS DOUBLE) END"
        "  END AS filled FROM b)"
        f" SELECT {ks}, {ts_col}, {tiebreak},"
        "  ROUND(filled, 6) AS value_cents,"
        "  (v IS NULL AND filled IS NOT NULL) AS is_interpolated FROM f"
    )


def decayed_group_score(
    df: DataFrame,
    keys: Sequence[str],
    ref_epoch_us: int,
    ts_col: str = "ts",
    value_col: str = "value",
    half_life_hours: int = 1,
) -> DataFrame:
    """Recency-weighted engagement score per key: each event contributes
    ``value / 2^(age / half_life)`` relative to ``ref_ts`` — the standard
    time-decay ranking signal (feed ranking, churn features, trending
    detection), stated so BOTH engines compute it bit-identically.

    Exactness discipline: the weight exponent is the INTEGER number of
    elapsed half-lives (floored, capped at 62), and each row's term is
    ``(cents * 10^6) >> k`` — integer multiply then ARITHMETIC shift
    right, which is true floor-division by 2^k for negative values too
    (a ``DIV`` would truncate toward zero and diverge from the decayed
    value on refunds/chargebacks), so the per-key SUM is an exact
    integer in micro-cents: association-free, bit-stable, no float
    POWER() in sight (libm pow differs across engines in the last ulp;
    integer shifts don't).  Rows newer than ``ref_ts`` clamp to age 0
    rather than amplifying.  DuckDB's ``>>`` on BIGINT is the same
    arithmetic shift, so the oracle mirrors the identical bit pattern.

    Plan: ONE map-side-combined hash aggregate — a single exchange of
    the collapsed per-key relation; the decay arithmetic rides the scan
    at whole-stage-codegen speed."""
    keys = list(keys)
    # one SQL string, one expression tree (the py4j round-trip lesson);
    # all-integer: epoch-µs age, truncating DIV for the exponent (==
    # floor after the GREATEST clamp), then SHIFTRIGHT — Java's
    # arithmetic >>, i.e. exact floor-by-2^k even for negative cents
    hl_us = 3_600_000_000 * half_life_hours
    term = F.expr(
        f"SHIFTRIGHT(CAST(ROUND({value_col} * 100) AS BIGINT) * 1000000, "
        f"CAST(LEAST(GREATEST("
        f"(CAST({int(ref_epoch_us)} AS BIGINT) - unix_micros({ts_col}))"
        f" DIV {hl_us}, 0), 62) AS INT))"
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(term).alias("score_microcents"),
        )
    )


def cusum_points(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: str,
    value_col: str,
    target_cents: int,
    slack_cents: int,
    threshold_cents: int,
    scale: int = 2,
) -> DataFrame:
    """One-sided CUSUM change-point statistic per key stream — the
    classic sequential drift detector (Page 1954): s_i = max(0,
    s_{i-1} + (x_i - target - slack)), alarm when s_i > threshold.
    The recursion looks window-inexpressible, but CUSUM+ has the exact
    closed form  s_i = c_i - min(0, min_{j<=i} c_j)  with c the running
    sum of deviations — so it compiles to ONE cumulative-sum window plus
    ONE running-min window over the SAME sort (one exchange, one sort
    per key stream, no recursion, no UDF, no iteration).

    All arithmetic is exact integer cents (x quantized at ``scale``),
    so the statistic is association-free and bit-stable cross-engine.
    Returns per-point detail: ``keys..., ts, tiebreak, stat_cents,
    is_alert`` — aggregate downstream for the census shape (n_alerts /
    max excursion / first alarm time).  Rows with NULL value are
    excluded (they carry no evidence; LOCF-impute upstream if gaps
    should extend the last observation instead).

    At 100 TB: per-key state is the sort, partitioned on keys — the
    same posture as every window operator here; skewed hot keys are the
    dial to watch (salt the key or pre-aggregate to a coarser tick)."""
    m = 10 ** scale
    drift = target_cents + slack_cents
    base = df.filter(F.col(value_col).isNotNull())
    dev = (
        F.floor(F.col(value_col) * m + F.lit(0.5)).cast("long") - F.lit(drift)
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col), F.col(tiebreak))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = F.sum(dev).over(w)
    with_c = base.withColumn("__c", c)
    runmin = F.min(F.col("__c")).over(w)
    s = F.col("__c") - F.least(F.lit(0), runmin)
    return (
        with_c.withColumn("stat_cents", s)
        .select(
            *keys,
            ts_col,
            tiebreak,
            "stat_cents",
            (F.col("stat_cents") > threshold_cents).alias("is_alert"),
        )
    )


def cusum_oracle_sql(
    table: str,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: str,
    value_col: str,
    target_cents: int,
    slack_cents: int,
    threshold_cents: int,
    scale: int = 2,
) -> str:
    """DuckDB twin of ``cusum_points`` (identical quantization, closed
    form, and ordering)."""
    m = 10 ** scale
    drift = target_cents + slack_cents
    ks = ", ".join(keys)
    part = ", ".join(keys)
    frame = (
        f"PARTITION BY {part} ORDER BY {ts_col}::TIMESTAMP, {tiebreak}"
        " ROWS UNBOUNDED PRECEDING"
    )
    return (
        f"WITH d AS (SELECT {ks}, {ts_col}, {tiebreak},"
        f" CAST(FLOOR({value_col} * {m} + 0.5) AS BIGINT) - {drift} AS dev"
        f" FROM {table} WHERE {value_col} IS NOT NULL),"
        f" c AS (SELECT {ks}, {ts_col}, {tiebreak},"
        f" CAST(SUM(dev) OVER ({frame}) AS BIGINT) AS cc FROM d),"
        f" s AS (SELECT {ks}, {ts_col}, {tiebreak},"
        f" cc - LEAST(0, MIN(cc) OVER ({frame})) AS stat_cents FROM c)"
        f" SELECT {ks}, {ts_col}::TIMESTAMP AS {ts_col}, {tiebreak},"
        f" stat_cents, stat_cents > {threshold_cents} AS is_alert FROM s"
    )


def twap(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: str,
    value_col: str,
    scale: int = 2,
) -> DataFrame:
    """Time-weighted average (TWAP): per key, each observation is
    weighted by how long it REMAINED the current value (lead(ts) - ts);
    the stream's last observation carries no duration and drops out —
    the standard fix for irregular sampling, where a plain AVG
    overweights chatty periods (telemetry heartbeats, quote bursts).

    Output: ``keys..., n_intervals, dur_us_total, twap_cents``.  Both
    accumulators are exact int64 (cents x µs durations; the weighted
    sum holds to ~10^18 µs-cents per key — centuries of a 10^5-cent
    signal); the final quotient converts the SAME two integers to
    double on both engines (IEEE-identical), divides, and rounds —
    the corr_matrix precedent for exactness past 2^53.

    Plan: one lead() window (one exchange + sort per key), one
    map-side-combined aggregate.  Keys with a single observation are
    ABSENT from the output (no interval ever elapsed — the NULL-duration
    filter runs before the groupBy, so such keys never reach the
    aggregate; left-join the key dimension back in if every-key rows
    are wanted)."""
    m = 10 ** scale
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col), F.col(tiebreak))
    dur = F.lead(F.unix_micros(F.col(ts_col))).over(w) - F.unix_micros(
        F.col(ts_col)
    )
    cents = F.floor(F.col(value_col) * m + F.lit(0.5)).cast("long")
    staged = (
        df.filter(F.col(value_col).isNotNull())
        .withColumn("__dur", dur)
        .filter(F.col("__dur").isNotNull())
        .withColumn("__wc", cents * F.col("__dur"))
    )
    return staged.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("__dur").alias("dur_us_total"),
        F.round(
            F.sum("__wc").cast("double")
            / F.sum("__dur").cast("double"),
            6,
        ).alias("twap_cents"),
    )


def twap_oracle_sql(
    table: str,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: str,
    value_col: str,
    scale: int = 2,
) -> str:
    """DuckDB twin of ``twap`` (identical windows, integer sums, and
    final double division/round)."""
    m = 10 ** scale
    ks = ", ".join(keys)
    part = ", ".join(keys)
    return (
        f"WITH s AS (SELECT {ks},"
        f" LEAD(epoch_us({ts_col}::TIMESTAMP)) OVER (PARTITION BY {part}"
        f" ORDER BY {ts_col}::TIMESTAMP, {tiebreak})"
        f" - epoch_us({ts_col}::TIMESTAMP) AS dur,"
        f" CAST(FLOOR({value_col} * {m} + 0.5) AS BIGINT) AS cents"
        f" FROM {table} WHERE {value_col} IS NOT NULL),"
        f" t AS (SELECT {ks}, dur, cents * dur AS wc FROM s"
        f" WHERE dur IS NOT NULL)"
        f" SELECT {ks}, COUNT(*) AS n_intervals,"
        f" CAST(SUM(dur) AS BIGINT) AS dur_us_total,"
        f" ROUND(CAST(CAST(SUM(wc) AS BIGINT) AS DOUBLE)"
        f" / CAST(CAST(SUM(dur) AS BIGINT) AS DOUBLE), 6) AS twap_cents"
        f" FROM t GROUP BY {ks}"
    )


def equi_depth_histogram(
    df: DataFrame,
    value_col: str,
    tiebreak: str,
    n_bins: int = 16,
    scale: int = 2,
    buckets: int = 32,
) -> DataFrame:
    """Equi-DEPTH histogram (quantile binning): ``n_bins`` bins each
    holding an equal share of rows (±1), with each bin's row count and
    value range — the data-skipping / binning census that equi-WIDTH
    histograms (``price_histogram``) get wrong on skewed data, and the
    discretization step feature pipelines run before bucketed training.

    Bin assignment is ``(rank - 1) * n_bins DIV n`` over the global
    (value, tiebreak) order — NOT SQL NTILE, whose remainder rows all
    front-load into the first bins; this formula spreads them evenly
    and, being pure integer arithmetic on the rank, is bit-stable
    cross-engine.  The rank itself is ``global_rank`` (two-pass range
    bucketing) — NO single-partition window anywhere, so the plan holds
    at 100 TB where a naive NTILE() OVER () funnels the corpus through
    one task.  NULL values are excluded (they have no quantile).

    Output: ``bin, n_rows, lo_cents, hi_cents`` (bin depths differ by
    at most 1; ranges touch at shared boundary values)."""
    m = 10 ** scale
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.floor(F.col(value_col) * m + F.lit(0.5))
        .cast("long")
        .alias("__cents"),
        F.col(tiebreak).alias("__tb"),
    )
    ranked = global_rank(
        base,
        "__cents",
        [F.col("__cents"), F.col("__tb")],
        alias="__rn",
        buckets=buckets,
        keep_total=True,
    )
    binned = ranked.withColumn(
        "bin", F.expr(f"(__rn - 1) * {n_bins} div __n")
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("__cents").alias("lo_cents"),
        F.max("__cents").alias("hi_cents"),
    )


def equi_depth_oracle_sql(
    table: str,
    value_col: str,
    tiebreak: str,
    n_bins: int = 16,
    scale: int = 2,
) -> str:
    """DuckDB twin of ``equi_depth_histogram`` (same rank formula —
    ROW_NUMBER, not NTILE)."""
    m = 10 ** scale
    return (
        f"WITH q AS (SELECT"
        f" CAST(FLOOR({value_col} * {m} + 0.5) AS BIGINT) AS cents,"
        f" {tiebreak} AS tb FROM {table}"
        f" WHERE {value_col} IS NOT NULL),"
        f" r AS (SELECT cents,"
        f" ROW_NUMBER() OVER (ORDER BY cents, tb) AS rn,"
        f" COUNT(*) OVER () AS n FROM q)"
        f" SELECT (rn - 1) * {n_bins} // n AS bin,"
        f" COUNT(*) AS n_rows, MIN(cents) AS lo_cents,"
        f" MAX(cents) AS hi_cents FROM r GROUP BY 1"
    )
