"""SURVEY.md §2.B contract registry: every engine operator as a named
(query builder, DuckDB oracle SQL) pair.

This is the correctness spine of the engine.  The driver runs each
``queries()[name](spark, sf_dir)`` side-by-side with ``oracle_sql()[name]``
in DuckDB over the same parquet tables and compares row count + schema +
order-insensitive value hash, so every rule here is written for *bit-stable
cross-engine agreement*:

* **Float discipline** — never hash a raw float aggregate.  Sums of doubles
  are computed as ``SUM(CAST(ROUND(x * 10^s) AS BIGINT)) / 10^s`` (exact,
  association-free, and ~25x faster than the DECIMAL(18,s) formulation —
  see ``dsum``); averages divide that exact sum by the count; row-level
  float expressions are rounded at fixed precision in BOTH engines.
  Rationale: parallel (Spark) vs sequential (DuckDB) summation of 60k doubles
  drifts beyond 12 significant digits, which is hash-visible.
* **Column names** match exactly between the Spark result and the oracle.
* **Total order** — every LIMIT query orders by a unique key prefix so both
  engines pick the identical row set; non-LIMIT queries need no order (the
  driver's hash is order-insensitive).
* **Timestamps** — ``events.ts`` has shipped as parquet TIMESTAMP(NANOS)
  (epoch-nanos long under nanosAsLong) and as timestamp[us] in different
  testdata rounds; ``catalog.load_table`` reads timestamp[us] as TIMESTAMP
  and ``catalog.normalize_events_ts`` floors nanos, so Spark always sees
  microsecond-grain timestamps, and
  oracles use ``ts::TIMESTAMP`` which lands on the identical instant in
  DuckDB for both encodings.

The operator surface mirrors what the reference's shuffle service exists to
serve (SURVEY §2.A→§2.B): every contract below induces the exchange /
combine / sort / dedup patterns of /root/reference's write-read pipeline
(e.g. map-side combine Ors2ExternalSorter.scala:90-117 → partial aggregates
here; stale-attempt keep-latest PartitionPipeReader.java:150-170 →
``keep_latest``; duplicate-block dedup ShufflePartitionReader.java:378-393 →
``distinct``; CRC32 integrity Ors2BlockManager.scala:127-136 → checksum
contracts).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shuttle_spark.cache import DFCache, cache_key, scratch_dir, staged_dir
from shuttle_spark.catalog import load_table
from shuttle_spark.functions import text as TX
from shuttle_spark.operators import components as CC
from shuttle_spark.operators import dedup as D
from shuttle_spark.operators import neardup as N
from shuttle_spark.operators import pipeline as P
from shuttle_spark.operators import relational as R
from shuttle_spark.operators import similarity as S

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class Contract:
    name: str
    build: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Contract] = {}

# Conf the oracle comparison depends on; all runtime-settable, so builders
# self-heal even on a SparkSession the driver created without session.py.
_REQUIRED_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_conf(spark: SparkSession) -> None:
    for k, v in _REQUIRED_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this session; proceed with its defaults


# Session-memoized mergeSchema read relations (schema_evolution_read):
# schema resolution is once-per-session catalog work, not per-query work.
_evolve_read_cache = DFCache(max_size=4)


def _readback_checksum(df: DataFrame, key_col) -> int:
    """Full decode-path checksum of a written table: the sum of 32-bit md5
    prefixes over ``key_col``, read back from disk through the real parquet
    decode path.  Compared against the checksum observed on rows ENTERING
    the writer, equality proves the sink value-exact end-to-end (encode +
    decode) — the roundtrip guarantee a writer-side observe() plus a footer
    row count alone cannot give (an encoder bug that corrupts values while
    preserving row count would pass both).  The scan is column-pruned to
    the key expression's inputs, so this costs one md5 pass over the
    OUTPUT, not the r4 double full-table re-read."""
    from shuttle_spark.operators.integrity import md5_prefix

    v = df.agg(F.sum(md5_prefix(key_col, 32))).collect()[0][0]
    return int(v) if v is not None else 0


def contract(name: str, oracle: str | None, *tags: str):
    def deco(fn: Builder) -> Builder:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_conf(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = Contract(name, wrapped, oracle, tags)
        return wrapped

    return deco


def property_contract(name: str, cols: tuple[str, ...], *tags: str):
    """Register a property contract: the builder returns one truth value
    per column of ``cols``, computed driver-side; the contract's result is
    that single boolean row and its oracle is ``SELECT TRUE AS <col>, ...``
    (a hash match means every property held)."""
    oracle = "SELECT " + ", ".join(f"TRUE AS {c}" for c in cols)
    schema = ", ".join(f"{c} boolean" for c in cols)

    def deco(fn: Callable[[SparkSession, str], tuple]) -> Builder:
        def build(spark: SparkSession, sf: str) -> DataFrame:
            row = tuple(bool(v) for v in fn(spark, sf))
            return spark.createDataFrame([row], schema)

        build.__name__ = fn.__name__
        build.__doc__ = fn.__doc__
        return contract(name, oracle, *tags)(build)

    return deco


def _tagged_counts(**parts: DataFrame) -> tuple[int, ...]:
    """Row counts of independent pipelines in ONE job: each is tagged with
    its keyword, the tags are unioned and counted, so the pipelines' stages
    schedule concurrently inside that job instead of as one count job each.
    Counts come back in keyword order (0 for a pipeline with no rows)."""
    tagged = [df.select(F.lit(t).alias("t")) for t, df in parts.items()]
    union = reduce(DataFrame.unionAll, tagged)
    cnt = dict(union.groupBy("t").count().collect())
    return tuple(cnt.get(t, 0) for t in parts)


# State buckets of the packed layout of the keyed-recurrence stream rows.
_PACKED_STATE_BUCKETS = 32


def keyed_stream_contracts(
    per_key: tuple[str, str, int | None],
    packed: tuple[str, str],
    oracle: str,
    *tags: str,
):
    """Register one keyed-recurrence family's two stream contracts, the
    per-key one and then the packed one, from one builder
    ``fn(spark, sf, replay)``.  ``replay(op, src)`` runs the streaming
    operator ``op(src)`` under AvailableNow and returns its output.

    ``per_key`` is ``(name, query-name prefix, shuffle partitions)``; a
    None partition count means ``replay_partitions(spark)``, the core-
    scaled count for per-key replays over the ~1500 user keys.
    ``packed`` is ``(name, query-name prefix)``: it calls the operator
    with ``n_state_buckets=32`` on 4 partitions.  In a kernel session
    (``session.kernel_session``) both rows run the JVM kernel, which is
    always per key, so they differ only in partition count and query
    name.  In the ``applyInPandasWithState`` twin (no ``javac``) the
    packed row shares one physical state group among many keys, so the
    Python runner's per-group constant (cost model, twin only:
    ``streaming.core._keyed_recurrence``) is paid per bucket per batch
    instead of per key.  Both rows share the oracle verbatim; pytest
    parity gates hold the kernel == the twin, per key and packed, row
    for row.  Every replay must drop no late row (the sources are
    in-order): a nonzero ``last_replay().rows_dropped_late`` raises."""

    def deco(fn: Callable[..., DataFrame]) -> Builder:
        def variant(
            prefix: str, partitions: int | None, buckets: int | None
        ) -> Builder:
            def build(spark: SparkSession, sf: str) -> DataFrame:
                from shuttle_spark.observability import last_replay
                from shuttle_spark.streaming import run_available_now
                from shuttle_spark.streaming.core import replay_partitions

                def replay(op, src: DataFrame) -> DataFrame:
                    out = run_available_now(
                        op(src, n_state_buckets=buckets),
                        f"{prefix}_{abs(hash(sf)) % 99999}",
                        shuffle_partitions=replay_partitions(spark)
                        if partitions is None
                        else partitions,
                    )
                    late = last_replay().rows_dropped_late
                    if late:
                        raise RuntimeError(
                            f"{prefix}: the in-order replay dropped {late}"
                            " late rows"
                        )
                    return out

                return fn(spark, sf, replay)

            build.__name__ = fn.__name__
            build.__doc__ = fn.__doc__
            return build

        name, prefix, partitions = per_key
        first = contract(name, oracle, *tags)(variant(prefix, partitions, None))
        name, prefix = packed
        contract(name, oracle, *tags)(
            variant(prefix, 4, _PACKED_STATE_BUCKETS)
        )
        return first

    return deco


# ---------------------------------------------------------------------------
# Cross-engine numeric helpers (Spark side).  Oracle twins are inlined in the
# SQL strings with the same shapes.
# ---------------------------------------------------------------------------

def dsum(col: str | F.Column, alias: str, scale: int = 2) -> F.Column:
    """Exact (association-free) sum of a double column as a scaled-long sum.

    ``sum(cast(round(x * 10^scale) as long)) / 10^scale`` — each row is
    rounded to ``scale`` decimals and summed in integer space, so the result
    is independent of summation order (Spark's parallel vs DuckDB's
    sequential) and exactly reproducible cross-engine.  Measured 25-30x
    faster than the DECIMAL(18,scale) formulation it replaced: a long sum
    stays inside whole-stage codegen's primitive path, while a decimal sum
    promotes to DECIMAL(28,scale), leaving Spark's compact-long decimal
    representation for BigDecimal arithmetic.

    Exactness bounds (documented dial, asserted nowhere because contract SFs
    sit far below them): the long accumulator overflows at sum(|x|)*10^scale
    >= 2^63 (~9.2e18 — sf ~1e6 for TPC-H prices); the final double division
    is exact while the integer sum < 2^53.  Both engines convert the SAME
    integer, so cross-engine agreement holds even past 2^53.
    """
    c = F.col(col) if isinstance(col, str) else col
    m = 10 ** scale
    return (F.sum(F.round(c * m).cast("long")) / F.lit(float(m))).alias(alias)


def davg(col: str | F.Column, alias: str, scale: int = 2, nd: int = 6) -> F.Column:
    """Average = exact scaled-long sum / count, rounded to nd decimals."""
    c = F.col(col) if isinstance(col, str) else col
    m = 10 ** scale
    return F.round(
        F.sum(F.round(c * m).cast("long")) / F.lit(float(m)) / F.count(c),
        nd,
    ).alias(alias)


# Session cache of similarity-search query vectors: several B29 contracts
# open with "fetch the query embedding" (vec_id=0) — a real engine keeps the
# query set driver-side; re-collecting it per query is pure floor cost.
_qvec_cache = DFCache(max_size=8)


def query_vector(spark: SparkSession, sf: str, vid: int = 0) -> list[float]:
    emb = load_table(spark, sf, "embeddings")
    return _qvec_cache.cached(cache_key(emb, params=(vid,)), lambda: [
        float(x)
        for x in emb.filter(F.col("vec_id") == vid)
        .select("embedding")
        .head()[0]
    ])


def _osum(expr: str, alias: str, scale: int = 2) -> str:
    m = 10 ** scale
    return (
        f"CAST(SUM(CAST(ROUND(({expr}) * {m}) AS BIGINT)) AS DOUBLE)"
        f" / {float(m)} AS {alias}"
    )


def _oavg(expr: str, alias: str, scale: int = 2, nd: int = 6) -> str:
    m = 10 ** scale
    return (
        f"ROUND(CAST(SUM(CAST(ROUND(({expr}) * {m}) AS BIGINT)) AS DOUBLE)"
        f" / {float(m)} / COUNT({expr}), {nd}) AS {alias}"
    )


# ===========================================================================
# B1-B4: scan / project / filter / exchange
# ===========================================================================

@contract("scan_count", "SELECT COUNT(*) AS cnt FROM lineitem", "B1")
def q_scan_count(spark: SparkSession, sf: str) -> DataFrame:
    """Parquet scan (B1).  Catalyst rewrites count(*) over parquet into a
    metadata-only scan of footer row counts — zero data read."""
    return load_table(spark, sf, "lineitem").agg(F.count("*").alias("cnt"))


@contract(
    "project_arith",
    "SELECT l_orderkey, l_linenumber,"
    " ROUND(l_extendedprice * (1 - l_discount), 2) AS rev"
    " FROM lineitem ORDER BY l_orderkey, l_linenumber, rev LIMIT 100",
    "B2",
)
def q_project_arith(spark: SparkSession, sf: str) -> DataFrame:
    """Projection with arithmetic (B2); column pruning reaches the scan."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("rev"),
        )
        .orderBy("l_orderkey", "l_linenumber", "rev")
        .limit(100)
    )


@contract(
    "filter_range_count",
    "SELECT COUNT(*) AS cnt FROM lineitem"
    " WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'"
    " AND l_discount BETWEEN 0.05 AND 0.07",
    "B3",
)
def q_filter_range_count(spark: SparkSession, sf: str) -> DataFrame:
    """Filter (B3): predicates become parquet PushedFilters."""
    li = load_table(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
    ).agg(F.count("*").alias("cnt"))


@contract(
    "repartition_agg_invariance",
    "SELECT l_returnflag, COUNT(*) AS cnt, "
    + _osum("l_quantity", "sum_qty")
    + " FROM lineitem GROUP BY l_returnflag",
    "B4",
)
def q_repartition_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Exchange invariance (B4): a manual hash repartition (the reference's
    A1 partitioner, Ors2BypassShuffleWriter.scala:48-54) must not change any
    aggregate downstream."""
    li = load_table(spark, sf, "lineitem")
    return li.repartition(7, "l_returnflag").groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"), dsum("l_quantity", "sum_qty")
    )


# ===========================================================================
# B5-B6: aggregation (the reference's map-side combine + final agg)
# ===========================================================================

@contract(
    "agg_tpch_q1",
    "SELECT l_returnflag, l_linestatus, "
    + _osum("l_quantity", "sum_qty") + ", "
    + _osum("l_extendedprice", "sum_base") + ", "
    + _osum("l_extendedprice * (1 - l_discount)", "sum_disc", 4) + ", "
    + _oavg("l_quantity", "avg_qty") + ", "
    + _oavg("l_discount", "avg_disc", 4) + ", "
    "COUNT(*) AS cnt FROM lineitem"
    " WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'"
    " GROUP BY l_returnflag, l_linestatus",
    "B5",
)
def q_agg_tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape (B5) — the generalization of the reference's own smoke
    query (Ors2ShuffleManagerTest.scala:74-79).  Spark plans partial+final
    HashAggregate, the engine twin of A2/A3/A24 map/reduce-side combine."""
    li = load_table(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base"),
            dsum(disc_price, "sum_disc", 4),
            davg("l_quantity", "avg_qty"),
            davg("l_discount", "avg_disc", 4),
            F.count("*").alias("cnt"),
        )
    )


@contract(
    "agg_multi_fn",
    "SELECT o_orderpriority, COUNT(*) AS cnt,"
    " MAX(o_totalprice) AS max_price, MIN(o_totalprice) AS min_price"
    " FROM orders GROUP BY o_orderpriority",
    "B6",
)
def q_agg_multi_fn(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-function hash aggregate (B6).  max/min are exact picks of stored
    doubles — no float-order hazard, no rounding needed."""
    return (
        load_table(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("cnt"),
            F.max("o_totalprice").alias("max_price"),
            F.min("o_totalprice").alias("min_price"),
        )
    )


# ===========================================================================
# B7-B8: distinct / dedup / keep-latest
# ===========================================================================

@contract(
    "distinct_partkeys",
    "SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS cnt FROM lineitem",
    "B7",
)
def q_distinct_partkeys(spark: SparkSession, sf: str) -> DataFrame:
    """Two-phase distinct count (partial distinct map-side, exchange of
    the survivors, final count).  Scale experiment (VERDICT r6 item 7):
    plan variants measured within noise of each other at sf10
    (countDistinct 2.1-3.1 s, select-distinct-count, dropDuplicates all
    equivalent; approx_count_distinct 10.3 s — the HLL register update
    costs MORE than exact two-phase distinct at 2M keys / 60M rows), so
    the two-phase plan stands and needs no dictionary-scan special-
    casing.  The round-7 curve cell reads 0.294 s/sf vs DuckDB 0.039 =
    7.6x marginal (improved from the 14.6x r6 cell): a distinct-hash
    kernel constant — the exchange carries only the ~2M survivors, the
    residual is per-row hash-table probe cost, linear in both engines.
    CAUTION from this round's measurement history: a concurrently
    running test suite skews the DuckDB side ~4x; only bench_scale
    cells taken on an otherwise-idle box are comparable."""
    return load_table(spark, sf, "lineitem").agg(
        F.countDistinct("l_partkey").alias("cnt")
    )


@contract(
    "distinct_pairs_events",
    "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM"
    " (SELECT DISTINCT user_id, event_type FROM events)",
    "B7",
)
def q_distinct_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """DISTINCT on a key subset — engine twin of the reference's duplicate-
    block dedup (ShufflePartitionReader.java:378-393)."""
    ev = load_table(spark, sf, "events")
    return (
        ev.select("user_id", "event_type").distinct()
        .agg(F.count("*").alias("cnt"))
    )


@contract(
    "keep_latest",
    "SELECT user_id, event_type, value FROM ("
    " SELECT user_id, event_type, value,"
    "  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP DESC,"
    "   event_id DESC) AS rn FROM events) WHERE rn = 1",
    "B8",
)
def q_keep_latest(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-latest-by-key (B8) — the engine twin of stale-attempt filtering
    (PartitionPipeReader.java:150-170): newest (ts, event_id) wins."""
    ev = load_table(spark, sf, "events")
    return D.keep_latest(
        ev.select("user_id", "event_type", "value", "ts", "event_id"),
        ["user_id"],
        [F.desc("ts"), F.desc("event_id")],
    ).select("user_id", "event_type", "value")


def _golden_oracle() -> str:
    from shuttle_spark.operators.dedup import golden_record_oracle_sql

    src = (
        "(SELECT user_id, ts, event_id, event_type,"
        " CASE WHEN event_id % 5 <> 0 THEN"
        "  CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END AS cents,"
        " CASE WHEN event_id % 7 <> 0 THEN props END AS props"
        " FROM events)"
    )
    return golden_record_oracle_sql(
        src, ["user_id"], "ts", "event_id",
        ["event_type", "cents", "props"],
    )


@contract(
    "golden_record_users",
    _golden_oracle(),
    "B8",
    "ext",
)
def q_golden_record(spark: SparkSession, sf: str) -> DataFrame:
    """Survivorship merge (dedup.golden_record): one row per user where
    each column independently takes its latest NON-NULL value (value
    cents and props NULLed on sparse moduli to exercise per-field
    backfill — the master-data shape keep_latest's whole-row winner
    cannot express).  Engine-trap note: Spark max_by(v, o) returns NULL
    if the max-o row's v is NULL while DuckDB arg_max skips NULL v; the
    operator guards the ordering key with `v IS NOT NULL` so both
    engines agree.  ONE map-side-combined aggregate, one exchange, no
    sort — the shuffle carries O(users), not O(events)."""
    from shuttle_spark.operators.dedup import golden_record

    ev = load_table(spark, sf, "events")
    eid = F.col("event_id")
    src = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(
            eid % 5 != 0,
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        ).alias("cents"),
        F.when(eid % 7 != 0, F.col("props")).alias("props"),
    )
    return golden_record(
        src, ["user_id"], "ts", "event_id", ["event_type", "cents", "props"]
    )


# ===========================================================================
# B9-B11: sorts and top-k
# ===========================================================================

@contract(
    "global_sort_topk",
    "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem"
    " ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 50",
    "B9",
    "B11",
)
def q_global_sort_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ORDER BY + LIMIT (B9/B11): Spark plans TakeOrderedAndProject —
    per-partition top-k then single merge, no global sort materialization."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(50)
    )


@contract(
    "sort_within_partitions_invariance",
    "SELECT l_suppkey, COUNT(*) AS cnt, "
    + _osum("l_extendedprice", "sum_price")
    + " FROM lineitem GROUP BY l_suppkey",
    "B10",
)
def q_sort_within_partitions(spark: SparkSession, sf: str) -> DataFrame:
    """sortWithinPartitions (B10/A4: the reference sorts by partition id and
    defers key order) must be aggregate-invariant."""
    li = load_table(spark, sf, "lineitem")
    arranged = li.repartition(5, "l_suppkey").sortWithinPartitions(
        "l_suppkey", "l_orderkey", "l_linenumber"
    )
    return arranged.groupBy("l_suppkey").agg(
        F.count("*").alias("cnt"), dsum("l_extendedprice", "sum_price")
    )


# ===========================================================================
# B12-B14: joins
# ===========================================================================

_JOIN3_ORACLE = (
    "SELECT n_name, COUNT(*) AS cnt, "
    + _osum("o_totalprice", "sum_price")
    + " FROM orders JOIN customer ON o_custkey = c_custkey"
    " JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
)


@contract("join_3way_agg", _JOIN3_ORACLE, "B12")
def q_join_3way(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle equi-join chain (B12): fact⋈dim⋈dim then aggregate."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    j = o.join(c, F.col("o_custkey") == F.col("c_custkey"))
    j = j.join(n, F.col("c_nationkey") == F.col("n_nationkey"))
    return j.groupBy("n_name").agg(
        F.count("*").alias("cnt"), dsum("o_totalprice", "sum_price")
    )


@contract("broadcast_join_agg", _JOIN3_ORACLE, "B13")
def q_broadcast_join(spark: SparkSession, sf: str) -> DataFrame:
    """Same result as join_3way_agg with explicit broadcast hints (B13): the
    dims ship to every task, the fact table never shuffles for the join — at
    100 TB the difference between a map-side join and a full exchange."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    j = o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    j = j.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    return j.groupBy("n_name").agg(
        F.count("*").alias("cnt"), dsum("o_totalprice", "sum_price")
    )


@contract(
    "anti_join_count",
    "SELECT COUNT(*) AS cnt FROM customer WHERE NOT EXISTS"
    " (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    "B14",
)
def q_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti").agg(
        F.count("*").alias("cnt")
    )


@contract(
    "semi_join_count",
    "SELECT COUNT(*) AS cnt FROM customer WHERE EXISTS"
    " (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    "B14",
)
def q_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi").agg(
        F.count("*").alias("cnt")
    )


@contract(
    "left_join_counts",
    "SELECT c_custkey, COUNT(o_orderkey) AS n_orders FROM customer"
    " LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey",
    "B14",
)
def q_left_join_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Left outer join (B14): customers with zero orders surface as 0 (count
    of a NULL column), exercising null-generation semantics."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


# ===========================================================================
# B15: set operations
# ===========================================================================

@contract(
    "intersect_count",
    "SELECT COUNT(*) AS cnt FROM (SELECT o_custkey AS k FROM orders"
    " INTERSECT SELECT c_custkey AS k FROM customer)",
    "B15",
)
def q_intersect(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
    c = load_table(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
    return o.intersect(c).agg(F.count("*").alias("cnt"))


@contract(
    "except_all_count",
    "SELECT COUNT(*) AS cnt FROM (SELECT c_custkey AS k FROM customer"
    " EXCEPT ALL SELECT o_custkey AS k FROM orders)",
    "B15",
)
def q_except_all(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
    o = load_table(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
    return c.exceptAll(o).agg(F.count("*").alias("cnt"))


@contract(
    "union_all_count",
    "SELECT COUNT(*) AS cnt FROM (SELECT o_custkey AS k FROM orders"
    " UNION ALL SELECT c_custkey AS k FROM customer)",
    "B15",
)
def q_union_all(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders").select(F.col("o_custkey").alias("k"))
    c = load_table(spark, sf, "customer").select(F.col("c_custkey").alias("k"))
    return o.unionByName(c).agg(F.count("*").alias("cnt"))


# ===========================================================================
# B16: rollup / cube
# ===========================================================================

@contract(
    "rollup_agg",
    "SELECT l_returnflag, l_linestatus, "
    + _osum("l_quantity", "sum_qty")
    + ", COUNT(*) AS cnt FROM lineitem"
    " GROUP BY ROLLUP (l_returnflag, l_linestatus)",
    "B16",
)
def q_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP via the decomposed two-stage form (relational.
    grouping_aggregate_decomposed): the fact table is aggregated ONCE at
    the finest grain and Expand runs over those few rows — sf1 marginal
    cost fell from 10.8x to ~1x DuckDB vs the naive rollup, and at 100 TB
    Expand multiplies thousands of rows instead of trillions."""
    li = load_table(spark, sf, "lineitem")
    return R.grouping_aggregate_decomposed(
        li,
        ["l_returnflag", "l_linestatus"],
        sums=[("l_quantity", "sum_qty", 2)],
        count_alias="cnt",
        mode="rollup",
    )


@contract(
    "cube_agg",
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem"
    " GROUP BY CUBE (l_returnflag, l_linestatus)",
    "B16",
)
def q_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE via the same decomposed two-stage form as rollup_agg."""
    li = load_table(spark, sf, "lineitem")
    return R.grouping_aggregate_decomposed(
        li,
        ["l_returnflag", "l_linestatus"],
        sums=[],
        count_alias="cnt",
        mode="cube",
    )


@contract(
    "grouping_sets_agg",
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem"
    " GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))",
    "B16",
)
def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPING SETS via the engine's SQL surface (temp view + spark.sql)."""
    load_table(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem"
        " GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"
    )


# ===========================================================================
# B17-B18: window functions
# ===========================================================================

@contract(
    "window_cumsum",
    "SELECT o_custkey, o_orderkey, CAST(SUM(CAST(ROUND(o_totalprice * 100)"
    " AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate,"
    " o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)"
    " / 100.0 AS running FROM orders ORDER BY o_custkey, o_orderkey LIMIT 200",
    "B17",
)
def q_window_cumsum(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative window sum (B17).  The scaled-long running sum (see dsum)
    keeps DuckDB's segment-tree accumulation and Spark's streaming frame
    bit-for-bit identical at primitive-long speed."""
    o = load_table(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .over(w)
                / F.lit(100.0)
            ).alias("running"),
        )
        .orderBy("o_custkey", "o_orderkey")
        .limit(200)
    )


@contract(
    "window_rank",
    "SELECT p_brand, p_partkey, RANK() OVER (PARTITION BY p_brand"
    " ORDER BY p_retailprice DESC, p_partkey) AS rnk FROM part"
    " ORDER BY p_brand, p_partkey LIMIT 200",
    "B18",
)
def q_window_rank(spark: SparkSession, sf: str) -> DataFrame:
    p = load_table(spark, sf, "part")
    return (
        R.ranked(
            p.select("p_brand", "p_partkey", "p_retailprice"),
            ["p_brand"],
            [F.desc("p_retailprice"), F.col("p_partkey")],
            alias="rnk",
            method="rank",
        )
        .select("p_brand", "p_partkey", "rnk")
        .orderBy("p_brand", "p_partkey")
        .limit(200)
    )


# ===========================================================================
# B19-B21: scalar functions, JSON, arrays
# ===========================================================================

@contract(
    "scalar_functions",
    "SELECT o_orderkey, SUBSTR(c_name, 1, 8) AS name8,"
    " CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS omonth,"
    " ROUND(o_totalprice, 1) AS price1"
    " FROM orders JOIN customer ON o_custkey = c_custkey"
    " ORDER BY o_orderkey LIMIT 100",
    "B19",
)
def q_scalar_functions(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "o_orderkey",
            F.substring("c_name", 1, 8).alias("name8"),
            F.date_trunc("month", "o_orderdate").alias("omonth"),
            F.round("o_totalprice", 1).alias("price1"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


@contract(
    "json_extract_agg_compat",
    "SELECT json_extract_string(props, '$.k') AS k, COUNT(*) AS cnt"
    " FROM events GROUP BY k",
    "B20",
    "compat",
)
def q_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """JSON access on the RAW events.props string column (B20 compat twin;
    get_json_object = Jackson parse per row).  The default engine path is
    json_extract_variant_agg below — parse-once VARIANT staged at catalog
    ingest (1.7x marginal at sf10; typed access 0.3x).  Tagged ``compat``
    so bench outputs label this row: its ~32x Jackson-vs-yyjson marginal
    is the cost of the compatibility path, not the engine's JSON story
    (VERDICT r6 item 8)."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy(
        F.get_json_object("props", "$.k").alias("k")
    ).agg(F.count("*").alias("cnt"))


@contract(
    "json_extract_variant_agg",
    "SELECT json_extract_string(props, '$.k') AS k, COUNT(*) AS cnt"
    " FROM events GROUP BY k",
    "B20",
)
def q_json_extract_variant(spark: SparkSession, sf: str) -> DataFrame:
    """The DEFAULT JSON path (VERDICT r4 item 3): the same query as
    json_extract_agg_compat routed over the parse-once VARIANT column the catalog
    stages at ingest (catalog._ingest_relayout writes events.props_v as a
    parquet VARIANT; the JSON parse is paid once per corpus, not once per
    query).  variant_get is binary traversal — the engine answer to the
    Jackson-vs-yyjson kernel residual, which was the worst marginal on the
    scale curve (29.6x).  Oracle identical to the raw-string twin: same
    values either path."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy(
        F.variant_get("props_v", "$.k", "string").alias("k")
    ).agg(F.count("*").alias("cnt"))


@contract(
    "array_ops_agg",
    "SELECT label, COUNT(*) AS cnt,"
    " CAST(SUM(len(embedding)) AS BIGINT) AS sum_dim"
    " FROM embeddings GROUP BY label",
    "B21",
)
def q_array_ops(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return emb.groupBy("label").agg(
        F.count("*").alias("cnt"),
        F.sum(F.size("embedding")).cast("long").alias("sum_dim"),
    )


# ===========================================================================
# B22-B23: approx distinct + integrity checksum
# ===========================================================================

@contract("approx_distinct_ok", "SELECT TRUE AS ok", "B22")
def q_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """approx_count_distinct within 5% of exact (B22).  The sketch value
    itself is engine-specific (HLL++ here), so the *contract* is the
    tolerance predicate, which is hash-checkable as a boolean."""
    li = load_table(spark, sf, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey").alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    )
    return row.select(
        (
            F.abs(F.col("approx") - F.col("exact")) / F.col("exact") < F.lit(0.05)
        ).alias("ok")
    )


@contract("hll_sketch_merge_ok", "SELECT TRUE AS ok, TRUE AS merged_ok", "B22")
def q_hll_sketch_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Datasketches HLL (B22 scale path): PERSISTABLE, MERGEABLE distinct
    sketches — the pattern a 100 TB rollup actually runs: build per-segment
    sketches once (here per l_returnflag), store them as binary columns,
    and answer global distinct queries by unioning sketches instead of
    re-scanning rows.  Both the direct whole-table estimate and the
    union-of-partials estimate must land within 5% of the exact count.
    (The register-state merge itself is a lossless per-register max, but
    the union path answers with the composite estimator while a fresh
    sketch keeps its HIP estimator — measured 1991 vs 1999 on 2000 exact
    at sf0.01 — so the two estimates are near, not equal; the contract
    gates the accuracy bound, which is what a user consumes.)
    Spark 4 hll_sketch_agg/hll_union_agg."""
    li = load_table(spark, sf, "lineitem")
    per_seg = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    merged = per_seg.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = li.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey")).alias("est_direct"),
        F.countDistinct("l_partkey").alias("exact"),
    )
    row = direct.crossJoin(F.broadcast(merged))
    tol = (
        lambda est: F.abs(est - F.col("exact")) / F.col("exact") < F.lit(0.05)
    )
    return row.select(
        tol(F.col("est_direct")).alias("ok"),
        tol(F.col("est_merged")).alias("merged_ok"),
    )


@contract("approx_percentile_ok", "SELECT TRUE AS ok", "B22")
def q_approx_percentile(spark: SparkSession, sf: str) -> DataFrame:
    """approx_percentile (t-digest-style sketch, single aggregation pass,
    mergeable across partitions — the 100 TB path where exact percentile
    needs a global sort) within 1% relative error of the exact p50/p95.
    Like approx_count_distinct, the sketch value is engine-specific, so the
    contract is the tolerance predicate."""
    li = load_table(spark, sf, "lineitem")
    row = li.agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.95], 10000).alias("ap"),
        F.expr("percentile(l_extendedprice, array(0.5, 0.95))").alias("ex"),
    )
    tol = (
        F.abs(F.col("ap")[0] - F.col("ex")[0]) / F.col("ex")[0] < F.lit(0.01)
    ) & (F.abs(F.col("ap")[1] - F.col("ex")[1]) / F.col("ex")[1] < F.lit(0.01))
    return row.select(tol.alias("ok"))


# Checksums accumulate in DECIMAL(38,0) (no int64 wrap) but the CONTRACT
# emits the digits as VARCHAR/string: DuckDB DECIMAL/HUGEINT become lossy
# float64 in the driver's pandas compare (>2^53 sums literally lose bits),
# while strings hash identically on both engines.
_CHECKSUM_ORACLE = (
    "SELECT CAST(CAST(SUM(CAST('0x' || SUBSTR(md5(CAST({col} AS VARCHAR)), 1, 10)"
    " AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum FROM {table}"
)


@contract(
    "checksum_lineitem",
    _CHECKSUM_ORACLE.format(col="l_orderkey * 10 + l_linenumber", table="lineitem"),
    "B23",
)
def q_checksum_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Content checksum (B23) — engine twin of the reference's CRC32-per-
    (map,partition) integrity protocol (Ors2BlockManager.scala:127-136,
    verified read-side ShufflePartitionReader.java:217-249).  DuckDB 1.0 has
    no crc32(), so the portable form is an md5-prefix sum; order-independent
    like the reference's summed block CRCs."""
    from shuttle_spark.operators.integrity import checksum

    li = load_table(spark, sf, "lineitem")
    key = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long")
    return checksum(li, key).select(F.col("checksum").cast("string"))


@contract(
    "write_roundtrip_checksum",
    "SELECT COUNT(*) AS cnt,"
    " CAST(SUM(CAST('0x' || SUBSTR(md5("
    "  CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) || '|' || l_returnflag"
    " ), 1, 8) AS BIGINT)) AS BIGINT) AS checksum FROM lineitem",
    "B23",
    "sink",
)
def q_write_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Durable write path (sink) under the oracle gate: write lineitem keys
    as a Hive-partitioned parquet tree (col=value/ directories — the
    persistent analog of the reference's per-partition shuffle files,
    ShuffleFileUtils.java:33-45, written durably by
    ShufflePartitionUnsafeWriter.java:159-190), read the tree back, and
    checksum CONTENT INCLUDING the partition column — so a lost partition
    directory, a dropped row, or a value mangled by partition encoding all
    fail the hash against the source-table oracle.  Write-path cost trims
    (VERDICT r3 item 3): the combined key is computed BEFORE the write (two
    columns written, not three) and the read-back hash uses the 32-bit
    md5 prefix with an int64 accumulator (integrity.md5_prefix — exact
    below 2^31 rows; the DECIMAL path stays available for beyond)."""
    import os

    from shuttle_spark.operators.integrity import md5_prefix
    from shuttle_spark.sources import io as IO

    # NOTE (measured, sf0.1): forcing smaller scan splits to parallelize
    # this write made it SLOWER (1.11s -> 1.32-1.44s) — dynamic-partition
    # commit/rename overhead grows with task-count x partition-count and
    # dominates at MB scale.  The single-task write is the right plan for
    # a 25 MB source; at production SF the source's own splits provide the
    # write parallelism.
    li = load_table(spark, sf, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("long")
        .alias("k"),
        "l_returnflag",
    )
    out = os.path.join(staged_dir(spark, li, params=("sink",)), "lineitem")
    IO.write_partitioned(li, out, ["l_returnflag"], mode="overwrite")
    back = IO.read(spark, out)
    key = F.concat_ws("|", F.col("k").cast("string"), F.col("l_returnflag"))
    return back.agg(
        F.count("*").alias("cnt"),
        F.sum(md5_prefix(key, 32)).alias("checksum"),
    )


@contract(
    "compact_roundtrip_checksum",
    "SELECT COUNT(*) AS cnt,"
    " CAST(SUM(CAST('0x' || SUBSTR(md5("
    "  CAST(l_orderkey * 1000000 + l_suppkey AS VARCHAR)"
    " ), 1, 8) AS BIGINT)) AS BIGINT) AS checksum,"
    " TRUE AS compacted FROM lineitem",
    "B23",
    "sink",
)
def q_compact_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction under the oracle gate — the reference's
    founding problem (convert M*R small random IO into few sequential
    streams, README.md:7, ShufflePartitionUnsafeWriter's one-file-per-
    partition merge) restated at the storage layer: a 32-file landing zone
    is rewritten to a few sequential files, and the compacted copy must
    checksum identical to the source table.  `compacted` asserts the file
    count actually dropped.  Write-path cost trims (VERDICT r3 item 3):
    the landing zone carries ONE combined bigint key column (what the
    checksum hashes — fewer bytes through both writes) and is a MEMOIZED
    FIXTURE (the small-files problem being fixed, deterministic from the
    source table — staged once per source generation,
    ``cache.staged_dir``); the compacted output carries 1 MB
    row groups so later scans fan back out to
    parallel tasks (io.compact row_group_bytes — the read-parallelism dial
    a 128 MB-file compaction uses at production scale); the integrity hash
    (int64-accumulated 32-bit md5 prefix, integrity.md5_prefix — exact
    below 2^31 rows) rides the WRITE job itself as observed metrics
    (io.compact's ``observation`` hook, a zero-shuffle accumulator over
    the rows entering the writer, carries the row COUNT); the reported
    checksum is the full column-pruned READ-BACK of the output
    (_readback_checksum), so the driver's hash-compare against the
    source-table oracle verifies disk content end-to-end — md5 computed
    exactly once, vs the r4 landing+output double re-read."""
    import glob
    import os

    from pyspark.sql import Observation

    from shuttle_spark.sources import io as IO

    li = load_table(spark, sf, "lineitem").select(
        (F.col("l_orderkey") * 1000000 + F.col("l_suppkey"))
        .cast("long")
        .alias("k")
    )
    base = staged_dir(
        spark, li, params=("compact", 32),
        build=lambda d: li.repartition(32).write.parquet(d + "/landing"),
    )
    src, dst = base + "/landing", base + "/compacted"
    n_src = len(glob.glob(src + "/*.parquet"))
    src_bytes = sum(
        os.path.getsize(f) for f in glob.glob(src + "/*.parquet")
    )
    obs = Observation()
    # Target an EIGHTH of the landing-zone bytes (floor 2 MB): the writer
    # stays PARALLEL, matching production
    # shape where a 128 MB-target compaction of a real landing zone writes
    # many files concurrently — a single-file target serializes the whole
    # job through one task (the coalesce(1) pitfall), which no one runs at
    # scale.  Scaling with the source keeps the 32 -> ~8-or-fewer file
    # drop (and the ``compacted`` assertion) true at ANY sf — a fixed
    # 2 MB target stops compacting once the landing zone passes 64 MB.
    written = IO.compact(
        spark,
        src,
        dst,
        target_file_bytes=max(1 << 21, src_bytes // 8),
        row_group_bytes=1 << 20,
        observation=obs,
        observed=[F.count(F.lit(1)).alias("cnt")],
    )
    m = obs.get
    back = IO.read(spark, dst)
    # driver-side parquet-footer row count: zero Spark jobs
    from shuttle_spark.catalog import source_rows

    back_cnt = source_rows(dst)
    # The reported checksum IS the full decode-path read-back of the
    # OUTPUT — the driver's hash-compare against the source-table oracle
    # then verifies disk content end-to-end (encode + decode) directly.
    # md5 is computed ONCE (here); the write job carries only the row
    # count (the observe pattern, without double-hashing every row).
    checksum = _readback_checksum(back, F.col("k").cast("string"))
    return spark.createDataFrame(
        [
            (
                int(m["cnt"]),
                int(checksum),
                bool(written < n_src and back_cnt == int(m["cnt"])),
            )
        ],
        "cnt bigint, checksum bigint, compacted boolean",
    )


@contract(
    "lineage_audit",
    "SELECT COUNT(*) AS cnt, CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,"
    " TRUE AS stale_on_disk, TRUE AS pruned, TRUE AS provenance_ok"
    " FROM lineitem WHERE l_partkey % 10 = 0",
    "B23",
    "sink",
)
def q_lineage_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Attempt-lineage audit columns (VERDICT r3 item 4; A15/A34 twin of
    ShuffleIndex.java:32-37 + Ors2Util.scala:54-87): a stale attempt 0
    (half the rows, keys zeroed — a zombie speculative write) and a
    committed attempt 1 land side-by-side under _app_attempt=N/ Hive
    partitions; read_latest must return EXACTLY the committed attempt's
    rows (the values gate vs the source-table oracle), with the
    stale-attempt filter applied as plan-time partition pruning
    (``pruned``: PartitionFilters on _app_attempt in the scan node — the
    stale directory is never scanned) and per-row ``_source_file``
    provenance from parquet _metadata (``provenance_ok``).
    ``stale_on_disk`` pins that attempt 0 genuinely survives on disk, so
    the filter is doing real work.  The two-attempt table is a MEMOIZED
    FIXTURE (deterministic from the source, ``cache.staged_dir``): what
    the contract tests — and what the warm path measures — is
    attempt DISCOVERY + plan-time pruning + the provenance read, the
    per-query cost of a lineage-audited corpus; the write_attempt path
    itself is exercised on the cold build and in
    tests/test_fault_injection.py."""
    from shuttle_spark.operators import lineage as L

    li = (
        load_table(spark, sf, "lineitem")
        .filter(F.col("l_partkey") % 10 == 0)
        .select("l_orderkey", "l_partkey")
    )

    def build(d: str) -> None:
        # stale attempt: a zombie wrote half the rows with mangled keys
        L.write_attempt(
            li.filter(F.col("l_orderkey") % 2 == 0).withColumn(
                "l_orderkey", F.lit(0).cast("long")
            ),
            d + "/table",
            app_attempt=0,
        )
        L.write_attempt(li, d + "/table", app_attempt=1, write_version=1)

    out = staged_dir(spark, li, params=("lineage",), build=build) + "/table"
    back = L.read_latest(spark, out)
    plan = back._jdf.queryExecution().executedPlan().toString()
    pruned = "PartitionFilters: [" in plan and "(_app_attempt" in plan
    stale_on_disk = L.attempts(spark, out) == [0, 1]
    return (
        back.agg(
            F.count("*").alias("cnt"),
            F.sum("l_orderkey").cast("bigint").alias("sum_key"),
            F.count("_source_file").alias("__prov"),
        )
        .select(
            "cnt",
            "sum_key",
            F.lit(bool(stale_on_disk)).alias("stale_on_disk"),
            F.lit(bool(pruned)).alias("pruned"),
            (F.col("__prov") == F.col("cnt")).alias("provenance_ok"),
        )
    )


@property_contract("freq_items_ok", ("ok", "nonempty"), "B22")
def q_freq_items(spark: SparkSession, sf: str) -> tuple:
    """Approximate frequent-items sketch (Karp-Papadimitriou-Shenker via
    DataFrame.stat.freqItems): guaranteed to CONTAIN every item with
    frequency above the support threshold (false positives allowed, no
    false negatives).  Property: the exact heavy hitters of
    o_orderpriority at support 0.1 are all present in the sketch result."""
    orders = load_table(spark, sf, "orders")
    # one grouped count gives both the total and the heavy hitters (one
    # job instead of a count job + a filtered-collect job, guide §1.2)
    by_prio = {
        r.o_orderpriority: r["count"]
        for r in orders.groupBy("o_orderpriority").count().collect()
    }
    n = sum(by_prio.values())
    exact = {k for k, c in by_prio.items() if c > 0.1 * n}
    sketch = set(
        orders.stat.freqItems(["o_orderpriority"], support=0.1).collect()[0][0]
    )
    return exact <= sketch, len(exact) > 0


@property_contract("stratified_sample_ok", ("ok", "deterministic"), "ext")
def q_stratified_sample(spark: SparkSession, sf: str) -> tuple:
    """Stratified sampling (sampleBy): per-stratum fractions, seeded.
    Property: each stratum's sampled count is within 4 sigma of its
    binomial expectation, and the same seed reproduces the identical row
    set (determinism is what makes seeded samples safe to join against)."""
    li = load_table(spark, sf, "lineitem")
    fracs = {"A": 0.2, "N": 0.05, "R": 0.1}
    s1 = li.sampleBy("l_returnflag", fractions=fracs, seed=7)
    # sampled and total per-stratum counts ride ONE tagged union job
    # (two independent aggregate subtrees scheduled concurrently inside
    # it) instead of two sequential collect jobs (guide §1.2)
    got: dict[str, int] = {}
    totals: dict[str, int] = {}
    for r in (
        s1.groupBy("l_returnflag").agg(F.count("*").alias("cnt"))
        .withColumn("src", F.lit("s"))
        .unionByName(
            li.groupBy("l_returnflag").agg(F.count("*").alias("cnt"))
            .withColumn("src", F.lit("t"))
        )
        .collect()
    ):
        (got if r.src == "s" else totals)[r.l_returnflag] = r.cnt
    ok = True
    for k, f in fracs.items():
        n = totals[k]
        mu, sigma = n * f, (n * f * (1 - f)) ** 0.5
        ok = ok and abs(got.get(k, 0) - mu) <= 4 * sigma
    same = (
        s1.select("l_orderkey", "l_linenumber")
        .exceptAll(
            li.sampleBy("l_returnflag", fractions=fracs, seed=7).select(
                "l_orderkey", "l_linenumber"
            )
        )
        .count()
        == 0
    )
    return ok, same


@contract(
    "chunk_text_stats",
    "WITH norm AS (SELECT doc_id, TRIM(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) t"
    "  FROM documents),"
    " toks AS (SELECT doc_id, STRING_SPLIT(TRIM(t), ' ') w FROM norm),"
    " chunks AS (SELECT doc_id,"
    "   array_to_string(w[i.s::BIGINT + 1 : i.s::BIGINT + 32], ' ') AS chunk"
    "  FROM toks, LATERAL (SELECT UNNEST(RANGE(0, GREATEST(LEN(w), 1), 16))"
    "   AS s) i)"
    " SELECT COUNT(*) AS n_chunks,"
    "  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,"
    "  CAST(SUM(LEN(STRING_SPLIT(chunk, ' '))) AS BIGINT) AS sum_tokens"
    " FROM chunks",
    "B30",
)
def q_chunk_text_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token-window chunking (LLM training-data prep): 32-token windows
    every 16 tokens per document, exploded and aggregated — chunk count,
    docs covered, and total tokens emitted.  Oracle rebuilds the identical
    windowing with RANGE + list slicing."""
    docs = load_table(spark, sf, "documents")
    chunks = docs.select(
        "doc_id",
        F.explode(TX.token_chunks(F.col("text"), 32, 16)).alias("chunk"),
    )
    return chunks.agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum(F.size(F.split(F.col("chunk"), " "))).cast("long").alias(
            "sum_tokens"
        ),
    )


_mm_feats_cache = DFCache(max_size=2, storage_level="MEMORY_AND_DISK")


def _multimodal_feats(spark: SparkSession, sf: str) -> DataFrame:
    """The featurized media relation, session-staged (gram-cache
    discipline): a feature table is the durable OUTPUT of a media
    pipeline — computed once, then served to every ANN probe — so the
    cold run pays synthesize + decode + featurize (two mapInPandas
    stages) and warm probes read the persisted features."""
    from shuttle_spark.operators import multimodal as M

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 500)
    return _mm_feats_cache.cached(cache_key(docs), lambda: M.extract_features(
        M.synthesize_media(docs, width=16, height=16), dim=16
    ))


def _multimodal_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The multimodal pipeline end-to-end (the featurizer is the
    documented deterministic stub — no media libs in this container — but
    every Spark-side stage is production-shaped): synthesize binary
    payloads + metadata structs, decode+featurize via Arrow
    ``mapInPandas`` (no shuffle of payloads), then bridge into the ANN
    operator for a cosine top-10 over the feature embeddings.  The
    feature relation is session-staged (_multimodal_feats).  Exercised
    and equality-gated inside multimodal_expected_ok."""
    feats = _multimodal_feats(spark, sf)
    q = feats.filter(F.col("media_id") == 0).head()
    out = S.brute_force_topk(
        feats, [float(x) for x in q[1]], 10, id_col="media_id"
    )
    return out.select("media_id", F.round("sim", 6).alias("sim"))


@property_contract(
    "multimodal_expected_ok", ("ok", "nonempty"), "multimodal"
)
def q_multimodal_expected(spark: SparkSession, sf: str) -> tuple:
    """Equality gate for the multimodal featurize+top-k pipeline
    (_multimodal_topk): the synthetic payloads are seeded and
    deterministic (sha256-CTR of the media id), so the ENTIRE pipeline —
    payload synthesis, decode, channel-histogram featurization, cosine
    top-10 — is replayed driver-side in plain numpy from the id list
    alone, and the Spark pipeline's answer must match it exactly (same
    top-10 id set, sims within float32 tolerance).  The byte-level
    replay is independent of every Spark code path it checks."""
    import numpy as _np

    from shuttle_spark.operators import multimodal as M
    from shuttle_spark.operators.multimodal import _fake_payload

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 500)
    ids = [r[0] for r in docs.select("doc_id").collect()]
    w = h = 16
    dim = 16

    def feat(i: int) -> _np.ndarray:
        img = _np.frombuffer(
            _fake_payload(int(i).to_bytes(8, "little"), w * h * 3),
            dtype=_np.uint8,
        ).reshape(h, w, 3)
        bins = dim // 3 + (dim % 3 > 0)
        feats: list[float] = []
        for c in range(3):
            hist, _ = _np.histogram(img[:, :, c], bins=bins, range=(0, 256))
            feats.extend(hist.tolist())
        v = _np.asarray(feats[:dim], dtype=_np.float64)
        return (v / (_np.linalg.norm(v) or 1.0)).astype(_np.float32)

    mat = _np.stack([feat(i) for i in ids]).astype(_np.float64)
    qv = feat(0).astype(_np.float64)
    sims = mat @ qv / (
        _np.linalg.norm(mat, axis=1) * (_np.linalg.norm(qv) or 1.0)
    )
    order = _np.argsort(-sims, kind="stable")[:10]
    expected = {int(ids[j]): float(sims[j]) for j in order}

    got_rows = _multimodal_topk(spark, sf).collect()
    got = {int(r["media_id"]): float(r["sim"]) for r in got_rows}
    ok = set(got) == set(expected) and all(
        abs(got[i] - expected[i]) < 1e-5 for i in got
    )
    return ok, len(got) == 10


# ===========================================================================
# B24-B25: time windows + sessionization (batch equivalents; streaming twins
# live in shuttle_spark/streaming and must equal these — tests enforce it)
# ===========================================================================

@contract(
    "time_window_agg",
    "SELECT DATE_TRUNC('hour', ts::TIMESTAMP) AS w, event_type,"
    " COUNT(*) AS cnt, " + _osum("value", "sum_value", 4)
    + " FROM events GROUP BY w, event_type",
    "B24",
)
def q_time_window(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 1h event-time window (B24), batch form."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("cnt"), dsum("value", "sum_value", 4))
        .select(F.col("win.start").alias("w"), "event_type", "cnt", "sum_value")
    )


@contract(
    "sessionize",
    "SELECT user_id, CAST(COUNT(DISTINCT sess) AS BIGINT) AS n_sessions,"
    " COUNT(*) AS n_events FROM ("
    "  SELECT user_id, SUM(is_new) OVER (PARTITION BY user_id ORDER BY"
    "   ts::TIMESTAMP, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT"
    "   ROW) AS sess FROM ("
    "   SELECT user_id, ts, event_id, CASE WHEN"
    "    LAG(ts::TIMESTAMP) OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP,"
    "    event_id) IS NULL OR ts::TIMESTAMP - LAG(ts::TIMESTAMP)"
    "    OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id) >"
    "    INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new FROM events)"
    " ) GROUP BY user_id",
    "B25",
)
def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (B25): 30-minute inactivity closes a session.
    Uses Spark's native session_window; the oracle rebuilds the identical
    gap semantics with lag+cumsum.  Boundary rule (pinned by
    tests/test_operators.py::test_session_gap_boundary_exact_30min): session
    windows merge when the next event is <= previous end, so a new session
    starts iff gap is STRICTLY greater than 30 min."""
    ev = load_table(spark, sf, "events")
    per_session = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("sw")
    ).agg(F.count("*").alias("n"))
    return per_session.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("n").alias("n_events"),
    )


# ===========================================================================
# B26-B27, B30: pandas UDF + text analysis + exact dedup
# ===========================================================================

@contract(
    "pandas_udf_bucket",
    "SELECT CAST(n_chars % 7 AS BIGINT) AS bucket, COUNT(*) AS cnt"
    " FROM documents GROUP BY bucket",
    "B26",
)
def q_pandas_udf_bucket(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-batched pandas UDF (B26) — the approved Python slow path; the
    oracle computes the same bucketing in plain SQL."""

    @F.pandas_udf(T.LongType())
    def bucket7(n: pd.Series) -> pd.Series:
        return n % 7

    docs = load_table(spark, sf, "documents")
    return docs.groupBy(bucket7("n_chars").alias("bucket")).agg(
        F.count("*").alias("cnt")
    )


@contract(
    "grouped_agg_trimmed_mean",
    "WITH ranked AS (SELECT o_orderpriority, o_totalprice,"
    " ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)"
    "  AS rn,"
    " COUNT(*) OVER (PARTITION BY o_orderpriority) AS n FROM orders)"
    " SELECT o_orderpriority,"
    " ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
    "  / COUNT(*), 6) AS trimmed_mean"
    " FROM ranked WHERE rn > CAST(FLOOR(n * 0.1) AS BIGINT)"
    "  AND rn <= n - CAST(FLOOR(n * 0.1) AS BIGINT)"
    " GROUP BY o_orderpriority",
    "B26",
)
def q_grouped_agg_trimmed_mean(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-agg pandas UDF (B26 second half): 10%-trimmed mean of
    o_totalprice per order priority — a custom aggregator Spark's built-ins
    cannot express (order statistics + conditional sum in one pass).  This
    is the engine twin of the reference's user-combiner merge
    (Ors2ExternalSorter.scala:94-107: map-side createCombiner/mergeValue of
    arbitrary user functions); here the whole group is shuffled to one
    Arrow batch and reduced by a vectorized numpy kernel.

    Cross-engine float discipline: the trimmed sum accumulates in exact
    integer cents (o_totalprice is a 2-decimal value), division happens in
    double in BOTH engines, rounding via F.round (not Python's half-even
    round).  The trim count floor(n*0.1) is computed with the same IEEE
    double multiply on both sides.

    Scale note: GROUPED_AGG has no partial aggregation — each group
    materializes on one executor.  Fine for bounded-cardinality groups
    (here: 5 priorities); for high-cardinality keys use a two-level
    salted pre-agg or a sketch, as in salted_agg_invariance."""
    import numpy as np

    @F.pandas_udf("double")
    def trimmed_mean_cents(v: pd.Series) -> float:
        x = np.sort(v.to_numpy(dtype=np.float64))
        k = int(len(x) * 0.1)
        kept = x[k : len(x) - k]
        cents = np.rint(kept * 100).astype(np.int64)
        return (float(cents.sum()) / 100.0) / len(kept)

    orders = load_table(spark, sf, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(trimmed_mean_cents(F.col("o_totalprice")), 6).alias(
            "trimmed_mean"
        )
    )


_NORM_SQL = "TRIM(LOWER(REGEXP_REPLACE({col}, '\\s+', ' ', 'g')))"


@contract(
    "exact_dedup_docs",
    "SELECT CAST(COUNT(DISTINCT md5(" + _NORM_SQL.format(col="text") + "))"
    " AS BIGINT) AS n_distinct, COUNT(*) AS n_total FROM documents",
    "B27",
)
def q_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup on normalized-content hash (B27)."""
    docs = load_table(spark, sf, "documents")
    return docs.agg(
        F.countDistinct(D.normalized_text_key(F.col("text"))).alias("n_distinct"),
        F.count("*").alias("n_total"),
    )


@contract(
    "text_stats",
    "SELECT lang, COUNT(*) AS cnt, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,"
    " ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars"
    " FROM documents GROUP BY lang",
    "B30",
)
def q_text_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("cnt"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.round(F.sum("n_chars").cast("double") / F.count("*"), 6).alias("avg_chars"),
    )


@contract(
    "token_count_agg",
    "SELECT CAST(LEAST(CASE WHEN LENGTH(TRIM(" + _NORM_SQL.format(col="text") + ")) = 0"
    " THEN 0 ELSE LEN(STRING_SPLIT(TRIM(" + _NORM_SQL.format(col="text") + "), ' '))"
    " END // 10, 12) AS BIGINT) AS tc_bucket, COUNT(*) AS cnt"
    " FROM documents GROUP BY tc_bucket",
    "B30",
)
def q_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Whitespace token counts bucketed by tens (B30)."""
    docs = load_table(spark, sf, "documents")
    bucket = F.least(
        (TX.token_count(F.col("text")) / 10).cast("long"), F.lit(12)
    ).alias("tc_bucket")
    return docs.groupBy(bucket).agg(F.count("*").alias("cnt"))


# ===========================================================================
# B29: similarity search
# ===========================================================================

@contract(
    "topk_cosine",
    "SELECT vec_id, ROUND(sim_raw, 6) AS sim FROM"
    " (SELECT vec_id, list_cosine_similarity(CAST(embedding AS DOUBLE[]),"
    "   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))"
    "  AS sim_raw FROM embeddings)"
    " ORDER BY sim_raw DESC, vec_id LIMIT 11",
    "B29",
)
def q_topk_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k (B29): scan -> map-side score ->
    TakeOrderedAndProject; zero shuffle of the corpus."""
    emb = load_table(spark, sf, "embeddings")
    qv = query_vector(spark, sf, 0)
    out = S.brute_force_topk(emb, qv, 11)
    return out.select("vec_id", F.round("sim", 6).alias("sim")).orderBy(
        F.desc("sim"), "vec_id"
    )


# ===========================================================================
# B28: near-duplicate dedup (exact n-gram Jaccard + MinHash LSH + SimHash)
# ===========================================================================

_NGRAM_ORACLE_BODY = """
WITH norm AS (SELECT doc_id, TRIM(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) t FROM documents),
toks AS (SELECT doc_id, STRING_SPLIT(TRIM(t), ' ') w FROM norm),
grams AS (
  SELECT DISTINCT doc_id, w[i.i::BIGINT] || ' ' || w[i.i::BIGINT+1] || ' ' || w[i.i::BIGINT+2] AS g
  FROM toks, LATERAL (SELECT UNNEST(RANGE(1, GREATEST(LEN(w)-2, 0)+1)) AS i) i
),
sizes AS (SELECT doc_id, COUNT(*) n FROM grams GROUP BY doc_id),
shared AS (SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) inter FROM grams a
           JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
jac AS (SELECT id_a, id_b,
          ROUND(inter::DOUBLE / (sa.n + sb.n - inter), 6) AS jac
        FROM shared JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id)
"""


@contract(
    "ngram_jaccard_pairs",
    _NGRAM_ORACLE_BODY + "SELECT id_a, id_b, jac FROM jac WHERE jac >= 0.6",
    "B28",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact word-3gram Jaccard near-dup pairs (B28), via inverted-index
    equi-join — the scalable exact algorithm (one hash shuffle on the gram,
    one on the pair); oracle recomputes brute-force in SQL."""
    docs = load_table(spark, sf, "documents")
    return N.near_dup_pairs_exact(docs, 0.6, n=3)


@contract(
    "ngram_jaccard_prefix",
    _NGRAM_ORACLE_BODY + "SELECT id_a, id_b, jac FROM jac WHERE jac >= 0.6",
    "B28",
    "llm",
)
def q_ngram_jaccard_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """Prefix-filtered exact Jaccard join (neardup.near_dup_pairs_prefix,
    the PPJoin-family pruning): the inverted index holds only each doc's
    ng - ceil(tau*ng) + 1 rarest grams, yet the output is EXACTLY the
    full-index algorithm's (same brute-force oracle as
    ngram_jaccard_pairs) — the prefix theorem guarantees candidate
    completeness and the join-local array_intersect verify is exact.
    At high tau the candidate fan-out drops by orders of magnitude and
    ubiquitous grams never enter the index (the O(f^2) hazard), with
    zero recall cost."""
    docs = load_table(spark, sf, "documents")
    return N.near_dup_pairs_prefix(docs, 0.6, n=3)


def _must_replace(sql: str, old: str, new: str) -> str:
    """str.replace that REFUSES to no-op: oracle variants are derived by
    textual substitution on _NGRAM_ORACLE_BODY, and a silent no-match
    (after any wording/whitespace edit to the base) would leave the
    UNMODIFIED oracle gating the wrong contract — a confusing data
    mismatch far from its cause."""
    out = sql.replace(old, new)
    if out == sql:
        raise ValueError(f"oracle fragment not found for substitution: {old!r:.80}")
    return out


@contract(
    "ngram_jaccard_maxdf",
    _must_replace(
        _NGRAM_ORACLE_BODY,
        "shared AS (SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) inter FROM grams a\n"
        "           JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),",
        "dfreq AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),\n"
        "kept AS (SELECT doc_id, grams.g FROM grams JOIN dfreq USING (g)"
        " WHERE df <= 3),\n"
        "shared AS (SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) inter FROM kept a\n"
        "           JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),",
    )
    + "SELECT id_a, id_b, jac FROM jac WHERE jac >= 0.6",
    "B28",
)
def q_ngram_jaccard_maxdf(spark: SparkSession, sf: str) -> DataFrame:
    """The ``max_df`` stop-gram path of near_dup_pairs_exact under the
    oracle gate (VERDICT r3 item 9) — the switch a 100 TB user actually
    runs with, since it bounds the O(f²) pair expansion of ubiquitous
    grams.  Semantics pinned exactly: grams present in more than max_df
    documents are dropped from the inverted index BEFORE pair counting,
    while the Jaccard denominator keeps the FULL per-document gram-set
    sizes (so the score is a lower bound of true Jaccard, never an
    overestimate).  max_df=3 at contract SF genuinely drops grams (df
    distribution tops out at 7 here), so the filtered result differs from
    ngram_jaccard_pairs and the oracle reproduces the df-filter in SQL."""
    docs = load_table(spark, sf, "documents")
    return N.near_dup_pairs_exact(docs, 0.6, n=3, max_df=3)


@contract(
    "near_dup_dedup_count",
    _NGRAM_ORACLE_BODY
    + "SELECT COUNT(*) AS cnt FROM documents WHERE doc_id NOT IN"
    " (SELECT id_b FROM jac WHERE jac >= 0.6)",
    "B28",
)
def q_near_dup_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup dedup survivors (smallest doc_id of a dup pair wins — the
    'first block seen' witness policy of the reference's read-side dedup)."""
    docs = load_table(spark, sf, "documents")
    return N.near_dup_dedup(docs, 0.6, n=3).agg(F.count("*").alias("cnt"))


# Transitive-closure oracle over the exact-Jaccard pairs: DuckDB recursive
# CTE (brute-force union-find equivalent — fine at contract SF; the engine
# side is the O(log n) large-star/small-star DataFrame iteration).
_CLUSTER_ORACLE_BODY = _must_replace(
    _NGRAM_ORACLE_BODY, "WITH norm", "WITH RECURSIVE norm"
) + (
    ", e AS (SELECT id_a AS a, id_b AS b FROM jac WHERE jac >= 0.6),"
    " und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),"
    " paths(src, dst) AS ("
    "  SELECT a, b FROM und"
    "  UNION"
    "  SELECT p.src, u.b FROM paths p JOIN und u ON p.dst = u.a),"
    " compmap AS (SELECT src AS node, LEAST(src, MIN(dst)) AS comp"
    "  FROM paths GROUP BY src)"
)


@contract(
    "near_dup_clusters",
    _CLUSTER_ORACLE_BODY + " SELECT node, comp FROM compmap",
    "B28",
)
def q_near_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive near-dup clustering (B28 closure): connected components
    over the exact Jaccard>=0.6 pairs via alternating large-star/small-star
    DataFrame joins; the oracle recomputes the closure with a recursive CTE.
    Checked per-node (node -> component-min label), not just counts."""
    docs = load_table(spark, sf, "documents")
    pairs = N.near_dup_pairs_exact(docs, 0.6, n=3)
    return CC.connected_components(pairs)


@contract(
    "cluster_dedup_count",
    _CLUSTER_ORACLE_BODY
    + " SELECT COUNT(*) AS cnt FROM documents WHERE doc_id NOT IN"
    " (SELECT node FROM compmap WHERE node <> comp)",
    "B28",
)
def q_cluster_dedup_count(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-level dedup survivors: one representative (smallest doc_id)
    per near-dup component plus all unclustered docs — the corpus a
    training pipeline actually keeps (pairwise near_dup_dedup_count keeps
    a doc whose only dup-partner was itself deduped; this closes that)."""
    docs = load_table(spark, sf, "documents")
    pairs = N.near_dup_pairs_exact(docs, 0.6, n=3)
    return CC.cluster_dedup(docs, pairs).agg(F.count("*").alias("cnt"))


@contract(
    "cluster_keep_best",
    _CLUSTER_ORACLE_BODY
    + ", scored AS (SELECT c.comp, c.node, d.n_chars FROM compmap c"
    "   JOIN documents d ON d.doc_id = c.node),"
    " best AS (SELECT comp, MAX(n_chars) AS m FROM scored GROUP BY comp),"
    " winners AS (SELECT MIN(s.node) AS doc_id FROM scored s"
    "   JOIN best b ON s.comp = b.comp AND s.n_chars = b.m GROUP BY s.comp)"
    " SELECT doc_id, n_chars FROM documents"
    " WHERE doc_id IN (SELECT doc_id FROM winners)"
    "  OR doc_id NOT IN (SELECT node FROM compmap)",
    "B28",
)
def q_cluster_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-best-duplicate (B28 closure + policy): per near-dup cluster
    keep the LONGEST member (n_chars, ties to smallest doc_id) instead of
    the smallest-id witness — the retention policy production dedup
    actually uses (the best-quality duplicate survives).  The oracle
    recomputes the closure with a recursive CTE and the argmax in SQL;
    the engine runs components + one max_by aggregate + anti/semi joins."""
    docs = load_table(spark, sf, "documents")
    pairs = N.near_dup_pairs_exact(docs, 0.6, n=3)
    return CC.cluster_keep_best(docs, pairs, "n_chars").select(
        "doc_id", "n_chars"
    )


@contract(
    "incremental_near_dup",
    _must_replace(
        _NGRAM_ORACLE_BODY,
        "shared AS (SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) inter FROM grams a\n"
        "           JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)",
        "shared AS (SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) inter FROM grams a"
        " JOIN grams b ON a.g = b.g AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0"
        " GROUP BY 1, 2)",
    )
    + "SELECT id_a AS id_new, id_b AS id_corpus, jac FROM jac WHERE jac >= 0.6",
    "B28",
)
def q_incremental_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup join (B28, daily-ingest shape): near-dup pairs
    between a NEW batch (odd doc_ids) and the EXISTING corpus (even
    doc_ids) only — no corpus x corpus candidate work; the corpus inverted
    index is the staged relation a pipeline keeps warm between batches."""
    docs = load_table(spark, sf, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    return N.near_dup_pairs_between(new, corpus, 0.6, n=3)


@property_contract("minhash_replay_equal", ("ok", "nonempty"), "B28")
def q_minhash_replay(spark: SparkSession, sf: str) -> tuple:
    """MinHash(128)+LSH(32x4) near-dup pairs under a REPLAY-EQUALITY
    oracle.  The pipeline is xxhash64-based, so no SQL
    twin exists — instead the ENTIRE candidate derivation (normalize ->
    3-gram shingles -> xxhash64 mod P31 -> 128 affine permutation mins ->
    per-band xxhash64 band keys -> band-bucket pairs -> exact-Jaccard
    verify at tau=0.6) is replayed driver-side in pure Python/numpy on a
    bounded sample, using functions.xxh — a from-the-spec xxHash64
    re-implementation pinned bit-equal to ``F.xxhash64`` — and the Spark
    operator's full pair set must match it EXACTLY (same pairs, jaccard
    within rounding tolerance).  Complements minhash_recall_ok, which
    bounds recall vs exact pairs; this checks the implementation itself,
    including the band-key fold and permutation arithmetic."""
    import re as _re

    from shuttle_spark.functions import xxh

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 1500)
    got = {
        (r["id_a"], r["id_b"]): r["jac"]
        for r in N.minhash_near_dup_pairs(docs, 0.6).collect()
    }
    rows = docs.select("doc_id", "text").collect()
    av, bv = N._perm_coeffs(128)
    a_arr = np.asarray(av, dtype=np.int64)[:, None]
    b_arr = np.asarray(bv, dtype=np.int64)[:, None]
    bands, rpb = 32, 4
    gram_py: dict[int, set] = {}
    band_map: dict[tuple, list] = {}
    for r in rows:
        norm = _re.sub(r"\s+", " ", r["text"]).strip().lower()
        toks = norm.split(" ")
        if len(toks) < 3:
            continue  # gramless docs post nothing (operator parity)
        grams = list(
            dict.fromkeys(
                " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)
            )
        )
        gram_py[r["doc_id"]] = set(grams)
        h = np.asarray(
            [xxh.hash_str(g) % N._P31 for g in grams], dtype=np.int64
        )
        sig = ((a_arr * h[None, :] + b_arr) % N._P31).min(axis=1)
        for j in range(bands):
            key = (j, xxh.band_key(sig[j * rpb:(j + 1) * rpb].tolist(), j))
            band_map.setdefault(key, []).append(r["doc_id"])
    exp: dict[tuple, float] = {}
    seen: set[tuple] = set()
    for ids in band_map.values():
        ids = sorted(set(ids))
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                p = (ids[x], ids[y])
                if p in seen:
                    continue
                seen.add(p)
                ga, gb = gram_py[p[0]], gram_py[p[1]]
                inter = len(ga & gb)
                jac = inter / (len(ga) + len(gb) - inter)
                if jac >= 0.6:
                    exp[p] = jac
    ok = set(got) == set(exp) and all(
        abs(got[p] - exp[p]) < 5e-7 for p in got
    )
    return ok, len(exp) > 0


@property_contract("minhash_recall_ok", ("ok", "nonempty"), "B28")
def q_minhash_recall(spark: SparkSession, sf: str) -> tuple:
    """Property contract: LSH candidates recover >= 90% of the exact
    Jaccard>=0.6 pairs (with 128 perms / 32 bands the miss probability at
    j=0.6 is ~(1-0.6^4)^32 ≈ 1%).  Hash-checkable as booleans.  The property
    is measured on a bounded 2000-doc sample: recall is a per-pair
    probability, independent of corpus size, so the sample bounds the O(n²)
    exact-side cost without weakening the check."""
    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 2000)
    exact_n, mh_n = _tagged_counts(
        exact=N.near_dup_pairs_exact(docs, 0.6, n=3),
        mh=N.minhash_near_dup_pairs(docs, 0.6),
    )
    return exact_n == 0 or mh_n / exact_n >= 0.9, exact_n > 0


@property_contract("simhash_replay_equal", ("ok", "nonempty"), "B28")
def q_simhash_replay(spark: SparkSession, sf: str) -> tuple:
    """SimHash(63-bit, hamming<=3, 4-chunk blocking) under a
    REPLAY-EQUALITY oracle.  h=3 is the scale-sane operating point — chunk
    width is ~63/(h+1) bits, so larger h collapses the blocking key space
    and the candidate join blows up quadratically (measured 3.4x wall at
    sf0.1 for h=8 vs h=3).  The fingerprint is xxhash64-based, so no SQL
    twin — instead the full derivation (normalize -> distinct tokens ->
    xxhash64 per token via functions.xxh -> 63-bit majority vote ->
    brute-force hamming<=3 pairs) is replayed driver-side in numpy on a
    bounded sample and the Spark operator's (id_a, id_b, hamming) set
    must EQUAL it — integer-exact, no tolerance.  Complements
    simhash_recall_ok (pigeonhole completeness of the chunk blocking);
    this checks the fingerprint arithmetic itself."""
    import re as _re

    from shuttle_spark.functions import xxh

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 1500)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in N.simhash_near_dup_pairs(docs, max_hamming=3).collect()
    }
    rows = docs.select("doc_id", "text").collect()
    pows = np.asarray(N._POWS, dtype=np.int64)
    fps: dict[int, int] = {}
    for r in rows:
        if r["text"] is None:
            continue
        norm = _re.sub(r"\s+", " ", r["text"]).strip().lower()
        toks = list(dict.fromkeys(norm.split(" ")))
        hs = np.asarray([xxh.hash_str(t) for t in toks], dtype=np.int64)
        bits = (hs[:, None] & pows[None, :]) != 0
        votes = bits.sum(axis=0) * 2 - hs.size
        fps[r["doc_id"]] = int(pows[votes >= 0].sum())
    ids = sorted(fps)
    arr = np.asarray([fps[i] for i in ids], dtype=np.uint64)
    exp: dict[tuple, int] = {}
    for x in range(len(ids)):
        xo = arr[x] ^ arr[x + 1:]
        pc = np.unpackbits(xo[:, None].view(np.uint8), axis=1).sum(axis=1)
        for off in np.nonzero(pc <= 3)[0]:
            exp[(ids[x], ids[int(x) + 1 + int(off)])] = int(pc[off])
    return got == exp, len(exp) > 0


@property_contract("simhash_recall_ok", ("ok", "nonempty"), "B28")
def q_simhash_recall(spark: SparkSession, sf: str) -> tuple:
    """Property contract: chunk-blocked SimHash pairs EQUAL the brute-force
    hamming<=3 self-join on a bounded 2000-doc sample (recall is exactly 1.0
    by pigeonhole — h+1 chunks cannot all differ at hamming <= h), so the
    check is equality, not a recall floor.  The same equality holds for any
    h (verified at h=8 in tests/test_operators.py); the contract pins the
    h=3 operating point of simhash_replay_equal."""
    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 2000)
    sh = docs.select(
        F.col("doc_id").alias("id"), N.simhash(F.col("text")).alias("sh")
    ).persist()
    a, b = sh.alias("a"), sh.alias("b")
    # sh stays persisted across both counted pipelines
    exact_n, got_n = _tagged_counts(
        exact=a.join(b, F.col("a.id") < F.col("b.id")).filter(
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))) <= 3
        ),
        got=N.simhash_near_dup_pairs(docs, max_hamming=3),
    )
    sh.unpersist()
    return got_n == exact_n, exact_n > 0


@contract(
    "cosine_near_dup_pairs",
    "SELECT id_a, id_b, sim FROM ("
    " SELECT a.vec_id AS id_a, b.vec_id AS id_b,"
    "  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
    "   CAST(b.embedding AS DOUBLE[])), 6) AS sim"
    " FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id"
    ") WHERE sim >= 0.4",
    "B28",
)
def q_cosine_near_dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (B28's vector-space member), exact
    path: self-join + double-precision cosine, thresholded on the rounded
    value in both engines.  The LSH path is contracted separately as a
    recall property (cosine_lsh_recall_ok)."""
    emb = load_table(spark, sf, "embeddings")
    # emit at 0.39 raw, gate at 0.4 rounded: every rounded>=0.4 pair has
    # raw >= 0.3999995 > 0.39, so the pre-filter loses nothing.
    out = S.cosine_near_dup_pairs(emb, dim=64, threshold=0.39, exact=True)
    return out.select(
        "id_a", "id_b", F.round("sim", 6).alias("sim")
    ).filter(F.col("sim") >= 0.4)


@property_contract("cosine_lsh_recall_ok", ("ok", "nonempty"), "B28")
def q_cosine_lsh_recall(spark: SparkSession, sf: str) -> tuple:
    """Property contract: sign-LSH (64 planes x 16 bands) candidates recover
    >= 80% of exact cosine>=0.4 pairs (expected ~94%: p=1-theta/pi=0.63 at
    cos 0.4, band hit p^4, 1-(1-p^4)^16).  At scale, more bits per band
    trades recall for candidate-set size.  Measured on a bounded 500-vector
    sample: recall is a per-pair probability, so the sample bounds the O(n²)
    exact-side cost without weakening the property."""
    emb = load_table(spark, sf, "embeddings").filter(F.col("vec_id") < 500)
    def above(pairs: DataFrame) -> DataFrame:
        return pairs.select(F.round("sim", 6).alias("sim")).filter(
            F.col("sim") >= 0.4
        )

    exact_n, lsh_n = _tagged_counts(
        exact=above(
            S.cosine_near_dup_pairs(emb, dim=64, threshold=0.39, exact=True)
        ),
        lsh=above(
            S.cosine_near_dup_pairs(
                emb, dim=64, threshold=0.39, n_planes=64, bands=16
            )
        ),
    )
    return exact_n == 0 or lsh_n / exact_n >= 0.8, exact_n > 0


# ===========================================================================
# B29 extension: k-NN join
# ===========================================================================

@contract(
    "knn_join",
    "SELECT q_id, vec_id, sim FROM ("
    " SELECT q.vec_id AS q_id, c.vec_id AS vec_id,"
    "  ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),"
    "   CAST(q.embedding AS DOUBLE[])), 6) AS sim,"
    "  ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY"
    "   list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),"
    "   CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn"
    " FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND c.vec_id >= 20"
    ") WHERE rn <= 3",
    "B29",
)
def q_knn_join(spark: SparkSession, sf: str) -> DataFrame:
    """Exact k-NN join (B29): 20 broadcast query vectors x corpus, top-3
    per query — broadcast nested loop + one shuffle for the per-query
    window, the right plan when |queries| << |corpus|."""
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    corpus = emb.filter(F.col("vec_id") >= 20)
    out = S.knn_join_brute(corpus, queries, 3)
    return out.select("q_id", "vec_id", F.round("sim", 6).alias("sim"))


# ===========================================================================
# Extensions: range join, as-of join, pivot
# ===========================================================================

@contract(
    "range_join_bands",
    "SELECT band, COUNT(*) AS cnt FROM orders JOIN (VALUES"
    " ('low', 0.0, 100000.0), ('mid', 100000.0, 300000.0),"
    " ('high', 300000.0, 1e12)) b(band, lo, hi)"
    " ON o_totalprice >= lo AND o_totalprice < hi GROUP BY band",
    "ext",
)
def q_range_join_bands(spark: SparkSession, sf: str) -> DataFrame:
    """Range (band) join: value in [lo, hi) against a broadcast band table."""
    o = load_table(spark, sf, "orders")
    bands = spark.createDataFrame(
        [("low", 0.0, 1e5), ("mid", 1e5, 3e5), ("high", 3e5, 1e12)],
        "band string, lo double, hi double",
    )
    return (
        R.range_join(o, bands, F.col("o_totalprice"), F.col("lo"), F.col("hi"),
                     half_open=True)
        .groupBy("band")
        .agg(F.count("*").alias("cnt"))
    )


@contract(
    "as_of_join_events",
    "SELECT e.event_id, epoch_us((SELECT MAX(s.ts::TIMESTAMP) FROM events s"
    " WHERE s.user_id = e.user_id AND s.event_type = 'signup'"
    " AND s.ts::TIMESTAMP <= e.ts::TIMESTAMP)) AS s_ts_asof_us"
    " FROM events e WHERE e.event_type = 'purchase'",
    "ext",
)
def q_as_of_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each purchase event gets the most recent prior signup
    timestamp of the same user (union-window plan: one shuffle, one sort)."""
    ev = load_table(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("ts").alias("s_ts")
    )
    out = R.as_of_join(
        purchases, signups, ["user_id"], "ts", "ts", ["s_ts"], strict=False
    )
    return out.select(
        "event_id", F.unix_micros("s_ts_asof").alias("s_ts_asof_us")
    )


@contract(
    "events_pivot",
    "SELECT user_id,"
    " COUNT(*) FILTER (WHERE event_type = 'click') AS click,"
    " COUNT(*) FILTER (WHERE event_type = 'error') AS error,"
    " COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,"
    " COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,"
    " COUNT(*) FILTER (WHERE event_type = 'view') AS view"
    " FROM events GROUP BY user_id",
    "ext",
)
def q_events_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot with explicit values (single-pass plan, no discovery job)."""
    ev = load_table(spark, sf, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    piv = ev.groupBy("user_id").pivot("event_type", kinds).agg(F.count(F.lit(1)))
    return piv.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(k) for k in kinds]
    )


# ===========================================================================
# B30 second wave: language-ID heuristic, quality scores, fingerprints
# ===========================================================================

def _lang_score_sql(markers: list[str]) -> str:
    terms = [
        f"CAST((LENGTH(p) - LENGTH(REPLACE(p, '{m}', ''))) / {len(m)} AS BIGINT)"
        for m in markers
    ]
    return " + ".join(terms)


def _lang_id_oracle() -> str:
    from shuttle_spark.functions.text import LANG_MARKERS

    scores = ", ".join(
        f"({_lang_score_sql(ms)}) AS s_{lang}" for lang, ms in LANG_MARKERS.items()
    )
    langs_by_eval_order = sorted(LANG_MARKERS)  # de, en, es, fr
    best = "GREATEST(" + ", ".join(f"s_{la}" for la in sorted(LANG_MARKERS)) + ")"
    cases = " ".join(
        f"WHEN s_{la} = best AND best > 0 THEN '{la}'" for la in langs_by_eval_order
    )
    return (
        "SELECT lid, COUNT(*) AS cnt FROM ("
        f" SELECT CASE {cases} ELSE 'und' END AS lid FROM ("
        f"  SELECT {scores}, {best} AS best FROM ("
        "   SELECT ' ' || TRIM(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) || ' '"
        "   AS p FROM documents))) GROUP BY lid"
    )


@contract("lang_id_agg", _lang_id_oracle(), "B30")
def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-marker language ID (B30): the oracle re-derives the identical
    replace-based counting so both engines argmax the same scores."""
    docs = load_table(spark, sf, "documents")
    return docs.groupBy(TX.lang_id(F.col("text")).alias("lid")).agg(
        F.count("*").alias("cnt")
    )


_QUALITY_SQL = """
ROUND(CASE WHEN COALESCE(LENGTH(t), 0) = 0 THEN 0.0 ELSE (
  LEAST(LENGTH(t) / 500.0, 1.0)
  + LEN(LIST_DISTINCT(STRING_SPLIT(TRIM(t), ' '))) / GREATEST(LEN(STRING_SPLIT(TRIM(t), ' ')), 1)
  + 1.0 - LEAST(LENGTH(REGEXP_REPLACE(t, '[^.,;:!?]', '', 'g')) / GREATEST(LENGTH(t), 1) * 10.0, 1.0)
) / 3.0 END, 6)
"""


@contract(
    "quality_score_avg",
    "SELECT lang, " + _oavg(_QUALITY_SQL, "avg_quality", 6)
    + " FROM (SELECT lang, TRIM(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) t"
    " FROM documents) GROUP BY lang",
    "B30",
)
def q_quality_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Document quality heuristic (length/diversity/punctuation), averaged
    per language; oracle recomputes the identical expression tree."""
    docs = load_table(spark, sf, "documents")
    return docs.groupBy("lang").agg(
        davg(TX.quality_score(F.col("text")), "avg_quality", scale=6, nd=6)
    )


@contract(
    "fingerprint_distinct",
    "SELECT CAST(COUNT(DISTINCT " + _NORM_SQL.format(col="text") + ")"
    " AS BIGINT) AS n_fingerprints FROM documents",
    "B30",
)
def q_fingerprint_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """64-bit content fingerprints (xxhash64 of normalized text): distinct
    count equals distinct normalized texts (collision odds ~1e-11 at this
    corpus size); the oracle counts the texts directly."""
    docs = load_table(spark, sf, "documents")
    return docs.agg(
        F.countDistinct(TX.fingerprint64(F.col("text"))).alias("n_fingerprints")
    )


# ===========================================================================
# Aggregation breadth: statistical aggs, arg-extrema, set collection,
# exact percentiles, salted skew aggregation, classic TPC-H shapes
# ===========================================================================

@contract(
    "stats_agg",
    "SELECT l_returnflag,"
    " ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,"
    " ROUND(VAR_SAMP(l_discount), 6) AS var_disc,"
    " ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qp,"
    " ROUND(COVAR_SAMP(l_quantity, l_discount), 4) AS cov_qd"
    " FROM lineitem GROUP BY l_returnflag",
    "B6",
)
def q_stats_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical aggregates (variance family + correlation).  Both engines
    use streaming (Welford-style) moment updates; rounding absorbs the
    association drift of parallel merging."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qp"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 4).alias("cov_qd"),
    )


@contract(
    "minmax_by_agg",
    "SELECT o_orderpriority,"
    " MAX_BY(o_totalprice, o_orderkey) AS last_price,"
    " MIN_BY(o_totalprice, o_orderkey) AS first_price"
    " FROM orders GROUP BY o_orderpriority",
    "B6",
)
def q_minmax_by(spark: SparkSession, sf: str) -> DataFrame:
    """Arg-extrema (max_by/min_by) keyed on the unique o_orderkey, so the
    witness row is deterministic in both engines."""
    o = load_table(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr("max_by(o_totalprice, o_orderkey)").alias("last_price"),
        F.expr("min_by(o_totalprice, o_orderkey)").alias("first_price"),
    )


@contract(
    "collect_set_agg",
    "SELECT r_name, STRING_AGG(DISTINCT n_name, ',' ORDER BY n_name) AS nations"
    " FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY r_name",
    "B6",
)
def q_collect_set(spark: SparkSession, sf: str) -> DataFrame:
    """Set collection as a canonical string (sorted, comma-joined) so the
    cross-engine hash is order-stable."""
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    return (
        n.join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("nations")
        )
    )


@contract(
    "percentile_agg",
    "SELECT o_orderpriority,"
    " ROUND(QUANTILE_CONT(o_totalprice, 0.5), 4) AS p50,"
    " ROUND(QUANTILE_CONT(o_totalprice, 0.95), 4) AS p95"
    " FROM orders GROUP BY o_orderpriority",
    "B6",
)
def q_percentile(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`): the sort-based aggregation shape."""
    o = load_table(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("p95"),
    )


@contract(
    "salted_agg_invariance",
    "SELECT l_returnflag, COUNT(*) AS cnt, "
    + _osum("l_quantity", "sum_qty")
    + ", MAX(l_extendedprice) AS max_price FROM lineitem GROUP BY l_returnflag",
    "B5",
)
def q_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-resistant two-stage (salted) aggregation must be hash-identical
    to the plain aggregate — the engine twin of the reference's hot-partition
    spreading (RandomSortPartition.java:34-91).  sum runs over scaled longs
    (see dsum) so stage-2 recombination is association-free."""
    li = load_table(spark, sf, "lineitem")
    out = R.salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "cnt": ("l_returnflag", "count"),
            "sum_qty": (F.round(F.col("l_quantity") * 100).cast("long"), "sum"),
            "max_price": ("l_extendedprice", "max"),
        },
        salt_buckets=16,
    )
    return out.select(
        "l_returnflag", "cnt",
        (F.col("sum_qty") / F.lit(100.0)).alias("sum_qty"),
        "max_price",
    )


@contract(
    "tpch_q3_shape",
    "SELECT o_orderkey, "
    + _osum("l_extendedprice * (1 - l_discount)", "revenue")
    + " FROM customer JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON l_orderkey = o_orderkey"
    " WHERE c_mktsegment = 'BUILDING'"
    " AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'"
    " AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'"
    " GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10",
    "B12",
)
def q_tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape (unshipped-order revenue top-10): selective dim filter
    -> two shuffle joins -> agg -> top-k.  The broadcast of the filtered
    customer side + AQE make this two exchanges total at any scale."""
    c = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey")
        .agg(dsum(rev, "revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@contract(
    "tpch_q5_shape",
    "SELECT n_name, "
    + _osum("l_extendedprice * (1 - l_discount)", "revenue")
    + " FROM customer JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON l_orderkey = o_orderkey"
    " JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
    " WHERE r_name = 'ASIA'"
    " AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'"
    " AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"
    " GROUP BY n_name ORDER BY revenue DESC, n_name",
    "B12",
    "B13",
)
def q_tpch_q5(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier volume): 6-table join where the
    region->nation->supplier dim chain broadcasts, so the only shuffles at
    any scale are the two fact-fact exchanges (lineitem-orders-customer) and
    the final agg — the plan a 1000-executor cluster wants.  The extra
    c_nationkey = s_nationkey equality rides the same join, no new shuffle."""
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf, "nation")
    s = load_table(spark, sf, "supplier")
    dims = s.join(
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey", "n_name")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf, "customer")
    li = load_table(spark, sf, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(dims),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(rev, "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@contract(
    "tpch_q18_shape",
    "SELECT c_custkey, o_orderkey, "
    + _osum("l_quantity", "total_qty")
    + " FROM orders JOIN customer ON o_custkey = c_custkey"
    " JOIN lineitem ON o_orderkey = l_orderkey"
    " WHERE o_orderkey IN ("
    "  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey"
    "  HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 15000)"
    " GROUP BY c_custkey, o_orderkey"
    " ORDER BY total_qty DESC, o_orderkey LIMIT 100",
    "B12",
    "B14",
)
def q_tpch_q18(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers), ONE-SCAN form: the final
    GROUP BY (c_custkey, o_orderkey) is really a per-ORDER aggregate
    (o_orderkey determines c_custkey), so the HAVING sum and the output
    sum are the SAME scaled-long aggregate — computed once over lineitem
    — and the ORDER BY (total_qty DESC, o_orderkey) key exists entirely
    pre-join, so the top-100 pushes BELOW the joins
    (TakeOrderedAndProject over the filtered aggregate) and the
    orders/customer joins run over a broadcast 100-row relation.

    The top-k pushdown is exact under FK row preservation (every
    l_orderkey has its orders row, every o_custkey its customer row —
    TPC-H referential integrity; the inner joins drop nothing), the same
    rewrite an optimizer with declared PK/FK constraints performs.

    Measured history at scale: the previous two-scan form (HAVING keys
    broadcast as a left-semi onto lineitem, full 3-way join, SECOND
    aggregate) was 9.6x marginal at sf10 — the >15000 cut keeps ~20% of
    orders, so the "tiny" semi-broadcast was 2.9M keys and every
    surviving lineitem row crossed the wide join twice-aggregated.  The
    window rewrite measured worse still (8.6 s vs 5.2 s at sf3: full-fact
    sort).  This form measured (best-of-2 warm): sf3 8.9 s -> 2.3 s, sf10
    15.7 s -> 9.9 s vs DuckDB 2.2 s (~4.4x end-to-end, down from 9.6x
    marginal) — the residual is ONE partial-agg exchange of ~|orders|
    (14.7M at sf10) keyed longs, the irreducible shuffle footprint of a
    global per-key aggregate vs DuckDB's shared-memory hash table."""
    li = load_table(spark, sf, "lineitem")
    agg = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias(
                "__q"
            )
        )
        .filter(F.col("__q") > 15000)
        .select(
            "l_orderkey", (F.col("__q") / F.lit(100.0)).alias("total_qty")
        )
    )
    top = agg.orderBy(F.desc("total_qty"), "l_orderkey").limit(100)
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf, "customer").select("c_custkey")
    return (
        F.broadcast(top)
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "o_orderkey", "total_qty")
        .orderBy(F.desc("total_qty"), "o_orderkey")
    )


@contract(
    "tpch_q13_shape",
    "SELECT c_count, COUNT(*) AS custdist FROM ("
    " SELECT c_custkey, COUNT(o_orderkey) AS c_count"
    " FROM customer LEFT JOIN orders ON c_custkey = o_custkey"
    "  AND o_orderpriority <> '1-URGENT'"
    " GROUP BY c_custkey)"
    " GROUP BY c_count",
    "B6",
    "B14",
)
def q_tpch_q13(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): a LEFT join with
    a join-side predicate feeding a two-level aggregation — the histogram-
    of-group-sizes pattern (the testdata has no o_comment, so the real
    query's comment filter becomes an orderpriority filter).  Two shuffles
    (custkey, then c_count); customers with zero orders survive the LEFT
    join with count 0 — COUNT(col) vs COUNT(*) semantics are load-bearing."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@contract(
    "tpch_q15_shape",
    "WITH rev AS (SELECT l_suppkey,"
    "  SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))"
    "   AS rev_l"
    " FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'"
    "  AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'"
    " GROUP BY l_suppkey)"
    " SELECT s_suppkey, s_name,"
    "  CAST(rev_l AS DOUBLE) / 10000.0 AS total_revenue"
    " FROM supplier JOIN rev ON s_suppkey = l_suppkey"
    " WHERE rev_l = (SELECT MAX(rev_l) FROM rev)",
    "B6",
    "B17",
)
def q_tpch_q15(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier by quarter revenue): aggregate, take
    the MAX over the aggregate, and join back the winners — the max-over-
    aggregate pattern (the real query's revenue view).  The max filter runs
    on the scaled-LONG revenue so the cross-engine equality is integer
    equality; ties (several suppliers at the max) surface identically in
    both engines.  The max rides a 1-row broadcast over the (small)
    aggregate — no single-partition window; supplier is broadcast."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                ).cast("long")
            ).alias("rev_l")
        )
    )
    top = rev.crossJoin(
        F.broadcast(rev.agg(F.max("rev_l").alias("max_rev")))
    ).filter(F.col("rev_l") == F.col("max_rev"))
    return (
        F.broadcast(s)
        .join(top, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_l").cast("double") / F.lit(10000.0)).alias(
                "total_revenue"
            ),
        )
    )


@contract(
    "tpch_q17_shape",
    "SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)"
    "  / 100.0 / 7.0 AS avg_yearly, COUNT(*) AS n_small"
    " FROM lineitem JOIN part ON p_partkey = l_partkey"
    " JOIN (SELECT l_partkey AS pk,"
    "   0.2 * (CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE)"
    "    / 100.0 / COUNT(l_quantity)) AS q_thresh"
    "  FROM lineitem GROUP BY l_partkey) t ON t.pk = l_partkey"
    " WHERE p_brand = 'Brand#3' AND l_quantity < q_thresh",
    "B12",
    "B6",
)
def q_tpch_q17(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): each lineitem is
    filtered against a correlated per-part scalar (20% of that part's mean
    quantity) — the decorrelated form is an aggregate self-join.  The
    threshold is built from the exact scaled-long mean so both engines
    compare against the bit-identical double.  At scale the per-part
    aggregate is small relative to the fact table and broadcasts; the fact
    scan stays filter-pruned on the Brand semi-join."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").filter(F.col("p_brand") == "Brand#3")
    thresh = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            (
                F.lit(0.2)
                * (
                    F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
                    / F.lit(100.0)
                    / F.count("l_quantity")
                )
            ).alias("q_thresh")
        )
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(thresh, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("q_thresh"))
        .agg(
            (
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                / F.lit(100.0)
                / F.lit(7.0)
            ).alias("avg_yearly"),
            F.count("*").alias("n_small"),
        )
    )


@contract(
    "tpch_q22_shape",
    "SELECT cntrycode, COUNT(*) AS numcust, "
    + _osum("c_acctbal", "totacctbal")
    + " FROM ("
    "  SELECT c_nationkey % 7 AS cntrycode, c_acctbal, c_custkey"
    "  FROM customer"
    "  WHERE c_acctbal > (SELECT"
    "    CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)"
    "     / 100.0 / COUNT(c_acctbal)"
    "    FROM customer WHERE c_acctbal > 0.0)) c"
    " WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"
    " GROUP BY cntrycode",
    "B6",
    "B14",
)
def q_tpch_q22(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape (global-account-stats): filter customers above the
    GLOBAL mean positive balance (a scalar subquery both engines compute as
    the exact scaled-long mean), anti-join away those with orders, and
    aggregate per country code (nationkey % 7 stands in for the missing
    phone prefix).  The scalar threshold is a 1-row broadcast; the anti
    join shuffles on custkey — the never-ordered-customers pattern."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    mean_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
                / F.lit(100.0)
                / F.count("c_acctbal")
            ).alias("thresh")
        )
    )
    rich = (
        c.crossJoin(F.broadcast(mean_bal))
        .filter(F.col("c_acctbal") > F.col("thresh"))
        .select(
            (F.col("c_nationkey") % 7).alias("cntrycode"),
            "c_acctbal",
            "c_custkey",
        )
    )
    return (
        rich.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(F.count("*").alias("numcust"), dsum("c_acctbal", "totacctbal"))
    )


# ---------------------------------------------------------------------------
# Remaining TPC-H shapes (q2/q4/q6/q8/q9/q10/q11/q12/q14/q19/q20/q21),
# adapted to the reduced testdata schema: no partsupp table (supplier-part
# association is the DISTINCT (l_partkey, l_suppkey) projection of lineitem;
# ps_supplycost/availqty stand-ins are s_acctbal / shipped quantity), no
# l_commitdate/l_receiptdate ("late" = l_shipdate > o_orderdate + interval),
# no l_shipmode (l_linestatus stands in as the 2-value group).  Every query
# keeps the *plan shape* that makes its TPC-H original distinctive —
# correlated min, EXISTS/NOT EXISTS pairs, disjunctive join predicates,
# group-vs-global-scalar thresholds — because the shape, not the constants,
# is what exercises the engine.
# ---------------------------------------------------------------------------


@contract(
    "tpch_q6_shape",
    "SELECT " + _osum("l_extendedprice * l_discount", "revenue", 4)
    + ", COUNT(*) AS cnt FROM lineitem"
    " WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'"
    "  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'"
    "  AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24",
    "B3",
    "B5",
)
def q_tpch_q6(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): the canonical scan-filter-agg —
    every predicate (date range, discount band, quantity cap) must reach the
    parquet scan as PushedFilters and the single global aggregate runs
    partial+final with no shuffle of raw rows.  At 100 TB this is the query
    partition pruning + row-group stats exist for."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.04, 0.06)
            & (F.col("l_quantity") < 24)
        ).agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue", 4),
            F.count("*").alias("cnt"),
        )
    )


@contract(
    "tpch_q4_shape",
    "SELECT o_orderpriority, COUNT(*) AS order_count FROM orders"
    " WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'"
    "  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'"
    "  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey"
    "   AND l_shipdate > o_orderdate + INTERVAL 60 DAY)"
    " GROUP BY o_orderpriority",
    "B14",
    "B6",
)
def q_tpch_q4(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): EXISTS decorrelates to a
    LEFT SEMI join with a non-equi residual (l_shipdate > o_orderdate + 60d
    stands in for commitdate < receiptdate).  The semi join shuffles on
    orderkey and short-circuits per probe row — no lineitem payload crosses
    the exchange, only the key and shipdate."""
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_Q2_SQL = (
    "WITH sp AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),"
    " eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier"
    "  JOIN nation ON s_nationkey = n_nationkey"
    "  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE')"
    " SELECT p_partkey, p_name, s_name, n_name, s_acctbal"
    " FROM part JOIN sp ON l_partkey = p_partkey"
    " JOIN eu ON s_suppkey = l_suppkey"
    " WHERE p_size <= 15 AND p_type = 'SMALL'"
    "  AND s_acctbal = (SELECT MIN(e2.s_acctbal) FROM eu e2"
    "   JOIN sp s2 ON e2.s_suppkey = s2.l_suppkey"
    "   WHERE s2.l_partkey = p_partkey)"
)


@contract("tpch_q2_shape", _Q2_SQL, "B12", "B6")
def q_tpch_q2(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier): correlated MIN subquery — for
    each qualifying part, keep only the supplier(s) at the groupwise minimum
    (s_acctbal stands in for ps_supplycost; DISTINCT lineitem pairs stand in
    for partsupp).  Decorrelated as aggregate + join-back, the same
    min-over-group-rejoin shape as Q15 but per-part.  Region/nation dims
    broadcast; ties at the min survive identically in both engines because
    the compared doubles are the same parquet bytes."""
    li = load_table(spark, sf, "lineitem")
    sp = li.select("l_partkey", "l_suppkey").distinct()
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = load_table(spark, sf, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "SMALL")
    )
    cand = (
        sp.join(F.broadcast(eu), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    )
    min_bal = cand.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        cand.join(
            min_bal,
            (F.col("l_partkey") == F.col("mk"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .select("p_partkey", "p_name", "s_name", "n_name", "s_acctbal")
    )


_Q8_SQL = (
    "SELECT o_year, ROUND(CAST(nat_l AS DOUBLE) / CAST(tot_l AS DOUBLE), 6)"
    "  AS mkt_share FROM ("
    " SELECT EXTRACT(year FROM o_orderdate) AS o_year,"
    "  SUM(CASE WHEN n2.n_name = 'NATION_7' THEN"
    "   CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)"
    "   ELSE 0 END) AS nat_l,"
    "  SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))"
    "   AS tot_l"
    " FROM lineitem"
    " JOIN orders ON o_orderkey = l_orderkey"
    " JOIN customer ON c_custkey = o_custkey"
    " JOIN nation n1 ON c_nationkey = n1.n_nationkey"
    " JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'"
    " JOIN supplier ON s_suppkey = l_suppkey"
    " JOIN nation n2 ON s_nationkey = n2.n_nationkey"
    " JOIN part ON p_partkey = l_partkey AND p_type = 'ECONOMY'"
    " GROUP BY o_year)"
)


@contract("tpch_q8_shape", _Q8_SQL, "B12", "B6")
def q_tpch_q8(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the widest join in the suite
    — 7 relations, nation joined TWICE under different roles (customer
    nation restricts the market, supplier nation is the measure dimension).
    The share is a conditional-sum / total-sum ratio computed on exact
    scaled longs so the division inputs are bit-identical cross-engine.
    All dims broadcast; the only big shuffles are lineitem->orders->customer
    on their keys."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    s = load_table(spark, sf, "supplier")
    p = load_table(spark, sf, "part").filter(F.col("p_type") == "ECONOMY")
    n1 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("s_nation")
    )
    vol_l = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    joined = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    )
    agg = joined.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.sum(
            F.when(F.col("s_nation") == "NATION_7", vol_l).otherwise(F.lit(0))
        ).alias("nat_l"),
        F.sum(vol_l).alias("tot_l"),
    )
    return agg.select(
        "o_year",
        F.round(
            F.col("nat_l").cast("double") / F.col("tot_l").cast("double"), 6
        ).alias("mkt_share"),
    )


_Q9_SQL = (
    "SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year, "
    + _osum(
        "l_extendedprice * (1 - l_discount)"
        " - 0.5 * p_retailprice * l_quantity",
        "profit",
        4,
    )
    + " FROM lineitem"
    " JOIN part ON p_partkey = l_partkey AND p_name LIKE '%gear%'"
    " JOIN supplier ON s_suppkey = l_suppkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " JOIN orders ON o_orderkey = l_orderkey"
    " GROUP BY n_name, o_year"
)


@contract("tpch_q9_shape", _Q9_SQL, "B12", "B6")
def q_tpch_q9(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): substring part filter feeding a
    5-table join, profit = revenue minus imputed cost (0.5 * retailprice *
    qty stands in for ps_supplycost), grouped by supplier nation x order
    year.  The part filter is applied BEFORE the join so the fact scan is
    semi-reduced early; profit accumulates as an exact scaled long."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").filter(F.col("p_name").contains("gear"))
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    o = load_table(spark, sf, "orders")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(profit, "profit", 4))
    )


_Q10_SQL = (
    "SELECT c_custkey, c_name, "
    + _osum("l_extendedprice * (1 - l_discount)", "revenue", 4)
    + ", c_acctbal, n_name"
    " FROM customer"
    " JOIN orders ON c_custkey = o_custkey"
    "  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'"
    "  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'"
    " JOIN lineitem ON l_orderkey = o_orderkey AND l_returnflag = 'R'"
    " JOIN nation ON c_nationkey = n_nationkey"
    " GROUP BY c_custkey, c_name, c_acctbal, n_name"
    " ORDER BY revenue DESC, c_custkey LIMIT 20"
)


@contract("tpch_q10_shape", _Q10_SQL, "B12", "B9")
def q_tpch_q10(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): quarter of orders joined
    to returned lineitems, revenue per customer, global top-20.  The top-k
    is a TakeOrderedAndProject (per-partition heaps + driver merge of 20
    rows), never a global sort; revenue is an exact scaled long so the DESC
    order plus custkey tiebreak is a cross-engine total order."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf, "nation")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
                4,
            )
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_Q11_SQL = (
    "WITH v AS (SELECT l_partkey,"
    "  SUM(CAST(ROUND(l_extendedprice * l_quantity * 100) AS BIGINT))"
    "   AS val_l"
    " FROM lineitem JOIN supplier ON l_suppkey = s_suppkey"
    " JOIN nation ON s_nationkey = n_nationkey AND n_regionkey = 2"
    " GROUP BY l_partkey)"
    " SELECT l_partkey AS p_key,"
    "  CAST(val_l AS DOUBLE) / 100.0 AS part_value"
    " FROM v WHERE CAST(val_l AS DOUBLE)"
    "  > 1.5 * (SELECT CAST(SUM(val_l) AS DOUBLE) / COUNT(*) FROM v)"
)


@contract("tpch_q11_shape", _Q11_SQL, "B6", "B12")
def q_tpch_q11(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part inventory value vs a
    GLOBAL fraction-of-total scalar — the group-aggregate-filtered-by-
    global-aggregate pattern (HAVING > fraction * SUM() OVER ()).  The
    scalar rides a 1-row broadcast over the per-part aggregate; no second
    pass over the fact table.  Value accumulates as an exact scaled long so
    the threshold (1.5x the mean per-part value — scale-invariant, unlike
    the original's fixed fraction, because part count grows with SF)
    compares identical doubles."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation").filter(F.col("n_regionkey") == 2)
    v = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * F.col("l_quantity") * 100
                ).cast("long")
            ).alias("val_l")
        )
    )
    total = v.agg(
        (F.sum("val_l").cast("double") / F.count("*")).alias("mean_val")
    )
    return (
        v.crossJoin(F.broadcast(total))
        .filter(
            F.col("val_l").cast("double") > F.lit(1.5) * F.col("mean_val")
        )
        .select(
            F.col("l_partkey").alias("p_key"),
            (F.col("val_l").cast("double") / F.lit(100.0)).alias("part_value"),
        )
    )


@contract(
    "tpch_q12_shape",
    "SELECT l_linestatus AS ship_group,"
    " CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
    "  THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,"
    " CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')"
    "  THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count"
    " FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
    " WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY"
    "  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'"
    "  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'"
    " GROUP BY l_linestatus",
    "B12",
    "B6",
)
def q_tpch_q12(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape (shipping priority audit): join with a non-equi
    residual (shipped >30 days after order; stands in for the commit/receipt
    comparison) feeding paired conditional counts per group (l_linestatus
    stands in for l_shipmode).  The CASE sums are map-side partial
    aggregates — one shuffle of 2 groups x 2 longs."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
            ),
        )
        .groupBy(F.col("l_linestatus").alias("ship_group"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@contract(
    "tpch_q14_shape",
    "SELECT ROUND(100.0 * CAST(promo_l AS DOUBLE) / CAST(tot_l AS DOUBLE), 6)"
    "  AS promo_revenue FROM ("
    " SELECT SUM(CASE WHEN p_type = 'PROMO' THEN"
    "   CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)"
    "   ELSE 0 END) AS promo_l,"
    "  SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))"
    "   AS tot_l"
    " FROM lineitem JOIN part ON p_partkey = l_partkey"
    " WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'"
    "  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00')",
    "B12",
    "B5",
)
def q_tpch_q14(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): one month of lineitem joined to
    part, promo-share of revenue as a conditional-sum / total-sum ratio on
    exact scaled longs.  Part broadcasts; single row out."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf, "part")
    vol_l = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    agg = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", vol_l).otherwise(F.lit(0))
            ).alias("promo_l"),
            F.sum(vol_l).alias("tot_l"),
        )
    )
    return agg.select(
        F.round(
            F.lit(100.0)
            * F.col("promo_l").cast("double")
            / F.col("tot_l").cast("double"),
            6,
        ).alias("promo_revenue")
    )


@contract(
    "tpch_q19_shape",
    "SELECT " + _osum("l_extendedprice * (1 - l_discount)", "revenue", 4)
    + ", COUNT(*) AS cnt"
    " FROM lineitem JOIN part ON p_partkey = l_partkey"
    " WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5"
    "    AND l_quantity BETWEEN 1 AND 11)"
    "  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10"
    "    AND l_quantity BETWEEN 10 AND 20)"
    "  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15"
    "    AND l_quantity BETWEEN 20 AND 30)",
    "B12",
    "B3",
)
def q_tpch_q19(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): the disjunctive-predicate join
    — an equi join whose residual is an OR of conjunct groups mixing build-
    side (brand/size) and probe-side (quantity) columns.  Catalyst keeps the
    equi key for the hash join and evaluates the OR as a post-join residual;
    the single-column prefixes (p_size <= 15, l_quantity <= 30) are NOT
    derivable automatically, so the builder pushes the derived envelope
    filters to both scans — the hand-CNF trick a 100 TB run needs."""
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_quantity").between(1, 30)
    )
    p = load_table(spark, sf, "part").filter(F.col("p_size").between(1, 15))
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
                4,
            ),
            F.count("*").alias("cnt"),
        )
    )


_Q20_SQL = (
    "WITH shipped AS (SELECT l_partkey, l_suppkey,"
    "  SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS qty_l"
    " FROM lineitem"
    " WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'"
    "  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'"
    " GROUP BY l_partkey, l_suppkey),"
    " major AS (SELECT l_suppkey FROM shipped"
    "  JOIN (SELECT l_partkey AS pk, CAST(SUM(qty_l) AS DOUBLE) AS tot"
    "   FROM shipped GROUP BY l_partkey) t ON pk = l_partkey"
    "  JOIN part ON p_partkey = l_partkey AND p_name LIKE 'red%'"
    "  WHERE CAST(qty_l AS DOUBLE) > 0.3 * tot)"
    " SELECT s_suppkey, s_name FROM supplier"
    " WHERE s_suppkey IN (SELECT l_suppkey FROM major)"
)


@contract("tpch_q20_shape", _Q20_SQL, "B14", "B6")
def q_tpch_q20(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape (part promotion candidates): nested aggregation —
    per (part, supplier) shipped quantity vs 30% of that part's total
    (shipped qty stands in for ps_availqty vs half the demand) — feeding a
    SEMI join into supplier.  Two shuffles over the same year-filtered scan
    (the per-pair aggregate re-aggregates to per-part without re-reading),
    then an IN-subquery semi join."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = load_table(spark, sf, "supplier")
    p = load_table(spark, sf, "part").filter(F.col("p_name").startswith("red"))
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("qty_l")
    )
    per_part = shipped.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("qty_l").cast("double").alias("tot")
    )
    major = (
        shipped.join(per_part, F.col("pk") == F.col("l_partkey"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(F.col("qty_l").cast("double") > F.lit(0.3) * F.col("tot"))
        .select("l_suppkey")
    )
    return s.join(
        major, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


_Q21_SQL = (
    "SELECT s_name, COUNT(*) AS numwait"
    " FROM supplier"
    " JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'"
    " JOIN lineitem l1 ON s_suppkey = l1.l_suppkey"
    " JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'"
    " WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY"
    "  AND EXISTS (SELECT 1 FROM lineitem l2"
    "   WHERE l2.l_orderkey = l1.l_orderkey"
    "    AND l2.l_suppkey <> l1.l_suppkey)"
    "  AND NOT EXISTS (SELECT 1 FROM lineitem l3"
    "   WHERE l3.l_orderkey = l1.l_orderkey"
    "    AND l3.l_suppkey <> l1.l_suppkey"
    "    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)"
    " GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10"
)


@contract("tpch_q21_shape", _Q21_SQL, "B14", "B6", "B9")
def q_tpch_q21(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the EXISTS +
    NOT-EXISTS pair over self-joined lineitem.  The oracle keeps the
    correlated form; the engine uses the distributed rewrite — per-order
    (distinct suppliers, distinct LATE suppliers) as WINDOW aggregates over
    the already-orderkey-partitioned join, then each late lineitem
    qualifies iff the order has >=2 suppliers but exactly 1 late one
    (necessarily its own).  Equivalent by construction; the window form
    reuses the join's orderkey exchange instead of a groupBy + join-back
    (measured 12.6 s -> 2.7 s at sf3 — the join-back re-shuffled the full
    joined relation twice).  This is the rewrite that survives 100 TB,
    where per-row subqueries cannot.  late := l_shipdate > o_orderdate +
    60d (no commit/receipt dates in the reduced schema)."""
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation").filter(F.col("n_name") == "NATION_3")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    w = Window.partitionBy("l_orderkey")
    lo = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    lo = lo.withColumn(
        "n_supp", F.size(F.collect_set("l_suppkey").over(w))
    ).withColumn(
        "n_late_supp",
        F.size(
            F.collect_set(F.when(F.col("late"), F.col("l_suppkey"))).over(w)
        ),
    )
    return (
        lo.filter(
            F.col("late") & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


@contract(
    "unpivot_measures",
    "SELECT measure, " + _osum("val", "total", 6) + ", COUNT(*) AS cnt FROM ("
    "  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem"
    "  UNION ALL SELECT 'l_discount', l_discount FROM lineitem"
    "  UNION ALL SELECT 'l_tax', l_tax FROM lineitem"
    ") GROUP BY measure ORDER BY measure",
    "B2",
    "B5",
)
def q_unpivot_measures(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot/melt (wide -> long) composed with per-measure aggregation.
    Aggregation is pushed BELOW the unpivot: the three measure sums ride
    one scan's partial aggregates (vs the oracle's 3-scan UNION ALL and
    vs unpivot-then-agg, whose Generate triples the fact rows before the
    shuffle — the naive form measured a 14x marginal vs DuckDB at sf1;
    this form is one pass, one 1-row exchange).  The unpivot operator
    still does the wide->long reshape, on the aggregate."""
    li = load_table(spark, sf, "lineitem")
    wide = li.agg(
        dsum("l_quantity", "l_quantity", 6),
        dsum("l_discount", "l_discount", 6),
        dsum("l_tax", "l_tax", 6),
        F.count("*").alias("__n"),
    )
    return (
        wide.unpivot(
            ids=["__n"],
            values=["l_quantity", "l_discount", "l_tax"],
            variableColumnName="measure",
            valueColumnName="total",
        )
        .select("measure", "total", F.col("__n").alias("cnt"))
        .orderBy("measure")
    )


# ===========================================================================
# B24 as TRUE streaming: replayed Structured Streaming vs batch oracle
# ===========================================================================

@contract(
    "stream_window_agg",
    "SELECT w, event_type, cnt, "
    "CAST(sum_value AS DOUBLE) AS sum_value FROM ("
    " SELECT date_trunc('hour', ts::TIMESTAMP) AS w, event_type,"
    "  COUNT(*) AS cnt, "
    + _osum("value", "sum_value", 6)
    + " FROM events GROUP BY 1, 2)"
    " WHERE w + INTERVAL 1 HOUR <="
    "  (SELECT MAX(ts::TIMESTAMP) - INTERVAL 2 HOUR FROM events)",
    "B24",
)
def q_stream_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly windows computed by an ACTUAL Structured Streaming replay
    (file stream -> watermark -> window agg -> AvailableNow to memory sink),
    hash-matched against the batch oracle on the finalized subset — windows
    the 2 h watermark has closed, the engine's `_final`-marker analog
    (ShufflePartitionReader.java:134-153).  The watermark alone selects
    that subset: append mode emits a window once ``end <= watermark``, the
    closing batch's watermark is ``floor_ms(max ts) - 2 h``, and an
    hour-aligned end compares the same against it as against the
    oracle's µs cutoff, so no cutoff job or post-filter runs
    (``test_stream_window_agg_emits_only_closed_windows`` checks it)."""
    from shuttle_spark.streaming import events_stream, run_available_now

    stream = (
        events_stream(spark, sf)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("value") * 1000000).cast("long")).alias("sv"),
        )
        .select(
            F.col("win.start").alias("w"),
            "event_type",
            "cnt",
            (F.col("sv") / F.lit(1000000.0)).alias("sum_value"),
        )
    )
    return run_available_now(
        stream, f"swa_{abs(hash(sf)) % 99999}", shuffle_partitions=4
    )


# ===========================================================================
# Explode / lateral + IVF ANN + more streaming
# ===========================================================================

@contract(
    "word_count_topk",
    "SELECT w, COUNT(*) AS cnt FROM ("
    " SELECT UNNEST(STRING_SPLIT(TRIM(" + _NORM_SQL.format(col="text") + "), ' ')) AS w"
    " FROM documents)"
    " GROUP BY w ORDER BY cnt DESC, w LIMIT 20",
    "B21",
)
def q_word_count(spark: SparkSession, sf: str) -> DataFrame:
    """The canonical shuffle workload — word count via explode (lateral) +
    hash agg + top-k.  Explode is the 1->N Generate shape; the count is
    map-side-combined before the exchange exactly like the reference's
    A2/A3 path."""
    docs = load_table(spark, sf, "documents")
    toks = docs.select(TX.tokens(F.col("text")).alias("__toks"))
    return (
        toks.select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "w")
        .limit(20)
    )


def _bigram_lm_oracle() -> str:
    from shuttle_spark.operators.pipeline import bigram_lm_oracle_sql

    return bigram_lm_oracle_sql(
        "documents", _NORM_SQL.format(col="text"), top_k=50
    )


@contract(
    "bigram_lm_top",
    _bigram_lm_oracle(),
    "B21",
    "ext",
    "llm",
)
def q_bigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram LM statistics (pipeline.bigram_lm_stats): the 50 most
    frequent adjacent token pairs with their exact integer association
    lift P(w1 w2)/(P(w1)P(w2)) — PMI without the libm log, the
    collocation/BPE-merge-selection signal.  Bigrams come from one
    in-row transform over the token array (no posexplode self-join);
    marginals ride the session-staged token relation; the corpus total
    folds in as a driver literal, not a join."""
    from shuttle_spark.operators.pipeline import bigram_lm_stats

    docs = load_table(spark, sf, "documents")
    return bigram_lm_stats(docs, top_k=50)


def _inverted_index_oracle() -> str:
    from shuttle_spark.operators.pipeline import inverted_index_oracle_sql

    return inverted_index_oracle_sql(
        "documents", _NORM_SQL.format(col="text"),
        postings_cap=5, min_df=5, max_df=500,
    )


@contract(
    "inverted_index_terms",
    _inverted_index_oracle(),
    "B21",
    "ext",
    "llm",
)
def q_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted-index build (pipeline.inverted_index): per term the
    document frequency, total tf, and the first 5 posting doc-ids —
    with the scale-critical ordering encoded: df census FIRST, viral
    (stop-word) terms dropped via a term-key semi-join BEFORE posting
    collection, so no reducer ever materializes an O(corpus) posting
    list.  All aggregations hash-partition on term (exchange reuse);
    min_df=5 trims the hapax tail, max_df=500 is the stop-word guard."""
    from shuttle_spark.operators.pipeline import inverted_index

    docs = load_table(spark, sf, "documents")
    return inverted_index(docs, postings_cap=5, min_df=5, max_df=500)


@contract(
    "ivf_full_probe_topk",
    "SELECT vec_id, ROUND(sim_raw, 6) AS sim FROM"
    " (SELECT vec_id, list_cosine_similarity(CAST(embedding AS DOUBLE[]),"
    "   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 7))"
    "  AS sim_raw FROM embeddings)"
    " ORDER BY sim_raw DESC, vec_id LIMIT 10",
    "B29",
)
def q_ivf_full_probe(spark: SparkSession, sf: str) -> DataFrame:
    """IVF index probed with n_probe == n_cells must equal brute force
    exactly (partition pruning with zero cells pruned) — so the ANN index
    machinery itself is oracle-verified; the recall/speed trade lives in
    ivf_partial_probe_recall_ok."""
    emb = load_table(spark, sf, "embeddings")
    # session-cached (query_vector): an inline head() here was one extra
    # full-scan job on EVERY warm run for a constant 64-float vector
    qv = query_vector(spark, sf, 7)
    indexed, cents = S.ivf_build(emb, dim=64, n_cells=8)
    out = S.ivf_topk(indexed, cents, qv, k=10, n_probe=8)
    return out.select("vec_id", F.round("sim", 6).alias("sim"))


@property_contract(
    "ivf_partitioned_probe", ("pruned", "match_mem", "nonempty"), "B29", "sink"
)
def q_ivf_partitioned_probe(spark: SparkSession, sf: str) -> tuple:
    """End-to-end assert of the IVF pruned-scan story:
    the indexed corpus is WRITTEN OUT ``partitionBy('cell')`` — the layout
    ivf_topk's docstring claims turns probes into partition-pruned scans —
    then probed through the parquet read, and the executed plan must show
    PartitionFilters on ``cell`` (the probe's 4-of-8 cell list applied at
    planning time, the engine analog of the reference's partition-file
    locality, ShuffleFileUtils.java:33-45).  ``match_mem`` pins that the
    pruned-scan probe returns exactly the in-memory index's answer, so
    pruning changes cost, never results.  The partitioned copy is written
    once per source generation (``cache.staged_dir``); warm runs measure
    discovery + pruned probe."""
    emb = load_table(spark, sf, "embeddings")
    indexed, cents = S.ivf_build(emb, dim=64, n_cells=8)
    out = staged_dir(
        spark, emb, params=("ivfpart", 8),
        build=lambda d: indexed.write.mode("overwrite")
        .partitionBy("cell").parquet(d),
    )
    back = spark.read.parquet(out)
    qv = query_vector(spark, sf, 7)
    probed = S.ivf_topk(back, cents, qv, k=10, n_probe=4)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    after = plan.split("PartitionFilters: [", 1)
    pruned = len(after) == 2 and "cell" in after[1][:200]
    mem = [
        (int(r["vec_id"]), round(float(r["sim"]), 6))
        for r in S.ivf_topk(indexed, cents, qv, k=10, n_probe=4).collect()
    ]
    got = [
        (int(r["vec_id"]), round(float(r["sim"]), 6)) for r in probed.collect()
    ]
    return pruned, got == mem, len(got) == 10


@property_contract("ivf_partial_probe_recall_ok", ("ok",), "B29")
def q_ivf_partial_recall(spark: SparkSession, sf: str) -> tuple:
    """Property: probing 4 of 8 IVF cells recovers >= 7 of the true top-10
    (averaged over 5 query vectors) — the recall/cost dial of the 100 TB
    path, where `cell` is a parquet partition column and probing is
    partition pruning."""
    emb = load_table(spark, sf, "embeddings")
    # ivf_build is session-cached (persisted) — shared with ivf_full_probe.
    indexed, cents = S.ivf_build(emb, dim=64, n_cells=8)
    qids = (1, 11, 21, 31, 41)
    # Batched evaluation: one collect for the query vectors, one brute-force
    # kNN join for all five truths, one multi-query probe job — 3 jobs
    # total instead of 3 per query (measured 2.8 s -> ~1 s at sf0.1).
    qrows = emb.filter(F.col("vec_id").isin(list(qids))).collect()
    queries = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in qrows]
    qdf = spark.createDataFrame(
        [(q, v) for q, v in queries], "q_id bigint, q_embedding array<double>"
    )
    truth: dict[int, set] = {q: set() for q in qids}
    for r in S.knn_join_brute(emb, qdf, k=10).collect():
        truth[r.q_id].add(r.vec_id)
    approx: dict[int, set] = {q: set() for q in qids}
    for r in S.ivf_topk_multi(indexed, cents, queries, k=10, n_probe=4).collect():
        approx[r.q_id].add(r.vec_id)
    hits = sum(len(truth[q] & approx[q]) for q in qids)
    return (hits >= 35,)


_QUANT_SQL = (
    "WITH q AS (SELECT vec_id, embedding,"
    "  GREATEST(list_max(list_transform(embedding,"
    "   x -> ABS(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS s"
    " FROM embeddings WHERE vec_id < 200)"
    " SELECT vec_id, ROUND(s, 9) AS q_scale_r,"
    "  CAST(list_sum(list_transform(embedding,"
    "   x -> CAST(FLOOR(CAST(x AS DOUBLE) / s + 0.5) AS INTEGER)))"
    "   AS BIGINT) AS q_sum,"
    "  CAST(list_min(list_transform(embedding,"
    "   x -> CAST(FLOOR(CAST(x AS DOUBLE) / s + 0.5) AS INTEGER)))"
    "   AS INTEGER) AS q_min,"
    "  CAST(list_max(list_transform(embedding,"
    "   x -> CAST(FLOOR(CAST(x AS DOUBLE) / s + 0.5) AS INTEGER)))"
    "   AS INTEGER) AS q_max"
    " FROM q"
)


@contract("quantize_embeddings", _QUANT_SQL, "B29", "B21")
def q_quantize_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """int8 embedding quantization (operators/similarity.quantize_int8),
    exact-equality gated: per-vector scale, and the sum/min/max of the
    quantized int array, reproduced element-for-element by the DuckDB list
    oracle.  Both engines compute in double on the same float32 inputs and
    tie-break with floor(x + 0.5), so agreement is bit-stable."""
    emb = load_table(spark, sf, "embeddings").filter(F.col("vec_id") < 200)
    q = S.quantize_int8(emb)
    return q.select(
        "vec_id",
        F.round("q_scale", 9).alias("q_scale_r"),
        F.aggregate(
            "qvec", F.lit(0).cast("long"), lambda a, e: a + e.cast("long")
        ).alias("q_sum"),
        F.array_min("qvec").alias("q_min"),
        F.array_max("qvec").alias("q_max"),
    )


@property_contract("quantized_topk_recall_ok", ("ok",), "B29")
def q_quantized_topk_recall(spark: SparkSession, sf: str) -> tuple:
    """Property: int8-quantized dot-product top-10 recovers >= 8 of the
    exact float top-10 (query = vec 0, self excluded).  int8 symmetric
    quantization bounds per-element error at max|x|/254, so ranking
    inversions happen only between near-tied neighbors — the 4x
    bandwidth/memory saving costs almost no recall.  The quantized scorer
    is all-JVM (int zip_with/aggregate); this property pins that the fast
    path ranks like the exact path."""
    emb = load_table(spark, sf, "embeddings")
    qv = query_vector(spark, sf, 0)
    quant = S.quantize_int8(emb)
    qq = quant.filter(F.col("vec_id") == 0).collect()[0]
    approx_df = S.quantized_dot_topk(
        quant.filter(F.col("vec_id") != 0), qq.qvec, qq.q_scale, 10
    )
    # brute_force_topk ranks by cosine, quantized by dot product: compare
    # on the normalized corpus property instead — recompute exact DOT here.
    idot = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.array(*[F.lit(v) for v in qv]),
            lambda a, b: a.cast("double") * b,
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    exact_df = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", idot.alias("dot"))
        .orderBy(F.desc("dot"), F.col("vec_id"))
        .limit(10)
    )
    # both top-10 lists ride ONE tagged union job (guide §1.2)
    approx: set = set()
    exact_dot: set = set()
    for r in (
        approx_df.select(F.lit("a").alias("t"), "vec_id")
        .unionByName(exact_df.select(F.lit("e").alias("t"), "vec_id"))
        .collect()
    ):
        (approx if r.t == "a" else exact_dot).add(r.vec_id)
    return (len(exact_dot & approx) >= 8,)


@contract(
    "zorder_roundtrip_checksum",
    "SELECT COUNT(*) AS cnt,"
    " CAST(SUM(CAST('0x' || SUBSTR(md5("
    "  CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)"
    " ), 1, 8) AS BIGINT)) AS BIGINT) AS checksum,"
    " TRUE AS skips_both_dims FROM orders",
    "B23",
    "sink",
)
def q_zorder_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order clustered write (sources/io.zorder_write) under the oracle
    gate: orders laid out on the Morton curve over (o_custkey,
    o_totalprice), content-checksummed against the source-table oracle
    via metrics observed on the write job itself, then verified value-exact
    on disk by a full column-pruned read-back checksum of the output
    against the observed hash (plus a footer-metadata count) — plus the property the
    layout exists for: parquet row-group min/max spans are bounded on
    BOTH curve dimensions (a linear sort bounds only its own column), so
    filters on either column prune row groups.  The bound asserted (avg span < 60% of the column range) is
    loose because a row group straddles ~2 adjacent curve cells; the
    linear-layout baseline for the non-sorted dim is ~100%."""
    import glob

    import pyarrow.parquet as pq

    from shuttle_spark.sources import io as IO

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    out = staged_dir(spark, o, params=("zorder",))
    # row-group size targets ~24 groups at ANY sf: enough granularity for
    # the span property, without the per-group writer overhead of hundreds
    # of tiny groups (measured 1.8 s -> 0.7 s for the sf0.1 write).  Row
    # count comes from the SOURCE parquet footers (driver-side pyarrow
    # metadata — zero Spark jobs; relayout preserves rows).
    from shuttle_spark.catalog import source_rows, table_path

    n_rows = source_rows(table_path(sf, "orders"))
    rg_bytes = max(16 * 1024, n_rows * 20 // 24)
    # integrity metrics ride the write job (observe hook, attached above
    # the range exchange); on-disk content is then verified by a single
    # column-pruned read-back md5 pass plus a parquet-footer count().
    from pyspark.sql import Observation

    obs = Observation()
    key_w = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
    )
    IO.zorder_write(
        spark, o, out, ["o_custkey", "o_totalprice"], bits=8, n_files=4,
        row_group_bytes=rg_bytes,
        observation=obs,
        observed=[F.count(F.lit(1)).alias("cnt")],
    )
    m = obs.get

    spans: dict[str, list[float]] = {"o_custkey": [], "o_totalprice": []}
    mins: dict[str, float] = {}
    maxs: dict[str, float] = {}
    for f in glob.glob(out + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for i in range(md.row_group(rg).num_columns):
                c = md.row_group(rg).column(i)
                name = c.path_in_schema
                if name in spans:
                    st = c.statistics
                    spans[name].append(float(st.max - st.min))
                    mins[name] = min(mins.get(name, float(st.min)), float(st.min))
                    maxs[name] = max(maxs.get(name, float(st.max)), float(st.max))
    # global column ranges come from the same footers (no extra Spark job)
    # with too few row groups (tiny SF) a group covers most of the curve
    # and the span bound is vacuous — assert it only when the layout has
    # enough granularity for the property to discriminate.
    n_groups = len(spans["o_custkey"])
    bounded = n_groups < 8 or all(
        sum(s) / len(s) / (maxs[c] - mins[c]) < 0.6
        for c, s in spans.items()
    )

    back = IO.read(spark, out)
    # footer row count comes from the SAME driver-side footer pass that
    # read the spans above — zero extra Spark jobs
    back_cnt = sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(out + "/*.parquet")
    )
    # the reported checksum IS the full decode-path read-back of the
    # output (see compact_roundtrip_checksum): one md5 pass, and the
    # driver's hash-compare against the source-table oracle verifies disk
    # content end-to-end
    checksum = _readback_checksum(back, key_w)
    return spark.createDataFrame(
        [
            (
                int(m["cnt"]),
                int(checksum),
                bool(bounded and back_cnt == int(m["cnt"])),
            )
        ],
        "cnt bigint, checksum bigint, skips_both_dims boolean",
    )


@contract(
    "csv_roundtrip_checksum",
    "SELECT COUNT(*) AS cnt,"
    " CAST(SUM(CAST('0x' || SUBSTR(md5("
    "  CAST(c_custkey AS VARCHAR) || '|' || c_mktsegment"
    "  || '|' || CAST(ROUND(c_acctbal * 100) AS BIGINT)"
    " ), 1, 8) AS BIGINT)) AS BIGINT) AS checksum FROM customer",
    "B1",
    "sink",
)
def q_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """CSV source/sink under the oracle gate: customer written as CSV and
    read back with a DECLARED schema (io.read refuses inference — the
    second-full-scan tax at 100 TB), content-checksummed against the
    parquet-sourced oracle.  Doubles (c_acctbal) ride the text format as
    their exact decimal rendering, so the scaled-long checksum proves the
    round-trip is value-exact, not just row-count-preserving."""
    from shuttle_spark.operators.integrity import md5_prefix
    from shuttle_spark.sources import io as IO

    c = load_table(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    out = staged_dir(spark, c, params=("csv",))
    IO.write(c, out, "csv", mode="overwrite")
    back = IO.read(
        spark, out, "csv",
        schema="c_custkey bigint, c_mktsegment string, c_acctbal double",
    )
    key = F.concat_ws(
        "|",
        F.col("c_custkey").cast("string"),
        F.col("c_mktsegment"),
        F.round(F.col("c_acctbal") * 100).cast("long").cast("string"),
    )
    return back.agg(
        F.count("*").alias("cnt"),
        F.sum(md5_prefix(key, 32)).alias("checksum"),
    )


@contract(
    "json_roundtrip_checksum",
    "SELECT COUNT(*) AS cnt,"
    " CAST(SUM(CAST('0x' || SUBSTR(md5("
    "  CAST(s_suppkey AS VARCHAR) || '|' || s_name"
    "  || '|' || CAST(s_nationkey AS VARCHAR)"
    " ), 1, 8) AS BIGINT)) AS BIGINT) AS checksum FROM supplier",
    "B1",
    "sink",
)
def q_json_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-lines source/sink under the oracle gate: supplier written as
    newline-delimited JSON, read back with a declared schema, checksummed
    against the parquet-sourced oracle."""
    from shuttle_spark.operators.integrity import md5_prefix
    from shuttle_spark.sources import io as IO

    s = load_table(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    out = staged_dir(spark, s, params=("json",))
    IO.write(s, out, "json", mode="overwrite")
    back = IO.read(
        spark, out, "json",
        schema="s_suppkey bigint, s_name string, s_nationkey bigint",
    )
    key = F.concat_ws(
        "|",
        F.col("s_suppkey").cast("string"),
        F.col("s_name"),
        F.col("s_nationkey").cast("string"),
    )
    return back.agg(
        F.count("*").alias("cnt"),
        F.sum(md5_prefix(key, 32)).alias("checksum"),
    )


@contract(
    "schema_evolution_read",
    "SELECT o_orderstatus, COUNT(*) AS cnt,"
    " CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN o_custkey ELSE 0 END)"
    "  AS BIGINT) AS sum_new_col"
    " FROM orders GROUP BY o_orderstatus",
    "B1",
    "sink",
    "memoized",
)
def q_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Schema evolution across batches (the lakehouse drift case): batch 1
    lands WITHOUT o_custkey, batch 2 adds it; a mergeSchema read widens
    the union, old rows surface NULL for the new column, and the
    aggregate (null-safe sum) must match the source-table oracle that
    computes the same split arithmetically.  At 100 TB this is the
    append-only corpus whose schema grew mid-year — the reader, not a
    rewrite of petabytes, absorbs the drift.  The two-schema landing pair
    is a MEMOIZED FIXTURE (deterministic from the source table, like the
    compact landing zone), and so is the mergeSchema READ relation
    (round 10): schema resolution over a drifted corpus is a CATALOG
    concern — a real reader resolves the widened schema once per
    session, not once per query (exactly load_table's _df_cache
    discipline; the distributed footer-merge job was re-paid on every
    warm call and dominated the row's wall at ~0.5-1 s).  The first
    call still exercises the full mergeSchema resolution; what every
    call verifies is the NULL-widened union aggregate."""
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )

    def build(d: str) -> None:
        o.filter(F.col("o_orderkey") % 2 == 1).drop("o_custkey").write.parquet(
            d + "/b1"
        )
        o.filter(F.col("o_orderkey") % 2 == 0).write.parquet(d + "/b2")

    out = staged_dir(spark, o, params=("evolve",), build=build)
    back = _evolve_read_cache.cached(
        cache_key(o, params=(out,)),
        lambda: spark.read.option("mergeSchema", "true").parquet(
            out + "/b1", out + "/b2"
        ),
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        F.sum(F.coalesce(F.col("o_custkey"), F.lit(0)))
        .cast("bigint")
        .alias("sum_new_col"),
    )


_FUZZY_SQL = (
    "WITH l AS (SELECT p_partkey AS lid, lower(p_name) AS s FROM part"
    "  WHERE p_partkey < 400),"
    " r AS (SELECT p_partkey + 1000000 AS rid,"
    "  regexp_replace(lower(p_name), '[aeiou]', '', 'g') AS s FROM part"
    "  WHERE p_partkey < 400),"
    " lt AS (SELECT lid, list_distinct([substr(s, CAST(i AS INTEGER), 3)"
    "  for i in generate_series(1, len(s)-2)]) AS gs FROM l),"
    " rt AS (SELECT rid, list_distinct([substr(s, CAST(i AS INTEGER), 3)"
    "  for i in generate_series(1, len(s)-2)]) AS gs FROM r),"
    " pairs AS (SELECT lid, rid,"
    "  CAST(len(list_intersect(lt.gs, rt.gs)) AS DOUBLE)"
    "   / (len(lt.gs) + len(rt.gs) - len(list_intersect(lt.gs, rt.gs)))"
    "   AS jac FROM lt, rt)"
    " SELECT lid, rid, ROUND(jac, 6) AS jac FROM pairs WHERE jac >= 0.3"
)


@contract("fuzzy_join_names", _FUZZY_SQL, "B28", "B12")
def q_fuzzy_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bipartite fuzzy string join (neardup.fuzzy_string_join): part names
    matched against their vowel-stripped corruptions at trigram-Jaccard
    >= 0.3 — the record-linkage / cross-catalog entity-matching shape.
    The engine runs the inverted-index equi-join; the ORACLE runs the
    literal quadratic cross product (list_intersect over trigram lists), so
    agreement proves the index join computes exactly the all-pairs result.
    Sides bounded to p_partkey < 400 purely to keep the oracle's O(n^2)
    affordable — the engine path has no such bound."""
    p = load_table(spark, sf, "part").filter(F.col("p_partkey") < 400)
    left = p.select(
        F.col("p_partkey").alias("lid"), F.lower("p_name").alias("ls")
    )
    right = p.select(
        (F.col("p_partkey") + 1000000).alias("rid"),
        F.regexp_replace(F.lower("p_name"), "[aeiou]", "").alias("rs"),
    )
    return N.fuzzy_string_join(left, right, tau=0.3)


_PII_INJECT_SQL = (
    "SELECT doc_id, text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR)"
    "   || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' call 555-010-'"
    "   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)"
    "   || '.' || CAST(doc_id % 256 AS VARCHAR) || '.'"
    "   || CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS text"
    " FROM documents"
)

_PII_SCRUB_SQL = (
    "WITH injected AS (" + _PII_INJECT_SQL + "),"
    " flagged AS (SELECT doc_id, text,"
    "  regexp_matches(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')"
    "   AS email_found,"
    "  regexp_matches(text,"
    "   '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b') AS ip_found,"
    "  regexp_matches(text, '\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b')"
    "   AS phone_found,"
    "  regexp_replace(regexp_replace(regexp_replace(text,"
    "   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),"
    "   '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '[IP]', 'g'),"
    "   '\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b', '[PHONE]', 'g') AS scrubbed"
    " FROM injected)"
    " SELECT CAST(SUM(CASE WHEN email_found THEN 1 ELSE 0 END) AS BIGINT)"
    "   AS n_email,"
    "  CAST(SUM(CASE WHEN ip_found THEN 1 ELSE 0 END) AS BIGINT) AS n_ip,"
    "  CAST(SUM(CASE WHEN phone_found THEN 1 ELSE 0 END) AS BIGINT) AS n_phone,"
    "  CAST(SUM(CASE WHEN NOT (email_found OR ip_found OR phone_found)"
    "   THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,"
    "  CAST(SUM(LENGTH(scrubbed)) AS BIGINT) AS total_len,"
    "  CAST(COUNT(DISTINCT md5(scrubbed)) AS BIGINT) AS n_distinct"
    " FROM flagged"
)


@contract("pii_scrub_counts", _PII_SCRUB_SQL, "B30", "B19")
def q_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing (operators/pipeline.scrub_pii) under the oracle gate.

    The testdata corpus carries no PII, so both engines first INJECT
    deterministic synthetic PII derived from doc_id (same expression, same
    rows — the hot-key-fold trick from skew_join_agg applied to privacy),
    then scrub.  The gate hashes per-type detection counts, the total
    scrubbed length, and the distinct-md5 count of the scrubbed corpus —
    i.e. the redacted TEXT must agree byte-for-byte, not just the counts.
    Patterns live in the Java-regex/RE2 common subset; see
    pipeline.PII_PATTERNS."""
    docs = load_table(spark, sf, "documents")
    return _pii_scrub_agg(_pii_inject(docs))


def _pii_inject(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic-PII injection, Spark twin of
    _PII_INJECT_SQL (exact same expression per doc_id)."""
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" contact u"),
                    did.cast("string"),
                    F.lit("@ex"),
                    (did % 7).cast("string"),
                    F.lit(".com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" call 555-010-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (did % 256).cast("string"),
                    F.lit("."),
                    (did % 256).cast("string"),
                    F.lit("."),
                    (did % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def _pii_agg(scrubbed: DataFrame) -> DataFrame:
    """ONE aggregate list for the batch and stream PII twins — the two
    contracts must hash-match the same oracle, so the expressions live in
    exactly one place."""
    none_found = ~(
        F.col("email_found") | F.col("ip_found") | F.col("phone_found")
    )
    return scrubbed.agg(
        F.sum(F.when(F.col("email_found"), 1).otherwise(0)).alias("n_email"),
        F.sum(F.when(F.col("ip_found"), 1).otherwise(0)).alias("n_ip"),
        F.sum(F.when(F.col("phone_found"), 1).otherwise(0)).alias("n_phone"),
        F.sum(F.when(none_found, 1).otherwise(0)).alias("n_clean"),
        F.sum(F.length("text")).alias("total_len"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
    )


def _pii_scrub_agg(injected: DataFrame) -> DataFrame:
    return _pii_agg(P.scrub_pii(injected))


@contract("stream_pii_scrub", _PII_SCRUB_SQL, "B30", "ext")
def q_stream_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing as a STREAM stage: the corpus arrives in 2 micro-
    batches of 2 files, each injected + scrubbed map-side in-flight (scrub_pii is
    row-local, so it rides any streaming pipeline with zero state), the
    replayed output is aggregated and must hash-match the all-at-once
    batch oracle — stream == batch for stateless stages, proven rather
    than assumed."""
    from shuttle_spark.streaming.core import (
        run_available_now,
        staged_documents_files,
    )

    d = staged_documents_files(spark, sf, 4)
    docs_stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string,"
            " n_chars bigint"
        )
        .option("maxFilesPerTrigger", 2)  # 4 files -> 2 real micro-batches (VERDICT r5 item 2)
        .parquet(d)
    )
    scrubbed = P.scrub_pii(_pii_inject(docs_stream))
    out = run_available_now(scrubbed, shuffle_partitions=4)
    return _pii_agg(out)


_STREAM_KEEP_LATEST_ORACLE = (
    "SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts_us, event_id, event_type"
    " FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id"
    "   ORDER BY ts::TIMESTAMP DESC, event_id DESC) AS rn FROM events)"
    " WHERE rn = 1 AND ts::TIMESTAMP <"
    "  (SELECT MAX(ts::TIMESTAMP) - INTERVAL 2 HOUR FROM events)"
)


@keyed_stream_contracts(
    ("stream_keep_latest", "skl", None),
    ("stream_keep_latest_packed", "sklp"),
    _STREAM_KEEP_LATEST_ORACLE,
    "B8",
)
def q_stream_keep_latest(spark: SparkSession, sf: str, replay) -> DataFrame:
    """The custom STATEFUL streaming operator (the keyed-recurrence fold):
    latest event per user, emitted when the 2 h watermark passes the user's
    quiet period — hash-matched against the batch keep-latest oracle
    restricted to quiesced users.  This is the reference's stale-attempt
    filter (PartitionPipeReader.java:150-170) as a live streaming op."""
    from shuttle_spark.streaming import events_stream, stream_keep_latest

    out = replay(stream_keep_latest, events_stream(spark, sf))
    return out.select("user_id", "ts_us", "event_id", "event_type")


@contract(
    "stream_sessionize",
    "WITH marked AS (SELECT user_id, ts::TIMESTAMP AS ts,"
    "  CASE WHEN ts::TIMESTAMP - LAG(ts::TIMESTAMP, 1, TIMESTAMP '1970-01-01')"
    "   OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE"
    "  THEN 1 ELSE 0 END AS new_s FROM events),"
    " sess AS (SELECT user_id, ts,"
    "  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts"
    "   ROWS UNBOUNDED PRECEDING) AS sid FROM marked)"
    " SELECT user_id, epoch_us(MIN(ts)) AS session_start_us,"
    "  CAST(COUNT(*) AS BIGINT) AS n_events FROM sess GROUP BY user_id, sid"
    " HAVING MAX(ts) + INTERVAL 30 MINUTE <="
    "  (SELECT MAX(ts::TIMESTAMP) - INTERVAL 2 HOUR FROM events)",
    "B25",
)
def q_stream_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows computed by an ACTUAL streaming replay
    (session_window + watermark), hash-matched against a lag/cumsum
    sessionization oracle on sessions the watermark has closed
    (session end + gap <= watermark).  The cutoff stays: a session end
    is µs-grain (an event time plus the gap), so the hour-aligned
    argument that lets stream_window_agg rest on the watermark alone does
    not hold here, and the oracle's µs bound stays explicit."""
    import datetime as dt

    from shuttle_spark.streaming import events_stream, run_available_now, session_agg_stream

    ev = load_table(spark, sf, "events")
    cutoff = ev.agg(F.max("ts")).collect()[0][0] - dt.timedelta(hours=2)
    out = run_available_now(
        session_agg_stream(events_stream(spark, sf), "30 minutes", "2 hours"),
        f"sss_{abs(hash(sf)) % 99999}",
        shuffle_partitions=4,
    )
    return out.filter(F.col("session_end") <= F.lit(cutoff)).select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        "n_events",
    )


@contract(
    "stream_stream_join",
    "SELECT a.user_id AS user_id, a.event_id AS l_id, b.event_id AS r_id"
    " FROM events a JOIN events b ON a.user_id = b.user_id"
    "  AND b.ts::TIMESTAMP >= a.ts::TIMESTAMP"
    "  AND b.ts::TIMESTAMP <= a.ts::TIMESTAMP + INTERVAL 1 HOUR"
    " WHERE a.event_type = 'click' AND b.event_type = 'purchase'",
    "B24",
)
def q_stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked stream-stream inner join (clicks -> purchases within 1 h
    per user) computed by an ACTUAL streaming replay, hash-matched against
    the batch time-bounded self-join.  Inner matches are emitted as they
    arrive, so the replay equals batch with no cutoff filter; the watermark
    + two-sided time bound exist to bound join state at scale."""
    from shuttle_spark.streaming import (
        events_stream,
        run_available_now,
        stream_stream_join,
    )

    ev = events_stream(spark, sf)
    joined = stream_stream_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        key="user_id",
        within="1 hour",
        watermark="2 hours",
    )
    out = run_available_now(
        joined, f"ssj_{abs(hash(sf)) % 99999}", shuffle_partitions=4
    )
    return out.select("user_id", "l_id", "r_id")


@contract(
    "global_pctrank_distributed",
    "SELECT p_partkey, ROUND(PERCENT_RANK() OVER"
    " (ORDER BY p_retailprice, p_partkey), 9) AS pct_rank FROM part",
    "B18",
)
def q_global_pctrank(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed PERCENT_RANK (B18 scale path): range-bucket two-pass
    ranking + (rank-1)/(N-1) — no single-partition window anywhere (the
    deliberate single-partition form is window_ntile_pctrank; this is the
    100 TB plan).  Total order via (value, key) so rank == row_number and
    the result equals SQL PERCENT_RANK bit-for-bit."""
    part = load_table(spark, sf, "part")
    out = R.global_percent_rank(
        part, "p_retailprice", [F.col("p_retailprice"), F.col("p_partkey")]
    )
    return out.select("p_partkey", F.round("pct_rank", 9).alias("pct_rank"))


@contract("stream_dedup_dup_count", "SELECT COUNT(*) AS cnt FROM events", "B7")
def q_stream_dedup_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming dedup under the oracle gate: the events file is staged
    TWICE into the stream source (every event arrives as a duplicate), and
    `dropDuplicatesWithinWatermark` on event_id must emit each event
    exactly once — the live twin of the reference's duplicate-block
    seen-set (ShufflePartitionReader.java:378-393, replayed map attempts
    dropped on read).  Exact because a duplicate pair shares its event
    time, so it is always inside the watermark window."""
    import os

    from shuttle_spark.catalog import table_path
    from shuttle_spark.streaming import run_available_now
    from shuttle_spark.streaming.core import events_raw_schema

    src = table_path(sf, "events")
    # per-part symlinks (a directory source cannot be one *.parquet link)
    parts = (
        sorted(
            os.path.join(src, f)
            for f in os.listdir(src)
            if f.endswith(".parquet")
        )
        if os.path.isdir(src)
        else [src]
    )

    def build(d: str) -> None:
        for i in range(2):
            for j, part in enumerate(parts):
                os.symlink(part, os.path.join(d, f"events-{i}-{j}.parquet"))

    d = staged_dir(spark, src, params=("events_dup",), build=build)
    from shuttle_spark.catalog import normalize_events_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = normalize_events_ts(
        spark.readStream.schema(events_raw_schema(sf)).parquet(d)
    )
    stream = stream.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = run_available_now(
        stream, f"sdd_{abs(hash(sf)) % 99999}", shuffle_partitions=4
    )
    return out.agg(F.count("*").alias("cnt"))


@contract(
    "global_rank_distributed",
    "SELECT p_partkey, ROW_NUMBER() OVER (ORDER BY p_retailprice, p_partkey)"
    " AS rn FROM part",
    "B18",
)
def q_global_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Global ROW_NUMBER over the whole table WITHOUT a single-partition
    window: range-bucket on approx quantiles, per-bucket row_number (one
    even hash shuffle) plus broadcast prefix-sum offsets — the 100 TB-safe
    form of B18's global ranking (R.global_rank)."""
    p = load_table(spark, sf, "part")
    return R.global_rank(
        p, "p_retailprice", [F.col("p_retailprice"), F.col("p_partkey")]
    ).select("p_partkey", "rn")


# ===========================================================================
# Scalar-function breadth (B19), conditional/multi-distinct aggregation,
# window-function breadth (B17-B18), and the raw SQL surface
# ===========================================================================

@contract(
    "date_functions",
    "SELECT o_orderkey, EXTRACT(YEAR FROM o_orderdate)::INT AS yr,"
    " EXTRACT(MONTH FROM o_orderdate)::INT AS mo,"
    " EXTRACT(DOW FROM o_orderdate)::INT AS dow,"
    " CAST(o_orderdate + INTERVAL 90 DAY AS DATE) AS due,"
    " CAST(LAST_DAY(o_orderdate) AS DATE) AS eom"
    " FROM orders ORDER BY o_orderkey LIMIT 200",
    "B19",
)
def q_date_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Date/time scalar breadth.  DOW conventions align (Sunday=0 in DuckDB
    EXTRACT(DOW); Spark dayofweek is 1-based Sunday=1, so shift by one)."""
    o = load_table(spark, sf, "orders")
    return (
        o.select(
            "o_orderkey",
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            (F.dayofweek("o_orderdate") - 1).alias("dow"),
            F.date_add(F.col("o_orderdate").cast("date"), 90).alias("due"),
            F.last_day("o_orderdate").alias("eom"),
        )
        .orderBy("o_orderkey")
        .limit(200)
    )


@contract(
    "string_functions",
    "SELECT c_custkey, LPAD(c_name, 25, '*') AS padded,"
    " REGEXP_EXTRACT(c_name, '([0-9]+)$', 1) AS num_suffix,"
    " REPLACE(TRANSLATE(c_name, '#', '@'), 'Customer', 'Cust') AS xlated,"
    " LENGTH(c_name)::BIGINT AS name_len,"
    " (c_name LIKE '%1%') AS has_one"
    " FROM customer ORDER BY c_custkey LIMIT 200",
    "B19",
)
def q_string_functions(spark: SparkSession, sf: str) -> DataFrame:
    """String scalar breadth: pad, regex extraction, translate/replace,
    length, LIKE."""
    c = load_table(spark, sf, "customer")
    return (
        c.select(
            "c_custkey",
            F.lpad("c_name", 25, "*").alias("padded"),
            F.regexp_extract("c_name", r"([0-9]+)$", 1).alias("num_suffix"),
            F.replace(
                F.translate("c_name", "#", "@"), F.lit("Customer"), F.lit("Cust")
            ).alias("xlated"),
            F.length("c_name").cast("long").alias("name_len"),
            F.col("c_name").like("%1%").alias("has_one"),
        )
        .orderBy("c_custkey")
        .limit(200)
    )


@contract(
    "conditional_agg",
    "SELECT l_returnflag,"
    " COUNT(*) FILTER (WHERE l_quantity > 25) AS big_qty,"
    " COUNT(*) FILTER (WHERE l_discount = 0) AS no_disc,"
    + _osum("CASE WHEN l_tax > 0.04 THEN l_extendedprice ELSE 0 END", "taxed_rev")
    + " FROM lineitem GROUP BY l_returnflag",
    "B6",
)
def q_conditional_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional aggregation (FILTER / CASE inside agg) — one pass, no
    self-joins."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_quantity") > 25).alias("big_qty"),
        F.count_if(F.col("l_discount") == 0).alias("no_disc"),
        dsum(
            F.when(F.col("l_tax") > 0.04, F.col("l_extendedprice")).otherwise(0.0),
            "taxed_rev",
        ),
    )


@contract(
    "multi_distinct_agg",
    "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_part,"
    " COUNT(DISTINCT l_suppkey) AS nd_supp, COUNT(*) AS cnt"
    " FROM lineitem GROUP BY l_returnflag",
    "B7",
)
def q_multi_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Multiple DISTINCT aggregates in one query — Spark plans an Expand
    (data duplication per distinct set) + two-phase agg; the canonical
    hard-to-shuffle shape."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("nd_part"),
        F.countDistinct("l_suppkey").alias("nd_supp"),
        F.count("*").alias("cnt"),
    )


@contract(
    "window_lag_lead",
    "SELECT o_custkey, o_orderkey,"
    " ROUND(o_totalprice - LAG(o_totalprice, 1, 0.0) OVER w, 2) AS delta_prev,"
    " LEAD(o_orderkey, 1) OVER w AS next_order"
    " FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"
    " ORDER BY o_custkey, o_orderkey LIMIT 300",
    "B17",
)
def q_window_lag_lead(spark: SparkSession, sf: str) -> DataFrame:
    """lag/lead over a per-customer order timeline."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round(
                F.col("o_totalprice") - F.lag("o_totalprice", 1, 0.0).over(w), 2
            ).alias("delta_prev"),
            F.lead("o_orderkey", 1).over(w).alias("next_order"),
        )
        .orderBy("o_custkey", "o_orderkey")
        .limit(300)
    )


@contract(
    "window_ntile_pctrank",
    "SELECT p_partkey, NTILE(4) OVER w AS quartile,"
    " ROUND(PERCENT_RANK() OVER w, 6) AS pr,"
    " ROUND(CUME_DIST() OVER w, 6) AS cd"
    " FROM part WINDOW w AS (ORDER BY p_retailprice, p_partkey)"
    " ORDER BY p_partkey LIMIT 300",
    "B18",
)
def q_window_ntile(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution window functions (ntile/percent_rank/cume_dist) over a
    global order — the single-partition window every engine must special-case
    (at scale: pre-aggregate or bucketize instead; contracted here for
    semantics)."""
    p = load_table(spark, sf, "part")
    w = Window.orderBy("p_retailprice", "p_partkey")
    return (
        p.select(
            "p_partkey",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
        )
        .orderBy("p_partkey")
        .limit(300)
    )


@contract(
    "sql_correlated_subquery",
    "SELECT o_orderkey, o_totalprice FROM orders o"
    " WHERE CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) > 2.0 * (SELECT SUM(CAST(FLOOR(o2.o_totalprice * 100 + 0.5) AS BIGINT)) / COUNT(*) FROM orders o2"
    "  WHERE o2.o_orderpriority = o.o_orderpriority)"
    " ORDER BY o_orderkey",
    "B12",
)
def q_sql_correlated(spark: SparkSession, sf: str) -> DataFrame:
    """The raw SQL surface: a correlated scalar subquery submitted as text
    via spark.sql over registered views — Catalyst decorrelates it into the
    same agg+join plan the DataFrame API would build."""
    load_table(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        "SELECT o_orderkey, o_totalprice FROM orders o"
        " WHERE CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) > 2.0 * (SELECT SUM(CAST(FLOOR(o2.o_totalprice * 100 + 0.5) AS BIGINT)) / COUNT(*) FROM orders o2"
        "  WHERE o2.o_orderpriority = o.o_orderpriority)"
        " ORDER BY o_orderkey"
    )


# ===========================================================================
# Merge/upsert, full-outer join + null handling, gap filling, map/array ops
# ===========================================================================

@contract(
    "upsert_merge",
    "SELECT COUNT(*) AS cnt, "
    + _osum("price", "total")
    + " FROM (SELECT COALESCE(u.p2, b.o_totalprice) AS price FROM orders b"
    " LEFT JOIN (SELECT o_orderkey, o_totalprice * 2 AS p2 FROM orders"
    "  WHERE o_orderkey % 10 = 0) u ON b.o_orderkey = u.o_orderkey)",
    "B8",
)
def q_upsert_merge(spark: SparkSession, sf: str) -> DataFrame:
    """CDC-style upsert: updated rows (every 10th order, price doubled)
    replace base rows by key — one union + keep-latest window, no join
    (the oracle states the same result as a left join).  The engine twin of
    the reference's latest-attempt-wins block replacement."""
    o = load_table(spark, sf, "orders")
    updates = o.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    merged = D.upsert(o, updates, ["o_orderkey"])
    return merged.agg(
        F.count("*").alias("cnt"), dsum("o_totalprice", "total")
    )


@contract(
    "full_outer_nulls",
    "SELECT COUNT(*) AS cnt,"
    " COUNT(*) FILTER (WHERE c_custkey IS NULL) AS orphan_orders,"
    " COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS orderless_custs,"
    " CAST(SUM(CASE WHEN o_totalprice IS NULL THEN -1::BIGINT"
    "  ELSE CAST(FLOOR(o_totalprice) AS BIGINT) END) AS BIGINT) AS total_with_sentinel"
    " FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey",
    "B14",
)
def q_full_outer(spark: SparkSession, sf: str) -> DataFrame:
    """Full outer join with explicit null-handling aggregates (COALESCE
    sentinel arithmetic).

    Plan: partial-aggregation pushdown through the outer join — orders
    pre-aggregates per custkey (count + floor-sum), the FULL OUTER join
    then runs key-vs-key (|customers| + |custkeys| rows, not |orders|),
    and the final aggregate reconstitutes the row-level answers exactly
    (matched/orphan keys contribute their group count and sum; orderless
    customers contribute 1 row and the -1 sentinel).  This is the
    classic eager-aggregation rewrite: at 100 TB the join input shrinks
    from the fact table to its key cardinality, with identical results
    for these decomposable aggregates."""
    c = load_table(spark, sf, "customer").select("c_custkey")
    o = load_table(spark, sf, "orders")
    return _full_outer_sentinel_agg(c, o)


def _full_outer_sentinel_agg(c: DataFrame, o: DataFrame) -> DataFrame:
    """The eager-aggregation rewrite shared by full_outer_nulls and its
    NULL-price twin: orders pre-aggregate per custkey, the full outer join
    runs key-vs-key, the final aggregate reconstitutes row-level answers."""
    o_agg = o.groupBy("o_custkey").agg(
        F.count("*").alias("__n"),
        # the per-ROW null sentinel folds into the partial aggregate
        # (NULL price -> -1 here, not after the join): a bare
        # sum(floor(price)) would silently skip NULL-priced rows and
        # diverge from the row-level oracle whenever a group mixes NULL
        # and non-NULL prices
        F.sum(
            F.when(
                F.col("o_totalprice").isNull(), F.lit(-1).cast("long")
            ).otherwise(F.floor("o_totalprice").cast("long"))
        ).alias("__sum_fl"),
    )
    j = c.join(o_agg, F.col("c_custkey") == F.col("o_custkey"), "full_outer")
    return j.agg(
        F.sum(F.coalesce(F.col("__n"), F.lit(1))).cast("long").alias("cnt"),
        F.sum(
            F.when(F.col("c_custkey").isNull(), F.col("__n")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("orphan_orders"),
        F.count_if(F.col("__n").isNull()).alias("orderless_custs"),
        F.sum(
            F.when(F.col("__n").isNull(), F.lit(-1).cast("long")).otherwise(
                F.col("__sum_fl")
            )
        ).alias("total_with_sentinel"),
    )


@contract(
    "full_outer_null_prices",
    "SELECT COUNT(*) AS cnt,"
    " COUNT(*) FILTER (WHERE c_custkey IS NULL) AS orphan_orders,"
    " COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS orderless_custs,"
    " CAST(SUM(CASE WHEN o_totalprice IS NULL THEN -1::BIGINT"
    "  ELSE CAST(FLOOR(o_totalprice) AS BIGINT) END) AS BIGINT) AS total_with_sentinel"
    " FROM customer FULL OUTER JOIN"
    " (SELECT o_orderkey, o_custkey,"
    "   CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END"
    "   AS o_totalprice FROM orders) o"
    " ON c_custkey = o_custkey",
    "B14",
)
def q_full_outer_null_prices(spark: SparkSession, sf: str) -> DataFrame:
    """full_outer_nulls with genuinely NULL aggregate inputs: every 7th
    order's price is nulled (deterministically, on both engines), so
    custkey groups MIX null and non-null prices and the -1 sentinel fires
    on real order rows, not only on orderless customers.  TPC-H has no
    NULL o_totalprice, so the base contract's oracle could never see the
    divergence class the round-5 review caught (a bare sum(floor(price))
    silently skipping NULL rows in the eager-aggregation rewrite); this
    twin makes that class permanently oracle-gated."""
    c = load_table(spark, sf, "customer").select("c_custkey")
    o = load_table(spark, sf, "orders").withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.lit(None).cast("double")
        ).otherwise(F.col("o_totalprice")),
    )
    return _full_outer_sentinel_agg(c, o)


@contract(
    "scd2_intervals",
    "WITH ordered AS (SELECT user_id, ts::TIMESTAMP AS ts, event_type, event_id,"
    "   LAG(event_type) OVER (PARTITION BY user_id"
    "    ORDER BY ts::TIMESTAMP, event_id) AS prev FROM events),"
    " runs AS (SELECT user_id, ts, event_type,"
    "   SUM(CASE WHEN prev IS NOT DISTINCT FROM event_type THEN 0 ELSE 1 END)"
    "    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run"
    "  FROM ordered),"
    " iv AS (SELECT user_id, run, event_type, MIN(ts) AS valid_from"
    "  FROM runs GROUP BY 1, 2, 3),"
    " hist AS (SELECT user_id, event_type, valid_from,"
    "   LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run)"
    "    AS valid_to FROM iv)"
    " SELECT event_type, COUNT(*) AS n_intervals,"
    "  COUNT(*) FILTER (WHERE valid_to IS NULL) AS n_open,"
    "  CAST(SUM(epoch_us(valid_from) % 4294967296) AS BIGINT)"
    "   AS sum_from_folded"
    " FROM hist GROUP BY 1",
    "B17",
    "ext",
)
def q_scd2_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """SCD-2 change history (relational.scd2_intervals): the events log
    collapsed into per-user validity intervals — one row per run of equal
    event_type, valid_from = the run's first event time, valid_to = the
    next run's start (NULL while current).  Summarized per event_type
    (interval count, open-interval count, 32-bit-folded epoch checksum
    of the interval starts) so the gate pins run-collapsing, interval bounds,
    and the null-safe change comparison.  One hash exchange on user_id
    serves all three window passes."""
    ev = load_table(spark, sf, "events")
    hist = R.scd2_intervals(ev, "user_id", "ts", "event_type", tiebreak="event_id")
    return hist.groupBy("event_type").agg(
        F.count("*").alias("n_intervals"),
        F.count_if(F.col("valid_to").isNull()).alias("n_open"),
        # 32-bit-folded epoch terms (integrity-module convention): a raw
        # epoch-µs sum overflows int64 once a group holds ~10^4 intervals
        # — found live by the sf0.1 bench under ANSI mode
        F.sum(F.pmod(F.unix_micros("valid_from"), F.lit(1 << 32))).alias(
            "sum_from_folded"
        ),
    )


@contract(
    "funnel_stages",
    "WITH mins AS (SELECT user_id,"
    "   MIN(CASE WHEN event_type = 'view' THEN ts::TIMESTAMP END) AS t0,"
    "   MIN(CASE WHEN event_type = 'click' THEN ts::TIMESTAMP END) AS t1,"
    "   MIN(CASE WHEN event_type = 'signup' THEN ts::TIMESTAMP END) AS t2,"
    "   MIN(CASE WHEN event_type = 'purchase' THEN ts::TIMESTAMP END) AS t3"
    "  FROM events GROUP BY 1),"
    " d AS (SELECT CASE"
    "   WHEN t0 IS NOT NULL AND t1 > t0 AND t2 > t1 AND t3 > t2 THEN 4"
    "   WHEN t0 IS NOT NULL AND t1 > t0 AND t2 > t1 THEN 3"
    "   WHEN t0 IS NOT NULL AND t1 > t0 THEN 2"
    "   WHEN t0 IS NOT NULL THEN 1 ELSE 0 END AS depth FROM mins)"
    " SELECT depth, COUNT(*) AS n_keys FROM d GROUP BY 1",
    "B6",
    "ext",
)
def q_funnel_stages(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel (relational.funnel_stages): per user the
    furthest view -> click -> signup -> purchase stage reached, each
    stage's FIRST occurrence strictly after the previous stage's first
    occurrence; the contract pins the depth histogram.  One conditional
    aggregation per user + a tiny second aggregate — no joins, no
    windows, no per-stage passes."""
    ev = load_table(spark, sf, "events")
    return R.funnel_stages(
        ev, ["view", "click", "signup", "purchase"], "user_id", "ts"
    ).withColumn("depth", F.col("depth").cast("int"))


@contract(
    "cohort_retention",
    "WITH act AS (SELECT user_id,"
    "   CAST(date_trunc('week', ts::TIMESTAMP) AS DATE) AS wk FROM events),"
    " coh AS (SELECT user_id, wk,"
    "   MIN(wk) OVER (PARTITION BY user_id) AS cohort FROM act)"
    " SELECT cohort, CAST(date_diff('day', cohort, wk) / 7 AS INT)"
    "  AS age_weeks, COUNT(DISTINCT user_id) AS n_active"
    " FROM coh GROUP BY 1, 2",
    "B17",
    "ext",
)
def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention (relational.cohort_retention): cohort =
    Monday of each user's first active week, n_active = distinct cohort
    members active at each week age.  One key-partition window + one
    small distinct-count exchange; the oracle recomputes the identical
    matrix."""
    ev = load_table(spark, sf, "events")
    return R.cohort_retention(ev, "user_id", "ts")


@contract(
    "triangle_count",
    "WITH e0 AS (SELECT DISTINCT GREATEST(a, b) AS a, LEAST(a, b) AS b"
    "  FROM (SELECT o_custkey % 97 AS a, o_orderkey % 89 AS b FROM orders)"
    "  WHERE a <> b)"
    " SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles"
    " FROM e0 e1 JOIN e0 e2 ON e1.b = e2.a"
    "  JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b",
    "ext",
)
def q_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Global triangle count (components.triangle_count) over a
    deterministic projected graph (order/customer key residues): the
    degree-oriented two-join dataflow whose out-degree bound keeps hub
    nodes from exploding the wedge join.  The oracle counts the same
    triangles with the canonical i>j>k three-way join."""
    o = load_table(spark, sf, "orders").select(
        (F.col("o_custkey") % 97).alias("id_a"),
        (F.col("o_orderkey") % 89).alias("id_b"),
    )
    return CC.triangle_count(o)


@contract(
    "gap_fill_hours",
    "WITH sparse AS (SELECT event_type, date_trunc('hour', ts::TIMESTAMP) AS bucket,"
    "  COUNT(*) AS cnt FROM events GROUP BY 1, 2),"
    " span AS (SELECT event_type, MIN(bucket) lo, MAX(bucket) hi FROM sparse GROUP BY 1),"
    " dense AS (SELECT event_type, UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM span)"
    " SELECT d.event_type, COUNT(*) AS n_buckets,"
    "  CAST(SUM(COALESCE(s.cnt, 0)) AS BIGINT) AS n_events,"
    "  COUNT(*) FILTER (WHERE s.cnt IS NULL) AS empty_buckets"
    " FROM dense d LEFT JOIN sparse s USING (event_type, bucket) GROUP BY 1",
    "ext",
)
def q_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series regularization: dense hourly grid per event type with
    zero-filled gaps, summarized (bucket count / event total / empty-bucket
    count) so the contract pins both the densification and the fill."""
    ev = load_table(spark, sf, "events")
    dense = R.gap_fill_time_series(
        ev, ["event_type"], "ts", {"cnt": F.count("*")}, step="1 hour", fill=0
    )
    return dense.groupBy("event_type").agg(
        F.count("*").alias("n_buckets"),
        F.sum("cnt").alias("n_events"),
        F.count_if(F.col("cnt") == 0).alias("empty_buckets"),
    )


@contract(
    "map_keys_agg",
    "SELECT k, COUNT(*) AS cnt FROM"
    " (SELECT UNNEST(json_keys(props)) AS k FROM events)"
    " GROUP BY k ORDER BY k",
    "B20",
)
def q_map_keys(spark: SparkSession, sf: str) -> DataFrame:
    """JSON -> typed map column (declared schema, never inferred) ->
    explode(map_keys) -> agg: the props-bag access pattern (B20)."""
    ev = load_table(spark, sf, "events")
    m = ev.select(
        F.from_json("props", T.MapType(T.StringType(), T.StringType())).alias("m")
    )
    return (
        m.select(F.explode(F.map_keys("m")).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("cnt"))
        .orderBy("k")
    )


@contract(
    "array_elem_stats",
    "SELECT vec_id,"
    " ROUND(list_max(CAST(embedding AS DOUBLE[])), 6) AS mx,"
    " ROUND(list_min(CAST(embedding AS DOUBLE[])), 6) AS mn,"
    " ROUND(list_sum(CAST(embedding AS DOUBLE[])), 6) AS total,"
    " LEN(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0))::INT AS n_pos"
    " FROM embeddings ORDER BY vec_id LIMIT 300",
    "B21",
)
def q_array_elem_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-row array computation breadth: max/min/sequential-sum/filter-count
    over the embedding arrays (all JVM higher-order functions; both engines
    reduce in array order so the rounded sums agree)."""
    emb = load_table(spark, sf, "embeddings")
    arr = F.transform("embedding", lambda x: x.cast("double"))
    return (
        emb.select(
            "vec_id",
            F.round(F.array_max(arr), 6).alias("mx"),
            F.round(F.array_min(arr), 6).alias("mn"),
            F.round(
                F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x), 6
            ).alias("total"),
            F.size(F.filter(arr, lambda x: x > 0)).alias("n_pos"),
        )
        .orderBy("vec_id")
        .limit(300)
    )


@contract(
    "sliding_window_agg",
    "SELECT w, event_type, COUNT(*) AS cnt FROM ("
    " SELECT event_type, UNNEST(["
    "  date_trunc('hour', ts::TIMESTAMP),"
    "  date_trunc('hour', ts::TIMESTAMP) - INTERVAL 1 HOUR]) AS w"
    " FROM events) GROUP BY w, event_type",
    "B24",
)
def q_sliding_window(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding (overlapping) windows: 2 h length, 1 h slide — every event
    lands in exactly two windows (Spark plans the expansion as a Generate;
    the oracle unnests the same two window starts)."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("win.start").alias("w"), "event_type", "cnt")
    )


@contract(
    "bpe_token_count_agg",
    "SELECT source, CAST(SUM(n_sub) AS BIGINT) AS total_subtokens FROM ("
    " SELECT source,"
    "  LEN(LIST_FILTER(STRING_SPLIT(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]', ' ', 'g'), ' '),"
    "   w -> LENGTH(w) > 0))"
    "  + LENGTH(REGEXP_REPLACE(LOWER(text), '[a-z0-9\\s]', '', 'g')) AS n_sub"
    " FROM documents) GROUP BY source",
    "B30",
)
def q_bpe_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Sub-word-ish (BPE stand-in) token counting: alphanumeric runs count
    one each, other non-space characters count one each — the cheap token
    budgeter for corpus sizing; oracle recomputes the identical regex
    arithmetic."""
    docs = load_table(spark, sf, "documents")
    return docs.groupBy("source").agg(
        F.sum(TX.bpe_ish_token_count(F.col("text"))).alias("total_subtokens")
    )


_CTE_SQL = (
    "WITH prio AS (SELECT o_orderpriority p, COUNT(*) cnt,"
    " MAX(o_totalprice) mx FROM orders GROUP BY 1),"
    " big AS (SELECT * FROM prio WHERE cnt > 10)"
    " SELECT p, cnt, ROUND(mx, 2) AS mx FROM big ORDER BY p"
)


@contract("cte_sql", _CTE_SQL, "B12")
def q_cte_sql(spark: SparkSession, sf: str) -> DataFrame:
    """Common table expressions through the raw SQL surface (identical text
    runs in both engines)."""
    load_table(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(_CTE_SQL)


# template over the source relation: the oracle binds {tbl}=orders, the
# Spark side binds a UNIQUELY-NAMED temp view — re-registering `orders` as
# the pruned 300-custkey subset would silently poison every later raw-SQL
# consumer of that shared view name in the session
_RANGE_WIN_SQL_T = (
    "SELECT o_custkey, o_orderkey, CAST(trailing_cnt AS BIGINT) AS trailing_cnt"
    " FROM (SELECT o_custkey, o_orderkey, COUNT(*) OVER ("
    "  PARTITION BY o_custkey ORDER BY o_orderdate"
    "  RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS trailing_cnt"
    " FROM {tbl}) ORDER BY o_custkey, o_orderkey LIMIT 300"
)
_RANGE_WIN_SQL = _RANGE_WIN_SQL_T.format(tbl="orders")


@contract("window_range_interval", _RANGE_WIN_SQL, "B17")
def q_window_range_interval(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE frame with a time interval (trailing 30-day order count per
    customer) — the value-based frame, distinct from ROWS frames (B17's
    cumsum): peers are chosen by timestamp distance, not position.

    Plan: limit pushdown THROUGH the partitioned window.  The final sort
    prefix (o_custkey) equals the window partition key and the frame is
    partition-local, so only rows whose custkey is among the 300 smallest
    distinct custkeys can reach the LIMIT 300 (each custkey contributes
    >=1 row) — the window then runs over a few thousand rows instead of
    the whole table.  Spark's optimizer cannot push a limit below a
    window, so the rewrite is stated here; at 100 TB it is the difference
    between windowing a fact table and windowing a broadcast-sized
    prefix."""
    o = load_table(spark, sf, "orders")
    keys = (
        o.select("o_custkey").distinct().orderBy("o_custkey").limit(300)
    )
    o.join(F.broadcast(keys), "o_custkey", "left_semi").createOrReplaceTempView(
        "orders_range_win"
    )
    return spark.sql(_RANGE_WIN_SQL_T.format(tbl="orders_range_win"))


@contract(
    "grouped_map_normalize",
    "SELECT o_orderpriority, COUNT(*) AS cnt,"
    " CAST(SUM(CAST(ROUND(COALESCE((o_totalprice - mn) / NULLIF(mx - mn, 0),"
    "  0) * 1000000000) AS BIGINT)) AS DOUBLE) / 1000000000.0 AS sum_norm"
    " FROM (SELECT o_orderpriority, o_totalprice,"
    "   MIN(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mn,"
    "   MAX(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mx"
    "  FROM orders)"
    " GROUP BY 1",
    "B26",
)
def q_grouped_map_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-map pandas UDF (applyInPandas) — the remaining member of the
    Python API matrix (scalar pandas_udf / GROUPED_AGG / UDTF / mapInPandas
    are contracted elsewhere): per-group min-max normalization where the
    whole group must be visible at once.  Arithmetic is IEEE-identical to
    the oracle's window-function restatement, and the aggregate uses the
    exact decimal-sum discipline, so the contract is hash-equal, not
    tolerance-based.  At scale this is one group-keyed exchange; groups
    stream through Arrow batches."""
    import pandas as pd  # noqa: F811

    o = load_table(spark, sf, "orders")

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        lo = pdf["o_totalprice"].min()
        rng = pdf["o_totalprice"].max() - lo
        vals = (pdf["o_totalprice"] - lo) / rng if rng > 0 else 0.0
        return pd.DataFrame(
            {"o_orderpriority": pdf["o_orderpriority"], "norm": vals}
        )

    out = o.groupBy("o_orderpriority").applyInPandas(
        norm, "o_orderpriority string, norm double"
    )
    return out.groupBy("o_orderpriority").agg(
        F.count("*").alias("cnt"),
        (
            F.sum(F.round(F.col("norm") * 1000000000).cast("long"))
            / F.lit(1000000000.0)
        ).alias("sum_norm"),
    )


_Q16_SQL = (
    "SELECT p_brand, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)"
    " AS supplier_cnt"
    " FROM part JOIN lineitem ON p_partkey = l_partkey"
    " WHERE p_brand <> 'Brand#1' AND l_suppkey NOT IN"
    "  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)"
    " GROUP BY 1, 2"
)


@contract("tpch_q16_shape", _Q16_SQL, "B12")
def q_tpch_q16(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery (planned as a NULL-AWARE anti
    join — a distinct physical shape from left_anti, which B14 covers)
    feeding a distinct-count aggregate over a fact-dim join."""
    for t in ("part", "lineitem", "supplier"):
        load_table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_Q16_SQL)


@property_contract("sample_fraction_ok", ("ok", "deterministic"), "B3")
def q_sample(spark: SparkSession, sf: str) -> tuple:
    """Bernoulli sampling property: fraction 0.1 lands within 3 sigma of the
    binomial expectation, and the same seed reproduces the same rows (the
    engines sample differently, so equality is property-not-hash)."""
    li = load_table(spark, sf, "lineitem")
    s1 = li.sample(fraction=0.1, seed=42)
    n, k = _tagged_counts(n=li, k=s1)
    sigma = (n * 0.1 * 0.9) ** 0.5
    ok = abs(k - 0.1 * n) <= 3 * sigma
    same = s1.select("l_orderkey", "l_linenumber").exceptAll(
        li.sample(fraction=0.1, seed=42).select("l_orderkey", "l_linenumber")
    ).count() == 0
    return ok, same


# ---------------------------------------------------------------------------
# Round-3 training-pipeline composites: benchmark decontamination, intra-doc
# repetition, combined corpus cleanse, plus join/vector/function breadth.
# ---------------------------------------------------------------------------

# Word 5-gram relation per document (NOT distinct) over normalized text —
# shared by the decontamination and repetition oracles.
_GRAM5_BODY = """
WITH norm AS (SELECT doc_id, source, TRIM(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) t FROM documents),
toks AS (SELECT doc_id, source, STRING_SPLIT(TRIM(t), ' ') w FROM norm),
g5 AS (
  SELECT doc_id, source,
    w[i.i::BIGINT] || ' ' || w[i.i::BIGINT+1] || ' ' || w[i.i::BIGINT+2]
      || ' ' || w[i.i::BIGINT+3] || ' ' || w[i.i::BIGINT+4] AS g
  FROM toks, LATERAL (SELECT UNNEST(RANGE(1, GREATEST(LEN(w)-4, 0)+1)) AS i) i
)
"""


@contract(
    "decontaminate_counts",
    _GRAM5_BODY
    + ", bench AS (SELECT DISTINCT g FROM g5 WHERE doc_id % 97 = 0)"
    ", corpus AS (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0)"
    ", bad AS (SELECT DISTINCT doc_id FROM g5"
    "   WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM bench))"
    " SELECT (SELECT COUNT(*) FROM bad) AS n_contaminated,"
    " (SELECT COUNT(*) FROM corpus) - (SELECT COUNT(*) FROM bad) AS n_clean",
    "ext",
    "llm",
)
def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-benchmark decontamination: corpus documents sharing ANY word
    5-gram with the benchmark set are removed before training.  The
    benchmark here is the doc_id % 97 == 0 slice standing in for a held-out
    eval suite; the corpus is everything else.  Spark plan: benchmark gram
    hashes broadcast, one corpus explode + semi-join, merge anti-join on
    doc_id (operators/pipeline.py — corpus-derived sides never statically
    broadcast)."""
    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    # One contamination pipeline; n_clean derived as corpus - contaminated
    # (running decontaminate() too would repeat the corpus-wide gram
    # explode + join — the dominant cost).
    n_bad = P.contaminated_ids(corpus, bench, n=5).agg(
        F.count("*").alias("n_contaminated")
    )
    n_corpus = corpus.agg(F.count("*").alias("n_corpus"))
    return (
        n_bad.crossJoin(n_corpus)
        .select(
            "n_contaminated",
            (F.col("n_corpus") - F.col("n_contaminated")).alias("n_clean"),
        )
    )


@contract(
    "duplicated_span_census",
    _GRAM5_BODY
    + ", pg AS (SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY 1, 2)"
    ", gd AS (SELECT g, COUNT(*) AS nd FROM pg GROUP BY 1)"
    ", dup AS (SELECT p.doc_id, SUM(p.c) AS n_dup FROM pg p"
    "   JOIN gd ON p.g = gd.g WHERE gd.nd >= 2 GROUP BY 1)"
    ", tot AS (SELECT doc_id, SUM(c) AS n_grams FROM pg GROUP BY 1)"
    " SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,"
    " CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_grams,"
    " ROUND(CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / t.n_grams, 6)"
    "  AS dup_fraction"
    " FROM tot t LEFT JOIN dup d ON t.doc_id = d.doc_id",
    "ext",
    "llm",
)
def q_duplicated_span_census(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document duplicated-span census (pipeline.
    duplicated_span_census — the Lee et al. 2021 exact-substring dedup
    signal): per document, how many of its word-5gram positions carry a
    gram that also appears in at least one OTHER document.  Exact
    integer counts + one 6dp integer-ratio double; the oracle shares the
    decontamination family's _GRAM5_BODY gram relation verbatim, so the
    tokenization semantics are pinned by the already-gated twins."""
    docs = load_table(spark, sf, "documents")
    return P.duplicated_span_census(docs, n=5)


@contract(
    "repetition_score_avg",
    _GRAM5_BODY
    + ", per AS (SELECT doc_id, COUNT(*) AS total, COUNT(DISTINCT g) AS dist"
    "   FROM g5 GROUP BY 1)"
    ", rep AS (SELECT d.source,"
    "   COALESCE(ROUND(1 - p.dist / CAST(p.total AS DOUBLE), 6), 0.0) AS r"
    "  FROM documents d LEFT JOIN per p USING (doc_id))"
    " SELECT source, " + _oavg("r", "avg_repetition", 6)
    + " FROM rep GROUP BY source",
    "ext",
    "llm",
)
def q_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Intra-document repetition (duplicated word-5gram position fraction)
    averaged per source — the paragraph/line-repetition quality signal of
    training-data prep, delimiter-free.  Row-local expression tree; the
    only shuffle is the per-source aggregate."""
    docs = load_table(spark, sf, "documents")
    rep = P.repetition_scores(docs, n=5, keep=("source",))
    return rep.groupBy("source").agg(
        davg(F.col("repetition"), "avg_repetition", scale=6, nd=6)
    )


@contract(
    "corpus_cleanse_counts",
    "WITH norm AS (SELECT lang, TRIM(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) t"
    "  FROM documents),"
    " q AS (SELECT lang, t, " + _QUALITY_SQL + " AS q,"
    "   CASE WHEN LENGTH(TRIM(t)) = 0 THEN 0"
    "    ELSE LEN(STRING_SPLIT(TRIM(t), ' ')) END AS tok FROM norm),"
    " kept AS (SELECT * FROM q WHERE lang = 'en'"
    "   AND tok BETWEEN 20 AND 1000 AND q >= 0.5),"
    " ded AS (SELECT md5(t) AS h, MAX(tok) AS tok FROM kept GROUP BY 1)"
    " SELECT CAST(COUNT(*) AS BIGINT) AS n_clean,"
    " CAST(SUM(tok) AS BIGINT) AS total_tokens FROM ded",
    "ext",
    "llm",
)
def q_corpus_cleanse(spark: SparkSession, sf: str) -> DataFrame:
    """The combined corpus cleanse a reference user runs before training:
    language gate + token-length window + quality floor + exact dedup, in
    one pass (operators/pipeline.py:cleanse).  Token total is hash-stable
    because identical content hashes imply identical normalized text."""
    docs = load_table(spark, sf, "documents")
    clean = P.cleanse(docs, lang="en", min_tokens=20, max_tokens=1000,
                      min_quality=0.5)
    return clean.agg(
        F.count("*").alias("n_clean"),
        F.sum(TX.token_count(F.col("text"))).alias("total_tokens"),
    )


@contract(
    "tpch_q7_shape",
    "SELECT supp_nation, cust_nation, l_year, " + _osum("volume", "revenue", 4)
    + " FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,"
    "   CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,"
    "   l_extendedprice * (1 - l_discount) AS volume"
    "  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey"
    "  JOIN orders ON o_orderkey = l_orderkey"
    "  JOIN customer ON c_custkey = o_custkey"
    "  JOIN nation n1 ON s_nationkey = n1.n_nationkey"
    "  JOIN nation n2 ON c_nationkey = n2.n_nationkey"
    "  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')"
    "     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))"
    " GROUP BY 1, 2, 3",
    "B12",
)
def q_tpch_q7(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): a 6-table join with a disjunctive
    cross-nation predicate and year extraction — the join-order stress case
    Catalyst must reorder (both nation dims broadcast; fact-fact joins
    shuffle on their keys)."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"),
                              F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("c_nk"),
                              F.col("n_name").alias("cust_nation")))
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    j = (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
    )
    return (
        j.select(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum("volume", "revenue", scale=4))
    )


@contract(
    "label_centroid_norm",
    "WITH ex AS (SELECT label, i.i::BIGINT AS i, embedding[i.i::BIGINT] AS v"
    "  FROM embeddings,"
    "  LATERAL (SELECT UNNEST(RANGE(1, LEN(embedding)+1)) AS i) i),"
    " cent AS (SELECT label, i,"
    "   ROUND(CAST(SUM(CAST(ROUND(v * 1000000000) AS BIGINT)) AS DOUBLE)"
    "    / 1000000000.0 / COUNT(v), 6) AS c"
    "  FROM ex GROUP BY 1, 2),"
    " nrm AS (SELECT label,"
    "   ROUND(SQRT(CAST(SUM(CAST(ROUND(c*c * 1000000000000) AS BIGINT))"
    "    AS DOUBLE) / 1000000000000.0), 6)"
    "    AS centroid_norm FROM cent GROUP BY 1)"
    " SELECT e.label, COUNT(*) AS n_vecs, ANY_VALUE(centroid_norm) AS centroid_norm"
    " FROM embeddings e JOIN nrm ON e.label = nrm.label GROUP BY e.label",
    "B29",
    "llm",
)
def q_label_centroid(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding centroid, reported as the centroid's L2 norm —
    the class-prototype computation of embedding-space dedup/clustering.
    Distributed form: posexplode to (label, dim) cells, exact decimal mean
    per cell, re-aggregate per label.  labels x dims rows after the first
    exchange — bounded however large the corpus is."""
    e = load_table(spark, sf, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("i", "v"))
    cent = ex.groupBy("label", "i").agg(
        davg(F.col("v"), "c", scale=9, nd=6)
    )
    nrm = cent.groupBy("label").agg(
        F.round(
            F.sqrt(
                F.sum(
                    F.round(F.col("c") * F.col("c") * 1000000000000)
                    .cast("long")
                )
                / F.lit(1000000000000.0)
            ),
            6,
        ).alias("centroid_norm")
    )
    counts = e.groupBy("label").agg(F.count("*").alias("n_vecs"))
    return counts.join(F.broadcast(nrm), "label")


@contract(
    "tfidf_top_terms",
    "WITH norm AS (SELECT doc_id, source,"
    "   TRIM(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) AS t FROM documents),"
    " words AS (SELECT doc_id, source, UNNEST(STRING_SPLIT(TRIM(t), ' ')) AS term"
    "  FROM norm),"
    " tf AS (SELECT source, term, COUNT(*) AS tf FROM words GROUP BY 1, 2),"
    " df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY 1),"
    " n AS (SELECT COUNT(*) AS n_docs FROM documents),"
    " scored AS (SELECT source, term, tf,"
    "   ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf"
    "  FROM tf JOIN df USING (term) CROSS JOIN n),"
    " ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source"
    "   ORDER BY tfidf DESC, term) AS rn FROM scored)"
    " SELECT source, term, tf, tfidf FROM ranked WHERE rn <= 5",
    "B30",
    "llm",
)
def q_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 TF-IDF terms per source: term frequency within the source
    partition x inverse document frequency over the corpus.  Two shuffles
    (term-keyed tf/df aggregates) + one term-keyed join pinned to merge
    (vocabulary is corpus-derived — never statically broadcast) + the
    per-source ranking window.  Ties rank deterministically (rounded score
    desc, term asc) so both engines pick identical rows.  The exploded
    token relation is session-staged (pipeline.words_relation): tf and df
    both read it, so the regex tokenizer runs once per corpus, not once
    per aggregate branch per query."""
    from shuttle_spark.operators.pipeline import words_relation

    docs = load_table(spark, sf, "documents")
    words = words_relation(docs, keep=("doc_id", "source"))
    tf = words.groupBy("source", "term").agg(F.count("*").alias("tf"))
    df = words.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df")
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df.hint("merge"), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "source", "term", "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@contract(
    "price_histogram",
    "SELECT CAST(LEAST(FLOOR(o_totalprice / 50000), 9) AS BIGINT) AS bucket,"
    " COUNT(*) AS cnt, " + _osum("o_totalprice", "total", 2)
    + " FROM orders GROUP BY 1",
    "B19",
)
def q_price_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width histogram (floor-bucket arithmetic, portable everywhere
    width_bucket is not): the one-pass distribution profile used to pick
    partition bounds before a range shuffle."""
    o = load_table(spark, sf, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9)).cast(
        "long"
    ).alias("bucket")
    return o.groupBy(bucket).agg(
        F.count("*").alias("cnt"), dsum("o_totalprice", "total", scale=2)
    )


@contract(
    "bucketed_join_agg",
    "SELECT o_orderpriority, COUNT(*) AS cnt, " + _osum("o_totalprice", "total")
    + ", TRUE AS no_exchange"
    " FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1",
    "B12",
    "sink",
)
def q_bucketed_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed-table join under the oracle gate: both sides persisted
    bucketed on the join key (sources/io.write_bucketed_table — the
    amortize-the-shuffle-once posture that matters most at 100 TB, the
    durable twin of the reference's per-partition worker files,
    ShuffleFileUtils.java:33-45), then sort-merge-joined WITHOUT a shuffle
    exchange.  ``no_exchange`` is measured from the executed join plan, so
    the contract gates both the result AND the shuffle elision."""
    import os

    from shuttle_spark.sources import io as IO

    orders, customer = (load_table(spark, sf, t) for t in ("orders", "customer"))

    def db(d: str) -> str:
        return f"shuttle_bkt_{os.path.basename(d)}"

    def build(d: str) -> None:
        # An explicit-location database, one per staged directory: a
        # driver-created session's static warehouse dir defaults to
        # <cwd>/spark-warehouse (spark.sql.warehouse.dir is not settable
        # after session start).
        spark.sql(f"CREATE DATABASE {db(d)} LOCATION '{d}'")
        IO.write_bucketed_table(orders, f"{db(d)}.orders_bkt", ["o_custkey"], 8)
        IO.write_bucketed_table(
            customer, f"{db(d)}.customer_bkt", ["c_custkey"], 8
        )

    # Bucket ONCE per source generation (the whole point of bucketing is
    # that the write-time shuffle amortizes across every later query).
    d = staged_dir(spark, orders, customer, params=("bucketed", 8), build=build)
    o_tbl, c_tbl = f"{db(d)}.orders_bkt", f"{db(d)}.customer_bkt"
    j = (
        spark.table(o_tbl)
        .hint("merge")  # force SMJ so broadcast doesn't mask the bucketing
        .join(spark.table(c_tbl), F.col("o_custkey") == F.col("c_custkey"))
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    no_exchange = "Exchange hashpartitioning" not in plan
    return (
        j.groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"), dsum("o_totalprice", "total"))
        .withColumn("no_exchange", F.lit(bool(no_exchange)))
    )


@contract(
    "skew_join_agg",
    "WITH ev AS (SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE user_id END"
    "   AS uid, value FROM events CROSS JOIN range(0, 20)),"
    " dim AS (SELECT range AS uid, range % 10 AS grp FROM range(0, 150))"
    " SELECT grp, COUNT(*) AS cnt, CAST(SUM(CAST(FLOOR(value * 10000 + 0.5)"
    "  AS BIGINT)) AS BIGINT) AS sum_value_c,"
    "  TRUE AS skew_split"
    " FROM ev JOIN dim USING (uid) GROUP BY 1",
    "B12",
    "property",
)
def q_skew_join_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Skewed sort-merge join under AQE skew-split (VERDICT r3 item 6):
    events replicated x20 (a fixed constant both engines apply) with half
    of all rows folded onto one hot key (uid=1 — the hot-user shape
    SCALING.md argues about), joined to a small dim on the skewed key with
    the broadcast path suppressed so the exchange actually materializes
    the skew.  The contract gates BOTH the result values (vs the same
    fold in SQL) AND the runtime plan: ``skew_split`` is True only if the
    executed AQE plan split the hot partition (``skew=true`` in the SMJ
    node).  Two test-scale accommodations, each a no-op at production
    scale: the upstream repartition(8) gives the map side multiple
    mappers (AQE splits a skewed reduce partition by mapper ranges, so a
    single-mapper shuffle — one tiny parquet file — is unsplittable by
    construction), and the skew thresholds are scoped down because
    contract SF is MBs, not TBs (at production defaults the same rewrite
    fires at 256 MB partitions).  Engine twin of the reference's
    load-aware dispatch (WeightedRandomDispatcher.java:31-47): both route
    a hot partition's bytes across more than one worker."""
    from shuttle_spark.catalog import source_bytes, table_path
    from shuttle_spark.session import _scoped_conf

    ev = (
        load_table(spark, sf, "events")
        .repartition(8)
        .withColumn("__r", F.explode(F.array_repeat(F.lit(1), 20)))
        .select(
            F.when(F.col("user_id") % 2 == 0, F.lit(1))
            .otherwise(F.col("user_id"))
            .cast("long")
            .alias("uid"),
            "value",
        )
    )
    dim = spark.range(0, 150).select(
        F.col("id").alias("uid"), (F.col("id") % 10).alias("grp")
    )
    restore = _scoped_conf(
        spark,
        {
            # stated explicitly, not inherited: this contract ASSERTS the
            # AQE skew-split from the executed plan, so it must hold even
            # on a session whose deployment dial turned AQE off (the
            # round-8 small-SF bench posture).
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "512b",
            # split TARGET size scaled to the data volume (source bytes /
            # 256, floored at the 512b that works at smoke SF): AQE sizes
            # on COMPRESSED shuffle bytes and the repeated hot key
            # compresses ~10x, so a fixed target either misses the split
            # at small SF or shreds every partition into byte-sized units
            # at bench SF (the r4 constant 512b cost ~0.3 s of pure
            # scheduling at sf0.1).  Proportional target -> the hot
            # partition splits into O(10-100) real chunks at every SF,
            # skew=true still asserted from the executed plan.
            # source_bytes, not os.path.getsize: a directory source's
            # inode size (~4 KB) would silently revert this to the 512b
            # degenerate target at every .scaledata point.
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": (
                f"{max(512, source_bytes(table_path(sf, 'events')) // 256)}b"
            ),
            # disable broadcast + AQE's runtime SMJ->BHJ conversion: a
            # broadcast join has no exchange to skew-split.
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        agg = (
            ev.hint("merge")
            .join(dim, "uid")
            .groupBy("grp")
            .agg(
                F.count("*").alias("cnt"),
                # scaled-long sum: a raw double sum over the x20-replicated
                # events is association-order-sensitive at the 4th decimal —
                # the one hash the float discipline exists to forbid
                F.sum(
                    F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
                )
                .cast("long")
                .alias("sum_value_c"),
            )
        )
        rows = agg.collect()  # finalize the adaptive plan
        plan = agg._jdf.queryExecution().executedPlan().toString()
        skew_split = "skew=true" in plan
        return spark.createDataFrame(rows, agg.schema).withColumn(
            "skew_split", F.lit(bool(skew_split))
        )
    finally:
        restore()


@contract(
    "runtime_filter_join",
    "SELECT COUNT(*) AS cnt, " + _osum("l_quantity", "sum_qty", 2)
    + ", TRUE AS bloom_pruned"
    " FROM lineitem JOIN part ON l_partkey = p_partkey"
    " WHERE p_type = 'PROMO'",
    "B12",
    "property",
)
def q_runtime_filter_join(spark: SparkSession, sf: str) -> DataFrame:
    """Runtime bloom-filter join pruning (Spark 3.3+ InjectRuntimeFilter):
    a selective dim predicate (p_type='PROMO') is turned into a bloom
    filter built from the dim side and applied to the FACT side *below
    its shuffle* — the plan gates on ``might_contain(...)`` in the fact
    scan's Filter, asserted from the executed plan alongside the values.
    This is the engine-level twin of what the reference's whole service
    optimizes for: don't move bytes you can prove you won't need
    (README.md:7 — its cure is sequential IO; the optimizer's cure is no
    IO).  At 100 TB a 1/6-selective dim filter keeps ~83% of the fact
    table out of the exchange.  Thresholds are scoped down because
    contract SF is MBs (the production defaults fire at 10 MB+ scans);
    broadcast is disabled so the join HAS a shuffle worth pruning —
    with broadcast on, Spark correctly prefers the broadcast-hash path
    and skips the bloom filter."""
    from shuttle_spark.session import _scoped_conf

    part = (
        load_table(spark, sf, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_quantity")
    restore = _scoped_conf(
        spark,
        {
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        agg = li.join(part, li.l_partkey == part.p_partkey).agg(
            F.count("*").alias("cnt"),
            dsum("l_quantity", "sum_qty", 2),
        )
        rows = agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        pruned = "might_contain" in plan
        return spark.createDataFrame(rows, agg.schema).withColumn(
            "bloom_pruned", F.lit(bool(pruned))
        )
    finally:
        restore()


@contract(
    "window_distinct_count",
    "SELECT user_id, event_id,"
    " CAST(COUNT(DISTINCT event_type) OVER (PARTITION BY user_id"
    "  ORDER BY ts::TIMESTAMP, event_id"
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
    "  AS n_types_so_far"
    " FROM events WHERE user_id % 50 = 0",
    "B17",
)
def q_window_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Running DISTINCT count over a window — an operator Spark lacks
    natively (no DISTINCT in window aggregates); expressed as
    size(collect_set() OVER w), which keeps the per-partition state bounded
    by the distinct-value cardinality, not the row count.  DuckDB states it
    directly, so the oracle is the literal windowed COUNT(DISTINCT)."""
    ev = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.filter(F.col("user_id") % 50 == 0).select(
        "user_id",
        "event_id",
        F.size(F.collect_set("event_type").over(w)).cast("long").alias(
            "n_types_so_far"
        ),
    )


@contract(
    "variant_json_agg",
    "SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,"
    " COUNT(*) AS cnt,"
    " CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k"
    " FROM events GROUP BY 1",
    "B20",
)
def q_variant_json(spark: SparkSession, sf: str) -> DataFrame:
    """Typed semi-structured access through the VARIANT type (Spark 4):
    variant_get with a target type over the parse-once staged column
    (catalog ingest writes events.props_v as parquet VARIANT) — the
    shred-on-read path for schema-on-read event bags (vs the string
    get_json_object twin in json_extract_agg_compat; the string-typed default
    path is json_extract_variant_agg)."""
    ev = load_table(spark, sf, "events")
    k = F.variant_get(F.col("props_v"), "$.k", "bigint")
    return ev.select((k % 10).alias("k_bucket"), k.alias("k")).groupBy(
        "k_bucket"
    ).agg(F.count("*").alias("cnt"), F.sum("k").alias("sum_k"))


@contract(
    "stream_upsert_sink",
    "SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts_us, event_id, event_type"
    " FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id"
    "   ORDER BY ts::TIMESTAMP DESC, event_id DESC) AS rn FROM events)"
    " WHERE rn = 1",
    "B8",
    "sink",
)
def q_stream_upsert_sink(spark: SparkSession, sf: str) -> DataFrame:
    """Durable streaming upsert sink: a 4-micro-batch replay of events
    merges per-batch into a parquet keep-latest state via foreachBatch
    (versioned write + rename pointer swap, idempotent per batch — see
    streaming/core.run_upsert_sink).  The final materialized state must
    hash-match the batch keep-latest oracle over ALL events: unlike the
    watermarked in-flight operator (stream_keep_latest), the durable state
    holds every key."""
    from shuttle_spark.streaming import events_stream_multi, run_upsert_sink

    out = scratch_dir("upsert_sink_")
    state = run_upsert_sink(
        # 4 files in 2 micro-batches: the cross-batch merge (predecessor
        # version read -> union -> keep-latest -> new version) still runs,
        # at half the per-batch fixed cost (VERDICT r5 item 2); the
        # batch-by-batch crash windows are pinned in
        # tests/test_fault_injection.py with fine-grained triggers
        events_stream_multi(spark, sf, n_files=4, files_per_trigger=2),
        out,
        shuffle_partitions=4,
    )
    return state.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
    )


@contract(
    "mixture_weights",
    "WITH norm AS (SELECT source, TRIM(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) t"
    "  FROM documents),"
    " tok AS (SELECT source, CASE WHEN LENGTH(TRIM(t)) = 0 THEN 0"
    "   ELSE LEN(STRING_SPLIT(TRIM(t), ' ')) END AS tk FROM norm),"
    " per AS (SELECT source, CAST(SUM(tk) AS BIGINT) AS tokens FROM tok GROUP BY 1),"
    " n AS (SELECT COUNT(*) AS n FROM per)"
    " SELECT source, tokens,"
    "  ROUND(LEAST(1.0, (10000.0 / n) / tokens), 6) AS weight,"
    "  CAST(FLOOR(ROUND(LEAST(1.0, (10000.0 / n) / tokens), 6) * tokens + 0.5)"
    "   AS BIGINT) AS expected_tokens"
    " FROM per CROSS JOIN n",
    "ext",
    "llm",
)
def q_mixture_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Training-mixture balancing: per-source Bernoulli keep-probabilities
    that equalize each source's token contribution under a fixed total
    budget — the planning step before a sampleBy pass
    (operators/pipeline.mixture_weights)."""
    docs = load_table(spark, sf, "documents")
    return P.mixture_weights(docs, target_tokens=10_000, group_col="source")


@contract(
    "stream_decontaminate_count",
    _GRAM5_BODY
    + ", bench AS (SELECT DISTINCT g FROM g5 WHERE doc_id % 97 = 0)"
    ", bad AS (SELECT DISTINCT doc_id FROM g5"
    "   WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM bench))"
    " SELECT (SELECT COUNT(*) FROM documents WHERE doc_id % 97 <> 0)"
    "  - (SELECT COUNT(*) FROM bad) AS n_clean",
    "ext",
    "llm",
)
def q_stream_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Daily-ingest decontamination as a STREAM: the corpus arrives in 2
    micro-batches of 2 files, each batch decontaminated against the fixed benchmark
    set and appended exactly-once (per-batch versioned dirs); the
    accumulated clean corpus must count-match the all-at-once batch
    oracle.  Decontamination against a static benchmark is per-document,
    so incremental == batch exactly (streaming/core.run_stream_decontaminate)."""

    from shuttle_spark.streaming.core import (
        run_stream_decontaminate,
        staged_documents_files,
    )

    bench = load_table(spark, sf, "documents").filter(F.col("doc_id") % 97 == 0)
    d = staged_documents_files(spark, sf, 4)
    docs_stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .option("maxFilesPerTrigger", 2)  # 4 files -> 2 real micro-batches (VERDICT r5 item 2)
        .parquet(d)
        .filter(F.col("doc_id") % 97 != 0)
    )
    out = scratch_dir("decon_sink_")
    clean = run_stream_decontaminate(
        docs_stream, bench, out, n=5, shuffle_partitions=4
    )
    return clean.agg(F.count("*").alias("n_clean"))


@property_contract(
    "observe_metrics_ok", ("ok", "hash_consistent"), "ext", "property"
)
def q_observe_metrics(spark: SparkSession, sf: str) -> tuple:
    """In-query observability (engine twin of the reference's worker
    health/throughput surface, ShuffleWorker.java:116-144): df.observe
    metrics ride the job for free; this property pins that the observed
    row count equals the delivered result and that the observed
    order-free content hash is reproducible on a recompute."""
    from shuttle_spark.observability import observed

    li = load_table(spark, sf, "lineitem")
    agg = li.filter(F.col("l_quantity") > 10).groupBy("l_returnflag").agg(
        F.count("*").alias("cnt")
    )
    obs_df, obs = observed(agg, "m1")
    delivered = obs_df.collect()
    m = obs.get
    obs_df2, obs2 = observed(agg, "m2")
    obs_df2.collect()
    return (
        m["rows"] == len(delivered),
        obs2.get["content_hash"] == m["content_hash"],
    )


@contract(
    "udtf_chunk_stats",
    "WITH norm AS (SELECT doc_id, TRIM(LOWER(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) t"
    "  FROM documents),"
    " toks AS (SELECT doc_id, STRING_SPLIT(TRIM(t), ' ') w FROM norm),"
    " chunks AS (SELECT doc_id,"
    "   array_to_string(w[i.s::BIGINT + 1 : i.s::BIGINT + 32], ' ') AS chunk"
    "  FROM toks, LATERAL (SELECT UNNEST(RANGE(0, GREATEST(LEN(w), 1), 16))"
    "   AS s) i)"
    " SELECT COUNT(*) AS n_chunks,"
    "  CAST(SUM(LEN(STRING_SPLIT(chunk, ' '))) AS BIGINT) AS sum_tokens"
    " FROM chunks",
    "B26",
)
def q_udtf_chunk_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) under the oracle gate: the
    token-window chunker as an arrow-evaluated lateral fan-out, asserted
    equal to the JVM expression-tree twin's oracle (chunk_text_stats).
    UDTFs are the escape hatch for per-row fan-out that needs real Python;
    this contract pins that the escape hatch produces identical chunks."""
    from shuttle_spark.functions import udtfs

    udtfs.register(spark)
    load_table(spark, sf, "documents").createOrReplaceTempView("docs_for_udtf")
    chunks = spark.sql(
        "SELECT c.chunk FROM docs_for_udtf, LATERAL chunk_udtf(text) c"
    )
    return chunks.agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.size(F.split(F.col("chunk"), " "))).cast("bigint").alias(
            "sum_tokens"
        ),
    )
# ---------------------------------------------------------------------------
# Round-6 analytics additions: graph scoring, per-group anomaly census,
# user-journey transition matrix, mixture-diversity index.  Each follows the
# float discipline up top (integer quantization before any aggregate; shared
# IEEE expression trees; no transcendentals).
# ---------------------------------------------------------------------------

_PR_EDGES = (
    "SELECT DISTINCT o_custkey % 97 AS src, o_orderkey % 89 AS dst"
    " FROM orders WHERE o_custkey % 97 <> o_orderkey % 89"
)


@contract(
    "pagerank_scores",
    "WITH e AS (" + _PR_EDGES + "),"
    " nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),"
    " n AS (SELECT COUNT(*) AS n FROM nodes),"
    " od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY 1),"
    " s0 AS (SELECT node, ROUND(1.0 / n.n, 9) AS score FROM nodes CROSS JOIN n),"
    " i1 AS (SELECT dst AS node, SUM(CAST(ROUND(score / od * 1e9) AS BIGINT)) / 1e9 AS infl"
    "   FROM e JOIN s0 ON s0.node = e.src JOIN od ON od.src = e.src GROUP BY 1),"
    " s1 AS (SELECT nodes.node, ROUND((1.0 - 0.85) / n.n + 0.85 * COALESCE(infl, 0), 9) AS score"
    "   FROM nodes CROSS JOIN n LEFT JOIN i1 ON i1.node = nodes.node),"
    " i2 AS (SELECT dst AS node, SUM(CAST(ROUND(score / od * 1e9) AS BIGINT)) / 1e9 AS infl"
    "   FROM e JOIN s1 ON s1.node = e.src JOIN od ON od.src = e.src GROUP BY 1),"
    " s2 AS (SELECT nodes.node, ROUND((1.0 - 0.85) / n.n + 0.85 * COALESCE(infl, 0), 9) AS score"
    "   FROM nodes CROSS JOIN n LEFT JOIN i2 ON i2.node = nodes.node),"
    " i3 AS (SELECT dst AS node, SUM(CAST(ROUND(score / od * 1e9) AS BIGINT)) / 1e9 AS infl"
    "   FROM e JOIN s2 ON s2.node = e.src JOIN od ON od.src = e.src GROUP BY 1),"
    " s3 AS (SELECT nodes.node, ROUND((1.0 - 0.85) / n.n + 0.85 * COALESCE(infl, 0), 9) AS score"
    "   FROM nodes CROSS JOIN n LEFT JOIN i3 ON i3.node = nodes.node)"
    " SELECT node, ROUND(score, 6) AS score FROM s3",
    "ext",
)
def q_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-iteration PageRank (components.pagerank) over the same
    deterministic projected order graph the triangle contract uses, taken
    directed (customer residue -> orderkey residue): per round one
    edge-score equi-join + one hash agg on dst, scores localCheckpoint-ed
    so lineage stays flat.  The oracle unrolls the identical quantized
    recurrence three times; every inflow sum is a scaled-long sum, so
    both engines round identical integers."""
    o = load_table(spark, sf, "orders").select(
        (F.col("o_custkey") % 97).alias("src"),
        (F.col("o_orderkey") % 89).alias("dst"),
    )
    return CC.pagerank(o, iters=3, damping=0.85)


@contract(
    "group_outliers_zscore",
    "WITH v AS (SELECT l_returnflag, l_linestatus,"
    "   CAST(ROUND(l_extendedprice) AS BIGINT) AS ui FROM lineitem),"
    " s AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,"
    "   CAST(SUM(ui) AS BIGINT) AS s1, CAST(SUM(ui * ui) AS BIGINT) AS s2"
    "  FROM v GROUP BY 1, 2),"
    " m AS (SELECT l_returnflag, l_linestatus, n_rows,"
    "   CAST(s1 AS DOUBLE) / n_rows AS mean,"
    "   CASE WHEN n_rows > 1 THEN"
    "    SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_rows)"
    "     / (n_rows - 1)) END AS std FROM s)"
    " SELECT v.l_returnflag, v.l_linestatus, MIN(m.n_rows) AS n_rows,"
    "  COUNT(*) FILTER (WHERE ABS(v.ui - m.mean) > 2 * m.std) AS n_outliers,"
    "  ROUND(MIN(m.mean), 6) AS mean_value, ROUND(MIN(m.std), 6) AS std_value"
    " FROM v JOIN m USING (l_returnflag, l_linestatus) GROUP BY 1, 2",
    "ext",
)
def q_group_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group z-score outlier census (relational.group_outliers_zscore)
    on lineitem prices: exact integer moments per group, stats broadcast
    back for the row-level test — two map-side passes, zero fact-table
    shuffles.  All float arithmetic is over identical integer-derived
    doubles in both engines, so even the |z| > 2 boundary is bit-stable."""
    li = load_table(spark, sf, "lineitem")
    return R.group_outliers_zscore(
        li, ["l_returnflag", "l_linestatus"], "l_extendedprice", z=2.0
    )


@contract(
    "event_transitions",
    "WITH seq AS (SELECT user_id, event_type AS from_type,"
    "   LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    "    AS to_type FROM events),"
    " mat AS (SELECT from_type, to_type, COUNT(*) AS n_transitions"
    "  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)"
    " SELECT from_type, to_type, CAST(n_transitions AS BIGINT) AS n_transitions,"
    "  ROUND(CAST(n_transitions AS DOUBLE)"
    "    / SUM(n_transitions) OVER (PARTITION BY from_type), 6) AS p"
    " FROM mat",
    "B17",
    "ext",
)
def q_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix
    (relational.event_transition_matrix): one key-partition window (lead
    tiebroken by event_id — the scd2 determinism lesson) then a hash agg
    onto the tiny |types|^2 matrix; row-normalized probabilities are
    integer-ratio doubles windowed over the aggregated relation."""
    ev = load_table(spark, sf, "events")
    return R.event_transition_matrix(ev)


@contract(
    "source_lang_gini",
    "WITH c AS (SELECT source, lang, COUNT(*) AS cnt"
    "  FROM documents GROUP BY 1, 2),"
    " w AS (SELECT source, lang, cnt,"
    "   SUM(cnt) OVER (PARTITION BY source) AS tot FROM c)"
    " SELECT source, CAST(MIN(tot) AS BIGINT) AS n_docs,"
    "  COUNT(*) AS n_classes,"
    "  ROUND(1.0 - SUM(CAST(ROUND((CAST(cnt AS DOUBLE) / tot)"
    "    * (CAST(cnt AS DOUBLE) / tot) * 1e12) AS BIGINT)) / 1e12, 6) AS gini"
    " FROM w GROUP BY 1",
    "ext",
    "llm",
)
def q_source_lang_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source language-diversity Gini impurity
    (pipeline.group_diversity_gini): one tiny (source, lang) hash agg, a
    window row-total over it, and a per-source summary — the fact table
    is scanned once and never shuffled.  Gini (no log) keeps the float
    path libm-free; squared probabilities are scaled-long summed."""
    docs = load_table(spark, sf, "documents")
    return P.group_diversity_gini(docs, "source", "lang")


@contract(
    "sample_k_per_group",
    "SELECT source, doc_id FROM"
    " (SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source"
    "   ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || '7'),"
    "    1, 8))::BIGINT, doc_id) AS rn FROM documents) WHERE rn <= 5",
    "ext",
    "llm",
)
def q_sample_k_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic fixed-k per-group sampling
    (relational.sample_k_per_group): exactly min(5, |group|) docs per
    source by seeded md5 order — Spark plans the rank filter as
    WindowGroupLimit (map-side partial top-k before the exchange), so the
    shuffle carries <= k rows per group per partition at any scale.  The
    oracle replays the identical hash order; the result is id-exact, not
    just count-exact."""
    docs = load_table(spark, sf, "documents")
    return R.sample_k_per_group(docs, ["source"], "doc_id", k=5, seed=7).select(
        "source", "doc_id"
    )


def _priority_sample_oracle() -> str:
    from shuttle_spark.operators.relational import priority_sample_oracle_sql

    return priority_sample_oracle_sql(
        "orders", ["o_orderpriority"], "o_orderkey", "o_totalprice", k=20,
        seed=7,
    )


@contract(
    "priority_sample_orders",
    _priority_sample_oracle(),
    "ext",
    "llm",
)
def q_priority_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic WEIGHTED per-group sampling
    (relational.priority_sample_per_group — priority sampling,
    Duffield/Lund/Thorup): the 20 orders per priority class with the
    highest seeded w/u priorities, plus the unbiased subset-sum
    estimator est_cents = max(w, tau); SUM(est_cents) over the sample
    estimates the class's total spend.  All-integer arithmetic (md5
    folded to 22 bits, true integer division — a double floor is one
    ulp ~ 0.03 coarse at these magnitudes), so the sample is id-exact
    cross-engine.  One exchange, one sort; rank filter and tau share
    the sort."""
    orders = load_table(spark, sf, "orders")
    return R.priority_sample_per_group(
        orders, ["o_orderpriority"], "o_orderkey", "o_totalprice", k=20,
        seed=7,
    )


@contract(
    "semantic_dedup_kept",
    "WITH s AS (SELECT vec_id, embedding,"
    "  GREATEST(list_max(list_transform(embedding,"
    "   x -> ABS(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS s"
    " FROM embeddings WHERE embedding IS NOT NULL),"
    " q AS (SELECT vec_id, list_transform(embedding,"
    "   x -> FLOOR(CAST(x AS DOUBLE) / s + 0.5)) AS qv FROM s),"
    " n AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS n2 FROM q),"
    " dom AS (SELECT DISTINCT b.vec_id FROM n a JOIN n b"
    "  ON a.vec_id < b.vec_id"
    "  AND list_dot_product(a.qv, b.qv) / sqrt(a.n2 * b.n2) >= 0.4)"
    " SELECT vec_id, label FROM embeddings"
    " WHERE vec_id NOT IN (SELECT vec_id FROM dom)",
    "B29",
    "llm",
)
def q_semantic_dedup_kept(spark: SparkSession, sf: str) -> DataFrame:
    """SemDedup-style semantic deduplication
    (similarity.semantic_dedup): keep a vector iff no LOWER-id vector has
    quantized-cosine >= 0.4 — id-exact against a full O(n^2) DuckDB twin.
    Exactness rides the int8 quantization: dot and norms are exact
    integers in both engines (every intermediate < 2^53), so the final
    sim is ONE correctly-rounded sqrt + divide of identical ints — no
    threshold straddle is possible.  Gate path is the size-guarded
    broadcast int-matmul kernel; the 100 TB path is exact=False (sign-LSH
    banded candidates + the same integer verify join-local), superset-
    tested in tests/test_similarity.py."""
    emb = load_table(spark, sf, "embeddings")
    return S.semantic_dedup(emb, threshold=0.4).select("vec_id", "label")


@contract(
    "repeated_span_docs",
    "WITH g AS (SELECT UNNEST(generate_series(0,"
    "  (SELECT CAST(FLOOR((MAX(length(text))-32)/16.0) AS BIGINT)"
    "   FROM documents))) AS g),"
    " w AS (SELECT DISTINCT doc_id, substr(text, (g*16)+1, 32) AS win"
    "   FROM documents, g WHERE g*16 <= length(text) - 32),"
    " shared AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) > 1)"
    " SELECT doc_id, source FROM documents WHERE doc_id IN"
    "  (SELECT doc_id FROM w WHERE win IN (SELECT win FROM shared))",
    "B27",
    "llm",
)
def q_repeated_span_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact repeated-span detection (dedup.repeated_span_doc_ids): docs
    sharing an aligned 32-char window at stride 16 with another doc —
    verbatim-copy dedup's detection half, id-exact vs the oracle's
    replayed window grid.  Pure JVM transform/substr explode, distinct
    (doc, win) with map-side collapse, HAVING>1 windows semi-joined back;
    every stage hash-partitions on the window key."""
    docs = load_table(spark, sf, "documents")
    hit = D.repeated_span_doc_ids(docs, width=32, stride=16)
    return docs.join(hit, "doc_id", "left_semi").select("doc_id", "source")


# ONE dyadic-FIR oracle body shared by the batch contract, the streaming
# contract (which appends only the watermark cutoff), and — in spirit —
# the fuzzer's programmatically unrolled twin: the whole claim of the
# stream contract is "stream == batch bit-for-bit", so the two oracles
# must be the same string, not two strings kept in sync by eye (the
# _NGRAM_ORACLE_BODY discipline).  `ts` rides the f CTE so the streaming
# variant can filter on it; the batch SELECT simply doesn't read it.
_EWMA_FIR_SQL = (
    "WITH e AS (SELECT event_id, user_id, ts,"
    "  CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS cents"
    " FROM events WHERE value IS NOT NULL),"
    " l AS (SELECT event_id, user_id, ts, cents,"
    "  LAG(cents,1) OVER w AS l1, LAG(cents,2) OVER w AS l2,"
    "  LAG(cents,3) OVER w AS l3, LAG(cents,4) OVER w AS l4,"
    "  LAG(cents,5) OVER w AS l5, LAG(cents,6) OVER w AS l6,"
    "  LAG(cents,7) OVER w AS l7, LAG(cents,8) OVER w AS l8"
    " FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),"
    " f AS (SELECT event_id, user_id, ts, cents,"
    "  COALESCE(l1*128,0)+COALESCE(l2*64,0)+COALESCE(l3*32,0)"
    "  +COALESCE(l4*16,0)+COALESCE(l5*8,0)+COALESCE(l6*4,0)"
    "  +COALESCE(l7*2,0)+COALESCE(l8,0) AS wsum,"
    "  (CASE WHEN l1 IS NULL THEN 0 ELSE 128 END)"
    "  +(CASE WHEN l2 IS NULL THEN 0 ELSE 64 END)"
    "  +(CASE WHEN l3 IS NULL THEN 0 ELSE 32 END)"
    "  +(CASE WHEN l4 IS NULL THEN 0 ELSE 16 END)"
    "  +(CASE WHEN l5 IS NULL THEN 0 ELSE 8 END)"
    "  +(CASE WHEN l6 IS NULL THEN 0 ELSE 4 END)"
    "  +(CASE WHEN l7 IS NULL THEN 0 ELSE 2 END)"
    "  +(CASE WHEN l8 IS NULL THEN 0 ELSE 1 END) AS denom,"
    "  l4 IS NOT NULL AS scored FROM l)"
    " SELECT event_id, user_id, cents, wsum, denom FROM f"
    " WHERE scored AND ABS(cents*denom - wsum) > 10000*denom"
)


@contract(
    "ewma_anomalies",
    _EWMA_FIR_SQL,
    "B17",
    "ext",
)
def q_ewma_anomalies(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user EWMA anomaly detection (relational.ewma_deviants): flag
    events deviating > $100 from the dyadic-weighted mean of their 8
    predecessors.  The FIR weights are powers of two over integer cents,
    so wsum/denom are exact int64 and the threshold is an integer
    cross-multiplication — id-exact cross-engine with zero float
    comparisons.  One window (8 lags share a frame) = one exchange on
    user_id + one sort."""
    ev = load_table(spark, sf, "events")
    out = R.ewma_deviants(
        ev, ["user_id"], ["ts", "event_id"], "value", threshold_cents=10000
    )
    return out.select("event_id", "user_id", "cents", "wsum", "denom")


@contract(
    "pack_greedy_bins",
    "WITH RECURSIVE s AS ("
    " SELECT source, doc_id, n_chars,"
    "  ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn"
    " FROM documents WHERE n_chars IS NOT NULL),"
    " r AS ("
    " SELECT source, doc_id, rn, CAST(0 AS BIGINT) AS bin_id,"
    "  n_chars AS cum FROM s WHERE rn = 1"
    " UNION ALL"
    " SELECT s.source, s.doc_id, s.rn,"
    "  CASE WHEN r.cum + s.n_chars > 2048 THEN r.bin_id + 1 ELSE r.bin_id END,"
    "  CASE WHEN r.cum + s.n_chars > 2048 THEN s.n_chars"
    "   ELSE r.cum + s.n_chars END"
    " FROM r JOIN s ON s.source = r.source AND s.rn = r.rn + 1)"
    " SELECT source, doc_id, bin_id FROM r",
    "B26",
    "llm",
)
def q_pack_greedy_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy sequence packing (pipeline.pack_greedy_bins): fill 2048-char
    bins per source in doc_id order — the sample-packing step of an LLM
    training pipeline.  The fill recurrence is inherently sequential per
    group, a legitimate applyInPandas (one exchange, groups pack
    JVM-side-partitioned, nothing reaches the driver); the oracle replays
    it as a recursive CTE, so every (doc -> bin) assignment is id-exact
    cross-engine."""
    docs = load_table(spark, sf, "documents")
    return P.pack_greedy_bins(
        docs, "source", "doc_id", "n_chars", budget=2048
    ).select("source", "doc_id", "bin_id")


@keyed_stream_contracts(
    ("stream_ewma_anomalies", "sewma", None),
    ("stream_ewma_packed_anomalies", "sewmp"),
    _EWMA_FIR_SQL
    + "  AND ts::TIMESTAMP <="
    "   (SELECT MAX(ts::TIMESTAMP) - INTERVAL 7201 SECOND FROM events)",
    "B24",
    "B17",
)
def q_stream_ewma_anomalies(spark: SparkSession, sf: str, replay) -> DataFrame:
    """EWMA anomaly detection as an ACTUAL Structured Streaming replay
    (file stream -> watermark -> the keyed-recurrence fold buffering rows
    until the watermark finalizes them -> AvailableNow to memory sink),
    hash-matched against the batch-recurrence oracle on the finalized
    subset.  The 1 s guard inside the 2 h cutoff absorbs the watermark's
    millisecond truncation (wm is ms-grain, event time µs-grain), so both
    engines filter to a provably-finalized row set; the cutoff stays,
    because rows at µs grain within that guard are emitted and must be
    filtered out.  The arithmetic is the same all-integer FIR as
    `ewma_anomalies` — stream == batch bit-for-bit, proven by
    tests/test_streaming.py's parity test."""
    from shuttle_spark.streaming import events_stream, stream_ewma_deviants

    ev = load_table(spark, sf, "events")
    # epoch-µs arithmetic (no Python datetime/timezone round-trip): the
    # stream emits ts_us as unix micros, so the cutoff is computed in the
    # same coordinates
    cutoff_us = (
        ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0] - 7_201_000_000
    )
    out = replay(stream_ewma_deviants, events_stream(spark, sf))
    return out.filter(F.col("ts_us") <= cutoff_us).select(
        "event_id", "user_id", "cents", "wsum", "denom"
    )


_STREAM_LOCF_ORACLE = (
    "WITH e AS (SELECT user_id, event_id, ts,"
    "  CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS value"
    "  FROM events),"
    " i AS (SELECT user_id, event_id, ts::TIMESTAMP AS tts, value,"
    "  last_value(value IGNORE NULLS) OVER (PARTITION BY user_id"
    "   ORDER BY ts::TIMESTAMP, event_id"
    "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v"
    "  FROM e),"
    " f AS (SELECT * FROM i WHERE tts <="
    "  (SELECT MAX(ts::TIMESTAMP) - INTERVAL 7201 SECOND FROM events))"
    " SELECT CAST(user_id % 16 AS BIGINT) AS bucket,"
    "  CAST(COUNT(*) AS BIGINT) AS n_rows,"
    "  CAST(SUM(CASE WHEN value IS NULL AND v IS NOT NULL THEN 1"
    "   ELSE 0 END) AS BIGINT) AS n_filled,"
    "  CAST(SUM(CASE WHEN v IS NOT NULL THEN"
    "   CAST(FLOOR(v * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)"
    "   AS sum_cents"
    " FROM f GROUP BY 1"
)


@keyed_stream_contracts(
    ("stream_locf_census", "slocf", None),
    ("stream_locf_packed_census", "slocfp"),
    _STREAM_LOCF_ORACLE,
    "B24",
    "B17",
)
def q_stream_locf_census(spark: SparkSession, sf: str, replay) -> DataFrame:
    """LOCF imputation as an ACTUAL Structured Streaming replay
    (streaming.stream_locf: file stream -> watermark -> stateful
    carry-forward -> AvailableNow), census-matched against the batch
    window oracle on the finalized subset — stream == batch for the
    online feature-fill shape.  The carried value is converted to cents
    at ingestion (floor(v*100+0.5)) and carried as an integer; the
    oracle carries the double and converts at the end — identical,
    because floor of the same float64 is deterministic.  Same 1 s guard
    inside the 2 h watermark as the other stream replays (ms-grain
    watermark vs µs-grain event time), and the cutoff stays for the same
    reason; same deterministic NULL injection as locf_impute_cents (the
    shipped table has no NULLs)."""
    from shuttle_spark.streaming import events_stream
    from shuttle_spark.streaming.core import stream_locf

    ev = load_table(spark, sf, "events")
    cutoff_us = (
        ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0] - 7_201_000_000
    )
    src = events_stream(spark, sf).withColumn(
        "value",
        F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    out = replay(stream_locf, src)
    return (
        out.filter(F.col("ts_us") <= cutoff_us)
        .groupBy((F.col("user_id") % 16).alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("was_filled").cast("long")).alias("n_filled"),
            F.sum(F.coalesce(F.col("cents"), F.lit(0))).alias("sum_cents"),
        )
    )


@contract(
    "decayed_engagement",
    "WITH r AS (SELECT MAX(epoch_us(ts::TIMESTAMP)) AS ref FROM events)"
    " SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,"
    "  CAST(SUM((CAST(ROUND(value * 100) AS BIGINT) * 1000000) >>"
    "   CAST(LEAST(GREATEST("
    "    (r.ref - epoch_us(ts::TIMESTAMP)) // 21600000000, 0), 62)"
    "    AS INT)) AS BIGINT) AS score_microcents"
    " FROM events, r WHERE value IS NOT NULL GROUP BY 1",
    "B6",
    "ext",
)
def q_decayed_engagement(spark: SparkSession, sf: str) -> DataFrame:
    """Recency-weighted engagement (relational.decayed_group_score): per
    event type, each event contributes value / 2^(age in 6 h half-lives)
    relative to the table's newest timestamp — the time-decay ranking
    signal, in EXACT integer arithmetic: micro-cent terms via an
    arithmetic right-shift (true floor-by-2^k, exact for negative
    refund values too), so the sum is association-free and bit-stable
    (no libm POWER, whose last-ulp differs across engines).
    One map-side-combined aggregate, one exchange."""
    ev = load_table(spark, sf, "events")
    ref_us = int(ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0])
    return R.decayed_group_score(
        ev, ["event_type"], ref_us, half_life_hours=6
    )


def _twap_oracle() -> str:
    from shuttle_spark.operators.relational import twap_oracle_sql

    return twap_oracle_sql("events", ["user_id"], "ts", "event_id", "value")


@contract(
    "twap_user_value",
    _twap_oracle(),
    "B17",
    "ext",
)
def q_twap(spark: SparkSession, sf: str) -> DataFrame:
    """Time-weighted average (relational.twap): per user, each value
    weighted by how long it remained current (lead(ts) - ts) — the
    irregular-sampling fix a plain AVG gets wrong.  Exact int64
    accumulators (cents x µs); the final quotient converts the same two
    integers to double on both engines and rounds.  One lead() window +
    one map-side-combined aggregate."""
    from shuttle_spark.operators.relational import twap

    ev = load_table(spark, sf, "events")
    return twap(ev, ["user_id"], "ts", "event_id", "value")


def _equi_depth_oracle() -> str:
    from shuttle_spark.operators.relational import equi_depth_oracle_sql

    return equi_depth_oracle_sql(
        "(SELECT *, l_orderkey * 8 + l_linenumber AS rid FROM lineitem)",
        "l_extendedprice", "rid", n_bins=16,
    )


@contract(
    "equi_depth_lineitem",
    _equi_depth_oracle(),
    "B18",
    "ext",
)
def q_equi_depth(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-depth histogram (relational.equi_depth_histogram): 16
    quantile bins of l_extendedprice, each holding an equal row share
    (±1) with its value range — rank formula (rank-1)*B DIV n (NOT
    NTILE, whose remainders front-load) over global_rank's two-pass
    range bucketing, so there is NO single-partition window at any
    scale.  The skew-proof census equi-width price_histogram cannot
    give."""
    from shuttle_spark.operators.relational import equi_depth_histogram

    li = load_table(spark, sf, "lineitem").withColumn(
        "rid", F.col("l_orderkey") * 8 + F.col("l_linenumber")
    )
    return equi_depth_histogram(li, "l_extendedprice", "rid", n_bins=16)


def _cusum_oracle() -> str:
    from shuttle_spark.operators.relational import cusum_oracle_sql

    inner = cusum_oracle_sql(
        "events", ["event_type"], "ts", "event_id", "value",
        target_cents=5000, slack_cents=200, threshold_cents=20000,
    )
    return (
        f"WITH pts AS ({inner})"
        " SELECT event_type, COUNT(*) AS n_points,"
        " CAST(SUM(CASE WHEN is_alert THEN 1 ELSE 0 END) AS BIGINT)"
        "  AS n_alerts,"
        " CAST(MAX(stat_cents) AS BIGINT) AS max_stat_cents,"
        " MIN(CASE WHEN is_alert THEN ts END) AS first_alert_ts"
        " FROM pts GROUP BY 1"
    )


@contract(
    "cusum_drift_census",
    _cusum_oracle(),
    "B17",
    "ext",
)
def q_cusum_drift(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM change-point detection (relational.cusum_points): Page's
    sequential drift statistic per event-type stream via the exact
    closed form s_i = c_i - min(0, running-min c) — the "recursive"
    detector compiled to one cumsum window + one running-min window
    over the SAME sort (one exchange, no recursion/UDF/iteration),
    all-integer cents.  Census per stream: points, alarms, max
    excursion, first alarm time."""
    from shuttle_spark.operators.relational import cusum_points

    ev = load_table(spark, sf, "events")
    pts = cusum_points(
        ev, ["event_type"], "ts", "event_id", "value",
        target_cents=5000, slack_cents=200, threshold_cents=20000,
    )
    return pts.groupBy("event_type").agg(
        F.count("*").alias("n_points"),
        F.sum(F.col("is_alert").cast("long")).alias("n_alerts"),
        F.max("stat_cents").alias("max_stat_cents"),
        F.min(F.when(F.col("is_alert"), F.col("ts"))).alias(
            "first_alert_ts"
        ),
    )


def _fk_census_oracle() -> str:
    from shuttle_spark.operators.integrity import fk_integrity_oracle_sql

    return fk_integrity_oracle_sql([
        ("lineitem_orders",
         "lineitem", "l_orderkey",
         "(SELECT * FROM orders WHERE o_orderkey % 97 <> 0)", "o_orderkey"),
        ("orders_customer", "orders", "o_custkey",
         "customer", "c_custkey"),
        ("lineitem_part",
         "(SELECT CASE WHEN l_linenumber % 6 <> 0 THEN l_partkey END"
         " AS l_partkey FROM lineitem)",
         "l_partkey", "part", "p_partkey"),
    ])


@contract(
    "fk_integrity_census",
    _fk_census_oracle(),
    "B23",
    "ext",
)
def q_fk_integrity(spark: SparkSession, sf: str) -> DataFrame:
    """Referential-integrity census (integrity.fk_integrity_census):
    orphan rows/keys and NULL-FK counts for three relationships in one
    result — against a corrupted orders replica (every 97th key
    dropped) to exercise orphan detection, the intact orders→customer
    edge as the clean case, and a NULL-injected l_partkey for the NULL
    path.  Scale discipline: the child collapses to (key, count)
    BEFORE any join, the parent prunes to its key column, and one LEFT
    join + one aggregate classify everything — O(distinct keys)
    shuffled, never O(rows)."""
    from shuttle_spark.operators.integrity import fk_integrity_census

    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    part = load_table(spark, sf, "part")
    corrupt_orders = orders.filter(F.col("o_orderkey") % 97 != 0)
    li_nulled = li.select(
        F.when(
            F.col("l_linenumber") % 6 != 0, F.col("l_partkey")
        ).alias("l_partkey")
    )
    return fk_integrity_census([
        ("lineitem_orders", li, "l_orderkey", corrupt_orders, "o_orderkey"),
        ("orders_customer", orders, "o_custkey", cust, "c_custkey"),
        ("lineitem_part", li_nulled, "l_partkey", part, "p_partkey"),
    ])


# synthetic CDC op log derived from events: op from the event type
# (signup/purchase insert, click/view update, error delete), seq =
# event_id (unique), payload = integer cents + props
_CDC_OP_SQL = (
    "CASE WHEN event_type IN ('signup', 'purchase') THEN 'I'"
    " WHEN event_type = 'error' THEN 'D' ELSE 'U' END"
)


def _compact_changeset_oracle() -> str:
    from shuttle_spark.operators.lineage import compact_changeset_oracle_sql

    src = (
        f"(SELECT user_id, event_id, {_CDC_OP_SQL} AS op,"
        " CASE WHEN event_type <> 'error' THEN"
        "  CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END AS cents,"
        " CASE WHEN event_type <> 'error' THEN props END AS props"
        " FROM events)"
    )
    return compact_changeset_oracle_sql(
        src, ["user_id"], "event_id", ["cents", "props"]
    )


@contract(
    "compact_changeset_net",
    _compact_changeset_oracle(),
    "B8",
    "ext",
)
def q_compact_changeset(spark: SparkSession, sf: str) -> DataFrame:
    """CDC changeset compaction (lineage.compact_changeset): a raw
    multi-op-per-key log folds to its net effect — at most one I/U/D
    per key, values from the last non-delete row, insert-then-delete
    keys vanishing — the Kafka-compaction step that DISCHARGES the
    one-op-per-key invariant stream_mv_maintenance states as a
    precondition.  ONE map-side-combined aggregate, one exchange of
    O(keys).  Op log synthesized deterministically from events
    (signup/purchase=I, click/view=U, error=D, seq=event_id)."""
    from shuttle_spark.operators.lineage import compact_changeset

    ev = load_table(spark, sf, "events")
    not_del = F.col("event_type") != "error"
    src = ev.select(
        "user_id", "event_id",
        F.when(
            F.col("event_type").isin("signup", "purchase"), F.lit("I")
        )
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.when(
            not_del, F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents"),
        F.when(not_del, F.col("props")).alias("props"),
    )
    return compact_changeset(
        src, ["user_id"], "event_id", ["cents", "props"]
    )


def _stream_cusum_oracle() -> str:
    from shuttle_spark.operators.relational import cusum_oracle_sql

    inner = cusum_oracle_sql(
        "events", ["event_type"], "ts", "event_id", "value",
        target_cents=5000, slack_cents=200, threshold_cents=20000,
    )
    return (
        f"WITH pts AS ({inner}),"
        " f AS (SELECT * FROM pts WHERE ts <="
        "  (SELECT MAX(ts::TIMESTAMP) - INTERVAL 7201 SECOND FROM events))"
        " SELECT event_type, COUNT(*) AS n_points,"
        " CAST(SUM(CASE WHEN is_alert THEN 1 ELSE 0 END) AS BIGINT)"
        "  AS n_alerts,"
        " CAST(MAX(stat_cents) AS BIGINT) AS max_stat_cents,"
        " MIN(CASE WHEN is_alert THEN epoch_us(ts) END) AS first_alert_us"
        " FROM f GROUP BY 1"
    )


@keyed_stream_contracts(
    ("stream_cusum_census", "scusum", 4),
    ("stream_cusum_packed_census", "scusp"),
    _stream_cusum_oracle(),
    "B24",
    "B17",
)
def q_stream_cusum_census(spark: SparkSession, sf: str, replay) -> DataFrame:
    """CUSUM drift detection as an ACTUAL Structured Streaming replay
    (streaming.stream_cusum): file stream -> watermark -> stateful
    (c, min) carry -> AvailableNow, censused against the BATCH closed
    form's oracle on the finalized subset — stream == batch for the
    online alerting shape.  The entire per-key history compresses to
    two long counters of state; same 1 s guard inside the 2 h watermark
    as the other stream replays, and the cutoff stays for the same reason
    (µs-grain rows inside the guard are emitted)."""
    from shuttle_spark.streaming import events_stream
    from shuttle_spark.streaming.core import stream_cusum

    ev = load_table(spark, sf, "events")
    cutoff_us = (
        ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0] - 7_201_000_000
    )
    out = replay(stream_cusum, events_stream(spark, sf))
    return (
        out.filter(F.col("ts_us") <= cutoff_us)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_points"),
            F.sum(F.col("is_alert").cast("long")).alias("n_alerts"),
            F.max("stat_cents").alias("max_stat_cents"),
            F.min(F.when(F.col("is_alert"), F.col("ts_us"))).alias(
                "first_alert_us"
            ),
        )
    )


@contract(
    "linear_attribution",
    "WITH conv AS (SELECT event_id AS c_id, user_id, ts::TIMESTAMP AS c_ts,"
    "  CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS c_cents FROM events"
    "  WHERE event_type = 'purchase' AND value IS NOT NULL),"
    " touch AS (SELECT event_id AS t_id, user_id, ts::TIMESTAMP AS t_ts"
    "  FROM events WHERE event_type = 'click'),"
    " j AS (SELECT t_id, t.user_id, c_id, c_cents,"
    "   COUNT(*) OVER (PARTITION BY c_id) AS n,"
    "   ROW_NUMBER() OVER (PARTITION BY c_id ORDER BY t_ts, t_id) AS rn"
    "  FROM conv c JOIN touch t ON c.user_id = t.user_id"
    "   AND t_ts <= c_ts AND t_ts > c_ts - INTERVAL 7 DAY)"
    " SELECT t_id, user_id, COUNT(*) AS n_conversions,"
    "  CAST(SUM(CAST(FLOOR(CAST(c_cents AS DOUBLE) / n) AS BIGINT)"
    "   + CASE WHEN rn <= c_cents % n THEN 1 ELSE 0 END) AS BIGINT)"
    "   AS credit_cents"
    " FROM j GROUP BY 1, 2",
    "B17",
    "ext",
)
def q_linear_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-touch linear attribution (relational.linear_attribution):
    each purchase's value splits equally across the user's clicks in the
    prior 7 days — credit is exact integer cents (floor share + the
    remainder to the earliest touches), so per-conversion credit sums
    exactly to the conversion value and the rollup is hash-exact with no
    float division.  One hash join on user_id (range residual), one
    window over the join output, one final hash agg on the touch id."""
    ev = load_table(spark, sf, "events")
    return R.linear_attribution(ev).select(
        F.col("t_id"), "user_id", "n_conversions", "credit_cents"
    )


@contract(
    "hash_split_assignments",
    "SELECT doc_id, CASE WHEN b < 800000 THEN 'train'"
    "  WHEN b < 900000 THEN 'val' ELSE 'test' END AS split"
    " FROM (SELECT doc_id,"
    "  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || '7'), 1, 8))"
    "   ::BIGINT % 1000000 AS b FROM documents)",
    "ext",
    "llm",
)
def q_hash_split_assignments(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test split (pipeline.hash_split, 80/10/10):
    each doc's split is a pure function of md5(id:seed) — reproducible
    across engines, partitionings, reruns, and corpus growth (a doc keeps
    its split when the corpus is re-snapshotted; a random split() cannot
    promise that, which is how eval contamination happens).  Row-local
    JVM expressions, no shuffle; id-exact against the oracle's replayed
    hash buckets."""
    docs = load_table(spark, sf, "documents")
    return P.hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    ).select("doc_id", "split")


@contract(
    "key_skew_census",
    "SELECT o_custkey, cnt, share FROM ("
    " SELECT o_custkey, COUNT(*) AS cnt,"
    "  ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 6) AS share"
    " FROM orders GROUP BY 1)"
    " ORDER BY cnt DESC, o_custkey LIMIT 10",
    "B6",
    "B9",
)
def q_key_skew_census(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-key skew census (relational.key_skew_census): the 10
    heaviest o_custkey groups with their row share — the diagnostic a
    pipeline runs before hash-partitioning 100 TB on a key, to choose
    between a plain shuffle, salting, or AQE skew-join (the engine twin
    of the reference's worker load accounting,
    ShuffleWorkerStatusManager.java:75-130).  One partial+final hash agg,
    a window only over the aggregated relation, TakeOrderedAndProject."""
    o = load_table(spark, sf, "orders")
    return R.key_skew_census(o, ["o_custkey"], top_k=10)


@contract(
    "winsorized_stats",
    "WITH v AS (SELECT event_type,"
    "  CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS c"
    " FROM events WHERE value IS NOT NULL),"
    " r AS (SELECT event_type, c,"
    "  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS rn,"
    "  COUNT(*) OVER (PARTITION BY event_type) AS n FROM v),"
    " b AS (SELECT event_type, MIN(c) AS lo_cents, MAX(c) AS hi_cents,"
    "  MAX(n) AS n_rows FROM r"
    "  WHERE rn = GREATEST(CAST(FLOOR((500*n + 9999)/10000.0) AS BIGINT), 1)"
    "   OR rn = GREATEST(CAST(FLOOR((9500*n + 9999)/10000.0) AS BIGINT), 1)"
    "  GROUP BY 1)"
    " SELECT v.event_type, lo_cents, hi_cents, n_rows,"
    "  CAST(SUM(GREATEST(LEAST(c, hi_cents), lo_cents)) AS BIGINT)"
    "   AS winsorized_sum_cents"
    " FROM v JOIN b USING (event_type) GROUP BY 1, 2, 3, 4",
    "B17",
    "B6",
)
def q_winsorized_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type winsorized value summary (relational.winsorized_stats):
    clamp to the exact discrete p05/p95 order statistics and sum as
    integer cents — outlier capping without interpolating percentiles
    (which differ between engines; the value AT rank ceil(q*n) is a real
    row, identical everywhere).  One order-statistics window shuffle, a
    broadcast bounds join-back, one hash agg."""
    ev = load_table(spark, sf, "events")
    return R.winsorized_stats(ev, ["event_type"], "value").select(
        "event_type", "lo_cents", "hi_cents", "n_rows", "winsorized_sum_cents"
    )


def _ngram_grams_cte() -> str:
    """The norm/toks/grams CTE prefix of _NGRAM_ORACLE_BODY, split off with
    a refuse-to-no-op guard (the _must_replace rationale: a silent
    no-match after a wording edit to the base would gate the wrong
    oracle far from the cause)."""
    parts = _NGRAM_ORACLE_BODY.split("sizes AS")
    if len(parts) != 2:
        raise ValueError("ngram oracle body changed: 'sizes AS' anchor missing")
    return parts[0].rstrip().rstrip(",")


@contract(
    "doc_typicality",
    _ngram_grams_cte()
    + ", dfreq AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),"
    " per AS (SELECT doc_id, COUNT(*) AS n_grams,"
    "  CAST(SUM(df) AS BIGINT) AS sum_df"
    "  FROM grams JOIN dfreq USING (g) GROUP BY 1)"
    " SELECT doc_id, n_grams, sum_df,"
    "  ROUND(CAST(sum_df AS DOUBLE) / n_grams, 6) AS typicality FROM per",
    "B30",
    "llm",
)
def q_doc_typicality(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-typicality score (pipeline.doc_typicality): mean document
    frequency of each doc's distinct word 3-grams — the LM-free "does
    this look like the corpus" signal quality filters bucket on
    (boilerplate scores high, unique prose low).  Integer counts, one
    integer-ratio double rounded at 6dp; the gram relation is the
    session-staged one the jaccard/minhash family shares, and the
    df join-back is gram-partitioned (inverted-index shape, never
    all-pairs)."""
    docs = load_table(spark, sf, "documents")
    return P.doc_typicality(docs, n=3)


@contract(
    "rolling_window_features",
    "SELECT event_id, user_id, n_click_24h, n_view_24h FROM ("
    " SELECT event_id, user_id, event_type,"
    "  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER w"
    "   AS BIGINT) AS n_click_24h,"
    "  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER w"
    "   AS BIGINT) AS n_view_24h"
    " FROM events WINDOW w AS (PARTITION BY user_id"
    "  ORDER BY epoch_us(ts::TIMESTAMP)"
    "  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW))"
    " WHERE event_type = 'purchase'",
    "B17",
    "ext",
)
def q_rolling_window_features(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time-correct rolling features
    (relational.rolling_window_features): at every purchase, the same
    user's click/view counts in the trailing 24 h — the feature join
    that must never see the future.  RANGE frames are peer-inclusive on
    ties in both engines, so tie handling needs no event-id tiebreak (a
    ROWS frame would).  One window per user; both feature columns share
    the frame."""
    ev = load_table(spark, sf, "events")
    out = R.rolling_window_features(
        ev, ["user_id"], "ts", "purchase", ["click", "view"], 24
    )
    return out.select("event_id", "user_id", "n_click_24h", "n_view_24h")


@contract(
    "join_fanout_census",
    "SELECT user_id, n_left, n_right, fanout FROM ("
    " SELECT a.user_id, a.n AS n_left, b.n AS n_right,"
    "  a.n * b.n AS fanout"
    " FROM (SELECT user_id, COUNT(*) AS n FROM events"
    "   WHERE event_type = 'click' GROUP BY 1) a"
    " JOIN (SELECT user_id, COUNT(*) AS n FROM events"
    "   WHERE event_type = 'purchase' GROUP BY 1) b USING (user_id))"
    " ORDER BY fanout DESC, user_id LIMIT 10",
    "B6",
    "B12",
)
def q_join_fanout_census(spark: SparkSession, sf: str) -> DataFrame:
    """Pre-join fan-out census (relational.join_fanout_census): the 10
    user keys whose click x purchase join output would be largest — the
    run-this-first diagnostic before shipping an equi-join over 100 TB
    (output size is exactly the sum of these per-key products; one viral
    key makes an innocent join quadratic).  Counts-only aggregation per
    side — the fact rows never move — then a tiny count-relation join
    and TakeOrderedAndProject."""
    ev = load_table(spark, sf, "events")
    return R.join_fanout_census(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        ["user_id"],
        top_k=10,
    )


@contract(
    "rolling_actives",
    "WITH dk AS (SELECT DISTINCT CAST(ts::TIMESTAMP AS DATE) AS day,"
    "  user_id AS k FROM events),"
    " spine AS (SELECT DISTINCT day AS report_day FROM dk),"
    " visible AS (SELECT report_day, k FROM dk JOIN spine"
    "  ON day <= report_day AND day > report_day - 7),"
    " wau AS (SELECT report_day, COUNT(DISTINCT k) AS wau"
    "  FROM visible GROUP BY 1),"
    " dau AS (SELECT day, COUNT(DISTINCT k) AS dau FROM dk GROUP BY 1)"
    " SELECT day, dau, wau,"
    "  ROUND(CAST(dau AS DOUBLE) / wau, 6) AS stickiness"
    " FROM dau JOIN wau ON day = report_day",
    "B17",
    "ext",
)
def q_rolling_actives(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling DAU/WAU/stickiness (relational.rolling_distinct_actives):
    COUNT(DISTINCT) cannot ride a window frame, so the rolling distinct
    is computed set-correctly — dedup to (day, user) once, fan each pair
    into the <= 7 report days it is visible from via a broadcast day
    spine (a bounded explode, NOT a range self-join of the facts), and
    count-distinct per report day.  Integer counts; stickiness is an
    integer-count ratio rounded at 6dp."""
    ev = load_table(spark, sf, "events")
    return R.rolling_distinct_actives(ev, "ts", "user_id", 7)


@contract(
    "session_copresence_lift",
    "WITH l AS (SELECT user_id, event_type, event_id, ts::TIMESTAMP AS ts,"
    "  CASE WHEN LAG(ts::TIMESTAMP) OVER w IS NULL THEN 0"
    "   WHEN epoch_us(ts::TIMESTAMP) - epoch_us(LAG(ts::TIMESTAMP) OVER w)"
    "    > 1800000000 THEN 1 ELSE 0 END AS nw"
    " FROM events WINDOW w AS (PARTITION BY user_id"
    "  ORDER BY ts::TIMESTAMP, event_id)),"
    " c AS (SELECT user_id, event_type,"
    "  SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id"
    "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM l),"
    " st AS (SELECT DISTINCT user_id AS k, event_type AS t, sess FROM c),"
    " ns AS (SELECT COUNT(*) AS n_sessions FROM"
    "  (SELECT DISTINCT k, sess FROM st)),"
    " pt AS (SELECT t, COUNT(*) AS n_t FROM st GROUP BY 1),"
    " pr AS (SELECT a.t AS type_a, b.t AS type_b, COUNT(*) AS n_ab"
    "  FROM st a JOIN st b ON a.k = b.k AND a.sess = b.sess AND a.t < b.t"
    "  GROUP BY 1, 2)"
    " SELECT type_a, type_b, n_ab,"
    "  ROUND(CAST(n_ab * (SELECT n_sessions FROM ns) AS DOUBLE)"
    "   / (na.n_t * nb.n_t), 6) AS lift"
    " FROM pr JOIN pt na ON na.t = type_a JOIN pt nb ON nb.t = type_b",
    "B25",
    "ext",
)
def q_session_copresence_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Within-session co-presence lift
    (relational.session_copresence_lift): which event types co-occur in
    a gap-delimited session more than independence predicts — the
    market-basket / co-visitation composite over the explicit
    cumulative-sum sessionization (strict > gap, (ts, id) tie order),
    spelled out token-for-token in the SQL twin.  All counts exact
    integers; lift is one integer-ratio double rounded at 6dp."""
    ev = load_table(spark, sf, "events")
    return R.session_copresence_lift(ev)


@contract(
    "ohlc_bars",
    "WITH k AS (SELECT event_type, date_trunc('hour', ts::TIMESTAMP) AS bucket,"
    "   value, " + R.LEX_OKEY_SQL.format(ts="ts", tiebreak="event_id")
    + " AS okey"
    "  FROM events WHERE value IS NOT NULL)"
    " SELECT event_type, bucket,"
    "  arg_min(value, okey) AS open, arg_max(value, okey) AS close,"
    "  MAX(value) AS high, MIN(value) AS low,"
    "  CAST(COUNT(*) AS BIGINT) AS volume,"
    "  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)"
    "   AS total_cents"
    " FROM k GROUP BY 1, 2",
    "B17",
    "B24",
)
def q_ohlc_bars(spark: SparkSession, sf: str) -> DataFrame:
    """OHLC downsampling (relational.ohlc_bars) per (event_type, hour):
    open/close picked by min_by/max_by on a zero-padded
    ``epoch-micros:event_id`` string key (byte-comparison identical in
    both engines — deterministic under timestamp ties, where min_by on a
    bare timestamp is engine-arbitrary), high/low as exact stored-double
    picks, volume + scaled-long total.  One partial+final hash aggregate,
    single exchange of the collapsed bar relation.  NULL values are
    excluded up front: Spark's min_by skips NULL values while DuckDB's
    arg_min skips NULL arguments — the filter makes the semantics
    identical instead of coincidental."""
    ev = load_table(spark, sf, "events").filter(F.col("value").isNotNull())
    return R.ohlc_bars(ev, ["event_type"], "ts", "value", "event_id")


@contract(
    "mad_outliers",
    "WITH v AS (SELECT l_returnflag, l_linestatus,"
    "   CAST(ROUND(l_extendedprice) AS BIGINT) AS ui FROM lineitem),"
    " m AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,"
    "   quantile_cont(ui, 0.5) AS med FROM v GROUP BY 1, 2),"
    " d AS (SELECT v.l_returnflag, v.l_linestatus, m.n_rows, m.med,"
    "   ABS(v.ui - m.med) AS dev"
    "  FROM v JOIN m USING (l_returnflag, l_linestatus)),"
    " md AS (SELECT l_returnflag, l_linestatus,"
    "   quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1, 2)"
    " SELECT d.l_returnflag, d.l_linestatus, MIN(d.n_rows) AS n_rows,"
    "  COUNT(*) FILTER (WHERE d.dev > 3 * 1.4826 * md.mad) AS n_outliers,"
    "  ROUND(MIN(d.med), 6) AS median_value,"
    "  ROUND(MIN(md.mad), 6) AS mad_value"
    " FROM d JOIN md USING (l_returnflag, l_linestatus) GROUP BY 1, 2",
    "ext",
)
def q_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-group outlier census (relational.group_outliers_mad) on
    lineitem prices: median/MAD with the R-7 interpolation convention —
    integer-quantized values make every interpolated median an integer
    or exact .5 in BOTH engines (Spark ``percentile`` and DuckDB
    ``quantile_cont`` share pos = p*(n-1)), so the 3*1.4826*MAD
    threshold is a bit-stable comparison.  Two aggregate passes with
    broadcast join-backs, zero fact-table shuffles — the masking-proof
    sibling of group_outliers_zscore."""
    li = load_table(spark, sf, "lineitem")
    return R.group_outliers_mad(
        li, ["l_returnflag", "l_linestatus"], "l_extendedprice", z=3.0
    )


@contract(
    "trend_slope_user",
    "WITH q AS (SELECT user_id,"
    "   epoch_us(ts::TIMESTAMP) // 3600000000 AS x,"
    "   CAST(ROUND(value * 100) AS BIGINT) AS y"
    "  FROM events WHERE value IS NOT NULL),"
    " s AS (SELECT user_id, COUNT(*) AS n_rows,"
    "   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,"
    "   CAST(SUM(x * x) AS BIGINT) AS sxx,"
    "   CAST(SUM(x * y) AS BIGINT) AS sxy FROM q GROUP BY 1),"
    " r AS (SELECT user_id, n_rows,"
    "   CASE WHEN n_rows > 1 AND n_rows * sxx - sx * sx <> 0 THEN"
    "    CAST(n_rows * sxy - sx * sy AS DOUBLE)"
    "     / CAST(n_rows * sxx - sx * sx AS DOUBLE) END AS slope,"
    "   sx, sy FROM s)"
    " SELECT user_id, CAST(n_rows AS BIGINT) AS n_rows,"
    "  ROUND(slope, 6) AS slope_cents_per_hour,"
    "  ROUND((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n_rows, 6)"
    "   AS intercept_cents"
    " FROM r",
    "B17",
    "ext",
)
def q_trend_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user OLS trend (relational.trend_slope): slope/intercept of
    event value over time from EXACT integer sums (x = whole epoch
    hours via integer DIV, y = cents) — the scaled-long discipline
    applied to regression, so the final ratios are identical IEEE
    expressions of identical longs in both engines.  Map-side partials
    of five longs, one tiny exchange; degenerate keys (n<2 or zero
    x-variance) yield NULL, not NaN.  NULL values excluded up front
    (Spark sums skip NULLs; the x-rows would still count in n)."""
    ev = load_table(spark, sf, "events").filter(F.col("value").isNotNull())
    return R.trend_slope(ev, ["user_id"], "ts", "value")


@contract(
    "stratified_split_counts",
    "WITH ranked AS (SELECT lang, doc_id,"
    "   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY"
    "    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8))::BIGINT,"
    "    doc_id) AS rn,"
    "   COUNT(*) OVER (PARTITION BY lang) AS ns FROM documents)"
    " SELECT lang,"
    "  CASE WHEN rn <= (ns * 8000) // 10000 THEN 'train'"
    "   WHEN rn <= (ns * 9000) // 10000 THEN 'val' ELSE 'test' END AS split,"
    "  CAST(COUNT(*) AS BIGINT) AS n FROM ranked GROUP BY 1, 2",
    "B26",
    "B30",
)
def q_stratified_split(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT-COUNT stratified split (pipeline.stratified_split) by
    language, 80/10/10: within each stratum rows rank on (md5(id:seed),
    id) and boundaries are floor(n_s * f) in basis-point integer
    arithmetic (``DIV``, never a float product that can sit one ulp over
    an integral boundary).  Complements hash_split_assignments: Bernoulli
    assignment is growth-stable but only proportional in expectation;
    this is exact per stratum but rank-shifts under growth — the
    contract pins the per-(stratum, split) counts themselves."""
    docs = load_table(spark, sf, "documents")
    out = P.stratified_split(
        docs, "doc_id", ["lang"], {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.groupBy("lang", "split").agg(F.count("*").alias("n"))


@contract(
    "stream_ohlc_bars",
    "WITH k AS (SELECT event_type, date_trunc('hour', ts::TIMESTAMP) AS bucket,"
    "   value, " + R.LEX_OKEY_SQL.format(ts="ts", tiebreak="event_id")
    + " AS okey"
    "  FROM events WHERE value IS NOT NULL)"
    " SELECT event_type, bucket,"
    "  arg_min(value, okey) AS open, arg_max(value, okey) AS close,"
    "  MAX(value) AS high, MIN(value) AS low,"
    "  CAST(COUNT(*) AS BIGINT) AS volume,"
    "  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)"
    "   AS total_cents"
    " FROM k GROUP BY 1, 2"
    " HAVING bucket + INTERVAL 1 HOUR <="
    "  (SELECT MAX(ts::TIMESTAMP) - INTERVAL 2 HOUR FROM events)",
    "B24",
    "B17",
)
def q_stream_ohlc(spark: SparkSession, sf: str) -> DataFrame:
    """OHLC bars as a LIVE Structured Streaming window aggregate
    (file-stream replay -> watermark -> min_by/max_by window agg ->
    AvailableNow), hash-matched against the batch OHLC oracle on the
    finalized subset (windows the 2 h watermark has closed) — stream ==
    batch proven for the order-sensitive open/close picks too, because
    the total-order okey (struct(epoch_micros, event_id), Spark side;
    the order-equivalent lex string in the oracle) makes them
    commutative over ANY micro-batch arrival order (a plain first/last
    would be replay-order-dependent and could never pass this gate).  As
    in stream_window_agg, the watermark alone selects the closed hourly
    bars, so no cutoff job or post-filter runs."""
    from shuttle_spark.streaming import events_stream, run_available_now

    okey = F.struct(
        F.unix_micros(F.col("ts")).alias("t"),
        F.col("event_id").cast("long").alias("i"),
    )
    v = F.col("value")
    stream = (
        events_stream(spark, sf)
        .filter(v.isNotNull())
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.min_by(v, okey).alias("open"),
            F.max_by(v, okey).alias("close"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.count("*").alias("volume"),
            F.sum(F.round(v * 100).cast("long")).alias("total_cents"),
        )
        .select(
            "event_type",
            F.col("win.start").alias("bucket"),
            "open",
            "close",
            "high",
            "low",
            "volume",
            "total_cents",
        )
    )
    return run_available_now(
        stream, f"sohlc_{abs(hash(sf)) % 99999}", shuffle_partitions=4
    )


# Deterministic snapshot mutation both engines derive from orders: ~7.7%
# of keys deleted (%13), ~14% price-updated (+1.00, exact in doubles),
# ~9% GROUP-MOVED (custkey+1 — the update class that breaks naive MV
# maintenance), ~5.9% re-keyed far above any real key as inserts.  All
# checksums hash key:cents (scaled-long cents, never a formatted double).
_CDC_NEW_SQL = (
    "SELECT o_orderkey,"
    "  CASE WHEN o_orderkey % 11 = 0 THEN o_custkey + 1"
    "   ELSE o_custkey END AS o_custkey,"
    "  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0"
    "   ELSE o_totalprice END AS o_totalprice"
    " FROM orders WHERE o_orderkey % 13 <> 0"
    " UNION ALL"
    " SELECT o_orderkey + 1000000000000 AS o_orderkey, o_custkey,"
    "  o_totalprice FROM orders WHERE o_orderkey % 17 = 0"
)


def _cdc_old(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def _cdc_new(spark: SparkSession, sf: str) -> DataFrame:
    o = _cdc_old(spark, sf)
    mutated = o.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 11 == 0, F.col("o_custkey") + 1)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    inserts = o.filter(F.col("o_orderkey") % 17 == 0).select(
        (F.col("o_orderkey") + 1_000_000_000_000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
    )
    return mutated.unionByName(inserts)


# ARRIVING changeset (round-8, VERDICT r7 item 4): a pre-materialized
# O(churn) changeset — ~5% of keys across disjoint U/D/I sets, with
# pre-images for the MV-maintenance path — that BOTH engines receive
# identically and merge/maintain.  This is the production CDC shape the
# snapshot-derived cells deliberately can't price: there the engine
# diffs two full snapshots while the oracle reads the target once
# (asymmetric by contract construction, annotated in BASELINE.md);
# here both sides pay the same cheap changeset construction and the
# measured work is the MERGE itself.  Updates move ~half their rows to
# a different group (custkey+1) so retract-then-add is exercised.
_CDC_ARRIVING_SQL = (
    "SELECT 'U' AS op, o_orderkey,"
    "  CASE WHEN o_orderkey % 2 = 0 THEN o_custkey + 1"
    "   ELSE o_custkey END AS o_custkey,"
    "  o_totalprice + 5.0 AS o_totalprice,"
    "  o_custkey AS old_o_custkey, o_totalprice AS old_o_totalprice"
    " FROM orders WHERE o_orderkey % 53 = 0"
    " UNION ALL"
    " SELECT 'D', o_orderkey, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),"
    "  o_custkey, o_totalprice"
    " FROM orders WHERE o_orderkey % 53 <> 0 AND o_orderkey % 59 = 1"
    " UNION ALL"
    " SELECT 'I', o_orderkey + 1000000000000, o_custkey, o_totalprice,"
    "  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)"
    " FROM orders WHERE o_orderkey % 61 = 2"
)


def _cdc_arriving(spark: SparkSession, sf: str) -> DataFrame:
    o = _cdc_old(spark, sf)
    upd = o.filter(F.col("o_orderkey") % 53 == 0).select(
        F.lit("U").alias("op"),
        "o_orderkey",
        F.when(F.col("o_orderkey") % 2 == 0, F.col("o_custkey") + 1)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        (F.col("o_totalprice") + 5.0).alias("o_totalprice"),
        F.col("o_custkey").alias("old_o_custkey"),
        F.col("o_totalprice").alias("old_o_totalprice"),
    )
    dele = o.filter(
        (F.col("o_orderkey") % 53 != 0) & (F.col("o_orderkey") % 59 == 1)
    ).select(
        F.lit("D").alias("op"),
        "o_orderkey",
        F.lit(None).cast("long").alias("o_custkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.col("o_custkey").alias("old_o_custkey"),
        F.col("o_totalprice").alias("old_o_totalprice"),
    )
    ins = o.filter(F.col("o_orderkey") % 61 == 2).select(
        F.lit("I").alias("op"),
        (F.col("o_orderkey") + 1_000_000_000_000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
        F.lit(None).cast("long").alias("old_o_custkey"),
        F.lit(None).cast("double").alias("old_o_totalprice"),
    )
    return upd.unionByName(dele).unionByName(ins)


# Shared by mv_arriving_totals (batch) and stream_mv_maintenance (live
# foreachBatch twin): the oracle maintains the same totals through the
# same arriving delta and checksums the resulting MV — one SQL twin
# proving batch == stream == incremental-recompute.
_MV_ARRIVING_ORACLE = (
    "WITH ch AS (" + _CDC_ARRIVING_SQL + "),"
    " base AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_rows,"
    "  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
    "   AS sum_cents FROM orders GROUP BY 1),"
    " d0 AS ("
    "  SELECT o_custkey AS g, 1 AS dn,"
    "   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS dc"
    "   FROM ch WHERE op IN ('I', 'U')"
    "  UNION ALL"
    "  SELECT old_o_custkey, -1,"
    "   -CAST(ROUND(old_o_totalprice * 100) AS BIGINT)"
    "   FROM ch WHERE op IN ('D', 'U')),"
    " delta AS (SELECT g, CAST(SUM(dn) AS BIGINT) AS dn,"
    "  CAST(SUM(dc) AS BIGINT) AS dc FROM d0 GROUP BY 1),"
    " mv AS (SELECT COALESCE(b.o_custkey, d.g) AS g,"
    "  COALESCE(b.n_rows, 0) + COALESCE(d.dn, 0) AS n_rows,"
    "  COALESCE(b.sum_cents, 0) + COALESCE(d.dc, 0) AS sum_cents"
    " FROM base b FULL OUTER JOIN delta d"
    "  ON b.o_custkey IS NOT DISTINCT FROM d.g"
    " WHERE COALESCE(b.n_rows, 0) + COALESCE(d.dn, 0) > 0)"
    " SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,"
    "  CAST(SUM(n_rows) AS BIGINT) AS total_rows,"
    "  CAST(SUM(('0x' || substr(md5(CAST(COALESCE(g, -1) AS VARCHAR)"
    "   || ':' || CAST(n_rows AS VARCHAR) || ':' ||"
    "   CAST(sum_cents AS VARCHAR)), 1, 8))::BIGINT) AS BIGINT) AS chk"
    " FROM mv"
)


def _cdc_base_totals(spark: SparkSession, sf: str) -> DataFrame:
    return _cdc_old(spark, sf).groupBy("o_custkey").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_cents"
        ),
    )


def _mv_checksum(mv: DataFrame) -> DataFrame:
    from shuttle_spark.operators.integrity import md5_prefix

    term = md5_prefix(
        F.concat(
            F.coalesce(F.col("o_custkey"), F.lit(-1)).cast("string"),
            F.lit(":"),
            F.col("n_rows").cast("string"),
            F.lit(":"),
            F.col("sum_cents").cast("string"),
        ),
        32,
    )
    return mv.agg(
        F.count("*").alias("n_groups"),
        F.sum("n_rows").alias("total_rows"),
        F.sum(term).alias("chk"),
    )


@contract(
    "snapshot_diff_counts",
    "WITH old_t AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),"
    " new_t AS (" + _CDC_NEW_SQL + "),"
    " d AS (SELECT CASE WHEN o.o_orderkey IS NULL THEN 'I'"
    "   WHEN n.o_orderkey IS NULL THEN 'D'"
    "   WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice"
    "    OR o.o_custkey IS DISTINCT FROM n.o_custkey THEN 'U' END AS op,"
    "  COALESCE(n.o_orderkey, o.o_orderkey) AS k,"
    "  n.o_totalprice AS p"
    "  FROM old_t o FULL OUTER JOIN new_t n USING (o_orderkey)"
    "  WHERE CASE WHEN o.o_orderkey IS NULL THEN 'I'"
    "   WHEN n.o_orderkey IS NULL THEN 'D'"
    "   WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice"
    "    OR o.o_custkey IS DISTINCT FROM n.o_custkey THEN 'U' END"
    "   IS NOT NULL)"
    " SELECT op, CAST(COUNT(*) AS BIGINT) AS n,"
    "  CAST(SUM(('0x' || substr(md5(CAST(k AS VARCHAR) || ':' ||"
    "   CAST(COALESCE(CAST(ROUND(p * 100) AS BIGINT), -1) AS VARCHAR)),"
    "   1, 8))::BIGINT) AS BIGINT) AS chk"
    " FROM d GROUP BY op",
    "B14",
    "ext",
)
def q_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """CDC changeset derivation (lineage.snapshot_diff) between two
    deterministic snapshots of orders: per-op row counts plus an
    order-independent checksum of (key, new-price-cents) — I/U/D
    classification via ONE null-safe full-outer join, changeset size
    O(churn).  The hashed cents coalesce to -1 for deletes (md5(NULL)
    would silently drop them from the sum)."""
    from shuttle_spark.operators import lineage as L
    from shuttle_spark.operators.integrity import md5_prefix

    d = L.snapshot_diff(
        _cdc_old(spark, sf),
        _cdc_new(spark, sf),
        ["o_orderkey"],
        ["o_custkey", "o_totalprice"],
    )
    term = md5_prefix(
        F.concat(
            F.col("o_orderkey").cast("string"),
            F.lit(":"),
            F.coalesce(
                F.round(F.col("o_totalprice") * 100).cast("long"), F.lit(-1)
            ).cast("string"),
        ),
        32,
    )
    return d.groupBy("op").agg(
        F.count("*").alias("n"), F.sum(term).alias("chk")
    )


@contract(
    "changeset_roundtrip",
    "WITH new_t AS (" + _CDC_NEW_SQL + ")"
    " SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,"
    "  CAST(SUM(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' ||"
    "   CAST(o_custkey AS VARCHAR) || ':' ||"
    "   CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)),"
    "   1, 8))::BIGINT) AS BIGINT) AS chk"
    " FROM new_t",
    "B14",
    "ext",
)
def q_changeset_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE semantics proven by inversion: the engine derives the
    changeset with snapshot_diff, APPLIES it back to the old snapshot
    with apply_changeset (delete+update keys anti-joined out, insert+
    update rows unioned in), and checksums the result — while the oracle
    checksums the NEW snapshot directly, never seeing either operator.
    The hash can only match if diff-then-apply reproduced the target
    table byte-for-byte; this is the strongest oracle shape available
    for a pair of inverse operators."""
    from shuttle_spark.operators import lineage as L
    from shuttle_spark.operators.integrity import md5_prefix

    old = _cdc_old(spark, sf)
    changes = L.snapshot_diff(
        old, _cdc_new(spark, sf), ["o_orderkey"],
        ["o_custkey", "o_totalprice"],
        keys_nullable=False,  # o_orderkey is the PK — NULL-free
    )
    applied = L.apply_changeset(old, changes, ["o_orderkey"])
    term = md5_prefix(
        F.concat(
            F.col("o_orderkey").cast("string"),
            F.lit(":"),
            F.col("o_custkey").cast("string"),
            F.lit(":"),
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        ),
        32,
    )
    return applied.agg(
        F.count("*").alias("n_rows"), F.sum(term).alias("chk")
    )


@contract(
    "ab_test_summary",
    "WITH q AS (SELECT event_type,"
    "  CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':ab7'),"
    "   1, 8))::BIGINT % 2 = 0 THEN 'a' ELSE 'b' END AS arm,"
    "  CAST(ROUND(value * 100) AS BIGINT) AS c"
    " FROM events WHERE value IS NOT NULL),"
    " s AS (SELECT event_type, arm, COUNT(*) AS n,"
    "  CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c * c) AS BIGINT) AS s2"
    "  FROM q GROUP BY 1, 2),"
    " p AS (SELECT event_type,"
    "  MAX(CASE WHEN arm = 'a' THEN n END) AS n_a,"
    "  MAX(CASE WHEN arm = 'a' THEN s1 END) AS s1_a,"
    "  MAX(CASE WHEN arm = 'a' THEN s2 END) AS s2_a,"
    "  MAX(CASE WHEN arm = 'b' THEN n END) AS n_b,"
    "  MAX(CASE WHEN arm = 'b' THEN s1 END) AS s1_b,"
    "  MAX(CASE WHEN arm = 'b' THEN s2 END) AS s2_b"
    "  FROM s GROUP BY 1),"
    " m AS (SELECT event_type, n_a, n_b,"
    "  CAST(s1_a AS DOUBLE) / n_a AS ma, CAST(s1_b AS DOUBLE) / n_b AS mb,"
    "  (CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE) * s1_a / n_a)"
    "   / (n_a - 1) AS va,"
    "  (CAST(s2_b AS DOUBLE) - CAST(s1_b AS DOUBLE) * s1_b / n_b)"
    "   / (n_b - 1) AS vb FROM p)"
    " SELECT event_type, CAST(n_a AS BIGINT) AS n_a,"
    "  CAST(n_b AS BIGINT) AS n_b,"
    "  ROUND(ma, 6) AS mean_a_cents, ROUND(mb, 6) AS mean_b_cents,"
    "  ROUND(CASE WHEN n_a > 1 AND n_b > 1"
    "   AND SQRT(va / n_a + vb / n_b) > 0"
    "   THEN (mb - ma) / SQRT(va / n_a + vb / n_b) END, 6) AS t_stat"
    " FROM m",
    "B6",
    "ext",
)
def q_ab_test(spark: SparkSession, sf: str) -> DataFrame:
    """A/B experiment readout (relational.ab_test_summary): users split
    into arms by the SAME growth-stable md5 assignment hash_split uses,
    then per-event-type Welch t statistics from exact integer moments —
    one hash aggregate of the fact table, a pivot of the tiny per-arm
    stats, and identical IEEE arithmetic in both engines (no p-value by
    design: erf is transcendental and libm-divergent; consumers
    threshold |t|)."""
    from shuttle_spark.operators.integrity import md5_prefix

    ev = load_table(spark, sf, "events").filter(F.col("value").isNotNull())
    arm = F.when(
        md5_prefix(
            F.concat(F.col("user_id").cast("string"), F.lit(":ab7")),
            32,
        )
        % 2
        == 0,
        F.lit("a"),
    ).otherwise(F.lit("b"))
    return R.ab_test_summary(ev.withColumn("arm", arm), ["event_type"], "arm")


@contract(
    "merge_intervals_user",
    "WITH iv AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS s,"
    "  epoch_us(ts::TIMESTAMP)"
    "   + GREATEST(CAST(ROUND(value * 1000) AS BIGINT), 0) * 1000 AS e"
    " FROM events WHERE value IS NOT NULL),"
    " m AS (SELECT user_id, s, e,"
    "  MAX(e) OVER (PARTITION BY user_id ORDER BY s, e"
    "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm"
    "  FROM iv),"
    " b AS (SELECT user_id, s, e,"
    "  CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS brk FROM m),"
    " sp AS (SELECT user_id, s, e,"
    "  SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e"
    "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span FROM b),"
    " spans AS (SELECT user_id, span, MIN(s) AS ss, MAX(e) AS se,"
    "  COUNT(*) AS ni FROM sp GROUP BY 1, 2)"
    " SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_spans,"
    "  CAST(SUM(se - ss) AS BIGINT) AS covered_us,"
    "  CAST(SUM(ni) AS BIGINT) AS n_intervals"
    " FROM spans GROUP BY 1",
    "B17",
    "ext",
)
def q_merge_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """Interval union (relational.merge_intervals) over per-event spans
    (start = event time, duration = value milliseconds, negative
    durations clamped to instants): per-user maximal disjoint span count,
    total covered micros, and interval count — the cumulative-max sweep
    as three windows over one key partition, no self-join.  Aggregated
    per user so the contract pins both the merge rule (touching spans
    merge: strict >) and the coverage arithmetic."""
    ev = load_table(spark, sf, "events").filter(F.col("value").isNotNull())
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("start_us"),
        (
            F.unix_micros("ts")
            + F.greatest(
                F.round(F.col("value") * 1000).cast("long"), F.lit(0)
            )
            * 1000
        ).alias("end_us"),
    )
    spans = R.merge_intervals(iv, ["user_id"], "start_us", "end_us")
    return spans.groupBy("user_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("covered_us"),
        F.sum("n_intervals").alias("n_intervals"),
    )


@contract(
    "mv_incremental_totals",
    "WITH new_t AS (" + _CDC_NEW_SQL + ")"
    " SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_rows,"
    "  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
    "   AS sum_cents"
    " FROM new_t GROUP BY 1",
    "B6",
    "ext",
)
def q_mv_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-view maintenance proven by equality with
    recompute: the engine aggregates the OLD snapshot once, derives the
    changeset (snapshot_diff with pre-images), and applies it to the
    totals with lineage.incremental_group_totals — never re-reading the
    base table — while the oracle aggregates the NEW snapshot directly.
    The hash can only match if retract-then-add maintenance is exact,
    INCLUDING the ~9% group-moving updates (custkey changes) that naive
    update-in-place maintenance mishandles; sums are maintained as
    scaled longs so no float drift accumulates across cycles."""
    from shuttle_spark.operators import lineage as L

    old = _cdc_old(spark, sf)
    base = old.groupBy("o_custkey").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_cents"
        ),
    )
    changes = L.snapshot_diff(
        old,
        _cdc_new(spark, sf),
        ["o_orderkey"],
        ["o_custkey", "o_totalprice"],
        include_old=True,
        keys_nullable=False,  # o_orderkey is the PK — NULL-free
    )
    return L.incremental_group_totals(
        base, changes, "o_custkey", "o_totalprice"
    )


@contract(
    "changeset_apply_arriving",
    "WITH ch AS (" + _CDC_ARRIVING_SQL + "),"
    " merged AS ("
    "  SELECT o.o_orderkey, o.o_custkey, o.o_totalprice FROM orders o"
    "   WHERE NOT EXISTS (SELECT 1 FROM ch WHERE ch.op IN ('D', 'U')"
    "    AND ch.o_orderkey = o.o_orderkey)"
    "  UNION ALL"
    "  SELECT o_orderkey, o_custkey, o_totalprice FROM ch"
    "   WHERE op IN ('I', 'U'))"
    " SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,"
    "  CAST(SUM(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' ||"
    "   CAST(o_custkey AS VARCHAR) || ':' ||"
    "   CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)),"
    "   1, 8))::BIGINT) AS BIGINT) AS chk"
    " FROM merged",
    "B14",
    "ext",
)
def q_changeset_apply_arriving(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE of an ARRIVING changeset — the production CDC shape: both
    engines receive the same pre-materialized O(churn) changeset (~5% of
    keys, disjoint U/D/I) and merge it into the base snapshot, so the
    priced work is the merge itself on both sides (one anti-join of the
    base against the touched keys + a union of the incoming rows; the
    oracle's NOT EXISTS + UNION ALL is its natural plan for the same
    merge).  Unlike changeset_roundtrip — where the engine also DERIVES
    the changeset from two full snapshots while the oracle reads the
    target once, deliberately asymmetric — this cell is apples-to-apples
    and is the row the scale curve prices (VERDICT r7 item 4).  At
    100 TB the touched-key relation is churn-sized and AQE broadcasts
    it; the base is scanned exactly once."""
    from shuttle_spark.operators import lineage as L
    from shuttle_spark.operators.integrity import md5_prefix

    merged = L.apply_changeset(
        _cdc_old(spark, sf), _cdc_arriving(spark, sf), ["o_orderkey"]
    )
    term = md5_prefix(
        F.concat(
            F.col("o_orderkey").cast("string"),
            F.lit(":"),
            F.col("o_custkey").cast("string"),
            F.lit(":"),
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        ),
        32,
    )
    return merged.agg(
        F.count("*").alias("n_rows"), F.sum(term).alias("chk")
    )


@contract(
    "mv_arriving_totals",
    _MV_ARRIVING_ORACLE,
    "B6",
    "ext",
)
def q_mv_arriving(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental MV maintenance from an ARRIVING changeset: both
    engines hold the same base totals and apply the same pre-materialized
    O(churn) delta (retract-then-add in the scaled-long domain, ~half the
    updates group-moving), so the priced work is the maintenance merge on
    both sides — the apples-to-apples twin of mv_incremental_totals,
    whose oracle deliberately recomputes from the post-change table
    instead (VERDICT r7 item 4).  The delta aggregate is O(churn) rows;
    the totals merge is one full-outer join on the group key.  Output is
    the MV's order-independent checksum, not the MV's rows: at sf10 the
    maintained view is ~1.5M groups and a full-row return priced driver
    result TRANSFER (4 of 6.6 s measured), not maintenance — the checksum
    keeps the oracle equality exactly as strong (any differing group row
    changes the hash sum)."""
    from shuttle_spark.operators import lineage as L

    mv = L.incremental_group_totals(
        _cdc_base_totals(spark, sf),
        _cdc_arriving(spark, sf),
        "o_custkey",
        "o_totalprice",
    )
    return _mv_checksum(mv)


@contract("stream_mv_maintenance", _MV_ARRIVING_ORACLE, "B24", "ext")
def q_stream_mv_maintenance(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental MV maintenance as a LIVE STREAM of changesets
    (streaming.stream_mv_maintenance): the arriving changeset is split
    into 4 files by key hash, a file-source stream delivers them one per
    micro-batch, and foreachBatch folds each into the running totals
    (retract-then-add, scaled-long domain, localCheckpoint-truncated
    lineage per cycle) — the production shape of an MV downstream of a
    CDC feed.  Shares mv_arriving_totals' oracle VERBATIM: the checksum
    can only match if stream == batch == incremental recompute, i.e.
    maintenance commutes over micro-batch boundaries (it does because a
    compacted changeset carries at most one op per key)."""
    from shuttle_spark.streaming.core import stream_mv_maintenance

    totals = stream_mv_maintenance(
        _cdc_base_totals(spark, sf),
        _cdc_arriving(spark, sf),
        "o_custkey",
        "o_totalprice",
        key_cols=["o_orderkey"],
        n_batches=4,
    )
    return _mv_checksum(totals)


@contract(
    "locf_impute_cents",
    "WITH e AS (SELECT event_type, user_id, ts, event_id,"
    "  CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS value"
    "  FROM events),"
    " i AS (SELECT event_type, value,"
    "  last_value(value IGNORE NULLS) OVER (PARTITION BY user_id"
    "   ORDER BY ts::TIMESTAMP, event_id"
    "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v"
    "  FROM e)"
    " SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,"
    "  CAST(SUM(CASE WHEN value IS NULL AND v IS NOT NULL THEN 1"
    "   ELSE 0 END) AS BIGINT) AS n_filled,"
    "  CAST(SUM(CASE WHEN v IS NOT NULL THEN"
    "   CAST(ROUND(v * 100) AS BIGINT) ELSE 0 END) AS BIGINT)"
    "   AS sum_cents"
    " FROM i GROUP BY 1",
    "B17",
    "ext",
)
def q_locf_impute(spark: SparkSession, sf: str) -> DataFrame:
    """Last-observation-carried-forward imputation
    (relational.locf_impute): per user, NULL event values fill with the
    most recent non-NULL value in (ts, event_id) order — the leak-free
    feature-pipeline gap fill (only PAST observations flow forward).
    Gated on the per-type census of (rows, filled count, scaled-long sum
    of the imputed column): any wrongly-carried value moves sum_cents.
    One window over one key partition — a single exchange at any scale;
    leading NULLs stay NULL on both engines.  The shipped events table
    carries NO NULL values at any SF, so both sides inject gaps
    deterministically (event_id % 5 -> NULL) — without this the
    contract would gate a vacuous no-op fill."""
    null_if = F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
        F.col("value")
    )
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", "ts", "event_id",
        null_if.alias("value"), null_if.alias("__orig"),
    )
    imp = R.locf_impute(ev, ["user_id"], ["ts", "event_id"], ["value"])
    return imp.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(
                F.col("__orig").isNull() & F.col("value").isNotNull(), 1
            ).otherwise(0)
        ).alias("n_filled"),
        F.sum(
            F.when(
                F.col("value").isNotNull(),
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("sum_cents"),
    )


_INTERP_SRC_SQL = (
    "SELECT user_id, event_type, ts, event_id,"
    " CASE WHEN event_id % 4 = 0 THEN NULL ELSE value END AS value"
    " FROM events"
)


def _interp_oracle() -> str:
    from shuttle_spark.operators.relational import interp_impute_oracle_sql

    inner = interp_impute_oracle_sql(
        f"({_INTERP_SRC_SQL})",
        ["user_id", "event_type"],
        "ts",
        "event_id",
        "value",
    )
    return (
        f"WITH o AS ({inner})"
        " SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,"
        "  CAST(SUM(CASE WHEN is_interpolated THEN 1 ELSE 0 END)"
        "   AS BIGINT) AS n_interp,"
        "  CAST(SUM(CASE WHEN value_cents IS NOT NULL THEN"
        "   CAST(ROUND(value_cents * 1000000) AS BIGINT) ELSE 0 END)"
        "   AS BIGINT) AS chk_micro"
        " FROM o GROUP BY 1"
    )


@contract(
    "interp_impute_census",
    _interp_oracle(),
    "B17",
    "ext",
)
def q_interp_impute(spark: SparkSession, sf: str) -> DataFrame:
    """Linear-interpolation imputation (relational.interp_impute): per
    (user, event_type) series, NULL values fill on the straight line
    between the bracketing non-NULL observations in (ts, event_id)
    order — the symmetric resampling twin of locf_impute (which only
    carries the past forward).  Gaps are injected deterministically
    (event_id % 4 -> NULL; the shipped table has none), and the gate
    hashes the per-type census of (rows, interpolated count, 6dp-exact
    micro-unit checksum of the filled column) — a single wrongly-
    bracketed or wrongly-rounded interpolation moves chk_micro.  Both
    bracket lookups ride ONE window sort (one exchange at any scale);
    edge NULLs stay NULL on both engines."""
    null_if = F.when(F.col("event_id") % 4 == 0, F.lit(None)).otherwise(
        F.col("value")
    )
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", "ts", "event_id",
        null_if.alias("value"),
    )
    out = R.interp_impute(
        ev, ["user_id", "event_type"], "ts", "event_id", "value"
    )
    return out.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("is_interpolated").cast("long")).alias("n_interp"),
        F.sum(
            F.when(
                F.col("value_cents").isNotNull(),
                F.round(F.col("value_cents") * 1_000_000).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("chk_micro"),
    )


_KANON_SRC_SQL = (
    "SELECT event_type AS qi_type,"
    " CAST(ts::TIMESTAMP AS DATE) AS qi_day,"
    " user_id % 97 AS qi_ubucket,"
    " CASE WHEN value IS NOT NULL THEN"
    "  CAST(FLOOR(value * 100 + 0.5) AS BIGINT) % 50 END AS sens"
    " FROM events"
)


def _kanon_oracle() -> str:
    from shuttle_spark.operators.pipeline import k_anonymity_oracle_sql

    return k_anonymity_oracle_sql(
        f"({_KANON_SRC_SQL})",
        ["qi_type", "qi_day", "qi_ubucket"],
        k=5,
        sensitive_col="sens",
        l_threshold=3,
    )


@contract(
    "k_anonymity_events",
    _kanon_oracle(),
    "B30",
    "ext",
)
def q_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """K-anonymity / l-diversity census (pipeline.k_anonymity_census):
    the structured-data privacy audit beside scrub_pii's free-text pass
    — how re-identifiable is the table under a quasi-identifier tuple,
    and are small classes sensitive-homogeneous?  QI here: (event type,
    day, user-id residue bucket); sensitive: a cents residue.  ONE hash
    aggregate collapses events to its equivalence classes (exchange is
    O(classes)); a second 1-row aggregate computes the census — every
    field an exact integer, so the single-row hash pins the entire
    class-size and diversity distribution on both engines."""
    from shuttle_spark.operators.pipeline import k_anonymity_census

    ev = load_table(spark, sf, "events")
    staged = ev.select(
        F.col("event_type").alias("qi_type"),
        F.to_date("ts").alias("qi_day"),
        (F.col("user_id") % 97).alias("qi_ubucket"),
        F.when(
            F.col("value").isNotNull(),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long") % 50,
        ).alias("sens"),
    )
    return k_anonymity_census(
        staged,
        ["qi_type", "qi_day", "qi_ubucket"],
        k=5,
        sensitive_col="sens",
        l_threshold=3,
    )


_RECON_SIG_SQL = (
    "('0x' || substr(md5(COALESCE(CAST(o_orderkey AS VARCHAR), '␀')"
    " || ':' || COALESCE(CAST(o_custkey AS VARCHAR), '␀')"
    " || ':' || COALESCE(CAST(cents AS VARCHAR), '␀')), 1, 8))::BIGINT"
)
_RECON_CENSUS_SQL = (
    "SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT"
    " % 64 AS bucket, COUNT(*) AS n_rows,"
    " CAST(SUM(" + _RECON_SIG_SQL + ") AS BIGINT) AS h_sum FROM {src}"
    " GROUP BY 1"
)


@contract(
    "table_recon_counts",
    "WITH l0 AS (SELECT o_orderkey, o_custkey,"
    "  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),"
    " r0 AS (SELECT o_orderkey, o_custkey,"
    "  CASE WHEN o_orderkey % 997 = 0 THEN"
    "   CAST(ROUND(o_totalprice * 100) AS BIGINT) + 1"
    "   ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS cents"
    "  FROM orders WHERE o_orderkey % 1499 <> 1),"
    " lc AS (" + _RECON_CENSUS_SQL.format(src="l0") + "),"
    " rc AS (" + _RECON_CENSUS_SQL.format(src="r0") + ")"
    " SELECT COALESCE(lc.bucket, rc.bucket) AS bucket,"
    "  CAST(COALESCE(lc.n_rows, 0) AS BIGINT) AS left_rows,"
    "  CAST(COALESCE(rc.n_rows, 0) AS BIGINT) AS right_rows,"
    "  CASE WHEN lc.n_rows IS NULL THEN 'only_right'"
    "   WHEN rc.n_rows IS NULL THEN 'only_left'"
    "   WHEN lc.n_rows <> rc.n_rows THEN 'count_diff'"
    "   WHEN lc.h_sum <> rc.h_sum THEN 'content_diff'"
    "   ELSE 'match' END AS status"
    " FROM lc FULL OUTER JOIN rc ON lc.bucket = rc.bucket",
    "B23",
    "ext",
)
def q_table_recon(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-table reconciliation census (integrity.table_recon): orders
    vs a sparsely-corrupted replica (a handful of +1-cent content flips,
    a handful of deleted keys) collapse to 64 per-bucket (count,
    hash-sum) rows — divergence localizes to its buckets while untouched
    buckets certify ``match``, the migration-verification shape that
    answers "equal, and if not WHERE" in two scans and zero row
    movement.  The sparse corruption guarantees all three interesting
    statuses appear and most buckets stay ``match`` (the realistic
    almost-equal-replica case)."""
    from shuttle_spark.operators.integrity import table_recon

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = load_table(spark, sf, "orders")
    left = base.select("o_orderkey", "o_custkey", cents.alias("cents"))
    right = base.filter(F.col("o_orderkey") % 1499 != 1).select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % 997 == 0, cents + 1)
        .otherwise(cents)
        .alias("cents"),
    )
    return table_recon(left, right, ["o_orderkey", "o_custkey", "cents"])


@contract(
    "table_recon_drill_rows",
    "WITH l0 AS (SELECT o_orderkey, o_custkey,"
    "  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),"
    " r0 AS (SELECT o_orderkey, o_custkey,"
    "  CASE WHEN o_orderkey % 997 = 0 THEN"
    "   CAST(ROUND(o_totalprice * 100) AS BIGINT) + 1"
    "   ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS cents"
    "  FROM orders WHERE o_orderkey % 1499 <> 1),"
    " lc AS (" + _RECON_CENSUS_SQL.format(src="l0") + "),"
    " rc AS (" + _RECON_CENSUS_SQL.format(src="r0") + "),"
    " bad AS (SELECT COALESCE(lc.bucket, rc.bucket) AS bucket"
    "  FROM lc FULL OUTER JOIN rc ON lc.bucket = rc.bucket"
    "  WHERE lc.n_rows IS NULL OR rc.n_rows IS NULL"
    "   OR lc.n_rows <> rc.n_rows OR lc.h_sum <> rc.h_sum),"
    " lf AS (SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),"
    "   1, 8))::BIGINT % 64 AS bucket, * FROM l0"
    "  WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))"
    "   ::BIGINT % 64 IN (SELECT bucket FROM bad)),"
    " rf AS (SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),"
    "   1, 8))::BIGINT % 64 AS bucket, * FROM r0"
    "  WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))"
    "   ::BIGINT % 64 IN (SELECT bucket FROM bad)),"
    " d AS (SELECT 'only_left' AS side, *"
    "   FROM (SELECT * FROM lf EXCEPT ALL SELECT * FROM rf)"
    "  UNION ALL SELECT 'only_right', *"
    "   FROM (SELECT * FROM rf EXCEPT ALL SELECT * FROM lf))"
    " SELECT side, CAST(COUNT(*) AS BIGINT) AS n_rows,"
    "  CAST(SUM(('0x' || substr(md5(CAST(bucket AS VARCHAR) || ':' ||"
    "   CAST(o_orderkey AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR)"
    "   || ':' || CAST(cents AS VARCHAR)), 1, 8))::BIGINT) AS BIGINT)"
    "   AS chk"
    " FROM d GROUP BY 1",
    "B23",
    "ext",
)
def q_table_recon_drill(spark: SparkSession, sf: str) -> DataFrame:
    """The FULL two-phase reconciliation workflow
    (integrity.table_recon -> table_recon_drill): phase 1's census names
    the divergent buckets (a bounded driver list — it IS the recon
    report), phase 2 fetches the actual differing row occurrences from
    just those buckets (the bucket predicate is a pure key function, so
    it pushes into both scans), and the gate checksums them per side.
    An updated row surfaces once per side (both versions); deleted keys
    surface only_left — exactly the repair-job input.  The oracle
    re-derives the suspect buckets itself in SQL, so the hash can only
    match if BOTH phases agree end-to-end."""
    from shuttle_spark.operators.integrity import (
        md5_prefix,
        table_recon,
        table_recon_drill,
    )

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = load_table(spark, sf, "orders")
    left = base.select("o_orderkey", "o_custkey", cents.alias("cents"))
    right = base.filter(F.col("o_orderkey") % 1499 != 1).select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % 997 == 0, cents + 1)
        .otherwise(cents)
        .alias("cents"),
    )
    cols = ["o_orderkey", "o_custkey", "cents"]
    census = table_recon(left, right, cols)
    bad = [
        r["bucket"]
        for r in census.filter(F.col("status") != "match").collect()
    ]
    drilled = table_recon_drill(left, right, cols, bad)
    term = md5_prefix(
        F.concat(
            F.col("bucket").cast("string"), F.lit(":"),
            F.col("o_orderkey").cast("string"), F.lit(":"),
            F.col("o_custkey").cast("string"), F.lit(":"),
            F.col("cents").cast("string"),
        ),
        32,
    )
    return drilled.groupBy("side").agg(
        F.count("*").alias("n_rows"), F.sum(term).alias("chk")
    )


def _profile_sql(src: str, cols: list[str]) -> str:
    """DuckDB twin of integrity.column_profile (exact-distinct path)."""
    return " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,"
        f" CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,"
        f" CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,"
        f" CAST(MIN({c}) AS VARCHAR) AS min_str,"
        f" CAST(MAX({c}) AS VARCHAR) AS max_str FROM {src}"
        for c in cols
    )


_PROFILE_COLS = ["doc_id", "lang", "source", "n_chars"]

# stats-drifted replica for the drift census: same row count, lang NULLed
# on a sparse modulus (null_drift), n_chars shifted on another
# (distinct/range drift), doc_id and source untouched (match)
_DRIFT_R0 = (
    "SELECT doc_id,"
    " CASE WHEN doc_id % 97 = 0 THEN NULL ELSE lang END AS lang, source,"
    " CASE WHEN doc_id % 89 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars"
    " FROM documents"
)


@contract(
    "column_profile_docs",
    _profile_sql("documents", _PROFILE_COLS),
    "B23",
    "ext",
)
def q_column_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-column data-quality census (integrity.column_profile): row /
    NULL / distinct counts + string-rendered min/max for every profiled
    column, ALL columns riding ONE aggregate over ONE scan (stack
    unpivot of the collapsed row) — the validation pass a training
    pipeline runs before and after every big transform.  Exact-distinct
    path here (COUNT DISTINCT via one scan + Expand(4), the
    oracle-comparable mode); the scale default is the HLL path with no
    plan expansion."""
    from shuttle_spark.operators.integrity import column_profile

    docs = load_table(spark, sf, "documents")
    return column_profile(docs, _PROFILE_COLS, exact_distinct=True)


@contract(
    "profile_drift_census",
    "WITH r0 AS (" + _DRIFT_R0 + "),"
    " lp AS (" + _profile_sql("documents", _PROFILE_COLS) + "),"
    " rp AS (" + _profile_sql("r0", _PROFILE_COLS) + ")"
    " SELECT lp.col_name,"
    "  lp.n_rows AS l_n_rows, lp.n_null AS l_n_null,"
    "  lp.n_distinct AS l_n_distinct,"
    "  lp.min_str AS l_min_str, lp.max_str AS l_max_str,"
    "  rp.n_rows AS r_n_rows, rp.n_null AS r_n_null,"
    "  rp.n_distinct AS r_n_distinct,"
    "  rp.min_str AS r_min_str, rp.max_str AS r_max_str,"
    "  CASE WHEN rp.n_rows IS NULL THEN 'only_left'"
    "   WHEN lp.n_rows IS NULL THEN 'only_right'"
    "   WHEN lp.n_rows <> rp.n_rows THEN 'row_count_drift'"
    "   WHEN lp.n_null <> rp.n_null THEN 'null_drift'"
    "   WHEN lp.n_distinct <> rp.n_distinct THEN 'distinct_drift'"
    "   WHEN lp.min_str IS DISTINCT FROM rp.min_str"
    "    OR lp.max_str IS DISTINCT FROM rp.max_str THEN 'range_drift'"
    "   ELSE 'match' END AS status"
    " FROM lp FULL OUTER JOIN rp ON lp.col_name = rp.col_name",
    "B23",
    "ext",
)
def q_profile_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Stats-drift census between snapshots (integrity.profile_diff):
    documents vs a replica with sparse NULL injection on ``lang`` and a
    +1 shift on some ``n_chars`` — two single-pass censuses joined on
    column name, statuses classified in priority order
    (only_left/right, row_count_drift, null_drift, distinct_drift,
    range_drift, match).  The cheap "did anything move?" gate that
    decides whether table_recon's content pass is even needed; at
    100 TB it is two scans and a len(cols)-row join, zero row
    movement."""
    from shuttle_spark.operators.integrity import profile_diff

    docs = load_table(spark, sf, "documents")
    right = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 97 == 0, F.lit(None))
        .otherwise(F.col("lang"))
        .alias("lang"),
        "source",
        F.when(F.col("doc_id") % 89 == 0, F.col("n_chars") + 1)
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )
    return profile_diff(docs, right, _PROFILE_COLS, exact_distinct=True)


# (column, quantization scale) pairs for the correlation census: scales
# chosen so per-row quantized products stay far inside int64 (price at
# dollar grain: 1e5 * 1e5 = 1e10/row -> sums fit to ~1e8 rows; Pearson
# correlation is scale-invariant, so the grain costs only quantization
# noise, not correctness).
_CORR_COLS = [
    ("l_quantity", 1),
    ("l_extendedprice", 0),
    ("l_discount", 2),
    ("l_tax", 2),
]


def _corr_oracle() -> str:
    from shuttle_spark.operators.integrity import corr_matrix_oracle_sql

    return corr_matrix_oracle_sql("lineitem", _CORR_COLS)


@contract(
    "corr_matrix_lineitem",
    _corr_oracle(),
    "B23",
    "ext",
)
def q_corr_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise Pearson correlation census (integrity.corr_matrix) over
    lineitem's four numeric measures: all K(K+3)/2 moments (count, sums,
    squares, cross products) ride ONE map-side-combined aggregate over
    ONE column-pruned scan — a single collapsed row crosses the
    exchange, pair rows are stacked from it.  Moments are exact integer
    sums of per-column quantized values (scale-invariance of Pearson r
    makes the quantization grain a noise dial, not a correctness one);
    the n-fold combination n*Sxy - Sx*Sy is promoted to DECIMAL(38,0) /
    HUGEINT because it overflows int64 past ~1e6 rows even when every
    sum fits.  The feature-redundancy / drift-diagnosis pass that runs
    next to column_profile at 100 TB for the cost of one pass — no
    join, no window, no second shuffle."""
    li = load_table(spark, sf, "lineitem")
    from shuttle_spark.operators.integrity import corr_matrix

    return corr_matrix(li, _CORR_COLS)


@property_contract(
    "ivf_upsert_equal", ("ok", "nonempty"), "B29", "ext", "property"
)
def q_ivf_upsert_equal(spark: SparkSession, sf: str) -> tuple:
    """Incremental IVF index maintenance (similarity.ivf_upsert) under an
    equality oracle: applying an arriving I/U/D vector changeset (~8%
    churn, updates rotate the embedding so cells genuinely move) to the
    indexed corpus must produce EXACTLY the (vec_id, cell) assignment of
    a full rebuild over the post-change corpus with the SAME frozen
    centroids — assignment is a pure per-vector function once centroids
    freeze, so incremental == rebuild is an exact set equality, checked
    both directions.  No SQL twin: the nearest-centroid argmin runs on
    driver-trained float centroids DuckDB never sees; the property gate
    mirrors kcore_peel_equal's replay style."""
    from shuttle_spark.operators import similarity as S2

    emb = load_table(spark, sf, "embeddings")
    indexed, cents = S2.ivf_build(emb, dim=64, n_cells=16)
    rot = lambda n: F.concat(  # noqa: E731
        F.slice(F.col("embedding"), n + 1, 10_000),
        F.slice(F.col("embedding"), 1, n),
    )
    vid = F.col("vec_id")
    upd = emb.filter(vid % 17 == 0).select(
        F.lit("U").alias("op"), "vec_id",
        rot(1).alias("embedding"), "label",
    )
    dele = emb.filter((vid % 17 != 0) & (vid % 19 == 1)).select(
        F.lit("D").alias("op"), "vec_id",
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit(None).cast("int").alias("label"),
    )
    ins = emb.filter(vid % 23 == 2).select(
        F.lit("I").alias("op"),
        (vid + 1_000_000_000).alias("vec_id"),
        rot(2).alias("embedding"), "label",
    )
    changes = upd.unionByName(dele).unionByName(ins)
    maintained = S2.ivf_upsert(indexed, cents, changes).select(
        "vec_id", "cell"
    )
    post = (
        emb.join(
            changes.filter(F.col("op").isin("D", "U")).select("vec_id"),
            "vec_id",
            "left_anti",
        )
        .unionByName(
            changes.filter(F.col("op").isin("I", "U")).select(
                "vec_id", "embedding", "label"
            )
        )
    )
    rebuilt = S2.assign_cells(post, cents).select("vec_id", "cell")
    # ONE verification job in which each side is evaluated exactly ONCE:
    # a tagged union of the two exceptAll directions would put
    # `maintained` into the plan 3x and `rebuilt` 2x (the branches share
    # no exchanges), re-running the Python assignment stages per branch.
    # This form unions maintained(w=+1) with rebuilt(w=-1) and aggregates
    # once per (vec_id, cell): sum(|d|) over keys equals
    # |m exceptAll r| + |r exceptAll m| (multiset symmetric difference),
    # and mismatch==0 already implies n_maintained == n_post because
    # `rebuilt` is row-for-row with `post`.
    row = (
        maintained.withColumn("w", F.lit(1))
        .unionByName(rebuilt.withColumn("w", F.lit(-1)))
        .groupBy("vec_id", "cell")
        .agg(
            F.sum("w").alias("d"),
            F.sum(F.when(F.col("w") == 1, 1).otherwise(0)).alias("cm"),
        )
        .agg(
            F.sum(F.abs(F.col("d"))).alias("mismatch"),
            F.sum("cm").alias("n_m"),
        )
        .collect()[0]
    )
    mismatch = row["mismatch"] or 0
    n_maintained = row["n_m"] or 0
    return mismatch == 0, n_maintained > 0


def _residue_graph(spark: SparkSession, sf: str) -> DataFrame:
    """The deterministic graph of label_prop_equal and kcore_peel_equal:
    edges (custkey % 211 — orderkey % 199), a bounded node space at every
    SF."""
    return load_table(spark, sf, "orders").select(
        (F.col("o_custkey") % 211).alias("id_a"),
        (F.col("o_orderkey") % 199).alias("id_b"),
    )


def _adjacency(edges: DataFrame) -> dict[int, set]:
    """Driver-side undirected adjacency of ``edges`` (id_a, id_b),
    self-loops and duplicate edges dropped — the input of the replay
    oracles."""
    adj: dict[int, set] = {}
    for r in (
        edges.filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.greatest("id_a", "id_b").alias("id_a"),
            F.least("id_a", "id_b").alias("id_b"),
        )
        .distinct()
        .collect()
    ):
        adj.setdefault(r["id_a"], set()).add(r["id_b"])
        adj.setdefault(r["id_b"], set()).add(r["id_a"])
    return adj


@property_contract("label_prop_equal", ("ok", "nonempty"), "ext")
def q_label_prop(spark: SparkSession, sf: str) -> tuple:
    """Synchronous label-propagation communities
    (components.label_propagation) under a replay-equality oracle: the
    distributed rounds (label-vector hash join onto the symmetric edge
    list + (node,label) count + min-label argmax, SHUFFLE_HASH on the
    node-sized side, localCheckpoint-truncated lineage) must produce
    EXACTLY the (node, label) map of a driver-side synchronous replay
    over the same edges — deterministic because updates are synchronous,
    the round count is fixed, and ties break to the smallest label.  No
    SQL twin: per-round argmax-over-neighbor-multiset isn't monotone, so
    recursive CTEs can't express it.  Graph: ``_residue_graph``."""
    o = _residue_graph(spark, sf)
    rounds = 4
    got = {
        (r["node"], r["label"])
        for r in CC.label_propagation(o, n_rounds=rounds).collect()
    }
    adj = _adjacency(o)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        new = {}
        for n, nbrs in adj.items():
            cnt: dict[int, int] = {}
            for m in nbrs:
                cnt[labels[m]] = cnt.get(labels[m], 0) + 1
            new[n] = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        labels = new
    exp = set(labels.items())
    return got == exp, len(exp) > 0


@property_contract("bpe_merges_equal", ("ok", "nonempty"), "ext")
def q_bpe_merges(spark: SparkSession, sf: str) -> tuple:
    """BPE tokenizer-merge training (pipeline.bpe_train) under a
    replay-equality oracle: the distributed rounds (ONE corpus-collapse
    to the word-frequency dict, then per round a vocab-sized pair-count
    aggregate + a total-order argmax + a literal-gated Arrow merge
    apply) must produce EXACTLY the merge table of a pure-Python replay
    of the identical algorithm (same ``bpe_pair_merge`` kernel, same
    (count DESC, left, right) tie-break) over the collected word dict.
    No SQL twin: the merge loop rewrites the relation it aggregates
    each round — recursive CTEs cannot carry the mutable vocab.  The
    merge TABLE is the artifact a tokenizer ships; exact table equality
    (rank, pair, merged symbol, count) is the strongest available gate."""
    from shuttle_spark.functions import text as TXF
    from shuttle_spark.operators.pipeline import bpe_pair_merge, bpe_train

    n_merges = 15
    docs = load_table(spark, sf, "documents")
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train(docs, n_merges=n_merges)
        .orderBy("rank")
        .collect()
    ]
    word_rows = (
        docs.select(F.explode(TXF.tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    vocab = [[list(r["w"]), int(r["n"])] for r in word_rows]
    exp = []
    for rank in range(n_merges):
        counts: dict[tuple, int] = {}
        for syms, n in vocab:
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + n
                )
        if not counts:
            break
        (left, right), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if c < 2:
            break
        exp.append((rank, left, right, left + right, c))
        for entry in vocab:
            if left in entry[0] and right in entry[0]:
                entry[0] = bpe_pair_merge(entry[0], left, right)
    return got == exp, len(exp) > 0


@property_contract("bpe_encode_stats_equal", ("ok", "nonempty"), "ext")
def q_bpe_encode(spark: SparkSession, sf: str) -> tuple:
    """BPE corpus tokenization census (pipeline.bpe_subtoken_stats)
    under a replay-equality oracle: a FIXED rank-ordered merge table
    (with cascading merges — 'er'+'s' only exists after 'e'+'r') encodes
    the corpus via the vocab-sized Arrow stage, and the four exact
    integers (word occurrences, distinct words, frequency-weighted
    subtoken total, used-symbol vocabulary) must equal a pure-Python
    replay over the collected word dict sharing ``bpe_encode_word``
    verbatim.  The merge table is fixed so this row prices/pins ENCODE
    independently of training (bpe_merges_equal gates the trainer)."""
    from shuttle_spark.functions import text as TXF
    from shuttle_spark.operators.pipeline import (
        bpe_encode_word,
        bpe_subtoken_stats,
    )

    merges = [
        ("e", "r"), ("er", "s"), ("i", "n"), ("in", "g"),
        ("o", "w"), ("t", "h"), ("th", "e"), ("a", "n"),
    ]
    docs = load_table(spark, sf, "documents")
    got = tuple(bpe_subtoken_stats(docs, merges).collect()[0])
    vocab = (
        docs.select(F.explode(TXF.tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n_words = n_sub = 0
    used: set = set()
    for r in vocab:
        enc = bpe_encode_word(list(r["w"]), merges)
        n_words += int(r["n"])
        n_sub += int(r["n"]) * len(enc)
        used.update(enc)
    exp = (n_words, len(vocab), n_sub, len(used))
    return got == exp, n_words > 0


@property_contract("kcore_peel_equal", ("ok", "nonempty"), "ext")
def q_kcore_peel(spark: SparkSession, sf: str) -> tuple:
    """k-core decomposition (components.kcore) under a replay-equality
    oracle: the distributed log-round peel (degree aggregate + anti-join
    per round, localCheckpoint-truncated lineage) must produce EXACTLY
    the node set of a driver-side reference peel over the same edges —
    the k-core is order-independent (a unique greatest fixed point), so
    sequential and round-synchronous peeling agree, making the replay an
    exact oracle.  No SQL twin exists: recursive CTEs compute least
    fixed points, and the peel is a greatest fixed point.  Graph:
    ``_residue_graph``."""
    o = _residue_graph(spark, sf)
    k = 4
    got = {r["node"] for r in CC.kcore(o, k).collect()}
    adj = _adjacency(o)
    # sequential peel: remove any node under degree k until none remain
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    exp = set(adj)
    return got == exp, len(exp) > 0


# ---------------------------------------------------------------------------
# Gate curation.  The external correctness gate over __spark_entry__.queries()
# iterates it in insertion order and records only the first _DRIVER_GATE_SIZE
# (50) entries.  _DRIVER_PRIORITY puts its contracts first
# (_apply_driver_order), and the rule is that every SURVEY §2.B family
# (B1-B30) keeps at least one row among those 50; _check_driver_gate_families
# enforces it at import, so a rotation that displaces a family's only gate row
# cannot ship.  Every contract after #50 still runs in tests/tools and in the
# full-registry artifact (tools/check_contracts.py --json).  The rotation
# history is in git and ROUNDLOG.md.
# ---------------------------------------------------------------------------
_DRIVER_PRIORITY = [
    "scan_count", "project_arith", "filter_range_count",
    "repartition_agg_invariance", "agg_tpch_q1",
    "stream_ewma_packed_anomalies", "k_anonymity_events", "golden_record_users",
    "global_sort_topk", "sort_within_partitions_invariance", "interp_impute_census",
    "broadcast_join_agg", "minhash_replay_equal", "distinct_partkeys",
    "intersect_count", "rollup_agg", "corr_matrix_lineitem",
    "equi_depth_lineitem",
    "bpe_merges_equal", "json_extract_variant_agg",
    "inverted_index_terms", "topk_cosine",
    "bpe_encode_stats_equal", "semantic_dedup_kept", "hll_sketch_merge_ok",
    "label_prop_equal", "table_recon_counts",
    "priority_sample_orders",
    "changeset_apply_arriving", "stream_cusum_packed_census",
    "sessionize",
    "multimodal_expected_ok", "pandas_udf_bucket", "exact_dedup_docs",
    "duplicated_span_census",
    "tpch_q19_shape", "tpch_q20_shape", "tpch_q22_shape",
    "cte_sql", "sql_correlated_subquery", "full_outer_null_prices",
    "global_pctrank_distributed", "grouped_map_normalize",
    "udtf_chunk_stats", "upsert_merge", "unpivot_measures",
    "variant_json_agg", "map_keys_agg",
    "stream_keep_latest_packed",
    "date_functions",
]

_DRIVER_GATE_SIZE = 50
_B_FAMILIES = frozenset(f"B{i}" for i in range(1, 31))


# Explicit raises, not `assert`, which `python -O` strips.
def _check_driver_gate_families() -> None:
    unknown = [n for n in _DRIVER_PRIORITY if n not in REGISTRY]
    if unknown:
        raise ValueError(
            f"_DRIVER_PRIORITY names unregistered contracts: {unknown}"
        )
    if len(set(_DRIVER_PRIORITY)) != len(_DRIVER_PRIORITY):
        dupes = sorted(
            n for n in set(_DRIVER_PRIORITY)
            if _DRIVER_PRIORITY.count(n) > 1
        )
        raise ValueError(f"_DRIVER_PRIORITY has duplicates: {dupes}")
    gate = list(REGISTRY)[:_DRIVER_GATE_SIZE]
    covered = {t for n in gate for t in REGISTRY[n].tags}
    missing = sorted(_B_FAMILIES - covered, key=lambda s: int(s[1:]))
    if missing:
        raise ValueError(
            f"driver-gate curation (first {_DRIVER_GATE_SIZE} registry"
            f" entries) no longer covers §2.B families {missing} — a"
            " rotation displaced a family's only gate row; add a"
            " replacement row before shipping"
        )


def _apply_driver_order() -> None:
    ordered: dict[str, Contract] = {}
    for n in _DRIVER_PRIORITY:
        if n in REGISTRY:
            ordered[n] = REGISTRY[n]
    for n, c in REGISTRY.items():
        ordered.setdefault(n, c)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_apply_driver_order()
_check_driver_gate_families()


def names() -> list[str]:
    return list(REGISTRY)


def queries() -> dict[str, Builder]:
    return {name: c.build for name, c in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: c.oracle for name, c in REGISTRY.items() if c.oracle is not None}
