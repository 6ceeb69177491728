"""Deduplication operators.

Engine-level twins of the reference's exactly-once read path:

* duplicate-block dedup via seen-set of (taskId, seqId) in the reference's
  ShufflePartitionReader.java:378-393 -> engine analog is ``distinct()`` /
  ``dropDuplicates`` on key columns (B7), called directly on the DataFrame
  at the call site; there is no wrapper for a single method.
* ``keep_latest`` — stale-attempt filtering (keep only the newest attempt per
  map) in PartitionPipeReader.java:150-170 + latest-attempt map in
  Ors2Util.scala:54-87 -> engine analog is keep-latest-version-by-key (B8).
* ``exact_text_dedup`` — LLM-pipeline exact dedup on a normalized-content
  hash (B27).

Scale notes (100 TB): all of these are single-shuffle, key-partitioned
operations; `dropDuplicates` plans as a partial+final HashAggregate so the
map-side already collapses duplicates before the exchange (same motivation as
the reference's map-side combine).  `keep_latest` is a row_number() window
over the key (one shuffle plus a partition-local sort), so full rows survive.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def keep_latest(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
) -> DataFrame:
    """Keep the newest row per key (B8) — row_number()=1 over a descending
    order.  ``order`` must be a total order (include a unique tiebreaker, the
    way the reference tiebreaks on attemptId) for deterministic output.
    """
    from shuttle_spark.operators.relational import top_k_per_group

    return top_k_per_group(df, list(keys), list(order), 1)


def upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column] = (),
) -> DataFrame:
    """Merge/upsert: rows from ``updates`` replace same-key rows in ``base``
    (within ``updates``, ties broken by ``order`` then update-wins).  This is
    the engine-level twin of the reference's attempt-lineage rule — the
    latest attempt's blocks replace earlier ones wholesale
    (PartitionPipeReader.java:150-170) — generalized to keyed tables.

    One union + one keep-latest window: a single shuffle on the key, no
    join.  At 100 TB this is the standard CDC-compaction shape; pair with a
    partitioned write to produce the compacted snapshot."""
    b = base.withColumn("__src", F.lit(0))
    u = updates.withColumn("__src", F.lit(1))
    return keep_latest(
        b.unionByName(u), keys, [F.desc("__src"), *order]
    ).drop("__src")


def normalized_text_key(text: Column) -> Column:
    """Canonical content key: md5 of functions.text.normalize (trim +
    lowercase + collapse whitespace) — ONE normalization rule for dedup
    keys, shingles and fingerprints, so a rule change can never silently
    split them.  Identical expression exists in the DuckDB oracle
    (contracts._NORM_SQL)."""
    from shuttle_spark.functions import text as TX

    return F.md5(TX.normalize(text))


def exact_text_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup of a document corpus on normalized content hash (B27).

    At 100 TB this is the cheapest dedup pass: the md5 key is computed
    map-side, dropDuplicates partially collapses before the exchange, and the
    shuffle carries one row per distinct hash per map partition.
    """
    return df.withColumn("__key", normalized_text_key(F.col(text_col))).dropDuplicates(
        ["__key"]
    ).drop("__key")


def aligned_span_windows(
    df: DataFrame,
    width: int = 32,
    stride: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct (id, win) relation of aligned fixed-width character windows
    over ``text_col`` (1 window per ``stride`` chars; docs shorter than
    ``width`` emit nothing).

    This is the exact-substring analog of shingling (cf. Lee et al. 2022's
    suffix-array substring dedup; the Spark-native rendition is aligned
    windows meeting in a hash shuffle — the same candidate-generation shape
    as MinHash banding, but EXACT on the window text).  The window
    expression is a pure JVM transform/substr tree over a sequence — no
    Python, no UDF.  Scale note: the exploded relation is ~width/stride x
    the corpus text bytes; at 100 TB group on ``xxhash64(win)`` instead of
    the raw window to halve shuffle bytes (the oracle-matching contract
    keeps the raw window, which at width 32 is the same size as an md5
    hex anyway)."""
    txt = F.col(text_col)
    wins = F.transform(
        F.sequence(
            F.lit(0),
            F.floor((F.length(txt) - F.lit(width)) / F.lit(stride)).cast("int"),
        ),
        lambda g: txt.substr(g * stride + 1, F.lit(width)),
    )
    return (
        df.filter(F.length(txt) >= width)
        .select(F.col(id_col), F.explode(wins).alias("win"))
        .dropDuplicates([id_col, "win"])
    )


def repeated_span_doc_ids(
    docs: DataFrame,
    width: int = 32,
    stride: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ids of documents sharing an aligned ``width``-char exact window with
    at least one OTHER document — the detection half of verbatim-copy
    dedup (boilerplate, mirrored pages, license blocks).

    Plan: explode -> distinct (id, win) (partial+final hash agg, map-side
    collapse) -> windows with >=2 holders -> semi-join back.  Both
    aggregations and the semi-join hash-partition on the window key, so
    skew concentrates only on truly viral spans (bounded by HAVING>1
    output size, not input size)."""
    wins = aligned_span_windows(docs, width, stride, text_col, id_col)
    shared = (
        wins.groupBy("win").count().filter(F.col("count") > 1).select("win")
    )
    return wins.join(shared, "win", "left_semi").select(id_col).distinct()


def golden_record(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Survivorship merge ("golden record"): one row per entity where
    EACH column independently takes its latest NON-NULL value — the
    master-data consolidation step that ``keep_latest`` (whole-row
    winner) cannot express: the newest row may carry NULLs for fields an
    older row filled, and per-field survivorship backfills them.  Output:
    ``keys..., n_versions, last_ts, <value_cols...>``.

    Per column the pick is ``max_by(col, CASE WHEN col IS NOT NULL THEN
    okey END)`` with ``okey = struct(epoch_micros, tiebreak)`` — a total
    order whenever the tiebreak is unique, so ties cannot make the pick
    ambiguous.  The SQL twin keeps the ORDER-EQUIVALENT ``LEX_OKEY_SQL``
    string key (identical sort order over the full long range), so both
    engines pick the same row — pick equality is what the oracle hashes,
    not key bytes.  The Spark side used the string key too until round
    10: with one max_by per survived column the 41-char key build+compare
    repeats per column, and the struct form measured 2x faster at sf10
    (0.98 vs 1.9-2.1 s, identical rows; still SortAggregate either way —
    the win is pure key arithmetic).  The
    NULL-guard on the ordering key is load-bearing AND an engine
    semantics trap: Spark's ``max_by(v, o)`` returns the v AT the max o
    — NULL if that row's v is NULL — while DuckDB's ``arg_max(v, o)``
    skips NULL v entirely; guarding o with ``v IS NOT NULL`` makes both
    engines pick the latest non-NULL v (measured divergence, see
    test_golden_record_semantics).

    Plan: ONE exchange, map-side combined — each partial aggregate
    collapses its partition to one candidate per (entity, column), so
    at 100 TB the shuffle moves O(entities), not O(rows).  Spark plans
    SortAggregate here (max_by's var-width string buffer disqualifies
    the fixed-width hash-agg fast path), so each partition sorts by
    entity key first — in-partition CPU, no extra exchange; the
    window/row_number formulation would also sort but then shuffle
    every entity's FULL history instead of the collapsed candidates."""
    # cast matches the SQL twin's HUGEINT cast: a string-typed numeric
    # tiebreak must order NUMERICALLY on both engines, not
    # lexicographically on one (ADVICE r10); validated so a non-numeric
    # tiebreak fails loudly instead of NULLing the order (ADVICE r11)
    from shuttle_spark.operators.relational import long_tiebreak

    okey = F.struct(
        F.unix_micros(F.col(ts_col)).alias("t"),
        long_tiebreak(df, tiebreak).alias("i"),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_versions"),
        F.max(F.col(ts_col)).alias("last_ts"),
    ]
    for c in value_cols:
        aggs.append(
            F.max_by(
                F.col(c), F.when(F.col(c).isNotNull(), okey)
            ).alias(c)
        )
    return df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def golden_record_oracle_sql(
    table: str,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: str,
    value_cols: Sequence[str],
) -> str:
    """DuckDB twin of ``golden_record`` (identical okey + NULL-guard)."""
    from shuttle_spark.operators.relational import LEX_OKEY_SQL

    okey = LEX_OKEY_SQL.format(ts=ts_col, tiebreak=tiebreak)
    ks = ", ".join(keys)
    picks = ", ".join(
        f"arg_max({c}, CASE WHEN {c} IS NOT NULL THEN {okey} END) AS {c}"
        for c in value_cols
    )
    return (
        f"SELECT {ks}, COUNT(*) AS n_versions,"
        f" MAX({ts_col}::TIMESTAMP) AS last_ts, {picks}"
        f" FROM {table} GROUP BY {ks}"
    )
