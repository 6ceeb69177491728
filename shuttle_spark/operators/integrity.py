"""Data-integrity operators (B23).

The reference checksums every (map, partition) stream with CRC32 on write
(/root/reference/src/main/scala/org/apache/spark/shuffle/Ors2BlockManager.scala:127-136)
and verifies on read, throwing Ors2ChecksumException on mismatch
(ShufflePartitionReader.java:186-191,217-249).  Spark ships the same guard
internally (`spark.shuffle.checksum.enabled`, on in session.py); here we
expose *query-level* checksums so a pipeline can assert that two stages (or
two engines) saw the same data.

Cross-engine contract note: DuckDB 1.0 has no crc32(), so the portable
checksum is a 40-bit prefix of md5 summed over rows (``md5_prefix``; in an
engine session a JVM kernel, the counterpart of the reference's native
CRC32, computes it).  The sum accumulates in
DECIMAL(38,0) on BOTH engines (Spark decimal sum / DuckDB HUGEINT cast to
DECIMAL(38,0)): an int64 accumulator would wrap silently past ~2^23 rows in
Spark's non-ANSI mode while DuckDB widens to HUGEINT — exactly the scale
divergence this module exists to catch.  DECIMAL(38,0) holds sums of 2^40-bit
row hashes exactly up to ~10^26 rows.  A Spark-native xxhash64 variant
(``xxhash_checksum``) is also exposed for intra-engine use.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shuttle_spark import session as S


class ChecksumMismatch(Exception):
    """Engine twin of the reference's Ors2ChecksumException."""


def md5_prefix(col: Column, bits: int) -> Column:
    """First ``bits`` bits of md5(col rendered as a string) as a bigint, the
    portable row hash of this module; NULL in, NULL out.  ``bits`` is a
    multiple of 4 up to 60: the DuckDB twin is
    ``('0x' || substr(md5(x), 1, bits / 4))::BIGINT``.

    In a session built by ``get_session`` it is the engine's JVM kernel
    ``shuttle_md5_prefix`` over the string's UTF-8 bytes (session.py,
    "Checksum kernel"); elsewhere it is Spark's
    ``conv(substring(md5(x), 1, bits / 4), 16, 10)`` cast to long, with
    the same values.  The kernel skips the per-row hex string and its two
    re-parses: summed over the 6M-row sf1 lineitem (local[4], 4-core host)
    the 32-bit checksum costs 2.98 s of executor CPU, against 7.05 s for
    the SQL form.

    Accumulators: an int64 sum of 32-bit terms is exact below 2^31 rows
    (cast the DuckDB SUM back to BIGINT, it widens to HUGEINT natively);
    ``checksum`` sums 40-bit terms in DECIMAL(38,0), wrap-proof to ~10^26
    rows."""
    if bits % 4 or not 0 < bits <= 60:
        raise ValueError(f"bits must be a multiple of 4 in [4, 60], got {bits}")
    if S.kernel_session():
        return F.call_function(
            S.MD5_PREFIX_FUNCTION, col.cast("string").cast("binary"), F.lit(bits)
        )
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, bits // 4), 16, 10
    ).cast("long")


def checksum(df: DataFrame, col: Column, alias: str = "checksum") -> DataFrame:
    """Order-independent content checksum: sum of the 40-bit md5 prefix over rows,
    accumulated exactly in DECIMAL(38,0) (no int64 wrap at any row count a
    38-digit decimal can express — ~10^26 rows)."""
    return df.agg(
        F.sum(md5_prefix(col, 40).cast(T.DecimalType(38, 0))).alias(alias)
    )


def xxhash_checksum(df: DataFrame, cols: list[Column], alias: str = "checksum") -> DataFrame:
    """xxhash64 multi-column row hash folded to 32 bits (pmod 2^32) and
    summed — exact in an int64 accumulator below 2^31 rows.  A raw sum of
    uniform 64-bit xxhash terms overflows almost immediately, and under
    Spark 4's ANSI-on default that is a runtime ARITHMETIC_OVERFLOW that
    kills the job, not a both-sides-wrap-identically equality check."""
    return df.agg(
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 32))).alias(alias)
    )


def verify(df: DataFrame, col: Column, expected: int) -> int:
    """Recompute and compare, raising ChecksumMismatch on drift — the engine
    twin of the reference's read-side verification."""
    actual = checksum(df, col).collect()[0][0]
    if actual != expected:
        raise ChecksumMismatch(f"checksum mismatch: expected {expected}, got {actual}")
    return actual


def table_recon(
    left: DataFrame,
    right: DataFrame,
    cols: Sequence[str],
    n_buckets: int = 64,
) -> DataFrame:
    """Cross-table reconciliation census — the scalable migration /
    replication verification pattern: both tables collapse to ``n_buckets``
    (count, hash-sum) rows keyed by a hash bucket of the first column, so
    divergence LOCALIZES without ever moving full rows.  A mismatched
    bucket is a 1/n_buckets-sized drill-down target (re-run recon on that
    bucket's rows with more buckets, or diff it directly); matching
    checksums certify the bucket's content equal with 32-bit-per-row
    strength.  At 100 TB this is two scans + two n_buckets-row aggregates
    + one tiny join — the only way to answer "are these two copies equal,
    and if not WHERE" without a full-table shuffle join.

    ``cols[0]`` is the bucketing identity (the key); every column in
    ``cols`` enters the row signature via an explicit NULL sentinel (a
    bare concat would NULL-propagate and silently drop rows from the
    checksum).  Float columns should be passed pre-quantized (the B6
    scaled-long discipline) — raw double-to-string rendering differs
    between engines.  Statuses: ``match``, ``content_diff`` (same count,
    different content), ``count_diff``, ``only_left``/``only_right``
    (bucket present on one side — only possible when a side is empty or
    tiny).  Two EMPTY tables produce zero rows — the vacuous-equality
    census, not an error.  DuckDB twin of the signature/bucket
    arithmetic in the table_recon_counts contract."""
    def census(df: DataFrame, side: str) -> DataFrame:
        parts = []
        for c in cols:
            parts.append(F.coalesce(F.col(c).cast("string"), F.lit("␀")))
            parts.append(F.lit(":"))
        sig = F.concat(*parts[:-1])
        bucket = F.pmod(
            md5_prefix(F.col(cols[0]).cast("string"), 32), F.lit(n_buckets)
        )
        return (
            df.select(bucket.alias("bucket"), md5_prefix(sig, 32).alias("__h"))
            .groupBy("bucket")
            .agg(
                F.count("*").alias(f"{side}_rows"),
                F.sum("__h").alias(f"{side}_sum"),
            )
        )
    l_c, r_c = census(left, "left"), census(right, "right")
    j = l_c.join(r_c, "bucket", "full_outer")
    status = (
        F.when(F.col("left_rows").isNull(), F.lit("only_right"))
        .when(F.col("right_rows").isNull(), F.lit("only_left"))
        .when(F.col("left_rows") != F.col("right_rows"), F.lit("count_diff"))
        .when(F.col("left_sum") != F.col("right_sum"), F.lit("content_diff"))
        .otherwise(F.lit("match"))
    )
    return j.select(
        "bucket",
        F.coalesce("left_rows", F.lit(0)).alias("left_rows"),
        F.coalesce("right_rows", F.lit(0)).alias("right_rows"),
        status.alias("status"),
    )


def table_recon_drill(
    left: DataFrame,
    right: DataFrame,
    cols: Sequence[str],
    buckets: Sequence[int],
    n_buckets: int = 64,
) -> DataFrame:
    """Phase 2 of the reconciliation workflow: fetch the ACTUAL differing
    rows for the buckets ``table_recon`` flagged.  Both sides filter to
    the suspect buckets FIRST (1/n_buckets of the data per bucket — this
    is what makes drill-down cheap at 100 TB: the bucket predicate is a
    pure function of the key, so it pushes into the scan), then the
    multiset difference runs each way on the full row signature.
    Returns one row per divergent row occurrence with ``side`` =
    'only_left' / 'only_right'; a row UPDATED between the copies appears
    once on each side (its two versions), which is exactly what a repair
    job needs.  Multiset semantics (exceptAll) so duplicate-row count
    drift is visible, matching the census' count-based statuses."""
    bucket_list = [int(b) for b in buckets]

    def prep(df: DataFrame) -> DataFrame:
        bucket = F.pmod(
            md5_prefix(F.col(cols[0]).cast("string"), 32), F.lit(n_buckets)
        )
        return (
            df.withColumn("bucket", bucket)
            .filter(F.col("bucket").isin(bucket_list))
            .select("bucket", *cols)
        )
    l_p, r_p = prep(left), prep(right)
    only_l = l_p.exceptAll(r_p).withColumn("side", F.lit("only_left"))
    only_r = r_p.exceptAll(l_p).withColumn("side", F.lit("only_right"))
    return only_l.unionByName(only_r)


def column_profile(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """One-pass per-column data-quality census: for every column, row
    count, NULL count, distinct count, and string-rendered min/max — the
    validation pass every training-data pipeline runs before (and after)
    a big transform, and the stats half of what ``table_recon`` does for
    content.  One row out per column: ``col_name, n_rows, n_null,
    n_distinct, min_str, max_str``.

    Plan: ALL columns ride ONE aggregate over ONE scan (map-side
    combined, single exchange of one collapsed row), then a ``stack``
    unpivot of that row — at 100 TB this is the cost of one pass over
    the data, not one pass per column.  ``exact_distinct=False`` (the
    scale default) uses approx_count_distinct (HLL, no plan expansion);
    ``True`` uses COUNT(DISTINCT col), which Catalyst rewrites to ONE
    scan + an Expand of len(cols) — exact, oracle-comparable, and the
    right choice when the census IS the contract (gate SF), but the
    Expand multiplies shuffled rows by the column count, so prefer the
    HLL path on real volumes.

    Cross-engine note: min/max are rendered via CAST(x AS STRING);
    integer and string columns render identically on Spark and DuckDB,
    floating-point columns may not — quantize doubles first (the B6
    scaled-long discipline) when the profile feeds a cross-engine gate.
    """
    names = list(cols) if cols is not None else list(df.columns)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(names):
        col = F.col(c)
        aggs.append(F.count(col).alias(f"__nn_{i}"))
        nd = (
            F.count_distinct(col)
            if exact_distinct
            else F.approx_count_distinct(col)
        )
        aggs.append(nd.alias(f"__nd_{i}"))
        aggs.append(F.min(col).cast("string").alias(f"__mn_{i}"))
        aggs.append(F.max(col).cast("string").alias(f"__mx_{i}"))
    one = df.agg(*aggs)
    parts = ", ".join(
        f"'{c}', __nn_{i}, __nd_{i}, __mn_{i}, __mx_{i}"
        for i, c in enumerate(names)
    )
    stacked = one.select(
        F.col("__n").alias("n_rows"),
        F.expr(
            f"stack({len(names)}, {parts}) AS"
            " (col_name, n_nonnull, n_distinct, min_str, max_str)"
        ),
    )
    return stacked.select(
        "col_name",
        "n_rows",
        (F.col("n_rows") - F.col("n_nonnull")).alias("n_null"),
        "n_distinct",
        "min_str",
        "max_str",
    )


_PROFILE_METRICS = ("n_rows", "n_null", "n_distinct", "min_str", "max_str")


def profile_diff(
    left: DataFrame,
    right: DataFrame,
    cols: Sequence[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """Schema/stats drift census between two snapshots: profile both
    sides (one pass each), join the per-column profiles, and classify —
    the cheap first question of any migration, backfill, or pipeline
    upgrade ("did anything move?") answered from two single-pass
    censuses of len(cols) rows each, no row ever shuffled.  Statuses, in
    priority order: ``only_left``/``only_right`` (column present on one
    side — schema drift), ``row_count_drift``, ``null_drift``,
    ``distinct_drift``, ``range_drift`` (min/max moved, null-safe so an
    all-NULL column compares equal to itself), ``match``.  When the
    census says ``match`` it certifies the profiled stats, not content
    equality — ``table_recon`` is the content check; this is the stats
    check that tells you whether to bother."""
    l_names = list(cols) if cols is not None else list(left.columns)
    r_names = list(cols) if cols is not None else list(right.columns)
    lp = column_profile(left, l_names, exact_distinct)
    rp = column_profile(right, r_names, exact_distinct)
    lp = lp.select("col_name", *[F.col(m).alias(f"l_{m}") for m in _PROFILE_METRICS])
    rp = rp.select("col_name", *[F.col(m).alias(f"r_{m}") for m in _PROFILE_METRICS])
    j = lp.join(rp, "col_name", "full_outer")
    rng_same = F.col("l_min_str").eqNullSafe(F.col("r_min_str")) & F.col(
        "l_max_str"
    ).eqNullSafe(F.col("r_max_str"))
    status = (
        F.when(F.col("r_n_rows").isNull(), F.lit("only_left"))
        .when(F.col("l_n_rows").isNull(), F.lit("only_right"))
        .when(F.col("l_n_rows") != F.col("r_n_rows"), F.lit("row_count_drift"))
        .when(F.col("l_n_null") != F.col("r_n_null"), F.lit("null_drift"))
        .when(
            F.col("l_n_distinct") != F.col("r_n_distinct"),
            F.lit("distinct_drift"),
        )
        .when(~rng_same, F.lit("range_drift"))
        .otherwise(F.lit("match"))
    )
    return j.select("col_name", *[c for c in j.columns if c != "col_name"]).withColumn(
        "status", status
    )


def corr_matrix(df: DataFrame, cols: Sequence[tuple[str, int]]) -> DataFrame:
    """Pairwise Pearson correlation census over numeric columns — the
    feature-redundancy / drift-diagnosis pass a training-data pipeline
    runs next to ``column_profile`` ("which signals move together?").
    One output row per unordered column pair: ``col_x, col_y, n_rows,
    corr`` (corr NULL when either side is constant).

    ``cols`` is ``[(name, scale), ...]``: each column is quantized to
    ``round(x * 10^scale)`` as int64 FIRST, and every moment (sum,
    sum-of-squares, cross products) is an exact integer sum — Pearson
    correlation is scale-invariant, so quantization changes the answer
    only at the quantization grain while making all K(K+3)/2 moments
    association-free and bit-stable cross-engine (the B6 scaled-long
    discipline extended to second moments).  Per-column scales keep the
    per-row products inside int64 at any realistic magnitude; the
    ACCUMULATORS themselves (``Sx`` and ``Sxy``) are summed as
    DECIMAL(38,0) (Spark) / HUGEINT (oracle) — a long-typed ``F.sum``
    would silently wrap past ~9.2e18, reachable near ~1e9 rows when the
    per-row products sit around 1e10, exactly the 100 TB design point —
    and the final combination ``n*Sxy - Sx*Sy`` stays in DECIMAL(38,0) /
    HUGEINT because the n-fold products overflow int64 far earlier.

    Rows with a NULL in ANY profiled column are dropped (complete-case),
    so every pair shares one n and the matrix is positive semidefinite.

    Plan: ALL K(K+3)/2 moments ride ONE map-side-combined aggregate over
    ONE column-pruned scan (a single collapsed row crosses the exchange);
    pair rows are stacked from that row driver-side-free.  At 100 TB this
    is one pass, not one pass per pair — and there is no join, window, or
    second shuffle anywhere.
    """
    names = [c for c, _ in cols]
    k = len(names)
    if k < 2:
        raise ValueError("corr_matrix needs at least two columns")
    base = df.na.drop(subset=names)
    qcols = [
        F.round(F.col(c) * (10 ** s)).cast("long").alias(f"__q_{i}")
        for i, (c, s) in enumerate(cols)
    ]
    q = base.select(*qcols)
    dec = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i in range(k):
        # Sum in DECIMAL(38,0): exact to 1e38 like the oracle's HUGEINT
        # (the per-row value/product is exact in int64; only the
        # accumulator needs the wide type).
        aggs.append(F.sum(F.col(f"__q_{i}").cast(dec)).alias(f"__s_{i}"))
        for j in range(i, k):
            aggs.append(
                F.sum(
                    (F.col(f"__q_{i}") * F.col(f"__q_{j}")).cast(dec)
                ).alias(f"__p_{i}_{j}")
            )
    one = q.agg(*aggs)

    n_d = F.col("__n").cast(dec)

    def _var(i: int) -> Column:
        s = F.col(f"__s_{i}").cast(dec)
        return (n_d * F.col(f"__p_{i}_{i}").cast(dec) - s * s).cast("double")

    def _cov(i: int, j: int) -> Column:
        return (
            n_d * F.col(f"__p_{i}_{j}").cast(dec)
            - F.col(f"__s_{i}").cast(dec) * F.col(f"__s_{j}").cast(dec)
        ).cast("double")

    pairs = []
    for i in range(k):
        for j in range(i + 1, k):
            vx, vy = _var(i), _var(j)
            corr = F.when(
                (vx > 0) & (vy > 0),
                F.round(_cov(i, j) / F.sqrt(vx * vy), 6),
            )
            pairs.append(
                F.struct(
                    F.lit(names[i]).alias("col_x"),
                    F.lit(names[j]).alias("col_y"),
                    F.col("__n").alias("n_rows"),
                    corr.alias("corr"),
                ).alias(f"__pair_{i}_{j}")
            )
    stacked = one.select(
        F.explode(F.array(*pairs)).alias("p")
    )
    return stacked.select("p.col_x", "p.col_y", "p.n_rows", "p.corr")


def corr_matrix_oracle_sql(
    table: str, cols: Sequence[tuple[str, int]]
) -> str:
    """DuckDB twin of ``corr_matrix`` with the identical expression tree
    (same quantization, same HUGEINT exact combination, same
    double-division/sqrt/round order) so agreement is bit-stable."""
    names = [c for c, _ in cols]
    k = len(names)
    nn = " AND ".join(f"{c} IS NOT NULL" for c in names)
    qsel = ", ".join(
        f"CAST(ROUND({c} * {10 ** s}) AS BIGINT) AS q_{i}"
        for i, (c, s) in enumerate(cols)
    )
    moments = ["COUNT(*) AS n"]
    for i in range(k):
        moments.append(f"CAST(SUM(q_{i}) AS HUGEINT) AS s_{i}")
        for j in range(i, k):
            moments.append(
                f"CAST(SUM(q_{i} * q_{j}) AS HUGEINT) AS p_{i}_{j}"
            )
    var = {
        i: f"CAST(CAST(n AS HUGEINT) * p_{i}_{i} - s_{i} * s_{i} AS DOUBLE)"
        for i in range(k)
    }
    sels = []
    for i in range(k):
        for j in range(i + 1, k):
            cov = (
                f"CAST(CAST(n AS HUGEINT) * p_{i}_{j}"
                f" - s_{i} * s_{j} AS DOUBLE)"
            )
            sels.append(
                f"SELECT '{names[i]}' AS col_x, '{names[j]}' AS col_y,"
                f" CAST(n AS BIGINT) AS n_rows,"
                f" CASE WHEN {var[i]} > 0 AND {var[j]} > 0 THEN"
                f" ROUND({cov} / SQRT({var[i]} * {var[j]}), 6)"
                f" END AS corr FROM m"
            )
    return (
        f"WITH q AS (SELECT {qsel} FROM {table} WHERE {nn}),"
        f" m AS (SELECT {', '.join(moments)} FROM q) "
        + " UNION ALL ".join(sels)
    )


def fk_integrity_census(
    child_fks: Sequence[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity census over a set of FK relationships: per
    relationship the child row count, NULL-FK count, orphan ROW count,
    and orphan KEY count — the cross-table half of data-quality
    validation (``column_profile`` checks columns, ``table_recon``
    checks replicas; this checks the JOINS a warehouse depends on).

    ``child_fks`` is ``[(name, child_df, fk_col, parent_df, pk_col)]``.

    Plan per relationship: the child collapses to (fk, row_count) FIRST
    (map-side combined — every later step then runs on O(distinct
    keys), not O(rows)), the parent is column-pruned and
    key-deduplicated, and ONE LEFT join + ONE aggregate classify every
    key as present/orphan/NULL in a single pass (no anti-join branch,
    no cross join of partial censuses).  At 100 TB this is the only
    viable order: joining raw child rows against a fact-sized parent
    shuffles the whole table; the collapsed form shuffles one row per
    distinct key.  All relationships union into one census result
    (each branch is an independent subtree — they parallelize as
    separate stages)."""
    if not child_fks:
        raise ValueError(
            "fk_integrity_census needs at least one relationship"
        )
    outs = []
    for name, child, fk, parent, pk in child_fks:
        per_key = (
            child.select(F.col(fk).alias("__k"))
            .groupBy("__k")
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        marked = per_key.join(
            parent.select(F.col(pk).alias("__k"))
            .distinct()
            .withColumn("__hit", F.lit(1)),
            "__k",
            "left",
        )
        k_ok = F.col("__k").isNotNull()
        orphan = k_ok & F.col("__hit").isNull()
        outs.append(
            marked.agg(
                F.coalesce(
                    F.sum(F.when(k_ok, F.col("__cnt"))), F.lit(0)
                ).alias("n_rows"),
                F.coalesce(
                    F.sum(F.when(~k_ok, F.col("__cnt"))), F.lit(0)
                ).alias("n_null_fk"),
                F.coalesce(
                    F.sum(F.when(orphan, F.col("__cnt"))), F.lit(0)
                ).alias("n_orphan_rows"),
                F.count(F.when(orphan, F.lit(1))).alias("n_orphan_keys"),
            ).select(
                F.lit(name).alias("fk_name"),
                "n_rows",
                "n_null_fk",
                "n_orphan_rows",
                "n_orphan_keys",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def fk_integrity_oracle_sql(
    child_fks: Sequence[tuple[str, str, str, str, str]],
) -> str:
    """DuckDB twin of ``fk_integrity_census``; tuples are
    ``(name, child_sql, fk_col, parent_sql, pk_col)``."""
    parts = []
    for name, child, fk, parent, pk in child_fks:
        parts.append(
            f"SELECT '{name}' AS fk_name,"
            f" CAST(COALESCE(SUM(CASE WHEN k IS NOT NULL THEN cnt END), 0)"
            f"  AS BIGINT) AS n_rows,"
            f" CAST(COALESCE(SUM(CASE WHEN k IS NULL THEN cnt END), 0)"
            f"  AS BIGINT) AS n_null_fk,"
            f" CAST(COALESCE(SUM(CASE WHEN k IS NOT NULL AND hit IS NULL"
            f"  THEN cnt END), 0) AS BIGINT) AS n_orphan_rows,"
            f" COUNT(CASE WHEN k IS NOT NULL AND hit IS NULL"
            f"  THEN 1 END) AS n_orphan_keys"
            f" FROM (SELECT c.k, c.cnt, p.hit FROM"
            f" (SELECT {fk} AS k, COUNT(*) AS cnt FROM {child}"
            f"  GROUP BY 1) c"
            f" LEFT JOIN (SELECT DISTINCT {pk} AS k, 1 AS hit"
            f"  FROM {parent}) p ON c.k = p.k)"
        )
    return " UNION ALL ".join(parts)
