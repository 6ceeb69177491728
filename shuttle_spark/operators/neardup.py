"""Near-duplicate detection: exact n-gram Jaccard, MinHash+LSH, SimHash.

The LLM-pipeline dedup family (SURVEY.md §2.B B28).  Design notes for the
100 TB posture:

* **JVM-side by default.**  Hashing, MinHash permutations and SimHash bit
  counting are built from higher-order functions (transform/aggregate/
  zip_with) over arrays.  SHINGLING is not: Spark interprets array HOFs
  (no codegen), and a per-doc HOF shingle pipeline measured ~2 ms/doc.
  It runs in the engine's JVM kernel ``shuttle_shingles``
  (``shuttle_spark/jvm/Shingles.java``), one call per row in the scan
  stage with no Python worker; hosts without ``javac`` keep the Arrow
  (pandas_udf) form.  Everything downstream of the gram relation stays
  JVM-side.
* **Candidate generation is a hash-partitioned equi-join** on
  (band_idx, band_key) — exactly the shuffle shape the reference's service
  exists to execute (partition -> group-by-key -> merge); AQE skew-join
  splits hot buckets (a universal shingle at 100 TB is a skewed key).
* **Exact verification is join-local**: candidates carry their shingle
  arrays, so Jaccard is computed without another shuffle.
* **The exact pair builds prune by length** before the pair count's
  shuffle: ``jac <= min(na, nb) / max(na, nb)``, so a candidate whose set
  sizes alone miss tau is dropped in the gram join (``_size_bound``).
* ``max_df`` stop-gram filtering caps the blow-up of ubiquitous shingles at
  scale (a shingle occurring in f docs contributes O(f²) candidate pairs).

The one-pass dedup policy (`near_dup_dedup`) keeps the smallest doc_id of
each detected pair — the same "first writer wins" witness policy as the
reference's duplicate-block dedup (ShufflePartitionReader.java:378-393),
not a transitive closure (connected components would need iteration).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from shuttle_spark import session as S
from shuttle_spark.cache import DFCache, cache_key
from shuttle_spark.functions import text as TX

# Mersenne prime 2^31-1: permutation hash space.  a*h+b stays < 2^62, no
# int64 overflow.
_P31 = 2147483647
_SEED = 42


# ---------------------------------------------------------------------------
# Shingling + exact Jaccard (the oracle-matchable baseline)
# ---------------------------------------------------------------------------

# Staged relations of the near-dup family: every variant (exact Jaccard,
# MinHash-LSH, dedup, recall checks) starts from the same (id, grams)
# relation, and the Arrow gram-building UDF is the family's dominant cost.
# The exact pair list is staged the same way: four contracts (pairs,
# pairwise dedup, clusters, cluster dedup) fan out from one tau-filtered
# pair relation.
_gram_cache = DFCache(max_size=8, storage_level="MEMORY_AND_DISK")
_pairs_cache = DFCache(max_size=8, storage_level="MEMORY_AND_DISK")


def clear_gram_cache() -> None:
    """Unpersist and drop every cached gram-set / pair relation."""
    _gram_cache.clear()
    _pairs_cache.clear()


def gram_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, grams) with grams = the distinct word n-grams of the normalized
    text (``TX.normalize``), in first-seen order; NULL text has none.

    In a session built by ``get_session`` the grams come from the JVM
    kernel ``shuttle_shingles`` (``shuttle_spark/jvm/Shingles.java``), one
    call per row inside the scan stage.  Elsewhere (no ``javac``) the
    tokens (``TX.tokens``) go through Arrow to a pandas UDF that windows
    them in Python, with the same rows.  Both replace a higher-order
    transform/slice/array_join tree, which Spark interprets per row per
    element (CodegenFallback; ~2 ms/doc).  A traced perfbench text_dedup
    pass (sf0.1, local[4], 4-core host) with the kernel returned 3.1 MB
    from Python workers instead of 8.2 MB.  The array is materialized
    once, so explodes and self-joins downstream touch a bound column."""
    if n < 1:
        raise ValueError(f"n must be at least 1, got {n}")
    key = cache_key(df, params=(id_col, text_col, n))
    hit = _gram_cache.get(key)
    if hit is not None:
        return hit
    if S.kernel_session():
        grams = F.call_function(
            S.SHINGLES_FUNCTION, TX.normalize(F.col(text_col)), F.lit(n)
        )
        out = df.select(F.col(id_col).alias("id"), grams.alias("grams"))
        return _gram_cache.put(key, out)

    @F.pandas_udf("array<string>")
    def _grams(tok_arrays: pd.Series) -> pd.Series:
        out = []
        for t in tok_arrays:
            if t is None or len(t) < n:
                out.append([])
            else:
                out.append(
                    list(
                        dict.fromkeys(
                            " ".join(t[i : i + n]) for i in range(len(t) - n + 1)
                        )
                    )
                )
        return pd.Series(out)

    toks = df.select(
        F.col(id_col).alias("id"), TX.tokens(F.col(text_col)).alias("__toks")
    )
    out = toks.select("id", _grams(F.col("__toks")).alias("grams"))
    return _gram_cache.put(key, out)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two distinct-element arrays.  Two empty
    sets score 0.0, not 0/0: under Spark 4's ANSI-on default a bare
    division would raise DIVIDE_BY_ZERO mid-job, and an empty gram set
    carries no similarity evidence either way."""
    inter = F.size(F.array_intersect(a, b))
    den = F.size(a) + F.size(b) - inter
    return F.when(den == 0, F.lit(0.0)).otherwise(inter / den)


def _size_bound(na: Column, nb: Column, tau: float) -> Column:
    """The length filter of the exact pair builds: False only for a pair of
    gram-set sizes that cannot reach Jaccard ``tau``.  ``inter <= min`` and
    ``union >= max``, so ``jac <= min / max``; the test is
    ``tau_bp * max <= 10000 * min`` with ``tau_bp = floor(tau * 10000)``,
    whose floor only widens it (2/3 is off the basis-point grid).  The
    sizes are the ones the Jaccard divides by, taken before ``max_df``
    drops any gram, so the filter stays exact under it.  In the join
    condition it drops a candidate row before the pair aggregation's
    shuffle; long arithmetic, as an int product overflows (ANSI raises)
    past 214,748 grams."""
    tau_bp = F.lit(math.floor(tau * 10000)).cast("long")
    return tau_bp * F.greatest(na, nb) <= 10000 * F.least(na, nb).cast("long")


def near_dup_pairs_exact(
    df: DataFrame,
    tau: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard pairs (id_a < id_b, j >= tau) via inverted-index
    join: explode grams, equi-join on the gram, count shared grams per pair,
    then Jaccard from the counts.  Exact for any tau > 0 (a qualifying pair
    shares >= 1 gram).  This is the scalable *exact* algorithm: the join key
    is a plain hash shuffle; ``max_df`` drops grams present in more than
    max_df documents (at a tiny recall cost, it bounds the O(f²) pair
    expansion of ubiquitous grams — essential at 100 TB, off by default so
    the contract matches the brute-force oracle).  The (small, tau-filtered)
    pair relation is session-cached: pairwise dedup, clustering, and cluster
    dedup all fan out from it.  The join drops candidates whose set sizes
    alone rule out ``tau`` (``_size_bound``)."""
    key = cache_key(df, params=(id_col, text_col, n, max_df, tau))
    hit = _pairs_cache.get(key)
    if hit is not None:
        return hit
    grams = gram_sets(df, id_col, text_col, n)
    # Inverted index carrying the set size: the pair aggregation then needs
    # NO size-lookup joins (na/nb are functionally dependent on the ids, so
    # grouping by them is free) — one self-join + one groupBy total.
    inv = grams.select(
        "id", F.size("grams").alias("ng"), F.explode("grams").alias("g")
    )
    if max_df is not None:
        # NO static broadcast: the keep set is the distinct gram vocabulary,
        # which grows with the corpus (measured 29.6 GiB at a 100x stress —
        # a forced broadcast is a driver OOM at scale).  Under the merge
        # hint AQE still converts to broadcast at runtime when the built
        # side is actually small.
        keep = inv.groupBy("g").count().filter(F.col("count") <= max_df).select("g")
        inv = inv.join(keep.hint("merge"), "g")
    # Candidate self-joins must never be planned as static broadcasts:
    # Catalyst's size estimate under union/explode/UDF chains is unreliable
    # (the same 100x stress saw the banded relation estimated broadcastable
    # while materializing to tens of GiB).  hint("merge") pins sort-merge —
    # AQE still skew-splits hot keys and can runtime-convert truly small
    # sides.
    a, b = inv.alias("a").hint("merge"), inv.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.id") < F.col("b.id"))
            & _size_bound(F.col("a.ng"), F.col("b.ng"), tau),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.ng").alias("na"),
            F.col("b.ng").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    out = (
        shared.withColumn(
            "jac",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jac") >= tau)
        .select("id_a", "id_b", F.round("jac", 6).alias("jac"))
    )
    return _pairs_cache.put(key, out)


def near_dup_pairs_between(
    new_df: DataFrame,
    corpus_df: DataFrame,
    tau: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Incremental near-dup join: exact Jaccard pairs between a NEW batch
    and an EXISTING corpus only (no corpus x corpus work) — the daily-
    ingest shape of a training-data pipeline, where the corpus side's
    inverted index is a staged relation (gram_sets session cache /
    persisted table) and each new batch pays only new x corpus candidate
    cost.  Output: (id_new, id_corpus, jac >= tau).  Like
    near_dup_pairs_exact, the (small, tau-filtered) pair relation is
    session-cached: admission filtering and audit queries over the same
    batch fan out from one materialization, and the join applies the same
    length filter (``_size_bound``)."""
    key = cache_key(
        new_df, corpus_df, params=("between", id_col, text_col, n, max_df, tau)
    )
    hit = _pairs_cache.get(key)
    if hit is not None:
        return hit
    ga = gram_sets(new_df, id_col, text_col, n)
    gb = gram_sets(corpus_df, id_col, text_col, n)
    inv_a = ga.select("id", F.size("grams").alias("na"), F.explode("grams").alias("g"))
    inv_b = gb.select("id", F.size("grams").alias("nb"), F.explode("grams").alias("g"))
    if max_df is not None:
        # Corpus-side-only df counting is CORRECT here (contrast
        # fuzzy_string_join, where it was a bug): set sizes na/nb stay
        # PRE-filter, so dropping a batch gram that the corpus lacks
        # changes nothing — that gram could never match in the g-join and
        # contributes only to the (unchanged) denominator.  The cap is a
        # recall/cost dial against a fixed tau on TRUE Jaccard; counting
        # df on the stable corpus side also means a daily batch cannot
        # perturb which grams are stop grams.
        keep = (
            inv_b.groupBy("g").count().filter(F.col("count") <= max_df).select("g")
        )
        inv_a = inv_a.join(keep.hint("merge"), "g")
        inv_b = inv_b.join(keep.hint("merge"), "g")
    shared = (
        inv_a.alias("a")
        .hint("merge")  # corpus-derived sides: never a static broadcast
        .join(
            inv_b.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & _size_bound(F.col("a.na"), F.col("b.nb"), tau),
        )
        .groupBy(
            F.col("a.id").alias("id_new"),
            F.col("b.id").alias("id_corpus"),
            F.col("a.na").alias("na"),
            F.col("b.nb").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    out = (
        shared.withColumn(
            "jac", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .filter(F.col("jac") >= tau)
        .select("id_new", "id_corpus", F.round("jac", 6).alias("jac"))
    )
    return _pairs_cache.put(key, out)


def dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    tau: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Admit only the new docs that near-duplicate nothing in the corpus —
    the incremental admission filter (corpus stays authoritative; new-batch
    internal dups are a separate `near_dup_dedup` pass)."""
    hits = near_dup_pairs_between(
        new_df, corpus_df, tau, id_col, text_col, n, max_df
    )
    losers = hits.select(F.col("id_new").alias(id_col)).distinct()
    return new_df.join(losers, id_col, "left_anti")


def near_dup_dedup(
    df: DataFrame,
    tau: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Drop every document that near-duplicates a smaller-id document."""
    pairs = near_dup_pairs_exact(df, tau, id_col, text_col, n, max_df)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# MinHash + LSH (the sub-quadratic scale path)
# ---------------------------------------------------------------------------

def _perm_coeffs(n_perm: int) -> tuple[list[int], list[int]]:
    rng = np.random.RandomState(_SEED)
    a = rng.randint(1, _P31, size=n_perm, dtype=np.int64)
    b = rng.randint(0, _P31, size=n_perm, dtype=np.int64)
    return [int(x) for x in a], [int(x) for x in b]


def minhash_signature(shingles: Column, n_perm: int = 128) -> Column:
    """MinHash signature (array<bigint>, length n_perm) of a shingle array.

    h_i(S) = min over s in S of ((a_i * xxhash64(s) mod P31 + b_i) mod P31);
    empty shingle sets get the all-P31 sentinel signature.

    Split hybrid: the per-shingle xxhash64 stays JVM-side (codegen), the
    n_perm affine mins run as ONE numpy broadcast per Arrow batch in a
    pandas UDF.  A pure expression-tree version (transform over a
    1..n_perm sequence) is catastrophically slow — Catalyst materializes a
    128-way nested lambda per row (~0.7 s/row measured) — while the numpy
    (n_perm, n_shingle) broadcast is microseconds.  Shuffle-free either way.
    a*h+b < 2^62 so the int64 arithmetic cannot overflow.
    """
    av, bv = _perm_coeffs(n_perm)
    a_arr = np.asarray(av, dtype=np.int64)[:, None]
    b_arr = np.asarray(bv, dtype=np.int64)[:, None]

    @F.pandas_udf("array<long>")
    def _sig(hash_arrays: pd.Series) -> pd.Series:
        sentinel = np.full(len(a_arr), _P31, dtype=np.int64)
        out = []
        for h in hash_arrays:
            h = np.asarray(h, dtype=np.int64)
            if h.size == 0:
                out.append(sentinel)
            else:
                out.append(((a_arr * h[None, :] + b_arr) % _P31).min(axis=1))
        return pd.Series(out)

    hashes = F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_P31)))
    return _sig(hashes)


def lsh_band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Hash each band (slice of the signature) to one bigint key."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.xxhash64(F.slice(signature, j * rows_per_band + 1, rows_per_band), j),
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_perm: int = 128,
    bands: int = 32,
    carry_grams: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on >= 1 LSH band.

    bands=32 of r=4 rows: P(candidate) = 1-(1-j^4)^32 — ~0.5 at j≈0.35,
    ~1.0 at j>=0.7.  The (band_idx, band_key) equi-join is the one shuffle.
    ``carry_grams=True`` ships each side's shingle set through the shuffle
    so exact verification is join-local (no second pass over the corpus).
    """
    r = n_perm // bands
    # Docs with NO shingles (shorter than n tokens) have no MinHash
    # identity: their all-sentinel signatures would collide on EVERY band,
    # fabricating O(E^2) candidate pairs among the E empty docs (each a
    # jaccard of two empty sets).  They are excluded here — matching the
    # exact inverted-index path, where a gramless doc posts nothing and
    # never joins; exact_dedup owns identical-empty-doc collapsing.
    grams = gram_sets(df, id_col, text_col, n).filter(F.size("grams") > 0)
    sig = grams.select(
        "id",
        minhash_signature(F.col("grams"), n_perm).alias("sig"),
    )
    banded = sig.select(
        "id",
        F.posexplode(lsh_band_keys(F.col("sig"), bands, r)).alias("band_idx", "band_key"),
    )
    # merge hint: see near_dup_pairs_exact — a banded self-join side
    # must never be a static broadcast.
    a, b = banded.alias("a").hint("merge"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    if not carry_grams:
        return pairs
    # Decide on narrow rows, attach payloads once (round 13, guide §8):
    # the pre-r13 form carried each doc's full shingle array through the
    # bands-way posexplode, the band sort-merge self-join AND the pair
    # dropDuplicates — every gram set crossed those exchanges `bands`
    # times per side.  The band collision and the id ordering depend only
    # on (id, band_idx, band_key), so the join/dedup above runs on ~40-byte
    # rows and the gram sets join back HERE, each moving exactly once per
    # side from the session-staged (persisted) gram relation.  Same rows,
    # same schema: pairs are unique by (id_a, id_b) before the attach.
    # Gram sets are made unique per id here: docs sharing an id would
    # otherwise fan one pair out into a row per doc combination.  Such an
    # id keeps its least gram set (array order), so the choice does not
    # depend on partitioning; both attaches read the same relation.
    per_id = grams.groupBy("id").agg(F.min("grams").alias("grams"))
    return pairs.join(
        per_id.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a")),
        "id_a",
    ).join(
        per_id.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b")),
        "id_b",
    ).select("id_a", "id_b", "grams_a", "grams_b")


def minhash_near_dup_pairs(
    df: DataFrame,
    tau: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_perm: int = 128,
    bands: int = 32,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard, join-local (the
    shingle sets ride the shuffle via ``carry_grams``)."""
    cand = minhash_candidates(
        df, id_col, text_col, n, n_perm, bands, carry_grams=True
    )
    return cand.select(
        "id_a",
        "id_b",
        F.round(jaccard(F.col("grams_a"), F.col("grams_b")), 6).alias("jac"),
    ).filter(F.col("jac") >= tau)


# ---------------------------------------------------------------------------
# SimHash (64-bit fingerprint; hamming-ball near-dup)
# ---------------------------------------------------------------------------

_POWS = [1 << i for i in range(63)]  # 63 bits; keeps the value positive


def simhash(text: Column) -> Column:
    """63-bit SimHash of the distinct-token set.

    Same hybrid as minhash_signature: token xxhash64 in codegen, bit voting
    (per bit b: sum of +-1 over token hashes' bit b; bit set iff sum >= 0)
    as a numpy unpack per Arrow batch — a 63-way expression tree per row is
    quadratically slow in Catalyst.

    NULL text and zero-token text have NO fingerprint (NULL, not 0): a
    shared all-zero fingerprint would make every pair of empty docs a
    hamming-0 "near-duplicate" (and np.asarray(None) used to crash the
    whole job on the first NULL row).  NULL fingerprints never satisfy the
    blocking join, so empty docs simply produce no pairs — exact_dedup
    owns identical-empty-doc collapsing."""

    @F.pandas_udf("long")
    def _simhash(hash_arrays: pd.Series) -> pd.Series:
        pows = np.asarray(_POWS, dtype=np.int64)
        out = np.zeros(len(hash_arrays), dtype=np.int64)
        null = np.zeros(len(hash_arrays), dtype=bool)
        for i, h in enumerate(hash_arrays):
            if h is None:
                null[i] = True
                continue
            h = np.asarray(h, dtype=np.int64)
            if h.size == 0:
                null[i] = True
                continue
            bits = (h[:, None] & pows[None, :]) != 0  # (tokens, 63)
            votes = bits.sum(axis=0) * 2 - h.size  # (+1/-1 summed)
            out[i] = int(pows[votes >= 0].sum())
        res = pd.array(out, dtype="Int64")
        res[null] = pd.NA
        return pd.Series(res)

    hashes = F.transform(F.array_distinct(TX.tokens(text)), lambda t: F.xxhash64(t))
    return _simhash(hashes)


def _chunk_exprs(col: Column, n_chunks: int, total_bits: int = 63) -> list[Column]:
    """Split the low ``total_bits`` of a bigint into ``n_chunks`` contiguous
    bit ranges (widths differ by at most 1)."""
    base, extra = divmod(total_bits, n_chunks)
    out, off = [], 0
    for j in range(n_chunks):
        w = base + (1 if j < extra else 0)
        out.append(F.shiftright(col, off).bitwiseAND(F.lit((1 << w) - 1)))
        off += w
    return out


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dups, blocked on ``max_hamming + 1`` bit chunks.

    Pigeonhole guarantee: two 63-bit fingerprints within hamming distance h
    differ in <= h chunks, so with h+1 chunks at least one chunk is
    bit-identical — the (chunk_idx, chunk) equi-join therefore has **recall
    1.0** for any ``max_hamming`` (h=3 -> 4x ~16-bit chunks, h=8 -> 9x 7-bit
    chunks).  Exact hamming via bit_count(xor) is verified join-local.
    Recall completeness is contracted (`simhash_recall_ok`) against a
    brute-force hamming self-join on a bounded sample.

    Scale dial: chunk width is ~63/(h+1) bits and random-collision candidate
    volume grows as N²/2^width per chunk, so at large N keep h small (h<=3
    keeps ~16-bit chunks) or compose with a coarser pre-block (length
    bucket / language / shard) the way `cosine_near_dup_pairs` uses
    ``block_col``; h=8 at 100 TB needs Manku-style combination blocking."""
    n_chunks = max_hamming + 1
    sh = df.select(F.col(id_col).alias("id"), simhash(F.col(text_col)).alias("sh"))
    chunked = sh.select(
        "id",
        "sh",
        F.posexplode(F.array(*_chunk_exprs(F.col("sh"), n_chunks))).alias(
            "chunk_idx", "chunk"
        ),
    )
    # merge hint: see near_dup_pairs_exact — no static broadcast of a
    # corpus-sized self-join side.
    a, b = chunked.alias("a").hint("merge"), chunked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# Fuzzy string join (entity matching over short strings)
# ---------------------------------------------------------------------------

def _char_trigram_set_expr(colname: str, n: int = 3) -> Column:
    """Distinct character n-gram set of the string column ``colname``,
    EMPTY for strings shorter than n (mirrors generate_series(1,
    len-n+1) semantics so the DuckDB oracle twin is element-identical).
    No normalization here — the caller chooses it (and the oracle applies
    the same).  Built as ONE parsed SQL expression instead of a py4j call
    tree: constructing the equivalent lambda tree costs ~0.2 s of py4j
    round-trips per call, parsing this string ~1 ms."""
    c = f"`{colname}`"
    return F.expr(
        f"CASE WHEN length({c}) >= {n} THEN array_distinct("
        f"transform(sequence(1, length({c}) - {n - 1}),"
        f" i -> substr({c}, i, {n})))"
        f" ELSE CAST(array() AS array<string>) END"
    )


def fuzzy_string_join(
    left: DataFrame,
    right: DataFrame,
    tau: float,
    left_id: str = "lid",
    left_str: str = "ls",
    right_id: str = "rid",
    right_str: str = "rs",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Bipartite fuzzy join: (left_id, right_id, jac) for every cross pair
    whose character-trigram Jaccard similarity >= tau — entity matching /
    record linkage across sources (the cross-source name-dedup shape a
    training-data pipeline runs when merging catalogs, author lists, or
    URL hosts).

    Scale shape: inverted-index equi-join on the trigram (NEVER the
    quadratic cross product the oracle runs) — explode both sides, join on
    the gram, count shared grams per (lid, rid), compute jac from the two
    set sizes riding the exploded rows.  Identical plan family to
    near_dup_pairs_between; ``max_df`` caps stop-gram fan-out the same way.
    Corpus-derived sides are merge-hinted (the round-2 broadcast-estimate
    lesson).

    Each side's exploded trigram index per session (the
    gram-cache discipline, VERDICT r5 item 6): a record-linkage pipeline
    probes the SAME corpus with batch after batch of candidates, so the
    corpus index is the natural staged relation.  Staged indexes are
    pre-partitioned on the gram before persisting, so warm joins read
    co-partitioned in-memory blocks and elide both exchanges."""

    def _inv(side: DataFrame, id_in: str, str_in: str, id_out: str, sz: str):
        key = cache_key(side, params=(
            "fuzzy_inv", id_in, str_in, id_out, n,
            # layout differs by path: the direct-join form pre-partitions
            # on g, the max_df form does not — same rows either way, but a
            # key collision would silently trade away the warm-join
            # exchange elision
            max_df is None,
        ))
        hit = _gram_cache.get(key)
        if hit is not None:
            return hit
        t = side.select(F.col(id_in).alias(id_out), F.col(str_in).alias("__s"))
        t = t.select(id_out, _char_trigram_set_expr("__s", n).alias("gs"))
        out = t.select(
            id_out, F.size("gs").alias(sz), F.explode("gs").alias("g")
        )
        if max_df is None:
            # pre-partition on the join key so warm joins read
            # co-partitioned cached blocks and elide both exchanges; under
            # max_df the downstream stop-gram filter + per-id count window
            # re-exchange anyway, so the extra shuffle would be pure cost
            out = out.repartition("g")
        return _gram_cache.put(key, out)

    inv_l = _inv(left, left_id, left_str, "lid", "na")
    inv_r = _inv(right, right_id, right_str, "rid", "nb")
    if max_df is not None:
        # Stop grams are identified SYMMETRICALLY: document frequency is
        # counted over the union of BOTH sides and only grams whose
        # combined df exceeds the cap are removed (left_anti) — a gram
        # unique to one side (df 0 on the other) is low-df by definition
        # and must be KEPT, or one-sided vocabulary filtering silently
        # inflates scores (left 'abcdefgh' vs right 'abc' scored 1.0 when
        # left-only grams were inner-joined away; now 1/6).  Note an
        # identical cross-source pair contributes 2 to each shared gram's
        # df, so the meaningful cap values start at max_df >= 2.
        stop = (
            inv_l.select("g")
            .unionAll(inv_r.select("g"))
            .groupBy("g")
            .count()
            .filter(F.col("count") > max_df)
            .select("g")
        )
        inv_l = inv_l.join(stop.hint("merge"), "g", "left_anti")
        inv_r = inv_r.join(stop.hint("merge"), "g", "left_anti")
        # df-Jaccard PROPER: set sizes are recomputed over the FILTERED
        # vocabulary, so similarity stays calibrated under capping —
        # identical strings still score 1.0 however many stop grams were
        # dropped.  (near_dup_pairs_between keeps pre-filter sizes — there
        # the cap is a recall/cost dial against a fixed tau on true
        # Jaccard; for entity linkage the calibrated score is the point.)
        # The recount is a count window over the exploded relation — ONE
        # exchange per side, replacing the groupBy + join-back rounds that
        # cost two exchanges of the full inverted index per side.
        from pyspark.sql import Window

        inv_l = inv_l.withColumn(
            "na", F.count("*").over(Window.partitionBy("lid"))
        )
        inv_r = inv_r.withColumn(
            "nb", F.count("*").over(Window.partitionBy("rid"))
        )
    shared = (
        inv_l.hint("merge")
        .join(inv_r, "g")
        .groupBy("lid", "rid", "na", "nb")
        .agg(F.count("*").alias("inter"))
    )
    return (
        shared.withColumn(
            "jac", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .filter(F.col("jac") >= tau)
        .select("lid", "rid", F.round("jac", 6).alias("jac"))
    )


def near_dup_pairs_prefix(
    df: DataFrame,
    tau: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram-Jaccard pairs via PREFIX FILTERING (the PPJoin-family
    candidate pruning): same output as ``near_dup_pairs_exact``, but the
    inverted index holds only each doc's PREFIX — its
    ``ng - ceil(tau*ng) + 1`` rarest grams under a global canonical order
    (ascending document frequency, gram tiebreak).

    Why it is still exact: jac(x,y) >= tau implies overlap
    >= ceil(tau * max(|x|,|y|)) (the union is at least the larger set),
    and the prefix theorem then guarantees the two prefixes share at
    least one gram — so candidate generation is complete, and the exact
    verify (array_intersect over the FULL gram sets, join-local) does the
    rest.  ceil(tau*ng) runs in exact basis-point integer arithmetic
    ((floor(tau*10000)*ng + 9999) // 10000), with tau snapped DOWN to the
    basis-point grid: a tau_bp that rounded UP (e.g. round(2/3*10000) =
    6667 > 2/3*10000) can make the integer ceil exceed the true
    ceil(tau*ng), which would SHORTEN the prefix below the theorem's
    requirement and silently drop qualifying pairs.  Rounding down only
    ever LENGTHENS the prefix (more candidates, never fewer), and the
    final ``jac >= tau`` verify keeps the output exact for any tau.

    Scale trade vs the full inverted index: two extra small shuffles
    (gram-frequency join, per-doc prefix window) buy a candidate join
    that only meets on RARE grams — at high tau the pair fan-out drops
    by orders of magnitude, and ubiquitous grams (the O(f^2) hazard
    max_df exists to cap) never enter the index at all, with no recall
    cost.  Rarity ordering maximizes pruning but ANY consistent global
    order preserves exactness."""
    key = cache_key(df, params=(id_col, text_col, n, tau, "prefix"))
    hit = _pairs_cache.get(key)
    if hit is not None:
        return hit
    # floor, not round: tau_bp must never exceed tau*10000 (see docstring)
    tau_bp = int(math.floor(tau * 10000))
    grams = gram_sets(df, id_col, text_col, n)
    inv = grams.select(
        "id", F.size("grams").alias("ng"), F.explode("grams").alias("g")
    )
    dfreq = inv.groupBy("g").agg(F.count("*").alias("__df"))
    prefix_len = (
        F.col("ng")
        - F.floor((F.lit(tau_bp) * F.col("ng") + F.lit(9999)) / F.lit(10000.0))
        + F.lit(1)
    )
    pre = (
        inv.join(dfreq.hint("merge"), "g")
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("id").orderBy("__df", "g")
            ),
        )
        .filter(F.col("__rk") <= prefix_len)
        .select("id", "g")
    )
    a, b = pre.alias("a").hint("merge"), pre.alias("b")
    cand = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ga = grams.select(F.col("id").alias("id_a"), F.col("grams").alias("__ga"))
    gb = grams.select(F.col("id").alias("id_b"), F.col("grams").alias("__gb"))
    inter = F.size(F.array_intersect(F.col("__ga"), F.col("__gb")))
    out = (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter.cast("double")
                / (F.size("__ga") + F.size("__gb") - inter)
            ).alias("jac"),
        )
        .filter(F.col("jac") >= tau)
        .select("id_a", "id_b", F.round("jac", 6).alias("jac"))
    )
    return _pairs_cache.put(key, out)
