"""Operator unit tests, modeled on the reference's test strategy (SURVEY §5):
the golden smoke constants of Ors2ShuffleManagerTest plus targeted semantics
checks on constructed data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shuttle_spark.operators import dedup as D
from shuttle_spark.operators import integrity as I
from shuttle_spark.operators import relational as R

SF = "/root/testdata/sf0.001"


def test_reference_golden_smoke(spark):
    """The reference's canonical E2E test: 1..10000, repartition(10),
    agg(count, sum) == (10000, 50005000)
    (/root/reference/src/test/scala/org/apache/spark/shuffle/
    Ors2ShuffleManagerTest.scala:60-69) — here the same pipeline through
    Spark's own shuffle via a hash repartition."""
    df = spark.range(1, 10001).toDF("value")
    out = df.repartition(10, "value").agg(
        F.count("*").alias("cnt"), F.sum("value").alias("total")
    )
    row = out.collect()[0]
    assert (row.cnt, row.total) == (10000, 50005000)


def test_exchange_preserves_rows(spark):
    df = spark.range(0, 1000).toDF("k")
    assert df.repartition(7, "k").count() == 1000
    assert df.repartition(3).count() == 1000


def test_keep_latest_semantics(spark):
    """Stale-attempt twin: newest (ts, id) per key survives, exactly once."""
    rows = [
        (1, 10, "old"),
        (1, 20, "new"),
        (2, 5, "only"),
        (3, 7, "tie-low"),
        (3, 7, "tie-low2"),  # same ts -> id tiebreak
    ]
    df = spark.createDataFrame(rows, "k int, ts int, v string").withColumn(
        "id", F.monotonically_increasing_id()
    )
    out = D.keep_latest(df, ["k"], [F.desc("ts"), F.desc("id")])
    got = {r.k: r.v for r in out.collect()}
    assert got[1] == "new" and got[2] == "only" and got[3] == "tie-low2"
    assert out.count() == 3


def test_exact_text_dedup_collapses(spark):
    rows = [
        (1, "Hello   World"),
        (2, "hello world"),  # same after normalization
        (3, "different doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert D.exact_text_dedup(df).count() == 2


def test_checksum_verify_raises(spark):
    df = spark.range(0, 100).toDF("v")
    good = I.checksum(df, F.col("v")).collect()[0][0]
    assert I.verify(df, F.col("v"), good) == good
    try:
        I.verify(df, F.col("v"), good + 1)
        raise AssertionError("expected ChecksumMismatch")
    except I.ChecksumMismatch:
        pass


def test_checksum_order_independent(spark):
    df = spark.range(0, 1000).toDF("v")
    a = I.checksum(df, F.col("v")).collect()[0][0]
    b = I.checksum(df.repartition(13, "v"), F.col("v")).collect()[0][0]
    assert a == b


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [(g, i, g * 100 + i) for g in range(3) for i in range(10)],
        "g int, i int, score int",
    )
    out = R.top_k_per_group(df, ["g"], [F.desc("score")], 2)
    assert out.count() == 6
    per_g = {(r.g, r.i) for r in out.collect()}
    assert per_g == {(0, 9), (0, 8), (1, 9), (1, 8), (2, 9), (2, 8)}


def test_setops(spark):
    a = spark.createDataFrame([(1,), (2,), (2,), (3,)], "v int")
    b = spark.createDataFrame([(2,), (3,), (4,)], "v int")
    assert sorted(r.v for r in a.intersect(b).collect()) == [2, 3]
    assert sorted(r.v for r in a.exceptAll(b).collect()) == [1, 2]
    assert a.unionByName(b).count() == 7


def test_session_gap_boundary_exact_30min(spark):
    """Pin Spark's session_window boundary rule so both DuckDB oracles
    (batch sessionize + stream_sessionize) encode the same semantics:
    session windows MERGE an event at exactly t == last + gap (closed
    boundary — measured, not assumed), so a new session starts iff the gap
    is STRICTLY greater than the session gap."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=30)),  # gap == 30min -> MERGES
        (1, base + dt.timedelta(minutes=60, seconds=1)),  # 30:01 -> NEW
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    sess = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert sorted(r.n for r in sess) == [1, 2]


def test_simhash_chunk_blocking_complete(spark):
    """Pigeonhole completeness of the generalized chunk blocking: for
    max_hamming=8 (9 chunks) the blocked operator equals the brute-force
    hamming self-join on a small corpus."""
    from pyspark.sql import functions as F

    from shuttle_spark.operators import neardup as N

    docs = (
        spark.read.parquet(SF + "/documents.parquet").filter(F.col("doc_id") < 600)
    )
    sh = docs.select(
        F.col("doc_id").alias("id"), N.simhash(F.col("text")).alias("sh")
    ).persist()
    a, b = sh.alias("a"), sh.alias("b")
    exact = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .filter(F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))) <= 8)
        .count()
    )
    got = N.simhash_near_dup_pairs(docs, max_hamming=8).count()
    sh.unpersist()
    assert got == exact


def test_exact_all_pairs_size_guard(spark):
    """The broadcast-matrix exact path refuses corpora beyond its cap
    instead of collecting them to the driver."""
    import pytest

    from shuttle_spark.operators import similarity as S

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    with pytest.raises(ValueError, match="max_rows"):
        S._exact_all_pairs(
            emb, 0.4, "vec_id", "embedding", max_rows=10
        ).count()


def test_gram_cache_bounded(spark):
    """The gram-set cache evicts (and unpersists) beyond its LRU bound."""
    from pyspark.sql import functions as F

    from shuttle_spark.operators import neardup as N

    N.clear_gram_cache()
    docs = spark.read.parquet(SF + "/documents.parquet").limit(50)
    for i in range(N._gram_cache.max_size + 3):
        d = docs.filter(F.col("doc_id") >= i)  # new DataFrame identity
        N.gram_sets(d).count()
    assert len(N._gram_cache) <= N._gram_cache.max_size
    N.clear_gram_cache()
    assert not N._gram_cache


def test_connected_components_known_graph(spark):
    """large-star/small-star fixpoint on a constructed graph: a 4-chain, a
    triangle sharing no nodes, and an isolated pair."""
    from shuttle_spark.operators import components as CC

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {(r.node, r.comp) for r in CC.connected_components(pairs).collect()}
    want = (
        {(n, 1) for n in (1, 2, 3, 4)}
        | {(n, 10) for n in (10, 11, 12)}
        | {(n, 20) for n in (20, 21)}
    )
    assert got == want


def test_clear_components_cache_unpersists(spark):
    from shuttle_spark.operators import components as CC

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    cc = CC.connected_components(pairs)
    assert cc.is_cached and CC.connected_components(pairs) is cc
    CC.pagerank(pairs, "id_a", "id_b").count()
    assert CC._pr_n_cache
    CC.clear_components_cache()
    assert not CC._cc_cache._entries and not CC._pr_n_cache
    assert not cc.is_cached
    rebuilt = CC.connected_components(pairs)
    assert rebuilt is not cc
    assert sorted(map(tuple, rebuilt.collect())) == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]


def test_cluster_dedup_transitive(spark):
    """a~b and b~c collapse to ONE survivor even though a!~c pairwise."""
    from shuttle_spark.operators import components as CC

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id for r in CC.cluster_dedup(docs, pairs).collect()
    )
    assert kept == [0, 3, 4]


def test_dedup_against_corpus(spark):
    """Incremental admission: a new doc duplicating the corpus is dropped;
    a novel one passes; corpus is never modified."""
    from shuttle_spark.operators import neardup as N

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),  # dup
            (3, "completely different content about spark shuffles here"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in N.dedup_against_corpus(new, corpus, 0.6).collect()
    )
    assert kept == [3]


def test_gram_cache_hits_on_recreated_dataframe(spark):
    """Cache keys are the SEMANTIC plan identity (VERDICT r3 item 7): a
    caller that rebuilds the same DataFrame (fresh object, identical plan)
    must hit the cached persisted relation, not silently recompute."""
    from pyspark.sql import functions as F

    from shuttle_spark.cache import semantic_key
    from shuttle_spark.operators import neardup as N

    N.clear_gram_cache()
    mk = lambda: (
        spark.read.parquet(SF + "/documents.parquet").filter(F.col("doc_id") < 40)
    )
    a, b = mk(), mk()
    assert a is not b
    assert semantic_key(a) == semantic_key(b)
    g1 = N.gram_sets(a)
    g2 = N.gram_sets(b)  # recreated input -> same cache entry
    assert g1 is g2
    assert len(N._gram_cache) == 1
    # a different plan must MISS
    g3 = N.gram_sets(mk().filter(F.col("doc_id") < 30))
    assert g3 is not g1
    assert len(N._gram_cache) == 2
    N.clear_gram_cache()


def test_fuzzy_string_join_semantics(spark):
    from shuttle_spark.operators import neardup as N

    left = spark.createDataFrame(
        [(1, "blue widget"), (2, "hot gear"), (3, "ab")],
        "lid long, ls string",
    )
    right = spark.createDataFrame(
        [(10, "blue widget"), (11, "blu widget"), (12, "cold bolt"), (13, "xy")],
        "rid long, rs string",
    )
    got = {
        (r.lid, r.rid): r.jac
        for r in N.fuzzy_string_join(left, right, tau=0.3).collect()
    }
    assert got[(1, 10)] == 1.0          # identical strings
    assert 0.3 <= got[(1, 11)] < 1.0    # one-char deletion stays similar
    assert (2, 12) not in got           # dissimilar
    # strings shorter than the gram width have EMPTY gram sets -> no pairs
    assert not any(l == 3 or r == 13 for l, r in got)


def test_fuzzy_string_join_max_df_caps_stop_grams(spark):
    from shuttle_spark.operators import neardup as N

    # every row shares the stop-gram 'zzz' (combined df=4); with max_df=2
    # that gram is dropped on both sides, so only genuinely-similar pairs
    # survive (df is counted over the UNION of both sides, so an identical
    # cross-source pair puts df=2 on each shared gram — the cap must admit
    # that)
    left = spark.createDataFrame([(1, "abczzz")], "lid long, ls string")
    right = spark.createDataFrame(
        [(10, "abczzz"), (11, "xyzzzq"), (12, "qqzzzw")],
        "rid long, rs string",
    )
    unfiltered = {
        (r.lid, r.rid)
        for r in N.fuzzy_string_join(left, right, tau=0.1).collect()
    }
    capped = {
        (r.lid, r.rid): r.jac
        for r in N.fuzzy_string_join(left, right, tau=0.1, max_df=2).collect()
    }
    assert (1, 11) in unfiltered and (1, 12) in unfiltered
    assert set(capped) <= unfiltered and (1, 10) in capped
    assert (1, 11) not in capped and (1, 12) not in capped
    # df-Jaccard stays CALIBRATED under capping: identical strings score
    # 1.0 over the filtered vocabulary even though 'zzz' was dropped
    assert capped[(1, 10)] == 1.0


def test_fuzzy_string_join_max_df_keeps_one_sided_grams(spark):
    """Grams present on only ONE side are low-df and must survive any cap:
    left 'abcdefgh' vs right 'abc' share one gram of left's six, so the
    calibrated score is 1/6 — never 1.0 (the r4 one-sided vocabulary filter
    dropped left-only grams and inflated containment pairs to identity)."""
    from shuttle_spark.operators import neardup as N

    left = spark.createDataFrame([(1, "abcdefgh")], "lid long, ls string")
    right = spark.createDataFrame([(10, "abc")], "rid long, rs string")
    for cap in (2, 10):
        got = {
            (r.lid, r.rid): r.jac
            for r in N.fuzzy_string_join(
                left, right, tau=0.05, max_df=cap
            ).collect()
        }
        assert got[(1, 10)] == round(1 / 6, 6)


def test_cluster_keep_best_picks_highest_score(spark):
    from shuttle_spark.operators import components as CC

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 20), (4, 99), (5, 7), (6, 7)],
        "doc_id long, score long",
    )
    # clusters: {1,2,3} and {5,6}; 4 unclustered
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id
        for r in CC.cluster_keep_best(docs, pairs, "score").collect()
    )
    # cluster 1: doc 2 wins (score 30); cluster 2: tie at 7 -> smallest id 5
    assert kept == [2, 4, 5]


@pytest.mark.slow
def test_zero_norm_vectors_score_zero_never_nan(spark):
    """An all-zero embedding must score cosine 0.0 on EVERY scoring path
    (brute force, LSH re-score, IVF probe) — 0/0 would be NaN, which
    Spark's total order ranks ABOVE every real double, so a degenerate
    vector would beat a perfect match in any top-k and the LSH path would
    disagree with the exact path on the same corpus."""
    import math

    from shuttle_spark.operators import similarity as S

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # degenerate
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    top = S.brute_force_topk(emb, [1.0, 0.0, 0.0, 0.0], 4).collect()
    sims = {r["vec_id"]: r["sim"] for r in top}
    assert not any(math.isnan(s) for s in sims.values())
    assert sims[2] == 0.0
    assert [r["vec_id"] for r in top][:2] == [0, 1]  # zero vec never first

    # LSH path must agree with the exact path (threshold above 0 excludes
    # the degenerate vector from BOTH)
    exact = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_near_dup_pairs(emb, 4, 0.5, exact=True).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_near_dup_pairs(
            emb, 4, 0.5, exact=False, n_planes=8, bands=8
        ).collect()
    }
    assert lsh <= exact  # LSH may miss (recall), never invent
    assert all(2 not in pair for pair in lsh)

    # IVF probe: degenerate vector scores 0.0, never NaN
    indexed, cents = S.ivf_build(emb, 4, n_cells=2)
    ivf = {
        r["vec_id"]: r["sim"]
        for r in S.ivf_topk(
            indexed, cents, [1.0, 0.0, 0.0, 0.0], 4, n_probe=2
        ).collect()
    }
    assert not any(math.isnan(s) for s in ivf.values())
    if 2 in ivf:
        assert ivf[2] == 0.0


def test_near_dup_paths_survive_null_and_short_text(spark):
    """NULL text and sub-n-token docs must not crash any near-dup path
    (Spark 4 runs ANSI-on: 0/0 raises DIVIDE_BY_ZERO; np.asarray(None)
    raises TypeError) and must not fabricate pairs: a doc with no grams
    has no similarity identity on the exact, MinHash, OR SimHash path —
    exact_dedup owns identical-empty-doc collapsing."""
    from shuttle_spark.operators import neardup as N

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, None),
        (4, None),
        (5, "hi"),
        (6, "hi"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    exact = N.near_dup_pairs_exact(docs, 0.3).collect()
    mh = N.minhash_near_dup_pairs(docs, 0.3, n_perm=32, bands=8).collect()
    for pairs in (exact, mh):
        ids = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
        assert ids <= {1, 2}, f"gramless docs fabricated pairs: {pairs}"
    assert {(r["id_a"], r["id_b"]) for r in exact} == {(1, 2)}
    # SimHash is TOKEN-set based (not n-gram): "hi"/"hi" are identical
    # one-token docs, so (5, 6) at hamming 0 is correct — only the NULL
    # docs carry no fingerprint and must never pair
    sh = N.simhash_near_dup_pairs(docs, max_hamming=10).collect()
    sh_ids = {r["id_a"] for r in sh} | {r["id_b"] for r in sh}
    assert sh_ids <= {1, 2, 5, 6}, f"NULL docs fabricated pairs: {sh}"
    assert (5, 6) in {(r["id_a"], r["id_b"]) for r in sh}
    # simhash: empty/NULL docs carry a NULL fingerprint, real docs don't
    from pyspark.sql import functions as F

    fps = {
        r["doc_id"]: r["sh"]
        for r in docs.select(
            "doc_id", N.simhash(F.col("text")).alias("sh")
        ).collect()
    }
    assert fps[3] is None and fps[4] is None
    assert fps[1] is not None


def test_mixture_weights_zero_token_group(spark):
    """A group whose docs are all empty must plan weight 1.0 / expected 0
    instead of dying on ANSI DIVIDE_BY_ZERO."""
    from shuttle_spark.operators import pipeline as P

    docs = spark.createDataFrame(
        [("a", "one two three four"), ("b", ""), ("b", "")],
        "source string, text string",
    )
    got = {r["source"]: r for r in P.mixture_weights(docs, 100).collect()}
    assert got["b"]["weight"] == 1.0
    assert got["b"]["expected_tokens"] == 0
    assert 0 < got["a"]["weight"] <= 1.0


def test_as_of_join_null_value_not_resurrected(spark):
    """A genuinely NULL value on the most recent matching right row must
    come through as NULL — per-column last(ignorenulls) would resurrect an
    OLDER row's value (or stitch columns from different right rows); the
    struct carrier keeps the right ROW atomic."""
    from shuttle_spark.operators import relational as R

    left = spark.createDataFrame([(1, 3)], "k bigint, ts bigint")
    right = spark.createDataFrame(
        [(1, 1, 5.0, "a"), (1, 2, None, "b")],
        "k bigint, ts bigint, v double, tag string",
    )
    got = R.as_of_join(left, right, ["k"], "ts", "ts", ["v", "tag"]).collect()
    assert len(got) == 1
    assert got[0]["v_asof"] is None  # ts=2 row wins; its v IS null
    assert got[0]["tag_asof"] == "b"  # both fields from the SAME right row


def test_global_rank_nulls_first(spark):
    """NULL range values sort first under Spark's ascending order, so they
    must land in a bucket BEFORE bucket 0 — the when-chain's overflow
    bucket would rank them LAST, diverging from ROW_NUMBER."""
    from pyspark.sql import Window

    from shuttle_spark.operators import relational as R

    df = spark.createDataFrame(
        [(None, 10), (1.0, 11), (2.0, 12), (3.0, 13), (4.0, 14)],
        "x double, id bigint",
    )
    ranked = {
        r["id"]: r["rnk"]
        for r in R.global_rank(
            df, "x", [F.col("x"), F.col("id")], alias="rnk", buckets=2
        ).collect()
    }
    w = Window.orderBy(F.col("x"), F.col("id"))
    expected = {
        r["id"]: r["rn"]
        for r in df.select(
            "id", F.row_number().over(w).alias("rn")
        ).collect()
    }
    assert ranked == expected
    assert ranked[10] == 1  # the NULL row ranks FIRST


def test_global_rank_nonfinite_range_values(spark):
    """NaN/Inf in the range column can surface as approxQuantile
    boundaries, and ``repr(inf)+'D'`` does not parse in the generated
    CASE — boundaries are filtered to finite (ADVICE r6).  The
    non-finite ROWS still rank correctly: +Inf and NaN sort above every
    finite double in Spark's total order (NaN topmost), so they land in
    the overflow bucket, ordered by the within-bucket window; -Inf falls
    into bucket 0."""
    from pyspark.sql import Window

    from shuttle_spark.operators import relational as R

    df = spark.createDataFrame(
        [
            (float("nan"), 10),
            (float("inf"), 11),
            (float("-inf"), 12),
            (1.0, 13),
            (2.0, 14),
            (3.0, 15),
            (None, 16),
            (2.5, 17),
        ],
        "x double, id bigint",
    )
    ranked = {
        r["id"]: r["rnk"]
        for r in R.global_rank(
            df, "x", [F.col("x"), F.col("id")], alias="rnk", buckets=4
        ).collect()
    }
    w = Window.orderBy(F.col("x"), F.col("id"))
    expected = {
        r["id"]: r["rn"]
        for r in df.select("id", F.row_number().over(w).alias("rn")).collect()
    }
    assert ranked == expected
    assert ranked[16] == 1  # NULL first
    assert ranked[10] == 8  # NaN last, above +Inf


def test_xxhash_checksum_survives_ansi_overflow(spark):
    """Summing raw 64-bit xxhash terms overflows int64 almost immediately
    and ANSI mode (Spark 4 default) makes that a job-killing exception;
    the 32-bit fold keeps the sum exact below 2^31 rows."""
    from shuttle_spark.operators import integrity as I

    df = spark.range(2000).select(F.col("id").cast("string").alias("s"))
    v = I.xxhash_checksum(df, [F.col("s")]).collect()[0][0]
    assert v is not None and v >= 0


def test_normalize_trims_and_quality_empty_is_zero(spark):
    """Trim is part of the canonical form: docs differing only in edge
    whitespace share a dedup key.  Blank/NULL docs score quality 0.0, not
    the ~0.667 the raw formula gives empty strings."""
    from shuttle_spark.functions import text as TX
    from shuttle_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "  hello world \n"), (3, ""), (4, None)],
        "doc_id bigint, text string",
    )
    out = df.select(
        "doc_id",
        D.normalized_text_key(F.col("text")).alias("k"),
        TX.quality_score(F.col("text")).alias("q"),
    ).collect()
    got = {r["doc_id"]: r for r in out}
    assert got[1]["k"] == got[2]["k"]
    assert got[3]["q"] == 0.0
    assert got[4]["q"] == 0.0


def test_connected_components_rejects_string_ids(spark):
    """String/UUID node ids must fail fast: cast('long') would NULL every
    edge and silently return the corpus undeduplicated."""
    import pytest

    from shuttle_spark.operators import components as CC

    pairs = spark.createDataFrame(
        [("doc-1", "doc-2")], "id_a string, id_b string"
    )
    with pytest.raises(TypeError, match="integral node ids"):
        CC.connected_components(pairs)


def test_null_embedding_does_not_crash_scoring(spark):
    """A NULL embedding anywhere in the corpus must score NULL (dropped by
    ranking/thresholds), not crash the stage inside np.stack."""
    from shuttle_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.9, 0.1])],
        "vec_id bigint, embedding array<double>",
    )
    top = S.brute_force_topk(emb, [1.0, 0.0], 3).collect()
    assert [r["vec_id"] for r in top][:2] == [0, 2]  # NULL ranks last
    q = spark.createDataFrame(
        [(100, [1.0, 0.0])], "q_id bigint, q_embedding array<double>"
    )
    knn = S.knn_join_brute(emb, q, 2).collect()
    assert {r["vec_id"] for r in knn} == {0, 2}
    # IVF: NULL embeddings get a NULL cell (excluded by probe filters),
    # training drops them — no np.stack crash anywhere
    indexed, cents = S.ivf_build(emb, dim=2, n_cells=2)
    cells = {r["vec_id"]: r["cell"] for r in indexed.collect()}
    assert cells[1] is None and cells[0] is not None
    ivf = S.ivf_topk(indexed, cents, [1.0, 0.0], 3, n_probe=2).collect()
    assert 1 not in {r["vec_id"] for r in ivf}
    # LSH banding: NULL embedding emits no bands, so no candidate pairs
    pairs = S.cosine_near_dup_pairs(
        emb, 2, 0.5, exact=False, n_planes=8, bands=8
    ).collect()
    assert all(1 not in (r["id_a"], r["id_b"]) for r in pairs)


def test_l2_normalize_zero_vector(spark):
    """Zero vectors stay zero under l2_normalize (no ANSI divide crash,
    no all-NULL vector)."""
    from shuttle_spark.functions import vectors as V

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0])], "id bigint, v array<double>"
    )
    got = {
        r["id"]: r["n"]
        for r in df.select("id", V.l2_normalize(F.col("v")).alias("n")).collect()
    }
    assert got[1] == [0.0, 0.0]
    assert abs(got[2][0] - 0.6) < 1e-12 and abs(got[2][1] - 0.8) < 1e-12


def test_chunk_udtf_null_matches_sql_twin(spark):
    """LATERAL chunk_udtf(NULL) emits zero rows, exactly like exploding
    token_chunks(NULL); empty text still yields the one empty chunk both
    sides produce."""
    from shuttle_spark.functions import text as TX
    from shuttle_spark.functions.udtfs import register

    register(spark)
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c")], "id bigint, text string"
    )
    df.createOrReplaceTempView("t_chunk_null")
    udtf_counts = {
        r["id"]: r["n"]
        for r in spark.sql(
            "SELECT id, COUNT(chunk) AS n FROM t_chunk_null,"
            " LATERAL chunk_udtf(text) GROUP BY id"
        ).collect()
    }
    twin_counts = {
        r["id"]: r["n"]
        for r in df.select(
            "id", F.explode_outer(TX.token_chunks(F.col("text"))).alias("c")
        )
        .groupBy("id")
        .agg(F.count("c").alias("n"))
        .collect()
    }
    assert udtf_counts.get(1) is None or udtf_counts[1] == 0
    assert twin_counts[1] == 0
    assert udtf_counts[2] == twin_counts[2]
    assert udtf_counts[3] == twin_counts[3]


def test_dfcache_put_overwrite_unpersists_old(spark):
    """Replacing a cache key must unpersist the previous relation — a
    silent overwrite pins its blocks for the session's lifetime."""
    from shuttle_spark.cache import DFCache

    c = DFCache(max_size=4, storage_level="MEMORY_AND_DISK")
    df1 = spark.range(10).toDF("v")
    df2 = spark.range(20).toDF("v")
    p1 = c.put(("k",), df1)
    assert p1.storageLevel.useMemory or p1.storageLevel.useDisk
    c.put(("k",), df2)
    assert len(c) == 1
    assert not (p1.storageLevel.useMemory or p1.storageLevel.useDisk)
    c.clear()


def test_source_fingerprint_sees_files_under_a_persisted_relation(spark, tmp_path):
    """A source that matches a persisted relation still fingerprints its
    files: the optimized plan (what df.inputFiles() reads) shows only an
    in-memory scan there, so a cache over a staged relation (components
    over the staged pair list) would never see a rewrite."""
    from pyspark.sql import functions as F

    from shuttle_spark.cache import source_fingerprint

    p = str(tmp_path / "t")
    spark.range(10).repartition(3).write.mode("overwrite").parquet(p)

    def staged():
        return spark.read.parquet(p).filter(F.col("id") > 2)

    n_files = len(staged().inputFiles())
    assert n_files > 0
    first = staged().persist()
    try:
        assert source_fingerprint(staged())[:2] == ("fp", n_files)
    finally:
        first.unpersist()


def test_dfcache_lru_bound_and_persistence(spark):
    """The one session-cache policy: a hit makes its entry the most recent,
    so an insert past the bound evicts the least recently USED entry (not
    the oldest insert); eviction and clear unpersist what a persisting
    instance persisted (DataFrames of tuple values too); an instance
    without a storage level never persists."""
    from shuttle_spark.cache import DFCache, cache_key

    def persisted(df):
        return df.storageLevel.useMemory or df.storageLevel.useDisk

    c = DFCache(max_size=2, storage_level="MEMORY_AND_DISK")
    src = spark.range(5).toDF("v")
    ka, kb, kc = (cache_key(src, params=(p,)) for p in "abc")
    a = c.put(ka, spark.range(10).toDF("v"))
    b, b_stat = c.put(kb, (spark.range(11).toDF("v"), 3))
    assert persisted(a) and persisted(b)
    assert c.get(cache_key(src, params=("a",))) is a  # rebuilt key hits
    built = []
    c.cached(kc, lambda: built.append(1) or spark.range(12).toDF("v"))
    assert built == [1]
    assert c.get(kb) is None and c.get(ka) is a  # b was least recently used
    assert not persisted(b)
    c.clear()
    assert len(c) == 0 and not persisted(a)

    plain = DFCache(max_size=2)
    p = plain.cached(ka, lambda: spark.range(13).toDF("v"))
    assert plain.cached(ka, lambda: None) is p
    assert not persisted(p)
    own = plain.put(kb, spark.range(14).toDF("v").persist())
    plain.clear()  # leaves the caller's own persistence alone
    assert persisted(own)
    own.unpersist()


def test_scd2_intervals_semantics(spark):
    """Run-collapsing with NULL-safe change detection: equal-value runs
    collapse to one interval, NULL attr forms its own runs, valid_to
    chains to the next run's start and stays NULL while current."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(hours=h), v, i)
        for i, (h, v) in enumerate(
            [(0, "a"), (1, "a"), (2, "b"), (3, None), (4, None), (5, "a")]
        )
    ]
    df = spark.createDataFrame(
        rows, "k bigint, ts timestamp, v string, eid bigint"
    )
    iv = sorted(
        (
            (r["v"], r["valid_from"].hour, r["valid_to"].hour if r["valid_to"] else None)
            for r in R.scd2_intervals(df, "k", "ts", "v", tiebreak="eid").collect()
        ),
        key=lambda t: t[1],
    )
    assert iv == [("a", 0, 2), ("b", 2, 3), (None, 3, 5), ("a", 5, None)]


def test_funnel_stages_strict_order(spark):
    """Depth counts keys by furthest stage with strictly-increasing FIRST
    occurrences: a user whose stage-2 first occurrence precedes stage-1's
    stops at depth 1."""
    import datetime as dt

    b = dt.datetime(2024, 1, 1)
    t = lambda h: b + dt.timedelta(hours=h)
    rows = [
        # user 1: full funnel in order -> depth 3
        (1, t(0), "A"), (1, t(1), "B"), (1, t(2), "C"),
        # user 2: B before A -> depth 1
        (2, t(0), "B"), (2, t(1), "A"),
        # user 3: never A -> depth 0
        (3, t(0), "B"), (3, t(1), "C"),
        # user 4: A then C (no B) -> depth 1
        (4, t(0), "A"), (4, t(1), "C"),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_type string")
    got = {
        r["depth"]: r["n_keys"]
        for r in R.funnel_stages(df, ["A", "B", "C"]).collect()
    }
    assert got == {3: 1, 1: 2, 0: 1}


def test_cohort_retention_semantics(spark):
    """Cohort = Monday of the first active week; ages count whole weeks;
    a key active twice in one week counts once per (cohort, age) cell."""
    import datetime as dt

    mon = dt.datetime(2024, 1, 1)  # a Monday
    rows = [
        (1, mon + dt.timedelta(days=1)),        # cohort W0, age 0
        (1, mon + dt.timedelta(days=8)),        # age 1
        (1, mon + dt.timedelta(days=9)),        # same week -> still age 1
        (2, mon + dt.timedelta(days=2)),        # cohort W0, age 0 only
        (3, mon + dt.timedelta(days=7)),        # cohort W1, age 0
        (3, mon + dt.timedelta(days=21)),       # age 2
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    got = {
        (str(r["cohort"]), r["age_weeks"]): r["n_active"]
        for r in R.cohort_retention(df).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-08", 0): 1,
        ("2024-01-08", 2): 1,
    }


def test_scd2_intervals_tied_first_timestamps_deterministic(spark):
    """ADVICE r5: two runs of one key sharing a FIRST timestamp (same-ts
    events split across a change boundary, tiebroken only by event id)
    must chain valid_to deterministically — the interval chain orders by
    the run id, which is strictly increasing even when valid_from ties.
    Asserted twice over different physical layouts (repartitioned input),
    which flushed the old valid_from-ordered lead window's
    nondeterminism."""
    import datetime as dt

    ts0 = dt.datetime(2024, 1, 1)
    ts1 = dt.datetime(2024, 1, 1, 1)
    # key 1: run 'a' (eid 0) and run 'b' (eid 1) BOTH start at ts0, then
    # 'a' again at ts1 -> three runs, the first two sharing valid_from
    rows = [(1, ts0, "a", 0), (1, ts0, "b", 1), (1, ts1, "a", 2)]
    df = spark.createDataFrame(
        rows, "k bigint, ts timestamp, v string, eid bigint"
    )
    want = [("a", ts0, ts0), ("b", ts0, ts1), ("a", ts1, None)]

    for layout in (df, df.repartition(7), df.repartition(3, "eid")):
        got = sorted(
            (
                (r["v"], r["valid_from"], r["valid_to"])
                for r in R.scd2_intervals(
                    layout, "k", "ts", "v", tiebreak="eid"
                ).collect()
            ),
            key=lambda t: (t[1], t[2] or dt.datetime.max),
        )
        assert got == want, got


def test_global_rank_bucket_cache_survives_table_rewrite(spark, tmp_path):
    """ADVICE r5: the bucket-count histogram is correctness-bearing; the
    cache key carries a source-file freshness fingerprint, so rewriting a
    table at the same path in-session must MISS the cache and re-rank the
    fresh data (the plan-identity key alone cannot see the rewrite)."""
    import time as _time

    from pyspark.sql import functions as F

    p = str(tmp_path / "t")

    def write(n):
        spark.range(n).select(
            F.col("id").alias("v"), (F.col("id") * 2).alias("u")
        ).coalesce(1).write.mode("overwrite").parquet(p)

    write(100)
    r1 = R.global_rank(
        spark.read.parquet(p), "v", [F.col("v"), F.col("u")], alias="rk"
    )
    assert r1.agg(F.max("rk")).collect()[0][0] == 100
    _time.sleep(0.05)  # distinct mtime_ns for the rewrite
    write(250)
    r2 = R.global_rank(
        spark.read.parquet(p), "v", [F.col("v"), F.col("u")], alias="rk"
    )
    # a stale cached histogram would produce max rank 100 (or garbage
    # offsets); the fingerprint forces a fresh count of the 250-row table
    assert r2.agg(F.max("rk")).collect()[0][0] == 250


def test_zorder_value_cache_survives_table_rewrite(spark, tmp_path):
    """A cached z-keyed PLAN over a rewritten path would read the deleted
    files; the key's fingerprint makes the re-read miss and re-plan."""
    import time as _time

    from pyspark.sql import functions as F

    from shuttle_spark.sources import io as IO

    p = str(tmp_path / "z")

    def write(n):
        spark.range(n).select(
            F.col("id").alias("x"), (F.col("id") % 7).alias("y")
        ).coalesce(1).write.mode("overwrite").parquet(p)

    write(100)
    z1, _, _ = IO.zorder_value(spark.read.parquet(p), ["x", "y"])
    assert len(z1.collect()) == 100
    _time.sleep(0.05)  # distinct mtime_ns for the rewrite
    write(250)
    z2, _, _ = IO.zorder_value(spark.read.parquet(p), ["x", "y"])
    assert len(z2.collect()) == 250


def test_pagerank_cache_survives_edge_table_rewrite(spark, tmp_path):
    """pagerank's |V| is a driver-side value Spark cannot refresh: after
    the edge table is rewritten (3-cycle -> 4-cycle) the call must equal
    a fresh one, not score four nodes against the old |V| of 3."""
    import time as _time

    from shuttle_spark.operators import components as CC

    p = str(tmp_path / "e")

    def write(edges):
        spark.createDataFrame(edges, "src long, dst long").coalesce(
            1
        ).write.mode("overwrite").parquet(p)

    write([(1, 2), (2, 3), (3, 1)])
    CC.pagerank(spark.read.parquet(p)).collect()
    _time.sleep(0.05)  # distinct mtime_ns for the rewrite
    write([(i, i % 4 + 1) for i in range(1, 5)])
    got = {r.node: r.score for r in CC.pagerank(spark.read.parquet(p)).collect()}
    CC.clear_components_cache()
    fresh = {r.node: r.score for r in CC.pagerank(spark.read.parquet(p)).collect()}
    assert got == fresh
    assert abs(sum(got.values()) - 1.0) < 1e-6


# ---------------------------------------------------------------------------
# Round-6 analytics operators: pagerank / outlier census / transition
# matrix / diversity index.
# ---------------------------------------------------------------------------

def _py_pagerank(edges, iters=3, d=0.85):
    """Pure-Python replay of the quantized recurrence (tolerance-compared:
    Python round() is banker's vs the engine's half-up, a <=1e-9 delta)."""
    edges = sorted(set((a, b) for a, b in edges if a != b))
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    od = {}
    for a, _ in edges:
        od[a] = od.get(a, 0) + 1
    s = {v: round(1.0 / n, 9) for v in nodes}
    for _ in range(iters):
        infl = {v: 0 for v in nodes}
        for a, b in edges:
            infl[b] += int(round(s[a] / od[a] * 1e9))
        s = {
            v: round((1.0 - d) / n + d * (infl[v] / 1e9), 9) for v in nodes
        }
    return {v: round(s[v], 6) for v in nodes}


def test_pagerank_star_graph(spark):
    """Hub of a star graph accumulates the inflow; scores match a pure
    Python replay of the identical quantized recurrence."""
    from shuttle_spark.operators import components as CC

    edges = [(1, 2), (3, 2), (4, 2), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.score for r in CC.pagerank(df, iters=3).collect()}
    want = _py_pagerank(edges, iters=3)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 2e-6, (v, got[v], want[v])
    assert max(got, key=got.get) == 2


def test_pagerank_deep_iterations_and_warm_cache(spark):
    """iters past the checkpoint cadence still executes (lineage-bound
    branch), and a semantically identical fresh edge frame hits the staged
    base relations with identical output."""
    from shuttle_spark.operators import components as CC

    edges = [(i, (i * 7) % 23) for i in range(60)]
    df1 = spark.createDataFrame(edges, "src long, dst long")
    deep = {r.node: r.score for r in CC.pagerank(df1, iters=11).collect()}
    want = _py_pagerank(edges, iters=11)
    for v in want:
        assert abs(deep[v] - want[v]) < 2e-6
    df2 = spark.createDataFrame(edges, "src long, dst long")
    again = {r.node: r.score for r in CC.pagerank(df2, iters=11).collect()}
    assert again == deep


def test_group_outliers_zscore_planted(spark):
    """A planted far-out value is the group's only outlier; a tight group
    has none; moments match numpy's two-pass formulas."""
    import math

    rows = [("a", 10.0)] * 20 + [("a", 1000.0)] + [("b", 5.0)] * 10
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        r.g: r
        for r in R.group_outliers_zscore(df, ["g"], "v", z=2.0).collect()
    }
    vals = [10] * 20 + [1000]
    n = len(vals)
    mean = sum(vals) / n
    std = math.sqrt(
        (sum(v * v for v in vals) - sum(vals) ** 2 / n) / (n - 1)
    )
    assert out["a"].n_rows == 21
    assert out["a"].n_outliers == 1  # only the planted 1000
    assert abs(out["a"].mean_value - round(mean, 6)) < 1e-9
    assert abs(out["a"].std_value - round(std, 6)) < 1e-9
    assert out["b"].n_rows == 10 and out["b"].n_outliers == 0
    assert out["b"].std_value == 0.0


def test_event_transition_matrix_semantics(spark):
    """Hand-checked bigram counts and row-normalized probabilities; a
    same-timestamp pair is ordered by the event_id tiebreak."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    sec = dt.timedelta(seconds=1)
    rows = [
        # user 1: a -> b -> a   (ties: the two t0+1s events order by id)
        (1, t0, 10, "a"),
        (1, t0 + sec, 11, "b"),
        (1, t0 + sec, 12, "a"),
        # user 2: a -> b
        (2, t0, 20, "a"),
        (2, t0 + sec, 21, "b"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = {
        (r.from_type, r.to_type): (r.n_transitions, r.p)
        for r in R.event_transition_matrix(df).collect()
    }
    assert got == {
        ("a", "b"): (2, 1.0),  # both users: a then b
        ("b", "a"): (1, 1.0),  # user 1's tiebroken second step
    }


def test_group_diversity_gini_bounds(spark):
    """Single-class group -> gini 0; uniform two-class -> 0.5; counts per
    group are exact."""
    from shuttle_spark.operators import pipeline as P

    rows = (
        [("s1", "en")] * 8
        + [("s2", "en")] * 5
        + [("s2", "de")] * 5
    )
    df = spark.createDataFrame(rows, "source string, lang string")
    out = {r.source: r for r in P.group_diversity_gini(df).collect()}
    assert out["s1"].n_docs == 8 and out["s1"].n_classes == 1
    assert out["s1"].gini == 0.0
    assert out["s2"].n_docs == 10 and out["s2"].n_classes == 2
    assert abs(out["s2"].gini - 0.5) < 1e-9


def test_sample_k_per_group_exact_and_stable(spark):
    """Exactly min(k, |group|) rows per group; the chosen id set is
    invariant under repartitioning (hash order, not physical order) and
    changes with the seed; the rank filter plans as WindowGroupLimit
    (map-side partial top-k before the exchange)."""
    from shuttle_spark.plans.audit import executed_plan

    rows = [(g, i) for g in ("x", "y") for i in range(40)] + [("z", 0)]
    df = spark.createDataFrame(rows, "g string, id long")
    out = R.sample_k_per_group(df, ["g"], "id", k=3, seed=7)
    got = sorted((r.g, r.id) for r in out.collect())
    sizes = {}
    for g, _ in got:
        sizes[g] = sizes.get(g, 0) + 1
    assert sizes == {"x": 3, "y": 3, "z": 1}
    again = sorted(
        (r.g, r.id)
        for r in R.sample_k_per_group(
            df.repartition(13), ["g"], "id", k=3, seed=7
        ).collect()
    )
    assert again == got
    reseeded = sorted(
        (r.g, r.id)
        for r in R.sample_k_per_group(df, ["g"], "id", k=3, seed=8).collect()
    )
    assert reseeded != got  # 6 of 80 ids re-chosen identically is ~never
    assert "WindowGroupLimit" in executed_plan(out)


def test_group_outliers_single_row_group_null_std(spark):
    """Degenerate-input convention: a 1-row group reports NULL std/0
    outliers, not 0/0 = NaN (NaN hash/order semantics diverge
    cross-engine; NULL propagates identically)."""
    df = spark.createDataFrame(
        [("solo", 42.0), ("pair", 1.0), ("pair", 3.0)], "g string, v double"
    )
    out = {r.g: r for r in R.group_outliers_zscore(df, ["g"], "v").collect()}
    assert out["solo"].n_rows == 1
    assert out["solo"].std_value is None
    assert out["solo"].n_outliers == 0
    assert out["pair"].std_value is not None


def test_semantic_dedup_greedy_by_id_and_null_safe(spark):
    """SemDedup keep rule: v survives iff NO lower-id vector clears the
    quantized-cosine threshold — so a duplicate of a *dropped* vector is
    still dropped (domination is by raw id order, not by survivor set),
    and a NULL embedding can never dominate nor be dropped."""
    from shuttle_spark.operators import similarity as S

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),  # dup of 0 -> dropped
        (2, [0.98, 0.02, 0.0, 0.0]),  # dup of 1 (dropped) AND 0 -> dropped
        (3, [0.0, 1.0, 0.0, 0.0]),  # novel -> kept
        (4, None),  # NULL embedding -> kept, never scored
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    kept = sorted(
        r.vec_id for r in S.semantic_dedup(emb, threshold=0.9).collect()
    )
    assert kept == [0, 3, 4]


def test_semantic_dedup_lsh_path_is_superset_of_exact(spark):
    """The scale path (sign-LSH candidates + the same integer verify) may
    MISS dominating pairs but never invent them: its survivor set is a
    superset of the exact path's, and both paths agree that every exact
    survivor survives.  Run on the real embeddings table so the hyperplane
    signatures see realistic geometry."""
    from shuttle_spark.catalog import load_table
    from shuttle_spark.operators import similarity as S

    emb = load_table(spark, SF, "embeddings")
    kept_exact = {
        r.vec_id for r in S.semantic_dedup(emb, threshold=0.4).collect()
    }
    kept_lsh = {
        r.vec_id
        for r in S.semantic_dedup(emb, threshold=0.4, exact=False).collect()
    }
    assert kept_exact <= kept_lsh
    n = emb.count()
    assert len(kept_exact) < n  # threshold chosen to actually dedup
    # LSH at (32 planes, 8 bands) should still find most dominators here
    assert len(kept_lsh) - len(kept_exact) <= (n - len(kept_exact)) * 0.5


def test_repeated_span_detection_is_aligned_and_width_gated(spark):
    """Aligned-window semantics pinned: two docs sharing a 32-char span
    that starts on the stride grid in BOTH are detected; a doc whose copy
    of the span sits off-grid is NOT (this operator trades the
    suffix-array's any-offset guarantee for a pure hash-shuffle plan —
    the docstring says so, this test makes the trade visible); docs
    shorter than the window emit nothing."""
    from shuttle_spark.operators import dedup as D

    span = "ABCDEFGHIJKLMNOPQRSTUVWXYZ012345"  # exactly 32 chars
    rows = [
        (1, span + "x" * 16),          # span at offset 0 (aligned)
        (2, "y" * 16 + span),          # span at offset 16 (aligned)
        (3, "z" * 5 + span),           # span at offset 5 (off-grid)
        (4, "short"),                  # < width -> no windows
        (5, "q" * 64),                 # unique content
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    hit = sorted(
        r.doc_id
        for r in D.repeated_span_doc_ids(docs, width=32, stride=16).collect()
    )
    assert hit == [1, 2]


def test_ewma_deviants_integer_semantics(spark):
    """Constructed series pins the EWMA contract: rows with < min_lags
    history are never scored, NULL values drop out of the series (the
    successor's lags skip them), a flat series flags nothing, and a spike
    after stable history is flagged via the integer cross-multiplication
    (no float ever compared)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: stable $1.00 x5 then a $200 spike -> spike flagged
    for i in range(5):
        rows.append((i, 1, t0 + dt.timedelta(minutes=i), 1.0))
    rows.append((5, 1, t0 + dt.timedelta(minutes=5), 200.0))
    # user 2: flat series -> nothing flagged
    for i in range(6):
        rows.append((10 + i, 2, t0 + dt.timedelta(minutes=i), 7.0))
    # user 3: huge spike but only 3 predecessors -> below min_lags, unscored
    for i in range(3):
        rows.append((20 + i, 3, t0 + dt.timedelta(minutes=i), 1.0))
    rows.append((23, 3, t0 + dt.timedelta(minutes=3), 500.0))
    # user 4: NULL value mid-series is excluded, history still accrues
    vals4 = [2.0, 2.0, None, 2.0, 2.0, 300.0]
    for i, v in enumerate(vals4):
        rows.append((30 + i, 4, t0 + dt.timedelta(minutes=i), v))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = {
        r.event_id: r
        for r in R.ewma_deviants(
            df, ["user_id"], ["ts", "event_id"], "value", threshold_cents=10000
        ).collect()
    }
    assert set(out) == {5, 35}
    r5 = out[5]
    assert (r5.cents, r5.denom) == (20000, 128 + 64 + 32 + 16 + 8)
    assert r5.wsum == 100 * r5.denom  # flat $1 history
    # user 4: the NULL row never became a lag — denom reflects 4 real lags
    assert out[35].denom == 128 + 64 + 32 + 16


def test_linear_attribution_integer_credit_split(spark):
    """A $1.00 conversion over 3 touches splits 34/33/33 (remainder to the
    EARLIEST touches), per-conversion credit sums exactly to the
    conversion cents, touches outside the 7-day window get nothing, and a
    touch serving two conversions accumulates both credits."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 10)
    rows = [
        # user 1: three clicks then a $1.00 purchase
        (1, 1, t0 + dt.timedelta(hours=1), "click", None),
        (2, 1, t0 + dt.timedelta(hours=2), "click", None),
        (3, 1, t0 + dt.timedelta(hours=3), "click", None),
        (4, 1, t0 + dt.timedelta(hours=4), "purchase", 1.00),
        # second purchase 1h later -> same three clicks credited again ($0.03)
        (5, 1, t0 + dt.timedelta(hours=5), "purchase", 0.03),
        # user 2: click 8 days before the purchase -> outside window
        (6, 2, t0 - dt.timedelta(days=8), "click", None),
        (7, 2, t0, "purchase", 50.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string,"
        " value double"
    )
    got = {r.t_id: r for r in R.linear_attribution(df).collect()}
    assert set(got) == {1, 2, 3}
    assert [got[i].credit_cents for i in (1, 2, 3)] == [34 + 1, 33 + 1, 33 + 1]
    assert all(got[i].n_conversions == 2 for i in (1, 2, 3))


def test_hash_split_deterministic_and_growth_stable(spark):
    """Split assignment is a pure function of (id, seed): invariant under
    repartitioning AND under corpus growth (rows keep their split when new
    rows arrive — the anti-contamination property), fractions land near
    80/10/10, and every row gets exactly one split."""
    from shuttle_spark.operators import pipeline as P

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    df = spark.range(0, 2000).toDF("id")
    a = {r.id: r.split for r in P.hash_split(df, "id", fr).collect()}
    b = {
        r.id: r.split
        for r in P.hash_split(df.repartition(13), "id", fr).collect()
    }
    assert a == b
    grown = {
        r.id: r.split
        for r in P.hash_split(spark.range(0, 4000).toDF("id"), "id", fr).collect()
    }
    assert all(grown[i] == a[i] for i in a)
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["train"] - 1600) < 100 and abs(c["val"] - 200) < 60
    assert c["train"] + c["val"] + c["test"] == 2000


def test_key_skew_census_shares_and_no_global_window(spark):
    """Census semantics on constructed skew (one hot key = 50% of rows),
    and the plan must NOT contain a partition-less window — the total is a
    broadcast scalar, or the census itself hits the skew wall it exists to
    diagnose."""
    from shuttle_spark.plans.audit import executed_plan

    rows = [("hot",)] * 50 + [(f"k{i}",) for i in range(50)]
    df = spark.createDataFrame(rows, "k string")
    out = R.key_skew_census(df, ["k"], top_k=3)
    got = out.collect()
    assert (got[0].k, got[0].cnt, got[0].share) == ("hot", 50, 0.5)
    assert all(r.cnt == 1 for r in got[1:])
    assert "Window" not in executed_plan(out)


def test_winsorized_stats_exact_order_statistics(spark):
    """Percentile bounds are EXACT order statistics (the value at rank
    ceil(q*n), never interpolated): 20 values 1..20 with q=[0.05,0.95]
    clamp to [1, 19] (ceil(.05*20)=1st, ceil(.95*20)=19th), NULLs are
    excluded, and the clamped sum is exact integer cents."""
    rows = [("a", float(i)) for i in range(1, 21)] + [("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = R.winsorized_stats(df, ["g"], "v", lo_q=0.05, hi_q=0.95).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_rows, r.lo_cents, r.hi_cents) == (20, 100, 1900)
    # sum of 1..20 cents with 20.0 clamped to 19.0
    assert r.winsorized_sum_cents == (sum(range(1, 21)) - 1) * 100


def test_round6_late_ops_survive_empty_and_all_null_inputs(spark):
    """Degenerate-input sweep for the late round-6 operators: an EMPTY
    relation and an all-NULL value column must yield empty (not crash,
    not NaN) through every path — the guard rails a 100 TB run needs when
    a partition, source, or day comes up empty."""
    import datetime as dt

    from shuttle_spark.operators import dedup as D2
    from shuttle_spark.operators import pipeline as P
    from shuttle_spark.operators import similarity as S

    empty_ev = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, event_type string,"
        " value double"
    )
    null_ev = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1), "purchase", None),
         (2, 1, dt.datetime(2024, 1, 2), "click", None)],
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double",
    )
    for ev in (empty_ev, null_ev):
        assert R.ewma_deviants(
            ev, ["user_id"], ["ts", "event_id"], "value", 1000
        ).count() == 0
        assert R.linear_attribution(ev).count() == 0
        assert R.winsorized_stats(ev, ["event_type"], "value").count() == 0
    assert R.key_skew_census(empty_ev, ["event_type"]).count() == 0

    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, source string, n_chars long"
    )
    assert D2.repeated_span_doc_ids(empty_docs).count() == 0
    assert P.pack_greedy_bins(
        empty_docs, "source", "doc_id", "n_chars", 100
    ).count() == 0
    assert P.hash_split(
        empty_docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).count() == 0
    null_docs = spark.createDataFrame(
        [(1, None, "s", 0)], "doc_id long, text string, source string,"
        " n_chars long"
    )
    assert D2.repeated_span_doc_ids(null_docs).count() == 0

    empty_emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    assert S.semantic_dedup(empty_emb, 0.4).count() == 0


def test_rolling_window_features_boundaries_and_ties(spark):
    """RANGE-frame semantics pinned: a click exactly 24h before the
    purchase IS in the frame (closed lower bound), one microsecond
    earlier is NOT, a click at the same instant as the purchase IS
    (peer-inclusive — no tiebreak needed), and other users never leak."""
    import datetime as dt

    t0 = dt.datetime(2024, 3, 10, 12, 0, 0)
    rows = [
        (1, 1, t0 - dt.timedelta(hours=24), "click", None),              # in (boundary)
        (2, 1, t0 - dt.timedelta(hours=24, microseconds=1), "click", None),  # out
        (3, 1, t0 - dt.timedelta(hours=1), "view", None),                # in
        (4, 1, t0, "click", None),                                       # in (peer tie)
        (5, 1, t0, "purchase", 10.0),
        (6, 2, t0 - dt.timedelta(hours=1), "click", None),               # other user
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string,"
        " value double"
    )
    out = R.rolling_window_features(
        df, ["user_id"], "ts", "purchase", ["click", "view"], 24
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_click_24h, r.n_view_24h) == (2, 1)


def test_join_fanout_census_products(spark):
    """Fan-out = n_left x n_right per key; keys missing on either side
    emit nothing (inner count join); order is by product desc."""
    a = spark.createDataFrame([(1,)] * 3 + [(2,)] * 1 + [(4,)], "k long")
    b = spark.createDataFrame([(1,)] * 2 + [(2,)] * 5 + [(3,)], "k long")
    got = [(r.k, r.n_left, r.n_right, r.fanout)
           for r in R.join_fanout_census(a, b, ["k"], top_k=5).collect()]
    assert got == [(1, 3, 2, 6), (2, 1, 5, 5)]


def test_rolling_actives_window_semantics(spark):
    """DAU/WAU pinned on a constructed calendar: a user active 8 days
    before a report day is OUTSIDE its 7-day window; one active that day
    and one 6 days back are inside; stickiness = dau/wau exactly."""
    import datetime as dt

    def ts(d, u):
        return (100 * d + u, u, dt.datetime(2024, 1, d, 12, 0, 0), "click", None)

    rows = [ts(1, 1), ts(3, 2), ts(9, 1), ts(9, 3)]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string,"
        " value double"
    )
    got = {str(r.day): (r.dau, r.wau, r.stickiness)
           for r in R.rolling_distinct_actives(ev, "ts", "user_id", 7).collect()}
    # day 9 window = days 3..9: users {2 (day3), 1, 3 (day9)} -> wau 3
    assert got["2024-01-09"] == (2, 3, round(2 / 3, 6))
    # day 3 window = days -3..3: users {1 (day1), 2 (day3)} -> wau 2
    assert got["2024-01-03"] == (1, 2, 0.5)
    assert got["2024-01-01"] == (1, 1, 1.0)


def test_prefix_filtered_jaccard_equals_full_index(spark):
    """Completeness of prefix filtering: the prefix-indexed join must
    produce EXACTLY the full-inverted-index algorithm's pairs (same ids,
    same jaccard) at several thresholds — the prefix theorem in
    executable form.  Also pins that the candidate index really is
    smaller (the pruning is doing something)."""
    from shuttle_spark.operators import neardup as N

    docs = spark.read.parquet(SF + "/documents.parquet")
    # 2/3 is OFF the basis-point grid: round(2/3*10000)=6667 > 2/3*10000
    # would over-shorten the prefix and drop qualifying pairs; the floor'd
    # tau_bp (ADVICE r6) keeps candidate generation complete for any tau.
    for tau in (0.5, 0.6, 2 / 3, 0.8):
        full = {
            (r.id_a, r.id_b, r.jac)
            for r in N.near_dup_pairs_exact(docs, tau).collect()
        }
        pre = {
            (r.id_a, r.id_b, r.jac)
            for r in N.near_dup_pairs_prefix(docs, tau).collect()
        }
        assert pre == full, f"tau={tau}"
    assert full  # corpus has qualifying pairs at 0.8, else vacuous


def _brute_pairs(left, right, tau, n, max_df=None, df_side=None):
    """Brute-force exact Jaccard pairs (id_l, id_r, round(jac, 6)) with
    jac >= tau over ``left`` x ``right`` (lists of (id, text)); with
    ``max_df`` a gram present in more than max_df docs of ``df_side`` is
    not counted as shared, and set sizes stay those before the cut."""
    def grams(text):
        toks = text.lower().split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    stop = set()
    if max_df is not None:
        counts = {}
        for _, t in df_side:
            for g in grams(t):
                counts[g] = counts.get(g, 0) + 1
        stop = {g for g, c in counts.items() if c > max_df}
    out = set()
    for i, ta in left:
        for j, tb in right:
            if left is right and i >= j:
                continue
            ga, gb = grams(ta), grams(tb)
            inter = len((ga & gb) - stop)
            if inter and inter / (len(ga) + len(gb) - inter) >= tau:
                out.add((i, j, round(inter / (len(ga) + len(gb) - inter), 6)))
    return out


# Length-filter boundary corpus (n=1): doc 1 holds 3 of doc 2's 5 grams
# (jac 3/5 with unequal sizes), doc 3 holds 2 of doc 4's 3 (jac 2/3);
# the "s" gram is in every doc, a stop gram once max_df < 6.
_BOUNDARY_DOCS = [
    (1, "s a b"),
    (2, "s a b c d"),
    (3, "s x"),
    (4, "s x y"),
    (5, "s a b c d e f g h"),
    (6, "s x y z"),
]
# the pair whose jac equals tau, and whose sizes sit on the bound
_ON_BOUNDARY = {0.6: (1, 2, 0.6), 2 / 3: (3, 4, round(2 / 3, 6))}


@pytest.mark.parametrize("tau", [0.5, 0.6, 2 / 3, 0.75])
@pytest.mark.parametrize("max_df", [None, 4])
def test_exact_pairs_length_filter_is_exact(spark, tau, max_df):
    """The size bound of the exact self-join (``_size_bound``) drops no
    qualifying pair: the pairs equal brute force at a pair with jac == tau
    and unequal sizes (3 of 5 at 0.6; 2 of 3 at 2/3, which is off the
    basis-point grid, so a rounded tau_bp of 6667 would drop it), and on
    the ``max_df`` path, where the sizes are those before the cut."""
    from shuttle_spark.operators import neardup as N

    docs = spark.createDataFrame(_BOUNDARY_DOCS, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.jac)
        for r in N.near_dup_pairs_exact(docs, tau, n=1, max_df=max_df).collect()
    }
    want = _brute_pairs(_BOUNDARY_DOCS, _BOUNDARY_DOCS, tau, 1, max_df, _BOUNDARY_DOCS)
    assert got == want
    if max_df is None and tau in _ON_BOUNDARY:
        assert _ON_BOUNDARY[tau] in got


@pytest.mark.parametrize("tau", [0.5, 0.6, 2 / 3])
@pytest.mark.parametrize("max_df", [None, 2])
def test_between_pairs_length_filter_is_exact(spark, tau, max_df):
    """The same bound in ``near_dup_pairs_between``: batch x corpus pairs
    equal brute force on the boundary pairs, with ``max_df`` counted on
    the corpus side."""
    from shuttle_spark.operators import neardup as N

    new = [d for d in _BOUNDARY_DOCS if d[0] in (1, 3)]
    corpus = [d for d in _BOUNDARY_DOCS if d[0] not in (1, 3)]
    schema = "doc_id long, text string"
    got = {
        (r.id_new, r.id_corpus, r.jac)
        for r in N.near_dup_pairs_between(
            spark.createDataFrame(new, schema),
            spark.createDataFrame(corpus, schema),
            tau, n=1, max_df=max_df,
        ).collect()
    }
    assert got == _brute_pairs(new, corpus, tau, 1, max_df, corpus)
    if max_df is None and tau in _ON_BOUNDARY:
        assert _ON_BOUNDARY[tau] in got


def test_session_copresence_lift_semantics(spark):
    """Constructed calendar pins the composite: a >gap pause splits the
    session (so types on opposite sides never co-occur), a ==gap pause
    does NOT (strict >), and the lift arithmetic is the exact
    integer-count ratio n_ab * n_sessions / (n_a * n_b)."""
    import datetime as dt

    t0 = dt.datetime(2024, 5, 1, 9, 0, 0)
    rows = [
        # user 1, session 0: click+view together
        (1, 1, t0, "click", None),
        (2, 1, t0 + dt.timedelta(minutes=30), "view", None),  # ==gap merges
        # >gap -> session 1: purchase alone
        (3, 1, t0 + dt.timedelta(minutes=61), "purchase", None),
        # user 2, one session: click only
        (4, 2, t0, "click", None),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string,"
        " value double"
    )
    got = {(r.type_a, r.type_b): (r.n_ab, r.lift)
           for r in R.session_copresence_lift(ev).collect()}
    # sessions: {u1 s0: click,view}, {u1 s1: purchase}, {u2 s0: click} -> 3
    # n_click=2, n_view=1, n_purchase=1; only (click,view) co-occurs once
    assert got == {("click", "view"): (1, round(1 * 3 / (2 * 1), 6))}


def test_xxh64_matches_spark_xxhash64(spark):
    """functions.xxh (the pure-Python xxHash64 powering the replay
    oracles) must be bit-identical to ``F.xxhash64`` on every form the
    replays use: UTF-8 strings across all tail-length classes (empty,
    <4, <8, <32, >=32-byte stripes, multi-byte), signed longs, ints,
    long arrays (fold), and the two-child band-key shape."""
    from shuttle_spark.functions import xxh

    strs = ["", "a", "abc", "abcd", "hello world", "x" * 31, "y" * 32,
            "z" * 100, "é漢字🎉 multi-byte", "555-010-1234"]
    for r in (
        spark.createDataFrame([(s,) for s in strs], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    ):
        assert xxh.hash_str(r["s"]) == r["h"]
    longs = [0, 1, -1, 42, 2**62, -(2**63), 123456789012345]
    for r in (
        spark.createDataFrame([(v,) for v in longs], "v long")
        .select("v", F.xxhash64("v").alias("h"))
        .collect()
    ):
        assert xxh.hash_long(r["v"], 42) == r["h"]
    ints = [0, 1, -1, 2**31 - 1, -(2**31)]
    for r in (
        spark.createDataFrame([(v,) for v in ints], "v int")
        .select("v", F.xxhash64("v").alias("h"))
        .collect()
    ):
        assert xxh.hash_int(r["v"], 42) == r["h"]
    arrs = [[1, 2, 3, 4], [], [0], [-5, 2**40], [7] * 9]
    for r in (
        spark.createDataFrame([(a,) for a in arrs], "a array<bigint>")
        .select("a", F.xxhash64("a").alias("h"))
        .collect()
    ):
        assert xxh.hash_long_array(r["a"]) == r["h"]
    rows = (
        spark.createDataFrame(
            [([1, 2, 3, 4], j) for j in range(6)], "a array<bigint>, j int"
        )
        .select("a", "j", F.xxhash64("a", "j").alias("h"))
        .collect()
    )
    for r in rows:
        assert xxh.band_key(r["a"], r["j"]) == r["h"]


def test_ohlc_bars_deterministic_open_close_under_ties(spark):
    """OHLC bars: open/close pick the lexicographic-key extremes, so a
    timestamp TIE resolves by the tiebreak id identically everywhere."""
    import datetime as dt

    from shuttle_spark.operators import relational as R

    t0 = dt.datetime(2024, 3, 1, 9, 15, 0)
    rows = [
        (1, "trade", t0, 10.0),
        (2, "trade", t0, 11.0),          # same ts as open -> id tiebreak
        (3, "trade", t0 + dt.timedelta(minutes=10), 15.0),
        (4, "trade", t0 + dt.timedelta(minutes=20), 7.5),
        (5, "trade", t0 + dt.timedelta(minutes=20), 8.0),  # tie at close
        (6, "trade", t0 + dt.timedelta(hours=1), 99.0),    # next bar
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    out = {
        r["bucket"].hour: r
        for r in R.ohlc_bars(df, ["event_type"]).collect()
    }
    b = out[9]
    assert (b["open"], b["close"]) == (10.0, 8.0)  # ids 1 and 5 win ties
    assert (b["high"], b["low"], b["volume"]) == (15.0, 7.5, 5)
    assert b["total_cents"] == 5150
    assert out[10]["open"] == out[10]["close"] == 99.0


def test_group_outliers_mad_resists_masking(spark):
    """The case z-score misses: a single outlier's z-score is bounded by
    (n-1)/sqrt(n), so at n=9 it can NEVER exceed 2.67 — a z=3 screen is
    structurally blind to it (masking) — while median/MAD ignore the
    outlier's own pull and flag it at the same z."""
    from shuttle_spark.operators import relational as R

    vals = [10.0] * 4 + [11.0] * 2 + [9.0] * 2 + [1000.0]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "k string, value double"
    )
    zs = R.group_outliers_zscore(df, ["k"], "value", z=3.0).collect()[0]
    mad = R.group_outliers_mad(df, ["k"], "value", z=3.0).collect()[0]
    assert zs["n_outliers"] == 0      # masked: max attainable z is 2.67
    assert mad["n_outliers"] == 1     # caught
    assert mad["median_value"] == 10.0
    assert mad["mad_value"] == 1.0


def test_trend_slope_exact_line(spark):
    """Points exactly on value = 2*hour + 5 (cents: 200x + 500) recover
    slope/intercept exactly; a constant-x key yields NULL (no NaN)."""
    import datetime as dt

    from shuttle_spark.operators import relational as R

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0 + dt.timedelta(hours=h), (2 * (473352 + h) + 5) / 1.0)
        for h in range(5)
    ] + [(2, t0, 3.0), (2, t0 + dt.timedelta(minutes=5), 9.0)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {r["user_id"]: r for r in R.trend_slope(df, ["user_id"]).collect()}
    assert got[1]["slope_cents_per_hour"] == 200.0
    assert got[1]["intercept_cents"] == 500.0
    # user 2: both rows in the same hour -> zero x-variance -> NULL
    assert got[2]["slope_cents_per_hour"] is None
    assert got[2]["intercept_cents"] is None


def test_stratified_split_exact_counts(spark):
    """Per-stratum counts hit the floor boundaries exactly (the property
    hash_split only gives in expectation), and assignment is a pure
    function of (id, seed) — rerun-identical."""
    from shuttle_spark.operators import pipeline as P

    rows = [(i, "en" if i < 100 else "fr") for i in range(137)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = P.stratified_split(
        df, "doc_id", ["lang"], {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    counts = {
        (r["lang"], r["split"]): r["n"]
        for r in out.groupBy("lang", "split").agg(F.count("*").alias("n")).collect()
    }
    assert counts[("en", "train")] == 80 and counts[("en", "val")] == 10
    assert counts[("en", "test")] == 10
    # 37-row stratum: floor(37*.8)=29, floor(37*.9)=33 -> 29/4/4
    assert counts[("fr", "train")] == 29 and counts[("fr", "val")] == 4
    assert counts[("fr", "test")] == 4
    again = P.stratified_split(
        df, "doc_id", ["lang"], {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_kcore_known_graph(spark):
    """Constructed graph: a 5-clique (4-core) with a pendant path hanging
    off it — the path peels away layer by layer, the clique survives;
    k=5 empties the core."""
    from shuttle_spark.operators import components as CC

    clique = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    path = [(4, 10), (10, 11), (11, 12)]
    e = spark.createDataFrame(clique + path, "id_a long, id_b long")
    got = sorted(r["node"] for r in CC.kcore(e, 4).collect())
    assert got == [0, 1, 2, 3, 4]
    assert CC.kcore(e, 5).count() == 0
    assert sorted(r["node"] for r in CC.kcore(e, 1).collect()) == [
        0, 1, 2, 3, 4, 10, 11, 12
    ]


def test_snapshot_diff_classifies_and_inverts(spark):
    """I/U/D classification incl. NULL-value transitions (null-safe
    compare: NULL->value and value->NULL are both updates), and the
    inversion law apply(diff(old,new), old) == new."""
    from shuttle_spark.operators import lineage as L

    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None), (4, 40.0), (5, 50.0)],
        "k long, v double",
    )
    new = spark.createDataFrame(
        [(1, 10.0), (2, 21.0), (3, 30.0), (4, None), (6, 60.0)],
        "k long, v double",
    )
    d = {r["k"]: r["op"] for r in L.snapshot_diff(old, new, ["k"], ["v"]).collect()}
    assert d == {2: "U", 3: "U", 4: "U", 5: "D", 6: "I"}  # 1 unchanged
    applied = L.apply_changeset(
        old, L.snapshot_diff(old, new, ["k"], ["v"]), ["k"]
    )
    assert sorted(map(tuple, applied.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_snapshot_diff_edge_semantics(spark):
    """Round-7 ADVICE hardening: (a) a persisting NULL-keyed row is NOT a
    spurious I+D pair (null-safe key join + presence markers); (b)
    compare=[] is a key-presence-only diff; (c) apply_changeset rejects a
    changeset that doesn't cover the base schema with a clear error."""
    import pytest

    from shuttle_spark.operators import lineage as L

    old = spark.createDataFrame([(None, 1.0), (1, 10.0)], "k long, v double")
    new = spark.createDataFrame([(None, 2.0), (1, 10.0)], "k long, v double")
    rows = L.snapshot_diff(old, new, ["k"], ["v"]).collect()
    # NULL key persists with a changed value: exactly one U, no I/D
    assert [(r["op"], r["k"], r["v"]) for r in rows] == [("U", None, 2.0)]

    # presence-only diff: value changes invisible, only key arrivals/exits
    new2 = spark.createDataFrame([(1, 99.0), (2, 5.0)], "k long, v double")
    d = {r["k"]: r["op"] for r in L.snapshot_diff(old, new2, ["k"], []).collect()}
    assert d == {None: "D", 2: "I"}

    base = spark.createDataFrame([(1, 10.0, "x")], "k long, v double, extra string")
    ch = L.snapshot_diff(old, new, ["k"], ["v"])
    with pytest.raises(ValueError, match="extra"):
        L.apply_changeset(base, ch, ["k"])


def test_lex_okey_full_long_range(spark):
    """lex_okey's biased fixed-width key preserves numeric order for
    negative (pre-1970) epoch micros and tiebreak ids beyond 10^12 — the
    exact cases the round-7 lpad formulation truncated or misordered."""
    import datetime as dt

    rows = [
        (dt.datetime(1960, 1, 1), -(2**62)),
        (dt.datetime(1960, 1, 1), 10**13),  # > old 12-char pad
        (dt.datetime(1969, 12, 31, 23, 59), 0),
        (dt.datetime(1970, 1, 1), 0),
        (dt.datetime(2200, 1, 1), 2**62),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, tid long")
    got = [
        r["k"]
        for r in df.select(R.lex_okey("ts", "tid").alias("k"))
        .orderBy("k")
        .collect()
    ]
    want = [
        r["k"]
        for r in df.select(
            R.lex_okey("ts", "tid").alias("k"), "ts", "tid"
        )
        .orderBy("ts", "tid")
        .collect()
    ]
    assert got == want
    assert all(len(k) == 41 for k in got)  # 20 + ':' + 20, never truncated


def test_merge_intervals_semantics(spark):
    """Overlapping and TOUCHING intervals merge (strict-> break rule);
    disjoint spans stay apart; instants count."""
    from shuttle_spark.operators import relational as R

    rows = [
        (1, 0, 10), (1, 5, 15), (1, 15, 20),  # chain -> [0,20]
        (1, 25, 30),                           # separate
        (1, 40, 40),                           # instant
        (2, 0, 100), (2, 10, 20),              # contained -> [0,100]
    ]
    df = spark.createDataFrame(rows, "k long, start_us long, end_us long")
    got = {
        (r["k"], r["span_start"], r["span_end"]): r["n_intervals"]
        for r in R.merge_intervals(df, ["k"]).collect()
    }
    assert got == {
        (1, 0, 20): 3, (1, 25, 30): 1, (1, 40, 40): 1, (2, 0, 100): 2
    }


def test_ab_test_summary_known_arms(spark):
    """Known two-arm data: exact means, positive t for a real uplift,
    NULL t when an arm is missing or single-row."""
    from shuttle_spark.operators import relational as R

    rows = (
        [("m", "a", 10.0), ("m", "a", 12.0), ("m", "a", 11.0)]
        + [("m", "b", 20.0), ("m", "b", 22.0), ("m", "b", 21.0)]
        + [("solo", "a", 5.0), ("solo", "a", 6.0)]      # no b arm
        + [("tiny", "a", 1.0), ("tiny", "b", 2.0)]      # n=1 each
    )
    df = spark.createDataFrame(rows, "metric string, arm string, value double")
    got = {
        r["metric"]: r
        for r in R.ab_test_summary(df, ["metric"], "arm").collect()
    }
    m = got["m"]
    assert (m["n_a"], m["n_b"]) == (3, 3)
    assert (m["mean_a_cents"], m["mean_b_cents"]) == (1100.0, 2100.0)
    assert m["t_stat"] is not None and m["t_stat"] > 10
    assert got["solo"]["t_stat"] is None and got["solo"]["n_b"] is None
    assert got["tiny"]["t_stat"] is None


def test_incremental_group_totals_group_moves_and_drops(spark):
    """MV maintenance semantics on constructed data: a group-moving
    update retracts from the old group and adds to the new one; a group
    whose last row is deleted disappears; a brand-new group appears."""
    from shuttle_spark.operators import lineage as L

    old = spark.createDataFrame(
        [(1, "g1", 10.0), (2, "g1", 20.0), (3, "g2", 5.0)],
        "k long, g string, v double",
    )
    new = spark.createDataFrame(
        [(1, "g3", 10.0), (2, "g1", 21.0), (4, "g4", 7.0)],
        "k long, g string, v double",
    )
    base = old.groupBy("g").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("v") * 100).cast("long")).alias("sum_cents"),
    )
    ch = L.snapshot_diff(old, new, ["k"], ["g", "v"], include_old=True)
    got = {
        r["g"]: (r["n_rows"], r["sum_cents"])
        for r in L.incremental_group_totals(base, ch, "g", "v").collect()
    }
    assert got == {"g1": (1, 2100), "g3": (1, 1000), "g4": (1, 700)}
    # g2 vanished with its only row; totals equal the direct aggregate
    direct = {
        r["g"]: (r["n_rows"], r["sum_cents"])
        for r in new.groupBy("g")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.round(F.col("v") * 100).cast("long")).alias("sum_cents"),
        )
        .collect()
    }
    assert got == direct


def test_locf_impute_semantics(spark):
    """Carry-forward fills, leading NULLs stay NULL, keys are isolated,
    and ties are broken by the order tiebreak (never engine-arbitrary)."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        (1, t + 0 * s, 1, None),   # leading NULL: stays NULL
        (1, t + 1 * s, 2, 5.0),
        (1, t + 2 * s, 3, None),   # fills with 5.0
        (1, t + 2 * s, 4, 7.0),    # same ts, higher tiebreak
        (1, t + 3 * s, 5, None),   # fills with 7.0 (tiebreak order)
        (2, t + 9 * s, 6, None),   # other key: no leak from key 1
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, i long, v double")
    got = {
        r["i"]: r["v"]
        for r in R.locf_impute(df, ["k"], ["ts", "i"], ["v"]).collect()
    }
    assert got == {1: None, 2: 5.0, 3: 5.0, 4: 7.0, 5: 7.0, 6: None}


def test_ivf_upsert_matches_rebuild_and_moves_cells(spark):
    """ivf_upsert: deletes leave, inserts/updates get cells from the
    FROZEN centroids, untouched rows keep their assignment — and an
    update that moves a vector across the centroid boundary lands in its
    new cell (maintained index == full reassignment, hand-checked)."""
    import numpy as np

    from shuttle_spark.operators import similarity as S

    base = spark.createDataFrame(
        [
            (1, [0.0, 1.0]), (2, [0.1, 0.9]),   # near centroid A
            (3, [1.0, 0.0]), (4, [0.9, 0.1]),   # near centroid B
        ],
        "vec_id long, embedding array<float>",
    )
    cents = np.array([[0.0, 1.0], [1.0, 0.0]])
    indexed = S.assign_cells(base, cents)
    changes = spark.createDataFrame(
        [
            ("U", 2, [0.95, 0.05]),  # moves A -> B
            ("D", 3, None),
            ("I", 9, [0.05, 0.95]),  # lands in A
        ],
        "op string, vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in S.ivf_upsert(indexed, cents, changes).collect()
    }
    assert got == {1: 0, 2: 1, 4: 1, 9: 0}


def test_table_recon_statuses_and_null_sentinel(spark):
    """All five statuses are reachable and NULL columns enter the row
    signature via the sentinel instead of NULL-propagating the hash
    (which would silently equate a NULL-bearing row with nothing)."""
    left = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None), (4, 40)], "k long, v long"
    )
    right_same = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None), (4, 40)], "k long, v long"
    )
    right_diff = spark.createDataFrame(
        [(1, 10), (2, 21), (3, 30), (4, 40), (5, 50)], "k long, v long"
    )
    rows = I.table_recon(left, right_same, ["k", "v"], n_buckets=4).collect()
    assert {r["status"] for r in rows} == {"match"}
    assert sum(r["left_rows"] for r in rows) == 4  # NULL row not dropped
    rows = I.table_recon(left, right_diff, ["k", "v"], n_buckets=4).collect()
    st = {r["status"] for r in rows}
    assert "match" not in st or len(st) > 1  # something diverged
    assert st <= {"match", "content_diff", "count_diff", "only_right"}
    empty = spark.createDataFrame([], "k long, v long")
    rows = I.table_recon(left, empty, ["k", "v"], n_buckets=4).collect()
    assert {r["status"] for r in rows} == {"only_left"}


def test_decayed_group_score_exact_halving(spark):
    """Hand-checked decay: a 1.00-value event contributes 10^8 microcents
    at age 0, half that one half-life later, zero effect from clamping a
    future-dated row below age 0."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    ref_us = int(t0.timestamp() * 1_000_000)
    rows = [
        ("a", t0, 1.0),                               # age 0: 100000000
        ("a", t0 - dt.timedelta(hours=1), 1.0),       # 1 hl:   50000000
        ("a", t0 - dt.timedelta(hours=2), 1.0),       # 2 hl:   25000000
        ("b", t0 + dt.timedelta(hours=5), 2.0),       # future -> age 0
        ("c", t0 - dt.timedelta(hours=100), 4.0),     # cap 62: 0
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    got = {
        r["k"]: (r["n_events"], r["score_microcents"])
        for r in R.decayed_group_score(
            df, ["k"], ref_us, "ts", "v", half_life_hours=1
        ).collect()
    }
    assert got == {
        "a": (3, 100_000_000 + 50_000_000 + 25_000_000),
        "b": (1, 200_000_000),
        "c": (1, 0),
    }


def test_table_recon_drill_fetches_exact_divergence(spark):
    """Drill-down returns exactly the divergent row occurrences of the
    flagged buckets: an updated row appears once per side, a deleted row
    only_left, untouched rows never."""
    left = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "k long, v long"
    )
    right = spark.createDataFrame(
        [(1, 10), (2, 21), (4, 40)], "k long, v long"  # 2 updated, 3 gone
    )
    census = I.table_recon(left, right, ["k", "v"], n_buckets=4)
    bad = [r["bucket"] for r in census.collect() if r["status"] != "match"]
    rows = I.table_recon_drill(
        left, right, ["k", "v"], bad, n_buckets=4
    ).collect()
    got = sorted((r["side"], r["k"], r["v"]) for r in rows)
    assert got == [
        ("only_left", 2, 20),
        ("only_left", 3, 30),
        ("only_right", 2, 21),
    ]


def test_column_profile_semantics(spark):
    """One row per column with exact counts; all-NULL columns render NULL
    min/max; the empty table profiles to zero rows per column (the
    vacuous census, not an error)."""
    from shuttle_spark.operators.integrity import column_profile

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", None), (2, None, None)],
        "k long, s string, z string",
    )
    got = {
        r["col_name"]: (
            r["n_rows"], r["n_null"], r["n_distinct"],
            r["min_str"], r["max_str"],
        )
        for r in column_profile(df, exact_distinct=True).collect()
    }
    assert got == {
        "k": (3, 0, 2, "1", "2"),
        "s": (3, 1, 2, "a", "b"),
        "z": (3, 3, 0, None, None),
    }
    empty = column_profile(
        spark.createDataFrame([], "k long, s string"), exact_distinct=True
    ).collect()
    assert {r["col_name"] for r in empty} == {"k", "s"}
    assert all(r["n_rows"] == 0 and r["n_null"] == 0 for r in empty)


def test_profile_diff_statuses_and_schema_drift(spark):
    """Status priority (row_count > null > distinct > range > match) and
    the schema-drift statuses: a column present on one side only reports
    only_left/only_right; an all-NULL column compares equal to itself
    (null-safe range check)."""
    from shuttle_spark.operators.integrity import profile_diff

    left = spark.createDataFrame(
        [(1, 10, "x", None), (2, 20, "y", None), (3, 30, "y", None)],
        "k long, v long, s string, z string",
    )
    right = spark.createDataFrame(
        [(1, 10, "x", None, 1.0), (2, 25, None, None, 1.0),
         (3, 30, "y", None, 2.0)],
        "k long, v long, s string, z string, extra double",
    )
    # cols=None profiles each side's own schema -> only_left/only_right
    got = {
        r["col_name"]: r["status"] for r in profile_diff(
            left.drop("z"),
            right.select("k", "v", "s", "extra"),
            exact_distinct=True,
        ).collect()
    }
    assert got["extra"] == "only_right"
    assert got["k"] == "match"
    assert got["s"] == "null_drift"      # a NULL replaced a 'y'
    # v: {10,20,30} vs {10,25,30} — same rows/nulls/distinct-count and the
    # same min/max, so the stats census reports MATCH: the profile's
    # documented resolution limit (content equality is table_recon's job)
    assert got["v"] == "match"
    # all-NULL column on both sides compares match (null-safe min/max)
    full = {
        r["col_name"]: r["status"]
        for r in profile_diff(left, left, exact_distinct=True).collect()
    }
    assert set(full.values()) == {"match"}
    # row-count drift dominates everything
    rc = {
        r["col_name"]: r["status"]
        for r in profile_diff(
            left, left.limit(2), exact_distinct=True
        ).collect()
    }
    assert set(rc.values()) == {"row_count_drift"}


def test_corr_matrix_semantics(spark):
    """Pearson r of the quantized columns matches numpy.corrcoef on the
    same quantized values to the rounding grain; constant columns give
    NULL corr; complete-case: a NULL in any profiled column drops the
    row from every pair's n."""
    import numpy as np

    from shuttle_spark.operators.integrity import corr_matrix

    rows = [
        (1.0, 10.0, 5.0),
        (2.0, 9.0, 5.0),
        (3.0, 7.5, 5.0),
        (4.0, 4.0, 5.0),
        (5.0, 2.0, 5.0),
    ]
    df = spark.createDataFrame(rows, "x double, y double, c double")
    got = {
        (r["col_x"], r["col_y"]): (r["n_rows"], r["corr"])
        for r in corr_matrix(
            df, [("x", 2), ("y", 2), ("c", 2)]
        ).collect()
    }
    assert set(got) == {("x", "y"), ("x", "c"), ("y", "c")}
    qx = np.round(np.array([r[0] for r in rows]) * 100)
    qy = np.round(np.array([r[1] for r in rows]) * 100)
    want = float(np.corrcoef(qx, qy)[0, 1])
    n, r_xy = got[("x", "y")]
    assert n == 5
    assert abs(r_xy - want) < 1e-6
    # constant column -> zero variance -> NULL, for both its pairs
    assert got[("x", "c")] == (5, None)
    assert got[("y", "c")] == (5, None)

    # complete-case: NULL in y drops the row from the (x, c) pair too
    df2 = spark.createDataFrame(
        [(1.0, None, 1.0), (2.0, 1.0, 2.0), (3.0, 2.0, 3.0),
         (4.0, 1.5, 4.0)],
        "x double, y double, c double",
    )
    got2 = {
        (r["col_x"], r["col_y"]): r["n_rows"]
        for r in corr_matrix(
            df2, [("x", 2), ("y", 2), ("c", 2)]
        ).collect()
    }
    assert set(got2.values()) == {3}

    # perfectly anticorrelated pair hits exactly -1.0
    df3 = spark.createDataFrame(
        [(1.0, 3.0), (2.0, 2.0), (3.0, 1.0)], "x double, y double"
    )
    (only,) = corr_matrix(df3, [("x", 0), ("y", 0)]).collect()
    assert only["corr"] == -1.0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        corr_matrix(df3, [("x", 0)])


def test_priority_sample_semantics(spark):
    """Priority sampling: formula replicated bit-for-bit in pure Python
    (hashlib md5 -> 22-bit fold -> integer-div priority -> top-k -> tau
    estimator); k >= |group| returns the whole group with est == w; NULL
    and non-positive weights (and NULL ids) are excluded."""
    import hashlib

    from shuttle_spark.operators.relational import (
        _PS_U_BITS,
        priority_sample_per_group,
    )

    rows = [
        ("a", 1, 10.0), ("a", 2, 250.0), ("a", 3, 3.5), ("a", 4, 99.99),
        ("a", 5, 0.004),  # rounds to 0 cents -> excluded
        ("a", 6, None),   # NULL weight -> excluded
        ("b", 7, 5.0), ("b", 8, 7.25),
        ("b", None, 100.0),  # NULL id -> excluded
    ]
    df = spark.createDataFrame(rows, "grp string, id long, w double")
    k, seed = 2, 7
    got = {
        (r["grp"], r["id"]): (r["w_cents"], r["priority"], r["est_cents"])
        for r in priority_sample_per_group(
            df, ["grp"], "id", "w", k=k, seed=seed
        ).collect()
    }

    # pure-Python twin
    import math

    def prio(i, w):
        h = int(hashlib.md5(f"{i}:{seed}".encode()).hexdigest()[:8], 16)
        u = h % (1 << _PS_U_BITS) + 1
        wc = math.floor(w * 100 + 0.5)
        return wc, (wc << _PS_U_BITS) // u

    want = {}
    for g in ("a", "b"):
        cand = sorted(
            (
                (i, *prio(i, w))
                for gg, i, w in rows
                if gg == g and i is not None and w is not None
                and math.floor(w * 100 + 0.5) > 0
            ),
            key=lambda t: (-t[2], t[0]),
        )
        tau = cand[k][2] if len(cand) > k else 0
        for i, wc, p in cand[:k]:
            want[(g, i)] = (wc, p, max(wc, tau))
    assert got == want
    # group b kept whole (only 2 eligible rows) and est == w there
    assert got[("b", 7)][2] == got[("b", 7)][0]
    assert got[("b", 8)][2] == got[("b", 8)][0]


def test_golden_record_semantics(spark):
    """Per-column survivorship: each field independently takes its latest
    non-NULL value; an entity whose newest row is all-NULL still
    backfills from older rows; n_versions counts all rows.  Also pins
    the engine trap this operator guards against: unguarded max_by
    returns NULL when the newest row's value is NULL."""
    import datetime as dt

    from shuttle_spark.operators.dedup import golden_record

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # user 1: newest row fills email, older fills phone
        (1, t(1), 101, "p1", None),
        (1, t(2), 102, None, "e2"),
        (1, t(3), 103, None, "e3"),
        # user 2: newest row all-NULL -> both fields backfill
        (2, t(1), 201, "p9", "e9"),
        (2, t(2), 202, None, None),
        # user 3: same ts, tiebreak decides (higher event_id wins)
        (3, t(5), 301, "pA", None),
        (3, t(5), 302, "pB", None),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long,"
        " phone string, email string"
    )
    got = {
        r["user_id"]: (r["n_versions"], r["phone"], r["email"])
        for r in golden_record(
            df, ["user_id"], "ts", "event_id", ["phone", "email"]
        ).collect()
    }
    assert got == {
        1: (3, "p1", "e3"),
        2: (2, "p9", "e9"),
        3: (2, "pB", None),
    }

    # the trap: unguarded max_by picks the newest ROW's value (NULL here)
    from pyspark.sql import functions as F

    from shuttle_spark.operators.relational import lex_okey

    naive = (
        df.filter(F.col("user_id") == 2)
        .groupBy("user_id")
        .agg(F.max_by("phone", lex_okey("ts", "event_id")).alias("m"))
        .collect()[0]["m"]
    )
    assert naive is None  # guarded form above returned "p9"


def test_golden_record_string_tiebreak_orders_numerically(spark):
    """ADVICE r10: a string-typed numeric tiebreak must order
    NUMERICALLY (the struct okey casts it to long, matching the SQL
    twin's HUGEINT cast) — lexicographic ordering would pick "9" over
    "10" and silently diverge from the oracle."""
    import datetime as dt

    from shuttle_spark.operators.dedup import golden_record

    ts = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, ts, "9", "lo", None), (1, ts, "10", "hi", None)],
        "user_id long, ts timestamp, event_id string,"
        " phone string, email string",
    )
    got = golden_record(
        df, ["user_id"], "ts", "event_id", ["phone"]
    ).collect()[0]
    assert got["phone"] == "hi"  # 10 > 9 numerically; "10" < "9" lex


def test_tiebreak_validation_fails_loudly(spark):
    """ADVICE r11: a tiebreak that cannot carry the long total order
    must FAIL, never silently cast to NULL (which would degrade the
    documented deterministic pick to engine-arbitrary among ts ties).

    Three layers, covering both okey builders (golden_record and
    ohlc_bars share ``long_tiebreak``): a double column raises
    ValueError at PLAN time; a non-numeric string (UUID-ish) raises at
    EXECUTION in either ANSI mode; a null tiebreak value stays an
    ordinary NULL (no spurious raise)."""
    import datetime as dt

    import pytest

    from shuttle_spark.operators.dedup import golden_record
    from shuttle_spark.operators.relational import ohlc_bars

    ts = dt.datetime(2024, 1, 1)
    dbl = spark.createDataFrame(
        [(1, ts, 1.5, "a", None)],
        "user_id long, ts timestamp, event_id double,"
        " phone string, email string",
    )
    with pytest.raises(ValueError, match="integral or numeric-string"):
        golden_record(dbl, ["user_id"], "ts", "event_id", ["phone"])
    with pytest.raises(ValueError, match="integral or numeric-string"):
        ohlc_bars(
            dbl.withColumnRenamed("phone", "v")
            .withColumn("value", F.lit(1.0)),
            ["user_id"], "ts", "value", tiebreak="event_id",
        )
    uuid = spark.createDataFrame(
        [(1, ts, "a-b-c-d", "lo", None), (1, ts, "b-c-d-e", "hi", None)],
        "user_id long, ts timestamp, event_id string,"
        " phone string, email string",
    )
    plan = golden_record(uuid, ["user_id"], "ts", "event_id", ["phone"])
    with pytest.raises(Exception, match="non-numeric string"):
        plan.collect()
    nulls = spark.createDataFrame(
        [(1, ts, None, "only", None), (1, ts, "7", "late", None)],
        "user_id long, ts timestamp, event_id string,"
        " phone string, email string",
    )
    got = golden_record(
        nulls, ["user_id"], "ts", "event_id", ["phone"]
    ).collect()[0]
    assert got["phone"] == "late"  # NULL tiebreak sorts low, no raise


def test_cusum_points_semantics(spark):
    """The closed form (cumsum minus clamped running min) equals Page's
    recursion s_i = max(0, s_{i-1} + dev_i) replayed in pure Python;
    NULL values carry no evidence (excluded); same-ts ties order by the
    tiebreak."""
    import datetime as dt

    from shuttle_spark.operators.relational import cusum_points

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    vals = [55.0, 40.0, None, 70.0, 70.0, 30.0, 90.0, 90.0, 90.0]
    rows = [(1, t(i), i, v) for i, v in enumerate(vals)]
    # two same-ts rows to pin tie order
    rows.append((1, t(7), 100, 10.0))
    df = spark.createDataFrame(
        rows, "k long, ts timestamp, eid long, v double"
    )
    got = [
        (r["eid"], r["stat_cents"], r["is_alert"])
        for r in sorted(
            cusum_points(
                df, ["k"], "ts", "eid", "v",
                target_cents=5000, slack_cents=500, threshold_cents=3000,
            ).collect(),
            key=lambda r: (r["ts"], r["eid"]),
        )
    ]
    # pure-Python recursion over the same (ts, eid) order, NULLs dropped
    ordered = sorted(
        ((ts, eid, v) for _, ts, eid, v in rows if v is not None),
        key=lambda x: (x[0], x[1]),
    )
    s, want = 0, []
    for _, eid, v in ordered:
        dev = int(v * 100 + 0.5) - 5500
        s = max(0, s + dev)
        want.append((eid, s, s > 3000))
    assert got == want
    assert any(a for _, _, a in want) and not all(a for _, _, a in want)


def test_inverted_index_semantics(spark):
    """df counts distinct docs (not occurrences), total_tf counts
    occurrences, postings are the ascending id prefix, min_df trims,
    and max_df drops viral terms BEFORE posting collection."""
    from shuttle_spark.operators.pipeline import inverted_index

    docs = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "the the dog"),
            (3, "the cat ran"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["term"]: (r["doc_freq"], r["total_tf"], r["top_postings"])
        for r in inverted_index(docs, postings_cap=2).collect()
    }
    assert got["the"] == (3, 4, "1,2")      # df=3 docs, tf=4 occurrences
    assert got["cat"] == (2, 2, "1,3")
    assert got["dog"] == (1, 1, "2")

    # max_df=2 drops 'the' (df 3); min_df=2 drops the singletons
    got2 = {
        r["term"]
        for r in inverted_index(
            docs, postings_cap=2, min_df=2, max_df=2
        ).collect()
    }
    assert got2 == {"cat"}


def test_twap_semantics(spark):
    """Interval weighting: value held longer weighs more; the last
    observation per key carries no duration; single-observation keys
    emit no row (no interval ever elapsed); NULL values are dropped."""
    import datetime as dt

    from shuttle_spark.operators.relational import twap

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # key 1: 10.0 held 3 s, 40.0 held 1 s, 99.0 is last (no weight)
        (1, t(0), 1, 10.0),
        (1, t(3), 2, 40.0),
        (1, t(4), 3, 99.0),
        # key 2: single observation -> no output row
        (2, t(0), 4, 5.0),
        # key 3: NULL value dropped, so 7.0 spans to the 9.0 obs
        (3, t(0), 5, 7.0),
        (3, t(1), 6, None),
        (3, t(2), 7, 9.0),
    ]
    df = spark.createDataFrame(
        rows, "k long, ts timestamp, eid long, v double"
    )
    got = {
        r["k"]: (r["n_intervals"], r["dur_us_total"], r["twap_cents"])
        for r in twap(df, ["k"], "ts", "eid", "v").collect()
    }
    # key 1: (1000*3e6 + 4000*1e6) / 4e6 = 1750.0 cents
    assert got[1] == (2, 4_000_000, 1750.0)
    assert 2 not in got
    # key 3: 700 cents held the full 2 s
    assert got[3] == (1, 2_000_000, 700.0)


def test_equi_depth_histogram_semantics(spark):
    """Bin depths differ by at most 1 and sum to n; bins are ordered,
    value-disjoint up to shared boundaries; remainders spread evenly
    (NOT NTILE's front-loading); NULLs excluded."""
    from shuttle_spark.operators.relational import equi_depth_histogram

    rows = [(i, float(v)) for i, v in enumerate(
        [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11])] + [(99, None)]
    df = spark.createDataFrame(rows, "rid long, v double")
    out = sorted(
        equi_depth_histogram(df, "v", "rid", n_bins=4, buckets=4).collect(),
        key=lambda r: r["bin"],
    )
    assert [r["bin"] for r in out] == [0, 1, 2, 3]
    depths = [r["n_rows"] for r in out]
    assert sum(depths) == 11 and max(depths) - min(depths) <= 1
    # remainder spread differs from NTILE at e.g. n=10, B=4: the
    # (rn-1)*B DIV n formula alternates 3,2,3,2 while NTILE front-loads
    # 3,3,2,2 — pin ours
    out10 = sorted(
        equi_depth_histogram(
            df.filter(F.col("v") <= 10.0), "v", "rid", n_bins=4, buckets=4
        ).collect(),
        key=lambda r: r["bin"],
    )
    assert [r["n_rows"] for r in out10] == [3, 2, 3, 2]
    # ranges ordered and non-overlapping (strictly, since values unique)
    for a, b in zip(out, out[1:]):
        assert a["hi_cents"] <= b["lo_cents"]


def test_compact_changeset_semantics(spark):
    """Net-effect fold: I..D vanishes, D..I nets to U (existed before,
    exists after), values come from the last non-D row, D payload is
    NULL, and applying the compacted set == applying the raw ops
    sequentially (replayed in pure Python)."""
    from shuttle_spark.operators.lineage import compact_changeset

    ops = [
        # key 1: I then U then U -> net I with last values
        (1, 10, "I", 100), (1, 11, "U", 200), (1, 12, "U", 300),
        # key 2: U then D -> net D, NULL payload
        (2, 20, "U", 500), (2, 21, "D", None),
        # key 3: I then D -> vanishes
        (3, 30, "I", 700), (3, 31, "D", None),
        # key 4: D then I -> net U (delete + re-insert = update)
        (4, 40, "D", None), (4, 41, "I", 900),
        # key 5: D then I then D -> net D
        (5, 50, "D", None), (5, 51, "I", 111), (5, 52, "D", None),
    ]
    df = spark.createDataFrame(ops, "k long, seq long, op string, v long")
    got = {
        r["k"]: (r["op"], r["v"])
        for r in compact_changeset(df, ["k"], "seq", ["v"]).collect()
    }
    assert got == {
        1: ("I", 300),
        2: ("D", None),
        4: ("U", 900),
        5: ("D", None),
    }

    # equivalence: sequential replay of raw ops == applying the net set
    state_raw: dict[int, int] = {}
    for k, _, op, v in sorted(ops, key=lambda t: t[1]):
        if op == "D":
            state_raw.pop(k, None)
        else:
            state_raw[k] = v
    state_net: dict[int, int] = {2: 500, 4: -1, 5: -1}  # pre-existing keys
    for k, (op, v) in got.items():
        if op == "D":
            state_net.pop(k, None)
        else:
            state_net[k] = v
    assert state_raw == state_net


def test_fk_integrity_census_semantics(spark):
    """Orphan rows vs keys, NULL FKs counted separately, clean edge all
    zeros, duplicate child keys collapse before the join."""
    from shuttle_spark.operators.integrity import fk_integrity_census

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (9,), (9,), (9,), (None,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    (row,) = fk_integrity_census(
        [("edge", child, "fk", parent, "pk")]
    ).collect()
    assert (
        row["n_rows"], row["n_null_fk"],
        row["n_orphan_rows"], row["n_orphan_keys"],
    ) == (6, 1, 3, 1)


def test_bigram_lm_semantics(spark):
    """Pair counts over adjacent tokens only; lift is the exact
    floor-scaled P(w1 w2)/(P(w1)P(w2)); single-token and empty docs
    contribute no pairs; a pair occurring twice in one doc counts
    twice."""
    from shuttle_spark.operators.pipeline import bigram_lm_stats

    docs = spark.createDataFrame(
        [
            (1, "a b a b"),     # pairs: (a,b) x2, (b,a) x1
            (2, "a b c"),       # (a,b), (b,c)
            (3, "x"),           # no pairs
            (4, ""),            # no pairs
        ],
        "doc_id long, text string",
    )
    got = {
        (r["w1"], r["w2"]): (r["pair_n"], r["lift_micro"])
        for r in bigram_lm_stats(docs, top_k=10).collect()
    }
    # unigrams: a=3, b=3, c=1, x=1, ''=1 (empty doc tokenizes to [''])
    total = 9
    def lift(pn, n1, n2):
        return pn * total * 1_000_000 // (n1 * n2)
    assert got[("a", "b")] == (3, lift(3, 3, 3))
    assert got[("b", "a")] == (1, lift(1, 3, 3))
    assert got[("b", "c")] == (1, lift(1, 3, 1))
    assert ("x", "x") not in got and len(got) == 3


def test_interp_impute_semantics(spark):
    """NULLs fill on the exact straight line between brackets; leading/
    trailing NULLs stay NULL; observed rows pass through exactly; a
    zero-width bracket carries the previous value instead of 0/0."""
    rows = [
        # key a: obs 10.0 @t0, NULL @t0+10s, NULL @t0+30s, obs 14.0 @t0+40s
        ("a", "2024-01-01 00:00:00", 1, 10.0),
        ("a", "2024-01-01 00:00:10", 2, None),
        ("a", "2024-01-01 00:00:30", 3, None),
        ("a", "2024-01-01 00:00:40", 4, 14.0),
        # key b: leading NULL (no prev bracket), then one obs, trailing NULL
        ("b", "2024-01-01 00:00:00", 5, None),
        ("b", "2024-01-01 00:00:10", 6, 5.0),
        ("b", "2024-01-01 00:00:20", 7, None),
        # key c: zero-width bracket — same ts, NULL between two obs ties
        ("c", "2024-01-01 00:00:00", 8, 1.0),
        ("c", "2024-01-01 00:00:00", 9, None),
        ("c", "2024-01-01 00:00:00", 10, 3.0),
    ]
    df = spark.createDataFrame(
        rows, "k string, ts string, event_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["event_id"]: (r["value_cents"], r["is_interpolated"])
        for r in R.interp_impute(
            df, ["k"], "ts", "event_id", "value"
        ).collect()
    }
    assert out[1] == (1000.0, False)
    # t=10s on the (t0, 1000c) -> (t0+40s, 1400c) line: 1000 + 400*10/40
    assert out[2] == (1100.0, True)
    assert out[3] == (1300.0, True)
    assert out[4] == (1400.0, False)
    assert out[5] == (None, False)   # leading NULL: no bracket
    assert out[6] == (500.0, False)
    assert out[7] == (None, False)   # trailing NULL: no bracket
    assert out[9] == (100.0, True)   # zero-width: carries previous


def test_k_anonymity_census_semantics(spark):
    """Class sizes and diversity counted exactly; NULL QI groups as a
    value; NULL sensitive is not a diversity value; empty QI list
    raises."""
    import pytest

    from shuttle_spark.operators.pipeline import k_anonymity_census

    rows = [
        ("x", 1, "s1"), ("x", 1, "s1"), ("x", 1, "s2"),  # class (x,1): 3, l=2
        ("x", 2, "s1"),                                   # class (x,2): 1, l=1
        (None, 1, None), (None, 1, None),                 # class (∅,1): 2, l=0
    ]
    df = spark.createDataFrame(rows, "q1 string, q2 long, sens string")
    got = k_anonymity_census(
        df, ["q1", "q2"], k=3, sensitive_col="sens", l_threshold=2
    ).collect()[0].asDict()
    assert got == {
        "n_rows": 6, "n_classes": 3, "min_class_size": 1,
        "n_classes_below_k": 2, "n_rows_below_k": 3,
        "min_l": 0, "n_classes_below_l": 2, "n_rows_below_l": 3,
    }
    with pytest.raises(ValueError):
        k_anonymity_census(df, [])


def test_bpe_pair_merge_expr_parity(spark):
    """The JVM fold kernel (bpe_pair_merge_expr) must be bit-equal to
    the Python kernel (bpe_pair_merge) that the replay oracle uses —
    including the adversarial shapes: overlap runs (aaa with (a,a)
    merges the FIRST pair only), merged-symbol-equals-left, pair at the
    array tail, empty and singleton words, and a trailing unconsumed
    left candidate."""
    import random

    import pyspark.sql.functions as SF

    from shuttle_spark.operators.pipeline import (
        bpe_pair_merge,
        bpe_pair_merge_expr,
    )

    cases = [
        ([], "a", "b"), (["a"], "a", "b"), (["a", "b"], "a", "b"),
        (["a", "a", "a"], "a", "a"), (["a", "a", "a", "a"], "a", "a"),
        (["a", "b", "a", "b"], "a", "b"), (["a", "a", "b"], "a", "b"),
        (["b", "a"], "a", "b"), (["a", "b", "b"], "a", "b"),
        (["x", "a", "b", "y", "a", "b"], "a", "b"),
        (["aa", "a"], "a", "a"), (["a", "ab"], "a", "b"),
        (["ab", "c", "ab", "c"], "ab", "c"),
    ]
    rng = random.Random(7)
    for _ in range(60):
        syms = [rng.choice(["a", "b", "c", "ab"]) for _ in range(rng.randint(0, 9))]
        cases.append((syms, rng.choice(["a", "b", "ab"]), rng.choice(["a", "b", "c"])))
    from collections import defaultdict

    by_pair = defaultdict(list)
    for i, (syms, left, right) in enumerate(cases):
        by_pair[(left, right)].append(i)
    df = spark.createDataFrame(
        [(i, syms) for i, (syms, _, _) in enumerate(cases)],
        "i long, syms array<string>",
    )
    for (left, right), idxs in by_pair.items():
        got = {
            row["i"]: row["out"]
            for row in df.filter(SF.col("i").isin(idxs))
            .select("i", bpe_pair_merge_expr(SF.col("syms"), left, right).alias("out"))
            .collect()
        }
        for i in idxs:
            assert got[i] == bpe_pair_merge(list(cases[i][0]), left, right), cases[i]


def test_bpe_train_semantics(spark):
    """The classic Sennrich worked example: merge ranks follow exact
    weighted pair counts with the (count DESC, left, right) tie-break;
    greedy left-to-right application; counts weighted by word frequency."""
    from shuttle_spark.operators.pipeline import bpe_pair_merge, bpe_train

    docs = spark.createDataFrame(
        [(1, "low low low low low lower lower"),
         (2, "newest newest newest newest newest newest"),
         (3, "widest widest widest")],
        "doc_id long, text string",
    )
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train(docs, n_merges=6).orderBy("rank").collect()
    ]
    assert got == [
        (0, "e", "s", "es", 9),     # newest x6 + widest x3
        (1, "es", "t", "est", 9),
        (2, "l", "o", "lo", 7),     # low x5 + lower x2
        (3, "lo", "w", "low", 7),
        (4, "e", "w", "ew", 6),     # newest x6
        (5, "ew", "est", "ewest", 6),
    ]
    # greedy left-to-right: overlapping pair collapses once per position
    assert bpe_pair_merge(["a", "a", "a"], "a", "a") == ["aa", "a"]


def test_bpe_train_early_stop(spark):
    """Training stops when the best pair count drops below
    min_pair_count — the table is shorter than n_merges."""
    from shuttle_spark.operators.pipeline import bpe_train

    docs = spark.createDataFrame(
        [(1, "ab cd")], "doc_id long, text string"
    )
    got = bpe_train(docs, n_merges=5, min_pair_count=2).collect()
    assert got == []  # every pair occurs once


def test_bpe_encode_word_cascade(spark):
    """Merges apply in rank order and cascade ('er'+'s' exists only
    because 'e'+'r' ran first); untouched words pass through."""
    from shuttle_spark.operators.pipeline import bpe_encode_word

    merges = [("e", "r"), ("er", "s")]
    assert bpe_encode_word(list("powers"), merges) == [
        "p", "o", "w", "ers"
    ]
    assert bpe_encode_word(list("abc"), merges) == ["a", "b", "c"]


def test_bpe_subtoken_stats_semantics(spark):
    """Exact frequency-weighted counts over the distinct-word relation."""
    from shuttle_spark.operators.pipeline import bpe_subtoken_stats

    docs = spark.createDataFrame(
        [(1, "er er abc")], "doc_id long, text string"
    )
    row = bpe_subtoken_stats(docs, [("e", "r")]).collect()[0]
    # 'er' x2 encodes to ['er'] (1 symbol), 'abc' to 3 symbols
    assert tuple(row) == (3, 2, 2 * 1 + 3, 4)  # er, a, b, c


def test_bpe_subtoken_stats_no_collect_list(spark):
    """VERDICT r10 item 1a: the census plan must hold NO collect_list
    (the old vocab_subtokens formulation concentrated every encoded
    symbol array in one aggregation buffer); the used-symbol count now
    rides Catalyst's two-phase distinct Expand, every buffer bounded."""
    from shuttle_spark.operators.pipeline import bpe_subtoken_stats

    docs = spark.createDataFrame(
        [(1, "er er abc")], "doc_id long, text string"
    )
    plan = bpe_subtoken_stats(docs, [("e", "r")])._jdf.queryExecution(
    ).executedPlan().toString()
    assert "collect_list" not in plan
    # the distinct aggregate is planned two-phase: a partial aggregate
    # KEYED on the symbol, a hash exchange on the symbol, then
    # partial_count(distinct s) — every buffer holds per-task symbol
    # groups, never the corpus's array-of-arrays
    assert "partial_count(distinct" in plan


def test_bpe_train_driver_fast_path_parity(spark):
    """VERDICT r10 item 1b: the size-guarded driver fast path
    (_bpe_train_vocab — heap argmax + incremental pair counts) must be
    BIT-EQUAL to the distributed rounds, including tie-breaks and the
    min_pair_count early stop; a bound smaller than the vocab must fall
    back to the distributed loop (same table either way)."""
    from shuttle_spark.operators.pipeline import bpe_train

    docs = spark.createDataFrame(
        [(1, "low low low low low lower lower"),
         (2, "newest newest newest newest newest newest"),
         (3, "widest widest widest wide wide")],
        "doc_id long, text string",
    )
    dist = [tuple(r) for r in bpe_train(docs, n_merges=8)
            .orderBy("rank").collect()]
    fast = [tuple(r) for r in
            bpe_train(docs, n_merges=8, driver_fast_max_words=1000)
            .orderBy("rank").collect()]
    small_bound = [tuple(r) for r in
                   bpe_train(docs, n_merges=8, driver_fast_max_words=2)
                   .orderBy("rank").collect()]
    assert dist == fast == small_bound
    assert len(dist) == 8


def test_bpe_train_vocab_reappearing_pair():
    """The incremental trainer must keep a merged pair's bookkeeping
    alive: a LATER merge can recreate the pair's adjacency (merging
    ('a','b')->'ab' puts 'ab' before 'c' again after ('ab','c') was
    already merged at an earlier rank in another word), and the recount
    semantics of the distributed loop would pick it a second time."""
    from shuttle_spark.operators.pipeline import (
        _bpe_train_vocab,
        bpe_pair_merge,
    )

    def replay(vocab, n_merges, min_pair_count):
        out = []
        for rank in range(n_merges):
            counts: dict = {}
            for syms, n in vocab:
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    counts[p] = counts.get(p, 0) + n
            if not counts:
                break
            (left, right), c = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            if c < min_pair_count:
                break
            out.append((rank, left, right, left + right, c))
            for entry in vocab:
                if left in entry[0] and right in entry[0]:
                    entry[0] = bpe_pair_merge(entry[0], left, right)
        return out

    # rank 0: ('ab','c') x20 merges (pre-seeded 'ab' symbol); rank 1:
    # ('a','b') x8 wins its lex tie with ('b','c') and rewrites the
    # second word to ['ab','c']; rank 2: ('ab','c') REAPPEARS at count 8
    # and must be merged a second time
    vocab1 = [
        [["ab", "c"], 20],
        [["a", "b", "c"], 8],
    ]
    import copy

    got = _bpe_train_vocab(copy.deepcopy(vocab1), 5, 1)
    exp = replay(copy.deepcopy(vocab1), 5, 1)
    assert got == exp
    # the pair ('ab','c') must appear at two ranks
    assert [m[1:3] for m in exp].count(("ab", "c")) == 2
