"""Property-based tests (hypothesis): engine operators vs pure-Python
reference implementations on adversarial small inputs.

The reference's test strategy is golden-constant E2E checks (SURVEY §5);
property tests go further — they search the input space for semantic edges
(ties, empties, single groups, all-duplicates) that fixed fixtures miss.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from shuttle_spark.operators import dedup as D
from shuttle_spark.operators import neardup as N
from shuttle_spark.operators import relational as R

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 5),  # key
        st.integers(0, 10),  # ts
        st.integers(0, 1000),  # payload/id source
    ),
    min_size=1,
    max_size=40,
)


@given(rows=rows_strategy)
@SLOW
def test_keep_latest_matches_reference(spark, rows):
    data = [(k, t, i) for i, (k, t, _) in enumerate(rows)]
    df = spark.createDataFrame(data, "k int, ts int, uid int")
    got = {
        (r.k, r.ts, r.uid)
        for r in D.keep_latest(df, ["k"], [F.desc("ts"), F.desc("uid")]).collect()
    }
    want = {}
    for k, t, uid in data:
        if k not in want or (t, uid) > (want[k][1], want[k][2]):
            want[k] = (k, t, uid)
    assert got == set(want.values())


@pytest.mark.slow
@given(rows=rows_strategy)
@SLOW
def test_salted_agg_matches_plain(spark, rows):
    df = spark.createDataFrame(rows, "k int, ts int, v int")
    salted = {
        (r.k, r.cnt, r.total, r.mx)
        for r in R.salted_aggregate(
            df,
            ["k"],
            {"cnt": ("v", "count"), "total": ("v", "sum"), "mx": ("v", "max")},
            salt_buckets=4,
        ).collect()
    }
    plain = {
        (r.k, r.cnt, r.total, r.mx)
        for r in df.groupBy("k")
        .agg(
            F.count("v").alias("cnt"),
            F.sum("v").alias("total"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert salted == plain


texts_strategy = st.lists(
    st.text(
        alphabet=st.sampled_from("ab c"),  # tiny alphabet -> many collisions
        min_size=0,
        max_size=30,
    ),
    min_size=2,
    max_size=12,
)


def _py_ngrams(text: str, n: int = 2) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@pytest.mark.slow
@given(texts=texts_strategy)
@SLOW
def test_exact_jaccard_pairs_match_reference(spark, texts):
    data = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jac
        for r in N.near_dup_pairs_exact(df, tau=0.3, n=2).collect()
    }
    want = {}
    for i, ta in data:
        for j, tb in data:
            if i >= j:
                continue
            ga, gb = _py_ngrams(ta), _py_ngrams(tb)
            if not ga or not gb:
                continue
            jac = len(ga & gb) / len(ga | gb)
            if jac >= 0.3:
                want[(i, j)] = round(jac, 6)
    assert got == want


@pytest.mark.slow
@given(
    left=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 20)), min_size=1, max_size=15),
    right=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 20)), min_size=1, max_size=15),
)
@SLOW
def test_as_of_join_matches_reference(spark, left, right):
    # unique event ids keep ordering total; right side deduped on (k, ts) —
    # with duplicate right timestamps the winning payload is tie-ambiguous
    # by design (the reference's attemptId tiebreak exists for the same
    # reason), so the property is stated on unique-ts inputs.
    l_rows = [(k, t, i) for i, (k, t) in enumerate(left)]
    r_uniq = {(k, t): 100 + i for i, (k, t) in enumerate(right)}
    r_rows = [(k, t, v) for (k, t), v in r_uniq.items()]
    ldf = spark.createDataFrame(l_rows, "k int, ts int, lid int")
    rdf = spark.createDataFrame(r_rows, "k int, ts int, val int")
    out = R.as_of_join(ldf, rdf, ["k"], "ts", "ts", ["val"])
    got = {(r.lid): r.val_asof for r in out.collect()}
    for k, t, lid in l_rows:
        cands = [(rt, v) for (rk, rt, v) in r_rows if rk == k and rt <= t]
        # engine tiebreak: the right row latest in (ts, insertion) order wins
        want = max(cands)[1] if cands else None
        assert got[lid] == want, (lid, k, t, cands)


edges_strategy = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)),
    min_size=1,
    max_size=60,
)


@pytest.mark.slow
@given(edges=edges_strategy)
@SLOW
def test_connected_components_match_union_find(spark, edges):
    """large-star/small-star fixpoint == a reference union-find on random
    graphs (self-loops and duplicate/reversed edges included on purpose)."""
    from shuttle_spark.operators import components as CC

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {
        (r.node, r.comp)
        for r in CC.connected_components(pairs, max_iter=40).collect()
    }

    # reference union-find with path compression
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for a, b in edges:
        if a != b:
            nodes |= {a, b}
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in nodes}
    assert got == want


vals_strategy = st.lists(
    st.tuples(st.integers(0, 50), st.integers(0, 10_000)),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[1],  # unique uid -> total order well-defined
)


@pytest.mark.slow
@given(rows=vals_strategy)
@SLOW
def test_global_rank_matches_sorted_reference(spark, rows):
    """Range-bucket distributed rank == rank in a plain Python sort, for
    arbitrary (skewed, duplicate-heavy) value distributions."""
    df = spark.createDataFrame(rows, "v int, uid int")
    out = {
        r.uid: r.rn
        for r in R.global_rank(
            df, "v", [F.col("v"), F.col("uid")], buckets=5
        ).collect()
    }
    want = {
        uid: i + 1
        for i, (v, uid) in enumerate(sorted(rows, key=lambda t: (t[0], t[1])))
    }
    assert out == want


@pytest.mark.slow
@given(rows=vals_strategy)
@SLOW
def test_global_pctrank_matches_reference(spark, rows):
    df = spark.createDataFrame(rows, "v int, uid int")
    out = {
        r.uid: r.pct_rank
        for r in R.global_percent_rank(
            df, "v", [F.col("v"), F.col("uid")], buckets=5
        ).collect()
    }
    n = len(rows)
    want = {
        uid: (i / (n - 1) if n > 1 else 0.0)
        for i, (v, uid) in enumerate(sorted(rows, key=lambda t: (t[0], t[1])))
    }
    for uid, pct in want.items():
        assert abs(out[uid] - pct) < 1e-12


@given(
    words=st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=40),
    size=st.integers(1, 8),
    stride=st.integers(1, 8),
)
@SLOW
def test_token_chunks_match_reference(spark, words, size, stride):
    """JVM chunking expression == the obvious Python windowing."""
    from shuttle_spark.functions import text as TX

    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(TX.token_chunks(F.col("text"), size, stride).alias("c")).collect()[0].c
    toks = text.split(" ") if text else [""]
    want = [
        " ".join(toks[s : s + size]) for s in range(0, len(toks), stride)
    ]
    assert got == want


# ---------------------------------------------------------------------------
# Round-3 pipeline operators vs pure-Python references
# ---------------------------------------------------------------------------

words_strategy = st.lists(
    st.lists(st.sampled_from(list("abcd")), min_size=0, max_size=12).map(
        lambda ws: " ".join(ws)
    ),
    min_size=1,
    max_size=12,
)


def _pygrams(text: str, n: int) -> set[str]:
    toks = [w for w in text.lower().split() if w]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@pytest.mark.slow
@given(corpus=words_strategy, bench=words_strategy)
@SLOW
def test_decontaminate_matches_bruteforce(spark, corpus, bench):
    from shuttle_spark.operators import pipeline as P

    n = 2
    cdf = spark.createDataFrame(
        [(i, t, "en", "s") for i, t in enumerate(corpus)],
        "doc_id bigint, text string, lang string, source string",
    )
    bdf = spark.createDataFrame(
        [(1000 + i, t, "en", "s") for i, t in enumerate(bench)],
        "doc_id bigint, text string, lang string, source string",
    )
    got = {r.doc_id for r in P.contaminated_ids(cdf, bdf, n=n).collect()}
    bench_grams = set().union(*(_pygrams(t, n) for t in bench)) if bench else set()
    want = {
        i for i, t in enumerate(corpus) if _pygrams(t, n) & bench_grams
    }
    assert got == want


@given(texts=words_strategy)
@SLOW
def test_repetition_matches_bruteforce(spark, texts):
    from shuttle_spark.operators import pipeline as P

    n = 2
    df = spark.createDataFrame(
        [(i, t, "en", "s") for i, t in enumerate(texts)],
        "doc_id bigint, text string, lang string, source string",
    )
    got = {
        r.doc_id: r.repetition
        for r in P.repetition_scores(df, n=n, keep=("doc_id",)).collect()
    }
    for i, t in enumerate(texts):
        toks = [w for w in t.lower().split() if w]
        grams = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
        want = round(1 - len(set(grams)) / len(grams), 6) if grams else 0.0
        assert abs(got[i] - want) < 1e-9, (i, t, got[i], want)


@pytest.mark.slow
@given(
    tokens=st.lists(st.integers(1, 10_000), min_size=1, max_size=8),
    target=st.integers(1, 50_000),
)
@SLOW
def test_mixture_weights_matches_reference(spark, tokens, target):
    from shuttle_spark.operators import pipeline as P

    # one doc per source whose text has exactly `tokens[i]` tokens
    df = spark.createDataFrame(
        [(i, " ".join(["w"] * tk), "en", f"s{i}") for i, tk in enumerate(tokens)],
        "doc_id bigint, text string, lang string, source string",
    )
    got = {
        r.source: (r.tokens, r.weight, r.expected_tokens)
        for r in P.mixture_weights(df, target_tokens=target).collect()
    }
    share = target / len(tokens)
    for i, tk in enumerate(tokens):
        # reference must round HALF-UP like Spark/DuckDB ROUND — Python's
        # round() is banker's and disagrees at exact ties (hypothesis
        # found share/tk = 0.0078125 -> 0.007812 vs the engines' 0.007813)
        w = math.floor(min(1.0, share / tk) * 1e6 + 0.5) / 1e6
        exp = int(w * tk + 0.5)
        gt, gw, ge = got[f"s{i}"]
        assert gt == tk
        assert abs(gw - w) < 1e-9
        assert ge == exp


@pytest.mark.slow
@given(
    strings=st.lists(
        st.text(alphabet="abcx yz", min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    ),
    tau=st.sampled_from([0.2, 0.5, 0.8]),
)
@SLOW
def test_fuzzy_string_join_matches_bruteforce(spark, strings, tau):
    from shuttle_spark.operators import neardup as N

    def grams(s):
        return {s[i : i + 3] for i in range(len(s) - 2)} if len(s) >= 3 else set()

    left = [(i, s) for i, s in enumerate(strings)]
    right = [(100 + i, s[::-1]) for i, s in enumerate(strings)]
    want = set()
    for lid, ls in left:
        for rid, rs in right:
            a, b = grams(ls), grams(rs)
            if not a or not b:
                continue
            inter = len(a & b)
            if inter and inter / (len(a) + len(b) - inter) >= tau:
                want.add((lid, rid))
    ldf = spark.createDataFrame(left, "lid long, ls string")
    rdf = spark.createDataFrame(right, "rid long, rs string")
    got = {
        (r.lid, r.rid)
        for r in N.fuzzy_string_join(ldf, rdf, tau=tau).collect()
    }
    assert got == want


@pytest.mark.slow
@given(
    edges=st.sets(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(
            lambda t: t[0] != t[1]
        ),
        min_size=0,
        max_size=50,
    )
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_triangle_count_matches_reference(spark, edges):
    """Degree-oriented triangle count equals the brute-force common-
    neighbor count on arbitrary small graphs (incl. the empty graph,
    hubs, and degree ties — the orientation's tie-break territory)."""
    from shuttle_spark.operators import components as CC

    canon = {(max(a, b), min(a, b)) for a, b in edges}
    if canon:
        pairs = spark.createDataFrame(
            [(a, b) for a, b in canon], "id_a long, id_b long"
        )
    else:
        pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = CC.triangle_count(pairs).collect()[0][0]
    adj: dict[int, set] = {}
    for a, b in canon:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    ref = sum(len(adj[a] & adj[b]) for a, b in canon) // 3
    assert got == ref


edges_strategy = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=1,
    max_size=60,
)


@pytest.mark.slow
@given(edges=edges_strategy, k=st.integers(1, 5))
@SLOW
def test_kcore_matches_sequential_peel(spark, edges, k):
    """The distributed round-synchronous peel must equal the sequential
    reference peel on arbitrary small graphs (the k-core is a unique
    greatest fixed point, so ANY removal order converges to it) —
    including graphs with self-loops, duplicate and reversed edges,
    which canonicalization must collapse first."""
    from shuttle_spark.operators import components as CC

    e = spark.createDataFrame(edges, "id_a long, id_b long")
    got = sorted(r["node"] for r in CC.kcore(e, k).collect())
    adj: dict[int, set] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in [n for n, s in adj.items() if len(s) < k]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    assert got == sorted(adj)


snapshot_strategy = st.lists(
    st.tuples(st.integers(0, 12), st.one_of(st.none(), st.integers(0, 5))),
    max_size=25,
)


@pytest.mark.slow
@given(old_rows=snapshot_strategy, new_rows=snapshot_strategy)
@SLOW
def test_changeset_roundtrip_property(spark, old_rows, new_rows):
    """apply(diff(old, new)) == new for ARBITRARY keyed snapshots —
    including empty sides, all-delete, all-insert, and NULL values."""
    from shuttle_spark.operators import lineage as L

    dedup_old = {k: v for k, v in old_rows}
    dedup_new = {k: v for k, v in new_rows}
    old = spark.createDataFrame(
        list(dedup_old.items()) or [(None, None)], "k long, v long"
    ).filter(F.col("k").isNotNull())
    new = spark.createDataFrame(
        list(dedup_new.items()) or [(None, None)], "k long, v long"
    ).filter(F.col("k").isNotNull())
    applied = L.apply_changeset(
        old, L.snapshot_diff(old, new, ["k"], ["v"]), ["k"]
    )
    assert sorted(map(tuple, applied.collect())) == sorted(
        map(tuple, new.collect())
    )


@pytest.mark.slow
@given(old_rows=snapshot_strategy, new_rows=snapshot_strategy)
@SLOW
def test_incremental_totals_equal_recompute_property(spark, old_rows, new_rows):
    """Incremental MV maintenance == direct recompute for ARBITRARY
    keyed snapshots: groups are the (nullable) value modulo 3, so random
    edits constantly move rows between groups and create/destroy
    groups."""
    from shuttle_spark.operators import lineage as L

    def mk(rows):
        dedup = {k: v for k, v in rows}
        df = spark.createDataFrame(
            list(dedup.items()) or [(None, None)], "k long, raw long"
        ).filter(F.col("k").isNotNull())
        return df.select(
            "k",
            (F.col("raw") % 3).cast("string").alias("g"),
            F.coalesce(F.col("raw").cast("double"), F.lit(0.0)).alias("v"),
        )

    old, new = mk(old_rows), mk(new_rows)
    base = old.groupBy("g").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("v") * 100).cast("long")).alias("sum_cents"),
    )
    ch = L.snapshot_diff(old, new, ["k"], ["g", "v"], include_old=True)
    canon = lambda df: sorted(map(repr, map(tuple, df.collect())))  # noqa: E731
    got = canon(L.incremental_group_totals(base, ch, "g", "v"))
    direct = canon(
        new.groupBy("g").agg(
            F.count("*").alias("n_rows"),
            F.sum(F.round(F.col("v") * 100).cast("long")).alias("sum_cents"),
        )
    )
    assert got == direct


@pytest.mark.slow
@given(edges=edges_strategy, rounds=st.integers(1, 4))
@SLOW
def test_label_propagation_matches_synchronous_replay(spark, edges, rounds):
    """The distributed LPA rounds must equal a driver-side synchronous
    replay on arbitrary small graphs — same min-label tie-break, same
    fixed round count — including graphs with self-loops, duplicate and
    reversed edges, which canonicalization must collapse first."""
    from shuttle_spark.operators import components as CC

    e = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r["node"], r["label"])
        for r in CC.label_propagation(e, n_rounds=rounds).collect()
    }
    adj: dict[int, set] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        labels = {
            n: max(
                ((lab, sum(1 for m in nbrs if labels[m] == lab))
                 for lab in {labels[m] for m in nbrs}),
                key=lambda kv: (kv[1], -kv[0]),
            )[0]
            for n, nbrs in adj.items()
        }
    assert got == set(labels.items())


def test_union_weight_census_equals_exceptall_counts(spark):
    """Round 13: ivf_upsert_equal's verification was rewritten from a
    tagged exceptAll union (which evaluated each side's plan up to 3x) to
    a union-weight census that evaluates each side once.  This pins the
    arithmetic equivalence on adversarial multisets: sum(|cm - cr|) over
    (vec_id, cell) keys must equal |m exceptAll r| + |r exceptAll m|, and
    sum(cm) must equal |m| — including duplicate rows, count-only
    differences, disjoint sets and empty sides."""
    cases = [
        ([(1, 0), (2, 1), (2, 1), (3, 2)], [(1, 0), (2, 1), (2, 1), (3, 2)]),
        ([(1, 0), (2, 1), (2, 1)], [(1, 0), (2, 1)]),  # count diff only
        ([(1, 0)], [(2, 5)]),  # disjoint
        ([], [(1, 0)]),  # left empty
        ([(1, 0), (1, 0)], []),  # right empty
        ([(1, 0), (2, 1), (3, 4)], [(1, 0), (2, 2), (3, 4)]),  # cell moved
    ]
    for m_rows, r_rows in cases:
        mk = lambda rows: spark.createDataFrame(  # noqa: E731
            rows or [(None, None)], "vec_id long, cell int"
        ).filter(F.col("vec_id").isNotNull())
        m, r = mk(m_rows), mk(r_rows)
        row = (
            m.withColumn("w", F.lit(1))
            .unionByName(r.withColumn("w", F.lit(-1)))
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
        mismatch, n_m = row["mismatch"] or 0, row["n_m"] or 0
        assert mismatch == m.exceptAll(r).count() + r.exceptAll(m).count(), (
            m_rows, r_rows)
        assert n_m == m.count(), (m_rows, r_rows)
