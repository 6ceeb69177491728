"""End-to-end training-data pipeline: the composition the engine exists for.

documents -> exact dedup (normalized-hash) -> near-dup dedup (MinHash-LSH
verified) -> quality floor -> text features (lang, tokens, fingerprint) ->
partitioned parquet, with a stage-checksum audit — i.e., the north-star LLM
data pipeline, run as one lazy DataFrame composition (no intermediate
materialization; Catalyst fuses the narrow stages)."""

from __future__ import annotations

from pyspark.sql import functions as F

from shuttle_spark import sources as IO
from shuttle_spark.catalog import load_table
from shuttle_spark.functions import text as TX
from shuttle_spark.operators import dedup as D
from shuttle_spark.operators import integrity as I
from shuttle_spark.operators import neardup as N

SF = "/root/testdata/sf0.001"


def test_document_pipeline_end_to_end(spark, tmp_path):
    docs = load_table(spark, SF, "documents")
    n0 = docs.count()

    # 1. exact dedup on normalized content hash
    stage1 = D.exact_text_dedup(docs)
    n1 = stage1.count()
    assert n1 <= n0

    # 2. near-dup dedup, MinHash-LSH candidates + exact Jaccard verify
    pairs = N.minhash_near_dup_pairs(stage1, tau=0.6)
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    stage2 = stage1.join(losers, "doc_id", "left_anti")
    n2 = stage2.count()
    assert n2 < n1  # the corpus contains known near-dups

    # 3. quality floor + feature columns
    featured = (
        stage2.withColumn("quality", TX.quality_score(F.col("text")))
        .withColumn("lid", TX.lang_id(F.col("text")))
        .withColumn("n_tokens", TX.token_count(F.col("text")))
        .withColumn("fp", TX.fingerprint64(F.col("text")))
        .filter(F.col("quality") >= 0.3)
    )
    n3 = featured.count()
    assert 0 < n3 <= n2

    # fingerprints must be unique post-dedup (exact dedup removed hash dups)
    assert featured.select("fp").distinct().count() == n3

    # 4. integrity checksum audit across the write boundary
    chk = I.checksum(featured, F.col("fp")).collect()[0][0]

    out = str(tmp_path / "clean_docs")
    IO.write_partitioned(featured, out, ["lid"])
    back = IO.read(spark, out, "parquet")
    assert back.count() == n3
    assert I.verify(back, F.col("fp"), chk) == chk  # nothing lost or mutated

    # partition pruning works on the output layout
    en = back.filter(F.col("lid") == "en")
    txt = en._sc._jvm.PythonSQLUtils.explainString(
        en._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in txt


def test_pipeline_is_lazy_single_plan(spark):
    """The composed pipeline (before actions) is ONE plan: narrow stages
    fuse; only the near-dup band join and dedups exchange."""
    docs = load_table(spark, SF, "documents")
    stage1 = D.exact_text_dedup(docs)
    featured = stage1.withColumn("quality", TX.quality_score(F.col("text"))).filter(
        F.col("quality") >= 0.3
    )
    plan = featured._jdf.queryExecution().executedPlan().toString()
    # exactly the dedup's one exchange; quality stage fused into scan side
    assert plan.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# operators/pipeline.py unit semantics (decontaminate / repetition / cleanse)
# ---------------------------------------------------------------------------

def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    )


def test_decontaminate_semantics(spark):
    from shuttle_spark.operators import pipeline as P

    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon zeta", "en", "b")])
    corpus = _docs(
        spark,
        [
            # shares the full benchmark 5-gram run -> contaminated
            (1, "x alpha beta gamma delta epsilon y", "en", "c"),
            # shares only 4-gram overlap -> clean at n=5
            (2, "alpha beta gamma delta zonk", "en", "c"),
            # disjoint -> clean
            (3, "one two three four five six", "en", "c"),
            # too short for any 5-gram -> clean
            (4, "tiny doc", "en", "c"),
        ],
    )
    bad = {r.doc_id for r in P.contaminated_ids(corpus, bench, n=5).collect()}
    assert bad == {1}
    clean = {r.doc_id for r in P.decontaminate(corpus, bench, n=5).collect()}
    assert clean == {2, 3, 4}


def test_repetition_score_bounds(spark):
    from shuttle_spark.operators import pipeline as P

    df = _docs(
        spark,
        [
            (1, "a b c d e a b c d e a b c d e", "en", "s"),  # repeated 5-grams
            (2, "q w e r t y u i o p", "en", "s"),            # all distinct
            (3, "short", "en", "s"),                           # < n tokens -> 0
        ],
    ).select("doc_id", P.repetition_score(F.col("text"), n=5).alias("r"))
    got = {r.doc_id: r.r for r in df.collect()}
    assert got[3] == 0.0
    assert got[2] == 0.0
    assert 0.0 < got[1] < 1.0
    # doc 1: 11 gram positions, 5 distinct cyclic grams -> 1 - 5/11
    assert abs(got[1] - round(1 - 5 / 11, 6)) < 1e-9


def test_repetition_score_null_text_is_zero(spark):
    # NULL text => NULL gram array; the score must still be 0, not NULL
    # (ADVICE r3: the when-condition over size(NULL) was NULL-propagating).
    from shuttle_spark.operators import pipeline as P

    df = spark.createDataFrame(
        [(1, None), (2, "a b c d e f")], "doc_id long, text string"
    ).select("doc_id", P.repetition_score(F.col("text"), n=5).alias("r"))
    got = {r.doc_id: r.r for r in df.collect()}
    assert got[1] == 0.0
    assert got[2] == 0.0


def test_cleanse_filters_and_dedups(spark):
    from shuttle_spark.operators import pipeline as P

    base = "word " * 30  # 30 tokens, passes length gate
    df = _docs(
        spark,
        [
            (1, base + "one", "en", "s"),
            (2, base + "one", "en", "s"),      # exact dup of 1 -> one survives
            (3, base + "two", "fr", "s"),      # wrong lang
            (4, "too short", "en", "s"),       # length gate
            (5, base + "three", "en", "s"),
        ],
    )
    out = P.cleanse(df, lang="en", min_tokens=20, max_tokens=1000, min_quality=0.0)
    ids = sorted(r.doc_id for r in out.collect())
    assert len(ids) == 2  # one of {1,2} plus 5
    assert 5 in ids and (1 in ids or 2 in ids)
    assert "content_hash" in out.columns


def test_duplicated_span_census_semantics(spark):
    """Cross-doc semantics: a 5-gram shared by two docs marks its
    positions duplicated in BOTH; a gram repeated only WITHIN one doc
    does not count (that is repeated_span_docs' intra-doc signal); docs
    under 5 tokens are absent; position counts are per-occurrence."""
    from shuttle_spark.operators import pipeline as P

    shared = "alpha beta gamma delta epsilon"
    rows = [
        (1, shared + " one two"),            # grams: 3; 1 duplicated
        (2, "x " + shared),                  # grams: 2; 1 duplicated
        (3, "p q r s t p q r s t p q r s t"),  # intra-doc repeats only
        (4, "too few words"),                # < 5 tokens -> absent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_fraction"])
        for r in P.duplicated_span_census(df, n=5).collect()
    }
    assert got == {
        1: (3, 1, round(1 / 3, 6)),
        2: (2, 1, 0.5),
        3: (11, 0, 0.0),
    }


def test_pii_gate_soundness_prover():
    """ADVICE r10: _gate_is_sound proves (from the parsed pattern) that
    every match contains a gate char — so an edit that invalidates the
    hand-maintained gate table fails at import, not by silently skipping
    real PII.  Positive: the shipped table passes.  Negative: the exact
    drift the advice named (phone separator class gaining a space) is
    caught, as are gates the pattern merely permits but doesn't force."""
    from shuttle_spark.operators.pipeline import (
        _PII_GATE_CHARS,
        PII_PATTERNS,
        _gate_is_sound,
    )

    for name, pat, _ in PII_PATTERNS:
        assert _gate_is_sound(pat, _PII_GATE_CHARS[name]), name
    # the advice's scenario: a space joins the separator class and the
    # old ('-', '.') gates become unsound
    drifted = r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b"
    assert not _gate_is_sound(drifted, ("-", "."))
    assert _gate_is_sound(drifted, ("-", ".", " "))
    # optional occurrence is NOT an implied literal
    assert not _gate_is_sound(r"[0-9]+-?[0-9]+", ("-",))
    # but a min>=1 repeat of a gate-only class is
    assert _gate_is_sound(r"[0-9]+[-.]{1,2}[0-9]+", ("-", "."))
    # alternation: every branch must force a gate
    assert _gate_is_sound(r"(a@b|c@d)", ("@",))
    assert not _gate_is_sound(r"(a@b|cd)", ("@",))


def test_scrub_pii_redacts_and_flags(spark):
    from shuttle_spark.operators import pipeline as P

    df = spark.createDataFrame(
        [
            (1, "reach me at jo.doe+x@mail.example.org thanks"),
            (2, "server at 192.168.001.42 rebooted"),
            (3, "call 555-010-1234 now"),
            (4, "nothing sensitive here 1234"),
            (5, "both a@b.io and 10.0.0.1 and 555-123-4567"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in P.scrub_pii(df).collect()}
    assert out[1].email_found and out[1].text == "reach me at [EMAIL] thanks"
    assert out[2].ip_found and out[2].text == "server at [IP] rebooted"
    assert out[3].phone_found and out[3].text == "call [PHONE] now"
    assert not (
        out[4].email_found or out[4].ip_found or out[4].phone_found
    )
    assert out[4].text == "nothing sensitive here 1234"
    assert out[5].text == "both [EMAIL] and [IP] and [PHONE]"


def test_scrub_pii_arrow_equals_jvm_on_boundary_cases(spark):
    """The Arrow default and the JVM expression twin implement the SAME
    sequential-replace semantics — pinned on the adversarial shapes where
    single-pass shortcuts diverge: an IP that only gains a word boundary
    once the adjacent email is redacted, an IP hiding INSIDE an email's
    local part (flagged on the original text but consumed by the email
    replace), NULL text, and the literal replacement token appearing in
    the input."""
    from shuttle_spark.operators import pipeline as P

    df = spark.createDataFrame(
        [
            # email replace exposes "]5.6.7.8" -> \b appears -> IP caught
            (1, "ping x@y.com5.6.7.8 now"),
            # ip-in-email: ip_found=True on ORIGINAL, but the email
            # replace consumes it -> no [IP] in output
            (2, "mail x.1.2.3.4@y.com please"),
            (3, None),
            (4, "already has [EMAIL] literal and 10.1.2.3"),
            (5, "x@y.io then 555-010-9999 then 8.8.8.8"),
        ],
        "doc_id long, text string",
    )
    a = {r.doc_id: r.asDict() for r in P.scrub_pii(df).collect()}
    j = {r.doc_id: r.asDict() for r in P.scrub_pii_jvm(df).collect()}
    assert a == j
    assert a[1]["text"] == "ping [EMAIL][IP] now"
    assert a[1]["ip_found"] is False  # no boundary in the ORIGINAL text
    assert a[2]["ip_found"] is True and "[IP]" not in a[2]["text"]
    assert a[3]["text"] is None and a[3]["email_found"] is None
    assert a[4]["text"] == "already has [EMAIL] literal and [IP]"


def test_quantize_int8_bounds_and_roundtrip(spark):
    import numpy as np

    from shuttle_spark.operators import similarity as S

    vecs = [
        (1, [1.0, -0.5, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector -> all-zero qvec
        (3, [-2.0, 2.0, 1.0, -1.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {r.vec_id: r for r in S.quantize_int8(df).collect()}
    # max|x| quantizes to +/-127; half-ties round toward +inf (floor(x+0.5),
    # the engine-identical discipline: -63.5 -> -63)
    assert got[1].qvec == [127, -63, 32, 0]
    assert got[2].qvec == [0, 0, 0, 0]
    assert got[3].qvec == [-127, 127, 64, -63]
    for vid, orig in vecs:
        q, s = got[vid].qvec, got[vid].q_scale
        err = np.abs(np.array(orig) - np.array(q, dtype=float) * s)
        assert float(err.max()) <= s / 2 + 1e-12


def test_quantized_topk_matches_exact_on_separated_data(spark):
    import numpy as np

    from shuttle_spark.operators import similarity as S

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 16)).astype("float32")
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qv = [float(x) for x in base[0]]
    exact = {
        int(np.argsort(-(base.astype(np.float64) @ np.asarray(qv)))[i])
        for i in range(5)
    }
    quant = S.quantize_int8(df)
    q0 = quant.filter("vec_id = 0").collect()[0]
    approx = {
        r.vec_id for r in S.quantized_dot_topk(quant, q0.qvec, q0.q_scale, 5).collect()
    }
    assert len(exact & approx) >= 4


def test_pack_greedy_bins_semantics_and_invariance(spark):
    """Greedy fill pinned on constructed sizes: bins close exactly when the
    next doc would overflow, an oversized doc takes a bin alone (and closes
    the running bin), every doc appears exactly once, and the assignment is
    invariant to input partitioning (packing order is id order)."""
    from shuttle_spark.operators import pipeline as P

    rows = [
        ("a", 1, 500),   # bin 0 (cum 500)
        ("a", 2, 400),   # bin 0 (cum 900)
        ("a", 3, 200),   # bin 1 (900+200 > 1000)
        ("a", 4, 1500),  # oversized -> bin 2 alone
        ("a", 5, 100),   # bin 3 (1500+100 > 1000)
        ("b", 9, 1000),  # exactly budget -> bin 0
        ("b", 10, 1),    # bin 1
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_chars long")
    got = {
        (r.source, r.doc_id): r.bin_id
        for r in P.pack_greedy_bins(df, "source", "doc_id", "n_chars", 1000).collect()
    }
    assert got == {
        ("a", 1): 0, ("a", 2): 0, ("a", 3): 1, ("a", 4): 2, ("a", 5): 3,
        ("b", 9): 0, ("b", 10): 1,
    }
    rep = {
        (r.source, r.doc_id): r.bin_id
        for r in P.pack_greedy_bins(
            df.repartition(7), "source", "doc_id", "n_chars", 1000
        ).collect()
    }
    assert rep == got


def test_doc_typicality_scores_shared_high_unique_low(spark):
    """Two identical docs (every gram df=2) score 2.0; a doc with no gram
    shared by anyone scores exactly 1.0 (its own df); short docs (< n
    tokens -> no grams) drop out."""
    from shuttle_spark.operators import neardup as N
    from shuttle_spark.operators import pipeline as P

    N.clear_gram_cache()
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "one two three four five"),
        (4, "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in P.doc_typicality(docs).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1].typicality == 2.0 and got[2].typicality == 2.0
    assert got[3].typicality == 1.0
    assert got[3].n_grams == 3 and got[3].sum_df == 3
    N.clear_gram_cache()


def test_pack_greedy_bins_zero_size_and_null_size(spark):
    """Review-derived oracle-parity pins: a zero-size doc can CLOSE a bin
    (cum resets to 0) and the next overflow must still open a new bin —
    the recursive-CTE recurrence has no `cum > 0` guard; NULL sizes are
    excluded from packing entirely (int(NaN) would kill the stage)."""
    from shuttle_spark.operators import pipeline as P

    rows = [
        ("a", 1, 1500),   # oversized -> bin 0
        ("a", 2, 0),      # 1500+0 > 1000 -> bin 1, cum 0
        ("a", 3, 1200),   # 0+1200 > 1000 -> bin 2 (a cum>0 guard would say bin 1)
        ("a", 4, None),   # NULL size -> excluded
        ("a", 5, 10),     # 1200+10 > 1000 -> bin 3
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_chars long")
    got = {r.doc_id: r.bin_id
           for r in P.pack_greedy_bins(df, "source", "doc_id", "n_chars", 1000).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 5: 3}


def test_hash_split_null_id_lands_in_last_split(spark):
    """NULL ids propagate to a NULL hash bucket and fall through every
    boundary into the LAST declared split — matching the SQL twin's
    `id || ':' || seed` + CASE exactly (concat_ws would have hashed just
    the seed)."""
    from shuttle_spark.operators import pipeline as P

    df = spark.createDataFrame([(1,), (None,)], "id long")
    got = {r.id: r.split for r in P.hash_split(
        df, "id", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    assert got[None] == "test"
    assert got[1] in ("train", "val", "test")
