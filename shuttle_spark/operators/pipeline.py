"""Training-data pipeline composites (north-star LLM extensions).

The reference moves opaque shuffle bytes; a training-data pipeline is what
sits on top of that shuffle at 100 TB: decontaminate the corpus against
evaluation benchmarks, measure intra-document repetition, and run the
combined cleanse (language filter -> length/quality gate -> exact dedup).
Every operator here is a pure DataFrame composition (JVM expression trees,
no Python in the hot path) with a DuckDB-expressible twin so it sits under
the oracle gate.

Scale posture (the 100 TB question):
* ``decontaminate`` — the benchmark side is genuinely small (eval suites
  are thousands of documents), so its distinct gram-hash set is broadcast;
  the corpus side is touched by exactly one explode + one broadcast
  semi-join + one shuffle anti-join on doc_id.  Corpus-derived sides are
  never statically broadcast (the round-2 stress lesson: size estimates
  downstream of union+explode undercount badly) — the doc_id anti-join is
  pinned to merge and AQE may still runtime-convert it.
* ``repetition_stats`` — per-row expression only (no shuffle until the
  final per-source aggregate).
* ``cleanse`` — filters are row-local and pushed to the scan; the single
  shuffle is the dedup exchange on the 128-bit content hash, the engine
  twin of the reference's duplicate-block filter
  (/root/reference/src/main/java/com/oppo/shuttle/rss/execution/../..
  ShufflePartitionReader.java:378-393).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from shuttle_spark.cache import DFCache, cache_key
from shuttle_spark.functions import text as TX

# Session-staged text relations, same discipline as neardup's gram cache:
# every text-analysis operator (tf-idf, decontamination, token stats)
# opens with "tokenize the corpus" — a real pipeline materializes that
# relation once and fans out, so the engine does too.  The exploded
# (doc, token) relation is 100-200x the document count; at large SF four
# memory-resident copies would dominate executor storage for a relation
# that is cheap to recompute relative to its size.  DISK_ONLY +
# a 2-corpus cap keeps the staging win (skip re-tokenization) without
# competing with shuffle/agg memory (ADVICE r5).
_words_cache = DFCache(max_size=2, storage_level="DISK_ONLY")
_gram_cache = DFCache(max_size=4, storage_level="MEMORY_AND_DISK")


def clear_text_caches() -> None:
    _words_cache.clear()
    _gram_cache.clear()


def words_relation(
    docs: DataFrame,
    keep: tuple[str, ...] = ("doc_id", "source"),
    text_col: str = "text",
) -> DataFrame:
    """(keep..., term) — the exploded token relation of a corpus, staged
    per session.  The regex tokenizer is the dominant per-row kernel of
    the text family (java.util.regex, the named residual); staging makes
    every downstream aggregate touch a bound column instead of re-running
    it."""
    return _words_cache.cached(
        cache_key(docs, params=(keep, text_col)),
        lambda: docs.select(
            *keep, F.explode(TX.tokens(F.col(text_col))).alias("term")
        ),
    )


def _doc_grams(
    docs: DataFrame, id_col: str, n: int, reuse: bool = False
) -> DataFrame:
    """(id, gram) pairs, distinct per document — two projections so
    tokenization is not re-evaluated inside the gram lambda (see
    functions/text.ngrams_from_tokens docstring).  ``reuse=True`` stages
    the relation per session (the corpus side of decontamination is
    re-probed by every new benchmark suite; the benchmark side is tiny
    and not worth an entry)."""

    def build() -> DataFrame:
        toks = docs.select(id_col, TX.tokens(F.col("text")).alias("toks"))
        return toks.select(
            id_col,
            F.explode(
                F.array_distinct(TX.ngrams_from_tokens(F.col("toks"), n))
            ).alias("gram"),
        )

    if not reuse:
        return build()
    return _gram_cache.cached(cache_key(docs, params=(id_col, n)), build)


def contaminated_ids(
    corpus: DataFrame, benchmark: DataFrame, n: int = 5, id_col: str = "doc_id"
) -> DataFrame:
    """doc_ids of corpus documents sharing ANY word n-gram with the
    benchmark corpus — the standard eval-decontamination test (n-gram
    collision against held-out benchmarks before training).

    The benchmark gram set is distinct'd then broadcast: one corpus scan,
    zero corpus shuffles before the id distinct.  The join compares raw
    gram STRINGS, not 64-bit hashes — the broadcast side is an eval suite
    (thousands of docs), so the extra bytes are irrelevant, and a hash
    collision can never falsely remove a clean document; Spark and oracle
    semantics are identical by construction."""
    bench_grams = _doc_grams(benchmark, id_col, n).select("gram").distinct()
    corpus_grams = _doc_grams(corpus, id_col, n, reuse=True)
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    corpus: DataFrame, benchmark: DataFrame, n: int = 5, id_col: str = "doc_id"
) -> DataFrame:
    """Corpus minus benchmark-contaminated documents.

    The contaminated-id relation is corpus-derived (unbounded at scale), so
    the anti-join is pinned to merge rather than statically broadcast; AQE
    runtime-converts it when the contaminated set is actually small."""
    bad = contaminated_ids(corpus, benchmark, n, id_col)
    return corpus.join(bad.hint("merge"), id_col, "left_anti")


def repetition_from_grams(grams: F.Column) -> F.Column:
    """Repetition in [0,1) from an ALREADY-MATERIALIZED gram array column:
    fraction of gram positions occupied by a previously-seen gram
    (1 - distinct/total); 0 when the document has no grams."""
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    # NULL text => NULL gram array => NULL size: the when-condition would be
    # NULL and fall through to a NULL score, so test NULL explicitly to keep
    # the documented "0 when the document has no grams" (matches the
    # oracle's COALESCE(..., 0.0)).
    return F.when(total.isNull() | (total <= 0), F.lit(0.0)).otherwise(
        F.round(1.0 - distinct / total.cast("double"), 6)
    )


def repetition_score(text: F.Column, n: int = 5) -> F.Column:
    """Intra-document repetition in [0,1): fraction of word n-gram
    positions occupied by a previously-seen gram (1 - distinct/total).
    The line/paragraph-dedup quality signal of training-data prep, stated
    on n-gram windows so it is delimiter-free.  Documents shorter than n
    tokens score 0.

    Single-expression convenience form — in any per-corpus scan use
    ``repetition_scores`` below: this inline form re-evaluates the
    tokenizer inside the gram lambda AND the gram array twice (Catalyst
    does not CSE into higher-order-function lambdas; measured 15x slower
    on the sf0.1 documents table)."""
    grams = TX.word_ngrams(text, n)
    return repetition_from_grams(grams)


def repetition_scores(
    docs: DataFrame, n: int = 5, keep: tuple[str, ...] = ("doc_id", "source")
) -> DataFrame:
    """Per-document repetition with staged projections (tokenize -> gram ->
    score) so each array materializes once per row — the scan-speed form
    (see functions/text.ngrams_from_tokens docstring for why the stages
    must not be inlined)."""
    toks = docs.select(*keep, TX.tokens(F.col("text")).alias("toks"))
    grams = toks.select(
        *keep, TX.ngrams_from_tokens(F.col("toks"), n).alias("grams")
    )
    return grams.select(
        *keep, repetition_from_grams(F.col("grams")).alias("repetition")
    )


def mixture_weights(
    docs: DataFrame,
    target_tokens: int,
    group_col: str = "source",
) -> DataFrame:
    """Training-mixture balancing: per-group downsampling weights that hit
    a uniform token budget.  Each group's share of ``target_tokens`` is
    equal (uniform mixture); ``weight`` = min(1, share/actual_tokens) is
    the Bernoulli keep-probability a sampler applies per document, and
    ``expected_tokens`` the resulting budget.  One scan + one tiny agg —
    the planning step before a ``sampleBy`` pass at any scale."""
    tok = TX.token_count(F.col("text"))
    per = docs.groupBy(group_col).agg(F.sum(tok).alias("tokens"))
    n_groups = per.agg(F.count("*").alias("n"))
    share = F.col("target").cast("double") / F.col("n")
    # a group whose docs are all empty has tokens=0: keep-probability 1
    # (keeping zero-cost docs spends none of the budget) — and under
    # Spark 4's ANSI-on default a bare share/0 would raise
    # DIVIDE_BY_ZERO and kill the whole planning query
    weight = F.round(
        F.when(
            F.col("tokens") > 0,
            F.least(F.lit(1.0), share / F.col("tokens")),
        ).otherwise(F.lit(1.0)),
        6,
    ).alias("weight")
    return (
        per.crossJoin(F.broadcast(n_groups))
        .withColumn("target", F.lit(int(target_tokens)))
        .select(
            group_col,
            "tokens",
            weight,
        )
        # round-half-up via floor(x + 0.5): identical in both engines
        # (ROUND ties differ between them on exact halves).
        .withColumn(
            "expected_tokens",
            F.floor(F.col("weight") * F.col("tokens") + 0.5).cast("long"),
        )
    )


def cleanse(
    docs: DataFrame,
    lang: str = "en",
    min_tokens: int = 20,
    max_tokens: int = 1000,
    min_quality: float = 0.5,
) -> DataFrame:
    """The combined corpus cleanse: language gate, token-length window,
    quality floor, then exact dedup on the md5 of normalized text (the
    witness is irrelevant downstream: same hash => same normalized text).
    Filters are row-local (pushed to the scan); the one shuffle is the
    dedup exchange on the content hash."""
    tok = TX.token_count(F.col("text"))
    kept = docs.filter(
        (F.col("lang") == lang)
        & tok.between(min_tokens, max_tokens)
        & (TX.quality_score(F.col("text")) >= min_quality)
    )
    return kept.withColumn(
        "content_hash", F.md5(TX.normalize(F.col("text")))
    ).dropDuplicates(["content_hash"])


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Patterns chosen from the Java-regex / RE2 COMMON SUBSET (character
# classes, bounded repetition, \b word boundaries — no lookarounds, no
# backrefs) so the engine and the DuckDB oracle execute byte-identical
# semantics.  Order matters: emails first (their local parts may contain
# digits/dots an IP pattern could clip), then IPs, then bare phone runs.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "[EMAIL]"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "[PHONE]"),
)


def _gate_is_sound(pattern: str, gates: tuple[str, ...]) -> bool:
    """Prove (from the PARSED pattern, not samples) that every string
    matching ``pattern`` contains at least one of ``gates`` — the
    soundness condition scrub_pii's C-speed membership gates rely on.
    Sufficient criterion: the pattern's top-level concatenation holds an
    element that matches AT LEAST once and whose every admissible
    character is a gate char (a literal gate char, a class drawn only
    from gate chars, a min>=1 repeat of such, every branch of an
    alternation, or a group containing one).  Conservative: returns
    False on anything it cannot prove (ranges, categories), never a
    false True."""
    try:
        from re import _parser as sre_parse  # py >= 3.11 home
    except ImportError:  # pragma: no cover - older interpreters
        import sre_parse  # type: ignore[no-redef]

    gate_set = set(gates)

    def node_guarantees(node) -> bool:
        op, av = node
        name = str(op)
        if name == "LITERAL":
            return chr(av) in gate_set
        if name == "IN":
            chars = set()
            for iop, iav in av:
                if str(iop) != "LITERAL":
                    return False  # RANGE/CATEGORY: can't prove subset
                chars.add(chr(iav))
            return bool(chars) and chars <= gate_set
        if name in ("MAX_REPEAT", "MIN_REPEAT"):
            mn, _mx, sub = av
            return mn >= 1 and seq_guarantees(sub)
        if name == "SUBPATTERN":
            return seq_guarantees(av[3])
        if name == "BRANCH":
            return all(seq_guarantees(b) for b in av[1])
        return False

    def seq_guarantees(seq) -> bool:
        return any(node_guarantees(n) for n in seq)

    return seq_guarantees(sre_parse.parse(pattern))


# Implied-literal gates for scrub_pii (VERDICT r9 item 4): each pattern
# PROVABLY requires one of these characters, so a C-speed membership
# test can skip the sre search outright.  The import-time assert below
# (ADVICE r10) keeps the table honest: editing a pattern so a gate is
# no longer implied (e.g. the phone separator class gaining a space)
# fails the proof at import instead of silently skipping real matches.
_PII_GATE_CHARS: dict[str, tuple[str, ...]] = {
    "email": ("@",),
    "ip": (".",),
    "phone": ("-", "."),
}
# explicit raise, not assert: the proof must survive `python -O`
# (assert statements are stripped under optimization — ADVICE r11),
# or the advertised fail-at-import guarantee silently disappears in
# optimized runs.
for _name, _pat, _repl in PII_PATTERNS:
    if _name not in _PII_GATE_CHARS:
        raise ValueError(f"no gate chars declared for {_name}")
    if not _gate_is_sound(_pat, _PII_GATE_CHARS[_name]):
        raise ValueError(
            f"gate chars {_PII_GATE_CHARS[_name]} are no longer implied"
            f" literals of the {_name} pattern {_pat!r}; scrub_pii would"
            " silently skip real matches — update _PII_GATE_CHARS"
        )
del _name, _pat, _repl


def scrub_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4 addresses / phone numbers from a text column —
    the standard pre-training privacy pass (the C4/Dolma-style pipeline
    runs exactly this shape over every document).

    Semantics (identical in both implementations below, and spelled
    token-for-token in the DuckDB oracle): per-type ``<type>_found``
    booleans are matched against the ORIGINAL text, then the three
    replacements run SEQUENTIALLY in PII_PATTERNS order — each pattern
    scans the output of the previous replace, so e.g. an IP that only
    gains a word boundary once an adjacent email is redacted IS caught.

    Default implementation: ONE Arrow batch stage (``mapInPandas``) with
    precompiled CPython ``re`` patterns.  The previous all-JVM expression
    chain (still available as ``scrub_pii_jvm``) runs six full
    ``java.util.regex`` scans per document (three ``rlike`` flags + three
    ``regexp_replace``) and measured 13.5x DuckDB's RE2 marginal at sf10
    — the worst per-row kernel residual on the scale curve; this Arrow
    stage halves it (round-7 curve: 6.7x marginal, 0.400 -> 0.188 s/sf;
    the rest is sre-vs-RE2 DFA throughput, an engine constant absent a
    re2/hyperscan binding).  It cuts the work to AT MOST three
    ``re.search`` scans per document — each search gated behind a
    C-speed implied-literal membership test ('@' / '.' / '-'; round 10,
    measured 1.7x on the injected gate corpus and ~40x on a PII-free
    corpus) — plus substitutions GATED on a match being possible (a
    replace pass is a provable no-op unless its own search hit or an
    earlier replacement rewrote the text), and sre's C matcher beats
    java.util.regex on these character-class patterns.  Stateless and
    row-local either way: rides batch and streaming pipelines at scan
    parallelism, no shuffle.
    """
    import re

    import pandas as pd
    from pyspark.sql import types as T

    compiled = [
        (name, re.compile(pat), repl) for name, pat, repl in PII_PATTERNS
    ]
    # Implied-literal gates (VERDICT r9 item 4): each pattern PROVABLY
    # requires one of these characters (email needs '@'; the IP's three
    # dots need '.'; the phone separator class is [-.]), so a C-speed
    # membership test skips the sre search outright when the literal is
    # absent — sound, exact, and far cheaper than a regex pass.  The
    # single-alternation fold the verdict suggested was measured SLOWER
    # (0.68-0.88x: one broad alternation loses sre's per-pattern
    # first-char optimizations); these gates measured 1.7x on the gate's
    # ~55%-injected corpus and ~40x on a no-PII corpus (200k docs,
    # pure-kernel A/B) — see BASELINE.md.
    gate_chars = _PII_GATE_CHARS  # soundness proven at import time
    fields = list(docs.schema.fields) + [
        # nullable like the JVM twin: rlike(NULL) is NULL, not False
        T.StructField(f"{name}_found", T.BooleanType(), True)
        for name, _, _ in PII_PATTERNS
    ]
    schema = T.StructType(fields)
    tcol = text_col

    def scrub(batches):
        for pdf in batches:
            texts = pdf[tcol].tolist()
            n = len(texts)
            # None (not False) for NULL text, matching rlike(NULL)=NULL
            flags = {name: [None] * n for name, _, _ in compiled}
            out_texts = [None] * n
            for i, t in enumerate(texts):
                if t is None:
                    continue
                orig = t
                dirty = False  # an earlier pattern rewrote the text
                for name, pat, repl in compiled:
                    # flags match the ORIGINAL text (oracle semantics);
                    # the replace pass runs on the CURRENT text.  Skip a
                    # sub only when it is a provable no-op: no match in
                    # the original AND no earlier rewrite (then current
                    # == original, so no match in current either).  The
                    # gate is exact: absence of every implied literal in
                    # the original means the search cannot hit.
                    hit = any(
                        c in orig for c in gate_chars[name]
                    ) and pat.search(orig) is not None
                    flags[name][i] = hit
                    if hit or dirty:
                        t2 = pat.sub(repl, t)
                        dirty = dirty or t2 != t
                        t = t2
                out_texts[i] = t
            pdf = pdf.copy()
            pdf[tcol] = pd.Series(out_texts, index=pdf.index, dtype=object)
            for name, _, _ in compiled:
                pdf[f"{name}_found"] = pd.Series(
                    flags[name], index=pdf.index
                )
            yield pdf

    return docs.mapInPandas(scrub, schema)


def scrub_pii_jvm(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The all-JVM expression-chain twin of ``scrub_pii`` (three ``rlike``
    flags + three sequential ``regexp_replace``), kept for environments
    where Python workers are unavailable and as the A/B baseline the
    Arrow default was measured against.  Same semantics, same output
    schema; runs inside whole-stage codegen but pays six full
    java.util.regex scans per document."""
    out = docs
    for name, pat, _ in PII_PATTERNS:
        out = out.withColumn(f"{name}_found", F.col(text_col).rlike(pat))
    scrubbed = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return out.withColumn(text_col, scrubbed)


def group_diversity_gini(
    df: DataFrame, group_col: str = "source", class_col: str = "lang"
) -> DataFrame:
    """Per-group class-diversity census: ``(group, n_docs, n_classes,
    gini)`` where gini is the Gini impurity ``1 - sum(p_c^2)`` of the
    class distribution inside the group — the mixture-diversity check a
    training pipeline runs per source/shard (a crawl source whose language
    mix collapsed to one class shows gini ~0).

    Plan: one hash aggregate to the (group, class) counts — map-side
    partial, one exchange of a tiny relation — then a window row-total
    over that already-aggregated relation and a second tiny aggregate to
    the per-group summary.  The fact table is scanned once and shuffled
    never (the exchange carries |groups|x|classes| rows).

    Determinism: probabilities are integer-count ratios (identical IEEE
    doubles in both engines); the sum of squared probabilities is
    quantized per term to 12 decimals and summed as scaled longs, so it
    is association-free — Gini was chosen over entropy here precisely
    because it needs no transcendental (log) whose last-ulp behavior
    differs across libm implementations."""
    c = df.groupBy(group_col, class_col).agg(F.count("*").alias("__cnt"))
    tot = Window.partitionBy(group_col)
    c = c.select(
        group_col,
        class_col,
        "__cnt",
        F.sum("__cnt").over(tot).alias("__tot"),
    )
    p = F.col("__cnt").cast("double") / F.col("__tot")
    return (
        c.groupBy(group_col)
        .agg(
            F.first("__tot").alias("n_docs"),
            F.count("*").alias("n_classes"),
            F.round(
                1.0
                - F.sum(F.round(p * p * 1e12).cast("long")) / F.lit(1e12),
                6,
            ).alias("gini"),
        )
    )


def k_anonymity_census(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
    sensitive_col: str | None = None,
    l_threshold: int = 2,
) -> DataFrame:
    """K-anonymity / l-diversity census over quasi-identifier columns —
    the STRUCTURED-data privacy check that complements ``scrub_pii``'s
    free-text pass: before releasing or training on a keyed table, how
    re-identifiable is it?  A row is k-anonymous when its equivalence
    class (the rows sharing its quasi-identifier tuple) has >= k
    members; a class is l-diverse when its sensitive column takes >= l
    distinct values (k-anonymity alone leaks when a small class is
    sensitive-homogeneous).  Sweeney 2002 / Machanavajjhala 2006 — the
    standard pre-release audit, here as one aggregate pass.

    Output (ONE row, all exact integers): ``n_rows, n_classes,
    min_class_size, n_classes_below_k, n_rows_below_k`` and, when
    ``sensitive_col`` is given, ``min_l, n_classes_below_l,
    n_rows_below_l``.  NULL quasi-identifier components group as values
    (a NULL zip code is itself a linkable signature); NULL sensitive
    values are not counted as a diversity value.

    Plan: ONE map-side-combined hash aggregate collapses the fact table
    to its equivalence classes (the exchange carries O(classes), not
    O(rows)), then a second 1-row aggregate over that collapsed
    relation computes the census.  No window, no join, no second scan —
    at 100 TB this is the same two-level-aggregate shape as
    ``column_profile``, and the class relation is the natural input for
    a follow-up suppression/generalization pass.  The l-diversity count
    is an exact COUNT(DISTINCT) per class — inside the same aggregate,
    planned as Spark's standard two-phase distinct expansion."""
    if not quasi_cols:
        raise ValueError("k_anonymity_census needs at least one column")
    qi = [F.col(c) for c in quasi_cols]
    aggs = [F.count(F.lit(1)).alias("__sz")]
    if sensitive_col is not None:
        aggs.append(
            F.countDistinct(F.col(sensitive_col)).alias("__ldiv")
        )
    classes = df.groupBy(*qi).agg(*aggs)
    census = [
        F.sum("__sz").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.min("__sz").alias("min_class_size"),
        F.sum((F.col("__sz") < k).cast("long")).alias("n_classes_below_k"),
        F.sum(
            F.when(F.col("__sz") < k, F.col("__sz")).otherwise(F.lit(0))
        ).alias("n_rows_below_k"),
    ]
    if sensitive_col is not None:
        census += [
            F.min("__ldiv").alias("min_l"),
            F.sum((F.col("__ldiv") < l_threshold).cast("long")).alias(
                "n_classes_below_l"
            ),
            F.sum(
                F.when(
                    F.col("__ldiv") < l_threshold, F.col("__sz")
                ).otherwise(F.lit(0))
            ).alias("n_rows_below_l"),
        ]
    return classes.agg(*census)


def k_anonymity_oracle_sql(
    table_expr: str,
    quasi_cols: Sequence[str],
    k: int = 5,
    sensitive_col: str | None = None,
    l_threshold: int = 2,
) -> str:
    """DuckDB twin of ``k_anonymity_census`` (identical class collapse
    and census arithmetic; ``table_expr`` may be a subquery)."""
    qs = ", ".join(quasi_cols)
    sel = [f"COUNT(*) AS sz"]
    if sensitive_col is not None:
        sel.append(f"COUNT(DISTINCT {sensitive_col}) AS ldiv")
    census = [
        "CAST(SUM(sz) AS BIGINT) AS n_rows",
        "CAST(COUNT(*) AS BIGINT) AS n_classes",
        "CAST(MIN(sz) AS BIGINT) AS min_class_size",
        f"CAST(SUM(CASE WHEN sz < {k} THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_classes_below_k",
        f"CAST(SUM(CASE WHEN sz < {k} THEN sz ELSE 0 END) AS BIGINT)"
        " AS n_rows_below_k",
    ]
    if sensitive_col is not None:
        census += [
            "CAST(MIN(ldiv) AS BIGINT) AS min_l",
            f"CAST(SUM(CASE WHEN ldiv < {l_threshold} THEN 1 ELSE 0 END)"
            " AS BIGINT) AS n_classes_below_l",
            f"CAST(SUM(CASE WHEN ldiv < {l_threshold} THEN sz ELSE 0 END)"
            " AS BIGINT) AS n_rows_below_l",
        ]
    return (
        f"WITH cls AS (SELECT {qs}, {', '.join(sel)}"
        f" FROM {table_expr} GROUP BY {qs})"
        f" SELECT {', '.join(census)} FROM cls"
    )


def pack_greedy_bins(
    df: DataFrame,
    group_col: str,
    id_col: str,
    size_col: str,
    budget: int,
) -> DataFrame:
    """Greedy sequence packing: assign each document a 0-based ``bin_id``
    inside its group such that consecutive docs (in ``id_col`` order) fill
    a bin until adding the next would exceed ``budget`` — the sample-
    packing step that turns a ragged corpus into fixed-token-budget
    training sequences (wasted pad tokens are the single biggest training-
    throughput tax on unpacked data).

    The fill recurrence is inherently sequential per group (bin boundaries
    depend on every predecessor), so this is one of the few legitimate
    ``applyInPandas`` operators: Spark hash-partitions the groups (one
    exchange), each group packs in-memory in id order, and nothing ever
    reaches the driver.  Determinism: the packing order is the id order,
    not arrival order, so output is invariant to partitioning and reruns.
    An oversized doc (> budget) gets a bin of its own — it still closes
    the running bin exactly like any non-fitting doc.

    Scale note (100 TB): parallelism == |groups|, so the group key must be
    sharded finer than `source` at scale — pack within (source, shard)
    where shard = hash(id) % k picks the tradeoff between parallelism and
    cross-shard padding waste; bin ids then namespace per shard.  A group
    must fit one executor's memory (ids + sizes only — the TEXT need not
    ride this relation; join it back by id at write time).
    """
    import pandas as pd

    out_fields = df.select(group_col, id_col, size_col).schema.fields
    schema_str = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields)
    out_schema = schema_str + ", bin_id bigint"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        sizes = pdf[size_col].to_numpy()
        bins = []
        b, cum = 0, 0
        for i, n in enumerate(sizes):
            n = int(n)
            # mirror the recursive-CTE oracle EXACTLY: every non-first row
            # opens a new bin when cum + n overflows — including cum == 0
            # after a zero-size doc closed a bin (a `cum > 0` guard here
            # diverged from the oracle on [oversized, 0, oversized] inputs;
            # caught by review, pinned in the unit test)
            if i > 0 and cum + n > budget:
                b += 1
                cum = n
            else:
                cum += n
            bins.append(b)
        pdf["bin_id"] = bins
        return pdf

    return (
        # NULL sizes are excluded from packing (int(NaN) would kill the
        # stage; a NULL riding the recurrence would poison every later
        # cum in the SQL twin) — the ewma NULL-exclusion convention
        df.select(group_col, id_col, size_col)
        .filter(F.col(size_col).isNotNull())
        .groupBy(group_col)
        .applyInPandas(pack, out_schema)
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    seed: int = 7,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic dataset split (train/val/test): each row's split is a
    pure function of ``md5(id:seed)``, so the assignment is reproducible
    across engines, partitionings, reruns, AND corpus growth — a doc keeps
    its split when new docs arrive, the property a random ``split()``
    cannot give and the one that prevents silent eval-set contamination
    when a corpus is re-snapshotted.

    Fractions map split names to probabilities (must sum to <= 1; any
    remainder falls into the last declared split).  The hash bucket is the
    32-bit md5 prefix modulo 1e6 compared against cumulative boundaries —
    row-local JVM expressions only, no shuffle, pushed-through scan.
    Refresh the assignment by bumping ``seed``."""
    from shuttle_spark.operators.integrity import md5_prefix32

    # F.concat (NULL-propagating), NOT concat_ws (NULL-skipping): a NULL id
    # must yield a NULL bucket so it falls through every boundary into the
    # LAST declared split — exactly what the SQL twin's `id || ':' || seed`
    # + CASE does.  concat_ws would hash just the seed and send every
    # NULL-id row to one arbitrary bucket, silently diverging from the
    # oracle (review catch).
    bucket = md5_prefix32(
        F.concat(F.col(id_col).cast("string"), F.lit(":"), F.lit(str(seed)))
    ) % F.lit(1_000_000)
    names = list(fractions)
    cum = 0.0
    expr = F.lit(names[-1])
    bounds = []
    for n in names[:-1]:
        cum += fractions[n]
        bounds.append((n, int(round(cum * 1_000_000))))
    for n, b in reversed(bounds):
        expr = F.when(bucket < b, F.lit(n)).otherwise(expr)
    return df.withColumn(split_col, expr)


def doc_typicality(docs: DataFrame, n: int = 3) -> DataFrame:
    """Corpus-typicality score per document: the mean document frequency
    of the doc's distinct word n-grams — the cheap LM-free stand-in for
    "how much does this doc look like the corpus" that quality-filtering
    pipelines bucket on (boilerplate and template spam score HIGH —
    their grams are everywhere; unique prose scores low; gibberish
    scores ~1 — its grams appear nowhere else).

    Exactness: n_grams and sum_df are integer counts, the score is one
    integer-ratio double rounded at 6dp.  Plan: the session-staged gram
    relation (neardup.gram_sets — same cache the jaccard/minhash family
    fans out from) explodes once, the df relation is one partial+final
    hash agg on the gram, and the join back is gram-partitioned — the
    inverted-index shape again, never all-pairs."""
    from shuttle_spark.operators import neardup as N

    grams = N.gram_sets(docs, n=n).select(
        "id", F.explode("grams").alias("g")
    )
    dfreq = grams.groupBy("g").agg(F.count("*").alias("__df"))
    return (
        grams.join(dfreq, "g")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("__df").alias("sum_df"),
        )
        .select(
            F.col("id").alias("doc_id"),
            "n_grams",
            "sum_df",
            F.round(
                F.col("sum_df").cast("double") / F.col("n_grams"), 6
            ).alias("typicality"),
        )
    )


def duplicated_span_census(
    docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """CROSS-document duplicated-span census — the exact-substring dedup
    signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better"): a word ``n``-gram occurring in >=
    ``min_docs`` DISTINCT documents marks every position it occupies as
    duplicated text, and the per-document duplicated fraction is the
    number training pipelines threshold on (memorization risk scales
    with it).  ``repeated_span_docs`` is the INTRA-document twin (spans
    repeated within one doc); this is the corpus-level complement.
    Output per document with >= 1 gram: ``doc_id, n_grams`` (positions),
    ``n_dup_grams`` (positions whose gram is cross-doc duplicated),
    ``dup_fraction`` (6dp integer-ratio double).

    Plan (the inverted-index shape, never all-pairs): positions collapse
    FIRST to (doc, gram, count) in one partial+final hash aggregate;
    the gram's doc-frequency is a COUNT window over that collapsed
    relation (one gram-keyed exchange — r12 replaced the r11
    aggregate-plus-back-join pair, 6 exchanges -> 3, zero joins), and
    both census sums ride ONE final doc-keyed aggregate.  At 100 TB
    every exchange carries (doc, gram)-collapsed or gram-keyed rows;
    hot grams (the duplicated ones) are bounded per doc by the
    collapse.  Execution-model caveat (r12 ADVICE): a gram's window
    partition is its doc list — the same ROWS the old join moved, but
    WindowExec BUFFERS each gram's whole doc list in one task (spilling
    via UnsafeExternalSorter beyond memory) where the old streaming
    hash aggregate + join did not; a stopword-like gram present in most
    docs becomes a single buffered-and-spilled partition.  If such
    grams dominate at scale, pre-filter them (a min_docs-style stop
    list) or revert that gram's path to the aggregate+join shape."""
    toks = docs.select(
        F.col(id_col), TX.tokens(F.col(text_col)).alias("toks")
    )
    pos = toks.select(
        id_col, F.explode(TX.ngrams_from_tokens(F.col("toks"), n)).alias("g")
    )
    pg = pos.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("__c"))
    # The gram's doc-frequency is a COUNT window over the collapsed
    # (doc, gram) relation — one gram-keyed exchange replaces the r11
    # aggregate-plus-back-join pair (6 exchanges -> 3, zero joins,
    # guide §2.4), and both census sums then ride ONE doc-keyed
    # aggregate (the dup sum is conditional on the windowed frequency,
    # so the old tot/dup left join disappears too).  Identical values:
    # __nd is the same distinct-doc count per gram, and a doc with no
    # duplicated gram sums the empty condition to 0 exactly like the
    # old coalesce(left join).
    from pyspark.sql import Window

    nd = F.count(F.lit(1)).over(Window.partitionBy("g"))
    per_doc = pg.withColumn("__nd", nd).groupBy(id_col).agg(
        F.sum("__c").alias("n_grams"),
        F.coalesce(
            F.sum(F.when(F.col("__nd") >= min_docs, F.col("__c"))),
            F.lit(0),
        ).alias("n_dup_grams"),
    )
    return per_doc.select(
        id_col,
        "n_grams",
        "n_dup_grams",
        F.round(
            F.col("n_dup_grams").cast("double") / F.col("n_grams"), 6
        ).alias("dup_fraction"),
    )


def stratified_split(
    df: DataFrame,
    id_col: str,
    strata_cols: list[str],
    fractions: dict[str, float],
    seed: int = 7,
    split_col: str = "split",
) -> DataFrame:
    """EXACT-COUNT stratified split: within each stratum, rows are ranked
    by ``(md5(id:seed), id)`` and the first ``floor(n_s * f)`` rows (in
    basis-point integer arithmetic) go to each split in declaration
    order, remainder to the last split.  Where ``hash_split`` gives each
    row an independent Bernoulli assignment (proportions only in
    expectation — a 200-row stratum can land 26% val), this guarantees
    per-stratum counts exact to the floor, the property an eval-set
    builder needs ("exactly 10% of EVERY language in val").

    Determinism: the rank key is a pure function of (id, seed) and the
    boundaries are pure integer functions of (n_s, fractions) —
    reproducible across engines, partitionings and reruns.  Unlike
    ``hash_split``, assignment is NOT stable under corpus growth (ranks
    shift as rows arrive) — that is the price of exact counts; pick per
    use case.

    Plan: one window over the stratum partitioning (single exchange on
    strata) plus a broadcast join-back of the |strata|-row counts.  A
    degenerate all-one-stratum input serializes into one partition —
    compose with ``relational.global_rank``'s range-bucketing if a
    stratum exceeds executor memory at 100 TB."""
    from pyspark.sql import Window as W

    from shuttle_spark.operators.integrity import md5_prefix32

    rank_key = md5_prefix32(
        F.concat(F.col(id_col).cast("string"), F.lit(":"), F.lit(str(seed)))
    )
    w = W.partitionBy(*strata_cols).orderBy(rank_key, F.col(id_col))
    ranked = df.withColumn("__rn", F.row_number().over(w))
    counts = df.groupBy(*strata_cols).agg(F.count("*").alias("__ns"))
    names = list(fractions)
    cum_bp = 0
    bounds = []
    for nm in names[:-1]:
        cum_bp += int(round(fractions[nm] * 10000))
        bounds.append((nm, cum_bp))
    # boundary = floor(n_s * cum_f) in EXACT basis-point integer
    # arithmetic — ``DIV`` (integer floor division), never float: a
    # double n_s*f can sit one ulp above an integral product and flip a
    # boundary row between engines (the winsorized-rank lesson).
    case = F.lit(names[-1])
    for nm, bp in reversed(bounds):
        case = F.when(
            F.col("__rn") <= F.expr(f"(__ns * {bp}) DIV 10000"), F.lit(nm)
        ).otherwise(case)
    return (
        ranked.join(F.broadcast(counts), strata_cols)
        .withColumn(split_col, case)
        .drop("__rn", "__ns")
    )


def inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings_cap: int = 5,
    min_df: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Inverted-index build: per term, document frequency, total term
    frequency, and the first ``postings_cap`` doc ids (ascending) as a
    comma-joined posting prefix — the retrieval-side artifact of a text
    corpus (search, dedup blocking, contamination lookup all start
    here).  Output: ``term, doc_freq, total_tf, top_postings``.

    Plan: tokenize -> (term, doc) pair aggregate (map-side combined
    dedup + per-doc tf, ONE exchange on term that every later step
    reuses).  With ``max_df`` set, term df is computed FIRST and viral
    terms (stop words) are dropped BEFORE posting collection via a
    term-key semi-join — at 100 TB this is the load-bearing order:
    a stop word's full posting list is O(corpus) and would dominate the
    collect_set state of a single reducer; the df census is a cheap
    count that never materializes lists.  Both aggregations and the
    semi-join hash-partition on term, so Spark reuses the exchange.
    Without ``max_df`` the build is a single aggregate (the cap then
    bounds only the OUTPUT, not the collect state — set max_df on real
    corpora)."""
    pairs = words_relation(docs, (id_col,), text_col).groupBy(
        "term", id_col
    ).agg(F.count(F.lit(1)).alias("__tf_doc"))
    if max_df is not None:
        dfc = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
        keep = dfc.filter(F.col("__df") <= max_df).select("term")
        pairs = pairs.join(keep, "term", "left_semi")
    out = pairs.groupBy("term").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.sum("__tf_doc").alias("total_tf"),
        F.array_join(
            F.transform(
                F.slice(
                    F.sort_array(F.collect_set(F.col(id_col))),
                    1,
                    postings_cap,
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("top_postings"),
    )
    if min_df > 1:
        out = out.filter(F.col("doc_freq") >= min_df)
    return out


def inverted_index_oracle_sql(
    table: str,
    norm_sql_text: str,
    id_col: str = "doc_id",
    postings_cap: int = 5,
    min_df: int = 1,
    max_df: int | None = None,
) -> str:
    """DuckDB twin of ``inverted_index``; ``norm_sql_text`` is the
    normalized-text SQL expression (the tokenizer twin's input)."""
    dfq = f"HAVING COUNT(*) >= {min_df}" if min_df > 1 else ""
    maxq = (
        f" WHERE term IN (SELECT term FROM pairs GROUP BY term"
        f" HAVING COUNT(*) <= {max_df})"
        if max_df is not None
        else ""
    )
    return (
        f"WITH words AS (SELECT {id_col},"
        f" UNNEST(STRING_SPLIT(TRIM({norm_sql_text}), ' ')) AS term"
        f" FROM {table}),"
        f" pairs AS (SELECT term, {id_col}, COUNT(*) AS tf_doc"
        f" FROM words GROUP BY 1, 2)"
        f" SELECT term, COUNT(*) AS doc_freq,"
        f" CAST(SUM(tf_doc) AS BIGINT) AS total_tf,"
        f" array_to_string(list_slice(list(CAST({id_col} AS VARCHAR)"
        f" ORDER BY {id_col}), 1, {postings_cap}), ',') AS top_postings"
        f" FROM pairs{maxq} GROUP BY term {dfq}"
    )


def bigram_lm_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 50,
) -> DataFrame:
    """Bigram language-model statistics: the ``top_k`` most frequent
    adjacent token pairs with their exact association lift
    ``P(w1 w2) / (P(w1) P(w2))`` — the collocation signal (PMI without
    the log) that n-gram LM training, tokenizer-merge selection (the
    BPE pair-count step IS a bigram count), and phrase mining all start
    from.  Output: ``w1, w2, pair_n, lift_micro`` (lift scaled to
    micro-units by exact integer division — no libm log, whose last
    ulp differs across engines).

    Plan: bigrams come from ONE in-row ``transform(sequence(...))``
    over the token array (no posexplode self-join — the pair relation
    never leaves the row it came from until the count aggregate), then
    one hash agg on (w1, w2); unigram marginals ride the session-staged
    token relation (one hash agg on term); the two marginal joins
    hash-partition on w1/w2 (vocabulary-sized relations).  The corpus
    token total rides the plan as a broadcast 1-row cross join (r12 —
    previously an eager driver collect folded a literal in, costing a
    scalar-aggregate job at construction time).  An empty corpus yields
    an empty result (no pairs survive the joins).  Top-k orders by
    (pair_n DESC, w1, w2) — a unique total order."""
    from shuttle_spark.functions import text as TXF

    staged = docs.select(
        F.col(id_col), TXF.tokens(F.col(text_col)).alias("__toks")
    )
    pair_expr = (
        "CASE WHEN size(__toks) >= 2 THEN"
        " transform(sequence(1, size(__toks) - 1),"
        "  i -> struct(__toks[i-1] AS w1, __toks[i] AS w2))"
        " ELSE array() END"
    )
    pairs = (
        staged.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_n"))
    )
    uni = (
        words_relation(docs, (id_col,), text_col)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    # The corpus token total rides the plan as a broadcast 1-row cross
    # join instead of an eager driver collect (r12, guide §1.2/§5: no
    # construction-time job; the old empty-corpus short-circuit is
    # subsumed — zero tokens means zero pairs, so the joined relation is
    # already empty and no row evaluates the division).
    total_df = uni.agg(F.sum("__n").alias("__tot"))
    dec = "decimal(38,0)"
    joined = (
        pairs.join(uni.select(F.col("term").alias("w1"),
                              F.col("__n").alias("__n1")), "w1")
        .join(uni.select(F.col("term").alias("w2"),
                         F.col("__n").alias("__n2")), "w2")
        .crossJoin(F.broadcast(total_df))
    )
    return (
        joined.withColumn(
            "lift_micro",
            F.expr(
                f"CAST(CAST(pair_n AS {dec}) * CAST(__tot AS {dec})"
                f" * CAST(1000000 AS {dec})"
                f" DIV (CAST(__n1 AS {dec}) * CAST(__n2 AS {dec}))"
                " AS BIGINT)"
            ),
        )
        .orderBy(F.desc("pair_n"), "w1", "w2")
        .limit(top_k)
        .select("w1", "w2", "pair_n", "lift_micro")
    )


def bigram_lm_oracle_sql(
    table: str,
    norm_sql_text: str,
    top_k: int = 50,
) -> str:
    """DuckDB twin of ``bigram_lm_stats`` (identical tokenization, pair
    construction, and integer-division lift)."""
    return (
        f"WITH t AS (SELECT"
        f" STRING_SPLIT(TRIM({norm_sql_text}), ' ') AS l FROM {table}),"
        " p AS (SELECT l[i] AS w1, l[i+1] AS w2 FROM t,"
        "  UNNEST(range(1, len(l))) AS r(i)),"
        " pc AS (SELECT w1, w2, COUNT(*) AS pair_n FROM p GROUP BY 1, 2),"
        f" w AS (SELECT UNNEST(STRING_SPLIT(TRIM({norm_sql_text}), ' '))"
        f" AS term FROM {table}),"
        " u AS (SELECT term, COUNT(*) AS n FROM w GROUP BY 1),"
        " tot AS (SELECT CAST(SUM(n) AS HUGEINT) AS total FROM u)"
        " SELECT pc.w1, pc.w2, pc.pair_n,"
        " CAST(CAST(pc.pair_n AS HUGEINT) * tot.total * 1000000"
        "  // (CAST(u1.n AS HUGEINT) * CAST(u2.n AS HUGEINT)) AS BIGINT)"
        "  AS lift_micro"
        " FROM pc JOIN u u1 ON pc.w1 = u1.term"
        " JOIN u u2 ON pc.w2 = u2.term, tot"
        f" ORDER BY pc.pair_n DESC, pc.w1, pc.w2 LIMIT {top_k}"
    )


def bpe_pair_merge(symbols: list, left: str, right: str) -> list:
    """Greedy left-to-right single-pair merge — the BPE reference step,
    shared verbatim by the distributed apply (Arrow batch below) and the
    pure-Python replay oracle so both can only drift together."""
    out, i, n = [], 0, len(symbols)
    merged = left + right
    while i < n:
        if i + 1 < n and symbols[i] == left and symbols[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def _bpe_train_vocab(
    vocab: list, n_merges: int, min_pair_count: int
) -> list:
    """Pure-Python BPE merge loop over a collected ``[symbols, count]``
    vocabulary with INCREMENTAL pair-count maintenance — the driver-side
    fast path of ``bpe_train`` (and the classic single-machine BPE
    implementation shape): a lazy-invalidation heap keyed on
    ``(-count, left, right)`` gives the per-round argmax in O(log P),
    and each merge reworks ONLY the words that still contain the pair
    adjacently (found via a pair -> word-index map; stale entries are
    detected by a no-op ``bpe_pair_merge`` and skipped), dropping the
    word's old adjacent-pair contributions and re-adding the new ones so
    the maintained counts stay EXACTLY equal to a full recount.  Total
    cost is O(corpus-collapse) + O(touched symbols) over all merges —
    32k merges over a million-word vocabulary is seconds, not 64k Spark
    jobs.  Tie-break (count DESC, then (left, right) ASC) matches the
    distributed loop bit-for-bit; a pytest parity gate holds the two
    paths equal."""
    import heapq

    counts: dict = {}
    where: dict = {}

    def _add(idx: int, syms: list, n: int, touched: set) -> None:
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            counts[p] = counts.get(p, 0) + n
            where.setdefault(p, set()).add(idx)
            touched.add(p)

    def _drop(syms: list, n: int, touched: set) -> None:
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            counts[p] -= n
            touched.add(p)

    init: set = set()
    for idx, (syms, n) in enumerate(vocab):
        _add(idx, syms, n, init)
    heap = [(-c, p[0], p[1]) for p, c in counts.items() if c > 0]
    heapq.heapify(heap)
    merges: list[tuple] = []
    for rank in range(n_merges):
        best = None
        while heap:
            negc, left, right = heapq.heappop(heap)
            # lazy invalidation: only the entry matching the CURRENT
            # count is live; stale pushes from earlier updates are
            # discarded here
            if counts.get((left, right), 0) == -negc:
                best = (left, right, -negc)
                break
        if best is None or best[2] < min_pair_count:
            break
        left, right, cnt = best
        merges.append((rank, left, right, left + right, cnt))
        touched: set = set()
        for idx in list(where.get((left, right), ())):
            syms, n = vocab[idx]
            new = bpe_pair_merge(syms, left, right)
            if len(new) == len(syms):
                continue  # stale index entry: pair no longer adjacent
            _drop(syms, n, touched)
            vocab[idx][0] = new
            _add(idx, new, n, touched)
        counts.pop((left, right), None)
        where.pop((left, right), None)
        touched.discard((left, right))
        for p in touched:
            c = counts.get(p, 0)
            if c > 0:
                heapq.heappush(heap, (-c, p[0], p[1]))
    return merges


def bpe_pair_merge_expr(syms, left: str, right: str):
    """JVM expression twin of ``bpe_pair_merge``: the same greedy
    left-to-right single-pair merge as a higher-order ``aggregate`` fold
    (state = (acc, pend): ``pend`` holds an as-yet-unappended ``left``
    candidate; the finisher flushes it).  Non-overlap is inherited from
    the state machine: consuming ``right`` clears ``pend``, so the pair
    cannot re-match its own output — exactly ``bpe_pair_merge``'s
    ``i += 2``.  Bit-parity with the Python kernel is pinned by a
    dedicated unit test over the adversarial shapes (overlap runs,
    merged == left, empty/singleton) and by the train-level replay
    contracts.  Exists so bpe_train's per-round rewrite runs inside the
    JVM (guide §4.1: built-ins over Python) instead of an Arrow
    mapInPandas stage per merge round."""
    l, r, m = F.lit(left), F.lit(right), F.lit(left + right)
    empty = F.lit([]).cast("array<string>")

    def step(s, x):
        acc, pend = s.getField("acc"), s.getField("pend")
        return (
            F.when(
                pend & (x == r),
                F.struct(
                    F.concat(acc, F.array(m)).alias("acc"),
                    F.lit(False).alias("pend"),
                ),
            )
            .when(
                pend & (x == l),
                F.struct(
                    F.concat(acc, F.array(l)).alias("acc"),
                    F.lit(True).alias("pend"),
                ),
            )
            .when(
                pend,
                F.struct(
                    F.concat(acc, F.array(l, x)).alias("acc"),
                    F.lit(False).alias("pend"),
                ),
            )
            .when(
                x == l,
                F.struct(acc.alias("acc"), F.lit(True).alias("pend")),
            )
            .otherwise(
                F.struct(
                    F.concat(acc, F.array(x)).alias("acc"),
                    F.lit(False).alias("pend"),
                )
            )
        )

    return F.aggregate(
        syms,
        F.struct(empty.alias("acc"), F.lit(False).alias("pend")),
        step,
        lambda s: F.when(
            s.getField("pend"),
            F.concat(s.getField("acc"), F.array(l)),
        ).otherwise(s.getField("acc")),
    )


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 40,
    min_pair_count: int = 2,
    driver_fast_max_words: int = 0,
) -> DataFrame:
    """Byte-pair-encoding merge-table training (Sennrich et al. 2016) —
    the tokenizer-training step of an LLM data pipeline, distributed.
    Returns the learned merge table: ``rank, left, right, merged,
    pair_count`` (rank 0 = first merge), the artifact a tokenizer ships.

    Scale shape: ONE corpus-scale pass — a hash aggregate collapsing the
    corpus to its distinct-WORD frequency dict (classic BPE trains on
    (word, count), so a 100 TB corpus reduces to a vocabulary-sized
    relation in a single map-side-combined aggregate) — then
    ``n_merges`` rounds over that vocab relation only: per round one
    pair-count aggregate (adjacent symbol pairs via the in-row
    ``transform(sequence(...))`` bigram kernel, weighted by word count,
    counting overlapping positions like the reference algorithm), ONE
    collected argmax row (count DESC, then (left, right) ASC — a total
    order, so ties are deterministic), and one all-JVM merge application
    (``bpe_pair_merge_expr``, a higher-order aggregate fold
    parity-pinned to the Python kernel — r12 replaced the per-round
    Arrow mapInPandas stage) GATED on ``array_contains(left) AND
    array_contains(right)`` (the pii literal-gate discipline: words
    that cannot contain the pair skip the fold entirely).  Each round's vocab relation is
    ``localCheckpoint``-ed like the connected-components rounds so plan
    lineage stays O(1) across iterations.

    Vocab-scale bound (stated, not hidden): the distributed loop costs
    ONE strictly sequential Spark job per merge (the pair-count +
    argmax collect, whose scan stage also materializes the previous
    round's lazily-checkpointed rewrite — r12: the checkpoint was
    eager before, costing a second job per merge), so a production
    32k–100k-merge vocabulary is ~10⁵ sequential jobs —
    job-launch latency dominates long before data size does.  The
    corpus-scale collapse already reduced the problem to the distinct-
    word dict, which for real corpora is driver-sized (10⁶–10⁸ rows of a
    few dozen bytes); pass ``driver_fast_max_words`` > 0 to take the
    incremental pure-Python path (``_bpe_train_vocab``: heap argmax +
    per-pair word index, O(touched symbols) total instead of
    2·n_merges jobs) whenever the counted vocab fits the bound, falling
    back to the distributed rounds when it does not.  The two paths are
    bit-equal (same kernel, same tie-break; pytest parity gate), so the
    fast path is a pure latency optimization.  Default 0 keeps the
    distributed rounds — the replay-equality contract gates THAT path.

    Word model: whitespace tokens of the normalized text, each word a
    character-symbol sequence with no end-of-word marker (merges never
    cross word boundaries; add a marker upstream if word-final symbols
    should stay distinct).  Training stops early when the best pair's
    count drops below ``min_pair_count`` — the returned table may be
    shorter than ``n_merges``.

    Determinism: exact integer counts + the total-order tie-break make
    the merge table bit-stable; the contract replays the identical loop
    (same ``bpe_pair_merge``) in pure Python over the collected word
    dict and requires exact table equality."""
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(TX.tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.split(F.col("w"), "").alias("syms"), "n")
        # lazy: the first consumer (the fast-path count or round 0's
        # argmax) materializes the collapse inside its own job instead of
        # paying a separate eager-materialization job (guide §1.2: fewer
        # sequential jobs, identical computation)
        .localCheckpoint(eager=False)
    )
    merge_schema = (
        "rank long, left string, right string, merged string,"
        " pair_count long"
    )
    if driver_fast_max_words > 0 and (
        words.count() <= driver_fast_max_words
    ):
        vocab = [[list(r["syms"]), int(r["n"])] for r in words.collect()]
        fast = _bpe_train_vocab(vocab, n_merges, min_pair_count)
        return spark.createDataFrame(fast, merge_schema)
    pair_expr = (
        "CASE WHEN size(syms) >= 2 THEN"
        " transform(sequence(1, size(syms) - 1),"
        "  i -> struct(syms[i-1] AS l, syms[i] AS r))"
        " ELSE array() END"
    )
    merges: list[tuple] = []
    for rank in range(n_merges):
        best = (
            words.select(F.explode(F.expr(pair_expr)).alias("p"), "n")
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("c"))
            .orderBy(F.desc("c"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best or best[0]["c"] < min_pair_count:
            break
        left, right, cnt = best[0]["l"], best[0]["r"], int(best[0]["c"])
        merges.append((rank, left, right, left + right, cnt))

        # r12: the rewrite is a pure JVM expression (bpe_pair_merge_expr,
        # parity-pinned to the Python kernel) gated on the same
        # containment test the Arrow stage used — one narrow projection
        # per round, no Python boundary, no filter-union split (whose
        # partition doubling the old coalesce existed to contain).
        hit = F.array_contains("syms", left) & F.array_contains(
            "syms", right
        )
        rewritten = words.select(
            F.when(hit, bpe_pair_merge_expr(F.col("syms"), left, right))
            .otherwise(F.col("syms"))
            .alias("syms"),
            "n",
        )
        # LAZY checkpoint (the pagerank idiom): the logical plan is
        # truncated immediately, and the rewrite materializes as the scan
        # stage of the NEXT round's argmax job — one sequential Spark job
        # per merge instead of two (the argmax collect + a separate eager
        # materialization), and the final round's rewrite (which nothing
        # consumes) is never computed at all.  Bit-identical rounds: the
        # same relation is materialized, only inside the consumer's job.
        words = rewritten.localCheckpoint(eager=False)
    return spark.createDataFrame(merges, merge_schema)


def bpe_encode_word(symbols: list, merges: list) -> list:
    """Encode one word with a rank-ordered merge list — apply each merge
    greedily in training order (the reference encode rule).  Shared by
    the distributed stats pass and the replay oracle."""
    for left, right in merges:
        if len(symbols) < 2:
            break
        # cheap containment gate before the full pass
        if left in symbols and right in symbols:
            symbols = bpe_pair_merge(symbols, left, right)
    return symbols


def bpe_subtoken_stats(
    docs: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Corpus tokenization census under a TRAINED BPE merge table — the
    encode side of ``bpe_train`` and the number every pre-training data
    plan starts from ("how many subword tokens is this corpus?").
    Output (ONE row, exact integers): ``n_words`` (corpus word
    occurrences), ``n_distinct_words``, ``n_subtokens`` (total encoded
    length, frequency-weighted), ``vocab_subtokens`` (distinct symbols
    the encoded corpus actually uses).

    Scale shape, same as training: ONE corpus-scale aggregate collapses
    to the distinct-word frequency dict; each DISTINCT word is encoded
    exactly once in an Arrow batch stage (``merges`` rides the closure —
    it is the vocab-small trained artifact, a broadcast by construction)
    and every corpus-level number is a weighted aggregate of that
    vocab-sized relation.  A 100 TB corpus pays one scan + one
    word-count exchange; Python touches only the vocabulary — and so
    does every JVM aggregation buffer: the encoded relation is
    ``posexplode``-d to (position, symbol) rows so the four census
    numbers fall out of ONE pass with bounded per-task state —
    word-level sums are keyed on ``pos = 0`` (exactly one zero-position
    row per word, since a non-empty word never encodes below one
    symbol) and the used-symbol vocabulary is a two-phase
    ``count(DISTINCT symbol)`` (Catalyst's Expand plan: partial
    distinct per task, final distinct after a hash exchange on the
    symbol — every buffer holds at most the per-task symbol set, never
    the corpus's full array-of-arrays, which an earlier collect_list
    formulation wrongly concentrated in a single reducer)."""
    import pandas as pd
    from pyspark.sql import types as T

    merge_list = [(str(a), str(b)) for a, b in merges]
    words = (
        docs.select(F.explode(TX.tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out_schema = T.StructType(
        [
            T.StructField("syms", T.ArrayType(T.StringType())),
            T.StructField("n", T.LongType()),
        ]
    )

    def encode(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "syms": [
                        bpe_encode_word(list(w), merge_list)
                        for w in pdf["w"]
                    ],
                    "n": pdf["n"].values,
                }
            )

    enc = words.mapInPandas(encode, out_schema)
    sym = enc.select(
        "n", F.posexplode("syms").alias("pos", "s")
    )
    first = F.col("pos") == 0
    return sym.agg(
        F.sum(F.when(first, F.col("n"))).alias("n_words"),
        F.count(F.when(first, F.lit(1))).alias("n_distinct_words"),
        F.sum("n").alias("n_subtokens"),
        F.countDistinct("s").cast("long").alias("vocab_subtokens"),
    )
