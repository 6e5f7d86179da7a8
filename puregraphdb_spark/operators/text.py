"""Text-analysis operators for training-data pipelines (driver brief):
language identification, quality scoring, token counting, document
fingerprinting. All pure Column expressions — the per-document work is
a map over the corpus with zero shuffles; only explicit aggregations
shuffle.

These complement the oracled q27/q28 (term frequencies / corpus stats)
with the heuristics a 100-TB pretraining pipeline actually filters on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from puregraphdb_spark.operators.similarity import tokens

#: Tiny per-language stopword profiles (n-gram heuristic): language id
#: = argmax of stopword hits. Deliberately small and deterministic —
#: a real deployment swaps in fastText/CLD profiles behind the same
#: column contract.
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "es": ["el", "la", "de", "que", "y", "los", "es", "una"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
}

#: BPE-ish token pattern: runs of word chars, single punctuation marks,
#: or non-ascii glyphs — approximates subword pre-tokenization.
_BPE_SPLIT = r"(?=[^\w\s])|(?<=[^\w\s])|\s+"


def detect_language(text_col: str | F.Column | None = None, *,
                    dtoks_col: F.Column | None = None) -> F.Column:
    """argmax language by stopword hits; 'und' (undetermined) when no
    profile matches.

    ``dtoks_col``: optionally a PRE-STAGED distinct-token array column
    (node2vec round-9 lesson): inlined, the split+distinct tree is
    re-evaluated once per language profile in the per-language
    intersects below — hot callers (profile_documents) stage it once.
    """
    toks = (F.array_distinct(tokens(text_col))
            if dtoks_col is None else dtoks_col)
    best_lang, best_score = F.lit("und"), F.lit(0)
    for lang, words in _STOPWORDS.items():
        score = F.size(F.array_intersect(
            toks, F.array(*[F.lit(w) for w in words])
        ))
        better = score > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, score).otherwise(best_score)
    return best_lang


def token_count_ws(text_col: str | F.Column) -> F.Column:
    """Whitespace token count."""
    return F.size(tokens(text_col))


def token_count_bpe(text_col: str | F.Column) -> F.Column:
    """BPE-ish token count: words split from punctuation (regex
    pre-tokenization approximating subword tokenizers)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.filter(F.split(c, _BPE_SPLIT), lambda t: t != ""))


def quality_score(text_col: str | F.Column, *,
                  toks_col: F.Column | None = None,
                  dtoks_col: F.Column | None = None) -> F.Column:
    """Heuristic quality in [0,1]: penalize extreme length, high
    punctuation density, low stopword ratio, low alphabetic ratio —
    the standard cheap pretraining filters.

    ``toks_col``/``dtoks_col``: optional pre-staged (distinct) token
    arrays — inlined, the split tree evaluates ~3x (size + two
    distinct-intersect uses) per row."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.round(
        quality_score_raw(c, toks_col=toks_col, dtoks_col=dtoks_col), 4)


def quality_score_raw(text_col: str | F.Column, *,
                      toks_col: F.Column | None = None,
                      dtoks_col: F.Column | None = None) -> F.Column:
    """Unrounded ``quality_score`` product — every factor is an exact
    integer ratio in IEEE double with a FIXED operand order, so the
    raw double is bit-identical cross-engine when the oracle spells
    the same expression tree; callers pick their rounding (F.round
    for the Spark-only path, decimal_round for oracled surfaces)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(c) if toks_col is None else toks_col
    n_tok = F.size(toks)
    n_chars = F.length(c)
    alpha_ratio = F.length(F.regexp_replace(c, r"[^\pL ]", "")) / F.greatest(
        n_chars, F.lit(1)
    )
    punct_ratio = F.length(F.regexp_replace(c, r"[\pL\pN\s]", "")) / F.greatest(
        n_chars, F.lit(1)
    )
    all_stop = F.array(*[
        F.lit(w) for words in _STOPWORDS.values() for w in words
    ])
    dtoks = F.array_distinct(toks) if dtoks_col is None else dtoks_col
    stop_ratio = F.size(F.array_intersect(dtoks, all_stop)) / F.greatest(
        F.size(dtoks), F.lit(1)
    )
    len_ok = F.when((n_tok >= 5) & (n_tok <= 100000), F.lit(1.0)).otherwise(0.3)
    return (
        len_ok * (F.lit(1.0) - punct_ratio) * (F.lit(0.5) + F.lit(0.5) * alpha_ratio)
        * (F.lit(0.7) + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0)))
    )


def fingerprint(text_col: str | F.Column | None = None,
                window: int = 8, *,
                hashes_col: F.Column | None = None) -> F.Column:
    """Winnowing-style document fingerprint: min rolling-window hash
    over token hashes — robust to small edits, one long per doc.

    ``hashes_col``: optionally a PRE-STAGED token-hash array column.
    Inlined, the hash-array tree sits inside the per-window slice
    lambda, so it re-evaluates PER WINDOW — O(windows x tokens)
    re-hashing per document; hot callers stage it once."""
    hashes = (F.transform(tokens(text_col), lambda t: F.xxhash64(t))
              if hashes_col is None else hashes_col)
    n = F.size(hashes)
    windows_arr = F.transform(
        F.sequence(F.lit(0), F.greatest(n - window, F.lit(0))),
        lambda i: F.xxhash64(F.array_join(F.slice(hashes, i + 1, window), ",")),
    )
    return F.coalesce(F.array_min(windows_arr), F.lit(0).cast("long"))


def fingerprint_md5(toks_col: F.Column, window: int = 8) -> F.Column:
    """Portable winnowing fingerprint: minimum md5 hex string over the
    space-joined token windows — the q84 cross-engine discipline at
    the profile's window size (md5 + lexicographic string min are
    engine-independent; ``fingerprint`` is the same family over
    Spark-only xxhash64). Documents with fewer than ``window`` tokens
    hash their full token run once (slice truncates past the end), so
    every non-empty doc fingerprints somewhere; an empty token array
    hashes the empty string — still deterministic cross-engine.

    Takes a PRE-STAGED token array column (the round-9 staging rule:
    inlined, a split tree would re-evaluate per window)."""
    n = F.size(toks_col)
    windows_arr = F.transform(
        F.sequence(F.lit(0), F.greatest(n - window, F.lit(0))),
        lambda i: F.md5(F.array_join(F.slice(toks_col, i + 1, window), " ")),
    )
    return F.array_min(windows_arr)


def word_ngram_array(ts: F.Column, n: int = 5) -> F.Column:
    """Distinct word n-grams from an ALREADY-SPLIT token array column.
    Callers on a hot path should stage the split into a real column
    first (one select) and build+consume the n-gram array in the SAME
    select — shuttling a constructed array column across a separate
    projection into a Generate (explode) costs ~3× (measured sf0.1:
    250k grams, 1.0 s fused vs 3.3 s two-select)."""
    return F.when(
        F.size(ts) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - (n - 1)),
                lambda i: F.array_join(F.slice(ts, i, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams(text_col: str | F.Column, n: int = 5) -> F.Column:
    """Distinct word n-grams of a lowercased, space-split text — the
    contamination-check unit (a benchmark excerpt appearing verbatim in
    a training doc shares its word n-grams). Plain single-space split
    (not ``\\s+``) so the set is bit-identical to an engine-independent
    ``string_split(lower(text), ' ')`` oracle. Texts with fewer than n
    tokens have NO n-grams (explicit guard: Spark's sequence(1,0) is
    descending and would fabricate one — the q63 lesson)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return word_ngram_array(F.split(F.lower(c), " "), n)


def contamination_report(corpus: DataFrame, benchmark: DataFrame,
                         n: int = 5, text_col: str = "text",
                         id_col: str = "doc_id",
                         broadcast_benchmark: bool = True) -> DataFrame:
    """Benchmark-contamination check: which corpus docs contain word
    n-grams of any benchmark doc, and how much of the doc is covered.

    Returns one row per CONTAMINATED corpus doc: (corpus_id, n_ngrams,
    n_matched, n_bench_docs) — n_matched distinct corpus n-grams also
    present in the benchmark, n_bench_docs distinct benchmark docs hit.
    Callers derive the ratio n_matched/n_ngrams and threshold it (the
    usual decontamination rule: drop docs over ~some % overlap).

    Scale shape (100 TB corpus, bounded benchmark — the contract): the
    benchmark explodes to a distinct (gram, bench_id) table and is
    BROADCAST; the corpus builds n-gram sets map-side and explodes into
    the broadcast hash join, so non-matching grams (the overwhelming
    majority) die map-side — the only shuffle is the per-doc aggregation
    of MATCHES, which is at most benchmark-sized × dup-factor, never
    corpus-sized. ``broadcast_benchmark=False`` switches to a plain
    shuffle join for an unbounded benchmark side.
    """
    # Careful staging (measured sf0.1: 10 s → 1.5 s end-to-end):
    # expressions sharing a select with explode() are planned ABOVE the
    # Generate — size(<ngram array>) there would REBUILD the whole
    # array once per exploded row. Stage the split and the size in
    # selects below the explode so each is computed once per doc; the
    # optimizer keeps them under the Generate.
    ng = word_ngram_array(F.col("__ts"), n)
    cx = (
        corpus.select(
            F.col(id_col).alias("corpus_id"),
            F.split(F.lower(text_col), " ").alias("__ts"),
        )
        .select(
            "corpus_id",
            F.size(ng).cast("long").alias("n_ngrams"),
            "__ts",
        )
        .select("corpus_id", "n_ngrams", F.explode(ng).alias("gram"))
    )
    bg = (
        benchmark.select(
            F.col(id_col).alias("bench_id"),
            F.explode(word_ngrams(text_col, n)).alias("gram"),
        )
        .distinct()
    )
    if broadcast_benchmark:
        bg = F.broadcast(bg)
    return (
        cx.join(bg, "gram")
        .groupBy("corpus_id", "n_ngrams")
        .agg(
            F.countDistinct("gram").alias("n_matched"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


def benchmark_attribution(corpus: DataFrame, benchmarks: DataFrame,
                          n: int = 5, text_col: str = "text",
                          id_col: str = "doc_id",
                          source_col: str = "source",
                          bench_col: str = "bench",
                          broadcast_benchmark: bool = True,
                          labels: list[str] | None = None) -> DataFrame:
    """Multi-benchmark decontamination attribution: per (corpus
    source, benchmark), how many corpus documents share at least one
    word n-gram with THAT benchmark — q66 tells you a doc is
    contaminated; this tells you which eval suite leaked into which
    feed, the table a curation run reads to decide what to drop and
    which upstream source to fix. Zero rows are kept (the full
    source × benchmark grid), so a clean cell is evidence, not
    absence. ``benchmarks`` is a (bench, text) relation.

    Scale: the benchmark side explodes to a distinct (bench, gram)
    table — bounded, BROADCAST under the caller's gate; corpus grams
    build and dedup map-side per doc and die in the broadcast join
    unless they match, so the only shuffle is the distinct
    (source, doc, bench) hit set — at most |benchmark grams| ×
    dup-factor, never corpus-sized. The grid is a tiny cross join of
    two distinct aggregates; when the caller already knows the
    benchmark labels, pass ``labels`` so the grid axis is a literal
    relation instead of a distinct() that re-executes the (possibly
    corpus-derived) ``benchmarks`` lineage a second time (r12
    lineage-dedup).
    """
    bg = (
        benchmarks.select(
            F.col(bench_col).alias("bench"),
            F.explode(word_ngrams(text_col, n)).alias("gram"),
        ).distinct()
    )
    if broadcast_benchmark:
        bg = F.broadcast(bg)
    ng = word_ngram_array(F.col("__ts"), n)
    cg = (
        corpus.select(
            F.col(source_col).alias("source"),
            F.col(id_col).alias("doc"),
            F.split(F.lower(text_col), " ").alias("__ts"),
        )
        .select("source", "doc",
                F.explode(F.array_distinct(ng)).alias("gram"))
    )
    hits = (
        cg.join(bg, "gram")
        .select("source", "doc", "bench").distinct()
        .groupBy("source", "bench")
        .agg(F.count("*").cast("long").alias("n_contaminated"))
    )
    totals = corpus.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").cast("long").alias("n_docs"))
    if labels is not None:
        lab = corpus.sparkSession.range(1).select(
            F.explode(F.array(*[F.lit(x) for x in sorted(labels)]))
            .alias("bench"))
    else:
        lab = benchmarks.select(F.col(bench_col).alias("bench")).distinct()
    grid = totals.crossJoin(F.broadcast(lab))
    from puregraphdb_spark.functions.numeric import decimal_round

    return (
        grid.join(hits, ["source", "bench"], "left")
        .na.fill(0, ["n_contaminated"])
        .select(
            "source", "bench", "n_docs", "n_contaminated",
            decimal_round(
                F.col("n_contaminated").cast("double")
                / F.col("n_docs").cast("double"), 6, grid=10,
            ).alias("contam_doc_ratio"),
        )
    )


# -- corpus-level operators (rows-only queries() entries) --------------------


def profile_documents(docs: DataFrame, text_col: str = "text", *,
                      portable: bool = True) -> DataFrame:
    """Per-document analysis record: detected language, token counts,
    quality, fingerprint. Pure map — 0 shuffles at any scale.

    ``portable=True`` (default, the ORACLED surface since r13):
    fingerprint = min-md5 hex string (``fingerprint_md5``) and
    quality snaps to the exact decimal grid — both bit-identical
    cross-engine. ``portable=False`` is the Spark-only fast path
    (xxhash64 long fingerprints — ~3× cheaper per window than md5 —
    and plain F.round quality) for 100-TB runs that don't need an
    external oracle to reproduce the hashes.

    The token array and its distinct set (plus, on the fast path, the
    token-hash array) are STAGED once per row; inlined, the split
    tree was re-evaluated ~10x per document across the five profile
    columns (once per language profile, twice in the quality ratios,
    per-window in the fingerprint) — the round-9 staged-projection
    discipline.
    """
    from puregraphdb_spark.functions.numeric import decimal_round

    staged = docs.select(
        "doc_id", F.col(text_col).alias("__text"),
        tokens(text_col).alias("__toks"),
    )
    if portable:
        staged = staged.select(
            "doc_id", "__text", "__toks",
            F.array_distinct("__toks").alias("__dtoks"),
        )
        fp = fingerprint_md5(F.col("__toks"))
        quality = decimal_round(
            quality_score_raw("__text", toks_col=F.col("__toks"),
                              dtoks_col=F.col("__dtoks")), 4, grid=8)
    else:
        staged = staged.select(
            "doc_id", "__text", "__toks",
            F.array_distinct("__toks").alias("__dtoks"),
            F.transform("__toks", lambda t: F.xxhash64(t)).alias("__th"),
        )
        fp = fingerprint(hashes_col=F.col("__th"))
        quality = quality_score("__text", toks_col=F.col("__toks"),
                                dtoks_col=F.col("__dtoks"))
    return staged.select(
        "doc_id",
        detect_language(dtoks_col=F.col("__dtoks"))
        .alias("lang_detected"),
        F.size("__toks").cast("long").alias("n_tokens_ws"),
        token_count_bpe("__text").cast("long").alias("n_tokens_bpe"),
        quality.alias("quality"),
        fp.alias("fingerprint"),
    )


def corpus_quality_report(docs: DataFrame, text_col: str = "text", *,
                          portable: bool = True) -> DataFrame:
    """Aggregate quality/language report per declared source — the
    dataset-curation dashboard query. 1 shuffle; the per-doc profile
    is map-side. ``portable`` (default): decimal-grid averages over
    the portable profile — hash-oracled cross-engine; the grid snap
    absorbs partial-aggregation FP summation order (q51 discipline).
    """
    from puregraphdb_spark.functions.numeric import decimal_round

    p = profile_documents(docs, text_col, portable=portable)
    rnd_q = (decimal_round(F.avg("quality"), 4, grid=8) if portable
             else F.round(F.avg("quality"), 4))
    rnd_t = (decimal_round(F.avg("n_tokens_bpe"), 2, grid=6) if portable
             else F.round(F.avg("n_tokens_bpe"), 2))
    return (
        docs.join(p, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            rnd_q.alias("avg_quality"),
            rnd_t.alias("avg_tokens_bpe"),
            F.countDistinct("lang_detected").cast("long")
            .alias("n_langs"),
            F.countDistinct("fingerprint").cast("long")
            .alias("n_distinct_fp"),
        )
        .orderBy("source")
    )
