"""Corpus text analytics — the training-data-pipeline extension family
(BASELINE.json north star): token counting, language-ID heuristic, quality
scoring.  All pure Catalyst expressions (higher-order functions over token
arrays) — JVM-side, codegen'd, no UDFs — and all replicable in ANSI-ish SQL
for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.functions import text as TXT

# Tiny per-language stopword lists (fixed; shared verbatim with the oracle
# SQL).  A real pipeline would swap in fastText lang-id via the U1-style UDF
# seam; the heuristic is the deterministic, SQL-checkable tier.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "es", "por"],
    "fr": ["le", "les", "des", "et", "de", "un", "une", "est", "dans", "pour"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"],
}

# BPE-ish token estimate: word chars runs + single non-space specials
# (a standard cheap proxy for subword token counts).
BPE_ISH_PATTERN = r"(?U)\w+|[^\w\s]"


def _toks(col: Column) -> Column:
    return TXT.tokens(col)


def _stop_hits(toks: Column, lang: str) -> Column:
    return F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in STOPWORDS[lang]])))


def _lang_guess(en: Column, es: Column, fr: Column, de: Column) -> Column:
    """Deterministic argmax over the stopword hits.  Tie order: en > es >
    fr > de; all-zero -> 'unknown'."""
    return (
        F.when((en >= es) & (en >= fr) & (en >= de) & (en > 0), "en")
        .when((es >= fr) & (es >= de) & (es > 0), "es")
        .when((fr >= de) & (fr > 0), "fr")
        .when(de > 0, "de")
        .otherwise("unknown")
    )


def _bigrams(toks: str) -> Column:
    """The word-bigram array of a token-array column ("a b" per adjacent
    pair; empty below two tokens)."""
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _top_frac(col: str) -> Column:
    """Fraction of the array consumed by its most frequent element (0.0
    when empty): ``array_sort`` then one run-length fold carrying
    (prev, run, best), O(n log n) per row.  Elements are non-null (token
    and bigram arrays never hold nulls)."""
    s = F.array_sort(F.col(col))

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(1)
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    # prev only types the struct: with run at 0, the first step opens a
    # run of 1 whatever prev holds
    init = F.struct(
        F.get(s, 0).alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    top = F.aggregate(s, init, step, lambda acc: acc["best"])
    n = F.size(col)
    return F.when(n > 0, top.cast("double") / n).otherwise(0.0)


def _uniq_frac(col: str) -> Column:
    """Distinct-element fraction of the array (0.0 when empty)."""
    return F.when(
        F.size(col) > 0,
        F.size(F.array_distinct(col)).cast("double") / F.size(col),
    ).otherwise(0.0)


def winnowing_fingerprints(
    documents: DataFrame, k: int = 8, w: int = 4
) -> DataFrame:
    """(doc_id, n_grams, n_selected, fp): rolling-hash document fingerprints
    by winnowing (Schleimer et al. 2003 — the MOSS algorithm).

    Character k-grams of the canonical text are hashed to 32-bit ints
    (first 8 md5 hex chars — engine-portable, the oracle replicates the
    arithmetic), then each sliding window of ``w`` consecutive gram hashes
    selects its minimum; the fingerprint is the sorted distinct set of
    selected values.  Winnowing guarantees any shared substring of length
    >= k + w - 1 contributes a shared fingerprint, making ``fp`` overlap a
    plagiarism/near-dup signal with bounded density (~2/(w+1)).

    All higher-order functions, zero UDFs, map-only — the gram-hash array
    is materialized as a real column between the two transforms so the
    window pass never re-evaluates the md5 chain (the lambda-capture trap
    in SCALE.md "Planner lessons").  Docs shorter than k get an empty
    fingerprint; shorter than k+w-1 grams collapse to one global-min
    selection (the standard boundary rule).
    """
    proc = TXT.preprocess_text(F.col("text"))
    base = documents.select("doc_id", proc.alias("proc"))
    n_grams = F.greatest(F.length("proc") - (k - 1), F.lit(0))
    hashes = F.when(
        n_grams > 0,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.conv(
                F.substring(F.md5(F.substr(F.col("proc"), i, F.lit(k))), 1, 8),
                16,
                10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    hs = base.select("doc_id", hashes.alias("hs"))
    n = F.size("hs")
    sel = (
        F.when(
            n >= w,
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), n - (w - 1)),
                        lambda i: F.array_min(F.slice(F.col("hs"), i, w)),
                    )
                )
            ),
        )
        .when(n > 0, F.array(F.array_min("hs")))
        .otherwise(F.array().cast("array<long>"))
    )
    staged = hs.select("doc_id", n.cast("long").alias("n_grams"), sel.alias("fp"))
    return staged.select(
        "doc_id",
        "n_grams",
        F.size("fp").cast("long").alias("n_selected"),
        "fp",
    )


def quality_components(
    toks: Column, stop_hits: Column | None = None
) -> dict[str, Column]:
    """The composite quality heuristic's ingredients over a token-array
    column: n / mean_len / stop_ratio / uniq_ratio / score (un-rounded).
    ONE definition shared by text_metrics and the pipeline filter funnel,
    so the published quality_score and the funnel's keep/drop decisions
    can never drift apart.  The expression
    shapes (when-chains, operand order) are part of the oracle contract —
    both engines must perform the identical float operations.

    ``stop_hits``: pass an already-built English stop-hit count when the
    caller also emits it as its own column (text_metrics) — inlining a
    second copy of the array_intersect would double the heaviest
    subexpression's codegen."""
    n = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    mean_len = F.when(n > 0, sum_len.cast("double") / n).otherwise(0.0)
    if stop_hits is None:
        stop_hits = _stop_hits(toks, "en")
    stop_ratio = F.when(
        n > 0, stop_hits.cast("double") / n
    ).otherwise(0.0)
    uniq_ratio = F.when(
        n > 0, F.size(F.array_distinct(toks)).cast("double") / n
    ).otherwise(0.0)
    score = (
        F.when((n >= 10) & (n <= 2000), 0.25).otherwise(0.0)
        + F.when((mean_len >= 3.0) & (mean_len <= 10.0), 0.25).otherwise(0.0)
        + F.when(stop_ratio >= 0.01, 0.25).otherwise(0.0)
        + 0.25 * uniq_ratio
    )
    return {
        "n": n,
        "mean_len": mean_len,
        "stop_ratio": stop_ratio,
        "uniq_ratio": uniq_ratio,
        "score": score,
    }


def text_metrics(documents: DataFrame) -> DataFrame:
    """The per-document text-metrics relation in ONE map-only projection:
    token stats (n_chars .. mean_token_len), repetition diagnostics (the
    fraction of the document consumed by its single most frequent token /
    word-bigram, and bigram diversity — Gopher/C4 filter family), per-
    language stopword hits with a deterministic argmax guess (tie order
    en > es > fr > de; all-zero -> 'unknown'), and the composite quality
    score 0.25*(10<=n_tokens<=2000) + 0.25*(3<=mean_tok_len<=10)
    + 0.25*(stopword_ratio>=0.01) + 0.25*uniq_ratio.

    The (toks, bg) arrays are staged as real columns once and every metric
    reads them, so the preprocess/tokenize chain is never re-evaluated per
    metric family and there is no join or shuffle anywhere.  The per-row
    mode count is a run-length fold over the sorted grams (``_top_frac``):
    only the maximum COUNT is emitted, never which gram, so ties cost no
    determinism."""
    proc = TXT.preprocess_text(F.col("text"))
    staged = documents.select(
        "doc_id",
        "text",
        F.col("lang").alias("declared_lang"),
        _toks(proc).alias("toks"),
    ).select("*", _bigrams("toks").alias("bg"))
    toks = F.col("toks")
    en, es, fr, de = (_stop_hits(toks, L) for L in ("en", "es", "fr", "de"))
    q = quality_components(toks, stop_hits=en)
    n, mean_len, stop_ratio, uniq_ratio, score = (
        q["n"], q["mean_len"], q["stop_ratio"], q["uniq_ratio"], q["score"],
    )
    guess = _lang_guess(en, es, fr, de)
    return staged.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit(""))).alias("n_chars"),
        n.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        F.size(
            F.regexp_extract_all(
                F.coalesce(F.col("text"), F.lit("")), F.lit(BPE_ISH_PATTERN), 0
            )
        ).alias("est_bpe_tokens"),
        (F.round(mean_len, 6) + F.lit(0.0)).alias("mean_token_len"),
        F.size("bg").cast("long").alias("n_bigrams"),
        (F.round(_top_frac("toks"), 6) + F.lit(0.0)).alias("top_token_frac"),
        (F.round(_top_frac("bg"), 6) + F.lit(0.0)).alias("top_bigram_frac"),
        (F.round(_uniq_frac("bg"), 6) + F.lit(0.0)).alias("uniq_bigram_frac"),
        en.alias("en_hits"),
        es.alias("es_hits"),
        fr.alias("fr_hits"),
        de.alias("de_hits"),
        guess.alias("guessed_lang"),
        "declared_lang",
        (F.round(stop_ratio, 6) + F.lit(0.0)).alias("stop_ratio"),
        (F.round(uniq_ratio, 6) + F.lit(0.0)).alias("uniq_ratio"),
        (F.round(score, 6) + F.lit(0.0)).alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# Corpus-statistical scores (r3): TF-IDF keyword extraction and unigram
# language-model log-probability.  Both are two-pass corpus operators —
# one aggregation builds the global term statistics, a second pass scores
# documents against them — the canonical "broadcast the model, stream the
# corpus" shape that survives any scale-up (the term table is vocabulary-
# sized, not corpus-sized).

def doc_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, term, tfidf, rank): the k most distinctive terms per doc
    by tf-idf = tf * ln(N / df), rank ties broken by term.

    Shape: explode -> (doc, term) tf agg -> term df agg -> join back on
    term -> per-doc WindowGroupLimit top-k.  The df relation is
    vocabulary-sized and broadcasts; the only big shuffle keys on
    (doc_id, term) for the tf aggregation."""
    toks = documents.select(
        "doc_id", TXT.tokens(TXT.preprocess_text(F.col("text"))).alias("toks")
    )
    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_rel = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = toks.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_rel), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                F.round(
                    F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
                )
                + F.lit(0.0)
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", "rank")
    )


def unigram_logprob_scores(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, avg_logprob, perplexity): each doc scored under
    the corpus's own unigram language model — p(t) = count(t) / total
    tokens, avg_logprob = mean ln p(t) over the doc's tokens (with
    multiplicity), perplexity = exp(-avg_logprob).

    The classic cheap fluency/outlier filter for training-data curation
    (a doc of globally-rare tokens scores low).  Same two-pass shape as
    tf-idf: the unigram table is vocabulary-sized and broadcasts; token
    scoring is one shuffle keyed doc_id."""
    toks = documents.select(
        "doc_id", TXT.tokens(TXT.preprocess_text(F.col("text"))).alias("toks")
    )
    tok = toks.select("doc_id", F.explode("toks").alias("term"))
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = tok.agg(F.count(F.lit(1)).alias("total"))
    per_tok = (
        tok.join(F.broadcast(counts), "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.log(F.col("cnt") / F.col("total")).alias("lp"),
        )
    )
    agg = per_tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("lp").alias("alp"),
    )
    # Docs with zero tokens never reach per_tok; restore them with null
    # scores so the operator is total over the corpus.
    base = documents.select("doc_id")
    return (
        base.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            (F.round(F.col("alp"), 6) + F.lit(0.0)).alias("avg_logprob"),
            (F.round(F.exp(-F.col("alp")), 6) + F.lit(0.0)).alias("perplexity"),
        )
    )
