"""Bounded, mergeable corpus-profiling sketches.

At 100 TB the first thing a training-data pipeline needs is a cheap,
repeatable answer to "what is in this corpus?" — vocabulary frequencies,
cardinalities, length distributions.  Exact answers need a vocabulary-sized
shuffle (fine once, unaffordable per micro-batch); the standard answer is
one linear scan emitting a BOUNDED, MERGEABLE summary, merged at read time.
Three sketches, each expressed as a DataFrame so the merge is a hash-agg
and the artifact is just parquet rows:

- **Count-min sketch** (Cormode & Muthukrishnan 2005) for token
  frequencies: ``depth`` hash rows x ``width`` buckets of counts.  Built as
  explode -> groupBy(row, bucket) -> count, so the output is at most
  ``depth * width`` rows REGARDLESS of vocabulary size, and partial
  (map-side) aggregation bounds what each task shuffles to the same
  ``depth * width``.  Estimates are min-over-rows; the sketch side of the
  lookup join is the broadcast side (it is the bounded one).  Guarantees:
  ``est >= true`` always; ``est <= true + (e/width) * N`` with probability
  ``1 - e^-depth`` per item.
- **Fixed-bin histogram** for numeric quantiles: ``width_bucket`` ->
  groupBy(bin) -> count.  At most ``n_bins + 2`` rows (under/overflow);
  merge = sum by bin; quantile estimates carry a one-bin-width error bound.
- **HyperLogLog** for cardinality: Spark's built-in Apache DataSketches
  ``hll_sketch_agg`` (a single mergeable binary), merged across batches
  with ``hll_union_agg`` — plus plain ``approx_count_distinct`` (HLL++)
  for the inline single-pass form.

All sketches are linear counters over deterministic hashes (``xxhash64``
with fixed per-row seeds), so a sketch built incrementally over N
micro-batches and then merged is BIT-IDENTICAL to the sketch built over
the union in one batch — ``streaming/stats_stream.py`` builds on exactly
that property, and ``tests/test_sketches.py`` pins it.

Reference parity note: the reference app (739-line Flask/Mongo service)
has no profiling surface; this module is part of the training-data
extension family (SURVEY.md §2 extension ledger) alongside
``text_analysis.py``/``dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.functions import text as TXT

DEFAULT_DEPTH = 5
DEFAULT_WIDTH = 2048
# Seed base for the CMS hash rows: row i hashes with xxhash64(item, SEED+i).
# Fixed so that sketches built by different jobs (batch vs streaming) over
# the same data are identical and therefore mergeable by plain summation.
CMS_SEED = 0x5EED


def _bucket(col: Column, row: int, width: int) -> Column:
    return F.pmod(F.xxhash64(col, F.lit(CMS_SEED + row)), F.lit(width))


def token_stream(
    documents: DataFrame, text_col: str = "text", carry: "list[str]" = ()
) -> DataFrame:
    """One row per token OCCURRENCE after the reference's preprocess chain
    (lower/strip/regex — ``functions/text.py``, reference
    ``services/document_service.py`` parity).  Map-only explode; the
    downstream sketch agg is what bounds the shuffle.  ``carry`` keeps
    extra columns on the occurrence rows (r14 — the sharded profile
    rebuild carries its shard key through to the per-shard sketch aggs)."""
    toks = TXT.tokens(TXT.preprocess_text(F.col(text_col)))
    return documents.select(*carry, F.explode(toks).alias("token"))


def cms_sketch(
    items: DataFrame,
    col: str = "token",
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
    by: "list[str]" = (),
) -> DataFrame:
    """``(sketch_row, bucket, cnt)`` count-min sketch of the item stream.

    One map-only explode (each occurrence contributes ``depth`` (row,
    bucket) pairs) + one hash-agg.  Partial aggregation means each task
    ships at most ``depth * width`` rows into the single shuffle, and the
    result is at most ``depth * width`` rows total — the 100 TB-safe shape:
    sketch size is independent of both corpus and vocabulary size.

    ``by`` adds grouping columns for ONE sketch per group (r14, the
    sharded profile) — same hash expressions, so summing the per-group
    rows over the key reproduces the ungrouped sketch bit-for-bit (the
    linearity ``merge_sketches`` already relies on)."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("sketch_row"),
                _bucket(F.col(col), i, width).alias("bucket"),
            )
            for i in range(depth)
        ]
    )
    return (
        items.select(*by, F.explode(pairs).alias("p"))
        .groupBy(*by, F.col("p.sketch_row").alias("sketch_row"), F.col("p.bucket").alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


def merge_sketches(parts: list[DataFrame]) -> DataFrame:
    """Merge CMS (or histogram) sketch parts: union + re-sum.  Linear
    counters with shared seeds make this exact — the merged sketch equals
    the sketch of the concatenated stream, row for row."""
    key = [c for c in parts[0].columns if c != "cnt"]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy(*key).agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    cms: DataFrame,
    candidates: DataFrame,
    col: str = "token",
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """``(item, est)`` count estimates for a candidate item set.

    The SKETCH is the broadcast side (bounded at ``depth * width`` rows by
    construction); candidates stream through map-side.  A bucket absent
    from the sketch table means no item ever hashed there, i.e. count 0.
    ``depth``/``width`` must match the values the sketch was built with —
    the estimate is min-over-rows of the probed counters."""
    cand = candidates.select(F.col(col).alias("item")).distinct()
    probes = cand.select(
        "item",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("sketch_row"),
                        _bucket(F.col("item"), i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("p"),
    ).select("item", F.col("p.sketch_row").alias("sketch_row"), F.col("p.bucket").alias("bucket"))
    joined = probes.join(F.broadcast(cms), ["sketch_row", "bucket"], "left").select(
        "item", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy("item").agg(F.min("cnt").alias("est"))


def heavy_hitters_exact(documents: DataFrame, k: int = 20) -> DataFrame:
    """Exact global token top-k: ``(token, cnt)``, (cnt desc, token asc)
    tie-break.  The groupBy is a vocabulary-keyed shuffle (fine as a
    one-off; hash-agg handles any vocabulary) and the global top-k executes
    as TakeOrderedAndProject — per-partition top-k then a k-row merge,
    never a single-partition global sort."""
    return (
        token_stream(documents)
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(k)
    )


# Auto-sizing target for the heavy-hitter candidate stage: the document
# sample the candidate count runs over aims at this many docs, so the
# candidate shuffle is bounded by a FIXED sample's vocabulary regardless
# of corpus size (VERDICT r7 What's-wrong #2: the old sample_mod=1
# default ran the exact vocabulary-sized groupBy the module exists to
# avoid).  64k docs keeps any token with frequency >= 1e-3 present in the
# sample with overwhelming probability — far below top-k territory.
AUTO_SAMPLE_TARGET_DOCS = 65536


def heavy_hitters_sketch(
    documents: DataFrame,
    k: int = 20,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
    sample_mod: int | None = None,
    candidate_factor: int = 4,
    n_docs: int | None = None,
) -> DataFrame:
    """Approximate token top-k without a vocabulary-sized shuffle:
    ``(token, est)``.

    Candidates come from an exact count over a DETERMINISTIC document
    sample (``xxhash64(doc_id) % sample_mod == 0`` — heavy hitters by
    definition survive sampling; the sampled shuffle is ``1/sample_mod``
    of the full one), then the full-corpus CMS re-estimates their true
    counts and re-ranks.  Everything is fixed-hash deterministic: no
    ``rand()``, stable across runs and cluster layouts.

    ``sample_mod=None`` (the default) auto-sizes from the corpus so the
    candidate stage shuffles a ~:data:`AUTO_SAMPLE_TARGET_DOCS`-doc
    sample's vocabulary by default: ``max(1, n_docs // target)``.
    ``n_docs`` skips the sizing count when the caller already knows it
    (``corpus_profile`` does); small corpora resolve to ``sample_mod=1``
    — exact candidate counts re-scored through the sketch, the
    twin-check configuration."""
    if sample_mod is None:
        n = n_docs if n_docs is not None else documents.count()
        sample_mod = max(1, int(n) // AUTO_SAMPLE_TARGET_DOCS)
    sampled = documents.where(
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(sample_mod)) == 0
    )
    candidates = (
        token_stream(sampled)
        .groupBy("token")
        .agg(F.count("*").alias("sample_cnt"))
        .orderBy(F.col("sample_cnt").desc(), F.col("token").asc())
        .limit(candidate_factor * k)
    )
    cms = cms_sketch(token_stream(documents), depth=depth, width=width)
    est = cms_estimate(cms, candidates, col="token", depth=depth, width=width)
    return (
        est.select(F.col("item").alias("token"), "est")
        .orderBy(F.col("est").desc(), F.col("token").asc())
        .limit(k)
    )


def histogram_sketch(
    df: DataFrame, col: str, lo: float, hi: float, n_bins: int = 64,
    by: "list[str]" = (),
) -> DataFrame:
    """``(bin, cnt)`` fixed-width histogram: at most ``n_bins + 2`` rows
    (bin 0 = underflow, ``n_bins + 1`` = overflow).  Map-only bucketing +
    one hash-agg whose partial side is already histogram-sized.  Merge
    across batches with :func:`merge_sketches`.  ``by`` groups into one
    histogram per key (r14, sharded profile) — linear, so the per-group
    rows sum back to the ungrouped histogram exactly."""
    b = F.width_bucket(F.col(col).cast("double"), F.lit(float(lo)), F.lit(float(hi)), F.lit(n_bins))
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(*by, b.alias("bin"))
        .agg(F.count("*").alias("cnt"))
    )


def quantiles_from_histogram(
    hist: DataFrame, lo: float, hi: float, n_bins: int, qs: list[float]
) -> dict[float, float]:
    """Quantile estimates by cumulative walk over the (collected — at most
    ``n_bins + 2`` rows, a bounded driver contract) histogram.  Linear
    interpolation inside the landing bin; under/overflow clamp to
    ``lo``/``hi``.  Error bound: one bin width for any quantile landing in
    an in-range bin."""
    rows = sorted((int(r["bin"]), int(r["cnt"])) for r in hist.collect())
    total = sum(c for _, c in rows)
    bw = (hi - lo) / n_bins
    out: dict[float, float] = {}
    for q in qs:
        target = q * total
        cum = 0
        est = hi
        for b, c in rows:
            if cum + c >= target:
                if b == 0:
                    est = lo
                elif b == n_bins + 1:
                    est = hi
                else:
                    frac = (target - cum) / c if c else 0.0
                    est = lo + (b - 1 + frac) * bw
                break
            cum += c
        out[q] = est
    return out


def hll_sketch(
    df: DataFrame, col: str, lgk: int = 12, by: "list[str]" = ()
) -> DataFrame:
    """Single-row mergeable HLL sketch (Apache DataSketches binary) of a
    column's distinct count.  ``lgk=12`` -> ~1.6% standard error, ~2 KB.
    ``by`` groups into one sketch row per key (r14, sharded profile);
    ``hll_union_agg`` over the group rows estimates the union exactly as
    the single sketch would (register-max is associative)."""
    if by:
        return df.groupBy(*by).agg(
            F.hll_sketch_agg(F.col(col), F.lit(lgk)).alias("hll")
        )
    return df.agg(F.hll_sketch_agg(F.col(col), F.lit(lgk)).alias("hll"))


def hll_estimate(sketch: DataFrame) -> int:
    """Driver-side estimate from a single-row sketch relation."""
    return int(sketch.select(F.hll_sketch_estimate("hll").alias("n")).collect()[0]["n"])


def corpus_profile(
    documents: DataFrame,
    k: int = 20,
    n_bins: int = 64,
    chars_hi: float = 4096.0,
) -> dict:
    """One profiling pass over a documents table, everything sketch-tier:
    doc count, occurrence count, HLL vocabulary size, CMS heavy hitters,
    histogram length quantiles.  Returns a plain dict (every piece is
    bounded: counters, a k-row top-k, an ``n_bins``-row histogram) — this
    is the per-corpus summary a 100 TB pipeline recomputes per snapshot."""
    toks = token_stream(documents)
    counts = documents.agg(
        F.count("*").alias("n_docs"),
        F.approx_count_distinct("source", 0.02).alias("n_sources"),
    ).collect()[0]
    n_occ_distinct = toks.agg(
        F.count("*").alias("occ"),
        F.approx_count_distinct("token", 0.02).alias("vocab"),
    ).collect()[0]
    hitters = [
        (r["token"], int(r["est"]))
        for r in heavy_hitters_sketch(
            # n_docs reuses the count above: the candidate stage auto-sizes
            # its document sample without a second sizing scan, and never
            # runs a vocabulary-sized groupBy on a large corpus
            documents, k=k, n_docs=int(counts["n_docs"])
        ).collect()
    ]
    hist = histogram_sketch(documents, "n_chars", 0.0, chars_hi, n_bins)
    quants = quantiles_from_histogram(hist, 0.0, chars_hi, n_bins, [0.5, 0.9, 0.99])
    return {
        "n_docs": int(counts["n_docs"]),
        "n_sources_approx": int(counts["n_sources"]),
        "n_token_occurrences": int(n_occ_distinct["occ"]),
        "vocab_approx": int(n_occ_distinct["vocab"]),
        "heavy_hitters": hitters,
        "n_chars_quantiles": {str(q): v for q, v in quants.items()},
    }
