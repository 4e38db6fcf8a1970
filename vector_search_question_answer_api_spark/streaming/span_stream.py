"""Incremental maintenance for exact duplicated-span dedup.

``operators/spans.duplicate_spans`` recomputes token k-gram occurrences
from raw text on every run — at 100 TB the tokenize + hash map work over
the whole corpus dominates, and it is the one part of the pipeline that
never changes for an already-ingested document.  This module makes the
span pipeline incremental the same way ``stats_stream`` makes profiling
incremental: both persisted artifacts are LINEAR in the document stream,
so per-batch appends merge exactly.

Per micro-batch of documents (map-only + one batch-sized agg, nothing
corpus-sized):

- **occurrences** ``(doc_id, pos, h1, h2)`` — the batch's token k-gram
  rows, appended under ``occ/batch=<id>``.  Pure map output; rows for a
  document never change after ingest (documents are immutable in this
  corpus model — re-ingest under a new doc_id, or rewrite the batch dir).
- **gram-agg delta** ``(h1, h2, n_occ, first_doc, first_pos)`` — the
  batch's per-gram count + canonical minimum, appended under
  ``agg/batch=<id>``.  Counts are sums and canonical occurrences are
  mins — both merge associatively, so the union of deltas re-aggregated
  equals the one-shot corpus aggregate EXACTLY.

Both directories use ``batch=<id>`` overwrite (not append) so checkpoint
replays of a failed batch land on top of their own first attempt —
linear counters are not idempotent under duplicate appends, per-batch
overwrite makes them so (same rule as ``stats_stream``).

Snapshot-time span extraction (:func:`corpus_spans_from_store`) then runs
the SAME mark + island-merge logic as the batch operator, but over the
stored occurrences and the merged gram aggregate — two shuffles over
already-materialized columnar data, zero re-tokenization.  Equivalence is
pinned bit-for-bit in ``tests/test_spans.py`` (store-driven spans ==
``duplicate_spans`` over the unioned documents).

Read-side width is bounded the same way as the index log: per-batch agg
deltas accumulate, :func:`compact_gram_store` folds them into one
``batch=compacted`` generation (a single corpus-gram-sized shuffle,
amortized across many cheap batches).
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.operators import spans as SPN

COMPACTED = "batch=compacted"
_MANIFEST = "_MANIFEST"  # underscore prefix: invisible to Spark dir scans


def _agg_manifest(agg_dir: str) -> dict | None:
    """Parsed agg-store manifest ``{"live": [...], "retired": [...]}``, or
    None for a legacy store (pre-manifest layout: every ``batch=*`` dir is
    live)."""
    try:
        with open(os.path.join(agg_dir, _MANIFEST), encoding="utf-8") as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _agg_live_dirs(agg_dir: str) -> list[str]:
    man = _agg_manifest(agg_dir)
    if man is not None:
        return sorted(man["live"])
    # legacy fallback: every batch dir is live EXCEPT new-style compacted
    # generations — those are published only via the manifest, so one
    # present without a manifest is a crashed compaction's orphan (the
    # pre-manifest layout's plain `batch=compacted` stays included)
    return sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(agg_dir, "batch=*"))
        if os.path.isdir(d)
        and not os.path.basename(d).startswith("batch=compacted-")
    )


def _agg_publish(agg_dir: str, live: list[str], retired: list[str]) -> None:
    tmp = os.path.join(agg_dir, "._MANIFEST.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"live": sorted(live), "retired": sorted(retired)}, f)
    os.replace(tmp, os.path.join(agg_dir, _MANIFEST))  # the atomic publish


def batch_gram_delta(occ: DataFrame) -> DataFrame:
    """Per-gram aggregate of ONE batch's occurrence rows: ``(h1, h2,
    n_occ, first_doc, first_pos)``.  Count is a sum, canonical occurrence
    a min — the two mergeable pieces the global aggregate needs."""
    return occ.groupBy("h1", "h2").agg(
        F.count("*").alias("n_occ"),
        F.min(F.struct("doc_id", "pos")).alias("first"),
    ).select(
        "h1",
        "h2",
        "n_occ",
        F.col("first.doc_id").alias("first_doc"),
        F.col("first.pos").alias("first_pos"),
    )


def append_span_batch(
    batch_df: DataFrame,
    path: str,
    batch_id: int,
    k: int = SPN.DEFAULT_K,
    text_col: str = "text",
) -> None:
    """Ingest one micro-batch: tokenize + hash ONCE, persist the
    occurrence rows and the gram-agg delta under ``batch=<id>``
    (overwrite — replay-idempotent)."""
    sub = f"batch={int(batch_id)}"
    occ = SPN.token_gram_occurrences(batch_df, k, text_col)
    occ.write.mode("overwrite").parquet(os.path.join(path, "occ", sub))
    # a store that has been purged (purge_deleted_spans) is occ-manifest-
    # driven: register the new dir so readers see it (same retired guard
    # as the agg side — a replay of a purged-away batch stays invisible
    # and is swept by the next purge)
    occ_dir = os.path.join(path, "occ")
    occ_man = _agg_manifest(occ_dir)
    if occ_man is not None:
        live_o, ret_o = occ_man["live"], occ_man["retired"]
        if sub not in ret_o and sub not in live_o:
            _agg_publish(occ_dir, live_o + [sub], ret_o)
    # read back the materialized batch rows rather than recomputing the
    # gram transform for the agg (one tokenize pass per batch, as promised)
    spark = batch_df.sparkSession
    occ_stored = spark.read.parquet(os.path.join(path, "occ", sub))
    agg_dir = os.path.join(path, "agg")
    batch_gram_delta(occ_stored).write.mode("overwrite").parquet(
        os.path.join(agg_dir, sub)
    )
    # register the delta in the agg manifest (created on first append) so
    # compaction can publish atomically; a crash between the dir write and
    # this publish is replay-safe — the checkpoint has not committed, the
    # replay rewrites the same dir and re-publishes
    man = _agg_manifest(agg_dir)
    live = _agg_live_dirs(agg_dir)  # includes `sub` via glob when no manifest
    retired = man["retired"] if man else []
    if sub in retired:
        # Checkpoint replay of a batch a compaction already FOLDED into the
        # compacted generation: its grams are in the live aggregate, so
        # publishing the rewritten delta live again would double-count every
        # gram — and the next compaction's grace sweep would then delete a
        # dir the manifest lists live.  Leave it retired; the rewritten dir
        # is swept on the next compaction like any other retiree.
        return
    if sub not in live:
        live.append(sub)
    _agg_publish(agg_dir, live, retired)


def read_occurrences(spark: SparkSession, path: str) -> DataFrame:
    """All stored occurrence rows (columnar, already hashed).  A store
    that has been through :func:`purge_deleted_spans` carries an occ-side
    manifest and reads exactly its live dirs; a legacy store reads the
    whole directory glob."""
    occ_dir = os.path.join(path, "occ")
    man = _agg_manifest(occ_dir)
    src = (
        [os.path.join(occ_dir, d) for d in sorted(man["live"])]
        if man is not None
        else [occ_dir]
    )
    return spark.read.parquet(*src).select("doc_id", "pos", "h1", "h2")


def read_gram_aggs(spark: SparkSession, path: str) -> DataFrame:
    """The merged corpus gram aggregate: union of the LIVE per-batch
    deltas (per the agg manifest; legacy stores fall back to a directory
    glob), re-aggregated.  Merging is exact (sums of sums, min of mins) —
    equal to the one-shot aggregate over all occurrences."""
    agg_dir = os.path.join(path, "agg")
    live = _agg_live_dirs(agg_dir)
    if not live:
        raise FileNotFoundError(f"no gram aggregate store at {agg_dir}")
    parts = spark.read.parquet(*[os.path.join(agg_dir, d) for d in live])
    return (
        parts.groupBy("h1", "h2")
        .agg(
            F.sum("n_occ").alias("n_occ"),
            F.min(F.struct(F.col("first_doc"), F.col("first_pos"))).alias("first"),
        )
        .select(
            "h1",
            "h2",
            "n_occ",
            F.col("first.first_doc").alias("first_doc"),
            F.col("first.first_pos").alias("first_pos"),
        )
    )


def compact_gram_store(
    spark: SparkSession, path: str, _pre_publish_hook=None
) -> None:
    """Fold every live per-batch agg delta into one
    ``batch=compacted-<n>`` generation, bounding read-side union width
    (the stats_stream / index-log compaction rule applied to the gram
    aggregate).

    Crash-safe publish order (ADVICE r7 — the earlier form deleted the
    live deltas BEFORE installing the compacted output, so a crash in
    between lost the whole aggregate):

    1. grace-delete what the PREVIOUS compaction retired (readers had a
       full cycle) and sweep orphaned ``batch=compacted-*`` dirs (a
       compaction that died before its publish);
    2. write the merged aggregate to a hidden scratch dir, then
       ``os.replace`` it to its generation name — still invisible to
       manifest readers;
    3. atomically swap the manifest to the new generation, RETIRING (not
       deleting) the superseded deltas — concurrent lazy reader plans
       stay valid until the next compaction's step 1.

    A crash anywhere leaves the store serving a complete view: before
    step 3 the old manifest still references every live delta; after it
    the new generation is live and the old deltas are merely undeleted.

    ``_pre_publish_hook`` is the test seam ``cell_store`` exposes: called
    after the compacted generation is written, before the manifest swap —
    a reader there must still resolve the complete OLD view."""
    agg_dir = os.path.join(path, "agg")
    man = _agg_manifest(agg_dir)
    live = _agg_live_dirs(agg_dir)
    if not live:
        raise FileNotFoundError(f"no gram aggregate store at {agg_dir}")
    # step 1: grace-delete + orphan sweep (only compacted-* orphans are
    # known-ours; a plain batch=<id> orphan may be a crashed append whose
    # checkpoint replay is about to rewrite it)
    retired = man["retired"] if man else []
    for d in retired:
        shutil.rmtree(os.path.join(agg_dir, d), ignore_errors=True)
    keep = set(live)
    for p in glob.glob(os.path.join(agg_dir, "batch=compacted-*")):
        if os.path.basename(p) not in keep:
            shutil.rmtree(p, ignore_errors=True)
    # step 2: merged output under a scratch name, renamed into place
    merged = read_gram_aggs(spark, path)
    ns = [
        int(os.path.basename(p).rsplit("-", 1)[-1])
        for p in glob.glob(os.path.join(agg_dir, "batch=compacted-*"))
    ]
    dest_name = f"batch=compacted-{(max(ns) + 1 if ns else 0):06d}"
    tmp = os.path.join(path, ".agg-compact-tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    merged.write.mode("overwrite").parquet(tmp)
    os.replace(tmp, os.path.join(agg_dir, dest_name))
    if _pre_publish_hook is not None:
        _pre_publish_hook()
    # step 3: atomic manifest swap; superseded deltas go to retired
    _agg_publish(agg_dir, [dest_name], live)


def purge_deleted_spans(
    spark: SparkSession,
    path: str,
    exclude_docs: DataFrame,
    _pre_publish_hook=None,
) -> None:
    """Right-to-be-forgotten compaction for the span store (r11): rewrite
    the occurrence store WITHOUT ``exclude_docs``'s rows and rebuild the
    gram aggregate EXACTLY from the purged occurrences — after this, span
    semantics equal ``duplicate_spans`` over the post-delete corpus (the
    read-time ``exclude_docs`` filter is then belt-and-braces, and the
    deleted docs' BYTES are physically gone once the next purge's grace
    sweep runs).

    QUIESCED operation, like every compaction here: run it with the span
    stream stopped (the documented compaction protocol) — a concurrently
    appending batch could land between the occ snapshot and the publish.

    Crash-safe publish order (the ``compact_gram_store`` protocol, applied
    to both sides):

    1. install the occ-side manifest listing the CURRENT live dirs (a
       no-op when one exists) — from here readers are manifest-driven, so
       a half-written purge output is invisible;
    2. grace-delete what the previous purge retired; sweep orphaned
       ``batch=purged-*`` dirs (a purge that died before its publish);
    3. write the filtered occurrences to a hidden scratch dir, rename to
       ``batch=purged-<n>`` (still unlisted — invisible);
    4. atomically publish the occ manifest: live = the purged dir,
       retired = everything it replaced;
    5. rebuild the gram aggregate from the purged occurrences (count =
       sum, canonical first occurrence = min — both recomputed, so the
       aggs no longer count deleted docs) and publish it through the agg
       manifest exactly like ``compact_gram_store``.

    A crash anywhere leaves a complete, consistent view: before step 4
    the old occ dirs and old aggs serve (conservative semantics); between
    4 and 5 the occ side is purged while the aggs still over-count
    deleted grams — the documented conservative direction — and the next
    purge or compaction re-converges."""
    occ_dir = os.path.join(path, "occ")
    # step 1: make the occ side manifest-driven before anything else
    if _agg_manifest(occ_dir) is None:
        legacy = sorted(
            os.path.basename(d)
            for d in glob.glob(os.path.join(occ_dir, "batch=*"))
            if os.path.isdir(d)
            and not os.path.basename(d).startswith("batch=purged-")
        )
        if not legacy:
            raise FileNotFoundError(f"no occurrence store at {occ_dir}")
        _agg_publish(occ_dir, legacy, [])
    man = _agg_manifest(occ_dir)
    live = sorted(man["live"])
    # step 2: grace-delete + orphan sweep
    for d in man["retired"]:
        shutil.rmtree(os.path.join(occ_dir, d), ignore_errors=True)
    keep = set(live)
    for p_ in glob.glob(os.path.join(occ_dir, "batch=purged-*")):
        if os.path.basename(p_) not in keep:
            shutil.rmtree(p_, ignore_errors=True)
    # step 3: filtered occurrences to scratch, renamed into place
    occ = spark.read.parquet(
        *[os.path.join(occ_dir, d) for d in live]
    ).select("doc_id", "pos", "h1", "h2")
    purged = occ.join(
        F.broadcast(exclude_docs.select("doc_id").distinct()),
        "doc_id",
        "left_anti",
    )
    ns = [
        int(os.path.basename(p_).rsplit("-", 1)[-1])
        for p_ in glob.glob(os.path.join(occ_dir, "batch=purged-*"))
    ]
    dest = f"batch=purged-{(max(ns) + 1 if ns else 0):06d}"
    tmp = os.path.join(path, ".occ-purge-tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    purged.write.mode("overwrite").parquet(tmp)
    os.replace(tmp, os.path.join(occ_dir, dest))
    if _pre_publish_hook is not None:
        _pre_publish_hook()
    # step 4: atomic occ publish
    _agg_publish(occ_dir, [dest], live)
    # step 5: rebuild the aggs from the purged occurrences and publish
    # through the agg manifest (the compact_gram_store machinery)
    agg_dir = os.path.join(path, "agg")
    agg_man = _agg_manifest(agg_dir)
    agg_live = _agg_live_dirs(agg_dir)
    if not agg_live:
        raise FileNotFoundError(f"no gram aggregate store at {agg_dir}")
    for d in agg_man["retired"] if agg_man else []:
        shutil.rmtree(os.path.join(agg_dir, d), ignore_errors=True)
    keep_a = set(agg_live)
    for p_ in glob.glob(os.path.join(agg_dir, "batch=compacted-*")):
        if os.path.basename(p_) not in keep_a:
            shutil.rmtree(p_, ignore_errors=True)
    rebuilt = batch_gram_delta(
        spark.read.parquet(os.path.join(occ_dir, dest)).select(
            "doc_id", "pos", "h1", "h2"
        )
    )
    ns_a = [
        int(os.path.basename(p_).rsplit("-", 1)[-1])
        for p_ in glob.glob(os.path.join(agg_dir, "batch=compacted-*"))
    ]
    dest_a = f"batch=compacted-{(max(ns_a) + 1 if ns_a else 0):06d}"
    tmp_a = os.path.join(path, ".agg-compact-tmp")
    shutil.rmtree(tmp_a, ignore_errors=True)
    rebuilt.write.mode("overwrite").parquet(tmp_a)
    os.replace(tmp_a, os.path.join(agg_dir, dest_a))
    _agg_publish(agg_dir, [dest_a], agg_live)


def corpus_spans_from_store(
    spark: SparkSession,
    path: str,
    k: int = SPN.DEFAULT_K,
    keep_first: bool = True,
    max_gram_freq: int | None = None,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """``(doc_id, span_start, span_end, n_tokens)`` over the WHOLE stored
    corpus — identical output to ``operators/spans.duplicate_spans`` on
    the unioned documents (pinned in tests), but reading materialized
    occurrences + merged aggs instead of re-tokenizing raw text: the
    per-snapshot cost drops to the two hash-shuffles.

    ``exclude_docs`` (``(doc_id)`` rows, e.g.
    ``index_stream.read_index_tombstones`` — r11 deletion support) drops
    those docs' occurrences before the span merge, so no DELETED doc ever
    emits a span.  Semantics are stated honestly: the merged gram AGGS
    still count the excluded docs' occurrences (CMS-style counts are not
    decrementable row-at-a-time), so a surviving doc's span stays marked
    duplicated even when its only twin was deleted — conservative for
    every decontamination use, exact again after a store rebuild."""
    occ = read_occurrences(spark, path)
    if exclude_docs is not None:
        occ = occ.join(
            F.broadcast(exclude_docs.select("doc_id").distinct()),
            "doc_id",
            "left_anti",
        )
    agg = read_gram_aggs(spark, path)
    dup = agg.filter(F.col("n_occ") >= 2)
    if max_gram_freq is not None:
        dup = dup.filter(F.col("n_occ") <= int(max_gram_freq))
    marked = occ.join(dup, ["h1", "h2"])
    if keep_first:
        marked = marked.filter(
            ~(
                (F.col("doc_id") == F.col("first_doc"))
                & (F.col("pos") == F.col("first_pos"))
            )
        )
    return SPN.merge_positions_to_spans(marked.select("doc_id", "pos"), k)


def batch_spans_against_store(
    spark: SparkSession,
    batch_df: DataFrame,
    path: str,
    k: int = SPN.DEFAULT_K,
    text_col: str = "text",
) -> DataFrame:
    """Duplicated spans WITHIN an incoming batch relative to (store ∪
    batch) — the streaming-contamination question "which parts of these
    new documents already exist verbatim?", answered without marking or
    rewriting stored documents.

    The batch's gram delta joins the merged store aggregate (an equi-join
    whose probe side is batch-sized; the store side is a scan of the
    bounded agg generations — sequential columnar IO, no store shuffle),
    combined counts decide duplication, and keep-first uses the GLOBAL
    canonical occurrence, so a batch gram already present in the corpus
    marks every batch occurrence."""
    occ = SPN.token_gram_occurrences(batch_df, k, text_col)
    batch_agg = batch_gram_delta(occ)
    store_agg = read_gram_aggs(spark, path).select(
        "h1",
        "h2",
        F.col("n_occ").alias("store_n"),
        F.col("first_doc").alias("store_doc"),
        F.col("first_pos").alias("store_pos"),
    )
    combined = (
        batch_agg.join(store_agg, ["h1", "h2"], "left")
        .withColumn(
            "tot", F.col("n_occ") + F.coalesce(F.col("store_n"), F.lit(0))
        )
        .withColumn(
            "g_doc",
            F.when(
                F.col("store_n").isNotNull()
                & (
                    F.struct(
                        F.col("store_doc").alias("doc_id"),
                        F.col("store_pos").alias("pos"),
                    )
                    < F.struct(
                        F.col("first_doc").alias("doc_id"),
                        F.col("first_pos").alias("pos"),
                    )
                ),
                F.col("store_doc"),
            ).otherwise(F.col("first_doc")),
        )
        .withColumn(
            "g_pos",
            F.when(
                F.col("store_n").isNotNull()
                & (
                    F.struct(
                        F.col("store_doc").alias("doc_id"),
                        F.col("store_pos").alias("pos"),
                    )
                    < F.struct(
                        F.col("first_doc").alias("doc_id"),
                        F.col("first_pos").alias("pos"),
                    )
                ),
                F.col("store_pos"),
            ).otherwise(F.col("first_pos")),
        )
    )
    dup = combined.filter(F.col("tot") >= 2).select("h1", "h2", "g_doc", "g_pos")
    marked = occ.join(dup, ["h1", "h2"]).filter(
        ~((F.col("doc_id") == F.col("g_doc")) & (F.col("pos") == F.col("g_pos")))
    )
    return SPN.merge_positions_to_spans(marked.select("doc_id", "pos"), k)
