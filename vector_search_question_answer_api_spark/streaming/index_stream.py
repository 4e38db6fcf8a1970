"""Streaming index maintenance — the continuous analog of POST
/refresh-index (SURVEY.md §3.3; reference services/index_service.py:112-115
rebuilds the whole HNSW graph from scratch on every refresh).

With the index-as-table design the index can instead be maintained
INCREMENTALLY as documents arrive:

- :func:`index_stream` — the stateless build pipeline (preprocess → embed →
  normalize, the exact ``build_index`` expressions) applied to a document
  STREAM: map-only, so it runs unchanged under Structured Streaming;
- the index LOG — ``ann_maintain.refresh_search_artifacts_batch``
  (run per micro-batch by ``ingest_stream.maintain_corpus``) appends each
  micro-batch, tagged with its batch id, to an append-only parquet log
  under ``<path>/log``.  Append, not overwrite: vanilla parquet has no
  atomic upsert, so the stream writes an LSM-style log and READERS resolve
  latest-per-doc (exactly the pattern Delta/Iceberg implement natively —
  swap the sink format in production and the append collapses to a
  plain streaming MERGE);
- :func:`read_index_latest` — the read view: one window over
  (current generation ∪ log) picks the newest version of every ``doc_id``
  (ties broken by batch id, then event time; compacted rows KEEP their
  original ``(ts, _batch)`` — r11 — so any later log row wins and the
  before-batch view stays exact across compactions; legacy inputs
  without the columns fold as ``_batch = -1``);
- :func:`tombstones` / :func:`append_tombstones` — DELETION as a normal
  log row with a NULL embedding (r11): resolution drops null-latest docs,
  re-inserts revive, compaction removes the content bytes while keeping
  an id-only marker as durable deletion evidence (dropped only by an
  explicit ``drop_tombstones=True`` after downstream purges) —
  takedown/PII deletion with zero extra machinery;
- :func:`compact_index` — folds the resolved view into a NEW generation
  directory with the layout writer (``sources/compaction.compact_write``),
  atomically repoints ``<path>/MANIFEST`` (``os.replace``), and RETIRES
  the superseded generation + snapshotted log files into ``RETIRED``;
  the next compaction physically deletes them (one-cycle grace period).
  A concurrent reader at ANY instant resolves a complete index, and a
  lazily-executed reader plan keeps its files through the grace period
  (r6, VERDICT r5 #4; r5/VERDICT r4 #4 fixed the resolution atomicity).
  In production the manifest is the table format's pointer swap and the
  grace period its snapshot-retention TTL; the local file protocol has
  the same semantics.

Layout under ``path``::

    MANIFEST        # name of the current generation dir (absent until
                    # the first compaction)
    RETIRED         # paths superseded by the last compaction, deleted
                    # by the next one (grace period)
    .gen-<n>/       # compacted generation (range-clustered on doc_id);
                    # dot-prefixed so the legacy flat-layout fallback
                    # never lists it mid-migration (ADVICE r5)
    log/            # append-only micro-batch parquet

Scale shape: the stream stage is embarrassingly parallel (same as the
batch build); each micro-batch append is sized by the trigger interval;
log growth is bounded by compaction cadence.  The only shuffle anywhere is
the latest-per-doc window at READ time, eliminated by compacting.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.sources.generation_store import (
    GenerationStore,
)


def index_store(path: str) -> GenerationStore:
    """The index's generation files: ``MANIFEST`` names the current
    ``.gen-<n>``; ``RETIRED`` lists what the previous compaction
    superseded (superseded generation + the log files it folded in),
    kept on disk for one full compaction cycle — the grace period that
    keeps lazily executed reader plans valid — and excluded from new
    resolves; ``HORIZON`` is the highest ``_batch`` a compaction folded.
    A fold keeps only each doc's latest row, so batch-bounded reads
    below the horizon raise (``ingest_stream.read_corpus_index``); at or
    above it they stay exact (folded winners keep their ``_batch``)."""
    return GenerationStore(path, "MANIFEST", "RETIRED", ".gen-", "HORIZON")


def index_log_files(path: str) -> list[str]:
    """Live log part files (the log is flat parquet, ``_batch`` a data
    column).  Realpaths are compared on BOTH sides: a retired file must
    stay excluded even when ``compact_index`` and this reader spell the
    index path differently (ADVICE r6)."""
    retired = set(index_store(path).retired())
    return sorted(
        f
        for f in glob.glob(
            os.path.join(path, "log", "**", "*.parquet"), recursive=True
        )
        if os.path.realpath(f) not in retired
    )


def _latest_order(cols) -> list:
    """Newest-first ordering available in this relation: (batch, event
    time) for log rows, event time alone for pre-batch rows, doc_id as the
    degenerate order for a plain one-row-per-doc ``save_index`` artifact.
    Within one (batch, ts) a TOMBSTONE (null embedding) sorts first —
    an upsert and a delete of the same doc carrying identical timestamps
    resolve deterministically to DELETED (callers should still stamp
    deletes with their own event time; this is the tie rule, not the
    ordering)."""
    order = []
    if "_batch" in cols:
        order.append(F.col("_batch").desc())
    if "ts" in cols:
        order.append(F.col("ts").desc())
    if "norm_embedding" in cols:
        order.append(F.col("norm_embedding").isNotNull().asc())
    return order or [F.col("doc_id")]

def index_stream(
    doc_stream: DataFrame,
    embedder=None,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(ts, vec_id, doc_id, norm_embedding, norm): the batch ``build_index``
    relation plus the event time, over a streaming frame.  The build
    expressions ride in ONE struct column so the timestamp stays attached
    without a (stream-illegal) self-join — map-only, identical expressions
    to the batch build, so batch and stream index rows agree bit-for-bit
    (pinned in tests)."""
    from vector_search_question_answer_api_spark.functions import text as TXT
    from vector_search_question_answer_api_spark.functions import vector as V
    from vector_search_question_answer_api_spark.operators.embed import HashingEmbedder

    embedder = embedder or HashingEmbedder()
    embedded = doc_stream.select(
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("doc_id"),
        embedder(TXT.preprocess_text(F.col(text_col))).alias("embedding"),
    )
    return embedded.select(
        "ts",
        F.col("doc_id").alias("vec_id"),
        "doc_id",
        V.l2_normalize(F.col("embedding"))
        .cast("array<float>")
        .alias("norm_embedding"),
        V.l2_norm(F.col("embedding")).alias("norm"),
    )


def tombstones(
    ids: DataFrame, id_col: str = "doc_id", ts_col: str = "ts"
) -> DataFrame:
    """Deletion markers as ORDINARY index rows (r11): the ``index_stream``
    relation with a NULL embedding — ``(ts, vec_id, doc_id,
    norm_embedding=NULL, norm=NULL)``.  A tombstone rides the existing
    log/append/resolution machinery unchanged (no schema change, no side
    table): when it is a doc's newest version the read views drop the doc
    (``read_index_latest`` filters null-embedding rows AFTER the
    latest-wins window), a LATER re-insert revives it, and
    ``compact_index`` removes the doc's CONTENT bytes while keeping its
    null row as an id-only deletion marker (so downstream purges and
    ``exclude_deleted`` reads keep their evidence at any point in the
    maintenance schedule; ``drop_tombstones=True`` removes even the
    marker once those purges have run).  ``ids`` must carry the deletion
    EVENT TIME in ``ts_col`` (ties against a same-batch same-ts upsert
    resolve to deleted — see ``_latest_order``)."""
    return ids.select(
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("vec_id"),
        F.col(id_col).alias("doc_id"),
        F.lit(None).cast("array<float>").alias("norm_embedding"),
        F.lit(None).cast("double").alias("norm"),
    )


def append_tombstones(ids: DataFrame, path: str, batch_id: int) -> None:
    """One-shot batch deletion: append :func:`tombstones` rows to the
    index log under the given batch id (the per-batch log append of
    ``ann_maintain.refresh_search_artifacts_batch``, callable outside a
    stream).  Idempotence matches the log contract:
    duplicate appends of the same rows resolve identically."""
    (
        tombstones(ids)
        .withColumn("_batch", F.lit(int(batch_id)))
        .write.mode("append")
        .parquet(os.path.join(path, "log"))
    )


def read_index_tombstones(
    spark: SparkSession, path: str, with_ts: bool = False
) -> DataFrame:
    """``(doc_id)`` of docs whose NEWEST log row is a tombstone — the
    currently-deleted set.  Same one-window cost as the latest view; used
    by read surfaces that serve doc-keyed artifacts not rebuilt from the
    resolved index (e.g. span-store reads).  Survives compaction: the
    fold keeps tombstoned docs' null rows as id-only markers (see
    ``compact_index``).  ``with_ts=True`` (r12) additionally returns each
    tombstone's deletion EVENT TIME — the input the session-takedown
    replay needs (``sessions.replay_sessions(tombstones=...)``)."""
    log = _raw_log(spark, path)
    if log is None:
        raise FileNotFoundError(f"no index at {path}")
    dels = _resolve_latest(
        log, keep_tombstones=True, keep_meta=with_ts
    ).filter(F.col("norm_embedding").isNull())
    return dels.select("doc_id", "ts") if with_ts else dels.select("doc_id")


def _raw_log(spark: SparkSession, path: str, files: list[str] | None = None):
    """The un-resolved union of current generation + log rows (or an
    explicit log-file snapshot), or None when the path holds no index."""
    sources = []
    gen = index_store(path).current_gen()
    if gen is not None:
        sources.append(spark.read.parquet(os.path.join(path, gen)))
    lf = index_log_files(path) if files is None else files
    if lf:
        sources.append(spark.read.parquet(*lf))
    if not sources:
        # legacy flat layout (a plain save_index artifact / pre-r5 log).
        # Catch ONLY the missing/empty-path analysis error (ADVICE r5):
        # corrupt parquet, permissions, or schema failures must propagate,
        # not masquerade as "no index".
        from pyspark.errors import AnalysisException

        try:
            sources = [spark.read.parquet(path)]
        except AnalysisException as e:
            cond = (
                e.getCondition() if hasattr(e, "getCondition") else None
            )
            if cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
                return None  # genuinely no index here
            raise
    out = sources[0]
    for s in sources[1:]:
        out = out.unionByName(s)
    return out


def _resolve_latest(
    log: DataFrame, keep_tombstones: bool = False, keep_meta: bool = False
) -> DataFrame:
    """The shared latest-wins resolution: newest row per doc_id by
    ``_latest_order`` (batch, event time, tombstone-first tie), dropping
    null-embedding (deleted) docs unless ``keep_tombstones`` — the ONE
    place the resolution semantics live (read_index_latest,
    read_index_before_batch, read_index_tombstones, and compact_index all
    delegate).  ``keep_meta`` additionally carries each surviving row's
    original ``(ts, _batch)`` (legacy inputs without them get
    ``current_timestamp``/``-1``) — compaction uses it so folded rows keep
    their provenance."""
    w = Window.partitionBy("doc_id").orderBy(*_latest_order(log.columns))
    latest = log.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    if not keep_tombstones:
        latest = latest.filter(F.col("norm_embedding").isNotNull())
    cols = ["vec_id", "doc_id", "norm_embedding", "norm"]
    if keep_meta:
        latest = latest.withColumn(
            "ts",
            F.col("ts") if "ts" in log.columns else F.current_timestamp(),
        ).withColumn(
            "_batch",
            F.col("_batch").cast("long")
            if "_batch" in log.columns
            else F.lit(-1).cast("long"),
        )
        cols += ["ts", "_batch"]
    return latest.select(*cols)


def read_index_latest(spark: SparkSession, path: str) -> DataFrame:
    """The resolved index view: newest row per doc_id (by batch id, then
    event time) — same columns as ``build_index``.  Costs one
    window-with-limit over generation ∪ log; a freshly compacted index
    (one generation, one row per doc, empty log) resolves to itself.
    Docs whose newest row is a :func:`tombstones` marker are DROPPED —
    deletion is resolution, same as every upsert."""
    log = _raw_log(spark, path)
    if log is None:
        raise FileNotFoundError(f"no index at {path}")
    return _resolve_latest(log)


def read_index_asof(spark: SparkSession, path: str, ts) -> DataFrame:
    """TIME-TRAVEL read (r12): the resolved index as of EVENT time ``ts``
    — rows with ``ts <= T`` resolved latest-wins, so upserts after ``T``
    are invisible, a doc deleted after ``T`` is still served, and a doc
    deleted before ``T`` is dropped.  The reproducibility read a training
    pipeline needs ("which corpus state produced this dataset?"), derived
    entirely from the log the store already keeps — zero extra state.

    Retention contract (the Delta/Iceberg time-travel-vs-vacuum analog,
    stated honestly): EXACT for any ``T`` while every version's log row
    survives; ``compact_index`` keeps only each doc's LATEST row (with
    its original ``(ts, _batch)``), so after a compaction an as-of read
    older than a doc's surviving version cannot reproduce the superseded
    content — the doc resolves to ABSENT at such a ``T`` (its only row
    carries a newer ts), never to a wrong version.  Pin as-of
    reproducibility needs by compacting on a retention schedule, exactly
    like a table format's vacuum horizon."""
    log = _raw_log(spark, path)
    if log is None:
        raise FileNotFoundError(f"no index at {path}")
    if "ts" not in log.columns:
        raise ValueError(
            "read_index_asof: this index carries no event time (a plain "
            "save_index artifact) — no as-of axis to travel on"
        )
    return _resolve_latest(log.filter(F.col("ts") <= F.lit(ts)))


def read_index_before_batch(
    spark: SparkSession,
    path: str,
    batch_id: int,
    for_docs: DataFrame | None = None,
) -> DataFrame:
    """The resolved index as it stood BEFORE batch ``batch_id`` appended:
    :func:`read_index_latest` restricted to rows with ``_batch <
    batch_id``.

    The point of the filter is REPLAY SAFETY for per-batch supersession
    evidence (the vecmean correction in ``ingest_stream``): a pre-append
    snapshot taken by reading the live view is wrong on replay (the
    crashed attempt already appended the batch), whereas this predicate
    is order-independent — batch ``batch_id``'s own rows are excluded
    whether or not the append happened.  Since r11, compaction PRESERVES
    each folded row's original ``_batch``, so the predicate stays exact
    even when a compaction lands between a crashed attempt and its replay
    — the old quiesce-compaction caveat only applies to generations
    written by pre-r11 code (their rows fold as ``_batch = -1`` and count
    as predecessors of every batch, the resolved-state-as-of-compaction
    approximation).

    ``for_docs`` (``(doc_id)`` rows) bounds the resolve to those docs
    BEFORE the latest-wins window — the per-batch evidence only concerns
    the batch's own ids, and the semi-join keeps the window input at
    versions-per-doc x batch size instead of O(corpus)."""
    log = _raw_log(spark, path)
    if log is None:
        raise FileNotFoundError(f"no index at {path}")
    if "_batch" in log.columns:
        log = log.filter(F.col("_batch") < int(batch_id))
    if for_docs is not None:
        # bound the resolve to the docs the caller needs BEFORE the
        # window: the per-batch supersession evidence only concerns the
        # batch's own doc_ids, and semi-joining the raw log first keeps
        # the window input at versions-per-doc x batch size instead of an
        # O(corpus) shuffle per micro-batch (identical result — the
        # window partitions by doc_id, so dropping other docs' rows
        # cannot change any kept doc's resolution)
        log = log.join(
            F.broadcast(for_docs.select("doc_id").distinct()),
            "doc_id",
            "left_semi",
        )
    return _resolve_latest(log)


def compact_index(
    spark: SparkSession,
    path: str,
    n_files: int = 4,
    _pre_publish_hook=None,
    drop_tombstones: bool = False,
    up_to_batch: int | None = None,
) -> None:
    """Fold generation ∪ log into ONE new generation: resolve the latest
    view from a SNAPSHOT of the log file list, write it range-clustered on
    doc_id (point lookups prune) into ``.gen-<n+1>``, atomically repoint
    the MANIFEST (``os.replace`` of a same-directory temp file), and
    RETIRE — not delete — the superseded generation and exactly the
    snapshotted log files.  Retired paths are listed in ``<path>/RETIRED``
    and physically deleted by the NEXT compaction, a one-cycle grace
    period (the same snapshot-retention idea Delta/Iceberg use).

    Reader guarantees (VERDICT r4 #4, tightened r6 per VERDICT r5 #4 +
    ADVICE r5):

    - RESOLUTION is complete at any instant: before the manifest swap a
      reader resolves old-generation ∪ full log; after it, new-generation
      ∪ log, whose surviving log rows win the latest-per-doc window with
      identical values.  Appends racing in after the snapshot stay in the
      log and win the same way.
    - EXECUTION of a lazily-run plan stays valid through the grace period:
      files a plan referenced are not deleted by the compaction that
      supersedes them, only by the one after it.  (A plan older than one
      full compaction cycle can still lose files — the documented bound.)
    - Generation dirs are DOT-PREFIXED so the legacy flat-layout fallback
      (``spark.read.parquet(path)``) never sees a half-migrated mix of
      flat part files and a generation subdirectory (ADVICE r5): Spark's
      listing ignores hidden dirs, while manifest readers open the dot
      path explicitly.  Legacy flat part files are likewise retired, not
      deleted, on first migration.

    ``_pre_publish_hook`` is a test seam invoked after the generation is
    written but before the manifest swap (tests read mid-compaction
    through it)."""
    from vector_search_question_answer_api_spark.sources.compaction import (
        compact_write,
    )

    # grace-delete what the PREVIOUS compaction retired, then sweep
    # crash-window orphans (ADVICE r6): a compaction that died between
    # the MANIFEST publish and the RETIRED rewrite leaves the superseded
    # .gen-<n> referenced by NEITHER file — it would leak forever since
    # no resolve ever glob-lists generation dirs.  Dropping it here
    # preserves the grace bound (the crash plus this compaction span a
    # full cycle).
    store = index_store(path)
    old_gen = store.current_gen()
    store.housekeep(keep=[os.path.join(path, old_gen)] if old_gen else [])
    snapshot = index_log_files(path)
    raw = _raw_log(spark, path, files=snapshot)
    if raw is None:
        raise FileNotFoundError(f"no index at {path}")
    prev_horizon = store.horizon()
    if (
        up_to_batch is not None
        and prev_horizon is not None
        and int(up_to_batch) <= prev_horizon
    ):
        # a bounded fold at/below the existing horizon would filter OUT
        # generation rows whose _batch >= up_to_batch — docs last updated
        # in already-folded batches would silently vanish from the
        # published generation (r12 review #2).  The in-stream cadence
        # never trips this (it folds at batch N start with up_to=N >
        # horizon <= N-1); only an out-of-cadence manual call can.
        raise ValueError(
            f"compact_index: up_to_batch={int(up_to_batch)} is at or "
            f"below the fold horizon {prev_horizon} at {path!r} — a "
            "bounded re-fold of already-folded history would drop every "
            "doc last updated at or after the bound"
        )
    legacy_flat = old_gen is None and not snapshot
    if up_to_batch is not None and "_batch" in raw.columns:
        # fold ONLY the pre-batch state (the in-stream cadence contract,
        # maintain_corpus(compact_index_every=)): called at the START of
        # batch `up_to_batch`'s handler, this bounds the fold to batches
        # < N so the superseded-version evidence read_index_before_batch
        # needs is PRESERVED as the fold's latest rows (with provenance).
        # Rows with _batch >= N in the snapshot — present only when a
        # crashed attempt of batch N already appended — are discarded
        # with the retired files, which is safe exactly because the
        # caller is about to (re-)append batch N in this same handler
        # run; a full fold (up_to_batch=None) instead discards HISTORY,
        # so it must not land between a crashed attempt and its replay.
        raw = raw.filter(F.col("_batch") < int(up_to_batch))
        if raw.isEmpty():
            return  # nothing folds (e.g. a replayed FIRST batch): no-op
    # drop_tombstones=True: full removal INCLUDING the deletion evidence —
    # only safe once every doc-keyed downstream artifact has already been
    # purged (purge_corpus_spans etc.); afterwards read_index_tombstones
    # no longer reports these docs, so exclude_deleted-style reads cannot
    # protect a store that still carries their rows.
    #
    # WITHOUT drop_tombstones (default): a tombstoned doc's null row is
    # KEPT in the fold as an id-only marker — the doc's CONTENT bytes
    # (embedding/norm) are physically gone once the grace sweep removes
    # the superseded log files, but the deletion EVIDENCE survives
    # compaction, so read_index_tombstones / purge_corpus_spans /
    # exclude_deleted reads keep working at any point in the maintenance
    # schedule (the Delta/Iceberg tombstone-until-vacuum discipline).
    #
    # Folded rows KEEP their original (ts, _batch) (r11; legacy inputs
    # without them get current_timestamp/-1): compaction is then
    # REPLAY-TRANSPARENT for read_index_before_batch — its `_batch <
    # batch_id` predicate stays exact even when a compaction lands
    # between a crashed attempt and its checkpoint replay, which is what
    # makes auto-compaction inside the composed ingest safe
    # (maintain_corpus(compact_index_every=)).  Later log rows still win
    # the window exactly as before: a post-compaction append carries a
    # HIGHER batch id than anything folded; a replayed append carries the
    # SAME id with identical content, so either pick resolves alike.
    latest = _resolve_latest(raw, keep_tombstones=not drop_tombstones,
                             keep_meta=True)
    new_gen = store.next_gen(old_gen)
    compact_write(
        latest,
        os.path.join(path, new_gen),
        n_files=n_files,
        rows_per_file=10_000_000,
        sort_by=["doc_id"],
    )
    # fold horizon = the highest _batch this fold consumed (one tiny agg
    # on the already-resolved snapshot), monotone vs any prior stamp;
    # written BEFORE the manifest so a crash between the two over-claims
    # (bounded reads raise needlessly) but never under-claims
    if "_batch" in raw.columns:
        # horizon = max folded _batch, over the PRE-resolution rows (a
        # drop_tombstones fold erases tombstone rows entirely, and their
        # batches must still raise below the horizon rather than resolve
        # absent-but-silent).  Log-sized when possible (r12 review #3):
        # generation rows are bounded by the prior stamp — they were
        # folded under it — so max(log snapshot, prev) suffices; the
        # raw-wide agg (a corpus-sized generation scan) runs only once,
        # for a legacy pre-horizon generation, and this stamp makes every
        # later fold log-sized.
        frame = None
        if prev_horizon is None and old_gen is not None:
            frame = raw  # legacy gen without a stamp: one full pass
        elif snapshot:
            frame = spark.read.parquet(*snapshot)
            if up_to_batch is not None and "_batch" in frame.columns:
                frame = frame.filter(F.col("_batch") < int(up_to_batch))
        h = prev_horizon
        if frame is not None and "_batch" in frame.columns:
            row = frame.agg(F.max("_batch").alias("m")).first()
            if row is not None and row["m"] is not None:
                m = int(row["m"])
                h = m if h is None else max(h, m)
        if h is not None and h >= 0:
            store.stamp_horizon(h)
    if _pre_publish_hook is not None:
        _pre_publish_hook()
    # publish, then retire (grace-period delete at the NEXT compaction):
    # superseded generation, folded log files, and — on first migration —
    # the legacy flat part files the resolve consumed
    retire: list[str] = []
    if old_gen is not None:
        retire.append(os.path.join(path, old_gen))
    retire.extend(snapshot)
    if legacy_flat:
        retire.extend(glob.glob(os.path.join(path, "*.parquet")))
    store.publish(new_gen + "\n", retire)
