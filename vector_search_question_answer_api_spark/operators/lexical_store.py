"""Maintained on-disk lexical (BM25) postings store.

Engine extension, closing the last rebuilt-per-query serving artifact:
``keyword_search.bm25_topk`` re-tokenizes the CORPUS on every call —
fine for a one-shot batch job, wrong as a serving plan (the reference
keeps its retrieval index always-fresh on disk and never rebuilds it
per query, services/index_service.py:95; this store gives the lexical
tier the same lifecycle the embedding index, LSH signature table,
profile, and span store already have: build once, maintain per ingest
batch, compact on a cadence, delete through).

Layout at ``path/``:

- ``_postings_manifest.json`` — knob manifest (family, n_buckets,
  tokenizer family), published LAST by the initial build (the
  completeness marker every maintained store here uses);
- base generation (``postings/`` + ``doclens/`` from
  :func:`write_postings_index`, or the newest ``.pgen-*`` from
  :func:`compact_postings` named by ``PG_MANIFEST``):
  - postings: (term, doc_id, tf, dl) parquet PARTITIONED BY
    ``tb = pmod(xxhash64(term), n_buckets)`` and term-sorted within
    files — a query touches only its terms' buckets (static partition
    pruning on the collected ``tb`` set, ≤ n_buckets longs) and its
    terms' row groups (parquet min/max pushdown on the sorted column);
  - doclens: (doc_id, dl) — the per-doc version/liveness relation;
- maintenance log (``append_postings_batch``):
  ``postings_log/batch=<id>`` (term, doc_id, tf, dl) and
  ``doclens_log/batch=<id>`` (doc_id, dl; ``dl`` NULL = tombstone).

Resolution is LOG-SIZED, the ``ann.read_lsh_signatures`` discipline
(VERDICT r11 #1 applied from birth rather than retrofitted): every log
batch id outranks the base by construction (a fold consumes only
batches below the surviving log), so base rows whose doc appears in the
log are superseded unconditionally — removed by a broadcast anti-join
on the log's doc ids; the latest-per-doc window runs over the LOG only.
The corpus-sized base never rides a shuffle.

Deletion: a tombstone is a doclens-log row with NULL ``dl`` and no
postings rows.  The newest-batch-wins join then resolves the doc to
absent (its older postings rows, base or log, match no surviving
version).  Compaction makes the removal physical.

Scale shape (100 TB): the base is the bucketed on-disk inverted index
the one-shot docstring promised "at scale this is the relation you'd
persist" — serving reads the query-term slice only; per ingest batch
the append tokenizes BATCH rows only (batch-local explode + count);
the only corpus-sized work left is the compaction fold (a latest-wins
rewrite, NO re-tokenization) and the 2-column doclens aggregate for
(n_docs, avgdl).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from vector_search_question_answer_api_spark.functions import text as TXT
from vector_search_question_answer_api_spark.sources.generation_store import (
    GenerationStore,
    batch_id_of,
)

POSTINGS_FAMILY = "bm25-postings-ws-v1"
_KNOB_MANIFEST = "_postings_manifest.json"
_PG_MANIFEST = "PG_MANIFEST"
_PG_RETIRED = "PG_RETIRED"
_PG_HORIZON = "PG_HORIZON"
_POST_LOG = "postings_log"
_DL_LOG = "doclens_log"


def _term_bucket(term, n_buckets: int):
    return F.pmod(F.xxhash64(term), F.lit(int(n_buckets)))


def _batch_tokens(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    ts_col: str | None,
    keep_ts: bool = False,
) -> DataFrame:
    """(doc_id, toks, dl) for a batch, deduped to the LATEST row per doc
    (by ``ts_col`` when present — the ``append_lsh_signatures_batch``
    intra-batch latest-wins rule, matching ``read_index_latest``).
    ``keep_ts`` carries the winner's event time through as ``_uts`` (the
    append path's tombstone-vs-upsert comparison needs it)."""
    rows = batch
    has_ts = ts_col is not None and ts_col in batch.columns
    if has_ts:
        w = Window.partitionBy(id_col).orderBy(F.col(ts_col).desc())
        rows = (
            rows.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    sel = [
        F.col(id_col).alias("doc_id"),
        TXT.tokens(TXT.preprocess_text(F.col(text_col))).alias("toks"),
    ]
    if keep_ts and has_ts:
        sel.append(F.col(ts_col).alias("_uts"))
    return rows.select(*sel).withColumn("dl", F.size("toks"))


def _postings_of(toks: DataFrame, n_buckets: int) -> DataFrame:
    """(tb, term, doc_id, tf, dl) from a (doc_id, toks, dl) relation."""
    return (
        toks.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("tb", _term_bucket(F.col("term"), n_buckets))
        .select("tb", "term", "doc_id", "tf", "dl")
    )


# ---------------------------------------------------------------- manifest


def read_postings_manifest(path: str) -> dict:
    """The store's knob manifest; FileNotFoundError if absent (an absent
    manifest over existing data is a crashed build — see the append's
    refuse-to-bootstrap rule)."""
    with open(os.path.join(path, _KNOB_MANIFEST), encoding="utf-8") as f:
        return json.load(f)


def _write_manifest(path: str, manifest: dict) -> None:
    tmp = os.path.join(path, "." + _KNOB_MANIFEST + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(tmp, os.path.join(path, _KNOB_MANIFEST))


# ------------------------------------------------------------- generations


def postings_store(path: str) -> GenerationStore:
    """The postings store's generation files (``.pgen-<n>`` bases,
    ``postings_log``/``doclens_log`` ``batch=<id>`` maintenance logs)."""
    return GenerationStore(
        path, _PG_MANIFEST, _PG_RETIRED, ".pgen-", _PG_HORIZON
    )


def _base_dir(store: GenerationStore) -> str | None:
    """Dir of the current base GENERATION (contains ``postings/`` +
    ``doclens/``): the generation ``PG_MANIFEST`` names (compacted
    store), else the store root itself when the initial build's dirs
    exist, else None (log-only store bootstrapped by the stream)."""
    gen = store.current_gen()
    if gen is not None:
        return os.path.join(store.path, gen)
    if os.path.isdir(os.path.join(store.path, "postings")):
        return store.path
    return None


def _read_log(spark, path: str, sub: str, dirs: list[str]) -> DataFrame:
    return (
        spark.read.option("basePath", os.path.join(path, sub))
        .parquet(*dirs)
        .withColumn("_batch", F.col("batch").cast("long"))
        .drop("batch")
    )


# ------------------------------------------------------------------ build


def write_postings_index(
    documents: DataFrame,
    path: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """One-shot build of the on-disk inverted index: tokenize the corpus
    ONCE, write postings bucketed by term hash and term-sorted within
    files, write doclens, then publish the knob manifest LAST (the
    completeness marker — a crash leaves no manifest and readers refuse
    the partial store).  Returns the manifest.

    Like ``ann.write_lsh_index`` this is also the full-rebuild path for
    an existing store: the maintenance log, generation pointer, and all
    ``.pgen-*`` dirs are cleared first so stale state cannot shadow or
    outrank the fresh base."""
    # de-publish first: readers refuse a manifest-less store, so the
    # rebuild window is loud, never silently stale
    try:
        os.remove(os.path.join(path, _KNOB_MANIFEST))
    except FileNotFoundError:
        pass
    postings_store(path).clear()
    for d in (_POST_LOG, _DL_LOG):
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)

    toks = _batch_tokens(documents, id_col, text_col, ts_col=None)
    posts = _postings_of(toks, n_buckets)
    # one task per bucket writes one term-sorted file: partition pruning
    # on tb + row-group min/max pushdown on term both serve the read path
    (
        posts.repartition("tb")
        .sortWithinPartitions("tb", "term", "doc_id")
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(os.path.join(path, "postings"))
    )
    toks.select("doc_id", "dl").write.mode("overwrite").parquet(
        os.path.join(path, "doclens")
    )
    manifest = {
        "family": POSTINGS_FAMILY,
        "n_buckets": int(n_buckets),
    }
    _write_manifest(path, manifest)
    return manifest


# ----------------------------------------------------------------- append


def append_postings_batch(
    batch: DataFrame,
    path: str,
    batch_id: int,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    tomb_col: str | None = None,
) -> None:
    """Incrementally maintain the store with ONE micro-batch: tokenize
    the BATCH rows only (batch-local explode + count — nothing
    corpus-sized), write their postings under
    ``postings_log/batch=<id>`` and their (doc_id, dl) rows under
    ``doclens_log/batch=<id>``.  Replay safety is the ``batch=<id>``
    OVERWRITE pattern; the batch is deduped to its latest row per doc
    first, matching ``read_index_latest``'s resolution.

    ``tomb_col`` (boolean) marks deletion rows: a tombstoned doc writes
    ONE doclens row with NULL ``dl`` and no postings — the resolved
    read drops the doc, compaction makes the removal physical.
    Within one batch the tombstone competes by EVENT TIME, exactly as
    the index / docs / lsh stores resolve: it beats live rows up to and
    including its ``ts`` (tie -> deleted), and a strictly newer upsert
    in the same batch revives the doc.

    The manifest is verified (or created for a stream-bootstrapped
    store) every batch; orphaned data without a manifest is refused —
    the ``append_lsh_signatures_batch`` crashed-rebuild rule."""
    try:
        manifest = read_postings_manifest(path)
        if manifest.get("family") != POSTINGS_FAMILY or int(
            manifest.get("n_buckets", -1)
        ) != int(n_buckets):
            raise ValueError(
                f"append_postings_batch: store at {path!r} has knobs "
                f"{manifest!r}, caller passed n_buckets={n_buckets} "
                f"(family {POSTINGS_FAMILY!r}) — refusing to append rows "
                "bucketed differently (rebuild via write_postings_index "
                "to change knobs)"
            )
    except FileNotFoundError:
        if (
            os.path.isdir(os.path.join(path, "postings"))
            or os.path.isdir(os.path.join(path, _POST_LOG))
            or os.path.isfile(postings_store(path).manifest_path)
        ):
            raise ValueError(
                f"append_postings_batch: no manifest at {path!r} but "
                "postings data exists — a crashed write_postings_index "
                "left a partial store; rebuild it rather than appending"
            )
        os.makedirs(path, exist_ok=True)
        _write_manifest(
            path, {"family": POSTINGS_FAMILY, "n_buckets": int(n_buckets)}
        )

    ups = batch
    tombs = None
    if tomb_col is not None and tomb_col in batch.columns:
        tombs = batch.filter(F.col(tomb_col) == F.lit(True))
        ups = batch.filter(
            F.coalesce(F.col(tomb_col), F.lit(False)) == F.lit(False)
        )
    toks = _batch_tokens(ups, id_col, text_col, ts_col, keep_ts=True)
    if tombs is not None:
        has_ts = ts_col is not None and ts_col in batch.columns
        if has_ts:
            # the index log's EVENT-TIME rule, not a blanket batch rule:
            # the tombstone beats live rows up to and INCLUDING its ts
            # (a same-ts tie resolves to deleted), but a strictly newer
            # upsert in the same batch WINS — "delete then re-add within
            # one micro-batch" resolves to the re-add, exactly as the
            # index / docs / lsh stores resolve it.  (Pre-r12 this store
            # dropped every live row of a tombstoned doc regardless of
            # ts — a cross-store divergence the randomized prefix-replay
            # test caught, tests/test_consistent_reads.py.)
            tomb_ts = tombs.groupBy(F.col(id_col).alias("doc_id")).agg(
                F.max(ts_col).alias("__tts")
            )
            toks = (
                toks.join(F.broadcast(tomb_ts), "doc_id", "left")
                .filter(
                    F.col("__tts").isNull()
                    | (F.col("_uts") > F.col("__tts"))
                )
                .drop("__tts")
            )
        else:
            # no event time -> no version order within the batch; the
            # tombstone wins it (documented conservative fallback)
            toks = toks.join(
                F.broadcast(
                    tombs.select(F.col(id_col).alias("doc_id")).distinct()
                ),
                "doc_id",
                "left_anti",
            )
    toks = toks.drop("_uts")
    posts = _postings_of(toks, n_buckets)
    # postings FIRST, doclens SECOND: the doclens dir is the batch's
    # commit marker — a crash between the two leaves a postings-only
    # batch the read path resolves away and compaction leaves in place
    posts.write.mode("overwrite").parquet(
        os.path.join(path, _POST_LOG, f"batch={int(batch_id)}")
    )
    dl_rows = toks.select("doc_id", "dl")
    if tombs is not None:
        # a NULL-dl marker only for docs whose tombstone actually WON
        # the batch — a doc revived by a newer same-batch upsert writes
        # its live row alone, so the batch dir states one unambiguous
        # outcome per doc
        dead = (
            tombs.select(F.col(id_col).alias("doc_id"))
            .distinct()
            .join(toks.select("doc_id"), "doc_id", "left_anti")
        )
        dl_rows = dl_rows.unionByName(
            dead.select(
                "doc_id", F.lit(None).cast("int").alias("dl")
            )
        )
    dl_rows.write.mode("overwrite").parquet(
        os.path.join(path, _DL_LOG, f"batch={int(batch_id)}")
    )


# ------------------------------------------------------------- resolution


def _log_census(dl_log: DataFrame) -> DataFrame:
    """(doc_id, _mx, dl) — each doc's NEWEST doclens-log row (``dl`` null =
    that newest row is a tombstone).  Window input is log-sized by
    construction.

    r16 (guide §2.4): this one relation now serves all three resolution
    consumers — the base anti-join side (every log-mentioned doc), the
    postings latest-live join (``_mx`` of live docs), and the doclens
    union side (live ``dl`` rows) — where r15 computed a separate window
    + a separate distinct per consumer.  One window exchange, one
    broadcast child, shared by the whole resolution plan (and persisted
    by the serving snapshot, so the log is scanned once per store
    state)."""
    w = Window.partitionBy("doc_id")
    return (
        dl_log.withColumn("_mx", F.max("_batch").over(w))
        .filter(F.col("_batch") == F.col("_mx"))
        .select("doc_id", "_mx", "dl")
    )


def _resolved_parts(spark, path: str, up_to_batch: int | None = None):
    """(base_gen_dir, post_dirs, dl_dirs) of the current store state,
    log dirs bounded to ``up_to_batch`` when given (consistent reads)."""
    store = postings_store(path)
    base = _base_dir(store)
    post_dirs = store.log_dirs(_POST_LOG, up_to_batch)
    dl_dirs = store.log_dirs(_DL_LOG, up_to_batch)
    if base is None and not dl_dirs:
        raise FileNotFoundError(f"no postings store at {path}")
    return base, post_dirs, dl_dirs


def _resolve_doclens_frame(base_dl, census):
    """THE doclens resolution — base minus log-mentioned docs (broadcast
    anti-join; the base never shuffles) ∪ the log's latest live rows.
    Single source of truth: ``read_doclens`` serves it and
    ``compact_postings`` folds it, so the fold can never bake a different
    relation into the base than reads resolve (the r12 review's drift
    concern).  ``census`` is the doclens log's :func:`_log_census` (None:
    no log), so one cached/reused relation can serve every resolution
    consumer (r16, guide §2.4)."""
    if census is None:
        return base_dl
    log_live = census.filter(F.col("dl").isNotNull()).select(
        "doc_id", F.col("dl").cast("int").alias("dl")
    )
    if base_dl is None:
        return log_live
    # the census has exactly one row per log-mentioned doc (incl. docs
    # whose newest row is a tombstone) — the same relation the r15
    # ``dl_log.select("doc_id").distinct()`` anti-join side computed with
    # its own exchange
    return base_dl.join(
        F.broadcast(census), "doc_id", "left_anti"
    ).unionByName(log_live)


def _resolve_posts_frame(base_posts, log_posts, census):
    """THE postings resolution (see ``_resolve_doclens_frame``): base
    rows of log-mentioned docs leave via a broadcast anti-join; log
    postings keep only each doc's newest LIVE version (broadcast join
    against the log-sized census, live rows selected in the join
    condition)."""
    if census is None:
        return base_posts
    resolved_log = None
    if log_posts is not None:
        resolved_log = log_posts.join(
            F.broadcast(census),
            (log_posts["doc_id"] == census["doc_id"])
            & (log_posts["_batch"] == census["_mx"])
            & census["dl"].isNotNull(),
        ).select(
            log_posts["term"],
            log_posts["doc_id"],
            log_posts["tf"],
            log_posts["dl"],
        )
    if base_posts is None:
        return resolved_log
    kept = base_posts.join(F.broadcast(census), "doc_id", "left_anti")
    return kept if resolved_log is None else kept.unionByName(resolved_log)


def read_doclens(
    spark, path: str, up_to_batch: int | None = None, _census=None
) -> DataFrame:
    """Resolved (doc_id, dl) of live docs (``_resolve_doclens_frame``).
    ``up_to_batch`` bounds the log to a committed epoch (see
    ``GenerationStore.log_dirs``).  ``_census`` (internal) shares the
    serving snapshot's persisted :func:`_log_census` with its stats
    aggregate (:func:`_serving_snapshot`)."""
    read_postings_manifest(path)
    base, _post_dirs, dl_dirs = _resolved_parts(spark, path, up_to_batch)
    base_dl = (
        spark.read.parquet(os.path.join(base, "doclens")).select(
            "doc_id", "dl"
        )
        if base is not None
        else None
    )
    if _census is None and dl_dirs:
        _census = _log_census(_read_log(spark, path, _DL_LOG, dl_dirs))
    return _resolve_doclens_frame(base_dl, _census)


class _Snapshot(NamedTuple):
    """Query-independent serving state of one postings store state (see
    :func:`_serving_snapshot`)."""

    n_buckets: int
    base: "str | None"  # base generation dir
    base_schema: "StructType | None"  # of its postings/ (no inference job)
    census: "DataFrame | None"  # persisted :func:`_log_census`
    log_posts: "DataFrame | None"  # persisted census-resolved log postings
    stats: DataFrame  # one-row (n_docs, avgdl) literal


def _serving_snapshot(spark, path: str, up_to_batch: int | None) -> _Snapshot:
    """The store's serving state at ``up_to_batch``, built once per store
    state and borrowed by every later read of it
    (``caching.epoch_cached``).  The key is the resolved file set (base
    generation, bounded log dirs) plus the stamps of those dirs and of
    the knob manifest, so an append, a compaction (same epoch, retired
    log dirs) or an in-place rebuild (same dir names) each build anew.

    Persisted frames are materialized lazily by the first plan that
    reads them; the one job a build runs is the stats collect, which
    replaces the per-request stats aggregate and passes the same double
    on as a literal.  Memory: the census and the resolved log postings
    are log-sized, bounded by the compaction cadence."""
    from vector_search_question_answer_api_spark import caching

    manifest = read_postings_manifest(path)
    base, post_dirs, dl_dirs = _resolved_parts(spark, path, up_to_batch)
    data = (
        [os.path.join(base, "postings"), os.path.join(base, "doclens")]
        if base is not None
        else []
    )
    key = (spark,) + tuple(
        (p, caching.file_stamp(p))
        for p in [os.path.join(path, _KNOB_MANIFEST), *data, *post_dirs,
                  *dl_dirs]
    )

    def build():
        census = None
        if dl_dirs:
            census = _log_census(
                _read_log(spark, path, _DL_LOG, dl_dirs)
            ).persist()
        log_posts = _resolve_posts_frame(
            None,
            _read_log(spark, path, _POST_LOG, post_dirs) if post_dirs else None,
            census,
        )
        if log_posts is not None:
            log_posts = log_posts.persist()
        stats = corpus_stats(
            spark, path, up_to_batch=up_to_batch, _census=census
        ).first()
        snap = _Snapshot(
            n_buckets=int(manifest["n_buckets"]),
            base=base,
            base_schema=(
                spark.read.parquet(os.path.join(base, "postings")).schema
                if base is not None
                else None
            ),
            census=census,
            log_posts=log_posts,
            stats=spark.createDataFrame(
                [(stats["n_docs"], stats["avgdl"])],
                "n_docs long, avgdl double",
            ),
        )
        return snap, [f for f in (census, log_posts) if f is not None]

    return caching.epoch_cached(path, key, build)


def read_postings(
    spark,
    path: str,
    terms: list[str] | None = None,
    term_buckets: list[int] | None = None,
    up_to_batch: int | None = None,
    _snapshot: "_Snapshot | None" = None,
) -> DataFrame:
    """Resolved (term, doc_id, tf, dl) postings of the LIVE corpus.

    ``terms`` (the serving path) prunes the base scan to the query
    terms' buckets (static partition filter on the ≤ n_buckets ``tb``
    values — pass ``term_buckets`` precomputed by :func:`term_bucket_of`
    to avoid an extra job, else one 1-row job derives them here) and
    their row groups (parquet pushdown on the sorted ``term`` column).
    The base scan reads with the schema the serving snapshot recorded
    (no inference job); the log side comes resolved and persisted from
    the snapshot (:func:`_serving_snapshot`) — it is log-sized.

    Resolution never shuffles the base: log-mentioned docs leave via a
    broadcast anti-join on the doclens log's doc ids; log postings keep
    only each doc's newest LIVE version (broadcast join against the
    log-sized latest-live relation).  ``up_to_batch`` bounds the log to
    a committed epoch (see ``GenerationStore.log_dirs``).  ``_snapshot``
    (internal) passes the one ``bm25_topk_stored`` already borrowed, so
    its postings and stats come from one store state."""
    snap = _snapshot or _serving_snapshot(spark, path, up_to_batch)

    def _slice(df: DataFrame) -> DataFrame:
        if terms is None:
            return df
        return df.filter(F.col("term").isin([str(t) for t in terms]))

    base_posts = None
    if snap.base is not None:
        base_posts = spark.read.schema(snap.base_schema).parquet(
            os.path.join(snap.base, "postings")
        )
        if terms is not None:
            tbs = (
                sorted(set(int(t) for t in term_buckets))
                if term_buckets is not None
                else term_bucket_of(spark, terms, snap.n_buckets)
            )
            base_posts = base_posts.filter(F.col("tb").isin(tbs))
        base_posts = _slice(base_posts).select("term", "doc_id", "tf", "dl")
    kept = _resolve_posts_frame(base_posts, None, snap.census)
    log = None if snap.log_posts is None else _slice(snap.log_posts)
    if kept is None and log is None:
        raise FileNotFoundError(f"no postings store at {path}")
    if kept is None:
        return log
    return kept if log is None else kept.unionByName(log)


def term_bucket_of(spark, terms: list[str], n_buckets: int) -> list[int]:
    """The distinct ``tb`` partition values of the given terms, computed
    in ONE tiny job that evaluates the WRITE PATH's own expression
    (``pmod(xxhash64(term), n_buckets)``) — so the pruning filter can
    never bit-diverge from how the store was bucketed.  Bounded by
    min(len(terms), n_buckets) values."""
    lits = F.array(*[F.lit(str(t)) for t in terms])
    row = (
        spark.range(1)
        .select(F.explode(lits).alias("term"))
        .select(_term_bucket(F.col("term"), n_buckets).alias("tb"))
        .agg(F.collect_set("tb").alias("tbs"))
        .first()
    )
    return sorted(int(t) for t in row["tbs"])


# ---------------------------------------------------------------- serving


def corpus_stats(
    spark, path: str, up_to_batch: int | None = None, _census=None
) -> DataFrame:
    """ONE row (n_docs, avgdl) over the live corpus — an aggregate of the
    resolved 2-column doclens relation (kept a DataFrame; never a driver
    collect)."""
    return read_doclens(
        spark, path, up_to_batch=up_to_batch, _census=_census
    ).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )


def bm25_topk_stored(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    round_digits: int = 6,
    max_doc_freq: float | None = None,
    up_to_batch: int | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, rank): BM25 top-k per query SERVED FROM
    THE STORE — relation-equal to ``keyword_search.bm25_topk`` over the
    resolved live corpus (same idf smoothing, same contribution, same
    rounded-measure + id tiebreak; pinned in tests/test_lexical_store.py)
    without re-tokenizing a single corpus row.

    ``queries`` is small by the same contract as the one-shot (it is
    broadcast); its DISTINCT terms are collected once to drive partition
    pruning — a bounded handful of strings, never corpus rows.

    ``up_to_batch`` serves the corpus as of a committed epoch — both the
    pruned postings slice AND the corpus stats (n_docs, avgdl) resolve at
    the same bound, so historical scores are exactly what a live query at
    that epoch returned."""
    from vector_search_question_answer_api_spark.operators.keyword_search import (
        score_postings_bm25,
    )

    manifest = read_postings_manifest(path)
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(
            F.array_distinct(
                TXT.tokens(TXT.preprocess_text(F.col(query_text_col)))
            )
        ).alias("term"),
    )
    # ONE tiny job collects (term, tb) together — terms drive row-group
    # pushdown, tbs drive partition pruning, both from the write path's
    # own expressions so neither can bit-diverge from the store
    pairs = (
        qterms.select("term")
        .distinct()
        .withColumn(
            "tb", _term_bucket(F.col("term"), int(manifest["n_buckets"]))
        )
        .collect()
    )
    if not pairs:
        # mirror the non-empty path's query_id type (the API does not
        # restrict it — a hardcoded long would make the all-empty-queries
        # result un-unionable with a scored one for string ids)
        qid_t = queries.schema[query_id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"query_id {qid_t}, doc_id long, score double, rank int"
        )
    # the slice fans into BOTH the df aggregate and the scoring join —
    # persist it (tracked, like build_postings does for the one-shot)
    # so the pruned scan + resolution runs once.  Everything
    # query-independent (census, stats, resolved log postings, base
    # schema) comes from the store state's serving snapshot, built once
    # per committed state instead of once per request.
    from vector_search_question_answer_api_spark.caching import (
        persist_tracked,
    )

    snap = _serving_snapshot(spark, path, up_to_batch)
    postings = persist_tracked(
        read_postings(
            spark,
            path,
            terms=[r["term"] for r in pairs],
            term_buckets=[int(r["tb"]) for r in pairs],
            _snapshot=snap,
        )
    )
    return score_postings_bm25(
        postings,
        qterms,
        snap.stats,
        k=k,
        k1=k1,
        b=b,
        round_digits=round_digits,
        max_doc_freq=max_doc_freq,
    )


def recommended_postings_compaction_every(
    reads_per_batch: float,
    fold_cost_sec: float,
    marginal_resolve_sec: float,
    max_every: int = 256,
) -> int:
    """The lexical store's compaction-cadence rule — the SAME
    ``N* = sqrt(2C/(r*m))`` cost model as the signature store's
    (``ann.recommended_lsh_compaction_every``, which this delegates to):
    the log-bearing read's resolution premium grows linearly in the
    depth the cadence allows, the fold amortizes over it.  Only the
    measured constants differ; the bench-geometry constants live in
    ``measurements/r12_postings_log_depth.json``, pinned by
    test_lexical_store.  Advisory like every
    ``recommended_*`` rule."""
    from vector_search_question_answer_api_spark.operators.ann import (
        recommended_lsh_compaction_every,
    )

    return recommended_lsh_compaction_every(
        reads_per_batch,
        fold_cost_sec,
        marginal_resolve_sec,
        max_every=max_every,
    )


# -------------------------------------------------------------- compaction


def compact_postings(
    spark, path: str, up_to_batch: int | None = None
) -> bool:
    """Fold base ∪ log into ONE new base generation — WITHOUT
    re-tokenizing anything (postings are already computed; the fold is a
    latest-wins rewrite).  Returns True if a generation was published,
    False for a no-op.

    Protocol = ``ann.compact_lsh_signatures`` verbatim (itself the
    ``index_stream.compact_index`` discipline): resolve via the same
    log-sized read path, write ``.pgen-<n+1>`` (postings re-bucketed by
    ``tb``, term-sorted; doclens), publish ``PG_MANIFEST`` atomically,
    RETIRE (not delete) the superseded generation dirs and folded log
    dirs into ``PG_RETIRED`` for one grace cycle, sweep crashed-attempt
    orphans.  ``up_to_batch=N`` bounds the fold to log batches < N —
    the in-stream cadence contract (a replaying batch N's own dir is
    excluded and left for its handler's overwrite).

    Deleted docs simply VANISH from the fold; deletion evidence for
    downstream consumers lives in the index log
    (``read_index_tombstones``), not here."""
    manifest = read_postings_manifest(path)
    n_buckets = int(manifest["n_buckets"])

    # shared lifecycle (sources/generation_store, r13): grace-delete what
    # the previous compaction retired, sweep crashed-attempt orphans
    store = postings_store(path)
    cur = _base_dir(store)
    store.housekeep(keep=[cur] if cur is not None else [])

    def _bounded(dirs: list[str]) -> list[str]:
        if up_to_batch is None:
            return dirs
        return [
            d
            for d in dirs
            if batch_id_of(d) < int(up_to_batch)
        ]

    dl_dirs = _bounded(store.log_dirs(_DL_LOG))
    # the doclens write is the batch's COMMIT MARKER (append writes
    # postings first, doclens second — a crash between the two leaves a
    # postings dir the read path resolves away).  Fold and retire ONLY
    # committed batches: a postings-only dir stays in place untouched
    # for the replaying handler's overwrite — retiring it would make the
    # re-appended batch invisible (log_dirs excludes retired realpaths).
    committed = {
        batch_id_of(d) for d in dl_dirs
    }
    post_dirs = [
        d
        for d in _bounded(store.log_dirs(_POST_LOG))
        if batch_id_of(d) in committed
    ]
    if not dl_dirs:
        return False

    # resolve EXACTLY the read path's relation, bounded to the fold set
    base = cur
    base_posts = (
        spark.read.parquet(os.path.join(base, "postings")).select(
            "term", "doc_id", "tf", "dl"
        )
        if base is not None
        else None
    )
    base_dl = (
        spark.read.parquet(os.path.join(base, "doclens")).select(
            "doc_id", "dl"
        )
        if base is not None
        else None
    )
    # fold EXACTLY the read path's relations — shared helpers, so a
    # resolution fix lands in reads and folds at once
    census = _log_census(_read_log(spark, path, _DL_LOG, dl_dirs))
    log_posts = (
        _read_log(spark, path, _POST_LOG, post_dirs) if post_dirs else None
    )
    folded_dl = _resolve_doclens_frame(base_dl, census)
    folded_posts = _resolve_posts_frame(base_posts, log_posts, census)
    if folded_posts is None or folded_dl is None:
        return False

    new_gen = store.next_gen(
        os.path.basename(cur) if cur is not None else None
    )
    gen_dir = os.path.join(path, new_gen)
    (
        folded_posts.withColumn("tb", _term_bucket(F.col("term"), n_buckets))
        .repartition("tb")
        .sortWithinPartitions("tb", "term", "doc_id")
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(os.path.join(gen_dir, "postings"))
    )
    folded_dl.write.mode("overwrite").parquet(
        os.path.join(gen_dir, "doclens")
    )
    # horizon BEFORE the manifest (the generation_store crash rule):
    # folded batches are the committed dl set — a postings-only crashed
    # dir is neither folded nor retired, so it stays resolvable after
    # its replay
    store.stamp_horizon(max(batch_id_of(d) for d in dl_dirs))
    retire = list(post_dirs + dl_dirs)
    if cur is not None and cur != path:
        retire.append(cur)
    elif cur is not None:
        # the initial build's root-level dirs retire individually (the
        # root itself obviously cannot be deleted)
        retire.append(os.path.join(path, "postings"))
        retire.append(os.path.join(path, "doclens"))
    store.publish(new_gen + "\n", retire)
    return True
