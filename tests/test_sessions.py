"""Stateful-semantics scenario tests (FIXTURES.md §4 scenarios a-g;
SURVEY.md §5.5) over the batch replay operator."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.operators.index_build import build_index
from vector_search_question_answer_api_spark.operators.sessions import replay_sessions

DOC_A = "alpha strain with thc 20% relaxing indica profile for evening use"
DOC_B = "citrus sativa energizing bright flavor daytime focus boost blend"
DOC_C = "balanced hybrid gentle body effect mild aroma smooth finish mix"
GIBBERISH = "zzz qqq xxx yyy www vvv uuu"

T0 = datetime(2024, 1, 1, 12, 0, 0)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(0, DOC_A, "en", "s", len(DOC_A)), (1, DOC_B, "en", "s", len(DOC_B)), (2, DOC_C, "en", "s", len(DOC_C))]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    return build_index(docs).cache()


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, T0 + timedelta(minutes=m), sid, q) for i, (m, sid, q) in enumerate(rows)],
        "event_id long, ts timestamp, session_id string, question string",
    )


def _replay(spark, corpus, rows):
    out = replay_sessions(_events(spark, rows), corpus)
    return {r["event_id"]: r for r in out.collect()}


def test_cold_session_acquires_context(spark, corpus):
    got = _replay(spark, corpus, [(0, "s1", DOC_A)])
    r = got[0]
    assert r["context_doc_id"] == 0
    assert r["context_changed"] is True
    assert r["used_fallback"] is False
    assert r["expired_before"] is False


def test_no_hit_cold_session_fallback(spark, corpus):
    got = _replay(spark, corpus, [(0, "s1", GIBBERISH)])
    r = got[0]
    assert r["context_doc_id"] is None
    assert r["used_fallback"] is True
    assert "No specific product information" in r["answer"]


def test_followup_same_topic_keeps_context(spark, corpus):
    got = _replay(spark, corpus, [(0, "s1", DOC_A), (1, "s1", DOC_A)])
    r = got[1]
    assert r["context_doc_id"] == 0
    assert r["is_new_topic"] is False
    assert r["context_changed"] is False


def test_topic_switch_on_strong_new_hit(spark, corpus):
    got = _replay(spark, corpus, [(0, "s1", DOC_A), (1, "s1", DOC_B)])
    r = got[1]
    assert r["is_new_topic"] is True
    assert r["context_doc_id"] == 1
    assert r["context_changed"] is True


def test_weak_hit_keeps_old_context(spark, corpus):
    got = _replay(spark, corpus, [(0, "s1", DOC_A), (1, "s1", GIBBERISH)])
    r = got[1]
    assert r["is_new_topic"] is True  # gibberish is dissimilar to context
    assert r["context_doc_id"] == 0  # but weak hit -> keep (qa_service.py:62-64)
    assert r["context_changed"] is False


def test_history_truncated_to_last5(spark, corpus):
    rows = [(i, "s1", DOC_A) for i in range(8)]
    got = _replay(spark, corpus, rows)
    assert got[2]["history_len"] == 3
    assert got[7]["history_len"] == 5


def test_ttl_expiry_resets_state(spark, corpus):
    got = _replay(spark, corpus, [(0, "s1", DOC_A), (31, "s1", GIBBERISH)])
    r = got[1]
    assert r["expired_before"] is True
    assert r["context_doc_id"] is None  # cold again, gibberish finds nothing
    assert r["used_fallback"] is True
    assert r["history_len"] == 1


def test_boundary_exactly_30min_not_expired(spark, corpus):
    got = _replay(spark, corpus, [(0, "s1", DOC_A), (30, "s1", DOC_A)])
    assert got[1]["expired_before"] is False  # strict '>' gap


def test_sessions_isolated(spark, corpus):
    got = _replay(spark, corpus, [(0, "s1", DOC_A), (1, "s2", DOC_B)])
    assert got[0]["context_doc_id"] == 0
    assert got[1]["context_doc_id"] == 1
    assert got[1]["history_len"] == 1


def test_usage_counters(spark, corpus):
    from vector_search_question_answer_api_spark.operators.sessions import UsageCounters, replay_sessions

    usage = UsageCounters(spark)
    out = replay_sessions(
        _events(spark, [(0, "s1", DOC_A), (1, "s1", DOC_A), (2, "s2", DOC_B)]),
        corpus,
        usage=usage,
    )
    assert out.count() == 3
    stats = usage.stats()
    assert stats["events_processed"] == 3
    assert stats["sessions_folded"] == 2


def test_replay_lsh_retrieval_matches_exact(spark, corpus):
    """The fully-distributed LSH retrieval tier (no driver collect of the
    event-side query matrix) must reproduce the exact replay on the corpus
    fixture — identical vectors always share every LSH signature, so the
    self-hit candidates survive bucketing."""
    rows = [
        (0, "s1", DOC_A),
        (1, "s1", DOC_A),
        (2, "s1", DOC_B),
        (3, "s2", GIBBERISH),
        (31 + 3, "s2", DOC_C),
    ]
    exact = _replay(spark, corpus, rows)
    ev = _events(spark, rows)
    lsh = {
        r["event_id"]: r
        for r in replay_sessions(ev, corpus, retrieval="lsh").collect()
    }
    assert set(exact) == set(lsh)
    for eid in exact:
        for col in (
            "context_doc_id",
            "context_changed",
            "is_new_topic",
            "used_fallback",
            "answer",
            "history_len",
            "expired_before",
        ):
            assert lsh[eid][col] == exact[eid][col], f"event {eid} col {col}"


def test_replay_graph_retrieval_matches_exact(spark, corpus):
    """r7 (VERDICT r6 #7): the RAG retrieval seam served by the
    reference's own index structure — celled HNSW graphs through the
    cogrouped walk — must reproduce the exact replay on the corpus
    fixture (identical question vectors self-hit; the walk at ef=50 is
    exhaustive over these tiny cells)."""
    rows = [
        (0, "s1", DOC_A),
        (1, "s1", DOC_A),
        (2, "s1", DOC_B),
        (3, "s2", GIBBERISH),
        (31 + 3, "s2", DOC_C),
    ]
    exact = _replay(spark, corpus, rows)
    ev = _events(spark, rows)
    graph = {
        r["event_id"]: r
        for r in replay_sessions(ev, corpus, retrieval="graph").collect()
    }
    assert set(exact) == set(graph)
    for eid in exact:
        for col in (
            "context_doc_id",
            "context_changed",
            "is_new_topic",
            "used_fallback",
            "answer",
            "history_len",
            "expired_before",
        ):
            assert graph[eid][col] == exact[eid][col], f"event {eid} col {col}"


def test_replay_unknown_retrieval_raises(spark, corpus):
    with pytest.raises(ValueError, match="unknown retrieval"):
        replay_sessions(
            _events(spark, [(0, "s1", DOC_A)]), corpus, retrieval="nope"
        ).collect()


def test_replay_lsh_non64_dim_and_center_knob(spark):
    """ADVICE r9: the lsh tier centered at the index's inferred dim but
    hashed at a hard dim=64 default, so any other width raised.  A 16-dim
    corpus (custom embedder) must replay cleanly; lsh_center=None
    (uncentered) and an explicit precomputed center must reproduce the
    auto result on the self-hit fixture."""
    from vector_search_question_answer_api_spark.operators import ann
    from vector_search_question_answer_api_spark.operators.embed import (
        HashingEmbedder,
    )

    docs = spark.createDataFrame(
        [
            (0, DOC_A, "en", "s", len(DOC_A)),
            (1, DOC_B, "en", "s", len(DOC_B)),
            (2, DOC_C, "en", "s", len(DOC_C)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    emb = HashingEmbedder(dim=16)
    index = build_index(docs, embedder=emb)
    rows = [(0, "s1", DOC_A), (1, "s1", DOC_B), (2, "s2", DOC_C)]
    ev = _events(spark, rows)

    def run(**kw):
        return {
            r["event_id"]: r
            for r in replay_sessions(
                ev, index, embedder=emb, retrieval="lsh", **kw
            ).collect()
        }

    auto = run()  # would raise 'center has 16 components for dim=64' pre-fix
    assert auto[0]["context_doc_id"] == 0 and auto[2]["context_doc_id"] == 2
    uncentered = run(lsh_center=None)
    explicit = run(lsh_center=ann.corpus_center(index, dim=16))
    for eid in auto:
        for col in ("context_doc_id", "answer", "used_fallback"):
            assert uncentered[eid][col] == auto[eid][col]
            assert explicit[eid][col] == auto[eid][col]


def test_replay_lsh_artifact_supplies_knobs(spark, corpus, tmp_path):
    """The persisted LSH artifact parameterizes the replay tier wholesale
    (dim, planes, tables, center) — the per-call corpus_center agg is
    index-build-time work, paid once (VERDICT r9 wrong #3)."""
    from vector_search_question_answer_api_spark.operators import ann

    rows = [(0, "s1", DOC_A), (1, "s1", DOC_B), (2, "s2", DOC_C)]
    ev = _events(spark, rows)
    base = {
        r["event_id"]: r
        for r in replay_sessions(ev, corpus, retrieval="lsh").collect()
    }
    path = str(tmp_path / "replay_art")
    dim = len(corpus.select("norm_embedding").first()[0])
    ann.write_lsh_artifact(
        path,
        dim=dim,
        n_planes=ann.recommended_n_planes(corpus.count()),
        center=ann.corpus_center(corpus, dim=dim),
    )
    via = {
        r["event_id"]: r
        for r in replay_sessions(
            ev, corpus, retrieval="lsh", lsh_artifact=path
        ).collect()
    }
    assert set(base) == set(via)
    for eid in base:
        for col in ("context_doc_id", "answer", "used_fallback"):
            assert via[eid][col] == base[eid][col]


def test_replay_lsh_ondisk_serves_stored_signatures(spark, corpus, tmp_path):
    """r11 (VERDICT r10 #1 follow-through): the replay lsh tier served
    from the PERSISTED signature table — the artifact ``maintain_corpus``
    keeps fresh per ingest batch — must reproduce the in-memory lsh
    replay at the same manifest knobs: the per-replay corpus signature
    kernel is ingest-time work, the serving corpus side a 2-column scan.
    A conflicting ``lsh_artifact`` alongside the path raises."""
    import pytest

    from vector_search_question_answer_api_spark.operators import ann

    rows = [(0, "s1", DOC_A), (1, "s1", DOC_B), (2, "s2", DOC_C)]
    ev = _events(spark, rows)
    # the default replay-lsh knobs, written as a stored index
    dim = len(corpus.select("norm_embedding").first()[0])
    n_pl = ann.recommended_n_planes(corpus.count())
    center = ann.corpus_center(corpus, dim=dim)
    path = str(tmp_path / "replay_lsh_index")
    ann.write_lsh_index(corpus, path, dim=dim, n_planes=n_pl, center=center)

    base = {
        r["event_id"]: r
        for r in replay_sessions(ev, corpus, retrieval="lsh").collect()
    }
    stored = {
        r["event_id"]: r
        for r in replay_sessions(
            ev, corpus, retrieval="lsh", lsh_index_path=path
        ).collect()
    }
    assert set(base) == set(stored)
    for eid in base:
        for col in (
            "context_doc_id",
            "context_changed",
            "is_new_topic",
            "used_fallback",
            "answer",
            "history_len",
        ):
            assert stored[eid][col] == base[eid][col], f"event {eid} col {col}"

    # agreeing artifact alongside the path is fine; conflicting raises
    art = ann.read_lsh_artifact(path)
    replay_sessions(
        ev, corpus, retrieval="lsh", lsh_index_path=path, lsh_artifact=art
    ).collect()
    bad = dict(art, n_planes=art["n_planes"] + 1)
    with pytest.raises(ValueError, match="disagrees with the manifest"):
        replay_sessions(
            ev, corpus, retrieval="lsh", lsh_index_path=path, lsh_artifact=bad
        ).collect()


def test_sequential_replays_release_tracked_state(spark, corpus):
    """VERDICT r9 next #6: N sequential replays under cache_scope leave
    ZERO live tracked caches/broadcasts; an unscoped loop trips the
    registry growth warning instead of leaking silently."""
    import warnings

    from vector_search_question_answer_api_spark import caching

    rows = [(0, "s1", DOC_A), (1, "s1", DOC_B)]
    ev = _events(spark, rows)
    start_c = len(caching._live_caches)
    start_b = len(caching._live_broadcasts)
    for _ in range(3):
        with caching.cache_scope():
            replay_sessions(ev, corpus).count()
    assert len(caching._live_caches) == start_c
    assert len(caching._live_broadcasts) == start_b

    # unscoped growth warns once at the threshold
    old_thresh, old_warned = caching.GROWTH_WARN_THRESHOLD, caching._growth_warned
    caching.GROWTH_WARN_THRESHOLD = (
        len(caching._live_caches) + len(caching._live_broadcasts) + 2
    )
    caching._growth_warned = False
    try:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            with caching.cache_scope():
                replay_sessions(ev, corpus).count()
                replay_sessions(ev, corpus).count()
            growth = [x for x in w if "caching registry" in str(x.message)]
            assert growth, "growth warning did not fire"
    finally:
        caching.GROWTH_WARN_THRESHOLD = old_thresh
        caching._growth_warned = old_warned


def test_replay_lsh_index_path_requires_lsh_retrieval(spark, corpus, tmp_path):
    """Review fix (r11): lsh_index_path under any other retrieval strategy
    raises instead of silently serving the wrong tier."""
    import pytest

    ev = _events(spark, [(0, "s1", DOC_A)])
    with pytest.raises(ValueError, match="requires retrieval='lsh'"):
        replay_sessions(
            ev, corpus, lsh_index_path=str(tmp_path / "nope")
        ).collect()


def test_fold_survives_no_hit_events_under_takedown():
    """r12 review fix: a no-hit event (Arrow nulls arrive as float NaN
    candidates) with a NON-EMPTY takedown map must resolve to a clean
    conservative miss, not crash the fold on int(nan)."""
    from datetime import datetime

    from vector_search_question_answer_api_spark.config import DEFAULT_CONFIG
    from vector_search_question_answer_api_spark.operators.sessions import (
        _fold_session_rows,
    )

    nan = float("nan")
    rows = [
        {
            "event_id": 0,
            "ts": datetime(2024, 1, 1, 12, 0, 0),
            "question": "no bucket hit",
            "q_vec": None,
            "cand_doc_id": nan,
            "cand_dist": nan,
            "cand_vec": None,
        }
    ]
    out, _ = _fold_session_rows(
        rows, DEFAULT_CONFIG, deleted={7: None}
    )
    assert out[0]["used_fallback"] and out[0]["context_doc_id"] is None


def test_pick_candidate_properties():
    """Property pin for the deletion fall-through (pure python, seeded
    random): the picked candidate is always the FIRST live entry of the
    rank-ordered arrays; all-deleted rows and empty arrays degrade to a
    miss; the scalar path agrees with a length-1 array."""
    import random
    from datetime import datetime, timedelta

    from vector_search_question_answer_api_spark.operators.sessions import (
        _pick_candidate,
    )

    rng = random.Random(1202)
    T = datetime(2024, 1, 1)
    for _ in range(200):
        n = rng.randint(0, 5)
        ids = list(rng.sample(range(20), n))
        dists = sorted(round(rng.random(), 3) for _ in range(n))
        vecs = [[float(i)] for i in ids]
        deleted = {
            d: (None if rng.random() < 0.5 else T - timedelta(seconds=1))
            for d in rng.sample(range(20), rng.randint(0, 10))
        }
        row = {
            "cand_doc_ids": ids,
            "cand_dists": dists,
            "cand_vecs": vecs,
            "cand_doc_id": ids[0] if ids else None,
            "cand_dist": dists[0] if dists else None,
            "cand_vec": vecs[0] if vecs else None,
        }
        cid, cdist, cvec, cdel, cdel_ts = _pick_candidate(row, T, deleted)
        # rows carry no cand_del columns here -> the returned row-carried
        # deletion info is always null (r13 distributed-takedown fields)
        assert cdel is None and cdel_ts is None
        live = [
            (i, d, v)
            for i, d, v in zip(ids, dists, vecs)
            if i not in deleted
        ]
        if live:
            assert (cid, cdist, cvec) == live[0]
        else:
            assert cid is None and cdist is None and cvec is None
        # scalar path (no arrays) agrees with a length-1 array
        if ids:
            srow = {
                "cand_doc_id": ids[0],
                "cand_dist": dists[0],
                "cand_vec": vecs[0],
            }
            arow = {
                "cand_doc_ids": ids[:1],
                "cand_dists": dists[:1],
                "cand_vecs": vecs[:1],
            }
            assert _pick_candidate(srow, T, deleted) == _pick_candidate(
                arow, T, deleted
            )


def _driver_fold(prepared_rows, cfg):
    """Reference replay: ``_fold_session_rows`` per session on the driver,
    each session's rows sorted by (ts, event_id)."""
    from vector_search_question_answer_api_spark.operators.sessions import (
        _OUTPUT_COLS,
        _fold_session_rows,
    )

    by_session: dict = {}
    for r in prepared_rows:
        by_session.setdefault(r["session_id"], []).append(r.asDict())
    out = []
    for sid, rows in by_session.items():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        res, _ = _fold_session_rows(rows, cfg)
        out += [tuple({"session_id": sid, **o}[c] for c in _OUTPUT_COLS)
                for o in res]
    return sorted(out, key=repr), len(by_session)


def test_partition_fold_equals_per_session_fold(spark, corpus):
    """The batch replay folds each hash partition in one sorted pass.
    With 3-row Arrow batches every multi-event session straddles a batch
    boundary, and the output must still equal a per-session driver-side
    fold over the same prepared rows, with the same usage counts.  The
    events cover a no-hit (null-candidate) event, a TTL expiry, a
    one-event session, a (ts, event_id) tie and event ids out of time
    order, once on the LSH tier and once with two candidates and a
    tombstone DataFrame."""
    from vector_search_question_answer_api_spark.config import DEFAULT_CONFIG
    from vector_search_question_answer_api_spark.operators.sessions import (
        UsageCounters,
        prepare_qa_events,
    )

    rows = [
        (5, "s1", DOC_A), (0, "s2", DOC_B), (1, "s1", DOC_A),
        (2, "s1", DOC_B), (0, "s3", GIBBERISH), (3, "s1", GIBBERISH),
        (40, "s1", DOC_A), (41, "s1", DOC_C), (1, "s3", DOC_C),
        (1, "s3", DOC_A), (4, "s1", DOC_C), (2, "s3", DOC_C),
        (0, "s4", DOC_C), (0, "s5", DOC_A), (1, "s5", DOC_B),
    ]
    events = _events(spark, rows)
    tombs = spark.createDataFrame(
        [(2, T0 + timedelta(minutes=3)), (0, None)], "doc_id long, ts timestamp"
    )
    runs = [
        dict(retrieval="lsh"),
        dict(n_candidates=2, tombstones=tombs),
    ]
    prepared_runs = [
        prepare_qa_events(events, corpus, **kw).collect() for kw in runs
    ]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        for kw, prepared in zip(runs, prepared_runs):
            usage = UsageCounters(spark)
            got = sorted(
                (tuple(r) for r in
                 replay_sessions(events, corpus, usage=usage, **kw).collect()),
                key=repr,
            )
            want, n_sessions = _driver_fold(prepared, DEFAULT_CONFIG)
            assert got == want, kw
            assert usage.stats() == {
                "events_processed": len(rows), "sessions_folded": n_sessions
            }
            assert any(r[-1] for r in got), "no TTL expiry exercised"
            if kw.get("tombstones") is None:
                assert any(r["cand_doc_id"] is None for r in prepared)
            else:
                assert any(r["cand_del"] for r in prepared)
    finally:
        spark.conf.set(key, prior)


def test_float32_topic_gate_margin(spark, sf_dir, monkeypatch):
    """The replay shuffles ``q_vec``/``cand_vec`` as float32, which moves
    each topic-gate similarity by at most ~1e-7.  Every topic check of
    the 200-event gate fixture must clear ``topic_similarity_threshold``
    by at least 1e-5, so the cast cannot flip a decision."""
    import numpy as np

    from vector_search_question_answer_api_spark.config import DEFAULT_CONFIG
    from vector_search_question_answer_api_spark.inventory import qa_gate_events
    from vector_search_question_answer_api_spark.operators import sessions as S

    index, qa_events = qa_gate_events(spark, sf_dir)
    prepared = S.prepare_qa_events(qa_events, index).collect()

    thr = DEFAULT_CONFIG.topic_similarity_threshold
    margins = []

    class _RecordingNP:
        def dot(self, a, b):
            v = np.dot(a, b)
            margins.append(abs(float(v) - thr))
            return v

        def __getattr__(self, name):
            return getattr(np, name)

    monkeypatch.setattr(S, "np", _RecordingNP())
    _driver_fold(prepared, DEFAULT_CONFIG)
    assert margins, "no topic check ran"
    assert min(margins) >= 1e-5
