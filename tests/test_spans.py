"""Exact duplicated-span extraction (operators/spans) vs a brute-force
python reference, plus the operator-level invariants the module docstring
promises."""

from __future__ import annotations

import re
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.operators import spans as SP
from vector_search_question_answer_api_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Brute-force reference: duplicated k-gram marking + interval merge over
# plain python token lists (no hashing — gram identity is the tuple itself,
# so this also cross-checks the xxhash64 pairing for collisions at test
# scale).
# ---------------------------------------------------------------------------

def _py_tokens(text: str) -> list[str]:
    # mirror functions/text.preprocess_text + tokens for the synthetic
    # corpus (lowercase ascii words already; the chain is idempotent there)
    t = text.lower()
    t = re.sub(r"[^\w\s%]", " ", t, flags=re.UNICODE)
    return [x for x in t.split() if x]


def _py_spans(
    docs: dict[int, list[str]], k: int, keep_first: bool = True
) -> set[tuple[int, int, int]]:
    occ: dict[tuple, list[tuple[int, int]]] = defaultdict(list)
    for d in sorted(docs):
        toks = docs[d]
        for i in range(len(toks) - k + 1):
            occ[tuple(toks[i : i + k])].append((d, i))
    marked: dict[int, set[int]] = defaultdict(set)
    for g, positions in occ.items():
        if len(positions) < 2:
            continue
        start = 1 if keep_first else 0
        for d, i in sorted(positions)[start:]:
            marked[d].add(i)
    out: set[tuple[int, int, int]] = set()
    for d, poss in marked.items():
        run: list[int] = []
        for p in sorted(poss):
            if run and p - run[-1] > k:
                out.add((d, run[0], run[-1] + k - 1))
                run = []
            run.append(p)
        if run:
            out.add((d, run[0], run[-1] + k - 1))
    return out


def _spark_spans(df) -> set[tuple[int, int, int]]:
    return {
        (int(r["doc_id"]), int(r["span_start"]), int(r["span_end"]))
        for r in df.collect()
    }


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _sentence(seed: int, n: int) -> str:
    # tokens unique to (seed, position): no accidental repeats anywhere
    return " ".join(f"s{seed}w{i}" for i in range(n))


class TestDuplicateSpans:
    def test_cross_doc_repeat_keep_first(self, spark):
        shared = _sentence(1, 12)
        rows = [
            (0, _sentence(2, 6) + " " + shared + " " + _sentence(3, 5)),
            (1, _sentence(4, 9) + " " + shared),
            (2, _sentence(5, 20)),
        ]
        got = _spark_spans(_mk_docs(spark, rows).transform(SP.duplicate_spans, k=5))
        docs = {d: _py_tokens(t) for d, t in rows}
        assert got == _py_spans(docs, k=5)
        # canonical copy (doc 0, earliest position) survives; doc 1's is cut
        assert {d for d, _, _ in got} == {1}
        (d, s, e) = next(iter(got))
        assert e - s + 1 == 12  # the whole shared sentence, maximally merged

    def test_keep_first_false_marks_all_copies(self, spark):
        shared = _sentence(1, 10)
        rows = [(0, shared), (1, shared)]
        got = _spark_spans(
            _mk_docs(spark, rows).transform(
                SP.duplicate_spans, k=4, keep_first=False
            )
        )
        assert got == {(0, 0, 9), (1, 0, 9)}

    def test_within_doc_repetition(self, spark):
        passage = _sentence(6, 8)
        rows = [(0, passage + " " + _sentence(7, 4) + " " + passage)]
        got = _spark_spans(_mk_docs(spark, rows).transform(SP.duplicate_spans, k=6))
        docs = {0: _py_tokens(rows[0][1])}
        assert got == _py_spans(docs, k=6)
        # only the SECOND occurrence is cut (positions after the canonical)
        assert len(got) == 1 and next(iter(got))[1] > 0

    def test_short_docs_have_no_grams(self, spark):
        rows = [(0, "one two three"), (1, "one two three")]
        assert (
            _mk_docs(spark, rows).transform(SP.duplicate_spans, k=5).count() == 0
        )

    def test_adjacent_islands_stay_separate(self, spark):
        a, b = _sentence(1, 6), _sentence(8, 6)
        filler = " ".join(f"u{u}" for u in range(12))  # unique gap > k
        rows = [(0, a + " " + b), (1, a + " " + filler + " " + b)]
        got = _spark_spans(
            _mk_docs(spark, rows).transform(
                SP.duplicate_spans, k=4, keep_first=False
            )
        )
        docs = {d: _py_tokens(t) for d, t in rows}
        assert got == _py_spans(docs, k=4, keep_first=False)
        # doc 1 carries two separate islands (gap > k), doc 0 one merged run
        assert sorted(s for d, s, e in got if d == 1) == [0, 18]
        assert [(s, e) for d, s, e in got if d == 0] == [(0, 11)]

    def test_strip_removes_exactly_marked_tokens(self, spark):
        shared = _sentence(1, 12)
        rows = [
            (0, _sentence(2, 6) + " " + shared),
            (1, shared + " " + _sentence(3, 6)),
            (2, _sentence(5, 15)),
        ]
        d = _mk_docs(spark, rows)
        spans = {r["doc_id"]: r for r in SP.duplicate_spans(d, k=5).collect()}
        out = {r["doc_id"]: r for r in SP.strip_duplicate_spans(d, k=5).collect()}
        for did, text in rows:
            toks = _py_tokens(text)
            if did in spans:
                s = spans[did]
                expect = toks[: s["span_start"]] + toks[s["span_end"] + 1 :]
            else:
                expect = toks
            assert out[did]["clean_text"].split() == [t for t in expect if t]
            assert out[did]["n_tokens_kept"] == len(expect)
            assert out[did]["n_tokens_removed"] == len(toks) - len(expect)

    def test_max_gram_freq_caps_boilerplate(self, spark):
        boiler = _sentence(9, 7)
        rows = [(i, boiler) for i in range(8)] + [
            (100, _sentence(1, 10)),
            (101, _sentence(1, 10)),
        ]
        d = _mk_docs(spark, rows)
        capped = _spark_spans(
            SP.duplicate_spans(d, k=5, keep_first=False, max_gram_freq=3)
        )
        # the 8-way boilerplate grams exceed the cap -> not marked; the
        # 2-way pair is still found
        assert capped == {(100, 0, 9), (101, 0, 9)}

    def test_corpus_equivalence_vs_bruteforce(self, spark):
        d = load_table(spark, SF, "documents")
        got = _spark_spans(SP.duplicate_spans(d, k=8))
        docs = {
            int(r["doc_id"]): _py_tokens(r["text"])
            for r in d.select("doc_id", "text").collect()
        }
        assert got == _py_spans(docs, k=8)
        assert len(got) > 0  # the synthetic corpus does contain duplicates

    def test_profile_matches_strip_accounting(self, spark):
        d = load_table(spark, SF, "documents")
        prof = SP.duplication_profile(d, k=8).collect()[0]
        removed = (
            SP.strip_duplicate_spans(d, k=8)
            .agg(F.sum("n_tokens_removed").alias("r"))
            .collect()[0]["r"]
        )
        assert int(prof["n_dup_tokens"]) == int(removed)
        assert 0.0 < float(prof["dup_fraction"]) < 1.0

    def test_strip_then_respan_finds_nothing(self, spark):
        """Fixed point: after stripping (keep_first=False so NO copy of any
        duplicated gram survives), a second pass finds no duplicated span
        of the same k among the previously-duplicated material."""
        shared = _sentence(1, 12)
        rows = [
            (0, _sentence(2, 8) + " " + shared),
            (1, shared + " " + _sentence(3, 8)),
        ]
        d = _mk_docs(spark, rows)
        clean = SP.strip_duplicate_spans(d, k=5, keep_first=False).select(
            "doc_id", F.col("clean_text").alias("text")
        )
        assert SP.duplicate_spans(clean, k=5).count() == 0


class TestPlan:
    def test_single_aggregate_no_cartesian(self, spark):
        """The dup-gram detection is one hash-agg + equi-joins: the
        executed plan must contain no CartesianProduct/BroadcastNestedLoop
        (never all-pairs) and the span merge exactly one window."""
        d = load_table(spark, SF, "documents")
        plan = (
            SP.duplicate_spans(d, k=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan


class TestSpanStore:
    """Incremental span-store (streaming/span_stream): per-batch appends of
    occurrence rows + gram-agg deltas must reproduce the one-shot batch
    operator exactly, survive replays, and survive compaction."""

    def _docs(self, spark):
        return load_table(spark, SF, "documents").select("doc_id", "text")

    def _fill(self, spark, path, parts=3):
        from vector_search_question_answer_api_spark.streaming import (
            span_stream as ST,
        )

        d = self._docs(spark)
        for b in range(parts):
            ST.append_span_batch(
                d.filter(F.col("doc_id") % parts == b), str(path), b, k=8
            )
        return d

    def test_store_spans_equal_one_shot(self, spark, tmp_path):
        from vector_search_question_answer_api_spark.streaming import (
            span_stream as ST,
        )

        d = self._fill(spark, tmp_path / "store")
        got = _spark_spans(
            ST.corpus_spans_from_store(spark, str(tmp_path / "store"), k=8)
        )
        want = _spark_spans(SP.duplicate_spans(d, k=8))
        assert got == want and got

    def test_replay_idempotent(self, spark, tmp_path):
        from vector_search_question_answer_api_spark.streaming import (
            span_stream as ST,
        )

        d = self._fill(spark, tmp_path / "store")
        before = _spark_spans(
            ST.corpus_spans_from_store(spark, str(tmp_path / "store"), k=8)
        )
        # checkpoint replay: batch 1 lands again under the same id
        ST.append_span_batch(
            d.filter(F.col("doc_id") % 3 == 1), str(tmp_path / "store"), 1, k=8
        )
        after = _spark_spans(
            ST.corpus_spans_from_store(spark, str(tmp_path / "store"), k=8)
        )
        assert before == after

    def test_compaction_preserves_spans_and_bounds_width(self, spark, tmp_path):
        import os

        from vector_search_question_answer_api_spark.streaming import (
            span_stream as ST,
        )

        self._fill(spark, tmp_path / "store")
        before = _spark_spans(
            ST.corpus_spans_from_store(spark, str(tmp_path / "store"), k=8)
        )
        agg_dir = tmp_path / "store" / "agg"
        old_deltas = sorted(
            x for x in os.listdir(agg_dir) if x.startswith("batch=")
        )
        ST.compact_gram_store(spark, str(tmp_path / "store"))
        # grace semantics (ADVICE r7): the manifest's LIVE set folds to one
        # compacted generation; superseded deltas are retired on disk (a
        # concurrent lazy reader's plan stays valid) and deleted by the
        # NEXT compaction, never before the publish
        man = ST._agg_manifest(str(agg_dir))
        assert man["live"] == ["batch=compacted-000000"]
        assert sorted(man["retired"]) == old_deltas
        for d in old_deltas:
            assert os.path.isdir(agg_dir / d)  # retired, not deleted
        after = _spark_spans(
            ST.corpus_spans_from_store(spark, str(tmp_path / "store"), k=8)
        )
        assert before == after
        ST.compact_gram_store(spark, str(tmp_path / "store"))
        for d in old_deltas:
            assert not os.path.exists(agg_dir / d)  # grace expired
        assert ST._agg_manifest(str(agg_dir))["live"] == [
            "batch=compacted-000001"
        ]
        assert _spark_spans(
            ST.corpus_spans_from_store(spark, str(tmp_path / "store"), k=8)
        ) == before
        # further appends keep merging on top of the compacted generation
        extra = self._docs(spark).limit(0).sparkSession.createDataFrame(
            [(100001, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")], ["doc_id", "text"]
        )
        ST.append_span_batch(extra, str(tmp_path / "store"), 99, k=8)
        assert _spark_spans(
            ST.corpus_spans_from_store(spark, str(tmp_path / "store"), k=8)
        ) == before  # unique new text adds no span

    def test_compaction_crash_window_serves_old_view(self, spark, tmp_path):
        """A crash (or concurrent read) between the compacted write and
        the manifest swap must still resolve the complete OLD aggregate —
        the ADVICE r7 scenario the delete-first form lost."""
        from vector_search_question_answer_api_spark.streaming import (
            span_stream as ST,
        )

        self._fill(spark, tmp_path / "store")
        store = str(tmp_path / "store")
        before = _spark_spans(ST.corpus_spans_from_store(spark, store, k=8))
        seen: dict = {}

        def probe():
            # mid-publish reader: new generation on disk, manifest not yet
            # swapped — and simulate the crash by raising after the probe
            seen["spans"] = _spark_spans(
                ST.corpus_spans_from_store(spark, store, k=8)
            )
            raise RuntimeError("crash before publish")

        import pytest as _pytest

        with _pytest.raises(RuntimeError):
            ST.compact_gram_store(spark, store, _pre_publish_hook=probe)
        assert seen["spans"] == before  # mid-window reader saw the old view
        # post-crash: store still serves, and the next compaction sweeps
        # the orphaned generation then succeeds
        assert _spark_spans(
            ST.corpus_spans_from_store(spark, store, k=8)
        ) == before
        ST.compact_gram_store(spark, store)
        assert _spark_spans(
            ST.corpus_spans_from_store(spark, store, k=8)
        ) == before

    def test_replay_after_compaction_not_double_counted(self, spark, tmp_path):
        """ADVICE r8 (medium): a checkpoint replay of a batch that a
        compaction has already FOLDED into the compacted generation must
        not be re-published live — that double-counts its grams AND makes
        the next compaction's grace sweep delete a dir the manifest lists
        live (all later reads then fail on a missing path)."""
        import os

        from vector_search_question_answer_api_spark.streaming import (
            span_stream as ST,
        )

        d = self._fill(spark, tmp_path / "store")
        store = str(tmp_path / "store")
        before_aggs = {
            (r["h1"], r["h2"]): r["n_occ"]
            for r in ST.read_gram_aggs(spark, store).collect()
        }
        before = _spark_spans(ST.corpus_spans_from_store(spark, store, k=8))
        ST.compact_gram_store(spark, store)
        # checkpoint replay lands AFTER the compaction folded batch 1
        ST.append_span_batch(
            d.filter(F.col("doc_id") % 3 == 1), store, 1, k=8
        )
        man = ST._agg_manifest(str(tmp_path / "store" / "agg"))
        assert "batch=1" not in man["live"]  # stays retired, not re-published
        after_aggs = {
            (r["h1"], r["h2"]): r["n_occ"]
            for r in ST.read_gram_aggs(spark, store).collect()
        }
        assert after_aggs == before_aggs  # no gram double-counted
        # the next compaction sweeps the rewritten retiree and the store
        # keeps serving (the old bug failed here on a missing path)
        ST.compact_gram_store(spark, store)
        assert not os.path.exists(tmp_path / "store" / "agg" / "batch=1")
        assert _spark_spans(
            ST.corpus_spans_from_store(spark, store, k=8)
        ) == before

    def test_batch_spans_against_store(self, spark, tmp_path):
        from vector_search_question_answer_api_spark.streaming import (
            span_stream as ST,
        )

        store_docs = [
            (0, _sentence(1, 14)),
            (1, _sentence(2, 16)),
        ]
        d0 = spark.createDataFrame(store_docs, ["doc_id", "text"])
        ST.append_span_batch(d0, str(tmp_path / "store"), 0, k=5)
        batch = spark.createDataFrame(
            [
                # copies a passage already in the store -> every batch
                # occurrence marked (global canonical lives in doc 0)
                (10, _sentence(1, 14)),
                # duplicated only WITHIN the batch -> keep-first inside it
                (11, _sentence(9, 8)),
                (12, _sentence(9, 8)),
                # unique -> no span
                (13, _sentence(7, 12)),
            ],
            ["doc_id", "text"],
        )
        got = _spark_spans(
            ST.batch_spans_against_store(spark, batch, str(tmp_path / "store"), k=5)
        )
        # global-equivalence: the one-shot operator over store ∪ batch,
        # restricted to batch doc_ids, must agree exactly
        union = d0.unionByName(batch)
        want = {
            t
            for t in _spark_spans(SP.duplicate_spans(union, k=5))
            if t[0] >= 10
        }
        assert got == want
        assert got == {(10, 0, 13), (12, 0, 7)}


class TestSpanPurge:
    """r11: purge_deleted_spans — the span store's right-to-be-forgotten
    compaction.  After a purge, span semantics are EXACT over the
    post-delete corpus (aggs rebuilt from purged occurrences, not merely
    read-filtered) and the deleted docs' occurrence rows are physically
    out of the live store."""

    def _docs(self, spark):
        return load_table(spark, SF, "documents").select("doc_id", "text")

    def _fill(self, spark, path, parts=3):
        from vector_search_question_answer_api_spark.streaming import (
            span_stream as ST,
        )

        d = self._docs(spark)
        for b in range(parts):
            ST.append_span_batch(
                d.filter(F.col("doc_id") % parts == b), str(path), b, k=8
            )
        return d

    def _deleted(self, spark, d):
        return d.filter(F.col("doc_id") % 5 == 0).select("doc_id")

    def test_purge_makes_spans_exact_post_delete(self, spark, tmp_path):
        import os

        from vector_search_question_answer_api_spark.streaming import (
            span_stream as ST,
        )

        store = str(tmp_path / "store")
        d = self._fill(spark, store)
        dels = self._deleted(spark, d)
        alive = d.join(dels, "doc_id", "left_anti")

        ST.purge_deleted_spans(spark, store, dels)
        # EXACT equality with the one-shot operator over the post-delete
        # corpus — no exclude filter, no conservative slack: the aggs were
        # rebuilt, so a surviving doc whose only twin was deleted is no
        # longer marked
        got = _spark_spans(ST.corpus_spans_from_store(spark, store, k=8))
        want = _spark_spans(SP.duplicate_spans(alive, k=8))
        assert got == want and got
        # physical: the live occurrence dirs hold NO rows for deleted docs
        man = ST._agg_manifest(os.path.join(store, "occ"))
        assert man is not None and man["live"] == ["batch=purged-000000"]
        deleted_ids = {int(r["doc_id"]) for r in dels.collect()}
        live_docs = {
            int(r["doc_id"])
            for r in spark.read.parquet(
                os.path.join(store, "occ", man["live"][0])
            ).select("doc_id").distinct().collect()
        }
        assert live_docs.isdisjoint(deleted_ids)
        # retired (grace): the old dirs still exist until the next purge
        for dd in man["retired"]:
            assert os.path.isdir(os.path.join(store, "occ", dd))

    def test_purge_then_append_then_second_purge(self, spark, tmp_path):
        import os

        from vector_search_question_answer_api_spark.streaming import (
            span_stream as ST,
        )

        store = str(tmp_path / "store")
        d = self._fill(spark, store)
        dels = self._deleted(spark, d)
        ST.purge_deleted_spans(spark, store, dels)
        old_retired = ST._agg_manifest(os.path.join(store, "occ"))["retired"]

        # appends after a purge are occ-manifest-aware: re-add every
        # deleted doc in a fresh batch, and the store must equal the
        # one-shot over the original corpus again
        ST.append_span_batch(
            d.join(dels, "doc_id", "left_semi"), store, 77, k=8
        )
        got = _spark_spans(ST.corpus_spans_from_store(spark, store, k=8))
        assert got == _spark_spans(SP.duplicate_spans(d, k=8))

        # second purge (empty delete set): grace-deletes the first purge's
        # retired dirs and keeps serving the same relation
        empty = dels.limit(0)
        ST.purge_deleted_spans(spark, store, empty)
        for dd in old_retired:
            assert not os.path.exists(os.path.join(store, "occ", dd))
        assert _spark_spans(
            ST.corpus_spans_from_store(spark, store, k=8)
        ) == got

    def test_purge_crash_window_serves_old_view(self, spark, tmp_path):
        from vector_search_question_answer_api_spark.streaming import (
            span_stream as ST,
        )

        store = str(tmp_path / "store")
        d = self._fill(spark, store)
        dels = self._deleted(spark, d)
        before = _spark_spans(ST.corpus_spans_from_store(spark, store, k=8))
        seen: dict = {}

        def probe():
            seen["spans"] = _spark_spans(
                ST.corpus_spans_from_store(spark, store, k=8)
            )
            raise RuntimeError("crash before occ publish")

        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="crash before occ publish"):
            ST.purge_deleted_spans(spark, store, dels, _pre_publish_hook=probe)
        # mid-window and post-crash readers both see the complete OLD view
        assert seen["spans"] == before
        assert _spark_spans(
            ST.corpus_spans_from_store(spark, store, k=8)
        ) == before
        # the retried purge sweeps the orphan and converges
        ST.purge_deleted_spans(spark, store, dels)
        alive = d.join(dels, "doc_id", "left_anti")
        assert _spark_spans(
            ST.corpus_spans_from_store(spark, store, k=8)
        ) == _spark_spans(SP.duplicate_spans(alive, k=8))
