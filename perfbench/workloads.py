"""The workloads: each builds its fixture in ``setup`` and runs one
closed-loop operation per ``op`` call, checking every answer.

An operation returns ``(ok, items)``; a wrong answer is ``ok=False`` and
counts as a failed operation.  ``setup`` raises on a failed fixture check,
which fails the run.
"""

from __future__ import annotations

import os
import random
from contextlib import nullcontext

from pyspark.sql import functions as F

from vector_search_question_answer_api_spark import caching
from vector_search_question_answer_api_spark.operators import (
    ann,
    hybrid_store as HS,
    index_build,
    sessions as SS,
)
from vector_search_question_answer_api_spark.operators.embed import (
    hashing_embed_numpy,
)
from vector_search_question_answer_api_spark.streaming import ingest_stream as IG

from perfbench import inputs

DIM, N_CELLS, NPROBE, EF = 64, 16, 4, 50
K, POOL_DEPTH = 10, 20
STREAM_SCHEMA = (
    "doc_id long, ts timestamp, text string, n_chars long, _delete boolean"
)


class Ctx:
    """What every workload shares: the session, a scratch directory inside
    the checkout, the seeded text source and the optional tracer."""

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.text = inputs.Text(random.Random(seed))
        self.tracer = tracer

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext({})


def open_caches() -> int:
    """Tracked caches plus broadcasts the engine's registry holds open."""
    return len(caching._live_caches) + len(caching._live_broadcasts)


def center(texts: list[str]) -> tuple[float, ...]:
    """LSH centering vector: the mean normalized embedding, from the
    engine's driver-side reference embedder (the texts are already in
    canonical form, so it sees the tokens the index does)."""
    return tuple(float(x) for x in hashing_embed_numpy(texts, DIM).mean(0))


def stage_batch(path: str, rows: list[tuple]) -> None:
    """Write stream rows (doc_id, ts, text, n_chars, _delete) as one
    parquet file under ``path``, without a Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "ts": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
        "text": pa.array(cols[2], pa.string()),
        "n_chars": pa.array(cols[3], pa.int64()),
        "_delete": pa.array(cols[4], pa.bool_()),
    })
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


class Serve:
    """``/search``: each operation embeds a batch of 1-32 query texts and
    serves hybrid top-k (BM25 + celled graph) at the committed epoch,
    under ``cache_scope``, over a corpus bootstrapped through
    ``maintain_corpus``."""

    # report names: operation latency and work rate
    op_name, rate_name = "search", "search_qps"
    N_DOCS, POOL, RECALL_FLOOR = 1000, 48, 0.5

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.leaks = 0

    def _request(self, texts: list[str]) -> dict:
        spark = self.ctx.spark
        with caching.cache_scope():
            qdf = spark.createDataFrame(
                list(enumerate(texts)), "query_id long, query_text string"
            )
            qv = index_build.build_index(
                qdf.select(F.col("query_id").alias("doc_id"),
                           F.col("query_text").alias("text"))
            )
            queries = qdf.join(
                qv.select(F.col("doc_id").alias("query_id"),
                          F.col("norm_embedding").alias("qvec")),
                "query_id",
            )
            rows = HS.hybrid_search_stored(
                spark, self.root, queries, k=K, pool=POOL_DEPTH,
                dense="graph", dim=DIM, n_cells=N_CELLS, nprobe=NPROBE, ef=EF,
            ).collect()
        out: dict[int, list] = {i: [] for i in range(len(texts))}
        for r in rows:
            out[r["query_id"]].append((r["rank"], r["doc_id"], r["rrf_score"]))
        return {q: sorted(v) for q, v in out.items()}

    def _bootstrap(self, docs: list[str]) -> None:
        """One ``maintain_corpus`` micro-batch with the docs, postings, LSH
        and celled-graph stores: the reference's startup index build."""
        spark, w = self.ctx.spark, self.ctx.work
        stage_batch(os.path.join(w, "src", "b0000"),
                    [(d, inputs.EPOCH, x, len(x), False)
                     for d, x in enumerate(docs)])
        self.root = os.path.join(w, "corpus")
        with self.ctx.span("setup.bootstrap") as rec:
            q = IG.maintain_corpus(
                spark.readStream.schema(STREAM_SCHEMA)
                .parquet(os.path.join(w, "src", "*")),
                self.root,
                checkpoint=os.path.join(w, "ckpt"),
                dim=DIM,
                n_cells=N_CELLS,
                trigger_once=True,
                lsh_artifact={
                    "family": ann.LSH_FAMILY,
                    "dim": DIM,
                    "n_planes": ann.recommended_n_planes(len(docs)),
                    "n_tables": ann.DEFAULT_N_TABLES,
                    "center": center(docs),
                },
                docs_store=True,
                postings_store=True,
                postings_buckets=32,
                ann_graphs=True,
            )
            # the stream's own jobs (embedding, commit) count towards it
            rec.setdefault("groups", []).append(str(q.runId))
            q.awaitTermination()
        if IG.corpus_committed_epoch(self.root) != 0:
            raise RuntimeError("bootstrap batch did not commit")

    def _graph_recall(self, docs: list[str]) -> float:
        """Recall@k of the stored graph tier alone against exact cosine
        top-k, both over the reference embedder's vectors."""
        from vector_search_question_answer_api_spark.operators import ann_hnsw

        qv = hashing_embed_numpy(self.pool, DIM)
        exact = (qv @ hashing_embed_numpy(docs, DIM).T).argsort(1)[:, ::-1]
        graph = ann_hnsw.celled_hnsw_topk_cogrouped(
            ann_hnsw.read_celled_hnsw_index(
                self.ctx.spark, IG.corpus_graphs_path(self.root)),
            self.ctx.spark.createDataFrame(
                [(i, v.tolist()) for i, v in enumerate(qv)],
                "query_id long, qvec array<float>"),
            k=K, ef=EF, dim=DIM, n_cells=N_CELLS, nprobe=NPROBE,
        ).collect()
        hit = sum(r["doc_id"] in exact[r["query_id"], :K] for r in graph)
        return hit / (K * len(self.pool))

    def setup(self) -> dict:
        t = self.ctx.text
        docs = inputs.corpus(t, self.N_DOCS)
        self.live = set(range(self.N_DOCS))
        self.pool = inputs.query_pool(t, docs, self.POOL)
        self.stream = inputs.RequestStream(t.rng, self.POOL)
        self._bootstrap(docs)
        self.recall = self._graph_recall(docs)
        if self.recall < self.RECALL_FLOOR:
            raise RuntimeError(f"graph recall@{K} {self.recall:.3f} < "
                               f"{self.RECALL_FLOOR}")
        with self.ctx.span("setup.golden"):
            # one request over the whole pool: every operation's answers
            # must equal these, and it warms the serving path
            self.golden = self._request(self.pool)
        if not all(self._ranked(v) for v in self.golden.values()):
            raise RuntimeError("golden answers are not k ranked live rows")
        return {"graph_recall_at_k": self.recall}

    def _ranked(self, rows: list) -> bool:
        return [r for r, _, _ in rows] == list(range(1, K + 1)) and all(
            d in self.live for _, d, _ in rows)

    def op(self) -> tuple[bool, int]:
        picks = self.stream.next()
        before = open_caches()
        with self.ctx.span("serve.request"):
            got = self._request([self.pool[p] for p in picks])
        leaked = open_caches() - before
        self.leaks += leaked
        ok = leaked == 0 and all(
            got[i] == self.golden[p] for i, p in enumerate(picks))
        return ok, len(picks)

    def properties(self) -> dict:
        return {
            **{f"serve.{k}": v for k, v in self.stream.properties().items()},
            "serve.caches_open": self.leaks,
            "serve.graph_recall_at_k": self.recall,
        }

    def trace(self, tr) -> None:
        from vector_search_question_answer_api_spark.operators import (
            ann_hnsw,
            lexical_store as LXS,
        )

        tr.wrap(index_build, "build_index", "serve.embed", force=True)
        tr.wrap(HS, "resolve_epoch", "serve.resolve")
        tr.wrap(IG, "read_corpus_index", "serve.resolve", force=True)
        tr.wrap(LXS, "bm25_topk_stored", "serve.bm25", force=True)
        tr.wrap(ann_hnsw, "read_celled_hnsw_index", "serve.graph", force=True)
        tr.wrap(ann_hnsw, "celled_hnsw_topk_cogrouped", "serve.graph",
                force=True)


class QaReplay:
    """``/qa``: one ``replay_sessions`` over seeded multi-turn sessions,
    LSH retrieval from the corpus's stored signature table."""

    op_name, rate_name = "qa_replay", "qa_events_per_s"
    N_DOCS, N_EVENTS, TOPIC_CHANGE = 1000, 4000, 0.2

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def _run(self) -> tuple:
        with caching.cache_scope():
            usage = SS.UsageCounters(self.ctx.spark)
            out = SS.replay_sessions(
                self.events, self.index, usage=usage, retrieval="lsh",
                lsh_index_path=self.lsh_path,
            )
            agg = out.agg(
                F.count("*").alias("n"),
                F.bit_xor(F.xxhash64(*out.columns)).alias("digest"),
                F.sum(F.col("context_changed").cast("int")).alias("changed"),
                F.sum(F.col("used_fallback").cast("int")).alias("miss"),
            )
            r = agg.first()
        return r, usage.stats(), agg

    def setup(self) -> dict:
        spark, t = self.ctx.spark, self.ctx.text
        docs = inputs.corpus(t, self.N_DOCS)
        events, self.props = inputs.sessions(
            t, docs, self.N_EVENTS, self.TOPIC_CHANGE
        )
        n = spark.sparkContext.defaultParallelism
        self.index = index_build.build_index(spark.createDataFrame(
            list(enumerate(docs)), "doc_id long, text string"
        ).repartition(n)).persist()
        self.events = spark.createDataFrame(
            events, "event_id long, ts timestamp, session_id string, "
            "question string",
        ).repartition(n).persist()
        self.lsh_path = os.path.join(self.ctx.work, "lsh")
        with self.ctx.span("setup.lsh_index"):
            ann.write_lsh_index(
                self.index, self.lsh_path, dim=DIM,
                n_planes=ann.recommended_n_planes(self.N_DOCS),
                center=center(docs),
            )
        self.events.count()
        with self.ctx.span("setup.golden"):
            self.golden, stats, agg = self._run()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        self.exchanges = plan.count("Exchange hashpartitioning")
        self.counts = stats
        if not self._check(self.golden, stats):
            raise RuntimeError(f"setup replay answered {self.golden['n']} "
                               f"of {self.N_EVENTS} events ({stats})")
        return {"sessions": stats["sessions_folded"]}

    def _check(self, r, stats) -> bool:
        return (r["n"] == self.N_EVENTS
                and stats["events_processed"] == self.N_EVENTS
                and stats["sessions_folded"] == self.props["sessions"])

    def op(self) -> tuple[bool, int]:
        with self.ctx.span("qa.replay"):
            r, stats, _ = self._run()
        ok = self._check(r, stats) and r["digest"] == self.golden["digest"]
        return ok, self.N_EVENTS

    def properties(self) -> dict:
        n = self.golden["n"]
        return {
            "qa.events_per_session": self.props["events_per_session"],
            "qa.topic_change_frac": self.props["topic_change_frac"],
            "qa.plan_exchanges": self.exchanges,
            "qa.candidate_use_frac": self.golden["changed"] / n,
            "qa.miss_frac": self.golden["miss"] / n,
            "qa.events": self.counts["events_processed"],
            "qa.sessions": self.counts["sessions_folded"],
        }

    def trace(self, tr) -> None:
        tr.wrap(SS, "prepare_qa_events", "qa.prepare", force=True)


WORKLOADS = {"serve": Serve, "qa_replay": QaReplay}
