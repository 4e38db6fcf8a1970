#!/usr/bin/env python
"""Stage decomposition of the QA-replay tiers (VERDICT r9 #4): where does
the graph tier's premium over the lsh tier go — route, walk, merge, or
fold?

Builds the bench fixture (sf events as /qa questions against the document
index) once, then times nested prefixes of each tier's plan so stage costs
come out by subtraction (every prefix is forced with the no-op sink, the
bench protocol):

- ``embed``: the shared tracked-persisted event embedding;
- ``retrieve``: prefix through the tier's k=1 retrieval (exact matrix
  top-k / celled-HNSW cogrouped walk / centered-LSH bucket join);
- ``join``: prefix through prepare_qa_events (retrieval + candidate-vector
  join + event join);
- ``full``: the whole replay incl. the sorted-partition ``mapInPandas``
  session fold.

For the graph tier the walk knobs (ef, nprobe) are swept so the walk-side
share is measured, not inferred.  Each number is the adaptive best-of-N
min (two fastest within 15% = certified), caches released between
attempts.

Usage: python -m tools.replay_profile [--events 20000] [--runs 5]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from vector_search_question_answer_api_spark import caching
from vector_search_question_answer_api_spark.config import DEFAULT_CONFIG
from vector_search_question_answer_api_spark.operators import ann_hnsw
from vector_search_question_answer_api_spark.operators.index_build import build_index
from vector_search_question_answer_api_spark.operators.ivf import centroid_grid
from vector_search_question_answer_api_spark.operators.sessions import (
    prepare_qa_events,
    replay_sessions,
)
from vector_search_question_answer_api_spark.sources.tables import load_table
from vector_search_question_answer_api_spark.session import get_spark


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, runs_max=5):
    runs = []
    for _ in range(runs_max):
        with caching.cache_scope():
            t0 = time.perf_counter()
            _force(fn())
            runs.append(round(time.perf_counter() - t0, 3))
        if len(runs) >= 2:
            lo, lo2 = sorted(runs)[:2]
            if lo2 <= lo * 1.15:
                break
    lo, lo2 = sorted(runs)[:2]
    return {"min": lo, "best2": [lo, lo2],
            "certified": bool(lo2 <= lo * 1.15), "n": len(runs)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=20_000)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    spark = get_spark(app_name="replay_profile")
    spark.sparkContext.setLogLevel("ERROR")

    # --- bench fixture (identical to bench._qa_replay_fns) ---------------
    docs = load_table(spark, args.sf_dir, "documents")
    index = build_index(docs).persist()
    n_docs = index.count()
    qa_events = (
        load_table(spark, args.sf_dir, "events")
        .filter(F.col("event_id") < args.events)
        .select(
            "event_id", "ts",
            F.col("user_id").cast("string").alias("session_id"),
            ((F.col("event_id") * 13 + 1) % n_docs).alias("q_doc"),
        )
        .join(
            F.broadcast(docs.select(
                F.col("doc_id").alias("q_doc"),
                F.col("text").alias("question"),
            )),
            "q_doc",
        )
        .select("event_id", "ts", "session_id", "question")
        .persist()
    )
    qa_events.count()
    dim = DEFAULT_CONFIG.embedding_dim
    N_CELLS, NPROBE, EF = 32, 4, 10
    cents = centroid_grid(dim, N_CELLS)
    graphs = ann_hnsw.build_celled_hnsw(
        index, centroids=cents, dim=dim, n_cells=N_CELLS
    ).persist()
    graphs.count()

    # warmup (bench protocol: arrow workers + codegen)
    from vector_search_question_answer_api_spark.operators.embed import HashingEmbedder

    warm = spark.range(256).repartition(spark.sparkContext.defaultParallelism)
    _force(warm.select(HashingEmbedder()(F.col("id").cast("string"))))

    # --- stage prefixes ---------------------------------------------------
    from vector_search_question_answer_api_spark.functions import text as TXT
    from vector_search_question_answer_api_spark.functions import vector as V

    embedder = HashingEmbedder()

    def embed_only():
        with_emb = qa_events.select(
            "*", embedder(TXT.preprocess_text(F.col("question"))).alias("q_emb")
        )
        return with_emb.select(
            "event_id", "ts", "session_id",
            V.l2_normalize(F.col("q_emb")).cast("array<double>").alias("q_vec"),
        )

    def graph_kwargs(ef=EF, nprobe=NPROBE):
        return dict(
            retrieval="graph", graphs=graphs, graph_n_cells=N_CELLS,
            graph_nprobe=nprobe, graph_ef=ef,
        )

    tiers = {
        "exact": dict(retrieval="exact"),
        "graph": graph_kwargs(),
        "lsh": dict(retrieval="lsh"),
    }
    out = {"events": args.events, "stages": {}}
    out["stages"]["embed"] = _timed(embed_only, args.runs)
    print(json.dumps({"embed": out["stages"]["embed"]}), flush=True)

    for name, kw in tiers.items():
        out["stages"][f"{name}:join"] = _timed(
            lambda kw=kw: prepare_qa_events(qa_events, index, **kw), args.runs
        )
        print(json.dumps({f"{name}:join": out["stages"][f"{name}:join"]}),
              flush=True)
        out["stages"][f"{name}:full"] = _timed(
            lambda kw=kw: replay_sessions(qa_events, index, **kw), args.runs
        )
        print(json.dumps({f"{name}:full": out["stages"][f"{name}:full"]}),
              flush=True)

    # graph walk knob sweep: ef and nprobe halvings expose the walk share
    for tag, kw in (
        ("graph:ef1", graph_kwargs(ef=1)),
        ("graph:nprobe1", graph_kwargs(nprobe=1)),
        ("graph:ef1_nprobe1", graph_kwargs(ef=1, nprobe=1)),
    ):
        out["stages"][tag] = _timed(
            lambda kw=kw: prepare_qa_events(qa_events, index, **kw), args.runs
        )
        print(json.dumps({tag: out["stages"][tag]}), flush=True)

    print(json.dumps(out))
    for c in (index, qa_events, graphs):
        c.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
