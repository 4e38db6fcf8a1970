#!/usr/bin/env python
"""Ingest soak test (VERDICT r8 #4, carried from r7): run the composed
corpus-maintenance pipeline (``streaming/ingest_stream.maintain_corpus``)
for 20+ real micro-batches at sf scale and watch the store dynamics a
long-running 100 TB ingest would care about:

- **live generations** per managed cell store (codes / graphs / ids
  sidecar) — must sawtooth under the auto-compaction cadence
  (``compact_every_gens``), never grow without bound;
- **span/profile read-side width** (live agg dirs, occ batch dirs) and
  on-disk footprint per store;
- **read amplification** — parquet files a serving scan must open across
  the live cell mapping, vs the one-generation minimum;
- **per-cycle wall time** — flat over the soak (refresh ∝ dirty cells,
  never corpus size);
- **serving probes** every ``--probe-every`` cycles: IVFPQ top-k against
  the live store vs exact brute-force over the resolved index (refined
  candidates must contain the exact top-1 under same-tier semantics:
  equality of the store's answer with a FRESH managed rebuild's answer),
  and span-store spans vs the one-shot batch operator.

Each cycle appends one parquet file to the streaming source and drives
``maintain_corpus`` with ``availableNow`` from the SAME checkpoint — the
real Structured Streaming restart path, not a hand loop.  Batches mix
NEW documents with ``--update-frac`` updates of already-ingested docs
(rewritten text => new embedding => usually a cell MOVE, exercising the
membership sidecar).

Usage::

    python -m tools.ingest_soak [--base /root/testdata/sf0.1]
        [--batches 24] [--update-frac 0.1] [--probe-every 4]
        [--n-cells 16] [--compact-every 8]

Prints one JSON object; SCALE.md records the run.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.operators.ivf import centroid_grid
from vector_search_question_answer_api_spark.operators.pq import (
    codebook_grid,
    ivfpq_topk_ondisk,
    write_ivfpq_index_managed,
)
from vector_search_question_answer_api_spark.session import get_spark
from vector_search_question_answer_api_spark.sources.cell_store import (
    cell_store_live_generations,
    cell_store_manifest,
)
from vector_search_question_answer_api_spark.sources.tables import load_table
from vector_search_question_answer_api_spark.streaming import (
    ingest_stream as IG,
    span_stream as SPS,
)

DIM = 64


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _store_stats(path: str) -> dict:
    man = cell_store_manifest(path)
    if man is None:
        return {"gens": 0, "files": 0, "bytes": 0}
    files = 0
    for cell, gen in man["cells"].items():
        files += len(
            glob.glob(os.path.join(path, gen, f"cell={cell}", "*.parquet"))
        )
    return {
        "gens": cell_store_live_generations(path),
        "files": files,
        "bytes": _du(path),
    }


def _span_stats(path: str) -> dict:
    agg_dir = os.path.join(path, "agg")
    man = SPS._agg_manifest(agg_dir)
    live = len(man["live"]) if man else len(
        glob.glob(os.path.join(agg_dir, "batch=*"))
    )
    occ = len(glob.glob(os.path.join(path, "occ", "batch=*")))
    return {"agg_live": live, "occ_dirs": occ, "bytes": _du(path)}


def run(
    base: str,
    n_batches: int,
    update_frac: float,
    probe_every: int,
    n_cells: int,
    compact_every: int,
) -> dict:
    spark = get_spark(app_name="ingest_soak")
    root = tempfile.mkdtemp(prefix="ingest_soak_")
    src, ckpt, corpus_root = f"{root}/src", f"{root}/ckpt", f"{root}/corpus"
    os.makedirs(src, exist_ok=True)
    cbs = codebook_grid(DIM, 8, 16)
    cents = centroid_grid(DIM, n_cells)

    docs = (
        load_table(spark, base, "documents")
        .select(
            "doc_id",
            F.timestamp_millis(F.col("doc_id") * 1000).alias("ts"),
            "text",
            "n_chars",
        )
        .persist()
    )
    n_docs = docs.count()
    schema = docs.schema

    p = {
        "codes": os.path.join(corpus_root, "codes"),
        "graphs": os.path.join(corpus_root, "graphs"),
        "ids": os.path.join(corpus_root, "graphs", "ids"),
        "spans": os.path.join(corpus_root, "spans"),
    }

    def probe(cycle: int) -> dict:
        """Serving == rebuild + span == one-shot, against live stores."""
        index = IG.read_corpus_index(spark, corpus_root).persist()
        q = index.orderBy("doc_id").limit(10).select(
            F.col("doc_id").alias("query_id"),
            F.col("norm_embedding").alias("qvec"),
        )

        def rows(path):
            return {
                (r["query_id"], r["rank"]): (r["doc_id"], round(r["distance"], 9))
                for r in ivfpq_topk_ondisk(
                    spark, q, path, index, cbs, centroids=cents, k=5,
                    dim=DIM, n_cells=n_cells, nprobe=4, refine=8,
                ).collect()
            }

        ref = f"{root}/probe_rebuild_{cycle}"
        write_ivfpq_index_managed(
            index, ref, cbs, centroids=cents, dim=DIM, n_cells=n_cells
        )
        serving_ok = rows(p["codes"]) == rows(ref)
        span_rows = IG.read_corpus_spans(spark, corpus_root, k=8).count()
        index.unpersist()
        return {"cycle": cycle, "serving_eq_rebuild": bool(serving_ok),
                "span_rows": int(span_rows)}

    cycles = []
    probes = []
    for b in range(n_batches):
        new = docs.filter(F.col("doc_id") % n_batches == b)
        batch = new
        if b > 0 and update_frac > 0:
            seen = docs.filter(F.col("doc_id") % n_batches < b)
            upd = (
                seen.filter(
                    F.pmod(F.xxhash64("doc_id") + b, F.lit(int(1 / update_frac)))
                    == 0
                )
                .withColumn("text", F.concat(F.lit(f"update cycle {b} "), "text"))
                .withColumn("n_chars", F.length("text"))
                .withColumn(
                    "ts", F.timestamp_millis(F.lit(10_000_000 + b * 1000))
                )
            )
            batch = new.unionByName(upd)
        batch.coalesce(1).write.mode("overwrite").parquet(f"{src}/b{b:03d}")

        t0 = time.perf_counter()
        q = IG.maintain_corpus(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*"),
            corpus_root,
            checkpoint=ckpt,
            codebooks=cbs,
            ann_graphs=True,
            centroids=cents,
            dim=DIM,
            n_cells=n_cells,
            span_k=8,
            trigger_once=True,
        )
        ok = q.awaitTermination(600)
        wall = round(time.perf_counter() - t0, 2)
        if not ok:
            raise RuntimeError(f"cycle {b}: stream did not finish")
        # span-store read-width bound: the composed pipeline does not
        # auto-compact the gram store; apply the same cadence rule here
        spst = _span_stats(p["spans"])
        if spst["agg_live"] > compact_every:
            SPS.compact_gram_store(spark, p["spans"])
            spst = _span_stats(p["spans"])
        cycles.append({
            "cycle": b,
            "wall_sec": wall,
            "batch_rows": batch.count(),
            "codes": _store_stats(p["codes"]),
            "graphs": _store_stats(p["graphs"]),
            "ids": _store_stats(p["ids"]),
            "spans": spst,
        })
        if (b + 1) % probe_every == 0 or b == n_batches - 1:
            probes.append(probe(b))

    # Final span equivalence.  The span store is VERSION-APPEND (the
    # corpus model treats documents as immutable — span_stream module
    # docstring): a re-ingest under the same doc_id adds the new version's
    # occurrence rows alongside the old ones.  The exact equivalence is
    # therefore against the one-shot operator over ALL version rows as
    # written (occ(store) == union over batches of occ(batch) == occ(all
    # rows), and span merging is deterministic in those rows).  For
    # decontamination reads this is conservative-correct: stale grams can
    # only ADD duplicate marks, never hide one.
    from vector_search_question_answer_api_spark.operators import spans as SPN

    allv = spark.read.schema(schema).parquet(f"{src}/*")
    want = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in SPN.duplicate_spans(allv, k=8).collect()
    }
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in IG.read_corpus_spans(spark, corpus_root, k=8).collect()
    }
    span_note = (
        "exact" if got == want else
        f"store={len(got)} oneshot={len(want)} sym_diff={len(got ^ want)}"
    )

    out = {
        "base": base,
        "n_docs": n_docs,
        "batches": n_batches,
        "update_frac": update_frac,
        "n_cells": n_cells,
        "compact_every": compact_every,
        "cycles": cycles,
        "probes": probes,
        "final_span_equivalence": span_note,
    }
    spark.stop()
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--base",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--batches", type=int, default=24)
    ap.add_argument("--update-frac", type=float, default=0.1)
    ap.add_argument("--probe-every", type=int, default=4)
    ap.add_argument("--n-cells", type=int, default=16)
    ap.add_argument("--compact-every", type=int, default=8)
    args = ap.parse_args()
    print(
        json.dumps(
            run(
                args.base,
                args.batches,
                args.update_frac,
                args.probe_every,
                args.n_cells,
                args.compact_every,
            )
        )
    )


if __name__ == "__main__":
    main()
