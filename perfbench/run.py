"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 16 --trace 0

Runs one workload from the root of a checkout against
``local[<usable cores>]``: starts the session, builds the workload's seeded
fixture, then runs closed-loop operations (one client) for ``--seconds``,
checking every answer.  The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The
line before it is the full report: the workload's own metrics, its
measured traffic properties and the run record.

The traced run wraps the engine's public layer functions from
``perfbench/trace.py``, alternates traced and untraced operations, and
reports tracing overhead as the difference of their medians.  Its spans
are written to ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Per-layer metrics, the same names on every workload.  Each operation
# layer reports its self time as a share of operation wall time, its jobs
# and its shuffle bytes per operation (qa.fold is the replay minus
# qa.prepare); op.unattributed_s is what no layer covers, so on serve the
# layers plus it make up the request.  Each ingest stage of the bootstrap
# batch (serve's fixture) reports its share of that batch's wall time and
# its jobs.  Layer seconds are in the report line instead: on the workload
# that skips a layer they would read a constant 0.
OP_LAYERS = {"serve.embed": "serve.embed", "serve.resolve": "serve.resolve",
             "serve.bm25": "serve.bm25", "serve.graph": "serve.graph",
             "qa.prepare": "qa.prepare", "qa.fold": "qa.replay"}
INGEST_LAYERS = ("ingest.postings", "ingest.profile", "ingest.spans",
                 "ingest.vecmean", "ingest.lsh", "ingest.ann_chain")
COUNTS = ("serve.repeat_frac", "serve.caches_open", "serve.graph_recall_at_k",
          "qa.plan_exchanges", "qa.candidate_use_frac", "qa.miss_frac",
          "qa.events", "qa.sessions")


def _env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let the workers import the engine from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{jvm}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _tail(xs: list[float]) -> tuple[str | None, float | None]:
    """The highest percentile that leaves at least ten samples beyond it."""
    n = len(xs)
    if n <= 10:
        return None, None
    p = int(100 * (n - 10) / n)
    return f"p{p}", statistics.quantiles(xs, n=100)[p - 1] if p else min(xs)


def _install_ingest_tracing(tr) -> None:
    from vector_search_question_answer_api_spark.operators import (
        ann,
        lexical_store as LXS,
    )
    from vector_search_question_answer_api_spark.streaming import (
        ann_maintain,
        span_stream as SPS,
        stats_stream as STS,
    )

    tr.wrap(LXS, "append_postings_batch", "ingest.postings")
    tr.wrap(STS, "write_profile_batch", "ingest.profile")
    tr.wrap(SPS, "append_span_batch", "ingest.spans")
    tr.wrap(STS, "write_vecmean_batch", "ingest.vecmean")
    tr.wrap(ann, "append_lsh_signatures_batch", "ingest.lsh")
    tr.wrap(ann_maintain, "refresh_search_artifacts_batch", "ingest.ann_chain")


def _layer_metrics(tr, wl, ops: list[dict], session_s: float):
    """Per-layer figures: traced operations per operation, bootstrap
    stages per bootstrap batch."""
    spans = {s["id"]: s for s in tr.spans}
    op_ids = {o["span"] for o in ops if o["span"] is not None}
    n = max(1, len(op_ids))

    def under(s, roots):
        while s is not None and s["id"] not in roots:
            s = spans.get(s["parent"])
        return s is not None

    in_ops = [s for s in tr.spans if under(s, op_ids)]
    lay = tr.layers(in_ops)
    wall = lay["op"]["s"]
    covered = sum(lay.get(span, {}).get("self_s", 0.0)
                  for span in OP_LAYERS.values())
    m = {
        "setup.session.s": session_s,
        "setup.fixture.s": tr.layers(
            [s for s in tr.spans if s["name"] == "setup.fixture"]
        )["setup.fixture"]["s"],
        "op.s": wall / n,
        "op.unattributed_s": (wall - covered) / n,
    }
    for k in ("cpu_s", "jobs", "stages", "tasks", "shuffle_bytes"):
        m[f"op.{k}"] = sum(s[k] for s in in_ops) / n
    for name, span in OP_LAYERS.items():
        a = lay.get(span, {})
        m[f"{name}.share"] = a.get("self_s", 0.0) / wall
        m[f"{name}.jobs"] = a.get("jobs", 0) / n
        m[f"{name}.shuffle_bytes"] = a.get("shuffle_bytes", 0) / n
    boot = {s["id"] for s in tr.spans if s["name"] == "setup.bootstrap"}
    blay = tr.layers([s for s in tr.spans if under(s, boot)])
    bwall = blay.get("setup.bootstrap", {}).get("s", 0.0)
    for name in INGEST_LAYERS:
        a = blay.get(name, {})
        m[f"{name}.share"] = a.get("s", 0.0) / bwall if bwall else 0.0
        m[f"{name}.jobs"] = a.get("jobs", 0)
    props = wl.properties()
    for name in COUNTS:
        m[name] = props.get(name, 0)
    return m, {**lay, **blay}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        from perfbench import record, workloads
        from perfbench.trace import Tracer
        from vector_search_question_answer_api_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2

    box = record.box_fingerprint()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    cores = box["nproc"]
    spark = proc = tr = None
    try:
        with record.PeakRss() as rss:
            t0 = time.perf_counter()
            spark = get_spark(master=f"local[{cores}]",
                              shuffle_partitions=cores)
            proc = getattr(spark.sparkContext._gateway, "proc", None)
            session_s = time.perf_counter() - t0
            tr = Tracer(spark) if args.trace else None
            if tr:
                _install_ingest_tracing(tr)
            ctx = workloads.Ctx(spark, work, args.seed, tr)
            wl = workloads.WORKLOADS[args.workload](ctx)
            t1 = time.perf_counter()
            with ctx.span("setup.fixture"):
                checks = wl.setup()
            setup_s = session_s + time.perf_counter() - t1
            if tr:
                wl.trace(tr)

            ops: list[dict] = []
            deadline = time.perf_counter() + args.seconds
            # a traced run needs one traced and one untraced operation
            while time.perf_counter() < deadline or (tr and len(ops) < 2):
                if tr:
                    tr.enabled = len(ops) % 2 == 0
                t = time.perf_counter()
                with ctx.span("op") as rec:
                    try:
                        ok, items = wl.op()
                    except Exception:
                        traceback.print_exc()
                        ok, items = False, 0
                ops.append({"latency": time.perf_counter() - t, "ok": ok,
                            "items": items, "span": rec.get("id")})
        result = _report(args, wl, box, checks, ops, session_s, setup_s,
                         rss.peak_mb, tr)
    finally:
        if tr is not None:
            tr.close()
        if spark is not None:
            spark.stop()
            gw = spark.sparkContext._gateway
            if gw is not None:
                gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _report(args, wl, box, checks, ops, session_s, setup_s, peak_mb,
            tr) -> dict:
    from perfbench import record

    lat = [o["latency"] for o in ops]
    failed = sum(not o["ok"] for o in ops)
    tail_name, tail = _tail(lat)
    report = {
        "workload": args.workload, "seed": args.seed,
        "attempted": len(ops), "failed": failed,
        "op_latencies_s": lat,
        f"{wl.op_name}_p50_s": statistics.median(lat),
        f"{wl.op_name}_tail_s": {"percentile": tail_name, "value": tail,
                                 "samples": len(lat)},
        wl.rate_name: sum(o["items"] for o in ops) / sum(lat),
        "setup_s": setup_s, "session_s": session_s,
        "peak_rss_mb": peak_mb,
        "setup_checks": checks, "traffic": wl.properties(),
        "record": {"box": box, **record.versions(), "seed": args.seed},
    }
    if tr is None:
        metrics = {
            "op_p50_s": (statistics.median(lat), "s"),
            "setup_s": (setup_s, "s"),
        }
    else:
        plain = [o["latency"] for o in ops if o["span"] is None]
        traced = [o["latency"] for o in ops if o["span"] is not None]
        m, lay = _layer_metrics(tr, wl, ops, session_s)
        m["trace.overhead_s"] = (
            statistics.median(traced) - statistics.median(plain)
            if plain and traced else 0.0)
        report["layers"] = lay
        report["trace_overhead_s"] = m["trace.overhead_s"]
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tr.dump(os.path.join(
            out, f"{args.workload}-seed{args.seed}-spans.json"))
        metrics = {k: (v, _unit(k)) for k, v in m.items()}
    print(json.dumps(report, default=str))
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _unit(name: str) -> str:
    if name.endswith(("share", "frac")) or "recall" in name:
        return "frac"
    if name.endswith(("_s", ".s")):
        return "s"
    return "bytes" if name.endswith("bytes") else "count"


if __name__ == "__main__":
    sys.exit(main())
