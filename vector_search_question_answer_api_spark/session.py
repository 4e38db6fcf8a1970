"""SparkSession factory.

Local-mode settings tuned for the driver harness (local[N], single JVM);
the same builder flags are what we would set on a real cluster: AQE on,
Arrow on, UTC session timezone (duckdb oracle comparability), shuffle
partitions sized to parallelism instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))


def _workers_can_import_engine(master: str) -> bool:
    """Whether the Python daemon can be launched from this package.

    A local worker's ``sys.path`` is the working directory (``python -m``)
    followed by ``PYTHONPATH``; a remote executor sees neither, and a zip
    shipped with ``addPyFile`` reaches workers only after the daemon
    started.  Elsewhere the stock ``pyspark.daemon`` stays in place."""
    if not master.startswith("local"):
        return False
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(p and os.path.realpath(p) == _ENGINE_ROOT for p in paths)


def get_spark(
    app_name: str = "vector_search_question_answer_api_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Driver testdata stores TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert in the table loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # In local mode shuffles still serialize; keep broadcast threshold
        # generous so dimension tables (region/nation/documents) broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Long-lived sessions (the bench loop, the driver's 50-gate
        # correctness sweep) degrade measurably as the status stores
        # accumulate retained executions/jobs/stages — our plans carry
        # MB-scale literal/codegen strings (simhash's 64-case expr, the
        # embedded oracle centroid literals), so the DEFAULT retention
        # (1000 SQL executions) is heap + listener-bus bloat that showed
        # up as monotonically inflating timings within one process
        # (r5 bench reconciliation; distributions in SCALE.md).  Nothing
        # reads the UI state (spark.ui.enabled=false), so retain the
        # minimum the stores accept.
        .config("spark.sql.ui.retainedExecutions", "2")
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "50")
        .config("spark.ui.retainedTasks", "500")
        # InferFiltersFromGenerate synthesizes `size(arr) > 0` for every
        # inner explode; predicate pushdown then carries the filter — with
        # the array's WHOLE defining expression tree substituted in —
        # through projections and exchanges down to the scan, re-running
        # expensive map chains (tokenize regexes, shingle/minhash
        # builders) below the parallelizing repartition, i.e. in the
        # scan's task layout.  This engine explodes computed arrays
        # everywhere (shingles, bands, postings, k-grams); the rule's
        # benefit (skipping empty-array rows pre-generate) is negligible
        # here, its cost measured at 15-30% on every explode-heavy gate
        # and 10x on dup-span extraction (SCALE.md r7 planner lesson).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    if _workers_can_import_engine(master):
        # worker_daemon.py: tasks stop re-reading pyspark.zip (SCALE.md
        # "what a Python stage costs")
        builder = builder.config(
            "spark.python.daemon.module",
            "vector_search_question_answer_api_spark.worker_daemon",
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
