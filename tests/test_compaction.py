"""Write-side layout gates (sources/compaction.py): file-count control,
range clustering visible in the parquet footer stats the reader prunes on,
and pushdown reaching the scan over the compacted layout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.sources.compaction import (
    compact_write,
    estimate_row_bytes,
    layout_stats,
)
from vector_search_question_answer_api_spark.sources.tables import load_table


def test_compaction_controls_file_count(spark, sf_dir, tmp_path):
    """A fragmented table (64 partitions -> 64 files) compacts to the
    requested handful."""
    li = load_table(spark, sf_dir, "lineitem").limit(20_000)
    frag = str(tmp_path / "frag")
    li.repartition(64).write.parquet(frag)
    assert layout_stats(frag)["n_files"] == 64

    out = str(tmp_path / "compact")
    compact_write(spark.read.parquet(frag), out, n_files=4, rows_per_file=10_000)
    stats = layout_stats(out)
    assert stats["n_files"] <= 8  # 4 tasks x at most 2 files (records cap)
    assert stats["n_files"] >= 4


def test_rows_per_file_cap(spark, tmp_path):
    """maxRecordsPerFile splits an oversized task into capped files."""
    df = spark.range(10_000)
    out = str(tmp_path / "capped")
    compact_write(df, out, n_files=1, rows_per_file=2_500)
    assert layout_stats(out)["n_files"] == 4


def test_range_clustering_disjoint_footer_stats(spark, sf_dir, tmp_path):
    """sort_by produces files whose parquet min/max ranges on the sort key
    are pairwise DISJOINT — the physical property that makes min/max
    pruning selective.  An unsorted write of the same data has every file
    spanning ~the full key range."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")

    unsorted = str(tmp_path / "unsorted")
    compact_write(ev, unsorted, n_files=8, rows_per_file=1_000_000)
    clustered = str(tmp_path / "clustered")
    compact_write(
        ev, clustered, n_files=8, rows_per_file=1_000_000, sort_by=["event_id"]
    )

    r_un = sorted(layout_stats(unsorted, "event_id")["ranges"])
    r_cl = sorted(layout_stats(clustered, "event_id")["ranges"])
    assert len(r_cl) >= 4

    def overlaps(ranges):
        n = 0
        for i, (lo_i, hi_i) in enumerate(ranges):
            for lo_j, hi_j in ranges[i + 1 :]:
                if max(lo_i, lo_j) <= min(hi_i, hi_j):
                    n += 1
        return n

    assert overlaps(r_cl) == 0, r_cl
    assert overlaps(r_un) > 0, r_un


def test_range_predicate_pushdown_on_clustered_layout(spark, sf_dir, tmp_path):
    """The range filter reaches the parquet scan as a PushedFilter over the
    clustered layout, and the relation round-trips exactly."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    out = str(tmp_path / "pushdown")
    compact_write(ev, out, n_files=8, rows_per_file=1_000_000, sort_by=["event_id"])
    q = spark.read.parquet(out).filter(F.col("event_id") < 100)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(event_id), LessThan(event_id,100)" in plan, plan
    want = {r["event_id"] for r in ev.filter("event_id < 100").collect()}
    assert {r["event_id"] for r in q.collect()} == want


def test_partition_by_composes(spark, sf_dir, tmp_path):
    """Directory partitioning + in-partition range clustering compose; the
    partition column prunes at the directory level."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    out = str(tmp_path / "parts")
    compact_write(
        ev,
        out,
        n_files=4,
        rows_per_file=1_000_000,
        sort_by=["event_id"],
        partition_by=["event_type"],
    )
    kinds = [r["event_type"] for r in ev.select("event_type").distinct().collect()]
    q = spark.read.parquet(out).filter(F.col("event_type") == kinds[0])
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan
    assert q.count() == ev.filter(F.col("event_type") == kinds[0]).count()


def test_row_bytes_estimate_bounded(spark):
    df = spark.range(100).select(F.col("id"), F.lit("x" * 50).alias("pad"))
    w = estimate_row_bytes(df)
    assert 50 < w < 500


def test_default_sizing_derives_file_count(spark, tmp_path):
    """With only a byte target, the writer derives rows_per_file from the
    sampled row width and still produces a bounded file count."""
    df = spark.range(50_000).select("id", F.lit("y" * 20).alias("pad"))
    out = str(tmp_path / "derived")
    compact_write(df, out, target_file_mb=1)
    stats = layout_stats(out)
    assert 1 <= stats["n_files"] <= 8
    assert spark.read.parquet(out).count() == 50_000


def test_bloom_filter_written(spark, tmp_path):
    """bloom_filter_cols must reach the parquet writer.  pyarrow 16 has no
    bloom-filter metadata API, so assert the behavioral signature: the
    bloom-enabled file is measurably larger than the identical write
    without it (the serialized filter), and the data round-trips."""
    import glob
    import os

    df = spark.range(100_000).select(F.col("id"))
    plain = str(tmp_path / "plain")
    bloom = str(tmp_path / "bloom")
    compact_write(df, plain, n_files=1, rows_per_file=1_000_000)
    compact_write(
        df, bloom, n_files=1, rows_per_file=1_000_000, bloom_filter_cols=["id"]
    )
    sz = lambda p: os.path.getsize(glob.glob(p + "/*.parquet")[0])
    assert sz(bloom) > sz(plain) + 10_000, (sz(bloom), sz(plain))
    assert spark.read.parquet(bloom).count() == 100_000

