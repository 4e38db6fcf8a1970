"""Regression for the round-1 driver failure (VERDICT.md r1, What's wrong #1).

The driver's correctness harness supplies a *vanilla* SparkSession — built
without :func:`session.get_spark` — so no inventory query may depend on a
conf that is only set at session-build time.  ``load_table`` must set
``spark.sql.legacy.parquet.nanosAsLong`` itself (it is runtime-settable)
before reading the TIMESTAMP(NANOS) events parquet.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from vector_search_question_answer_api_spark.sources.tables import load_table


def test_load_table_without_prebuilt_nanos_conf(spark, sf_dir):
    """The driver harness supplies a vanilla session: no conf load_table
    needs may be assumed present.  Spark builds have also CHANGED how
    TIMESTAMP(NANOS) surfaces (older: LongType nanos behind the legacy
    conf / PARQUET_TYPE_ILLEGAL without it; current: TimestampNTZ wall
    times, conf ignored) — load_table must produce the same UTC instants
    under every combination."""
    import pyspark.sql.functions as F

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        df = load_table(spark, sf_dir, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        assert df.count() > 0
        head = df.orderBy("event_id").select(
            F.unix_micros("ts").alias("us")
        ).head(3)
        # pinned UTC instants of the first three sf0.001 events — the
        # nanos values floor-divided to micros, independent of session
        # timezone or Spark's nanos surfacing (values cross-checked
        # against DuckDB's read of the same file)
        import duckdb

        expected = [
            r[0]
            for r in duckdb.sql(
                f"SELECT epoch_us(ts) FROM read_parquet('{sf_dir}/events.parquet') ORDER BY event_id LIMIT 3"
            ).fetchall()
        ]
        assert [r["us"] for r in head] == expected
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_load_table_timezone_proof(spark, sf_dir):
    """Same instants on a non-UTC session: the NTZ repair must interpret
    parquet wall times as UTC regardless of spark.sql.session.timeZone
    (a bare NTZ->timestamp cast would shift by the zone offset)."""
    import pyspark.sql.functions as F

    utc = [
        r[0]
        for r in load_table(spark, sf_dir, "events")
        .orderBy("event_id")
        .select(F.unix_micros("ts"))
        .head(5)
    ]
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ny = [
            r[0]
            for r in load_table(spark, sf_dir, "events")
            .orderBy("event_id")
            .select(F.unix_micros("ts"))
            .head(5)
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert ny == utc


def test_ensure_parallelism_noop_on_multifile_input(spark, tmp_path):
    """SCALE.md claims the parallelizing repartition is a NO-OP on real
    multi-file data — pin it: a table already split into >= parallelism/2
    files must come back without a round-robin exchange in its plan."""
    import pyspark.sql.functions as F

    from vector_search_question_answer_api_spark.sources.tables import load_table

    src = str(tmp_path / "events.parquet")
    spark.range(0, 10_000).select(
        F.col("id").alias("event_id"),
        F.timestamp_millis(F.lit(1704067200000) + F.col("id")).alias("ts"),
        (F.col("id") % 50).alias("user_id"),
        F.lit("click").alias("event_type"),
        F.rand(7).alias("value"),
        F.lit("{}").alias("props"),
    ).repartition(8).write.parquet(src)
    df = load_table(spark, str(tmp_path), "events")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan
    assert df.count() == 10_000


def test_load_table_dst_fallback_hour_exact(spark, tmp_path):
    """ADVICE r3: the old convert_timezone(UTC, session)->cast repair was
    not injective during the session zone's DST fall-back — UTC instants
    landing in the repeated local hour collapsed together.  Pin the exact
    scenario: TIMESTAMP(NANOS) parquet rows inside America/New_York's
    2024-11-03 repeated 01:30 hour must round-trip to distinct, correct
    UTC instants under that session timezone (the field-arithmetic repair
    never consults a zone)."""
    import datetime

    import duckdb
    import pyspark.sql.functions as F

    src = str(tmp_path / "events.parquet")
    wall = [
        "2024-11-03 05:30:00.123456",  # NY 01:30 EDT (first pass)
        "2024-11-03 06:30:00.123456",  # NY 01:30 EST (second pass)
        "2024-11-03 04:59:59.999999",  # just before the window
        "2024-11-03 07:00:00.000001",  # just after
    ]
    duckdb.sql(
        "COPY (SELECT row_number() OVER () - 1 AS event_id, "
        "CAST(ts AS TIMESTAMP_NS) AS ts, 0::BIGINT AS user_id, "
        "'click' AS event_type, 0.0 AS value, '{}' AS props "
        f"FROM (SELECT unnest({wall!r}::TIMESTAMP[]) AS ts)) "
        f"TO '{src}' (FORMAT PARQUET)"
    )
    expected = [
        int(
            datetime.datetime.fromisoformat(w + "+00:00").timestamp() * 1_000_000
        )
        for w in wall
    ]
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = [
            r["us"]
            for r in load_table(spark, str(tmp_path), "events")
            .orderBy("event_id")
            .select(F.unix_micros("ts").alias("us"))
            .collect()
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert got == expected
    assert len(set(got)) == len(got)  # injective: no collapsed instants


def test_liveness_and_corpus_guards(spark, sf_dir):
    """S2/S3 liveness (connection ping + point read) and the empty-corpus
    guard (reference services/database_service.py:24,
    controllers/health_controller.py:13, services/index_service.py:57-58)."""
    from vector_search_question_answer_api_spark.sources.tables import (
        corpus_nonempty,
        liveness_check,
    )

    assert liveness_check(spark) is True
    docs = load_table(spark, sf_dir, "documents")
    assert corpus_nonempty(docs) is True
    assert corpus_nonempty(docs.filter("doc_id < 0")) is False


def test_layout_key_tracks_in_place_part_rewrite(tmp_path):
    """The scan-layout memo key of a parquet DIRECTORY must change when a
    part file inside it is rewritten in place — the directory's own stat
    does not, so a directory-stat key would serve a stale decision."""
    import os

    from vector_search_question_answer_api_spark.sources.tables import (
        _layout_key,
    )

    d = tmp_path / "t.parquet"
    d.mkdir()
    part = d / "part-00000.parquet"
    part.write_bytes(b"x" * 10)
    (d / "_SUCCESS").write_bytes(b"")
    before = _layout_key(str(d), 4)
    assert _layout_key(str(d), 4) == before  # stable while unchanged
    dir_before = os.stat(d)
    part.write_bytes(b"y" * 20)  # same name, rewritten in place
    dir_after = os.stat(d)
    assert (dir_after.st_mtime_ns, dir_after.st_size) == (
        dir_before.st_mtime_ns,
        dir_before.st_size,
    )
    assert _layout_key(str(d), 4) != before
