"""Write-side layout control: compaction + range-clustered parquet (the
ingest-time half of the scan-pruning story in SCALE.md).

A 100 TB pipeline's read performance is decided when the data is WRITTEN:

- **small files**: a table of millions of KB-sized files costs a task per
  file and floods the namenode/object-store listing — compaction rewrites
  it as ~target-sized files;
- **clustering**: parquet readers skip row groups whose min/max stats
  exclude the predicate, but stats only prune if values are CLUSTERED —
  a randomly-ordered table has every row group spanning the full value
  range, so nothing skips.  ``repartitionByRange + sortWithinPartitions``
  gives every output file a disjoint slice of the sort-key space (a
  1-D z-order): a range predicate then touches only the files whose
  slice intersects it.

Both are one shuffle at ingest, amortized over every later scan.  File
size is capped by the writer's ``maxRecordsPerFile`` (rows-per-file
derived from a sampled average row width when the caller gives a byte
target), which bounds file size without a second pass over the data.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def estimate_row_bytes(df: DataFrame, sample_rows: int = 1000) -> float:
    """Average serialized row width, estimated from a bounded sample (one
    small job): sum of per-column byte sizes of the JSON-rendered row — a
    deliberate OVER-estimate of parquet's encoded width (safe direction:
    files come out under target, never over)."""
    sample = df.limit(sample_rows).select(
        F.length(F.to_json(F.struct(*df.columns))).alias("w")
    )
    row = sample.agg(
        F.avg("w").alias("avg"), F.count("*").alias("n")
    ).first()
    if not row["n"]:
        return 1.0
    return float(row["avg"])


def compact_write(
    df: DataFrame,
    path: str,
    target_file_mb: int = 256,
    sort_by: list[str] | None = None,
    partition_by: list[str] | None = None,
    rows_per_file: int | None = None,
    n_files: int | None = None,
    bloom_filter_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Rewrite ``df`` as ~``target_file_mb`` parquet files, optionally
    range-clustered on ``sort_by`` and/or directory-partitioned on
    ``partition_by``.

    - ``rows_per_file`` (else derived from ``target_file_mb`` via one
      sampled row-width estimate) caps each file through the writer's
      ``maxRecordsPerFile`` — no second pass, no collect of the data;
    - with ``sort_by``: ``repartitionByRange`` assigns each output task a
      disjoint slice of the sort-key space (range-sampled boundaries) and
      ``sortWithinPartitions`` orders rows inside it, so every file's
      parquet min/max stats cover a narrow, non-overlapping range —
      range predicates prune at both file and row-group granularity
      (pinned by tests/test_compaction.py on the actual footer stats);
    - without ``sort_by``: plain round-robin ``repartition`` (pure
      compaction).

    ``n_files`` overrides the task count (e.g. match a downstream
    bucketing layout); otherwise it is derived from the row estimate.

    ``bloom_filter_cols`` writes a parquet bloom filter per row group for
    each named column — the pruning lever for POINT lookups on
    high-cardinality keys that range stats can't serve (min/max covers
    the whole slice, but the bloom answers "id definitely absent" per row
    group).  Range-cluster the range keys, bloom the point keys.
    """
    if rows_per_file is None:
        row_bytes = max(estimate_row_bytes(df), 1.0)
        rows_per_file = max(int(target_file_mb * 1024 * 1024 / row_bytes), 1)
    if n_files is None:
        n_rows = df.count()
        n_files = max(math.ceil(n_rows / rows_per_file), 1)
    if sort_by:
        out = df.repartitionByRange(n_files, *[F.col(c) for c in sort_by])
        out = out.sortWithinPartitions(*sort_by)
    else:
        out = df.repartition(n_files)
    writer = out.write.mode(mode).option("maxRecordsPerFile", rows_per_file)
    for c in bloom_filter_cols or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def layout_stats(path: str, column: str | None = None) -> dict:
    """Observability for a written layout: file count, byte sizes, and —
    when ``column`` is given — the per-file parquet footer min/max of that
    column (the stats the reader prunes on).  Footer-only reads via
    pyarrow; no data pages are touched."""
    import glob
    import os

    import pyarrow.parquet as pq

    files = sorted(
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    )
    sizes = [os.path.getsize(f) for f in files]
    out = {
        "n_files": len(files),
        "bytes_total": sum(sizes),
        "bytes_max": max(sizes, default=0),
        "bytes_min": min(sizes, default=0),
    }
    if column is not None:
        ranges = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index(column)
            lo = min(
                md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            ranges.append((lo, hi))
        out["ranges"] = ranges
    return out

