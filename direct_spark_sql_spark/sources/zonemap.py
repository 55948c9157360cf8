"""Zone-map (min/max per file) data-skipping index over a parquet table.

The 100 TB problem this solves: directory-level (hive) partition pruning
only helps for the partition column(s).  For any *other* clustered column
— typically event time on a table laid out by ``repartitionByRange`` —
the engine still lists and opens every file.  A zone map is the standard
fix (Iceberg/Delta keep the same min/max stats in manifests; classic
zone maps in Netezza/Snowflake): one tiny index row per data file with
the min/max of the clustered columns, built in a single distributed scan
(``input_file_name()`` groupBy).  Query planning then reads the index
(metadata-scale, like Iceberg manifest planning on the coordinator),
keeps only files whose [min,max] overlaps the predicate, and hands Spark
the surviving file list — the scan never touches skipped files.

Skipping is *sound* for any layout (a file not overlapping the range
cannot contain matching rows — the row-level filter is still re-applied
to surviving files); it is *effective* when the table is clustered on
the indexed column, which `operators/layout.py` provides.

Reference parity: the reference engine has no file sources at all
(SURVEY.md §1.1); this extends the rebuild's superset source layer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F


def build_zonemap(spark: SparkSession, table_path: str, cols: list[str]) -> DataFrame:
    """One index row per data file: ``(file, count, <c>_min, <c>_max ...)``.

    A single distributed scan over only the indexed columns (column
    pruning reaches the reader); the result has one row per file —
    metadata-scale output regardless of table size.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return (
        spark.read.parquet(table_path)
        .select(*cols)
        .withColumn("file", F.input_file_name())
        .groupBy("file")
        .agg(*aggs)
    )


def write_zonemap(
    spark: SparkSession, table_path: str, index_path: str, cols: list[str]
) -> None:
    """Materialize the zone map next to the table (single small file)."""
    build_zonemap(spark, table_path, cols).coalesce(1).write.mode("overwrite").parquet(
        index_path
    )


def pruned_scan(
    spark: SparkSession,
    table_path: str,
    index_path: str,
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Range scan ``col BETWEEN lo AND hi`` reading only files whose
    zone-map interval overlaps.

    The index read + overlap filter is coordinator-side planning on one
    row per file (the same bounded-metadata class as Iceberg manifest
    pruning or the IVF probe's cell list); the data scan itself is a
    normal distributed parquet read over the surviving files with the
    row-level filter re-applied (skipping is an optimization, never a
    correctness dependency).  The one-predicate case of
    :func:`pruned_scan_multi`.
    """
    return pruned_scan_multi(spark, table_path, index_path, [(col, lo, hi)])


def ensure_clustered_table(
    spark: SparkSession,
    source: DataFrame,
    table_path: str,
    index_path: str,
    cluster_col: str,
    n_files: int = 16,
) -> None:
    """Idempotently materialize ``source`` range-clustered on
    ``cluster_col`` into ``n_files`` files plus its zone map — the layout
    step that makes zone-map skipping effective (build once, query many)."""
    marker = os.path.join(table_path, "_ZONEMAP_OK")
    if os.path.exists(marker):
        return
    (
        source.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(table_path)
    )
    write_zonemap(spark, table_path, index_path, [cluster_col])
    with open(marker, "w") as f:
        f.write("ok\n")


def pruned_scan_multi(
    spark: SparkSession,
    table_path: str,
    index_path: str,
    predicates: list,
) -> DataFrame:
    """Multi-column range scan: keep files whose zone-map interval
    overlaps EVERY ``(col, lo, hi)`` predicate — the 2-D (and beyond)
    pruning that makes a Z-ordered layout pay off: because space-filling
    clustering keeps both columns locally narrow per file, per-column
    min/max intervals are tight and the conjunction skips most files for
    a box query, which neither column alone could do on a 1-D sort."""
    idx = spark.read.parquet(index_path)
    cond = None
    row_filter = None
    for col, lo, hi in predicates:
        c = (F.col(f"{col}_max") >= F.lit(lo)) & (F.col(f"{col}_min") <= F.lit(hi))
        cond = c if cond is None else (cond & c)
        rf = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        row_filter = rf if row_filter is None else (row_filter & rf)
    keep = [r["file"] for r in idx.filter(cond).collect()]
    if not keep:  # nothing can match; empty frame with the table's schema
        return spark.read.parquet(table_path).filter(row_filter).limit(0)
    return spark.read.parquet(*keep).filter(row_filter)
