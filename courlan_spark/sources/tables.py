"""Table layer: snapshot-style checkpoints behind one seam.

The north rule targets Iceberg tables (snapshots, MERGE, bucket
layout).  The Iceberg runtime jar is not available offline in this
sandbox, so the default backend is a parquet directory that provides
the same contract the engine relies on (atomic-enough overwrite via
_SUCCESS markers, snapshot read-back, append).  On a cluster, set
``SPARK_GRAFT_TABLE_FORMAT=iceberg`` (with the runtime jar and a
catalog configured) and the same calls become Iceberg DDL:

    parquet backend            iceberg backend
    ---------------            ---------------
    overwrite -> dir rewrite   df.writeTo(name).createOrReplace()
    append    -> parquet add   df.writeTo(name).append()
    read      -> read.parquet  spark.read.table(name)

Every pipeline/frontier persistence path routes through this module,
so the swap is a config change, not a code change.

Snapshots are written zstd-compressed, the codec the Iceberg tables
they stand in for write: a 300-page delta's 02_url_dedup snapshot
measured 92 against 159 KB with Spark's default snappy, and its
04_fingerprints 368 against 422 KB.  The codec is set on these
writers only, so corpus inputs and catalog outputs keep the session
default.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_FORMAT = os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")

CODEC = "zstd"
# marks a committed snapshot as a segment: rows that overlay an earlier
# full table rather than a table of their own.  The parquet backend
# keeps it as a file beside _SUCCESS, which an overwrite removes with
# the rest of the directory; the iceberg backend as a table property.
SEGMENT_MARKER = "_SEGMENT"
SEGMENT_PROPERTY = "courlan.segment"


def write_snapshot(
    df: DataFrame,
    target: str,
    order_by: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_ndv: int | None = None,
) -> None:
    """Replace the table/directory contents with df (new snapshot).

    ``order_by``: write the snapshot range-partitioned and sorted by
    these columns, so every parquet file covers a disjoint key range
    and its footer min/max statistics support file skipping for key
    predicates (the parquet analog of Iceberg's sorted write order /
    z-order).  Costs one ranged exchange at write time; pays off on
    every later selective read — the incremental path's store scans
    push candidate-id predicates into exactly these snapshots.

    ``bloom_cols``: additionally store parquet bloom filters for these
    columns, sized for ``bloom_ndv`` expected distinct values per file
    (required with ``bloom_cols``: the caller knows the rows it
    writes).  The filter answers the point-absence question min/max
    cannot: doc_ids are xxhash64 values, so even a 300-row delta
    file's footer range spans almost the whole id space, and in a
    chained store the filter is the only doc_id skip such a file
    gets.  parquet-mr applies the filters transparently during
    pushdown (parquet.filter.bloom.enabled defaults true).

    Sizing: parquet-mr allocates ~9.7 bits per expected value at its
    default 1% false-positive rate, rounded up to a power of two and
    capped at 1 MB (parquet.bloom.filter.max.bytes) per column chunk
    — 300 expected values give ~0.5 KB of filter, 50k give 64 KB, and
    more than ~430k give the full 1 MB.  A fixed guess does not work:
    a filter sized for 1M values is that full 1 MB even in a file
    holding 300 rows.  An upper bound on the distinct count (e.g. the
    whole write's row count for a unique key) only over-sizes toward
    that cap.

    On the iceberg backend the request becomes the
    write.parquet.bloom-filter-enabled.column.<col> table property,
    set below on the replace; Iceberg sizes the filter through its own
    write.parquet.bloom-filter-max-bytes property.  The codec becomes
    the write.parquet.compression-codec table property there.  (The
    iceberg branches of this module run only where the Iceberg runtime
    jar is installed; tests/test_iceberg_seam.py skips without it.)"""
    if bloom_cols and bloom_ndv is None:
        raise ValueError("bloom_cols needs bloom_ndv, the expected distinct count")
    if order_by:
        df = df.repartitionByRange(*order_by).sortWithinPartitions(*order_by)
    if TABLE_FORMAT == "iceberg":
        # REPLACE merges table properties, so a replaced segment is
        # unmarked here, as the parquet overwrite drops its marker file
        writer_v2 = (
            df.writeTo(target)
            .tableProperty("write.parquet.compression-codec", CODEC)
            .tableProperty(SEGMENT_PROPERTY, "false")
        )
        for col in bloom_cols or []:
            writer_v2 = writer_v2.tableProperty(
                f"write.parquet.bloom-filter-enabled.column.{col}", "true"
            )
        writer_v2.createOrReplace()
    else:
        writer = df.write.mode("overwrite").option("compression", CODEC)
        for col in bloom_cols or []:
            writer = writer.option(
                f"parquet.bloom.filter.enabled#{col}", "true"
            ).option(f"parquet.bloom.filter.expected.ndv#{col}", str(bloom_ndv))
        writer.parquet(target)


def append_rows(df: DataFrame, target: str) -> None:
    """Append rows to the table/directory (an Iceberg table keeps the
    codec write_snapshot set as its property)."""
    if TABLE_FORMAT == "iceberg":
        df.writeTo(target).append()
    else:
        df.write.mode("append").option("compression", CODEC).parquet(target)


def read_snapshot(spark: SparkSession, target: str) -> DataFrame:
    "Read the current snapshot."
    if TABLE_FORMAT == "iceberg":
        return spark.read.table(target)
    return spark.read.parquet(target)


def has_snapshot(target: str) -> bool:
    "True when a committed snapshot exists (parquet backend only)."
    if TABLE_FORMAT == "iceberg":
        return True  # existence is the catalog's concern
    return os.path.exists(os.path.join(target, "_SUCCESS"))


def _hadoop_path(spark: SparkSession, target: str):
    "(FileSystem, Path) of ``target`` through the Hadoop FileSystem API."
    path = spark._jvm.org.apache.hadoop.fs.Path(target)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def snapshot_bytes(spark: SparkSession, target: str) -> int:
    """Bytes the committed snapshot occupies: its data files on the
    iceberg backend, on the parquet backend the directory's length as
    the Hadoop FileSystem reports it (checksum side files excluded, so
    an object store and the local disk agree)."""
    if TABLE_FORMAT == "iceberg":
        row = spark.sql(
            f"SELECT coalesce(sum(file_size_in_bytes), 0) AS n FROM {target}.files"
        ).first()
        return int(row["n"])
    fs, path = _hadoop_path(spark, target)
    return int(fs.getContentSummary(path).getLength())


def mark_segment(spark: SparkSession, target: str) -> None:
    "Mark the committed snapshot at ``target`` as a segment."
    if TABLE_FORMAT == "iceberg":
        spark.sql(f"ALTER TABLE {target} SET TBLPROPERTIES ('{SEGMENT_PROPERTY}' = 'true')")
    else:
        with open(os.path.join(target, SEGMENT_MARKER), "w"):
            pass


def is_segment(spark: SparkSession, target: str) -> bool:
    "True when the snapshot at ``target`` is marked as a segment."
    if TABLE_FORMAT == "iceberg":
        props = spark.sql(f"SHOW TBLPROPERTIES {target}").collect()
        return any(r["key"] == SEGMENT_PROPERTY and r["value"] == "true" for r in props)
    return os.path.exists(os.path.join(target, SEGMENT_MARKER))
