"""Storage layout + materialized summaries (SURVEY §4, milestone 3).

ClickHouse-DDL parity, re-expressed as Parquet physical design:

| ClickHouse (clickhouse.go:79-228)        | here                         |
|------------------------------------------|------------------------------|
| PARTITION BY toYYYYMM(begin_date)        | partitionBy("month")         |
| ORDER BY (org_name, report_id, date)     | sortWithinPartitions(...)    |
| bloom_filter INDEX on report_id/org      | parquet bloom filter options |
| SummingMergeTree daily summary MV        | scheduled groupBy refresh    |
| ReplacingMergeTree (keep latest)         | row_number() == 1 window     |

Monthly partitions make the dashboard's relative-time filters (F9)
partition-pruned scans; the within-partition sort gives parquet
row-group min/max skipping on the clustered keys. At 100 TB the month
partition + org/report sort bounds every dashboard query to a handful
of row groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

MONTH_COL = "month"


def write_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "begin_date",
    sort_cols: tuple[str, ...] = ("org_name", "report_id"),
    bloom_cols: tuple[str, ...] = ("report_id",),
    mode: str = "append",
) -> None:
    """Monthly-partitioned, clustered, bloom-indexed Parquet fact table."""
    out = (
        df.withColumn(MONTH_COL, F.date_format(F.col(ts_col), "yyyyMM"))
        # one shuffle keyed on the partition column so each month lands in
        # few large files instead of |tasks|×|months| small ones
        .repartition(F.col(MONTH_COL))
        .sortWithinPartitions(*sort_cols)
    )
    writer = out.write.mode(mode).partitionBy(MONTH_COL)
    for c in bloom_cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    writer.parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def bloom_filter_columns(spark: SparkSession, file_path: str) -> set[str]:
    """Read-side verification that the bloom-index claim above is
    physically true: open one parquet data file with parquet-hadoop's
    footer reader (the same code path Spark's scan uses) and return the
    columns whose first row group actually carries a serialized bloom
    filter. `parquet.bloom.filter.enabled#col` is a silently-ignored
    write option if misspelled or unsupported — this catches that."""
    jvm = spark._jvm
    inp = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(file_path), spark._jsc.hadoopConfiguration()
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inp)
    try:
        cols = reader.getFooter().getBlocks().get(0).getColumns()
        return {
            cols.get(i).getPath().toDotString()
            for i in range(cols.size())
            if reader.readBloomFilter(cols.get(i)) is not None
        }
    finally:
        reader.close()


def latest_by_key(df: DataFrame, keys: list[str], ts_col: str = "created_at") -> DataFrame:
    """ReplacingMergeTree semantics (docs/clickhouse.md:257-276): keep
    the most recent row per key — the engine's one window function
    (SURVEY §2.9)."""
    w = Window.partitionBy(*keys).orderBy(F.desc(ts_col))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def daily_summary(records: DataFrame) -> DataFrame:
    """The dmarc_daily_summary materialized view
    (docs/clickhouse.md:241-259): per (date, header_from, org_name):
    total, aligned, reject, quarantine sums + distinct sources."""
    return records.groupBy(
        F.to_date("begin_date").alias("date"),
        F.col("header_from").alias("domain"),
        "org_name",
    ).agg(
        F.sum("count").alias("total_messages"),
        F.sum(F.when(F.col("dmarc_aligned"), F.col("count")).otherwise(0)).alias("aligned_messages"),
        F.sum(F.when(F.col("disposition") == "reject", F.col("count")).otherwise(0)).alias(
            "rejected_messages"
        ),
        F.sum(F.when(F.col("disposition") == "quarantine", F.col("count")).otherwise(0)).alias(
            "quarantined_messages"
        ),
        F.approx_count_distinct("source_ip_address").alias("unique_sources"),
    )


def compliance_summary(records: DataFrame) -> DataFrame:
    """The dmarc_compliance_summary view (docs/clickhouse.md:261-276):
    adds pass-rate percentage and reporting-org distinct count."""
    s = records.groupBy(F.to_date("begin_date").alias("date"), F.col("header_from").alias("domain")).agg(
        F.sum("count").alias("total_messages"),
        F.sum(F.when(F.col("dmarc_aligned"), F.col("count")).otherwise(0)).alias("aligned_messages"),
        F.approx_count_distinct("org_name").alias("reporting_orgs"),
    )
    return s.withColumn(
        "pass_rate",
        F.round(F.col("aligned_messages") * 100.0 / F.col("total_messages"), 2),
    )


def source_ip_summary(records: DataFrame) -> DataFrame:
    """The dmarc_source_ip_summary view (docs/clickhouse.md:278-293)."""
    return records.groupBy(
        F.to_date("begin_date").alias("date"),
        "source_ip_address",
        "source_country",
    ).agg(
        F.sum("count").alias("total_messages"),
        F.sum(F.when(F.col("dmarc_aligned"), F.col("count")).otherwise(0)).alias("aligned_messages"),
        F.approx_count_distinct("header_from").alias("unique_domains"),
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_cols: tuple[str, ...] = (),
    path: str | None = None,
) -> None:
    """Bucketed managed table for co-located joins: two tables bucketed
    on the same key with the same bucket count join WITHOUT a shuffle
    (both sides arrive pre-partitioned by bucket id). This is the
    at-rest answer for the recurring records⋈reports join at 100 TB —
    broadcast covers small parents; bucketing covers a parent table too
    big to broadcast. Requires saveAsTable (bucket metadata lives in the
    catalog, not in parquet)."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def compact_landing(
    spark: SparkSession,
    landing_dir: str,
    out_path: str,
    target_file_mb: int = 256,
    glob: str | None = None,
) -> int:
    """Consolidate the RAW report landing zone (SCALE.md's known
    binaryFile trade-off: one file = one row = one input split, so a
    100 TB history of ~50 KB reports is billions of object-store GETs
    per re-ingest). Reads every report via the same binaryFile scan
    ingest uses and rewrites (path, mtime, length, content) as monthly-
    partitioned parquet — month from the file's modification time, the
    landing-zone analogue of the fact tables' toYYYYMM layout — in
    ~``target_file_mb`` files per month. Returns the number of report
    rows archived.

    `read_compacted_landing` + `sources.ingest.ingest_files` re-ingest
    from the archive with byte-identical results (pinned in
    test_storage_streaming); after a compaction cycle the raw files can
    be deleted and every future replay reads chunky parquet instead of
    a small-file spray."""
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    out = reader.load(landing_dir).select(
        "path",
        "modificationTime",
        "length",
        "content",
        F.date_format("modificationTime", "yyyyMM").alias(MONTH_COL),
    )
    n_rows = out.count()
    total_bytes = out.agg(F.sum("length")).collect()[0][0] or 0
    import math

    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    (
        out.repartition(n_files, F.col(MONTH_COL))
        .write.mode("overwrite")
        .partitionBy(MONTH_COL)
        .parquet(out_path)
    )
    return n_rows


def read_compacted_landing(spark: SparkSession, path: str) -> DataFrame:
    """Read a compact_landing archive back in the (path, length,
    content) shape `ingest_files` consumes."""
    return spark.read.parquet(path).select("path", "length", "content")


def compact_table(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_mb: int = 256,
    partition_cols: tuple[str, ...] = (),
) -> int:
    """Small-file compaction for streaming-appended tables: micro-batches
    leave one file per trigger per partition; this rewrites the table
    into ~target_file_mb files at `out_path` (callers swap paths or
    point the views at the new location). Returns the file count
    written. At 100 TB this runs per-partition as scheduled maintenance,
    exactly like ClickHouse's background merges (the MergeTree behavior
    the reference leans on)."""
    import math

    df = spark.read.parquet(path)
    _, total_bytes = _parquet_file_stats(spark, path)
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    writer = df.repartition(n_files).write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(out_path)
    return n_files


def _parquet_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) under ``path``, via the Hadoop
    FileSystem API so maintenance jobs work on S3/HDFS/anything Spark
    can read — never the local-only pathlib."""
    fs, hpath = hadoop_fs(spark, path)
    it = fs.listFiles(hpath, True)
    n_files, total_bytes = 0, 0
    while it.hasNext():
        status = it.next()
        if status.getPath().getName().endswith(".parquet"):
            n_files += 1
            total_bytes += status.getLen()
    return n_files, total_bytes


def compact_partitioned_index(
    spark: SparkSession,
    path: str,
    partition_col: str,
    target_file_mb: int = 256,
) -> tuple[int, int]:
    """Small-file compaction for incrementally-appended, partition-
    pruned index layouts (IVF cells, LSH buckets — the maintenance gap
    VERDICT r7 task 3 named): every ``append_to_*`` call adds one file
    per touched partition directory, so after N maintenance cycles a
    probe of one bucket opens N small files instead of one chunky one —
    the same pathology compact_landing solves for the landing zone.

    Rewrites the data into ``~target_file_mb`` write tasks hash-keyed
    on the partition column — every partition's rows land in ONE task,
    so each cell/bucket directory collapses to a single file (a
    partition larger than target_file_mb still becomes one file; IVF
    cells are bounded by the √N sizing rule, LSH buckets by the plane
    count) — then swaps the rewrite into place with a delete + rename
    on the index's own filesystem. Sidecars (``<path>.centroids`` /
    ``<path>.meta``) live OUTSIDE the data directory and are untouched,
    so the index stays openable by the same readers. Probe-result
    identity before/after is pinned in test_index_compaction.

    Returns ``(files_before, files_after)``.
    """
    import math

    files_before, total_bytes = _parquet_file_stats(spark, path)
    n_tasks = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    tmp = path.rstrip("/") + ".compacting"
    (
        spark.read.parquet(path)
        .repartition(n_tasks, F.col(partition_col))
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(tmp)
    )
    swap_directory(spark, tmp, path)
    files_after, _ = _parquet_file_stats(spark, path)
    return files_before, files_after


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) through the JVM Hadoop API — THE canonical
    filesystem accessor (round-13 review: three copies had grown).
    Works on any scheme (file://, hdfs://, s3a://), unlike os.path."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def swap_directory(spark: SparkSession, tmp: str, path: str) -> None:
    """Crash-safe directory swap (round-9 ADVICE fix): rename the live
    dir ASIDE first, rename the rewrite into place, then delete the old
    — every crash point leaves a complete directory at either ``path``
    or ``path + ".old"`` (never nothing, as delete-then-rename did).
    Readers must still be quiesced during the swap: one that opened
    file handles under ``path`` before the rename races the final
    delete. Shared by index compaction and the streaming fingerprint
    store (streaming/dedup.py)."""
    old = path.rstrip("/") + ".old"
    fs, live = hadoop_fs(spark, path)
    _, aside = hadoop_fs(spark, old)
    _, staged = hadoop_fs(spark, tmp)
    fs.delete(aside, True)  # leftover from a prior crash
    if not fs.rename(live, aside):
        raise IOError(f"rename {path} -> {old} failed")
    if not fs.rename(staged, live):
        fs.rename(aside, live)  # roll back
        raise IOError(f"rename {tmp} -> {path} failed (rolled back)")
    fs.delete(aside, True)
