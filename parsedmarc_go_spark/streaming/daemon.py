"""Daemon mode (SURVEY §2.10, milestone 4): Structured Streaming over a
file-drop landing zone.

The reference's daemon is an IMAP poll loop (300 s default,
config.go:208) plus an HTTP push endpoint (http/server.go:353-420);
both ultimately produce raw report payloads one at a time. The Spark
shape: an external fetcher (IMAP/HTTP receiver — mailbox protocol does
not belong in the engine) lands raw files in `landing_dir`; this stream
picks them up, runs the *same* batch transforms via foreachBatch, and
writes the five Parquet tables. `maxFilesPerTrigger` is the
backpressure knob (the analogue of the reference's rate limiter,
server.go:239-270).

End-to-end exactly-once: the checkpointed file source replays a failed
micro-batch with the SAME batch_id, and every table write is an
idempotent dynamic-partition OVERWRITE of that batch's own
`__batch_id=N` partition — a crash after some of the five writes
re-runs the batch and replaces exactly what it wrote before, never
appending duplicates. (Plain `append` here would silently degrade to
at-least-once across the five non-atomic writes.) Readers drop the
bookkeeping column via `read_stream_table`.

This module owns the streaming commit protocol every stage shares:
`_overwrite_partitions` is the one per-batch write (it carries its own
dynamic overwrite mode, so no caller touches the session's
`partitionOverwriteMode`), `_with_batch_id` is the one way a batch's
rows get their `__batch_id`, and `_start_stream` is the one
readStream → foreachBatch → checkpoint → trigger starter.

The batch id goes into the plan as a STRING literal. Spark's code
generator writes an integer literal into the generated Java source, so
an integer id made every micro-batch compile its write stages anew
(about 16 classes a batch, never reused) and pushed the dashboards'
classes out of the shared codegen cache. A string literal is held in
the compiled class's reference array instead, so one class serves every
batch. The partition directory is `__batch_id=N` either way, and reads
infer the column back as an integer.

Batch/stream parity is structural: foreachBatch runs the identical
post-extraction DAG the batch path uses (ingest.parse_extracted), so
tests assert table equality.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from parsedmarc_go_spark.sources.ingest import extract_reports, parse_extracted

BINARY_FILE_SCHEMA = "path string, modificationTime timestamp, length long, content binary"

STREAM_TABLES = (
    "aggregate_reports",
    "aggregate_records",
    "forensic_reports",
    "smtp_tls_reports",
    "smtp_tls_failures",
    "rejects",
)


def _overwrite_partitions(df: DataFrame, path: str, *part_cols: str) -> None:
    """The streaming commit: replace exactly the partitions ``df``
    holds and touch no other. The dynamic overwrite mode is a per-write
    option, so the commit is correct under any session
    ``partitionOverwriteMode`` — a STATIC session would otherwise
    delete every earlier batch's partition."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*part_cols)
        .parquet(path)
    )


def _with_batch_id(df: DataFrame, batch_id: int) -> DataFrame:
    """``df`` tagged with its ``__batch_id`` partition value, as a
    string literal so the generated code does not depend on the id (see
    the module docstring)."""
    return df.withColumn("__batch_id", F.lit(str(batch_id)))


def _write_table(df: DataFrame, out_dir: str, name: str, batch_id: int) -> None:
    """One idempotent table commit scoped to THIS batch's __batch_id
    partition. Module-level (not a closure) so the crash test can
    fail-inject between the five table writes."""
    _overwrite_partitions(
        _with_batch_id(df, batch_id), os.path.join(out_dir, name), "__batch_id"
    )


def _start_stream(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    process_batch,
    schema,
    max_files_per_trigger: int,
    available_now: bool,
    trigger_seconds: int | None,
    fmt: str = "parquet",
    columns: tuple[str, ...] = (),
) -> StreamingQuery:
    """The one stream starter: readStream(``fmt``) over every file under
    ``landing_dir`` (``maxFilesPerTrigger`` is the backpressure knob),
    optionally projected to ``columns``, → foreachBatch(``process_batch``)
    checkpointed at ``checkpoint_dir``. Trigger: ``available_now`` drains
    what has landed and stops; else ``trigger_seconds`` sets a
    processing-time interval; else (None/0) micro-batches run back to
    back."""
    src = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(landing_dir)
    )
    if columns:
        src = src.select(*columns)
    writer = src.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def make_batch_processor(
    out_dir: str,
    enrichment=None,
    metrics_path: str | None = None,
    as_of: str | None = None,
):
    """foreachBatch body, factored out so idempotence is directly
    testable: calling it twice with the same batch_id (the
    crash-and-replay case) must leave every table unchanged.

    `enrichment` is an optional functions.enrich.EnrichmentContext —
    when given, aggregate records and forensic reports get GeoIP /
    reverse-DNS / sender classification applied in-batch, replacing the
    offline defaults exactly where the reference enriches per record
    (parser.go:1272-1299).

    `metrics_path`: when set, cumulative reports/failures counters are
    published there (atomic textfile) after every batch — the file the
    HTTP receiver's GET /metrics bridges into its scrape output, which
    mirrors the reference's shared Prometheus registry
    (metrics.go:24-179). Counters are process-local and monotone within
    a daemon run, exactly like the reference's in-process counters. Each
    batch's contribution is keyed by batch_id, so the crash-and-replay
    case the table writes are designed for is idempotent in the
    counters too: re-running batch N overwrites N's contribution
    instead of double-counting (round-4 advice)."""

    batch_contribs: dict[int, dict[tuple[str, str], float]] = {}

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        from dataclasses import replace

        from parsedmarc_go_spark.functions.enrich import enrich_records

        extracted = extract_reports(batch).cache()
        try:
            # `as_of` pins the ingest clock: with it set, a crash-and-
            # replay of batch N rewrites byte-identical files (created_at
            # included) instead of merely row-equivalent ones
            res = parse_extracted(extracted, as_of)
            if enrichment is not None:
                res = replace(
                    res,
                    aggregate_records=enrich_records(res.aggregate_records, enrichment),
                    forensic_reports=enrich_records(res.forensic_reports, enrichment),
                )
            # idempotent commit: a replay of batch N replaces batch N's
            # files and touches nothing else (see _write_table)
            for name in STREAM_TABLES:
                _write_table(getattr(res, name), out_dir, name, batch_id)
            if metrics_path:
                from parsedmarc_go_spark.metrics import ingest_counters, write_metrics_textfile

                # counts re-derive from the cached `extracted` frame, so
                # these are cheap follow-up jobs, not a second file scan
                batch_contribs[batch_id] = ingest_counters(res, "stream")  # replay-safe overwrite
                totals: dict[tuple[str, str], float] = {}
                for c in batch_contribs.values():
                    for key, v in c.items():
                        totals[key] = totals.get(key, 0.0) + v
                write_metrics_textfile(totals, metrics_path)
        finally:
            extracted.unpersist()

    return process_batch


def read_stream_table(spark: SparkSession, out_dir: str, name: str) -> DataFrame:
    """Read one of the daemon's output tables, dropping the __batch_id
    bookkeeping partition column."""
    return spark.read.parquet(os.path.join(out_dir, name)).drop("__batch_id")


def stream_ingest(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = 300,
    max_files_per_trigger: int = 1000,
    available_now: bool = False,
    enrichment=None,
    metrics_path: str | None = None,
    as_of: str | None = None,
) -> StreamingQuery:
    """readStream(binaryFile) → extraction/parse DAG → foreachBatch
    appending the five flat Parquet tables + rejects quarantine.
    `as_of` (optional) pins the ingest clock — see normalize.ingest_ts."""
    return _start_stream(
        spark,
        landing_dir,
        checkpoint_dir,
        make_batch_processor(out_dir, enrichment, metrics_path, as_of),
        BINARY_FILE_SCHEMA,
        max_files_per_trigger,
        available_now,
        trigger_seconds,
        fmt="binaryFile",
        columns=("path", "length", "content"),
    )
