"""Incremental ADDITIVE aggregation store: the fingerprint store's
partition discipline (streaming/dedup.py) generalized from set-union
membership to any SUM-monoid aggregate — the streaming backbone for
corpus statistics that must stay current as shards arrive: token
counts for vocabulary building, document frequencies, per-source
token budgets.

Why a store of PARTIALS instead of a running total: Structured
Streaming's replay unit is the batch, so the only layout that makes a
replayed batch idempotent WITHOUT read-modify-write races is one
partition of partial aggregates per ``__batch_id``, overwritten
dynamically by its own batch — exactly the fingerprint-store
contract. Counts are summable (commutative monoid), so:

- **append** = each batch writes its OWN partial ``(key, cnt)``
  aggregate to its own partition — O(batch) work, no read of history
  at all (the dedup store must probe history; a count store need
  not),
- **read** = one ``groupBy(key).sum`` over the store merges the
  partials — cheap once compaction has folded history to ≤
  ``keep_last + 1`` partial rows per key,
- **compaction** = fold partitions older than ``keep_last`` batches
  into the ``__batch_id = -1`` base by SUMMING per key (the fold
  preserves totals exactly, the way the digest fold preserves
  membership), range-repartitioned so the unbounded base is written
  by many size-proportional tasks, swapped in crash-safe.

Store rows are bucketed on ``pmod(xxhash64(key), n_buckets)`` like
the digest store, so a consumer probing specific keys (e.g. "counts
for this batch's tokens") reads pruned directories.

100 TB shape: per batch one hash aggregate of the batch itself and
one partition write; no history scan, no shuffle of the store. The
merge-on-read cost is bounded by compaction. Vocabulary building
(``vocab_snapshot``) is read + the build_vocab top-K
(TakeOrderedAndProject) — the id-rank window runs over the
already-limited frame, never the corpus.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from parsedmarc_go_spark.storage import _parquet_file_stats, swap_directory
from parsedmarc_go_spark.streaming.daemon import (
    _overwrite_partitions,
    _start_stream,
    _with_batch_id,
)

COUNT_TABLE = "counts"
DEFAULT_COUNT_BUCKETS = 64


def _count_path(store_dir: str) -> str:
    return os.path.join(store_dir, COUNT_TABLE)


def make_count_processor(
    store_dir: str,
    key_cols: list[str],
    weight_col: str | None = None,
    n_buckets: int = DEFAULT_COUNT_BUCKETS,
):
    """foreachBatch body maintaining the additive store: aggregate the
    batch on ``key_cols`` (row count, or ``sum(weight_col)``), write
    the partial to the batch's own ``__batch_id`` partition. Replay
    overwrites the identical partial — idempotent with no
    read-modify-write. An EMPTY batch is skipped, as
    streaming/dedup.py::_write_store skips an empty append: its empty
    partial's write would leave a file-less ``counts/`` directory that
    every later read fails to infer a schema from. (A non-empty batch
    always has a non-empty partial, so testing the batch costs a
    limit-1 scan instead of a second aggregate.)"""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        agg = (F.sum(weight_col) if weight_col else F.count("*")).alias("cnt")
        partial = batch.groupBy(*key_cols).agg(agg)
        bucket = F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")
        _overwrite_partitions(
            _with_batch_id(partial, batch_id).withColumn("__bucket", bucket),
            _count_path(store_dir),
            "__batch_id",
            "__bucket",
        )

    return process_batch


def read_counts(spark: SparkSession, store_dir: str) -> DataFrame:
    """The merged totals: ``key cols..., cnt``. One groupBy-sum over
    the partials (which compaction keeps at ≤ keep_last + 1 rows per
    key). The store must exist: it is created by the first batch with
    a non-empty partial."""
    df = spark.read.parquet(_count_path(store_dir))
    keys = [c for c in df.columns if c not in ("cnt", "__batch_id", "__bucket")]
    return df.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def compact_count_store(
    spark: SparkSession,
    store_dir: str,
    keep_last: int = 2,
    target_file_mb: float = 128,
) -> tuple[int, int]:
    """Fold partials older than the newest ``keep_last`` batches into
    the ``__batch_id = -1`` base BY SUMMING per key — totals are
    preserved exactly (the monoid fold), and the unbounded base
    partition is range-repartitioned across
    ``~total_bytes/target_file_mb`` writers (the
    compact_fingerprint_store rule — a hash repartition on the
    constant ``-1`` would funnel the store through one task). Safe for
    the same reason the digest fold is: a batch old enough to fold can
    never replay, so its partition identity is no longer needed — only
    its additive CONTRIBUTION, which the fold preserves."""
    path = _count_path(store_dir)
    df = spark.read.parquet(path)
    # bounded collect: one value per micro-batch partition
    batches = sorted(
        r[0]
        for r in df.select("__batch_id").distinct().collect()
        if r[0] >= 0
    )
    fold = batches[:-keep_last] if keep_last > 0 else batches
    if not fold:
        files_before, _ = _parquet_file_stats(spark, path)
        return files_before, files_before
    files_before, total_bytes = _parquet_file_stats(spark, path)
    n_tasks = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    keys = [c for c in df.columns if c not in ("cnt", "__batch_id", "__bucket")]
    old = df.filter(F.col("__batch_id").isin([-1, *fold]))
    keep = df.filter(~F.col("__batch_id").isin([-1, *fold]))
    folded = (
        old.groupBy(*keys, "__bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn("__batch_id", F.lit(-1))
        .select(*keys, "cnt", "__batch_id", "__bucket")
    )
    tmp = path.rstrip("/") + ".compacting"
    (
        folded.unionByName(keep.select(*keys, "cnt", "__batch_id", "__bucket"))
        .repartitionByRange(
            n_tasks, F.col("__batch_id"), F.col("__bucket"), *[F.col(k) for k in keys]
        )
        .write.mode("overwrite")
        .partitionBy("__batch_id", "__bucket")
        .parquet(tmp)
    )
    swap_directory(spark, tmp, path)
    files_after, _ = _parquet_file_stats(spark, path)
    return files_before, files_after


def vocab_snapshot(
    spark: SparkSession, store_dir: str, size: int = 32768
) -> DataFrame:
    """The current corpus vocabulary from a token count store:
    ``token, cnt, token_id`` with the build_vocab contract
    (operators/retrieval.py — count desc, token tie-break, 0-based
    ids; the rank window runs over the already-limited top-``size``
    frame)."""
    from pyspark.sql import Window

    counts = read_counts(spark, store_dir)
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(size)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return top.withColumn(
        "token_id", (F.row_number().over(w) - 1).cast("int")
    )


def _stream_token_store(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema,
    text_col: str,
    n_buckets: int,
    max_files_per_trigger: int,
    available_now: bool,
    trigger_seconds: int | None,
    per_doc_distinct: bool,
) -> StreamingQuery:
    """Token count store over arriving shards: each batch's lowercased
    space-split tokens (each doc's DISTINCT tokens when
    ``per_doc_distinct``) feed the count processor. The token explode
    runs inside the batch aggregate — the store never sees a corpus
    row, only per-batch ``(token, cnt)`` partials."""
    proc = make_count_processor(store_dir, ["token"], n_buckets=n_buckets)

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        toks = F.split(F.lower(F.col(text_col)), " ")
        if per_doc_distinct:
            toks = F.array_distinct(toks)
        proc(
            batch.select(F.explode(toks).alias("token")).filter(
                F.col("token") != ""
            ),
            batch_id,
        )

    return _start_stream(
        spark, landing_dir, checkpoint_dir, process_batch, schema,
        max_files_per_trigger, available_now, trigger_seconds,
    )


def stream_token_counts(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema,
    text_col: str = "text",
    n_buckets: int = DEFAULT_COUNT_BUCKETS,
    max_files_per_trigger: int = 1000,
    available_now: bool = True,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """readStream(document shards) → per-batch token-count partials →
    additive store. ``vocab_snapshot`` over the store then equals
    ``build_vocab`` over everything that has arrived (parity-pinned in
    tests/test_aggstore.py)."""
    return _stream_token_store(
        spark, landing_dir, store_dir, checkpoint_dir, schema, text_col,
        n_buckets, max_files_per_trigger, available_now, trigger_seconds,
        per_doc_distinct=False,
    )


def stream_doc_frequencies(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_COUNT_BUCKETS,
    max_files_per_trigger: int = 1000,
    available_now: bool = True,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """The additive store's second consumer — incremental DOCUMENT
    frequencies (the BM25/idf denominator, operators/retrieval.py):
    per batch, each document contributes each of its DISTINCT terms
    once (the per-doc ``array_distinct`` idiom of decontaminate_ngram
    — no corpus-wide distinct shuffle), and the store sums the
    contributions. ``read_counts`` then yields ``(token, cnt)`` with
    cnt = number of documents ever seen containing the token —
    equal to the batch df computed over everything that has arrived
    (parity-pinned in tests/test_aggstore.py), assuming each doc_id
    arrives once (re-delivery within a replayed batch is handled by
    the store; cross-batch re-delivery is upstream dedup's job)."""
    return _stream_token_store(
        spark, landing_dir, store_dir, checkpoint_dir, schema, text_col,
        n_buckets, max_files_per_trigger, available_now, trigger_seconds,
        per_doc_distinct=True,
    )
