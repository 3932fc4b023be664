"""Incremental corpus dedup for the streaming path: each arriving
micro-batch of document shards is deduplicated against a PERSISTED
fingerprint store, then appends its own new fingerprints — so a
continuously-growing corpus stays deduped without ever re-scanning
history.

This is the streaming staple the batch dedup family (exact, paragraph,
minhash — operators/dedup.py) does not cover: batch dedup is
corpus-at-rest math, but shards arrive continuously, and re-running a
batch pass over the whole corpus per arrival is O(corpus) per shard.
Here each batch does O(batch) work plus one membership PROBE of the
store:

- **store** = a parquet table of paragraph (or whole-document) sha256
  digests under ``<store_dir>/fingerprints``, partitioned by
  ``(__batch_id, __bucket)`` — ``__batch_id`` is the daemon's
  idempotent-overwrite unit (streaming/daemon.py::_overwrite_partitions)
  and ``__bucket = pmod(xxhash64(ph), n_buckets)`` co-partitions the
  digests on their own hash (the ANN-index directory layout,
  storage.py:compact_partitioned_index) so probes read PRUNED. Only
  digests are stored, never text: 32 bytes per distinct paragraph
  regardless of document size. ``n_buckets`` is pinned at store
  creation in the ``fingerprints.meta`` sidecar (the ``.centroids`` /
  ``.meta`` convention) — a store is probed with the bucket width it
  was written with, never the caller's.
- **probe** (round-10 rewrite) = the store side is SCANNED, never
  shuffled: ``probe_store`` prunes the scan to the batch's bucket set
  (bounded collect of at most ``n_buckets`` ints) and LEFT SEMI joins
  it against the batch's own digest set with the BATCH side broadcast
  — a BroadcastHashJoin whose streamed side is the pruned store scan,
  so the per-batch plan contains no full-store Exchange and no
  re-derived ``distinct()`` (the store is globally distinct by
  construction: each batch appends only digests anti-joined against
  everything seen, and replays overwrite their own partition — the
  invariant is ASSERTED in tests/test_streaming_dedup.py instead of
  recomputed per batch). The resulting ``seen_small`` frame is
  batch-bounded and feeds the batch operators as ``seen_keys``.
  Batches too large to broadcast (> ``broadcast_probe_max_keys``
  digests) fall back to a shuffle semi-join — still distinct-free.
  A Bloom-filter sidecar (round 10, the Dolma-deduper pattern as a
  PRE-probe — see make_dedup_processor) first drops every batch digest
  history can rule out, so a mostly-new batch's exact probe touches a
  small candidate subset and an all-new batch skips the store scan
  entirely; the sidecar is a sparse packed-word parquet table updated
  by bit_or aggregation, written BEFORE each store append so every
  crash point degrades to false positives, never false negatives.
- **dedup** = the batch operators themselves run per micro-batch with
  ``seen_small`` as ``seen_keys`` (operators/dedup.py:paragraph_dedup),
  so stream-over-shards equals batch-over-the-union EXACTLY — pinned
  in tests/test_streaming_dedup.py on a two-trigger run. A ``minhash``
  mode persists banded MinHash bucket keys instead, extending the
  store to NEAR-dup history at 16 fixed-width keys per retained
  document (see make_dedup_processor for its probabilistic contract),
  a ``substring`` mode persists k-gram digests for incremental
  ExactSubstr (token-resolution store cost — see its contract), and a
  ``semdedup`` mode (round 10) persists retained documents' VECTORS
  partitioned by frozen-quantizer cell for incremental embedding-level
  near-dup (see _process_semdedup_batch).
- **idempotence** = both the output table and the store append are
  dynamic-partition overwrites of the batch's own ``__batch_id``
  partitions, and the dedup read EXCLUDES the current batch's own
  partition — so a crash-and-replay of batch N sees exactly the store
  state N saw the first time and rewrites identical files.
- **maintenance** = ``compact_fingerprint_store`` folds old batch
  partitions into negative-id RUN partitions and merges runs only when
  a size ratio triggers (an LSM discipline: O(N log N) total rewrite,
  not a whole-store rewrite per fold), committing each step with one
  atomic meta swap. Each run is range-repartitioned on
  ``(partition cols, ph)`` into ``~bytes/target_file_mb`` tasks, so an
  unbounded run is written by MANY size-proportional tasks (round-10
  fix: a hash repartition on the constant run id sent every row
  through ONE task). Structured Streaming replays at most the most
  recent uncommitted batch, so folding everything older than
  ``keep_last`` batches loses no replay granularity.

100 TB shape: per batch the store pays one PRUNED scan (the batch's
buckets only) streamed through a broadcast semi-join — no store-side
shuffle, no store-side distinct — plus one shuffle of the batch's own
digests and one doc_id re-assembly shuffle. Store growth is O(distinct
new fingerprints), and compaction keeps reads at O(target_file_mb)
file granularity inside each bucket directory.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from parsedmarc_go_spark.caching import scope as caching_scope
from parsedmarc_go_spark.caching import tracked_local_checkpoint
from parsedmarc_go_spark.functions.text import normalized_text
from parsedmarc_go_spark.operators.dedup import (
    minhash_band_signatures,
    neardup_clusters,
    paragraph_dedup,
    paragraph_keys,
)
from parsedmarc_go_spark.storage import _parquet_file_stats, hadoop_fs, swap_directory
from parsedmarc_go_spark.streaming.daemon import (
    _overwrite_partitions,
    _start_stream,
    _with_batch_id,
    _write_table,
)

STORE_TABLE = "fingerprints"
BLOOM_TABLE = "fingerprints.bloom"
VEC_STORE_TABLE = "vectors"
_EMPTY_STORE_SCHEMA = "ph string, __batch_id bigint, __bucket int"
DEFAULT_STORE_BUCKETS = 64
# The probe-side broadcast bound is expressed in BYTES, not rows: a
# sha256 hex digest is 64 B of payload before row overhead, and
# F.broadcast bypasses spark.sql.autoBroadcastJoinThreshold entirely,
# so an over-generous row count (the old 1M-key default ≈ 64-100 MB
# per batch) could OOM default-sized drivers/executors before the
# shuffle fallback ever engaged (ADVICE r10). 32 MB of estimated
# payload → 512k digests; beyond that the probe falls back to a
# shuffle semi-join, which is merely slower, never wrong.
_PROBE_KEY_EST_BYTES = 64
DEFAULT_BROADCAST_PROBE_MAX_BYTES = 32 * 1024 * 1024
DEFAULT_BROADCAST_PROBE_MAX_KEYS = (
    DEFAULT_BROADCAST_PROBE_MAX_BYTES // _PROBE_KEY_EST_BYTES
)
# Bloom pre-probe sizing (the Dolma deduper pattern — Soldaini et al.
# 2024 use a Bloom filter as the whole dedup store; here it is a
# PRE-probe in front of the exact digest store, so its false positives
# cost only extra exact-probe work and can never drop a unique doc).
# m/k follow the standard formulas for `expected_items` at `fpp`;
# both are pinned in fingerprints.meta at store creation (the
# n_buckets "width never drifts" rule) — a store past its expected
# size degrades to more false positives, never to wrong output.
DEFAULT_BLOOM_EXPECTED_ITEMS = 8_000_000
DEFAULT_BLOOM_FPP = 0.01
# blooms bigger than this many BITS (64 MB packed) probe via a shuffle
# join on word_idx instead of a broadcast of the word table
BLOOM_BROADCAST_MAX_BITS = 512 * 1024 * 1024


def _bucket_expr(n_buckets: int, col: str = "ph"):
    """Digest → directory bucket. xxhash64 over the sha256 hex is
    uniform; cast to int so partition-directory values round-trip.
    ``col`` names the bucketing key — digest stores bucket on ``ph``,
    the verified-near-dup shingle store on ``doc`` (so probes prune by
    the history doc ids they retrieve)."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


def _meta_path(store_dir: str) -> str:
    return os.path.join(store_dir, STORE_TABLE + ".meta")


# Meta sidecars, cached per store dir (ADVICE r16): read_fingerprints
# runs on EVERY micro-batch probe, and the sidecar read is a
# driver-side Spark JSON job — a small fixed cost per batch even for
# stores that have never been compacted. The single writer
# (_write_store_meta) refreshes the entry at its commit point, which is
# sound under Structured Streaming's one-driver model; a store
# compacted by a DIFFERENT process concurrently would need the cache
# dropped (clear_meta_cache) — same external-writer assumption the
# watermark protocol itself already makes. Missing sidecars are NOT
# cached (the existence check is one cheap fs.exists, and a store
# created later by another process must become visible).
_META_CACHE: dict[str, dict] = {}


def clear_meta_cache() -> None:
    _META_CACHE.clear()


def _read_meta_dict(spark: SparkSession, store_dir: str) -> dict | None:
    """The full pinned-parameter sidecar as a dict (``n_buckets``, and
    ``bloom_m``/``bloom_k`` when the store was created with a Bloom
    pre-probe), or None for a store that does not exist yet. An
    existing-but-unreadable sidecar (empty directory, zero rows) raises
    a descriptive error instead of an IndexError — the meta is written
    crash-safe (tmp + swap), so a corrupt one means outside
    interference, and the pinned parameters must never be re-guessed
    (ADVICE r10)."""
    key = os.path.abspath(store_dir)
    cached = _META_CACHE.get(key)
    if cached is not None:
        return cached
    path = _meta_path(store_dir)
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    try:
        rows = spark.read.json(path).collect()
    except Exception as e:  # empty dir → schema-inference failure
        raise IOError(
            f"fingerprint store meta at {path} exists but is "
            "unreadable — the pinned n_buckets/bloom parameters are "
            "unrecoverable; restore the sidecar or recreate the store"
        ) from e
    if not rows:
        raise IOError(
            f"fingerprint store meta at {path} exists but holds no "
            "rows — the pinned n_buckets/bloom parameters are "
            "unrecoverable; restore the sidecar or recreate the store"
        )
    row = rows[0].asDict()
    meta = {k: v for k, v in row.items() if v is not None}
    _META_CACHE[key] = meta
    return meta


def read_store_meta(spark: SparkSession, store_dir: str) -> int | None:
    """The store's pinned bucket count, or None for a store that does
    not exist yet (first batch) or predates the bucketed layout."""
    meta = _read_meta_dict(spark, store_dir)
    return None if meta is None else int(meta["n_buckets"])


def _write_store_meta(
    spark: SparkSession,
    store_dir: str,
    n_buckets: int,
    bloom_m: int = 0,
    bloom_k: int = 0,
    folded_watermark: int | None = None,
    runs: list[int] | None = None,
) -> None:
    """Pin the store parameters crash-safe: write to a tmp dir, then
    rename into place (swap_directory when a prior meta exists) — a
    crash mid-write leaves either no meta (clean re-creation) or a
    complete one, never the empty directory a plain overwrite could
    (ADVICE r10).

    ``folded_watermark`` / ``runs`` are the LEVELED-compaction commit
    record (round-16): batch partitions with id ≤ watermark are FOLDED
    — their digests live in the negative-id run partitions listed in
    ``runs`` — and readers must ignore them (read_fingerprints does);
    negative-id partitions NOT in ``runs`` are uncommitted orphans from
    a crashed compaction, deleted at the next one. This one atomic
    meta swap is the commit point of every leveled fold/merge step."""
    path = _meta_path(store_dir)
    tmp = path.rstrip("/") + ".tmp"
    (
        spark.createDataFrame(
            [(n_buckets, bloom_m, bloom_k, folded_watermark,
              [int(r) for r in runs] if runs is not None else None)],
            "n_buckets int, bloom_m bigint, bloom_k int, "
            "folded_watermark bigint, runs array<bigint>",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .json(tmp)
    )
    fs, hpath = hadoop_fs(spark, path)
    if fs.exists(hpath):
        swap_directory(spark, tmp, path)
    else:
        jvm = spark._jvm
        if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), hpath):
            raise IOError(f"rename {tmp} -> {path} failed")
    # refresh the per-store cache AT the commit point, so every reader
    # in this process sees the new watermark/runs immediately
    _META_CACHE[os.path.abspath(store_dir)] = {
        k: v
        for k, v in {
            "n_buckets": n_buckets,
            "bloom_m": bloom_m,
            "bloom_k": bloom_k,
            "folded_watermark": folded_watermark,
            "runs": [int(r) for r in runs] if runs is not None else None,
        }.items()
        if v is not None
    }


def _bloom_params(expected_items: int, fpp: float) -> tuple[int, int]:
    """Standard Bloom sizing: ``m = -n ln p / (ln 2)^2`` bits (rounded
    up to whole 64-bit words) and ``k = (m/n) ln 2`` hashes."""
    n = max(1, expected_items)
    m = math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _bloom_positions(keys: DataFrame, m: int, k: int) -> DataFrame:
    """``(ph, word_idx, mask)`` — the k bit positions of each digest in
    a Bloom filter packed as 64-bit words, entirely as column
    expressions: position i is ``xxhash64(ph, i) mod m`` (the seed
    column varies the hash the way ``minhash_band_signatures`` seeds
    its permutations), split into word index (``pos >> 6``) and an
    in-word mask. One explode to k rows per digest; no Python."""
    return (
        keys.select("ph", F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("__seed"))
        .select(
            "ph",
            F.pmod(F.xxhash64("ph", "__seed"), F.lit(m)).alias("__pos"),
        )
        .select(
            "ph",
            F.shiftright(F.col("__pos"), 6).alias("word_idx"),
            F.expr("shiftleft(1L, CAST(__pos % 64 AS INT))").alias("mask"),
        )
    )


def _bloom_path(store_dir: str) -> str:
    return os.path.join(store_dir, BLOOM_TABLE)


def read_bloom_words(spark: SparkSession, store_dir: str) -> DataFrame | None:
    """The Bloom sidecar as a sparse packed-word table ``(word_idx,
    word)``, or None when the store has no bloom yet (first batch, or a
    store created with ``bloom=False``). Recovers a half-finished
    ``swap_directory`` (live dir renamed aside, crash before the new
    one moved in) by renaming ``.old`` back — the superset invariant
    survives either way because the aside copy is the complete previous
    bloom."""
    path = _bloom_path(store_dir)
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        old = spark._jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + ".old")
        if fs.exists(old):
            fs.rename(old, hpath)
        else:
            return None
    return spark.read.parquet(path)


def update_bloom(
    spark: SparkSession, new_keys: DataFrame, store_dir: str, m: int, k: int
) -> None:
    """OR the digests of ``new_keys`` into the persisted Bloom sidecar.

    The delta is aggregation-shaped — positions → ``groupBy(word_idx).
    bit_or(mask)`` — merged with the existing words by one more bit_or
    and swapped in crash-safe. MUST run BEFORE the store append for the
    batch (the superset invariant): a crash between the two leaves the
    bloom with extra bits for digests the store never recorded — false
    positives only, resolved exactly by the probe — while the reverse
    order could leave store digests the bloom denies, i.e. false
    NEGATIVES that wave duplicates through. Re-running a replayed
    batch re-ORs the same bits: idempotent."""
    delta = _bloom_positions(new_keys.select("ph"), m, k).groupBy("word_idx").agg(
        F.bit_or("mask").alias("word")
    )
    path = _bloom_path(store_dir)
    existing = read_bloom_words(spark, store_dir)
    if existing is None:
        delta.write.mode("overwrite").parquet(path)
        return
    tmp = path.rstrip("/") + ".merging"
    (
        delta.unionByName(existing)
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
        .write.mode("overwrite")
        .parquet(tmp)
    )
    swap_directory(spark, tmp, path)


def bloom_prefilter(
    probe_keys: DataFrame,
    bloom_words: DataFrame,
    m: int,
    k: int,
    broadcast: bool = True,
) -> DataFrame:
    """The subset of ``probe_keys`` (column ``ph``) the Bloom filter
    cannot rule out — a strict superset of ``store ∩ probe_keys``, so
    feeding it to the exact probe changes nothing but the work.

    Join-shaped membership test: each digest's k ``(word_idx, mask)``
    rows LEFT-join the sparse word table (broadcast — the bloom is
    ``m/64`` words ≤ ~12 MB at the default sizing; ``broadcast=False``
    falls back to a shuffle join for oversized blooms), a missing word
    row means the bit is 0, and a digest survives only if ALL k bits
    are set (``min(hit)``). Everything stays JVM-side; the only
    shuffle is the batch-bounded groupBy on the digest itself."""
    bw = F.broadcast(bloom_words) if broadcast else bloom_words
    return (
        _bloom_positions(probe_keys, m, k)
        .join(bw, "word_idx", "left")
        .withColumn(
            "__hit",
            F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("mask")) != 0,
        )
        .groupBy("ph")
        .agg(F.min("__hit").alias("__all_hit"))
        .filter(F.col("__all_hit"))
        .select("ph")
    )


def _store_exists(spark: SparkSession, store_dir: str) -> bool:
    """Whether a fingerprint table already sits under ``store_dir`` —
    distinct from the meta sidecar existing: a table WITHOUT meta is a
    legacy (pre-bucketed) store, which creation-time pinning must not
    mistake for a brand-new one (ADVICE r10)."""
    fs, hpath = hadoop_fs(spark, os.path.join(store_dir, STORE_TABLE))
    return bool(fs.exists(hpath))


def _ensure_store_meta(
    spark: SparkSession,
    store_dir: str,
    n_buckets: int,
    bloom_m: int = 0,
    bloom_k: int = 0,
) -> dict:
    """The store's pinned parameters, pinning them first when the meta
    sidecar is missing: a new store gets the given width and Bloom
    sizing. A store that PREDATES the sidecar (pre-bucketed layout)
    must not be mistaken for a new one — pinning the given width would
    append ``__bucket`` partitions into the flat directory (mixed
    partition depths break the next read) and a Bloom that lacks every
    pre-upgrade digest would wave duplicates through as false
    negatives (ADVICE r10). It is pinned bucketless and bloomless
    instead, which probe, append and compaction all handle."""
    meta = _read_meta_dict(spark, store_dir)
    if meta is None:
        if _store_exists(spark, store_dir):
            n_buckets, bloom_m, bloom_k = 0, 0, 0
        _write_store_meta(spark, store_dir, n_buckets, bloom_m, bloom_k)
        meta = _read_meta_dict(spark, store_dir)
    return meta


def read_fingerprints(
    spark: SparkSession, store_dir: str, exclude_batch_id: int | None = None
) -> DataFrame:
    """The persisted digest store (columns ``ph, __batch_id[, __bucket]``),
    empty if no batch has landed yet. ``exclude_batch_id`` drops that
    batch's own partition — the replay-idempotence filter: a re-run of
    batch N must see the store exactly as the first run of N did.

    The missing-path (first batch) case is detected with an explicit
    filesystem ``exists()`` — never by swallowing the read error: a
    transient filesystem/permission failure must PROPAGATE, because
    silently treating all history as unseen would wave duplicates
    through with no error surfaced (ADVICE r9)."""
    path = os.path.join(store_dir, STORE_TABLE)
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return spark.createDataFrame([], _EMPTY_STORE_SCHEMA)
    df = spark.read.parquet(path)
    meta = _read_meta_dict(spark, store_dir)
    if meta is not None:
        # leveled-compaction visibility (round-16): batch partitions at
        # or below the folded watermark are STALE — their digests live
        # in the committed negative-id runs — and survive on disk only
        # across the crash window between a fold's meta commit and its
        # partition deletes. Filtering here (partition-column predicate
        # → directory pruning, no data read) makes every consumer see
        # exactly the committed membership, so a crashed compaction can
        # never surface duplicates.
        w = meta.get("folded_watermark")
        if w is not None:
            df = df.filter(
                (F.col("__batch_id") < 0) | (F.col("__batch_id") > int(w))
            )
        runs = meta.get("runs")
        if runs is not None:
            committed = [int(r) for r in runs]
            df = df.filter(
                (F.col("__batch_id") >= 0)
                | F.col("__batch_id").isin(committed)
            )
    if exclude_batch_id is not None:
        df = df.filter(F.col("__batch_id") != exclude_batch_id)
    return df


def _prune_buckets(
    store: DataFrame, keys: DataFrame, n_buckets: int | None, col: str = "ph"
) -> DataFrame:
    """``store`` restricted to the ``__bucket`` directories that
    ``keys[col]`` hash into — a bounded collect of at most
    ``n_buckets`` ints that prunes the store scan. Unpruned for a
    bucketless (legacy) store."""
    if not n_buckets or "__bucket" not in store.columns:
        return store
    buckets = [
        r[0]
        for r in keys.select(_bucket_expr(n_buckets, col).alias("b"))
        .distinct()
        .collect()
    ]
    return store.filter(F.col("__bucket").isin(buckets))


def probe_store(
    seen: DataFrame,
    keys: DataFrame,
    n_buckets: int | None,
    broadcast_probe: bool = True,
) -> DataFrame:
    """Membership probe: the subset of the batch's digest set ``keys``
    (column ``ph``) that history has seen — i.e. ``store ∩ keys``,
    returned from the STORE side so downstream joins touch only
    batch-bounded data.

    The store side is scanned, never shuffled: the scan is pruned to
    the buckets the batch's digests hash into (``n_buckets`` must be
    the store's OWN pinned width; pruning is skipped for legacy stores
    without a ``__bucket`` column), then LEFT SEMI joined against the
    batch digests with the batch side broadcast — a BroadcastHashJoin
    whose streamed side is the pruned scan, no Exchange over the store
    anywhere in the plan (plan-pinned in test_streaming_dedup). No
    ``distinct()`` on either side: the store is globally distinct by
    construction (asserted in tests, not recomputed per batch), and a
    semi-join tolerates duplicates regardless. ``broadcast_probe=False``
    is the over-sized-batch fallback (shuffle semi-join)."""
    seen = _prune_buckets(seen, keys, n_buckets)
    probe = keys.select("ph")
    if broadcast_probe:
        probe = F.broadcast(probe)
    return seen.select("ph").join(probe, "ph", "left_semi")


def _write_store(
    df: DataFrame,
    store_dir: str,
    batch_id: int,
    n_buckets: int,
    bucket_col: str = "ph",
) -> None:
    """``n_buckets == 0`` is the legacy (pre-bucketed) layout:
    partition by ``__batch_id`` only, matching the flat store's
    existing directory depth (ADVICE r10).

    An EMPTY append is skipped outright (round-13 review): a
    PARTITIONED write of an empty frame emits no part files and no
    ``_SUCCESS`` — just a bare directory — and the next batch's
    ``spark.read.parquet`` on a file-less store dies on
    UNABLE_TO_INFER_SCHEMA, permanently poisoning the stream when the
    empty write was the store's CREATION (an all-duplicate or
    all-filtered first batch). Skipping is semantically identical:
    overwriting zero partitions replaces nothing."""
    if df.isEmpty():
        return
    out = _with_batch_id(df, batch_id)
    part_cols = ["__batch_id"]
    if n_buckets:
        out = out.withColumn("__bucket", _bucket_expr(n_buckets, bucket_col))
        part_cols.append("__bucket")
    _overwrite_partitions(out, os.path.join(store_dir, STORE_TABLE), *part_cols)


def _load_or_train_centroids(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    n_clusters: int,
    vec_col: str,
    id_col: str,
) -> list[list[float]]:
    """The FROZEN coarse quantizer of the streaming vector store:
    trained once on the first batch (kmeans_fit is deterministic, so a
    replay of batch 0 retrains byte-identical centroids and the
    overwrite is a no-op), persisted as the ``vectors.centroids``
    sidecar, and loaded — never retrained — by every later batch: the
    append_to_ivf_index contract (operators/clustering.py:210-231),
    which is what makes cell-pruned probes of an ever-growing store
    sound. Bounded driver data: k × dim floats."""
    from parsedmarc_go_spark.operators.clustering import kmeans_fit

    path = os.path.join(store_dir, VEC_STORE_TABLE + ".centroids")
    fs, hpath = hadoop_fs(spark, path)
    if fs.exists(hpath):
        rows = sorted(
            spark.read.parquet(path).collect(), key=lambda r: r["cell"]
        )
        return [list(r["centroid"]) for r in rows]
    cents, _ = kmeans_fit(
        batch, k=n_clusters, vec_col=vec_col, id_col=id_col
    )
    (
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
            "cell int, centroid array<double>",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )
    return cents


def _process_semdedup_batch(
    batch: DataFrame,
    batch_id: int,
    out_dir: str,
    store_dir: str,
    id_col: str,
    vec_col: str,
    tau: float,
    n_clusters: int,
    chunk_rows: int | None,
) -> None:
    """mode="semdedup" body: incremental embedding-level near-dup.

    The store persists the RETAINED documents' vectors partitioned by
    ``(__batch_id, cell)`` — growth is O(retained vectors), and a probe
    reads only the cells the batch's own vectors assign to (partition
    pruning on the frozen quantizer's cells). Arriving docs with a
    cosine ≥ tau match against probed history drop (exact verify — the
    vectors ARE stored, unlike minhash mode's probabilistic band keys);
    the remainder runs the within-batch SemDeDup machinery over the
    SAME frozen cells (blocked cross/self BLAS pairs → components →
    keep the member least similar to its cell centroid, ties to the
    smaller id — the Abbas 2023 keep rule), and only survivors' vectors
    append.

    Cross-batch semantics are greedy-online, first-arrival-wins:
    history is immutable, so a component that CHAINS across batches
    (A~B, B~C, A≁C arriving in three batches) can retain more members
    than batch semdedup over the union would — for blob-shaped dup
    groups (the paper's observed geometry: all members pairwise ≥ tau)
    stream equals batch-over-the-union exactly, pinned in
    test_streaming_dedup on planted blobs."""
    from parsedmarc_go_spark.operators.clustering import assign_cells
    from parsedmarc_go_spark.operators.dedup import neardup_clusters
    from parsedmarc_go_spark.operators.similarity import (
        cosine,
        cosine_cross_pairs,
        cosine_neardup_pairs,
    )

    spark = batch.sparkSession
    batch = batch.persist()
    cents = _load_or_train_centroids(
        spark, batch, store_dir, n_clusters, vec_col, id_col
    )
    assigned = assign_cells(batch, cents, vec_col, "cell").persist()
    vec_path = os.path.join(store_dir, VEC_STORE_TABLE)
    fs, hpath = hadoop_fs(spark, vec_path)
    if fs.exists(hpath):
        # bounded collect: at most n_clusters cell ids — prunes the
        # store scan's partition directories to the batch's cells
        cells = [r[0] for r in assigned.select("cell").distinct().collect()]
        hist = (
            spark.read.parquet(vec_path)
            .filter(F.col("__batch_id") != batch_id)  # replay filter
            .filter(F.col("cell").isin(cells))
        )
        dropped = (
            cosine_cross_pairs(
                hist, assigned, threshold=tau, block_col="cell",
                id_col=id_col, vec_col=vec_col, chunk_rows=chunk_rows,
            )
            .select(F.col("vec_b").alias(id_col))
            .distinct()
        )
        # localCheckpoint cuts the lineage through the store scan, so
        # the survivor append below never reads the path it overwrites
        remaining = assigned.join(dropped, id_col, "left_anti").transform(tracked_local_checkpoint)
    else:
        remaining = assigned
    pairs = cosine_neardup_pairs(
        remaining, threshold=tau, block_col="cell",
        id_col=id_col, vec_col=vec_col, chunk_rows=chunk_rows,
    ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    comp = neardup_clusters(pairs).select(
        F.col("doc").alias(id_col), "cluster_id"
    )
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, __centroid array<double>",
    )
    scored = remaining.join(F.broadcast(cent_df), "cell").withColumn(
        "__csim",
        F.round(
            cosine(f"transform({vec_col}, x -> CAST(x AS DOUBLE))", "__centroid"),
            4,
        ),
    )
    # keep rule over ONLY the paired subset (the semdedup singleton fix)
    w = Window.partitionBy("cluster_id").orderBy(F.asc("__csim"), F.asc(id_col))
    keep_flags = (
        scored.select(id_col, "__csim")
        .join(comp, id_col)
        .select(id_col, (F.row_number().over(w) == 1).alias("__keep"))
    )
    survivors = (
        remaining.join(keep_flags, id_col, "left")
        .filter(F.coalesce(F.col("__keep"), F.lit(True)))
        .drop("__keep")
    )
    _write_table(survivors.drop("cell"), out_dir, "docs_deduped", batch_id)
    _overwrite_partitions(
        _with_batch_id(survivors.select(id_col, vec_col, "cell"), batch_id),
        vec_path,
        "__batch_id",
        "cell",
    )
    assigned.unpersist()
    batch.unpersist()


def make_dedup_processor(
    out_dir: str,
    store_dir: str,
    mode: str = "paragraph",
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    normalize: bool = False,
    substring_k: int = 8,
    n_buckets: int = DEFAULT_STORE_BUCKETS,
    broadcast_probe_max_keys: int = DEFAULT_BROADCAST_PROBE_MAX_KEYS,
    vec_col: str = "embedding",
    semdedup_tau: float = 0.95,
    semdedup_n_clusters: int = 8,
    semdedup_chunk_rows: int | None = 1024,
    bloom: bool = True,
    bloom_expected_items: int = DEFAULT_BLOOM_EXPECTED_ITEMS,
    bloom_fpp: float = DEFAULT_BLOOM_FPP,
    minhash_max_bucket: int | None = None,
):
    """foreachBatch body for incremental dedup, factored out (the
    curation-stage pattern, streaming/curation.py::make_curation_processor)
    so idempotence and stream-vs-batch parity are directly testable.

    ``mode="paragraph"``: CCNet paragraph dedup — the output table has
    the paragraph_dedup row shape (n_paras / n_kept /
    para_frac_removed / dedup_text) and the store holds paragraph
    digests. ``mode="document"``: whole-document exact dedup on the
    normalized-text sha256 (the exact_dedup_groups key,
    operators/dedup.py:26-60) — the output table keeps the surviving
    input rows and the store holds document digests.

    ``mode="substring"``: incremental ExactSubstr (Lee et al. 2021 —
    operators/substring.py). The store holds k-gram sha256 digests of
    every document seen; an arriving gram colliding with history is
    removable even as a first-in-this-batch occurrence (its true first
    occurrence lives in history), within-batch duplicates follow the
    normal keep-first rule, and the output table carries the stripped
    text (``substring_dedup`` row shape). Store cost is the honest
    caveat: O(distinct grams) ≈ 32 bytes per corpus token position —
    at substring granularity incremental dedup pays for history at
    token resolution, which is why paragraph/minhash modes are the
    default scale paths and this mode suits bounded high-value corpora
    (eval sets, dedup-critical slices). ``substring_k`` sets the gram
    width (default 8; the paper uses 50 tokens).

    ``mode="minhash"``: incremental NEAR-dup dedup. The store holds
    banded MinHash bucket keys (``band:sig`` strings from
    minhash_band_signatures) of the documents RETAINED so far; an
    arriving doc is dropped if ANY of its bands collides with history
    (probabilistic, no exact verify against history — the historical
    text is not stored, only 16 fixed-width keys per doc; with the
    default K=32/b=16/r=2 S-curve a false drop needs a 2-hash
    collision, P ≈ 1e-5 per band for unrelated docs). Within the
    batch, candidate pairs ARE exact-verified (minhash_lsh_pairs) and
    each near-dup component keeps its smallest id. Only SURVIVORS'
    band keys append to the store — a dropped doc's buckets are
    covered by the retained near-duplicate it collided with.

    ``mode="semdedup"``: incremental EMBEDDING-level near-dup (the
    SemDeDup machinery over a persisted vector store — see
    _process_semdedup_batch for the store layout, probe pruning, keep
    rule, and the greedy-online chain caveat). Batch rows need
    ``vec_col`` (array of floats); ``semdedup_tau`` /
    ``semdedup_n_clusters`` / ``semdedup_chunk_rows`` mirror the batch
    operator's knobs, and the coarse quantizer is frozen at store
    creation.

    ``n_buckets`` sets the store's hash-bucket directory width at
    CREATION; an existing store's pinned width (``fingerprints.meta``)
    always wins, so mismatched callers cannot mis-prune. Batches whose
    digest set exceeds ``broadcast_probe_max_keys`` probe with a
    shuffle semi-join instead of a broadcast (same result).

    ``bloom=True`` (round 10) maintains a Bloom-filter sidecar over
    every digest ever appended (the Dolma-deduper pattern as a
    PRE-probe) and filters the batch's digest set through it before the
    exact store probe: for a mostly-new batch only the small
    cannot-rule-out subset reaches the store scan, whose bucket pruning
    then tightens to that subset's buckets — and an all-new batch skips
    the store read entirely. False positives cost extra exact-probe
    work only; the output is bit-identical with ``bloom=False``
    (parity-pinned in tests). ``bloom_expected_items``/``bloom_fpp``
    size the filter at store CREATION (pinned in the meta like
    ``n_buckets``; ~1.2 MB per million expected digests at 1%) — a
    store grown past its expected size degrades to more false
    positives, never to wrong output. SIZING IS THE ECONOMICS: the
    sidecar is rewritten (bit_or merge + swap) each batch, so it pays
    off once the growing store outgrows the bloom's FIXED
    ``m/64``-word footprint — roughly ``expected_items/3`` digests at
    the default fpp. Size ``expected_items`` to the corpus you expect,
    not far above it: an oversized bloom is sparse (one word per set
    bit), costs as much to rewrite as the store costs to scan, and
    buys nothing until the store catches up
    (scripts/stream_dedup_scaling.py measures both regimes). Stores
    created with ``bloom=False`` or predating the sidecar probe
    exactly as before; ``semdedup`` mode has a vector store, not a
    digest store, and ignores the knob."""
    if mode not in ("paragraph", "document", "minhash", "substring", "semdedup"):
        raise ValueError(
            "mode must be 'paragraph', 'document', 'minhash', "
            f"'substring' or 'semdedup', got {mode!r}"
        )

    # caching.scope: operators called inside the batch (minhash mode's
    # minhash_lsh_pairs scoped-persists two candidate frames per call)
    # register their intermediates with the microbatch scope, released
    # at batch end — a pure streaming session never enters a gate
    # builder, so without the scope those frames would accrete in the
    # CacheManager for the session lifetime (ADVICE r15).
    # extra_persists below covers only this module's own persists,
    # never the operators'.
    @caching_scope()
    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if mode == "semdedup":
            _process_semdedup_batch(
                batch, batch_id, out_dir, store_dir, id_col, vec_col,
                semdedup_tau, semdedup_n_clusters, semdedup_chunk_rows,
            )
            return
        bm, bk = (
            _bloom_params(bloom_expected_items, bloom_fpp) if bloom else (0, 0)
        )
        meta = _ensure_store_meta(spark, store_dir, n_buckets, bm, bk)
        store_buckets = int(meta["n_buckets"])
        bm = int(meta.get("bloom_m", 0))
        bk = int(meta.get("bloom_k", 0))
        seen_full = read_fingerprints(spark, store_dir, exclude_batch_id=batch_id)
        batch = batch.persist()  # scanned by the probe keys, the
        # output and the store append
        extra_persists: list[DataFrame] = []
        # --- the batch's full digest set (probe side) ---
        if mode == "paragraph":
            probe_keys = paragraph_keys(
                batch, id_col, text_col, sep=sep, normalize=normalize
            )
        elif mode == "substring":
            from parsedmarc_go_spark.operators.substring import gram_keys

            probe_keys = gram_keys(
                batch, id_col, text_col, k=substring_k
            ).select(F.col("gh").alias("ph"))
        elif mode == "minhash":
            # the shingle pipeline reads the column literally named
            # "text" (operators/dedup.py:_shingle_stream)
            mb = (
                batch
                if text_col == "text"
                else batch.withColumnRenamed(text_col, "text")
            )
            sigs = minhash_band_signatures(mb, id_col).select(
                F.col("doc").alias(id_col),
                F.concat_ws(":", "band", "sig").alias("ph"),
            ).persist()
            extra_persists.append(sigs)
            probe_keys = sigs.select("ph").distinct()
        else:
            fps = batch.withColumn("__ph", F.sha2(normalized_text(text_col), 256))
            probe_keys = fps.select(F.col("__ph").alias("ph")).distinct()
        probe_keys = probe_keys.persist()
        extra_persists.append(probe_keys)
        # Bloom pre-probe: shrink the exact probe's key set to the
        # digests history cannot rule out. Candidates ⊆ probe_keys,
        # so the exact probe below — which alone decides membership
        # — sees a subset and returns the identical seen_small.
        candidates = probe_keys
        bloom_words = read_bloom_words(spark, store_dir) if bm else None
        if bloom_words is not None:
            candidates = bloom_prefilter(
                probe_keys, bloom_words, bm, bk,
                broadcast=bm <= BLOOM_BROADCAST_MAX_BITS,
            ).persist()
            extra_persists.append(candidates)
        # bounded action: the digest count decides broadcast vs
        # shuffle probe; candidates is persisted and probe_keys is
        # reused for the store append, so this costs one O(batch)
        # pass
        n_keys = candidates.count()
        # seen_small = store ∩ batch digests, batch-bounded; the
        # localCheckpoint materializes it BEFORE the store write so
        # the write never overwrites a path its own plan is reading
        seen_small = probe_store(
            seen_full,
            candidates,
            store_buckets,
            broadcast_probe=n_keys <= broadcast_probe_max_keys,
        ).transform(tracked_local_checkpoint)
        # --- mode-specific dedup against the batch-bounded slice ---
        if mode == "paragraph":
            out = paragraph_dedup(
                batch, id_col, text_col, sep=sep,
                normalize=normalize, seen_keys=seen_small,
            )
            append_keys = probe_keys
        elif mode == "substring":
            from parsedmarc_go_spark.operators.substring import substring_dedup

            out = substring_dedup(
                batch,
                id_col,
                text_col,
                k=substring_k,
                seen_keys=seen_small.select(F.col("ph").alias("gh")),
            )
            append_keys = probe_keys
        elif mode == "minhash":
            from parsedmarc_go_spark.operators.dedup import minhash_lsh_pairs

            near_seen = sigs.join(seen_small, "ph").select(id_col).distinct()
            remaining = mb.join(near_seen, id_col, "left_anti").persist()
            extra_persists.append(remaining)
            # within-batch: exact-verified pairs -> components ->
            # keep the smallest id of each near-dup group
            pairs = minhash_lsh_pairs(remaining, id_col, max_bucket=minhash_max_bucket)
            dropped = (
                neardup_clusters(
                    pairs.select(
                        F.col("doc_a").alias("doc_a"),
                        F.col("doc_b").alias("doc_b"),
                    )
                )
                .filter(F.col("doc") != F.col("cluster_id"))
                .select(F.col("doc").alias(id_col))
            )
            out = remaining.join(dropped, id_col, "left_anti")
            if text_col != "text":
                out = out.withColumnRenamed("text", text_col)
            append_keys = (
                sigs.join(out.select(id_col), id_col)
                .select("ph")
                .distinct()
            )
        else:
            w = Window.partitionBy("__ph").orderBy(F.col(id_col))
            out = (
                fps.join(
                    seen_small.select(F.col("ph").alias("__ph"))
                    .withColumn("__seen", F.lit(True)),
                    "__ph",
                    "left",
                )
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__seen").isNull() & (F.col("__rn") == 1))
                .drop("__ph", "__seen", "__rn")
            )
            append_keys = probe_keys
        # only digests the store has never seen are appended;
        # seen_small is already checkpointed, so this plan never
        # reads the store path it is about to overwrite
        new_keys = append_keys.join(seen_small, "ph", "left_anti").persist()
        extra_persists.append(new_keys)
        _write_table(out, out_dir, "docs_deduped", batch_id)
        if bm:
            # bloom BEFORE store: a crash between the two leaves
            # false positives only (see update_bloom)
            update_bloom(spark, new_keys, store_dir, bm, bk)
        _write_store(new_keys, store_dir, batch_id, store_buckets)
        for df in extra_persists:
            df.unpersist()
        batch.unpersist()

    return process_batch


def stream_dedup(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema,
    mode: str = "paragraph",
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    normalize: bool = False,
    substring_k: int = 8,
    n_buckets: int = DEFAULT_STORE_BUCKETS,
    vec_col: str = "embedding",
    semdedup_tau: float = 0.95,
    semdedup_n_clusters: int = 8,
    semdedup_chunk_rows: int | None = 1024,
    bloom: bool = True,
    bloom_expected_items: int = DEFAULT_BLOOM_EXPECTED_ITEMS,
    bloom_fpp: float = DEFAULT_BLOOM_FPP,
    minhash_max_bucket: int | None = None,
    max_files_per_trigger: int = 1000,
    available_now: bool = True,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """readStream(parquet document shards) → dedup-against-store →
    foreachBatch writing ``docs_deduped`` and appending the store.
    Same source/trigger knobs as the curation stage."""
    return _start_stream(
        spark,
        landing_dir,
        checkpoint_dir,
        make_dedup_processor(
            out_dir, store_dir, mode, id_col, text_col, sep, normalize,
            substring_k, n_buckets,
            vec_col=vec_col, semdedup_tau=semdedup_tau,
            semdedup_n_clusters=semdedup_n_clusters,
            semdedup_chunk_rows=semdedup_chunk_rows,
            bloom=bloom, bloom_expected_items=bloom_expected_items,
            bloom_fpp=bloom_fpp, minhash_max_bucket=minhash_max_bucket,
        ),
        schema,
        max_files_per_trigger,
        available_now,
        trigger_seconds,
    )


def _batch_partition_dir(store_dir: str, batch_id: int) -> str:
    return os.path.join(store_dir, STORE_TABLE, f"__batch_id={batch_id}")


def _write_run_partition(
    spark: SparkSession,
    store_dir: str,
    source: DataFrame,
    run_id: int,
    target_file_mb: float,
    total_bytes: int,
) -> int:
    """Write ``source`` as the single negative-id run partition
    ``__batch_id=<run_id>`` (tmp write + directory rename — atomic on
    any Hadoop FS), preserving the ``__bucket`` sub-partitioning so
    probe pruning keeps working. Returns the run's bytes written."""
    path = os.path.join(store_dir, STORE_TABLE)
    tmp = path.rstrip("/") + f".run{run_id}.tmp"
    n_tasks = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    out = _with_batch_id(source, run_id)
    part_cols = ["__batch_id"] + (
        ["__bucket"] if "__bucket" in source.columns else []
    )
    (
        out.repartitionByRange(
            n_tasks, *[F.col(c) for c in part_cols], F.col("ph")
        )
        .write.mode("overwrite")
        .partitionBy(*part_cols)
        .parquet(tmp)
    )
    fs, dst = hadoop_fs(spark, _batch_partition_dir(store_dir, run_id))
    jvm = spark._jvm
    src = jvm.org.apache.hadoop.fs.Path(
        os.path.join(tmp, f"__batch_id={run_id}")
    )
    if fs.exists(dst):
        fs.delete(dst, True)  # uncommitted leftover from a crash
    if not fs.rename(src, dst):
        raise IOError(f"rename {src} -> {dst} failed")
    fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
    bytes_written = _parquet_file_stats(
        spark, _batch_partition_dir(store_dir, run_id)
    )[1]
    return bytes_written


def _delete_partition(spark: SparkSession, store_dir: str, batch_id: int) -> None:
    fs, hpath = hadoop_fs(spark, _batch_partition_dir(store_dir, batch_id))
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _list_partition_ids(spark: SparkSession, store_dir: str) -> list[int]:
    """Batch-id partition directories present on disk (committed or
    not), via the filesystem — never a data scan."""
    path = os.path.join(store_dir, STORE_TABLE)
    fs, hpath = hadoop_fs(spark, path)
    ids = []
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if name.startswith("__batch_id="):
            ids.append(int(name.split("=", 1)[1]))
    return sorted(ids)


def compact_fingerprint_store(
    spark: SparkSession,
    store_dir: str,
    keep_last: int = 2,
    target_file_mb: float = 128,
    level_ratio: float = 3.0,
    max_runs: int = 4,
    stats: dict | None = None,
    final: bool = False,
) -> tuple[int, int]:
    """Generational (LSM-discipline) fold of the fingerprint store
    (round-16, VERDICT r15 task 5): old batch partitions fold into a
    NEW negative-id run, and runs merge only when a size ratio
    triggers, so total rewrite work over a stream's life is O(N log N)
    instead of the O(store)-per-fold of rewriting the whole store:

    - **fold**: batches older than the newest ``keep_last`` are
      rewritten as one new run partition ``__batch_id=-K``.
    - **merge**: afterwards, while the largest run is ≤ ``level_ratio``
      × the other runs' combined size (the accumulated small runs are
      worth folding into the base), or more than ``max_runs`` runs
      exist (probe-side directory count discipline), runs merge into
      one.

    Safe because Structured Streaming replays at most the most recent
    uncommitted batch: a batch old enough to fold can never replay, so
    its partition identity is no longer needed — only its digests'
    MEMBERSHIP, which every step preserves exactly. Each run is
    range-repartitioned on ``(partition cols, ph)`` into
    ``~bytes/target_file_mb`` tasks, so an unbounded run is written by
    many size-proportional writers while each bucket directory's files
    stay chunky and ph-ordered.

    Crash-safety is a single atomic commit point per step: the run
    partition is written tmp-then-renamed, THEN the meta sidecar
    (``folded_watermark`` + committed ``runs``) swaps in, THEN stale
    partitions are deleted. Readers (read_fingerprints) ignore batch
    partitions ≤ watermark and negative partitions not in ``runs``, so
    a crash in any window leaves membership exactly the committed set;
    the next compaction garbage-collects leftovers. Replay idempotence
    is untouched: only batches older than ``keep_last`` fold, and a
    replayed batch id > watermark by construction.

    Older layouts compact too: a store without a meta sidecar
    (pre-bucketed) is first pinned bucketless, as the dedup processor
    pins it (``_ensure_store_meta``), and a store whose meta has no
    ``runs`` record (its ``-1`` base written by the earlier
    whole-store fold) has every negative partition on disk taken as a
    committed run.

    ``stats`` (optional) receives ``{"bytes_rewritten", "runs",
    "folded_watermark", "steps"}`` — the rewrite-cost accounting the
    SCALE.md curve is built from. Returns (files_before, files_after).

    ``keep_last`` must stay ≥ 1 while the stream is LIVE (ADVICE r16):
    folding the newest batch moves its digests into a negative-id run
    that ``read_fingerprints(exclude_batch_id=batch_id)`` cannot
    exclude, so a Structured-Streaming replay of that batch would
    dedup against its own digests and overwrite its output partition
    with an empty frame. ``final=True`` is the explicit opt-in for
    ``keep_last=0`` ONCE THE STREAM'S LAST BATCH HAS COMMITTED (end-of-
    stream base merge), where no replay can occur."""
    if keep_last < 1 and not final:
        raise ValueError(
            "keep_last must be >= 1 on a live stream: folding the newest "
            "batch breaks replay idempotence (its digests become "
            "unexcludable). Pass final=True only after the stream's last "
            "batch has committed."
        )
    if not _store_exists(spark, store_dir):
        # no batch has appended a digest yet (_write_store skips empty
        # frames), whether or not creation pinned the meta — nothing
        # to fold
        if stats is not None:
            stats.update(
                {"bytes_rewritten": 0, "runs": [], "folded_watermark": None,
                 "steps": 0}
            )
        return 0, 0
    meta = _ensure_store_meta(spark, store_dir, 0)
    path = os.path.join(store_dir, STORE_TABLE)
    files_before, _ = _parquet_file_stats(spark, path)
    w = (
        int(meta["folded_watermark"])
        if meta.get("folded_watermark") is not None
        else None
    )
    committed_runs = (
        [int(r) for r in meta["runs"]] if meta.get("runs") is not None else None
    )
    on_disk = _list_partition_ids(spark, store_dir)
    if committed_runs is None:
        # no runs record yet (never compacted, or only by the earlier
        # whole-store fold): negatives on disk are committed, e.g. -1
        committed_runs = [i for i in on_disk if i < 0]
    # --- GC: uncommitted run orphans + folded-but-undeleted batches ---
    for i in on_disk:
        if i < 0 and i not in committed_runs:
            _delete_partition(spark, store_dir, i)
        elif i >= 0 and w is not None and i <= w:
            _delete_partition(spark, store_dir, i)
    bytes_rewritten = 0
    steps = 0

    def _commit(new_w, new_runs):
        _write_store_meta(
            spark,
            store_dir,
            int(meta["n_buckets"]),
            int(meta.get("bloom_m", 0)),
            int(meta.get("bloom_k", 0)),
            folded_watermark=new_w,
            runs=sorted(new_runs),
        )

    # --- fold: old batches -> one new run ---
    live_batches = [
        i for i in _list_partition_ids(spark, store_dir)
        if i >= 0 and (w is None or i > w)
    ]
    fold = live_batches[:-keep_last] if keep_last > 0 else live_batches
    if fold:
        fold_bytes = sum(
            _parquet_file_stats(spark, _batch_partition_dir(store_dir, i))[1]
            for i in fold
        )
        run_id = min([0] + committed_runs) - 1
        src = spark.read.parquet(path).filter(F.col("__batch_id").isin(fold))
        bytes_rewritten += _write_run_partition(
            spark, store_dir, src, run_id, target_file_mb, fold_bytes
        )
        w = max(fold)
        committed_runs = committed_runs + [run_id]
        _commit(w, committed_runs)
        steps += 1
        for i in fold:
            _delete_partition(spark, store_dir, i)
    # --- merge: size-tiered run folding ---
    while len(committed_runs) > 1:
        sizes = {
            r: _parquet_file_stats(spark, _batch_partition_dir(store_dir, r))[1]
            for r in committed_runs
        }
        ordered = sorted(committed_runs, key=lambda r: -sizes[r])
        rest_bytes = sum(sizes[r] for r in ordered[1:])
        if sizes[ordered[0]] <= level_ratio * rest_bytes:
            merge = list(ordered)  # the base is worth rewriting
        elif len(committed_runs) > max_runs:
            merge = ordered[1:]  # compact the small tail, spare the base
        else:
            break
        run_id = min([0] + committed_runs) - 1
        src = spark.read.parquet(path).filter(F.col("__batch_id").isin(merge))
        bytes_rewritten += _write_run_partition(
            spark, store_dir, src, run_id,
            target_file_mb, sum(sizes[r] for r in merge),
        )
        committed_runs = [r for r in committed_runs if r not in merge] + [run_id]
        _commit(w, committed_runs)
        steps += 1
        for r in merge:
            _delete_partition(spark, store_dir, r)
    files_after, _ = _parquet_file_stats(spark, path)
    if stats is not None:
        stats["bytes_rewritten"] = bytes_rewritten
        stats["runs"] = sorted(committed_runs)
        stats["folded_watermark"] = w
        stats["steps"] = steps
    return files_before, files_after
