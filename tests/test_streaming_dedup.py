"""Incremental dedup against the persisted fingerprint store
(streaming/dedup.py): stream-over-shards must equal batch-dedup-over-
the-union, a replayed batch_id must be a no-op for BOTH the output
table and the store, and store compaction must preserve digest
membership and replay idempotence."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

# streaming e2e (stream-vs-batch parity, compaction) — heavy micro-batch drives: excluded from the default (driver-visible) lane — run with -m ""
pytestmark = pytest.mark.slow

SF_DIR = "/root/testdata/sf0.001"


def _corpus(spark):
    """Documents with paragraph structure and guaranteed CROSS-SHARD
    duplicates: a shared header per doc_id % 7 class (classes span both
    shards) plus a mostly-unique slice of the doc's own text."""
    from parsedmarc_go_spark.tables import load

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    itext = F.concat_ws(
        "\n\n",
        F.concat(F.lit("shared-header-"), (d % 7).cast("string")),
        F.substring("text", 1, 100),
        F.concat(F.lit("shared-footer-"), (d % 4).cast("string")),
    )
    return docs.select("doc_id", itext.alias("text"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_paragraph_dedup_two_trigger_parity(spark, tmp_path):
    from parsedmarc_go_spark.operators.dedup import paragraph_dedup
    from parsedmarc_go_spark.streaming.daemon import read_stream_table
    from parsedmarc_go_spark.streaming.dedup import stream_dedup

    docs = _corpus(spark)
    landing = tmp_path / "landing"
    out = str(tmp_path / "deduped")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    # trigger 1: first shard (low doc_ids) lands
    docs.filter(F.col("doc_id") < 250).write.parquet(str(landing / "shard1"))
    q = stream_dedup(spark, str(landing), out, store, ckpt, docs.schema)
    q.awaitTermination(120)

    # trigger 2: second shard lands, same checkpoint + store resume
    docs.filter(F.col("doc_id") >= 250).write.parquet(str(landing / "shard2"))
    q = stream_dedup(spark, str(landing), out, store, ckpt, docs.schema)
    q.awaitTermination(120)

    got = read_stream_table(spark, out, "docs_deduped")
    want = paragraph_dedup(docs, "doc_id", "text")
    assert _rows(got) == _rows(want)

    # the store now holds exactly the union's distinct paragraph digests
    from parsedmarc_go_spark.operators.dedup import paragraph_keys
    from parsedmarc_go_spark.streaming.dedup import read_fingerprints

    store_phs = {r["ph"] for r in read_fingerprints(spark, store).collect()}
    want_phs = {r["ph"] for r in paragraph_keys(docs).collect()}
    assert store_phs == want_phs


def test_dedup_processor_replay_idempotent(spark, tmp_path):
    """Crash-and-replay of a batch_id rewrites identical files: the
    dedup read excludes the batch's own store partition, so the replay
    sees the store exactly as the first run did."""
    from parsedmarc_go_spark.streaming.daemon import read_stream_table
    from parsedmarc_go_spark.streaming.dedup import (
        make_dedup_processor,
        read_fingerprints,
    )

    docs = _corpus(spark)
    out = str(tmp_path / "deduped")
    store = str(tmp_path / "store")
    proc = make_dedup_processor(out, store)

    shard1 = docs.filter(F.col("doc_id") < 150)
    shard2 = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300))
    proc(shard1, 0)
    proc(shard2, 1)
    before_out = _rows(read_stream_table(spark, out, "docs_deduped"))
    before_store = _rows(read_fingerprints(spark, store))

    proc(shard2, 1)  # replay the latest batch
    assert _rows(read_stream_table(spark, out, "docs_deduped")) == before_out
    assert _rows(read_fingerprints(spark, store)) == before_store


def test_stream_document_mode_matches_exact_dedup(spark, tmp_path):
    """mode='document': streaming survivors across two batches are
    exactly the keep_ids of batch exact dedup over the union."""
    from parsedmarc_go_spark.operators.dedup import exact_dedup_groups
    from parsedmarc_go_spark.streaming.daemon import read_stream_table
    from parsedmarc_go_spark.streaming.dedup import make_dedup_processor
    from parsedmarc_go_spark.tables import load

    base = load(spark, SF_DIR, "documents").select("doc_id", "text")
    # plant whole-document duplicates across the shard split: docs
    # 400-449 are byte-identical copies of docs 0-49's text
    low = base.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 400).alias("doc_id"), "text"
    )
    docs = base.filter(
        (F.col("doc_id") < 400) | (F.col("doc_id") >= 450)
    ).unionByName(low)

    out = str(tmp_path / "deduped")
    store = str(tmp_path / "store")
    proc = make_dedup_processor(out, store, mode="document")
    proc(docs.filter(F.col("doc_id") < 250), 0)
    proc(docs.filter(F.col("doc_id") >= 250), 1)

    got_ids = sorted(
        r["doc_id"]
        for r in read_stream_table(spark, out, "docs_deduped").collect()
    )
    want_ids = sorted(
        r["keep_id"]
        for r in exact_dedup_groups(docs, "doc_id", "text", keep_text=False).collect()
    )
    assert got_ids == want_ids
    # every planted copy lost to its original
    assert all(i not in got_ids for i in range(400, 450))


def test_fingerprint_store_compaction(spark, tmp_path):
    """Folding old batch partitions into one run (the first, ``-1``)
    preserves digest membership, shrinks file count, and keeps the
    LATEST batch's replay idempotent (only old, never-replayable
    batches are folded)."""
    from parsedmarc_go_spark.streaming.daemon import read_stream_table
    from parsedmarc_go_spark.streaming.dedup import (
        compact_fingerprint_store,
        make_dedup_processor,
        read_fingerprints,
    )

    docs = _corpus(spark)
    out = str(tmp_path / "deduped")
    store = str(tmp_path / "store")
    proc = make_dedup_processor(out, store)
    for b in range(4):
        proc(docs.filter((F.col("doc_id") % 4) == b), b)

    before = {r["ph"] for r in read_fingerprints(spark, store).collect()}
    files_before, files_after = compact_fingerprint_store(
        spark, store, keep_last=1
    )
    assert files_after < files_before
    after_df = read_fingerprints(spark, store)
    assert {r["ph"] for r in after_df.collect()} == before
    # batches 0-2 folded into the base; batch 3 partition intact
    ids = {r[0] for r in after_df.select("__batch_id").distinct().collect()}
    assert ids == {-1, 3}

    # replay of the newest batch is still a no-op after compaction
    out_before = _rows(read_stream_table(spark, out, "docs_deduped"))
    store_phs_before = {r["ph"] for r in read_fingerprints(spark, store).collect()}
    proc(docs.filter((F.col("doc_id") % 4) == 3), 3)
    assert _rows(read_stream_table(spark, out, "docs_deduped")) == out_before
    assert {
        r["ph"] for r in read_fingerprints(spark, store).collect()
    } == store_phs_before


def test_fingerprint_store_compaction_leveled(spark, tmp_path):
    """Round-16 (VERDICT r15 task 5): the generational fold. Old
    batches fold into a NEW run and the base is rewritten only when the
    size ratio triggers — here the ratio is set low so the base run
    must NOT be rewritten on the second compaction (its files' mtimes
    prove it), while membership, replay idempotence, and crash
    leftovers (an uncommitted orphan run) are all handled."""
    import glob
    import os as _os

    from parsedmarc_go_spark.streaming.daemon import read_stream_table
    from parsedmarc_go_spark.streaming.dedup import (
        compact_fingerprint_store,
        make_dedup_processor,
        read_fingerprints,
    )

    docs = _corpus(spark)
    out = str(tmp_path / "deduped")
    store = str(tmp_path / "store")
    proc = make_dedup_processor(out, store)
    for b in range(5):
        proc(docs.filter((F.col("doc_id") % 8) == b), b)

    before = {r["ph"] for r in read_fingerprints(spark, store).collect()}
    st1: dict = {}
    fb, fa = compact_fingerprint_store(
        spark, store, keep_last=1, level_ratio=0.5, stats=st1
    )
    assert fa < fb
    assert {r["ph"] for r in read_fingerprints(spark, store).collect()} == before
    # batches 0-3 folded into one run; batch 4 intact
    ids = set(_rows(read_fingerprints(spark, store).select("__batch_id").distinct()))
    assert ids == {(-1,), (4,)}
    assert st1["runs"] == [-1] and st1["folded_watermark"] == 3

    base_glob = _os.path.join(store, "fingerprints", "__batch_id=-1", "**", "*.parquet")
    base_mtimes = {f: _os.path.getmtime(f) for f in glob.glob(base_glob, recursive=True)}
    assert base_mtimes

    # three more batches + an uncommitted ORPHAN run (crash leftover)
    for b in range(5, 8):
        proc(docs.filter((F.col("doc_id") % 8) == b), b)
    # a realistic crash artifact: a fully-written (valid parquet) run
    # directory whose meta commit never happened — copy the committed
    # base run under an uncommitted id. read_fingerprints must IGNORE
    # it (meta.runs is authoritative), so membership is unchanged even
    # before the GC deletes it.
    import shutil

    orphan = _os.path.join(store, "fingerprints", "__batch_id=-99")
    shutil.copytree(_os.path.join(store, "fingerprints", "__batch_id=-1"), orphan)

    before2 = {r["ph"] for r in read_fingerprints(spark, store).collect()}
    st2: dict = {}
    compact_fingerprint_store(
        spark, store, keep_last=1, level_ratio=0.5, stats=st2
    )
    assert not _os.path.exists(orphan), "orphan run must be GC'd"
    assert {r["ph"] for r in read_fingerprints(spark, store).collect()} == before2
    # a second run was created; the base run's bytes were NOT rewritten
    assert st2["runs"] == [-2, -1] and st2["folded_watermark"] == 6
    assert {f: _os.path.getmtime(f) for f in glob.glob(base_glob, recursive=True)} == base_mtimes
    ids = set(_rows(read_fingerprints(spark, store).select("__batch_id").distinct()))
    assert ids == {(-1,), (-2,), (7,)}

    # replay of the newest batch is still a no-op across the levels
    out_before = _rows(read_stream_table(spark, out, "docs_deduped"))
    store_before = {r["ph"] for r in read_fingerprints(spark, store).collect()}
    proc(docs.filter((F.col("doc_id") % 8) == 7), 7)
    assert _rows(read_stream_table(spark, out, "docs_deduped")) == out_before
    assert {r["ph"] for r in read_fingerprints(spark, store).collect()} == store_before

    # and a high ratio triggers the base merge: everything folds to one
    st3: dict = {}
    compact_fingerprint_store(
        spark, store, keep_last=0, level_ratio=3.0, stats=st3, final=True
    )
    assert len(st3["runs"]) == 1
    assert {r["ph"] for r in read_fingerprints(spark, store).collect()} == store_before


def test_store_globally_distinct_invariant(spark, tmp_path):
    """The store never holds a digest twice: each batch appends only
    digests anti-joined against everything seen. Round 10 DROPPED the
    per-batch ``seen.distinct()`` recompute on the strength of this
    invariant — so it is pinned here, where a regression fails loudly,
    instead of being re-shuffled O(store) every micro-batch."""
    from parsedmarc_go_spark.streaming.dedup import (
        make_dedup_processor,
        read_fingerprints,
    )

    docs = _corpus(spark)  # shared headers repeat across every shard
    proc = make_dedup_processor(
        str(tmp_path / "deduped"), str(tmp_path / "store")
    )
    for b in range(3):
        proc(docs.filter((F.col("doc_id") % 3) == b), b)
    df = read_fingerprints(spark, str(tmp_path / "store"))
    assert df.count() == df.select("ph").distinct().count()


def test_probe_store_plan_prunes_and_never_shuffles_store(spark, tmp_path):
    """The per-batch membership probe must contain NO full-store
    Exchange: the store side is a bucket-PRUNED scan streamed through a
    BroadcastHashJoin LeftSemi with the batch digests broadcast
    (VERDICT r9 task 2). The batch side is localCheckpoint'd here so
    the asserted plan is exactly the store-side subtree."""
    from parsedmarc_go_spark.operators.dedup import paragraph_keys
    from parsedmarc_go_spark.streaming.dedup import (
        make_dedup_processor,
        probe_store,
        read_fingerprints,
        read_store_meta,
    )

    docs = _corpus(spark)
    out = str(tmp_path / "deduped")
    store = str(tmp_path / "store")
    proc = make_dedup_processor(out, store, n_buckets=8)
    proc(docs.filter(F.col("doc_id") < 150), 0)
    proc(docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)), 1)
    assert read_store_meta(spark, store) == 8

    seen = read_fingerprints(spark, store)
    keys = paragraph_keys(
        docs.filter(F.col("doc_id") >= 300)
    ).localCheckpoint()
    probe = probe_store(seen, keys, 8, broadcast_probe=True)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan  # store never shuffles
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any(
        "__bucket" in ln and ("IN (" in ln or "INSET" in ln or " IN " in ln)
        for ln in scan_lines
    ), scan_lines
    # and the pruned broadcast probe returns exactly the naive result
    want = {
        r.ph
        for r in seen.select("ph").join(keys, "ph", "left_semi").collect()
    }
    assert {r.ph for r in probe.collect()} == want


def test_compaction_base_partition_written_by_many_tasks(spark, tmp_path):
    """A folded run partition is unbounded, so it must be written by
    ~bytes/target_file_mb tasks — not ONE (the r9 single-task fold
    hashed on the constant -1). With a tiny target_file_mb the run's
    bucket directories must hold multiple files, and membership is
    untouched."""
    import glob

    from parsedmarc_go_spark.streaming.dedup import (
        compact_fingerprint_store,
        make_dedup_processor,
        read_fingerprints,
    )

    docs = _corpus(spark)
    out = str(tmp_path / "deduped")
    store = str(tmp_path / "store")
    proc = make_dedup_processor(out, store, n_buckets=2)
    for b in range(4):
        proc(docs.filter((F.col("doc_id") % 4) == b), b)

    before = {r["ph"] for r in read_fingerprints(spark, store).collect()}
    compact_fingerprint_store(spark, store, keep_last=1, target_file_mb=0.01)
    after_df = read_fingerprints(spark, store)
    assert {r["ph"] for r in after_df.collect()} == before
    ids = {r[0] for r in after_df.select("__batch_id").distinct().collect()}
    assert ids == {-1, 3}

    base_files = glob.glob(
        os.path.join(store, "fingerprints", "__batch_id=-1", "**", "*.parquet"),
        recursive=True,
    )
    by_dir: dict[str, int] = {}
    for f in base_files:
        by_dir[os.path.dirname(f)] = by_dir.get(os.path.dirname(f), 0) + 1
    assert len(base_files) > 2
    # a single bucket directory split across multiple write tasks is
    # exactly what the one-task fold could never produce
    assert any(n > 1 for n in by_dir.values()), by_dir


def test_store_meta_bucket_width_pins_probe(spark, tmp_path):
    """A store is probed with the bucket width it was WRITTEN with
    (fingerprints.meta), never the caller's: a mismatched width would
    prune away directories holding matching digests and wave
    duplicates through."""
    from parsedmarc_go_spark.streaming.daemon import read_stream_table
    from parsedmarc_go_spark.streaming.dedup import (
        make_dedup_processor,
        read_store_meta,
    )
    from parsedmarc_go_spark.tables import load

    base = load(spark, SF_DIR, "documents").select("doc_id", "text")
    out = str(tmp_path / "deduped")
    store = str(tmp_path / "store")
    make_dedup_processor(out, store, mode="document", n_buckets=4)(
        base.filter(F.col("doc_id") < 50), 0
    )
    assert read_store_meta(spark, store) == 4
    # batch 1 arrives via a MIS-CONFIGURED processor (n_buckets=16):
    # docs 400-449 duplicate docs 0-49's text and must still all drop
    copies = base.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 400).alias("doc_id"), "text"
    )
    fresh = base.filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 150)
    )
    make_dedup_processor(out, store, mode="document", n_buckets=16)(
        copies.unionByName(fresh), 1
    )
    got_ids = sorted(
        r["doc_id"]
        for r in read_stream_table(spark, out, "docs_deduped").collect()
    )
    assert not [i for i in got_ids if i >= 400]
    assert [i for i in got_ids if 100 <= i < 150] == list(range(100, 150))
    assert read_store_meta(spark, store) == 4  # width never drifts


def test_stream_minhash_mode_drops_near_dups_across_batches(spark, tmp_path):
    """mode='minhash': an arriving doc whose band signatures collide
    with RETAINED history is dropped (near-dup vs a past batch, no
    text stored — only band:sig keys); within a batch, exact-verified
    near-dup groups keep their smallest id; distinct docs survive; and
    replay of the latest batch is a no-op."""
    from pyspark.sql import functions as F

    from parsedmarc_go_spark.streaming.daemon import read_stream_table
    from parsedmarc_go_spark.streaming.dedup import (
        make_dedup_processor,
        read_fingerprints,
    )

    # Synthetic corpus with DISJOINT token vocabularies per doc, so the
    # only near-dups are the planted ones (the natural sf0.001 docs
    # contain real near-dups, which would entangle the assertions):
    def toks(prefix, n=40):
        return " ".join(f"{prefix}t{j}" for j in range(n))

    b0_rows = [(i, toks(f"d{i}")) for i in range(100)]
    # near-copies of docs 0-9: last 4 of 40 tokens replaced (shingle
    # jaccard ~0.85 -> some of the 16 r=2 bands collide with history;
    # deterministic because all hashing is of fixed strings)
    near = [
        (1000 + d, toks(f"d{d}", 36) + " " + toks(f"mut{d}", 4))
        for d in range(10)
    ]
    fresh = [(1100 + i, toks(f"f{i}")) for i in range(50)]
    twins = [(2000, toks("twin")), (2001, toks("twin"))]
    b0 = spark.createDataFrame(b0_rows, ["doc_id", "text"])
    b1 = spark.createDataFrame(near + fresh + twins, ["doc_id", "text"])

    out = str(tmp_path / "deduped")
    store = str(tmp_path / "store")
    proc = make_dedup_processor(out, store, mode="minhash")
    proc(b0, 0)
    proc(b1, 1)

    got_ids = sorted(
        r["doc_id"]
        for r in read_stream_table(spark, out, "docs_deduped").collect()
    )
    # batch 0 survives in full (mutually disjoint vocabularies)
    assert [i for i in got_ids if i < 1000] == list(range(100))
    # near-copies of retained history: all dropped via band collision
    assert not [i for i in got_ids if 1000 <= i < 1010]
    # fresh distinct docs: all retained
    assert [i for i in got_ids if 1100 <= i < 1150] == list(range(1100, 1150))
    # within-batch twin pair: smallest id survives
    assert 2000 in got_ids and 2001 not in got_ids

    # replay of the latest batch: output and store unchanged
    before_out = sorted(
        tuple(r) for r in read_stream_table(spark, out, "docs_deduped").collect()
    )
    before_store = {r["ph"] for r in read_fingerprints(spark, store).collect()}
    proc(b1, 1)
    assert sorted(
        tuple(r) for r in read_stream_table(spark, out, "docs_deduped").collect()
    ) == before_out
    assert {
        r["ph"] for r in read_fingerprints(spark, store).collect()
    } == before_store


def test_stream_substring_mode_matches_batch_exactsubstr(spark, tmp_path):
    """mode='substring': two ascending shards streamed against the
    gram store must equal substring_dedup over the union (cross-shard
    duplicated runs removed from the later shard, winner kept), and a
    replayed batch_id must be a no-op for output AND store."""
    from parsedmarc_go_spark.operators.substring import substring_dedup
    from parsedmarc_go_spark.streaming.daemon import read_stream_table
    from parsedmarc_go_spark.streaming.dedup import (
        make_dedup_processor,
        read_fingerprints,
    )
    from parsedmarc_go_spark.tables import load

    base = load(spark, SF_DIR, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    # a 10-token shared run per doc_id % 5 class (classes span both
    # shards) embedded between slices of the doc's own text
    itext = F.concat(
        F.substring("text", 1, 80),
        F.lit(" shared run alpha bravo charlie delta echo foxtrot grp"),
        (d % 5).cast("string"),
        F.lit(" "),
        F.substring("text", 81, 80),
    )
    docs = base.select("doc_id", itext.alias("text"))

    out = str(tmp_path / "deduped")
    store = str(tmp_path / "store")
    proc = make_dedup_processor(out, store, mode="substring", substring_k=8)

    proc(docs.filter(d < 250), 0)
    proc(docs.filter(d >= 250), 1)

    got = read_stream_table(spark, out, "docs_deduped")
    want = substring_dedup(docs, "doc_id", "text", k=8)
    assert _rows(got) == _rows(want)
    # cross-shard dups actually happened: shard-2 docs lost tokens
    removed = {r.doc_id: r.n_tokens_removed for r in got.collect()}
    assert any(v > 0 for i, v in removed.items() if i >= 250)

    # crash-and-replay of batch 1: output and store unchanged
    before_store = _rows(read_fingerprints(spark, store))
    proc(docs.filter(d >= 250), 1)
    assert _rows(read_stream_table(spark, out, "docs_deduped")) == _rows(want)
    assert _rows(read_fingerprints(spark, store)) == before_store


def _blob_vectors(spark, dim=64):
    """Deterministic embedding corpus with BLOB-shaped dup groups (the
    SemDeDup paper's geometry: all members pairwise identical) and
    structurally-orthogonal uniques, so greedy-online streaming and
    batch-over-the-union provably agree: blob g = one-hot e_g with
    copies at g+1000 / g+2000; uniques are two-hot combos with pairwise
    cosine <= 0.5 and cosine 1/sqrt(2) to any blob — nothing accidental
    ever crosses tau=0.95."""

    def one_hot(i):
        v = [0.0] * dim
        v[i % dim] = 1.0
        return v

    def two_hot(i):
        v = [0.0] * dim
        v[i % dim] = 1.0
        v[(i * 5 + 7) % dim] = 1.0
        return v

    shard1 = [(g, one_hot(g)) for g in range(10)] + [
        (100 + i, two_hot(i)) for i in range(20)
    ]
    shard2 = (
        [(1000 + g, one_hot(g)) for g in range(10)]
        + [(2000 + g, one_hot(g)) for g in range(10)]
        + [(1100 + i, two_hot(20 + i)) for i in range(20)]
    )
    schema = "vec_id long, embedding array<double>"
    return (
        spark.createDataFrame(shard1, schema),
        spark.createDataFrame(shard2, schema),
    )


def test_stream_semdedup_two_trigger_parity_and_replay(spark, tmp_path):
    """mode='semdedup': streamed survivors over two ascending shards
    equal batch semdedup over the union for blob-shaped dup groups
    (identical copies tie on centroid_sim, so keep-least-sim ==
    keep-first-arrival == keep-smallest-id on both paths); replay of
    the newest batch is a no-op for output AND vector store; store
    growth is O(retained vectors)."""
    import os as _os

    from parsedmarc_go_spark.operators.clustering import semdedup
    from parsedmarc_go_spark.streaming.daemon import read_stream_table
    from parsedmarc_go_spark.streaming.dedup import make_dedup_processor

    b1, b2 = _blob_vectors(spark)
    out = str(tmp_path / "deduped")
    store = str(tmp_path / "store")
    proc = make_dedup_processor(
        out, store, mode="semdedup", id_col="vec_id",
        semdedup_tau=0.95, semdedup_n_clusters=4,
    )
    proc(b1, 0)
    proc(b2, 1)

    got_ids = sorted(
        r["vec_id"]
        for r in read_stream_table(spark, out, "docs_deduped").collect()
    )
    union = b1.unionByName(b2)
    want_ids = sorted(
        r["vec_id"]
        for r in semdedup(union, n_clusters=4, tau=0.95).filter("keep").collect()
    )
    assert got_ids == want_ids
    # every cross/within-batch copy lost to the first arrival
    assert not [i for i in got_ids if 1000 <= i < 1010 or 2000 <= i < 2010]
    assert [i for i in got_ids if i < 10] == list(range(10))
    # uniques all retained
    assert len([i for i in got_ids if i >= 100]) == 40

    # store growth = O(retained): exactly one vector per survivor
    vec_store = spark.read.parquet(_os.path.join(store, "vectors"))
    assert sorted(r["vec_id"] for r in vec_store.collect()) == got_ids
    # frozen quantizer: the centroid sidecar exists and has k rows
    cents = spark.read.parquet(_os.path.join(store, "vectors.centroids"))
    assert cents.count() == 4

    # replay of the newest batch: output and store unchanged
    before_out = _rows(read_stream_table(spark, out, "docs_deduped"))
    before_store = sorted(
        (r["vec_id"], r["cell"], r["__batch_id"]) for r in vec_store.collect()
    )
    proc(b2, 1)
    assert _rows(read_stream_table(spark, out, "docs_deduped")) == before_out
    assert (
        sorted(
            (r["vec_id"], r["cell"], r["__batch_id"])
            for r in spark.read.parquet(_os.path.join(store, "vectors")).collect()
        )
        == before_store
    )


def test_cosine_cross_pairs_matches_bruteforce_and_chunked(spark):
    """cosine_cross_pairs: only left×right pairs, never same-side;
    values match numpy brute force; the chunk-pair decomposition is
    output-identical."""
    import numpy as np

    from parsedmarc_go_spark.operators.similarity import cosine_cross_pairs

    rng = [(i, [float((i * 7 + j * 3) % 5) - 2.0 for j in range(6)]) for i in range(8)]
    lf = spark.createDataFrame(
        [(i, v, i % 2) for i, v in rng], "vec_id long, embedding array<double>, blk int"
    )
    rt = spark.createDataFrame(
        [(100 + i, v, i % 2) for i, v in rng],  # same vectors, new ids
        "vec_id long, embedding array<double>, blk int",
    )
    got = {
        (r.vec_a, r.vec_b): r.cosine_sim
        for r in cosine_cross_pairs(
            lf, rt, threshold=0.9, block_col="blk", vec_col="embedding"
        ).collect()
    }
    # brute force within blocks
    want = {}
    for i, vi in rng:
        for j, vj in rng:
            if i % 2 != j % 2:
                continue
            a, b = np.array(vi), np.array(vj)
            c = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
            c = np.sign(c) * np.floor(abs(c) * 1e4 + 0.5) / 1e4
            if c >= 0.9:
                want[(i, 100 + j)] = float(c)
    assert got == want
    assert all(a < 100 <= b for a, b in got)  # strictly cross-side
    chunked = {
        (r.vec_a, r.vec_b): r.cosine_sim
        for r in cosine_cross_pairs(
            lf, rt, threshold=0.9, block_col="blk", vec_col="embedding",
            chunk_rows=3,
        ).collect()
    }
    assert chunked == got
    # an empty side yields no pairs (and no kernel crash)
    assert (
        cosine_cross_pairs(
            lf.filter("vec_id < 0"), rt, threshold=0.0, block_col="blk"
        ).count()
        == 0
    )


def test_bloom_sidecar_parity_and_superset(spark, tmp_path):
    """bloom=True must change nothing but the work: identical output
    table and store membership vs bloom=False, and the sidecar must
    hold EVERY store digest (no false negatives — a bloom miss is the
    only way a duplicate could slip through)."""
    from parsedmarc_go_spark.streaming.daemon import read_stream_table
    from parsedmarc_go_spark.streaming.dedup import (
        _read_meta_dict,
        bloom_prefilter,
        make_dedup_processor,
        read_bloom_words,
        read_fingerprints,
    )

    docs = _corpus(spark)
    shards = [
        docs.filter(F.col("doc_id") < 150),
        docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)),
    ]
    outs = {}
    for flag in (True, False):
        out = str(tmp_path / f"deduped_{flag}")
        store = str(tmp_path / f"store_{flag}")
        proc = make_dedup_processor(out, store, bloom=flag)
        for b, shard in enumerate(shards):
            proc(shard, b)
        outs[flag] = (
            _rows(read_stream_table(spark, out, "docs_deduped")),
            sorted(r["ph"] for r in read_fingerprints(spark, store).collect()),
        )
    assert outs[True] == outs[False]

    store = str(tmp_path / "store_True")
    meta = _read_meta_dict(spark, store)
    bm, bk = int(meta["bloom_m"]), int(meta["bloom_k"])
    assert bm > 0 and bk > 0
    words = read_bloom_words(spark, store)
    assert words is not None
    all_phs = read_fingerprints(spark, store).select("ph").distinct()
    positive = bloom_prefilter(all_phs, words, bm, bk)
    assert positive.count() == all_phs.count()  # superset: zero misses

    # store created with bloom=False has no sidecar and pins that
    assert read_bloom_words(spark, str(tmp_path / "store_False")) is None
    meta_off = _read_meta_dict(spark, str(tmp_path / "store_False"))
    assert int(meta_off.get("bloom_m", 0)) == 0
    # a later caller asking for bloom on a pinned-off store is ignored
    proc = make_dedup_processor(
        str(tmp_path / "deduped_False"), str(tmp_path / "store_False"),
        bloom=True,
    )
    proc(docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 350)), 2)
    assert read_bloom_words(spark, str(tmp_path / "store_False")) is None


def test_bloom_prefilter_shrinks_all_new_batch(spark, tmp_path):
    """An all-new batch's candidate set after the pre-probe is
    fpp-bounded — the exact store probe then touches almost nothing
    (and nothing at all when the filter rules out every digest)."""
    from parsedmarc_go_spark.streaming.dedup import (
        _read_meta_dict,
        bloom_prefilter,
        make_dedup_processor,
        paragraph_keys,
        read_bloom_words,
    )

    out = str(tmp_path / "deduped")
    store = str(tmp_path / "store")
    proc = make_dedup_processor(out, store, bloom=True)
    d = F.col("id")
    mk = lambda lo, hi, tag: spark.range(lo, hi).select(  # noqa: E731
        d.alias("doc_id"),
        F.concat(
            F.lit(f"{tag}-a-"), d.cast("string"),
            F.lit(f"\n\n{tag}-b-"), d.cast("string"),
        ).alias("text"),
    )
    proc(mk(0, 500, "first"), 0)

    meta = _read_meta_dict(spark, store)
    bm, bk = int(meta["bloom_m"]), int(meta["bloom_k"])
    words = read_bloom_words(spark, store)
    fresh = paragraph_keys(mk(500, 1000, "second"), "doc_id", "text")
    n_fresh = fresh.count()
    survivors = bloom_prefilter(fresh, words, bm, bk).count()
    # 1000 digests at fpp=0.01 ⇒ expect ~10 false positives; 5% is a
    # generous statistical ceiling
    assert survivors <= n_fresh * 0.05
    # digests history HAS seen always survive the pre-probe
    rep = paragraph_keys(mk(100, 200, "first"), "doc_id", "text")
    assert bloom_prefilter(rep, words, bm, bk).count() == rep.count()


def test_bloom_extra_bits_are_false_positives_only(spark, tmp_path):
    """The crash contract: update_bloom runs BEFORE the store append,
    so a crash between them leaves bloom bits with no store digest.
    Those digests must still dedup as unseen — the exact probe, not the
    bloom, decides membership."""
    from parsedmarc_go_spark.streaming.daemon import read_stream_table
    from parsedmarc_go_spark.streaming.dedup import (
        _read_meta_dict,
        make_dedup_processor,
        read_fingerprints,
        update_bloom,
    )

    docs = _corpus(spark)
    out = str(tmp_path / "deduped")
    store = str(tmp_path / "store")
    proc = make_dedup_processor(out, store)
    proc(docs.filter(F.col("doc_id") < 150), 0)

    # simulate the crash: OR in the NEXT shard's digests with no store
    # append behind them
    from parsedmarc_go_spark.operators.dedup import paragraph_keys

    shard2 = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300))
    meta = _read_meta_dict(spark, store)
    update_bloom(
        spark, paragraph_keys(shard2), store,
        int(meta["bloom_m"]), int(meta["bloom_k"]),
    )
    proc(shard2, 1)  # every shard-2-only digest is a bloom false positive

    from parsedmarc_go_spark.operators.dedup import paragraph_dedup

    union = docs.filter(F.col("doc_id") < 300)
    got = read_stream_table(spark, out, "docs_deduped")
    assert _rows(got) == _rows(paragraph_dedup(union, "doc_id", "text"))
    store_phs = sorted(
        r["ph"] for r in read_fingerprints(spark, store).collect()
    )
    from parsedmarc_go_spark.operators.dedup import paragraph_keys as pk

    assert store_phs == sorted(r["ph"] for r in pk(union).collect())


def test_legacy_store_without_meta_is_upgraded_bucketless(spark, tmp_path):
    """A store that PREDATES the meta sidecar (flat __batch_id-only
    layout) must not be mistaken for store creation: the processor
    pins it bucketless/bloomless (n_buckets=0, bloom_m=0), appends in
    the SAME partition depth (no mixed-depth read failure), and its
    pre-upgrade digests keep deduplicating — the bloom-superset
    invariant is preserved by never enabling a bloom that lacks them
    (ADVICE r10)."""
    import os as _os

    from parsedmarc_go_spark.operators.dedup import (
        paragraph_dedup,
        paragraph_keys,
    )
    from parsedmarc_go_spark.streaming.daemon import read_stream_table
    from parsedmarc_go_spark.streaming.dedup import (
        _read_meta_dict,
        make_dedup_processor,
        read_fingerprints,
    )

    docs = _corpus(spark)
    shard1 = docs.filter(F.col("doc_id") < 150)
    shard2 = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300))
    out = str(tmp_path / "deduped")
    store = str(tmp_path / "store")

    # hand-build the legacy layout: fingerprints/partitioned by
    # __batch_id ONLY, no __bucket column, no meta sidecar
    (
        paragraph_keys(shard1)
        .withColumn("__batch_id", F.lit(0))
        .write.partitionBy("__batch_id")
        .parquet(_os.path.join(store, "fingerprints"))
    )
    assert _read_meta_dict(spark, store) is None

    proc = make_dedup_processor(out, store, bloom=True)
    proc(shard2, 1)

    meta = _read_meta_dict(spark, store)
    assert int(meta["n_buckets"]) == 0
    assert int(meta.get("bloom_m", 0)) == 0  # never a digest-missing bloom

    # mixed-depth regression: the store read must still succeed, hold
    # the union's digests, and have no __bucket partition anywhere
    stored = read_fingerprints(spark, store)
    assert "__bucket" not in stored.columns or (
        stored.filter(F.col("__bucket").isNotNull()).count() == 0
    )
    union = docs.filter(F.col("doc_id") < 300)
    assert sorted(r["ph"] for r in stored.collect()) == sorted(
        r["ph"] for r in paragraph_keys(union).collect()
    )

    # pre-upgrade digests deduplicate: stream output == batch-over-union
    got = read_stream_table(spark, out, "docs_deduped")
    want = paragraph_dedup(shard2, "doc_id", "text",
                           seen_keys=paragraph_keys(shard1))
    assert _rows(got) == _rows(want)

    # a THIRD batch probes the upgraded store through the pinned meta
    shard3 = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    proc(shard3, 2)
    got = read_stream_table(spark, out, "docs_deduped")
    want_union = paragraph_dedup(union.unionByName(shard3), "doc_id", "text")
    drop_ids = {r["doc_id"] for r in shard1.select("doc_id").collect()}
    want3 = [t for t in _rows(want_union) if t[0] not in drop_ids]
    assert _rows(got) == want3


def test_corrupt_meta_raises_descriptive_error(spark, tmp_path):
    """An existing-but-empty meta sidecar (crash leftover of the old
    plain-overwrite writer, or outside interference) must die with a
    clear 'unrecoverable' IOError, not IndexError/schema-inference
    noise (ADVICE r10)."""
    import os as _os

    import pytest

    from parsedmarc_go_spark.streaming.dedup import _read_meta_dict

    store = str(tmp_path / "store")
    _os.makedirs(_os.path.join(store, "fingerprints.meta"))
    with pytest.raises(IOError, match="unrecoverable"):
        _read_meta_dict(spark, store)


def test_store_meta_written_crash_safe(spark, tmp_path):
    """_write_store_meta goes through a tmp dir + atomic rename: after
    a write the tmp dir is gone and the meta is complete; re-pinning
    over an existing meta swaps, never leaving a partial directory."""
    import os as _os

    from parsedmarc_go_spark.streaming.dedup import (
        _meta_path,
        _read_meta_dict,
        _write_store_meta,
    )

    store = str(tmp_path / "store")
    _write_store_meta(spark, store, 16, 128, 3)
    assert not _os.path.exists(_meta_path(store).rstrip("/") + ".tmp")
    meta = _read_meta_dict(spark, store)
    assert (int(meta["n_buckets"]), int(meta["bloom_m"])) == (16, 128)
    _write_store_meta(spark, store, 16, 256, 4)  # overwrite path = swap
    meta = _read_meta_dict(spark, store)
    assert int(meta["bloom_m"]) == 256
    assert not _os.path.exists(_meta_path(store).rstrip("/") + ".old")


def test_stream_semdedup_chain_divergence_bound(spark, tmp_path):
    """VERDICT r10 task 8: the documented greedy-online vs batch
    divergence, MEASURED on planted chain geometry. A chain A~B~C~D~E
    (adjacent cosine >= tau, non-adjacent < tau) arriving one member
    per batch retains the greedy maximal independent set of the chain
    — ceil(L/2) members: each arrival drops iff it matches a RETAINED
    neighbor, and history never revisits — while batch semdedup over
    the union collapses the whole component to one survivor. That is
    the worst-case bound stated in streaming/dedup.py and SCALE.md:
    stream-retained <= MIS(component) with equality on a bare chain,
    vs exactly 1 for batch; blob geometry (all pairwise >= tau) has
    MIS = 1 and the paths agree (the parity test above)."""
    import math as _math

    from parsedmarc_go_spark.operators.clustering import semdedup
    from parsedmarc_go_spark.streaming.daemon import read_stream_table
    from parsedmarc_go_spark.streaming.dedup import make_dedup_processor

    dim = 8
    tau = 0.95  # cos(17deg)=0.956 links adjacent; cos(34deg)=0.829 does not

    def on_angle(deg):
        r = _math.radians(deg)
        return [_math.cos(r), _math.sin(r)] + [0.0] * (dim - 2)

    L = 5
    chain = [(i, on_angle(17 * i)) for i in range(L)]
    schema = "vec_id long, embedding array<double>"
    out = str(tmp_path / "deduped")
    store = str(tmp_path / "store")
    proc = make_dedup_processor(
        out, store, mode="semdedup", id_col="vec_id",
        semdedup_tau=tau, semdedup_n_clusters=1,
    )
    batches = [spark.createDataFrame([m], schema) for m in chain]
    for b_id, b in enumerate(batches):
        proc(b, b_id)

    got = sorted(
        r["vec_id"] for r in read_stream_table(spark, out, "docs_deduped").collect()
    )
    # greedy-online = MIS of the chain: every other member survives
    assert got == [0, 2, 4]

    union = batches[0]
    for b in batches[1:]:
        union = union.unionByName(b)
    batch_kept = sorted(
        r["vec_id"]
        for r in semdedup(union, n_clusters=1, tau=tau).filter("keep").collect()
    )
    # batch semdedup collapses the whole chained component to ONE
    assert len(batch_kept) == 1
    # the measured divergence: ceil(L/2) - 1 extra retained members
    assert len(got) - len(batch_kept) == _math.ceil(L / 2) - 1


def test_leveled_compaction_noop_on_metadata_only_store(spark, tmp_path):
    """A store whose creation pinned meta but whose batches appended
    zero digests (empty-frame appends are skipped) has no fingerprints
    table — the compactor must no-op, not crash on the missing path."""
    from parsedmarc_go_spark.streaming.dedup import (
        _write_store_meta,
        compact_fingerprint_store,
    )

    store = str(tmp_path / "store")
    _write_store_meta(spark, store, 4)
    st: dict = {}
    assert compact_fingerprint_store(spark, store, stats=st) == (0, 0)
    assert st["steps"] == 0 and st["bytes_rewritten"] == 0
