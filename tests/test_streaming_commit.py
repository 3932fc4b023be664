"""The streaming commit protocol (streaming/daemon.py): every per-batch
write replaces exactly its own ``__batch_id`` partition under the
session's default STATIC overwrite mode, a new batch id reuses the
previous batch's compiled classes, processors leave the session conf
alone, a replayed batch is a no-op, and the one fingerprint compactor
takes every on-disk store layout. Small hand-built inputs, so this runs
in the default lane."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import codegen_compiles

MODE_KEY = "spark.sql.sources.partitionOverwriteMode"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _batch_ids(path):
    return sorted(int(d.split("=", 1)[1]) for d in os.listdir(path) if d.startswith("__batch_id="))


def _docs(spark, ids):
    # two shared paragraphs (one per parity class) and one unique one
    return spark.createDataFrame(
        [(i, f"shared para {i % 2}\n\nunique para for doc {i}") for i in ids],
        "doc_id long, text string",
    )


def _digests(spark, n, salt):
    return spark.createDataFrame([(f"{salt}-{i:04d}",) for i in range(n)], "ph string")


def test_batch_writes_keep_earlier_partitions_under_static_mode(spark, tmp_path):
    """Batch 1's writes keep batch 0's partitions. Read back, the batch
    id is an integer, and once the compactor folds the older batches
    into a negative run id, ``__batch_id < 0`` selects exactly their
    rows."""
    from parsedmarc_go_spark.streaming.daemon import _write_table
    from parsedmarc_go_spark.streaming.dedup import (
        STORE_TABLE,
        _write_store,
        clear_meta_cache,
        compact_fingerprint_store,
        read_fingerprints,
    )

    assert spark.conf.get(MODE_KEY).upper() == "STATIC"
    df = spark.createDataFrame([("a",), ("b",)], "ph string")
    out = str(tmp_path / "out")
    store = str(tmp_path / "store")
    for b in (0, 1):
        _write_table(df, out, "t", b)
        _write_store(_digests(spark, 2, f"b{b}"), store, b, 4)
    assert _batch_ids(os.path.join(out, "t")) == [0, 1]
    assert _batch_ids(os.path.join(store, STORE_TABLE)) == [0, 1]
    table = spark.read.parquet(os.path.join(out, "t"))
    assert table.count() == 4
    assert dict(table.dtypes)["__batch_id"] == "int"
    assert spark.read.parquet(os.path.join(store, STORE_TABLE)).count() == 4

    _write_store(_digests(spark, 3, "b2"), store, 2, 4)
    st: dict = {}
    compact_fingerprint_store(spark, store, keep_last=1, stats=st)
    clear_meta_cache()
    assert st["runs"] and all(r < 0 for r in st["runs"])
    assert _batch_ids(os.path.join(store, STORE_TABLE)) == sorted(st["runs"] + [2])
    fps = read_fingerprints(spark, store)
    assert dict(fps.dtypes)["__batch_id"] == "int"
    folded = _rows(fps.filter(F.col("__batch_id") < 0).select("ph"))
    assert folded == [("b0-0000",), ("b0-0001",), ("b1-0000",), ("b1-0001",)]
    assert _rows(fps.filter(F.col("__batch_id") >= 0).select("ph")) == [
        ("b2-0000",), ("b2-0001",), ("b2-0002",)
    ]


def test_new_batch_id_compiles_no_class(spark, payload_batch, tmp_path):
    """The daemon's second micro-batch reuses every class its first
    compiled: the batch id is not written into the generated code. The
    stored layout is unchanged: one ``__batch_id=N`` directory per batch,
    read back as an integer, and none for a table the batch left
    empty."""
    from parsedmarc_go_spark.streaming.daemon import STREAM_TABLES, make_batch_processor

    out = str(tmp_path / "out")
    proc = make_batch_processor(out, as_of="2024-09-01 00:00:00")
    proc(payload_batch, 0)
    before = codegen_compiles(spark)
    proc(payload_batch, 1)
    assert codegen_compiles(spark) - before == 0

    filled = ("aggregate_reports", "aggregate_records", "rejects")
    for name in STREAM_TABLES:
        path = os.path.join(out, name)
        if name in filled:
            assert _batch_ids(path) == [0, 1], name
            assert dict(spark.read.parquet(path).dtypes)["__batch_id"] == "int", name
        else:
            assert not os.path.exists(path) or _batch_ids(path) == [], name


def test_processors_smoke_two_batches_and_replay(spark, tmp_path):
    """Dedup (paragraph), count-store and curation-stage processors over
    two tiny batches: the second batch dedups against the first, and a
    replay of the newest batch leaves every table unchanged. None of
    them touches the session's overwrite mode."""
    from parsedmarc_go_spark.operators.dedup import paragraph_dedup
    from parsedmarc_go_spark.streaming.aggstore import make_count_processor, read_counts
    from parsedmarc_go_spark.streaming.curation import CURATION_TABLES, make_curation_processor
    from parsedmarc_go_spark.streaming.daemon import read_stream_table
    from parsedmarc_go_spark.streaming.dedup import make_dedup_processor, read_fingerprints

    mode_before = spark.conf.get(MODE_KEY)
    b0, b1 = _docs(spark, [1, 2, 3]), _docs(spark, [4, 5])
    out, store, counts = (str(tmp_path / d) for d in ("out", "store", "counts"))
    bench = spark.createDataFrame([(99, "nothing in common with the corpus")], "doc_id long, text string")
    count = make_count_processor(counts, ["parity"])
    procs = [
        make_dedup_processor(out, store, bloom=False),
        make_curation_processor(out, bench, n=3),
        lambda b, i: count(b.select((F.col("doc_id") % 2).alias("parity")), i),
    ]

    def snapshot():
        tables = {t: _rows(read_stream_table(spark, out, t)) for t in ("docs_deduped", *CURATION_TABLES)}
        tables["store"] = _rows(read_fingerprints(spark, store).select("ph", "__batch_id"))
        tables["counts"] = _rows(read_counts(spark, counts))
        return tables

    for i, b in enumerate((b0, b1)):
        for p in procs:
            p(b, i)
    assert spark.conf.get(MODE_KEY) == mode_before
    first = snapshot()
    assert first["docs_deduped"] == _rows(paragraph_dedup(b0.unionByName(b1), "doc_id", "text"))
    assert first["counts"] == [(0, 2), (1, 3)]
    assert {r[0] for r in first["docs_redacted"]} == {1, 2, 3, 4, 5}

    for p in procs:
        p(b1, 1)  # crash-and-replay of the newest batch
    assert snapshot() == first
    assert spark.conf.get(MODE_KEY) == mode_before


def test_empty_first_count_batch_leaves_no_store(spark, tmp_path):
    """An empty first batch writes nothing: a file-less ``counts/``
    directory would make every read fail schema inference until a
    non-empty batch landed."""
    from parsedmarc_go_spark.streaming.aggstore import (
        COUNT_TABLE,
        compact_count_store,
        make_count_processor,
        read_counts,
    )

    store = str(tmp_path / "store")
    proc = make_count_processor(store, ["k"])
    proc(spark.createDataFrame([], "k string"), 0)
    assert not os.path.exists(os.path.join(store, COUNT_TABLE))
    proc(spark.createDataFrame([("a",), ("a",), ("b",)], "k string"), 1)
    assert _rows(read_counts(spark, store)) == [("a", 2), ("b", 1)]
    compact_count_store(spark, store, keep_last=0)
    assert _rows(read_counts(spark, store)) == [("a", 2), ("b", 1)]


@pytest.mark.parametrize("layout", ["meta_less", "flat_compacted"])
def test_compactor_takes_older_store_layouts(spark, tmp_path, layout):
    """Stores in layouts the compactor did not write compact with
    unchanged membership: a meta-less (pre-bucketed) store is pinned
    bucketless first, and a store with a ``-1`` base from the earlier
    whole-store fold (meta without ``runs``) keeps that base as a
    committed run."""
    from parsedmarc_go_spark.streaming.dedup import (
        STORE_TABLE,
        _bucket_expr,
        _read_meta_dict,
        _write_store_meta,
        clear_meta_cache,
        compact_fingerprint_store,
        read_fingerprints,
    )

    store = str(tmp_path / "store")
    path = os.path.join(store, STORE_TABLE)
    if layout == "meta_less":
        ids, part_cols = [0, 1, 2, 3], ["__batch_id"]
    else:
        ids, part_cols = [-1, 4, 5, 6], ["__batch_id", "__bucket"]
        _write_store_meta(spark, store, 4)
    for b in ids:
        df = _digests(spark, 40, f"b{b}").withColumn("__batch_id", F.lit(b))
        if layout == "flat_compacted":
            df = df.withColumn("__bucket", _bucket_expr(4))
        df.write.mode("append").partitionBy(*part_cols).parquet(path)
    clear_meta_cache()
    before = {r.ph for r in read_fingerprints(spark, store).collect()}
    assert len(before) == 160

    st: dict = {}
    compact_fingerprint_store(spark, store, keep_last=1, stats=st)
    clear_meta_cache()
    after = read_fingerprints(spark, store)
    assert {r.ph for r in after.collect()} == before
    assert after.count() == 160
    live = {r[0] for r in after.select("__batch_id").distinct().collect()}
    assert live == set(st["runs"]) | {ids[-1]}
    assert st["folded_watermark"] == ids[-2]
    meta = _read_meta_dict(spark, store)
    assert int(meta["n_buckets"]) == (0 if layout == "meta_less" else 4)
    assert ("__bucket" in after.columns) == (layout == "flat_compacted")
