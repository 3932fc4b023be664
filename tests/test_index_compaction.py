"""Maintenance compaction for incrementally-appended ANN indexes
(storage.compact_partitioned_index + the IVF/LSH wrappers): many
append_to_* cycles leave a small-file spray inside every cell/bucket
directory; compaction must collapse the file count WITHOUT changing a
single probe result or touching the sidecars."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from tests.conftest import ranked

# index append/compact e2e: excluded from the default (driver-visible) lane — run with -m ""
pytestmark = pytest.mark.slow

SF_DIR = "/root/testdata/sf0.001"
N_APPENDS = 12


def test_ivf_compaction_identity_and_file_collapse(spark, tmp_path):
    from parsedmarc_go_spark.operators.clustering import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        ivf_topk_indexed,
    )
    from parsedmarc_go_spark.operators.similarity import query_vector
    from parsedmarc_go_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < 200), path, n_cells=8, max_iters=3)
    # N_APPENDS maintenance cycles, ~25 vectors each — every cycle adds
    # one file per touched cell directory
    for i in range(N_APPENDS):
        lo, hi = 200 + 25 * i, 200 + 25 * (i + 1)
        append_to_ivf_index(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), path
        )

    q = query_vector(emb, 0)
    before = ranked(ivf_topk_indexed(spark, path, q, k=10, nprobe=4))
    cents_before = sorted(os.listdir(path + ".centroids"))

    files_before, files_after = compact_ivf_index(spark, path)
    n_cells = len([d for d in os.listdir(path) if d.startswith("cell=")])
    # the spray collapses to ONE file per cell directory
    assert files_before > files_after == n_cells

    after = ranked(ivf_topk_indexed(spark, path, q, k=10, nprobe=4))
    assert before == after
    # sidecar untouched (same files, byte-for-byte listing)
    assert sorted(os.listdir(path + ".centroids")) == cents_before


def test_ivf_sq8_compaction_preserves_quantized_layout(spark, tmp_path):
    from parsedmarc_go_spark.operators.clustering import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        ivf_topk_indexed,
    )
    from parsedmarc_go_spark.operators.similarity import query_vector
    from parsedmarc_go_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf_sq8")
    build_ivf_index(
        emb.filter(F.col("vec_id") < 300), path, n_cells=8, max_iters=3, quantize=True
    )
    append_to_ivf_index(emb.filter(F.col("vec_id") >= 300), path)

    q = query_vector(emb, 7)
    before = ranked(ivf_topk_indexed(spark, path, q, k=10, nprobe=3))
    files_before, files_after = compact_ivf_index(spark, path)
    assert files_after < files_before
    # still the int8 layout on disk — compaction must not dequantize
    assert "embedding_q" in spark.read.parquet(path).columns
    after = ranked(ivf_topk_indexed(spark, path, q, k=10, nprobe=3))
    assert before == after


def test_lsh_compaction_identity_single_and_multitable(spark, tmp_path):
    from parsedmarc_go_spark.operators.similarity import (
        append_to_lsh_index,
        build_lsh_index,
        compact_lsh_index,
        lsh_topk_indexed,
        query_vector,
    )
    from parsedmarc_go_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    q = query_vector(emb, 0)

    path = str(tmp_path / "lsh")
    build_lsh_index(emb.filter(F.col("vec_id") < 200), path, n_planes=4)
    for i in range(N_APPENDS):
        lo, hi = 200 + 25 * i, 200 + 25 * (i + 1)
        append_to_lsh_index(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), path
        )
    before = ranked(lsh_topk_indexed(spark, path, q, k=10, multiprobe=1))
    files_before, files_after = compact_lsh_index(spark, path)
    n_buckets = len([d for d in os.listdir(path) if d.startswith("hp_bucket=")])
    assert files_before > files_after == n_buckets
    after = ranked(lsh_topk_indexed(spark, path, q, k=10, multiprobe=1))
    assert before == after

    # multi-table layout: each table=<t> copy compacts independently
    mpath = str(tmp_path / "lsh_mt")
    build_lsh_index(emb, mpath, n_planes=4, n_tables=2)
    mt_before = ranked(lsh_topk_indexed(spark, mpath, q, k=10))
    fb, fa = compact_lsh_index(spark, mpath)
    assert fa <= fb
    mt_after = ranked(lsh_topk_indexed(spark, mpath, q, k=10))
    assert mt_before == mt_after
