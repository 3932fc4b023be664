"""Multi-probe LSH and the recall story (round-6 verdict task 1).

The recall NUMBERS live in scripts/ann_recall.py → SCALE.md (a 2,200-row
planted-neighbor harness is too heavy for the suite); what the suite
pins is the semantics that make those numbers trustworthy:

- the Hamming probe-set enumeration,
- multi-probe candidate sets strictly contain the single-bucket set
  (recall can only go up),
- a batch gives every query exactly its batch-of-one result,
- indexed == ad-hoc at the same (n_planes, n_tables, multiprobe),
  probed through PartitionFilters,
- an index in either on-disk layout written before lsh_topk_indexed
  took batches still opens,
- and on a small planted corpus, multiprobe=1 recovers a neighbor that
  single-bucket probing provably misses.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from parsedmarc_go_spark.operators.similarity import (
    append_to_lsh_index,
    brute_force_topk,
    build_lsh_index,
    hamming_probe_buckets,
    lsh_topk,
    lsh_topk_indexed,
    query_vector,
    with_hyperplane_buckets,
)
from parsedmarc_go_spark.tables import load
from tests.conftest import SF_CORRECT, SF_SMOKE, ranked, topk_by_query

DIM = 32


def test_hamming_probe_buckets_enumeration():
    # query bucket first, then distance bands, ascending inside a band
    assert hamming_probe_buckets(5, 4, 0) == [5]
    assert hamming_probe_buckets(5, 4, 1) == [5, 1, 4, 7, 13]
    got2 = hamming_probe_buckets(5, 4, 2)
    assert got2[:5] == [5, 1, 4, 7, 13]
    assert len(got2) == 1 + 4 + 6 and len(set(got2)) == len(got2)
    assert all(0 <= b < 16 for b in got2)
    assert all(bin(b ^ 5).count("1") <= 2 for b in got2)


@pytest.fixture(scope="module")
def planted(spark):
    """Seeded corpus with one query and planted neighbors: 200 base
    vectors plus 10 copies of query+noise, loose enough that some cross
    a hyperplane (that crossing is what multi-probe exists for)."""
    rng = np.random.default_rng(11)
    base = rng.standard_normal((200, DIM))
    q = rng.standard_normal(DIM)
    planted = [q + 0.6 * rng.standard_normal(DIM) for _ in range(10)]
    X = np.vstack([base, planted])
    rows = [(i, 0, [float(x) for x in X[i]]) for i in range(len(X))]
    corpus = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    qdf = spark.createDataFrame([(0, [float(x) for x in q])], "query_id long, q array<double>")
    return corpus, qdf, set(range(200, 210))


def _ids(df):
    return {r.vec_id for r in df.collect()}


def _queries(emb, qids):
    return emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("q"),
    )


def _pruned_scans(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters: [hp_bucket" in ln and (" IN (" in ln or " INSET " in ln)
    ], plan


def test_multiprobe_candidate_set_contains_single_bucket(spark, planted):
    corpus, qdf, _ = planted
    bucketed = with_hyperplane_buckets(corpus, 6, "embedding")
    qb = with_hyperplane_buckets(qdf.select(F.col("q").alias("embedding")), 6, "embedding")
    q_bucket = qb.first()["hp_bucket"]
    cands = {
        mp: {
            r.vec_id
            for r in bucketed.filter(
                F.expr(f"bit_count(hp_bucket ^ {q_bucket}) <= {mp}")
            ).collect()
        }
        for mp in (0, 1, 2)
    }
    assert cands[0] < cands[1] < cands[2], (
        "each Hamming band must strictly widen the candidate set on this corpus"
    )


def test_multiprobe_recovers_dropped_neighbors(spark, planted):
    """The round-6 finding made executable: at 6 planes, single-bucket
    probing misses planted near-neighbors that sit one hyperplane away;
    Hamming-1 probing recovers them. Exact counts are deterministic
    (seedless hashed planes, seeded corpus)."""
    corpus, qdf, truth = planted
    exact = _ids(brute_force_topk(corpus, qdf, k=10))
    assert exact == truth, "planted design broke: exact top-10 must be the plants"
    r0 = _ids(lsh_topk(corpus, qdf, k=10, n_planes=6, multiprobe=0))
    r1 = _ids(lsh_topk(corpus, qdf, k=10, n_planes=6, multiprobe=1))
    assert len(r0 & truth) < 10, (
        "corpus was meant to make single-bucket probing lossy; regenerate seeds"
    )
    assert len(r1 & truth) > len(r0 & truth)
    assert r0 & truth <= r1 & truth, "multi-probe must keep every single-bucket hit"


def test_batch_topk_matches_per_query(spark):
    """No cross-query leakage: every query of a batch gets row-for-row
    its batch-of-one result, single- and multi-table."""
    emb = load(spark, SF_CORRECT, "embeddings")
    qids = [0, 7, 19]
    for n_tables in (1, 3):
        kw = dict(k=10, n_planes=4, n_tables=n_tables, multiprobe=1)
        batch = topk_by_query(lsh_topk(emb, _queries(emb, qids), **kw))
        assert sorted(batch) == qids
        for qid in qids:
            solo = topk_by_query(lsh_topk(emb, query_vector(emb, qid), **kw))
            assert batch[qid] == solo[qid], f"batch != per-query for query {qid}"


def test_indexed_multiprobe_matches_adhoc_and_prunes(spark, tmp_path):
    emb = load(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "lsh_index")
    build_lsh_index(emb, path, n_planes=6)
    q = query_vector(emb, 0)
    topk = lsh_topk_indexed(spark, path, q, k=10, multiprobe=1)
    scans, plan = _pruned_scans(topk)
    assert len(scans) == 1, plan
    assert ranked(topk) == ranked(lsh_topk(emb, q, k=10, n_planes=6, multiprobe=1))


def test_ann_lsh_indexed_query_entry(spark, tmp_path, monkeypatch):
    """The registry entry builds the index once per sf_dir and probes it
    on every later call (no rebuild)."""
    from parsedmarc_go_spark.plans import QUERIES, vectorops

    monkeypatch.setattr(
        vectorops, "_lsh_index_path", lambda sf_dir: str(tmp_path / "idx")
    )
    first = ranked(QUERIES["ann_lsh_indexed"](spark, SF_SMOKE))
    assert first and first[0][0] == 0
    import os

    mtime = os.path.getmtime(str(tmp_path / "idx") + "/_SUCCESS")
    again = ranked(QUERIES["ann_lsh_indexed"](spark, SF_SMOKE))
    assert again == first
    assert os.path.getmtime(str(tmp_path / "idx") + "/_SUCCESS") == mtime


def _write_legacy_index(emb, path, n_planes, n_tables=None):
    """An LSH index exactly as the per-layout builders of earlier
    releases wrote it: single-table data at ``path`` with a .meta
    holding only n_planes; multi-table data under ``path/table=<t>``
    (plane family t·n_planes) with n_tables in the .meta."""
    dirs = [path] if n_tables is None else [f"{path}/table={t}" for t in range(n_tables)]
    for t, d in enumerate(dirs):
        with_hyperplane_buckets(emb, n_planes, "embedding", "hp_bucket", t * n_planes).write.partitionBy(
            "hp_bucket"
        ).parquet(d)
    meta = [(n_planes,)] if n_tables is None else [(n_planes, n_tables)]
    schema = "n_planes int" if n_tables is None else "n_planes int, n_tables int"
    emb.sparkSession.createDataFrame(meta, schema).write.parquet(path + ".meta")


def test_multitable_one_table_equals_single_table(spark, tmp_path):
    """A one-table index in the multi-table layout (table=0 + n_tables=1
    in .meta) probes identically to the single-table layout and to the
    ad-hoc n_tables=1 probe — plane family 0 is the single-table
    family, so neither layout re-buckets anything."""
    emb = load(spark, SF_SMOKE, "embeddings")
    q = query_vector(emb, 0)
    single, multi = str(tmp_path / "single"), str(tmp_path / "multi")
    _write_legacy_index(emb, single, 6)
    _write_legacy_index(emb, multi, 6, n_tables=1)
    adhoc = ranked(lsh_topk(emb, q, k=10, n_planes=6, n_tables=1, multiprobe=0))
    assert adhoc and adhoc[0][0] == 0
    assert ranked(lsh_topk_indexed(spark, single, q, k=10)) == adhoc
    assert ranked(lsh_topk_indexed(spark, multi, q, k=10)) == adhoc


def test_legacy_layout_indexes_still_open(spark, tmp_path):
    """Indexes written in the earlier on-disk layouts open unchanged:
    the batch probe, append and the new builder all agree with them."""
    emb = load(spark, SF_SMOKE, "embeddings")
    q = query_vector(emb, 0)
    for n_tables in (None, 2):
        legacy = str(tmp_path / f"legacy_{n_tables}")
        _write_legacy_index(emb.filter(F.col("vec_id") < 250), legacy, 6, n_tables)
        append_to_lsh_index(emb.filter(F.col("vec_id") >= 250), legacy)
        fresh = str(tmp_path / f"fresh_{n_tables}")
        build_lsh_index(emb, fresh, n_planes=6, n_tables=n_tables or 1)
        got = ranked(lsh_topk_indexed(spark, legacy, q, k=10, multiprobe=1))
        assert got == ranked(lsh_topk_indexed(spark, fresh, q, k=10, multiprobe=1))
        assert got == ranked(
            lsh_topk(emb, q, k=10, n_planes=6, n_tables=n_tables or 1, multiprobe=1)
        )


def test_multitable_recovers_neighbors_single_table_drops(spark, planted):
    """OR-amplification: with 4 independent tables a planted neighbor
    only needs to collide in ONE of them, so recall must be at least the
    single-table level and strictly better on this corpus."""
    corpus, qdf, truth = planted
    r1 = _ids(lsh_topk(corpus, qdf, k=10, n_planes=8))
    r4 = _ids(lsh_topk(corpus, qdf, k=10, n_planes=8, n_tables=4))
    assert len(r1 & truth) < len(r4 & truth), (len(r1 & truth), len(r4 & truth))


def test_multitable_indexed_matches_adhoc_and_prunes(spark, tmp_path):
    emb = load(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "mt_index")
    build_lsh_index(emb, path, n_planes=6, n_tables=3)
    q = query_vector(emb, 0)
    topk = lsh_topk_indexed(spark, path, q, k=10, multiprobe=1)
    # one pruned scan per table directory, each carrying a non-empty
    # hp_bucket IN (…) partition filter
    scans, plan = _pruned_scans(topk)
    assert len(scans) == 3, plan
    assert ranked(topk) == ranked(
        lsh_topk(emb, q, k=10, n_planes=6, n_tables=3, multiprobe=1)
    )


def test_multitable_adhoc_is_single_corpus_scan(spark):
    """The OR-amplified ad-hoc probe must evaluate all L bucket
    expressions in ONE pass over the corpus — L scans (or a shuffle
    join) would defeat the point at 100 TB."""
    emb = load(spark, SF_CORRECT, "embeddings")
    q = query_vector(emb, 0)
    plan = (
        lsh_topk(emb, q, k=10, n_planes=8, n_tables=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    corpus_scans = [
        ln for ln in plan.splitlines() if "FileScan" in ln and "embeddings" in ln
    ]
    # corpus once + the 1-row query-vector lookup once
    assert len(corpus_scans) == 2, plan
    assert "BroadcastNestedLoopJoin" in plan and "SortMergeJoin" not in plan


def test_lsh_index_append_equals_full_rebuild(spark, tmp_path):
    """Incremental index maintenance: build on half the corpus, append
    the other half — probes must return exactly what a full rebuild
    over the union returns (seedless planes make bucket assignment
    reproducible across sessions and builds), in both layouts."""
    emb = load(spark, SF_SMOKE, "embeddings")
    first = emb.filter(F.col("vec_id") < 250)
    rest = emb.filter(F.col("vec_id") >= 250)
    q = query_vector(emb, 0)
    for n_tables in (1, 2):
        inc = str(tmp_path / f"inc_idx_{n_tables}")
        build_lsh_index(first, inc, n_planes=6, n_tables=n_tables)
        append_to_lsh_index(rest, inc)

        full = str(tmp_path / f"full_idx_{n_tables}")
        build_lsh_index(emb, full, n_planes=6, n_tables=n_tables)

        got_inc = ranked(lsh_topk_indexed(spark, inc, q, k=10, multiprobe=1))
        got_full = ranked(lsh_topk_indexed(spark, full, q, k=10, multiprobe=1))
        assert got_inc == got_full and got_inc[0][0] == 0


def test_lsh_indexed_batch_matches_per_query(spark, tmp_path):
    """Batch probe over the persisted index: one pruned read for the
    whole batch, per-query results identical to a batch of one."""
    emb = load(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "b_idx")
    build_lsh_index(emb, path, n_planes=6)
    qids = [0, 9, 23]
    batch = lsh_topk_indexed(spark, path, _queries(emb, qids), k=10, multiprobe=1)
    scans, plan = _pruned_scans(batch)
    assert len(scans) == 1, plan
    by_q = topk_by_query(batch)
    assert sorted(by_q) == qids
    for qid in qids:
        solo = topk_by_query(
            lsh_topk_indexed(spark, path, query_vector(emb, qid), k=10, multiprobe=1)
        )
        assert by_q[qid] == solo[qid], f"batch != per-query for query {qid}"


def test_int8_quantization_roundtrip_error_bound(spark):
    """Symmetric int8 quantization must keep cosine distortion below
    the 4-decimal rounding the similarity layer applies: top-10 under
    quantized vectors matches exact top-10 in >= 9 of 10 positions and
    per-pair cosine error stays under 0.005 on the corpus."""
    from parsedmarc_go_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = load(spark, SF_CORRECT, "embeddings")
    q8 = quantize_embeddings(emb)
    # codes are genuine int8 and within the symmetric range
    row = q8.first()
    assert all(-127 <= v <= 127 for v in row["embedding_q"])
    deq = dequantize_embeddings(q8.drop("embedding"))

    qv = query_vector(emb, 0)
    exact = [(r.vec_id, r.cosine_sim) for r in brute_force_topk(emb, qv, k=10).collect()]
    approx = [(r.vec_id, r.cosine_sim) for r in brute_force_topk(deq, qv, k=10).collect()]
    shared = {i for i, _ in exact} & {i for i, _ in approx}
    assert len(shared) >= 9, (exact, approx)
    ex, ap = dict(exact), dict(approx)
    assert all(abs(ex[i] - ap[i]) <= 0.005 for i in shared)

    # zero vector: scale 0, all-zero code, survives dequant as zeros
    z = spark.createDataFrame([(0, 0, [0.0] * 8)], "vec_id long, label int, embedding array<double>")
    zr = dequantize_embeddings(quantize_embeddings(z).drop("embedding")).first()
    assert zr["q_scale"] == 0.0 and zr["embedding"] == [0.0] * 8
