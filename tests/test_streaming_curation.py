"""Stream-vs-batch parity for the curation stage
(streaming/curation.py): two triggers over two document shards must
produce exactly the tables the batch operators produce over the union,
and a replayed batch_id must leave every table unchanged."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

# streaming e2e pipeline parity — heavy micro-batch drives: excluded from the default (driver-visible) lane — run with -m ""
pytestmark = pytest.mark.slow

SF_DIR = "/root/testdata/sf0.001"


def _rows(df, key="doc_id"):
    return sorted([tuple(r) for r in df.collect()])


def test_stream_curation_two_trigger_parity(spark, tmp_path):
    from parsedmarc_go_spark.operators.curation import (
        ngram_decontaminate,
        pii_redact,
        repetition_stats,
    )
    from parsedmarc_go_spark.streaming.curation import stream_curation
    from parsedmarc_go_spark.streaming.daemon import read_stream_table
    from parsedmarc_go_spark.tables import load

    from parsedmarc_go_spark.operators.classify import nb_score, train_nb_classifier
    from parsedmarc_go_spark.operators.lm import lm_score, train_bigram_lm

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    lm_ref = docs.filter(F.col("doc_id") % 10 == 0)
    m = F.col("doc_id") % 10
    nb_labeled = docs.filter((m == 0) | (m == 5)).select(
        F.when(m == 0, F.lit("hq")).otherwise(F.lit("lq")).alias("label"), "text"
    )

    landing = tmp_path / "landing"
    out = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    # trigger 1: first shard lands
    docs.filter(F.col("doc_id") < 250).write.parquet(str(landing / "shard1"))
    q = stream_curation(
        spark, str(landing), out, ckpt, benchmark, lm_ref=lm_ref,
        nb_labeled=nb_labeled, emit_postings=True,
    )
    q.awaitTermination(120)

    # trigger 2: second shard lands, same checkpoint resumes
    docs.filter(F.col("doc_id") >= 250).write.parquet(str(landing / "shard2"))
    q = stream_curation(
        spark, str(landing), out, ckpt, benchmark, lm_ref=lm_ref,
        nb_labeled=nb_labeled, emit_postings=True,
    )
    q.awaitTermination(120)

    got_red = read_stream_table(spark, out, "docs_redacted")
    got_rep = read_stream_table(spark, out, "repetition_stats")
    got_dec = read_stream_table(spark, out, "decontamination")
    got_lm = read_stream_table(spark, out, "lm_scores")
    got_nb = read_stream_table(spark, out, "nb_scores")

    want_red = docs.select("doc_id", pii_redact(F.col("text")).alias("text"))
    want_rep = repetition_stats(docs)
    want_dec = ngram_decontaminate(docs, benchmark)
    want_lm = lm_score(docs, *train_bigram_lm(lm_ref))
    want_nb = nb_score(docs, train_nb_classifier(nb_labeled))

    assert _rows(got_red) == _rows(want_red)
    assert _rows(got_rep) == _rows(want_rep)
    assert _rows(got_dec) == _rows(want_dec)
    # per-doc LM/NB math against models trained once from the same
    # fixed reference slices -> grid-exact scores match batch
    # bit-for-bit
    assert _rows(got_lm) == _rows(want_lm)
    assert _rows(got_nb) == _rows(want_nb)
    # incremental inverted index: accumulated postings == batch
    # postings over the union (per-document rows, no cross-batch state)
    from parsedmarc_go_spark.operators.retrieval import inverted_postings

    got_post = read_stream_table(spark, out, "postings")
    assert _rows(got_post) == _rows(inverted_postings(docs))


def test_curation_processor_replay_idempotent(spark, tmp_path):
    from parsedmarc_go_spark.streaming.curation import (
        CURATION_TABLES,
        LM_TABLE,
        make_curation_processor,
    )
    from parsedmarc_go_spark.streaming.daemon import read_stream_table
    from parsedmarc_go_spark.tables import load

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    lm_ref = docs.filter(F.col("doc_id") % 10 == 0)
    out = str(tmp_path / "curated")
    proc = make_curation_processor(out, benchmark, lm_ref=lm_ref)
    tables = CURATION_TABLES + (LM_TABLE,)

    shard = docs.filter(F.col("doc_id") < 100)
    proc(shard, 0)
    before = {t: _rows(read_stream_table(spark, out, t)) for t in tables}
    proc(shard, 0)  # crash-and-replay of the same batch_id
    after = {t: _rows(read_stream_table(spark, out, t)) for t in tables}
    assert before == after


# --- the composed pipeline's streaming twin (round 13) ---------------------

_PIPE_KW = dict(quality_thresholds={"max_mean_word_len": 4.5})


def _pipeline_inputs(spark):
    from parsedmarc_go_spark.plans.curation import _pipeline_corpus

    t = _pipeline_corpus(spark, SF_DIR)
    return (
        t.filter(F.col("doc_id") % 50 != 0),
        t.filter(F.col("doc_id") % 50 == 0),
    )


def _stream_fates(spark, tmp_path, corpus, bench, splits, tag="", **kw):
    """Drive the processor directly (the factored-out-foreachBatch
    pattern) over successive trigger frames; return {doc_id: fate}."""
    from parsedmarc_go_spark.streaming.curation import (
        PIPELINE_FATES_TABLE,
        make_curation_pipeline_processor,
    )

    out = str(tmp_path / f"pipe_out{tag}")
    store = str(tmp_path / f"pipe_store{tag}")
    proc = make_curation_pipeline_processor(out, store, bench, **kw)
    for i, trigger in enumerate(splits):
        proc(trigger, i)
    fates = spark.read.parquet(os.path.join(out, PIPELINE_FATES_TABLE))
    rows = fates.collect()
    assert len(rows) == corpus.count()  # exactly one fate per doc
    return {r.doc_id: r.fate for r in rows}, proc, out, store


def test_stream_pipeline_two_trigger_parity(spark, tmp_path):
    """VERDICT r12 task 6: the streaming twin's fates equal the batch
    composed pipeline's over a two-trigger ascending-doc_id split of
    the planted gate corpus — quality/exact/decontam/near-dup parity
    is exact under that arrival order (see the processor docstring);
    budget is neutralized (huge) here and pinned by its own ordered
    test below."""
    from parsedmarc_go_spark.operators.curation import curation_pipeline

    corpus, bench = _pipeline_inputs(spark)
    big = 10**12
    batch = {
        r.doc_id: r.fate
        for r in curation_pipeline(corpus, bench, budget=big, **_PIPE_KW).collect()
    }
    cut = 250
    stream, proc, out, store = _stream_fates(
        spark, tmp_path, corpus, bench,
        [corpus.filter(F.col("doc_id") < cut), corpus.filter(F.col("doc_id") >= cut)],
        budget=big, **_PIPE_KW,
    )
    assert stream == batch
    # the planted classes all fired across the trigger boundary
    fates = set(stream.values())
    assert {"exact_dup", "near_dup", "contaminated", "kept"} <= fates
    assert any(f.startswith("quality:") for f in fates)

    # replay idempotence: re-running trigger 1 against the full stores
    # must leave the fates and every store total unchanged
    from parsedmarc_go_spark.streaming.curation import PIPELINE_FATES_TABLE

    proc(corpus.filter(F.col("doc_id") < cut), 0)
    fates2 = spark.read.parquet(os.path.join(out, PIPELINE_FATES_TABLE))
    assert {r.doc_id: r.fate for r in fates2.collect()} == batch
    ex = spark.read.parquet(os.path.join(store, "exact", "fingerprints"))
    assert ex.count() == ex.select("ph").distinct().count()  # no dup appends


def test_stream_pipeline_budget_parity_in_hash_order(spark, tmp_path):
    """The budget stage's carried per-stratum counters equal the batch
    window when arrival order matches the batch's md5-hash order —
    the machinery-parity pin for stage 5 (kept/over_budget cuts and
    the min_docs floor land identically across the trigger
    boundary)."""
    from pyspark.sql import Window

    from parsedmarc_go_spark.operators.curation import (
        _hash_order_key,
        curation_pipeline,
    )

    # unique-token docs: every stage before budget is a no-op
    docs = spark.createDataFrame(
        [
            (i, f"src{i % 3}", 600 + 37 * (i % 7),
             " ".join(f"w{i}q{j}" for j in range(60)))
            for i in range(60)
        ],
        "doc_id long, source string, n_chars long, text string",
    )
    bench = spark.createDataFrame(
        [(10_000, "srcb", 10, " ".join(f"b{j}" for j in range(60)))],
        "doc_id long, source string, n_chars long, text string",
    )
    # the unique tokens run long (w59q59); this test pins the BUDGET
    # machinery, so open the quality window rather than reshape them
    kw = dict(quality_thresholds={"max_mean_word_len": 9.0})
    batch = {
        r.doc_id: r.fate
        for r in curation_pipeline(docs, bench, budget=2000, **kw).collect()
    }
    assert "over_budget" in set(batch.values())  # the cut actually bites
    # split triggers at each source's median HASH rank — arrival order
    # then equals the batch window's (md5, doc_id) order
    w = Window.partitionBy("source").orderBy(_hash_order_key(docs), F.col("doc_id"))
    ranked = docs.withColumn("__rn", F.row_number().over(w))
    t1 = ranked.filter(F.col("__rn") <= 10).drop("__rn")
    t2 = ranked.filter(F.col("__rn") > 10).drop("__rn")
    stream, *_ = _stream_fates(
        spark, tmp_path, docs, bench, [t1, t2], budget=2000, **kw
    )
    assert stream == batch


def test_stream_pipeline_survives_empty_stage_batches(spark, tmp_path):
    """Round-13 review: a PARTITIONED write of an empty frame creates a
    file-less directory that UNABLE_TO_INFER_SCHEMA-poisons every
    later read. A first trigger whose docs ALL fail quality (empty
    exact-store append, empty budget partial) must leave the stores
    readable — the second trigger processes normally and its fates
    match batch over the union."""
    from parsedmarc_go_spark.operators.curation import curation_pipeline

    bad = spark.createDataFrame(  # 2-char tokens: mean_word_len < 3 fails
        [(i, "s", 100, " ".join("ab" for _ in range(60))) for i in range(3)],
        "doc_id long, source string, n_chars long, text string",
    )
    good = spark.createDataFrame(
        [(10 + i, "s", 300, " ".join(f"tk{i}x{j}" for j in range(60)))
         for i in range(3)],
        "doc_id long, source string, n_chars long, text string",
    )
    bench = spark.createDataFrame(
        [(10_000, "sb", 10, " ".join(f"b{j}" for j in range(60)))],
        "doc_id long, source string, n_chars long, text string",
    )
    docs = bad.unionByName(good)
    big = 10**12
    batch = {
        r.doc_id: r.fate
        for r in curation_pipeline(docs, bench, budget=big, **_PIPE_KW).collect()
    }
    assert set(batch[i] for i in range(3)) == {"quality:mean_word_len"}
    stream, *_ = _stream_fates(
        spark, tmp_path, docs, bench, [bad, good], budget=big, **_PIPE_KW
    )
    assert stream == batch


def test_stream_pipeline_budget_is_prefix_cut_not_residual_fit(spark, tmp_path):
    """Round-13 review: the batch budget is a PREFIX cut — the running
    total includes DROPPED docs, so once a stratum crosses the budget
    nothing later in hash order is admitted. A small late arrival
    that would fit the residual after a crossing doc must still be
    over_budget in the stream (the carried counters sum ALL processed
    docs, not kept chars)."""
    import hashlib

    from parsedmarc_go_spark.operators.curation import curation_pipeline

    ids = [1, 2, 3]
    by_hash = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    # hash-rank order gets sizes [1500, 1000, 400]: doc2 crosses the
    # 2000 budget (cum 2500), doc3 would FIT a residual (1500+400) but
    # the prefix rule drops it (cum 2900)
    sizes = dict(zip(by_hash, [1500, 1000, 400]))
    docs = spark.createDataFrame(
        [(i, "s", sizes[i], " ".join(f"u{i}v{j}" for j in range(60)))
         for i in ids],
        "doc_id long, source string, n_chars long, text string",
    )
    bench = spark.createDataFrame(
        [(10_000, "sb", 10, " ".join(f"b{j}" for j in range(60)))],
        "doc_id long, source string, n_chars long, text string",
    )
    kw = dict(quality_thresholds={"max_mean_word_len": 9.0}, min_docs=1)
    batch = {
        r.doc_id: r.fate
        for r in curation_pipeline(docs, bench, budget=2000, **kw).collect()
    }
    assert batch == {
        by_hash[0]: "kept",
        by_hash[1]: "over_budget",
        by_hash[2]: "over_budget",
    }
    # triggers split mid-stratum AFTER the crossing doc, in hash order
    t1 = docs.filter(F.col("doc_id").isin(by_hash[:2]))
    t2 = docs.filter(F.col("doc_id") == by_hash[2])
    stream, *_ = _stream_fates(
        spark, tmp_path, docs, bench, [t1, t2], budget=2000, **kw
    )
    assert stream == batch


def test_stream_pipeline_infers_shard_schema_not_benchmarks(spark, tmp_path):
    """ADVICE r13: the readStream schema comes from the LANDED shards,
    not the benchmark frame — a narrower benchmark (doc_id, text only)
    must not null out the shard columns the budget stage needs."""
    import pytest

    from parsedmarc_go_spark.streaming.curation import (
        PIPELINE_FATES_TABLE,
        stream_curation_pipeline,
    )

    docs = spark.createDataFrame(
        [(i, "s", 300, " ".join(f"tk{i}x{j}" for j in range(60)))
         for i in range(3)],
        "doc_id long, source string, n_chars long, text string",
    )
    narrow_bench = spark.createDataFrame(
        [(10_000, " ".join(f"b{j}" for j in range(60)))],
        "doc_id long, text string",
    )
    landing = tmp_path / "landing"
    os.makedirs(landing)

    # empty landing dir: schema inference must fail loudly, not borrow
    with pytest.raises(ValueError, match="pass schema= explicitly"):
        stream_curation_pipeline(
            spark, str(landing), str(tmp_path / "o0"), str(tmp_path / "c0"),
            str(tmp_path / "s0"), narrow_bench,
        )

    docs.write.parquet(str(landing / "shard1"))
    q = stream_curation_pipeline(
        spark, str(landing), str(tmp_path / "out"), str(tmp_path / "ckpt"),
        str(tmp_path / "store"), narrow_bench, budget=10**12,
        quality_thresholds={"max_mean_word_len": 9.0},
    )
    q.awaitTermination(120)
    fates = spark.read.parquet(str(tmp_path / "out" / PIPELINE_FATES_TABLE))
    assert {r.doc_id: r.fate for r in fates.collect()} == {
        0: "kept", 1: "kept", 2: "kept"
    }


def test_stream_pipeline_verified_mode_is_batch_exact_on_divergence_fixture(
    spark, tmp_path
):
    """A sub-threshold pair whose bands collide (the fixture of the
    earlier greedy mode's pinned divergence, which dropped doc 2
    cross-trigger) is exact-Jaccard-verified against the stored
    shingle sets and KEPT, matching batch bit-for-bit."""
    from parsedmarc_go_spark.operators.curation import curation_pipeline

    base = [f"tk{j}" for j in range(60)]
    mid = list(base)
    for p in (5, 15, 25, 35, 45, 55):
        mid[p] = f"xk{p}"
    docs = spark.createDataFrame(
        [(1, "s", 400, " ".join(base)), (2, "s", 400, " ".join(mid))],
        "doc_id long, source string, n_chars long, text string",
    )
    bench = spark.createDataFrame(
        [(10_000, "sb", 10, " ".join(f"b{j}" for j in range(60)))],
        "doc_id long, source string, n_chars long, text string",
    )
    # preconditions: below threshold (batch keeps both), bands collide
    from parsedmarc_go_spark.operators.dedup import (
        minhash_band_signatures,
        ngram_jaccard_pairs,
    )

    j = ngram_jaccard_pairs(docs, threshold=0.0).collect()
    assert j and j[0].jaccard < 0.7, j
    sigs = minhash_band_signatures(docs, "doc_id").select(
        "doc", F.concat_ws(":", "band", "sig").alias("ph")
    )
    assert sigs.groupBy("ph").count().filter(F.col("count") > 1).count() > 0
    big = 10**12
    batch = {
        r.doc_id: r.fate
        for r in curation_pipeline(docs, bench, budget=big, **_PIPE_KW).collect()
    }
    assert batch == {1: "kept", 2: "kept"}
    two, *_ = _stream_fates(
        spark, tmp_path, docs, bench,
        [docs.filter(F.col("doc_id") == 1), docs.filter(F.col("doc_id") == 2)],
        tag="_ver", budget=big, **_PIPE_KW,
    )
    assert two == batch


def test_stream_pipeline_verified_mode_chain_parity(spark, tmp_path):
    """Batch drops the higher id of EVERY ≥threshold pair, even when
    the lower partner was itself dropped — the verified stores keep
    dropped docs' bands and shingles so a cross-trigger chain (1,2),
    (2,3) with J(1,3) below threshold still drops 3 (its only partner,
    2, died in trigger 1). A store of survivors only could not see
    this pair."""
    from parsedmarc_go_spark.operators.curation import curation_pipeline

    base = [f"ch{j}" for j in range(60)]
    mid = list(base)
    for p in range(0, 6):  # J(1,2) and J(2,3) ≈ 0.76, J(1,3) ≈ 0.57
        mid[p] = f"ym{p}"
    far = list(mid)
    for p in range(12, 18):
        far[p] = f"zf{p}"
    docs = spark.createDataFrame(
        [(1, "s", 400, " ".join(base)), (2, "s", 400, " ".join(mid)),
         (3, "s", 400, " ".join(far))],
        "doc_id long, source string, n_chars long, text string",
    )
    bench = spark.createDataFrame(
        [(10_000, "sb", 10, " ".join(f"b{j}" for j in range(60)))],
        "doc_id long, source string, n_chars long, text string",
    )
    from parsedmarc_go_spark.operators.dedup import ngram_jaccard_pairs

    j = {(r.doc_a, r.doc_b): r.jaccard
         for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    assert j[(1, 2)] >= 0.7 and j[(2, 3)] >= 0.7 and j[(1, 3)] < 0.7, j
    big = 10**12
    batch = {
        r.doc_id: r.fate
        for r in curation_pipeline(docs, bench, budget=big, **_PIPE_KW).collect()
    }
    assert batch == {1: "kept", 2: "near_dup", 3: "near_dup"}
    stream, *_ = _stream_fates(
        spark, tmp_path, docs, bench,
        [docs.filter(F.col("doc_id") <= 2), docs.filter(F.col("doc_id") == 3)],
        tag="_chain", budget=big, **_PIPE_KW,
    )
    assert stream == batch


def test_stream_pipeline_refuses_greedy_era_store(spark, tmp_path):
    """The near-dup stage is batch-exact only: its history is the
    ``minhash_docs`` + ``shingles`` stores. A store_dir from the earlier
    greedy mode keeps survivor band keys under ``minhash`` instead,
    which cannot be verified — resuming on it would silently probe
    empty near-dup history, so the processor refuses it. A store from
    the verified mode, whose ``pipeline_mode`` sidecar is now unused,
    resumes."""
    import pytest

    from parsedmarc_go_spark.streaming.curation import (
        make_curation_pipeline_processor,
    )
    from parsedmarc_go_spark.streaming.dedup import _write_store_meta

    corpus, bench = _pipeline_inputs(spark)
    first = corpus.filter(F.col("doc_id") < 200)
    second = corpus.filter(F.col("doc_id") >= 200)

    greedy = str(tmp_path / "greedy_store")
    _write_store_meta(spark, os.path.join(greedy, "minhash"), 64)
    proc = make_curation_pipeline_processor(
        str(tmp_path / "out_g"), greedy, bench, **_PIPE_KW
    )
    with pytest.raises(ValueError, match="greedy-mode 'minhash'"):
        proc(first, 0)
    assert not os.path.exists(str(tmp_path / "out_g"))  # nothing written

    # a verified-era store: same substores plus the old mode sidecar
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    make_curation_pipeline_processor(out, store, bench, **_PIPE_KW)(first, 0)
    spark.createDataFrame([(True,)], "verify_near_dups boolean").coalesce(
        1
    ).write.json(os.path.join(store, "pipeline_mode"))
    make_curation_pipeline_processor(out, store, bench, **_PIPE_KW)(second, 1)
    fates = spark.read.parquet(os.path.join(out, "pipeline_fates")).collect()
    assert len(fates) == corpus.count()
