"""LSH-family operators vs their exact counterparts (the oracle-less
queries get their correctness story here)."""

from __future__ import annotations

import pytest

from parsedmarc_go_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    with_simhash,
)
from parsedmarc_go_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    query_vector,
)
from parsedmarc_go_spark.tables import load
from tests.conftest import SF_CORRECT, SF_SMOKE, ranked


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.select("doc_a", "doc_b").collect()}


def test_minhash_lsh_matches_exact_sf001(spark):
    docs = load(spark, SF_SMOKE, "documents")
    exact = _pairs(ngram_jaccard_pairs(docs, threshold=0.7))
    lsh = _pairs(minhash_lsh_pairs(docs, threshold=0.7))
    assert lsh <= exact, "LSH must never emit a pair below the verified threshold"
    missed = exact - lsh
    assert not missed, f"LSH missed pairs at this corpus size: {missed}"


def test_minhash_lsh_matches_exact_sf01(spark):
    docs = load(spark, SF_CORRECT, "documents")
    exact = _pairs(ngram_jaccard_pairs(docs, threshold=0.7))
    lsh = _pairs(minhash_lsh_pairs(docs, threshold=0.7))
    assert lsh <= exact
    recall = len(lsh & exact) / max(len(exact), 1)
    assert recall == 1.0, f"recall {recall}: missed {exact - lsh}"


def test_minhash_max_bucket_bounds_boilerplate(spark):
    """Round-16 skew fix: a boilerplate-heavy corpus puts thousands of
    sub-threshold docs into the same LSH band buckets (skew-sf1
    measured 791 s for ZERO output rows — 112M candidate pairs all
    rejected by the verify). max_bucket excludes over-cap buckets from
    pair generation; near-dup pairs whose similarity lives in their
    non-boilerplate content collide in small unique-shingle buckets
    and must all survive the cap."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(5000)]
    boiler = " ".join(f"b{i}" for i in range(110))
    rows, planted, did = [], [], 0
    for _ in range(400):
        uniq = " ".join(rng.choice(vocab) for _ in range(55))
        rows.append((did, uniq + " " + boiler))
        did += 1
    for _ in range(20):
        words = [rng.choice(vocab) for _ in range(60)]
        mutated = list(words)
        mutated[5] = "zzz"
        rows.append((did, " ".join(words)))
        rows.append((did + 1, " ".join(mutated)))
        planted.append((did, did + 1))
        did += 2
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = _pairs(minhash_lsh_pairs(docs, threshold=0.7, max_bucket=100))
    assert set(planted) <= capped, "clean near-dups lost to the bucket cap"
    uncapped = _pairs(minhash_lsh_pairs(docs, threshold=0.7))
    # the cap only ever removes candidates — never invents pairs
    assert capped <= uncapped
    # and on this corpus the boiler pairs are sub-threshold, so the
    # verified outputs agree exactly
    assert capped == uncapped


def test_simhash_deterministic_and_symmetric(spark):
    docs = load(spark, SF_SMOKE, "documents")
    sh1 = {r.doc_id: r.simhash for r in with_simhash(docs).collect()}
    sh2 = {r.doc_id: r.simhash for r in with_simhash(docs).collect()}
    assert sh1 == sh2, "simhash must be deterministic"
    pairs = simhash_pairs(docs, max_hamming=3).collect()
    seen = {(r.doc_a, r.doc_b) for r in pairs}
    assert all(a < b for a, b in seen)
    assert all(r.hamming <= 3 for r in pairs)


def test_ivf_recall_vs_bruteforce(spark):
    emb = load(spark, SF_CORRECT, "embeddings")
    q = query_vector(emb, 0)
    exact = [r.vec_id for r in brute_force_topk(emb, q, k=10).collect()]
    approx = [r.vec_id for r in ivf_topk(emb, q, k=10, nprobe=3).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"IVF recall@10 too low: {recall} ({approx} vs {exact})"
    # the query vector itself lives in a probed cell → must be found
    assert approx[0] == 0


def test_lsh_bucketed_ann_finds_self_and_overlaps(spark):
    from parsedmarc_go_spark.operators.similarity import (
        lsh_topk,
        with_hyperplane_buckets,
    )

    emb = load(spark, SF_CORRECT, "embeddings")
    q = query_vector(emb, 0)
    got = [vid for vid, _ in ranked(lsh_topk(emb, q, k=10, n_planes=4))]
    assert got, "query bucket empty"
    assert got[0] == 0, "query vector must rank first in its own bucket"
    # buckets are deterministic and partition the corpus
    b1 = {r.vec_id: r.hp_bucket for r in with_hyperplane_buckets(emb, 4).collect()}
    b2 = {r.vec_id: r.hp_bucket for r in with_hyperplane_buckets(emb, 4).collect()}
    assert b1 == b2
    assert all(0 <= v < 16 for v in b1.values())


def test_lsh_blocked_cosine_subset_of_threshold(spark):
    from parsedmarc_go_spark.operators.similarity import cosine_neardup_pairs_lsh

    emb = load(spark, SF_CORRECT, "embeddings")
    pairs = cosine_neardup_pairs_lsh(emb, threshold=0.3, n_planes=4).collect()
    assert all(r.cosine_sim >= 0.3 for r in pairs)
    assert all(r.vec_a < r.vec_b for r in pairs)
    # deterministic
    again = cosine_neardup_pairs_lsh(emb, threshold=0.3, n_planes=4).collect()
    assert {(r.vec_a, r.vec_b) for r in pairs} == {(r.vec_a, r.vec_b) for r in again}


def test_simhash_banding_finds_hamming_4_to_6(spark):
    """VERDICT r1 'what's wrong' #2: the old default (bands=4, 16-bit
    bands) only guaranteed recall for Hamming <= 3; pairs at distance
    4-6 with their flipped bits spread across all four quarters shared
    no band and were silently missed. The fix defaults bands to
    max_hamming + 1, restoring the pigeonhole guarantee."""
    import pytest

    from parsedmarc_go_spark.operators.dedup import simhash_banded_pairs

    base = 0x0123456789ABCDEF
    # flipped bits spread so no 16-bit quarter (old banding) is shared
    h4 = base ^ ((1 << 0) | (1 << 16) | (1 << 32) | (1 << 48))
    h5 = h4 ^ (1 << 17)
    h6 = h5 ^ (1 << 33)
    sh = spark.createDataFrame(
        [("d0", base), ("d4", h4), ("d5", h5), ("d6", h6)],
        "doc_id string, simhash long",
    )
    # the old default is now rejected outright: recall guarantee broken
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_banded_pairs(sh, max_hamming=6, bands=4)
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_banded_pairs(sh, max_hamming=6).collect()
    }
    assert pairs[("d0", "d4")] == 4
    assert pairs[("d0", "d5")] == 5
    assert pairs[("d0", "d6")] == 6


def test_simhash_band_slices_cover_64_bits(spark):
    from parsedmarc_go_spark.operators.dedup import _band_slices

    for bands in (1, 4, 7, 9, 64):
        slices = _band_slices(bands)
        assert len(slices) == bands
        assert sum(w for _, w in slices) == 64
        pos = 0
        for shift, width in slices:
            assert shift == pos and width >= 1
            pos += width


def test_exact_dedup_fingerprint_only_mode(spark):
    """keep_text=False: the 100 TB path where the exchange carries only
    32-byte digests — same groups, no text column."""
    from parsedmarc_go_spark.operators.dedup import exact_dedup_groups

    docs = spark.createDataFrame(
        [(1, "a  b"), (2, "A B"), (3, "c")], "doc_id long, text string"
    )
    slim = exact_dedup_groups(docs, "doc_id", "text", keep_text=False)
    assert slim.columns == ["fingerprint", "keep_id", "dup_count"]
    got = {r.keep_id: r.dup_count for r in slim.collect()}
    assert got == {1: 2, 3: 1}


def test_neardup_clusters_planted_chain(spark):
    """Chain a-b-c plus pair d-e: components {a,b,c} and {d,e}, labeled
    by their smallest member — transitively, not just per-pair."""
    from parsedmarc_go_spark.operators.dedup import neardup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r.doc: r.cluster_id for r in neardup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_neardup_clusters_long_chain_converges(spark):
    from parsedmarc_go_spark.operators.dedup import neardup_clusters

    n = 12  # diameter > a couple of rounds: 0-1-2-...-12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    got = {r.doc: r.cluster_id for r in neardup_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_bigstar_clusters_chain_in_log_rounds(spark):
    """The adversarial shape for min-label propagation: a 256-node
    chain has diameter 256, so `neardup_clusters` needs ~256 rounds —
    large-star/small-star must solve it within 12 (≈ log2 + convergence
    detection), or this times out the iteration cap and returns wrong
    labels."""
    from parsedmarc_go_spark.operators.dedup import neardup_clusters_bigstar

    n = 256
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {
        r.doc: r.cluster_id
        for r in neardup_clusters_bigstar(pairs, max_iterations=12).collect()
    }
    assert got == {i: 0 for i in range(n)}


@pytest.mark.slow  # >10 s wall: excluded from the default lane (run -m "")
def test_bigstar_agrees_with_min_label_on_random_graphs(spark):
    """Equality pin between the O(log n)-round and O(diameter)-round
    algorithms on graphs with mixed shapes: blobs, chains, bridges,
    two-node islands."""
    import random

    from parsedmarc_go_spark.operators.dedup import (
        neardup_clusters,
        neardup_clusters_bigstar,
    )

    rng = random.Random(13)
    edges = set()
    for base in range(0, 60, 10):  # six 10-node blobs, random density
        ids = list(range(base, base + 10))
        for _ in range(12):
            a, b = rng.sample(ids, 2)
            edges.add((a, b))
    edges |= {(100 + i, 101 + i) for i in range(20)}  # a chain
    edges |= {(5, 100), (200, 201)}  # bridge blob↔chain + an island
    pairs = spark.createDataFrame(sorted(edges), "doc_a long, doc_b long")
    ml = {
        r.doc: r.cluster_id
        for r in neardup_clusters(pairs, algorithm="minlabel").collect()
    }
    bs = {r.doc: r.cluster_id for r in neardup_clusters_bigstar(pairs).collect()}
    assert bs == ml
    assert len(set(ml.values())) > 3  # the fixture really has several components


def test_bigstar_agrees_with_oracle_checked_gate_on_corpus(spark):
    """On the real gate pair graph (exact Jaccard ≥ 0.6 over the
    documents table) the bigstar labels must equal the recursive-CTE-
    oracled `dedup_cluster_components` output row for row."""
    from parsedmarc_go_spark.operators.dedup import neardup_clusters_bigstar
    from parsedmarc_go_spark.plans import QUERIES
    from parsedmarc_go_spark.plans.textops import ngram_jaccard_pairs

    gate = {
        (r.doc, r.cluster_id)
        for r in QUERIES["dedup_cluster_components"](spark, SF_CORRECT).collect()
    }
    pairs = ngram_jaccard_pairs(load(spark, SF_CORRECT, "documents"), threshold=0.6)
    bs = {(r.doc, r.cluster_id) for r in neardup_clusters_bigstar(pairs).collect()}
    assert bs == gate


def test_keep_best_exact_matches_oracle(spark):
    """The exact keep-best path lost its driver gate slot to the
    production minhash twin in r7; this test keeps it value-anchored by
    running the SAME recursive-CTE oracle compare the driver used to."""
    from parsedmarc_go_spark.plans import QUERIES
    from parsedmarc_go_spark.plans.textops import _KEEP_BEST_ORACLE
    from tests.conftest import SF_CORRECT
    from tests.oracle_harness import compare, run_oracle

    errs = compare(
        QUERIES["dedup_keep_best"](spark, SF_CORRECT),
        run_oracle(_KEEP_BEST_ORACLE, SF_CORRECT),
    )
    assert not errs, errs[:3]


@pytest.mark.slow  # >10 s wall: excluded from the default lane (run -m "")
def test_keep_best_minhash_agrees_with_exact(spark):
    """dedup_keep_best_minhash (the 100 TB path) must make the same
    keep decisions as the oracle-checked exact variant at gate SF: the
    LSH S-curve at b=16,r=2 catches j>=0.6 with P~0.9992 and the verify
    step keeps precision exact, so the pair graphs — and therefore the
    clusters and kept docs — coincide."""
    from parsedmarc_go_spark.plans import QUERIES
    from tests.conftest import SF_CORRECT

    exact = {
        (r.cluster_id, r.keep_doc, r.quality, r.n_members)
        for r in QUERIES["dedup_keep_best"](spark, SF_CORRECT).collect()
    }
    mh = {
        (r.cluster_id, r.keep_doc, r.quality, r.n_members)
        for r in QUERIES["dedup_keep_best_minhash"](spark, SF_CORRECT).collect()
    }
    assert exact == mh


def test_lsh_index_build_once_prunes_partitions(spark, tmp_path):
    """SCALE.md's LSH scale story executed: persist hyperplane buckets
    partitionBy(hp_bucket), probe one bucket, and prove the predicate
    lands in PartitionFilters with results identical to the ad-hoc
    re-hash path at the same plane count."""
    from parsedmarc_go_spark.operators.similarity import (
        build_lsh_index,
        lsh_topk,
        lsh_topk_indexed,
        query_vector,
    )
    from parsedmarc_go_spark.tables import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "lsh_index")
    build_lsh_index(emb, path, n_planes=6)

    q = query_vector(emb, 0)
    topk = lsh_topk_indexed(spark, path, q, k=10)

    plan = topk._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan and "hp_bucket" in scan[0], plan

    adhoc = ranked(lsh_topk(emb, q, k=10, n_planes=6))
    indexed = ranked(topk)
    assert indexed == adhoc and indexed[0][0] == 0


def test_chunked_cosine_pairs_identical_to_blocked(spark):
    """The chunk-pair decomposition (oversized-block guard) must emit
    EXACTLY the pairs of the single-task blocked path — same ids, same
    orientation, same rounded cosines. chunk_rows=16 splits the 50-row
    gate blocks into 4 chunks → 10 chunk-pair tasks per block, so the
    within-chunk, cross-chunk, and ragged-tail codepaths all execute."""
    from parsedmarc_go_spark.plans import QUERIES
    from tests.conftest import SF_CORRECT

    def rows(name):
        return {
            (r.block, r.vec_a, r.vec_b, r.cosine_sim)
            for r in QUERIES[name](spark, SF_CORRECT).collect()
        }

    blocked = rows("dedup_embedding_cosine")
    chunked = rows("dedup_embedding_cosine_chunked")
    assert blocked == chunked and len(blocked) > 0


def test_simhash_hot_bucket_guard_is_lossy_but_observable(spark):
    """The sf1 finding's executable guard: 60 byte-identical docs share
    every band bucket; with max_bucket=10 those buckets generate no
    candidates (bounding the |bucket|² term), the skip is REPORTED via
    stats, and pairs living in small buckets still come through."""
    from parsedmarc_go_spark.operators.dedup import simhash_pairs

    clones = [(i, "alpha beta gamma delta epsilon zeta") for i in range(60)]
    near = [
        (100, "one two three four five six seven eight nine ten eleven twelve"),
        (101, "one two three four five six seven eight nine ten eleven dozen"),
    ]
    docs = spark.createDataFrame(clones + near, "doc_id long, text string")

    uncapped = simhash_pairs(docs, max_hamming=6).collect()
    assert len(uncapped) >= 60 * 59 // 2  # the clone clique dominates

    stats: dict = {}
    capped = simhash_pairs(docs, max_hamming=6, max_bucket=10, stats=stats).collect()
    got = {(r.doc_a, r.doc_b) for r in capped}
    assert (100, 101) in got, "small-bucket pair must survive the cap"
    assert not any(a < 100 and b < 100 for a, b in got), "clone clique must be skipped"
    assert stats["skipped_buckets"] >= 7  # every band bucket of the clique
    assert stats["skipped_rows"] >= 60 * 7


def test_lsh_pair_finder_multitable_unions_and_stays_exact(spark):
    """OR-amplified pair finding: n_tables=4 must find a strict
    superset of the single-table pairs (same planes), every emitted
    cosine must still clear the threshold (precision is the verify
    step's, not the blocker's), and the union must carry no duplicate
    pairs."""
    from parsedmarc_go_spark.operators.similarity import cosine_neardup_pairs_lsh

    emb = load(spark, SF_CORRECT, "embeddings")
    one = cosine_neardup_pairs_lsh(emb, threshold=0.3, n_planes=4, n_tables=1).collect()
    four = cosine_neardup_pairs_lsh(emb, threshold=0.3, n_planes=4, n_tables=4).collect()
    p1 = {(r.vec_a, r.vec_b) for r in one}
    p4 = {(r.vec_a, r.vec_b) for r in four}
    assert p1 < p4, (len(p1), len(p4))
    assert len(p4) == len(four), "union must dedup pairs found by several tables"
    assert all(r.cosine_sim >= 0.3 for r in four)


def test_paragraph_dedup_keep_first_and_reassembly(spark):
    # hand-built corpus: doc 1 owns every paragraph; doc 2 repeats 1's
    # "shared" paragraph between two unique ones; doc 3 is ALL repeats
    from parsedmarc_go_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha\n\nshared\n\nbeta"),
            (2, "gamma\n\nshared\n\ndelta"),
            (3, "shared\n\nalpha"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(docs, sep="\n\n").collect()
    }
    assert out[1]["n_paras"] == 3 and out[1]["n_kept"] == 3
    assert out[1]["dedup_text"] == "alpha\n\nshared\n\nbeta"
    # doc 2 loses only the shared paragraph, order preserved
    assert out[2]["n_kept"] == 2
    assert out[2]["dedup_text"] == "gamma\n\ndelta"
    assert abs(out[2]["para_frac_removed"] - 1 / 3) < 1e-12
    # doc 3: every paragraph already seen earlier -> empty survivor set
    assert out[3]["n_kept"] == 0 and out[3]["dedup_text"] == ""
    assert out[3]["para_frac_removed"] == 1.0


def test_paragraph_dedup_within_doc_repeat_and_empty_paras(spark):
    from parsedmarc_go_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        # doubled separator makes an empty paragraph (dropped from both
        # stats); "x" repeats WITHIN the doc -> keep only pos 0
        [(7, "x\n\n\n\nx\n\ny")],
        ["doc_id", "text"],
    )
    row = paragraph_dedup(docs, sep="\n\n").collect()[0]
    assert row["n_paras"] == 3  # x, x, y (empty dropped)
    assert row["n_kept"] == 2
    assert row["dedup_text"] == "x\n\ny"


def test_paragraph_dedup_regex_sep_requires_join_sep(spark):
    """sep is a SPLIT regex but re-assembly joins literally — a
    metachar sep without an explicit join_sep must raise, not glue
    paragraphs with regex source text (round-9 ADVICE fix)."""
    import pytest

    from parsedmarc_go_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "a\n\nb\n\n\nc")], ["doc_id", "text"]
    )
    with pytest.raises(ValueError, match="join_sep"):
        paragraph_dedup(docs, sep=r"\n{2,}")

    # explicit join_sep: split on the regex, re-join with the literal
    row = paragraph_dedup(docs, sep=r"\n{2,}", join_sep="\n\n").collect()[0]
    assert row["n_paras"] == 3 and row["dedup_text"] == "a\n\nb\n\nc"


def test_paragraph_dedup_okey_overflow_raises(spark, monkeypatch):
    """The <1e6 paragraphs/doc keep-first-key bound is enforced at
    execution time (round-9 ADVICE fix). Patch the base down so the
    fixture can trip it cheaply."""
    import pytest

    from parsedmarc_go_spark.operators import dedup as dedup_mod

    monkeypatch.setattr(dedup_mod, "_PARA_KEY_BASE", 4)
    docs = spark.createDataFrame(
        [(1, "a\n\nb\n\nc\n\nd\n\ne")], ["doc_id", "text"]  # pos 4 >= base 4
    )
    with pytest.raises(Exception, match="1e6 paragraphs|overflow"):
        dedup_mod.paragraph_dedup(docs, sep="\n\n").collect()
    # under the bound: fine
    ok = spark.createDataFrame([(1, "a\n\nb\n\nc")], ["doc_id", "text"])
    assert dedup_mod.paragraph_dedup(ok, sep="\n\n").count() == 1


def test_paragraph_dedup_normalize_fuzzy(spark):
    """normalize=True: spacing/case variants of a paragraph collapse
    (key = normalized_text sha), and the RAW first occurrence is what
    survives into dedup_text."""
    from parsedmarc_go_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "Hello  World\n\nunique one"),
            (2, "hello world\n\nunique two"),   # variant of doc 1 para 0
            (3, "HELLO\tWORLD\n\nunique three"),
        ],
        ["doc_id", "text"],
    )
    # exact mode: nothing collapses
    exact = {r["doc_id"]: r for r in paragraph_dedup(docs, sep="\n\n").collect()}
    assert all(exact[d]["n_kept"] == 2 for d in (1, 2, 3))

    fuzzy = {
        r["doc_id"]: r
        for r in paragraph_dedup(docs, sep="\n\n", normalize=True).collect()
    }
    # doc 1 keeps the RAW original text of the first occurrence
    assert fuzzy[1]["n_kept"] == 2
    assert fuzzy[1]["dedup_text"] == "Hello  World\n\nunique one"
    # docs 2 and 3 lose their variant paragraph
    assert fuzzy[2]["n_kept"] == 1 and fuzzy[2]["dedup_text"] == "unique two"
    assert fuzzy[3]["n_kept"] == 1 and fuzzy[3]["dedup_text"] == "unique three"


def test_containment_catches_what_jaccard_misses(spark):
    from parsedmarc_go_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "alpha bravo charlie delta echo foxtrot"
    long_tail = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, f"{long_tail} {quote}"),  # long doc embedding the quote
            (2, quote),                    # the quote alone
            (3, " ".join(f"z{i}" for i in range(20))),
        ],
        ["doc_id", "text"],
    )
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in ngram_containment_pairs(docs, threshold=0.8).collect()
    }
    # the short doc is fully contained -> containment 1.0
    assert cont == {(1, 2): 1.0}
    # symmetric Jaccard dilutes the same pair below any dedup threshold
    jac = ngram_jaccard_pairs(docs, threshold=0.3).collect()
    assert jac == []


def test_containment_keep_drops_quote_preserves_both_carriers(spark):
    """The asymmetric keep rule: a short quote embedded in TWO long,
    mutually-distinct carriers drops (it is contained), while BOTH
    carriers survive — exactly the case a component keep-one rule gets
    wrong (the quote chains the carriers into one component). Also:
    identical twins keep the smaller id, and chains drop every
    non-maximal member."""
    from pyspark.sql import functions as F

    from parsedmarc_go_spark.operators.dedup import (
        containment_keep,
        ngram_containment_pairs,
    )

    def toks(prefix, n):
        return " ".join(f"{prefix}{j}" for j in range(n))

    quote = "alpha bravo charlie delta echo foxtrot"
    docs = spark.createDataFrame(
        [
            (0, toks("x", 40) + " " + quote),      # carrier X
            (1, toks("y", 40) + " " + quote),      # carrier Y, distinct from X
            (2, quote),                            # the contained quote
            (10, toks("t", 30)),                   # twin pair: equal size
            (11, toks("t", 30)),
            (20, toks("c", 50)),                   # chain: 22 ⊂ 21 ⊂ 20
            (21, toks("c", 30)),
            (22, toks("c", 10)),
        ],
        ["doc_id", "text"],
    )
    pairs = ngram_containment_pairs(docs, threshold=0.8)
    out = {r.doc_id: r for r in containment_keep(docs, pairs).collect()}
    assert out[0].is_kept and out[1].is_kept      # both carriers survive
    assert not out[2].is_kept and out[2].dropped_by == 0
    assert out[10].is_kept and not out[11].is_kept  # twins: smaller id wins
    assert out[11].dropped_by == 10
    assert out[20].is_kept                         # chain: only max survives
    assert not out[21].is_kept and not out[22].is_kept
    # sanity: the carriers never paired with each other (containment
    # between them is diluted by their distinct bodies)
    cp = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (0, 1) not in cp and (1, 0) not in cp


def test_containment_prefix_filter_equals_exact(spark):
    """The PPJoin prefix-filtered generator must equal the exact
    Σfreq² self-join EXACTLY — including the small-in-big pair minhash
    candidates would miss, boundary-containment pairs (shared exactly
    t·|S|), and the empty-off-diagonal — on both a planted corpus and
    the driver's testdata."""
    from parsedmarc_go_spark.operators.dedup import (
        containment_pairs_prefix,
        ngram_containment_pairs,
    )
    from parsedmarc_go_spark.tables import load

    quote = "alpha bravo charlie delta echo foxtrot golf hotel"
    long_tail = " ".join(f"w{i}" for i in range(80))
    # doc 4 shares EXACTLY 8 of doc 5's 10 shingles -> containment 0.8,
    # the threshold boundary the float-safe prefix length must keep
    base12 = " ".join(f"b{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, f"{long_tail} {quote}"),
            (2, quote),
            (3, " ".join(f"z{i}" for i in range(30))),
            (4, base12),
            (5, " ".join(f"b{i}" for i in range(10)) + " q1 q2"),
        ],
        ["doc_id", "text"],
    )

    def rows(df):
        return sorted(
            (r.doc_a, r.doc_b, r.n_a, r.n_b, r.shared, round(r.containment, 9))
            for r in df.collect()
        )

    for t in (0.8, 0.5):
        exact = rows(ngram_containment_pairs(docs, threshold=t))
        for bc in (False, True):
            fast = rows(
                containment_pairs_prefix(docs, threshold=t, broadcast_small_sides=bc)
            )
            assert fast == exact, f"threshold {t} broadcast_small_sides {bc}"
    assert (1, 2) in {(a, b) for a, b, *_ in rows(
        containment_pairs_prefix(docs, threshold=0.8)
    )}

    corpus = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    exact = rows(ngram_containment_pairs(corpus, threshold=0.8))
    fast = rows(containment_pairs_prefix(corpus, threshold=0.8))
    assert fast == exact and len(exact) > 0


def test_gate_default_engine_is_chain_safe(spark):
    """VERDICT r10 item 2: `neardup_clusters` (what the hash-oracled
    `dedup_cluster_components` gate and every production caller reach
    for) now defaults to the large-star/small-star engine — a 10k-node
    chain must converge in O(log n) driver rounds through the DEFAULT
    path, not the O(diameter) min-label twin."""
    from pyspark.sql import functions as F

    from parsedmarc_go_spark.operators.dedup import neardup_clusters

    n = 10_000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    stats = {}
    got = neardup_clusters(pairs, stats=stats)
    assert stats["rounds"] <= 20  # min-label would need ~10,000
    sample = {
        r.doc: r.cluster_id
        for r in got.filter(F.col("doc").isin([0, 1, 4999, 9999])).collect()
    }
    assert sample == {0: 0, 1: 0, 4999: 0, 9999: 0}
    assert got.count() == n


def test_cosine_prefilter_round_parity_near_threshold(spark):
    """The round-17 pre-round candidate bound (similarity.py: filter the
    RAW cosine matrix at threshold - 1e-4, round only survivors) must
    emit exactly the pairs of round-then-compare. Adversarial corpus:
    2-d unit vectors whose pairwise cosines land ON and AROUND the
    4-decimal threshold boundary — cos values like 0.39995 (rounds UP to
    exactly 0.4000, must be kept), 0.399949 (rounds to 0.3999, must be
    dropped even though it survives the pre-filter), and exact-boundary
    0.4000."""
    import math

    import numpy as np

    thr = 0.4
    # angles giving cosines straddling the round boundary vs base vector
    targets = [0.39990, 0.399949, 0.39995, 0.39999, 0.40000, 0.40004,
               0.40005, 0.41, 0.39, -0.2, 0.9999]
    rows = [(0, [1.0, 0.0], 1)]
    for i, c in enumerate(targets, start=1):
        a = math.acos(max(-1.0, min(1.0, c)))
        rows.append((i, [math.cos(a), math.sin(a)], 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")

    from parsedmarc_go_spark.operators.similarity import cosine_neardup_pairs

    def round4(x):
        return float(np.sign(x) * np.floor(np.abs(x) * 1e4 + 0.5) / 1e4)

    # reference: exact all-pairs round-then-compare in plain numpy
    X = np.array([r[1] for r in rows])
    X = X / np.linalg.norm(X, axis=1)[:, None]
    C = X @ X.T
    expect = {
        (a, b, round4(C[a, b]))
        for a in range(len(rows))
        for b in range(a + 1, len(rows))
        if round4(C[a, b]) >= thr
    }

    for chunk in (None, 4):
        got = {
            (r.vec_a, r.vec_b, r.cosine_sim)
            for r in cosine_neardup_pairs(df, threshold=thr, chunk_rows=chunk).collect()
        }
        assert got == expect, (chunk, got ^ expect)
    # the boundary cases actually exercised both sides
    kept_sims = {s for _, _, s in expect}
    assert 0.4 in kept_sims and len(expect) < len(rows) * (len(rows) - 1) / 2
