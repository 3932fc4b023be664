"""Similarity-search queries over the `embeddings` table.

Brute-force cosine top-k, blocked near-dup pairs, and (since round 15)
the label-cell IVF probe carry exact DuckDB oracles
(list_cosine_similarity over DOUBLE[] casts; outputs rounded to 4
decimals with id tie-breaks so the hash compare is stable; IVF
centroids reduce in exact DECIMAL(38,18) on both engines, so the cell
choice bit-matches). The TRAINED variants (Lloyd loops, PQ codebooks)
remain rows-only — an iterative training loop is not one SQL statement
— but their builds are bit-deterministic under any partitioning since
round 15 (exact-decimal update sums), cross-sweep hash-pinned, and
recall-pinned in RECALL.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parsedmarc_go_spark.operators.similarity import (
    brute_force_topk,
    cosine_neardup_pairs,
    ivf_topk,
    query_vector,
)
from parsedmarc_go_spark.plans.registry import query
from parsedmarc_go_spark.tables import load


@query(
    "ann_topk_bruteforce",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS cosine_sim
    FROM embeddings e, q
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, query_vector(emb, 0), k=10)


@query(
    "ann_ivf_topk",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    ex AS (
      SELECT label,
             unnest(generate_series(1, len(CAST(embedding AS DOUBLE[])))) AS dim,
             unnest(CAST(embedding AS DOUBLE[])) AS x
      FROM embeddings
    ),
    cent AS (
      SELECT label, list(m ORDER BY dim) AS centroid
      FROM (
        SELECT label, dim,
               CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
        FROM ex GROUP BY label, dim
      ) GROUP BY label
    ),
    probe AS (
      SELECT c.label
      FROM cent c, q
      ORDER BY ROUND(list_cosine_similarity(c.centroid, q.qv), 4) DESC, c.label ASC
      LIMIT 3
    )
    SELECT e.vec_id, e.label,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS cosine_sim
    FROM embeddings e JOIN probe USING (label), q
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-cell IVF probe. Oracle-bearing since round 15: the exact-
    decimal centroid reduction (operators/similarity.py::ivf_centroids)
    is the same arithmetic DuckDB runs above — exact DECIMAL(38,18)
    sums, one cast to double, one double division — so the centroids
    agree bit-for-bit and the probed cell choice and rounded cosines
    value-match. Under the old float avg the gate had to register
    rows-only (merge-order last bits could flip a near-tie probe)."""
    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk(emb, query_vector(emb, 0), k=10, nprobe=3)


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.label AS block, a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(a.v, b.v), 4) AS cosine_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_neardup_pairs(load(spark, sf_dir, "embeddings"), threshold=0.4)


@query("dedup_embedding_cosine_chunked")
def dedup_embedding_cosine_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oversized-block guard for the cosine near-dup operator:
    chunk-pair decomposition (similarity.py::cosine_neardup_pairs
    chunk_rows) bounds task memory at 2·chunk_rows vectors and raises
    per-block parallelism to n_chunks². Rows-only entry: output is
    pinned IDENTICAL to the hash-matched dedup_embedding_cosine gate in
    tests/test_dedup.py, which is stronger than a second oracle.
    chunk_rows=16 deliberately forces multi-chunk blocks at test SF."""
    return cosine_neardup_pairs(
        load(spark, sf_dir, "embeddings"), threshold=0.4, chunk_rows=16
    )


@query("ann_ivf_kmeans_topk")
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with TRAINED cells: spherical k-means over the unlabeled
    embedding column (operators/clustering.py), probe the 4 of 8 cells
    nearest the query, exact top-k inside. Rows-only: training runs
    Spark jobs at call time (a Lloyd loop is not one SQL statement);
    tests/test_kmeans.py pins determinism, planted-cluster recovery,
    map-side-only assignment, and >=8/10 agreement with brute force."""
    from parsedmarc_go_spark.operators.clustering import ivf_topk_trained

    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk_trained(
        emb, query_vector(emb, 0), k=10, nprobe=4, n_cells=8, max_iters=5
    )


@query("ann_lsh_topk")
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH-bucketed ANN with Hamming-1 multi-probe
    (rows-only: bucket membership depends on Spark-side xxhash64 plane
    generation; recall vs brute force is asserted in tests/test_dedup.py).
    multiprobe=1 is the measured production default — single-bucket
    probing silently drops neighbors across one hyperplane (recall@10
    0.51 at 4 planes on the planted-neighbor harness); probing the
    bit-flip neighborhood lifts it to 0.875 (scripts/ann_recall.py,
    table in SCALE.md)."""
    from parsedmarc_go_spark.operators.similarity import lsh_topk

    emb = load(spark, sf_dir, "embeddings")
    return lsh_topk(emb, query_vector(emb, 0), k=10, n_planes=4, multiprobe=1).drop(
        "query_id"
    )


@query("ann_lsh_multitable")
def ann_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified multi-table LSH ANN (8 planes × 4 disjoint plane
    families; candidate = collides with the query in ANY table) — the
    recall-critical configuration from the SCALE.md operating table
    (0.985 recall@10 with multiprobe=1 on the planted harness).
    Rows-only: bucket membership depends on Spark-side xxhash64 plane
    generation; batch-of-one identity and indexed-path identity are
    pinned in tests/test_ann_recall.py."""
    from parsedmarc_go_spark.operators.similarity import lsh_topk

    emb = load(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb, query_vector(emb, 0), k=10, n_planes=8, n_tables=4, multiprobe=1
    ).drop("query_id")


@query("emb_quantize_int8")
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the 4× storage play for a 100 TB embedding corpus. Rows-only
    (TINYINT arrays hash differently across engines' type systems);
    the error bound that matters — quantized top-10 matches exact
    top-10 ≥9/10 with per-pair cosine error ≤ 0.005 — is pinned in
    tests/test_ann_recall.py."""
    from parsedmarc_go_spark.operators.similarity import quantize_embeddings

    return quantize_embeddings(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "q_scale", "embedding_q"
    )


def _lsh_index_path(sf_dir: str) -> str:
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return f"/tmp/spark_graft_idx/lsh_{tag}_p6"


@query("ann_lsh_indexed")
def ann_lsh_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The build-once LSH probe path as a first-class query: persist the
    bucketed corpus partitionBy(hp_bucket) once per sf_dir (build lands
    in any warm-up pass; probes after it never re-hash the corpus),
    then Hamming-1 multi-probe top-k where the ``hp_bucket IN (…)``
    predicate is partition pruning (plan-asserted in test_dedup).
    Rows-only: results are pinned identical to the ad-hoc lsh_topk at
    the same (n_planes, multiprobe) in tests/test_ann_recall.py."""
    import os

    from parsedmarc_go_spark.operators.similarity import build_lsh_index, lsh_topk_indexed

    emb = load(spark, sf_dir, "embeddings")
    path = _lsh_index_path(sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build_lsh_index(emb, path, n_planes=6)
    return lsh_topk_indexed(spark, path, query_vector(emb, 0), k=10, multiprobe=1).drop(
        "query_id"
    )


@query("semdedup_embeddings")
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embeddings table: k-means
    cells → within-cell cosine groups at tau → keep the least
    centroid-similar member per group. Rows-only (k-means init and the
    BLAS pair stage have no DuckDB twin); the keep rule and planted
    duplicate collapse are pinned in tests/test_semdedup.py."""
    from parsedmarc_go_spark.operators.clustering import semdedup

    return semdedup(load(spark, sf_dir, "embeddings"), n_clusters=8, tau=0.999)


@query("ann_ivf_pq_topk")
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ probe (Jégou 2011) as a first-class query: build the
    coarse-cell + product-quantized index once per sf_dir (m=8 byte
    codes per 64-dim vector + the int8 refine copy), then
    partition-pruned ADC shortlist + exact int8 rerank. Rows-only (the
    codebooks depend on float accumulation order); recall measured on
    the planted-neighbor harness (scripts/pq_recall.py → RECALL.json),
    shortlist/rerank invariants pinned in tests/test_pq.py."""
    import os

    from parsedmarc_go_spark.operators.pq import (
        build_ivf_pq_index,
        ivf_pq_topk_indexed,
    )

    emb = load(spark, sf_dir, "embeddings")
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"/tmp/spark_graft_idx/ivfpq_{tag}_m8"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build_ivf_pq_index(emb, path, n_cells=8, m=8, ks=16, max_iters=4)
    return ivf_pq_topk_indexed(
        spark, path, query_vector(emb, 0), k=10, nprobe=3, rerank=50
    )


# Hybrid retrieve-then-rerank (round 10): BM25 lexical top-50 reranked
# by exact cosine against the vec_id=0 query vector — the RAG-pipeline
# composition of two already-oracle'd stages. The oracle nests the
# text_bm25_rank CTE verbatim (same planted query), cuts candidates on
# the grid-quantized score with an id tie-break (deterministic
# boundary), and reranks with the ann_topk_bruteforce cosine idiom.
def _hybrid_oracle() -> str:
    from parsedmarc_go_spark.plans.curation import _BM25_ORACLE

    return f"""
    WITH bm AS ({_BM25_ORACLE}),
    cand AS (SELECT doc_id, score AS bm25_score FROM bm
             ORDER BY score DESC, doc_id LIMIT 50),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
          WHERE vec_id = 0)
    SELECT c.doc_id, c.bm25_score,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv),
                 4) AS cosine_sim
    FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id CROSS JOIN q
    ORDER BY cosine_sim DESC, c.doc_id
    LIMIT 10
    """


@query("retrieval_hybrid_rerank", oracle=_hybrid_oracle())
def retrieval_hybrid_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-50 → cosine rerank top-10 against the vec_id=0 query.
    Same planted 4-term query as text_bm25_rank (doc_id % 4 == 1 class
    carries the phrase). See operators/retrieval.py::hybrid_rerank."""
    from parsedmarc_go_spark.operators.retrieval import hybrid_rerank
    from parsedmarc_go_spark.operators.similarity import query_vector

    docs = load(spark, sf_dir, "documents")
    itext = F.when(
        F.col("doc_id") % 4 == 1,
        F.concat(F.col("text"), F.lit(" alpha bravo alpha needle")),
    ).otherwise(F.col("text"))
    t = docs.select("doc_id", itext.alias("text"))
    emb = load(spark, sf_dir, "embeddings")
    return hybrid_rerank(
        t, emb, ["alpha", "bravo", "needle", "zz_absent_term"],
        query_vector(emb, 0), n_candidates=50, k=10,
    )
