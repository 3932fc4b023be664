"""Recall harness for the approximate-retrieval family (round-6 verdict
task 1).

The ANN operators had agreement and plan tests but no RECALL number —
the property an LLM-dedup pipeline actually budgets against ("at probe
budget X we find fraction Y of true neighbors"). This script plants
KNOWN near-neighbors in a synthetic corpus, takes exact brute-force
top-k as ground truth, and measures recall@k across the probe-budget
grid for:

- IVF (trained spherical k-means cells, persisted index, nprobe grid) —
  `clustering.build_ivf_index` + `ivf_topk_indexed`, the real
  partition-pruned probe path;
- hyperplane LSH (n_planes × multiprobe grid, then the multi-table
  OR-amplification grid) — `lsh_topk`, whose per-query results are
  pinned identical to a batch of one and to `lsh_topk_indexed` in
  tests.

Every probe takes the whole query set as one (query_id, q) batch, so
one job measures a config.

Alongside recall it reports the SCAN fraction (rows the probe actually
touches / corpus rows) — recall without its scan budget is
meaningless; together they are the operating curve.

Corpus design (all seeded → the table is reproducible):
- N base vectors ~ N(0,1)^dim: max pairwise cosine concentrates around
  sqrt(2 ln N / dim) ≈ 0.5, well below every planted tier;
- Q held-out queries, each with 10 planted neighbors at two tiers —
  5 tight (cosine ≈ 0.94) and 5 loose (cosine ≈ 0.86). Loose neighbors
  cross hyperplanes more often, which is exactly what multi-probe is
  for, so the grid shows the effect where it matters.
- Ground truth per query is therefore its 10 planted ids (verified
  against numpy brute force, not assumed).

Usage: python scripts/ann_recall.py [--n-base 2000] [--n-queries 20]
Prints a markdown table (paste into SCALE.md) and writes RECALL.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 64
K = 10
TIERS = ((5, 0.35), (5, 0.60))  # (count, noise sigma): cos ≈ 1/sqrt(1+σ²)


def make_corpus(n_base: int, n_queries: int, seed: int = 7):
    """Returns (corpus_rows, query_rows, truth): corpus = [(vec_id,
    label, embedding)], queries = [(query_id, q)], truth[query_id] =
    set of 10 planted vec_ids (validated as the exact brute-force
    top-10 before returning)."""
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_base, DIM))
    queries = rng.standard_normal((n_queries, DIM))
    planted, truth = [], {}
    next_id = n_base
    for qi in range(n_queries):
        truth[qi] = set()
        for count, sigma in TIERS:
            for _ in range(count):
                v = queries[qi] + sigma * rng.standard_normal(DIM)
                planted.append(v)
                truth[qi].add(next_id)
                next_id += 1
    X = np.vstack([base, np.vstack(planted)])
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    Uq = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    # validate the design: exact top-10 per query IS the planted set
    sims = Uq @ U.T
    for qi in range(n_queries):
        top = set(np.argsort(-sims[qi])[:K].tolist())
        assert top == truth[qi], (
            f"planted set is not the exact top-{K} for query {qi}: "
            f"corpus too small or sigma too loose"
        )
    corpus = [(i, 0, [float(x) for x in X[i]]) for i in range(len(X))]
    qrows = [(qi, [float(x) for x in queries[qi]]) for qi in range(n_queries)]
    return corpus, qrows, truth


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-base", type=int, default=2000)
    ap.add_argument("--n-queries", type=int, default=20)
    ap.add_argument("--out", default="RECALL.json")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from parsedmarc_go_spark.operators.clustering import build_ivf_index, ivf_topk_indexed
    from parsedmarc_go_spark.operators.similarity import lsh_topk, with_hyperplane_buckets
    from parsedmarc_go_spark.session import get_spark

    spark = get_spark(app_name="ann-recall", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    corpus_rows, qrows, truth = make_corpus(args.n_base, args.n_queries)
    n_total = len(corpus_rows)
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, label int, embedding array<double>"
    ).cache()
    corpus.count()
    queries = spark.createDataFrame(qrows, "query_id long, q array<double>")

    def recall(topk) -> float:
        got: dict[int, set] = {}
        for r in topk.collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        hits = sum(len(got.get(qi, set()) & truth[qi]) for qi, _ in qrows)
        return round(hits / (K * len(qrows)), 3)

    results: list[dict] = []

    # ---- IVF: persisted index, nprobe grid --------------------------------
    idx = "/tmp/spark_graft_recall/ivf_idx"
    cents = build_ivf_index(corpus, idx, n_cells=16, max_iters=5)
    cell_rows = {
        r["cell"]: r["n"]
        for r in spark.read.parquet(idx).groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    for nprobe in (1, 2, 4, 8):
        # scan cost = rows in the probed cells (what the pruned read touches)
        scanned = 0
        for _, qv in qrows:
            uq = np.array(qv) / np.linalg.norm(qv)
            ranked = sorted(
                range(len(cents)),
                key=lambda i: (-float(np.dot(cents[i], uq)), i),
            )[:nprobe]
            scanned += sum(cell_rows.get(c, 0) for c in ranked)
        results.append(
            {
                "operator": "ivf_topk_indexed",
                "config": f"n_cells=16 nprobe={nprobe}",
                "recall_at_10": recall(
                    ivf_topk_indexed(spark, idx, queries, k=K, nprobe=nprobe, cents=cents)
                ),
                "scan_frac": round(scanned / (n_total * len(qrows)), 3),
            }
        )

    # ---- LSH: n_planes × multiprobe grid, then OR-amplified tables --------
    grid = [(n_planes, 1, mp) for n_planes in (4, 6, 8) for mp in (0, 1, 2)]
    grid += [(8, 2, 0), (8, 4, 0), (8, 4, 1), (6, 4, 0)]
    for n_planes, n_tables, mp in grid:
        # candidate rows the probe touches, per query, averaged: all-table
        # buckets on both sides, the probe's OR-of-bit_count join, count
        bucketed = corpus
        qb = queries.select("query_id", F.col("q").alias("embedding"))
        for t in range(n_tables):
            off = t * n_planes
            bucketed = with_hyperplane_buckets(bucketed, n_planes, "embedding", f"__b{t}", off)
            qb = with_hyperplane_buckets(qb, n_planes, "embedding", f"__qb{t}", off)
        cond = None
        for t in range(n_tables):
            c = F.expr(f"bit_count(__b{t} ^ __qb{t}) <= {mp}")
            cond = c if cond is None else (cond | c)
        n_cand = bucketed.join(F.broadcast(qb.drop("embedding")), cond, "inner").count()
        tables = f" n_tables={n_tables}" if n_tables > 1 else ""
        results.append(
            {
                "operator": "lsh_topk",
                "config": f"n_planes={n_planes}{tables} multiprobe={mp}",
                "recall_at_10": recall(
                    lsh_topk(
                        corpus, queries, k=K, n_planes=n_planes, n_tables=n_tables, multiprobe=mp
                    )
                ),
                "scan_frac": round(n_cand / (n_total * len(qrows)), 3),
            }
        )

    # ---- pair recall for LSH-blocked cosine near-dup ----------------------
    # the last approximate operator without a recall number: blocking by
    # hyperplane bucket requires BOTH endpoints of a pair to share the
    # bucket, so pair recall ≈ (1-θ/π)^planes — much harsher than query
    # recall. Ground truth: exact all-pairs cosine ≥ threshold (numpy).
    from parsedmarc_go_spark.operators.similarity import cosine_neardup_pairs_lsh

    X = np.vstack([np.array(v) for _, _, v in corpus_rows])
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = U @ U.T
    thr = 0.7
    iu = np.triu_indices(len(U), k=1)
    true_pairs = {
        (int(a), int(b))
        for a, b in zip(iu[0][C[iu] >= thr], iu[1][C[iu] >= thr])
    }
    for n_planes, n_tables in ((2, 1), (3, 1), (4, 1), (4, 2), (4, 4), (3, 4)):
        found = {
            (int(r.vec_a), int(r.vec_b))
            for r in cosine_neardup_pairs_lsh(
                corpus, threshold=thr, n_planes=n_planes, n_tables=n_tables
            ).collect()
        }
        assert found <= true_pairs, "verify step must keep precision exact"
        # work proxy: Σ over tables of Σ|bucket|², relative to N²
        work = 0
        for t in range(n_tables):
            b = with_hyperplane_buckets(corpus, n_planes, "embedding", "hp_bucket", t * n_planes)
            sizes = [
                r["n"] for r in b.groupBy("hp_bucket").agg(F.count("*").alias("n")).collect()
            ]
            work += sum(s * s for s in sizes)
        results.append(
            {
                "operator": "cosine_neardup_pairs_lsh",
                "config": f"n_planes={n_planes} n_tables={n_tables} threshold={thr}",
                "pair_recall": round(len(found) / max(len(true_pairs), 1), 3),
                "pairwork_frac": round(work / len(U) ** 2, 3),
            }
        )

    meta = {
        "n_base": args.n_base,
        "n_queries": args.n_queries,
        "n_corpus": n_total,
        "dim": DIM,
        "k": K,
        "tiers": [{"count": c, "sigma": s} for c, s in TIERS],
        "results": results,
    }
    with open(args.out, "w") as f:
        json.dump(meta, f, indent=2)

    print(f"\ncorpus: {n_total} rows ({args.n_queries} queries x 10 planted), dim {DIM}\n")
    print("| operator | config | recall | scan/work fraction |")
    print("|---|---|---|---|")
    for r in results:
        rec = r.get("recall_at_10", r.get("pair_recall"))
        cost = r.get("scan_frac", r.get("pairwork_frac"))
        print(f"| {r['operator']} | {r['config']} | {rec:.3f} | {cost:.3f} |")


if __name__ == "__main__":
    main()
