"""Similarity search over embedding columns (`array<float>`):

- brute-force cosine top-k (the correctness baseline),
- IVF-style probed search (coarse centroids → search nearest cells),
- hyperplane-LSH top-k for a query batch, ad-hoc (lsh_topk) or over a
  persisted bucket-partitioned index (lsh_topk_indexed; the IVF twin is
  clustering.ivf_topk_indexed) — all three end in _score_and_rank,
- cosine near-dup pairs blocked on a partition column.

Dot products / norms are higher-order-function expressions over the
embedding arrays (JVM-side, codegen'd) — no Python in the hot path.
At cluster scale, brute-force top-k is one broadcast of the query
vector + a map-side partial TakeOrdered; IVF cuts the scanned fraction
to nprobe/ncells.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double_vec(col: str, out: str = "v") -> Column:
    return F.expr(f"transform({col}, x -> CAST(x AS DOUBLE))").alias(out)


def dot(a: str, b: str) -> Column:
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")


def norm(a: str) -> Column:
    return F.sqrt(F.expr(f"aggregate({a}, 0D, (acc, x) -> acc + x * x)"))


def cosine(a: str, b: str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of `vectors` against a single-row `query`
    DataFrame (column `q`). The query side is broadcast; the plan is a
    single scan + TakeOrderedAndProject — no shuffle of the corpus.
    Cosine is rounded to 4 decimals with an id tie-break so the k-th
    boundary is deterministic."""
    scored = (
        vectors.select(id_col, "label", as_double_vec(vec_col))
        .crossJoin(F.broadcast(query))
        .select(
            id_col,
            "label",
            F.round(cosine("v", "q"), 4).alias("cosine_sim"),
        )
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


def brute_force_topk_q(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    q_col: str = "embedding_q",
) -> DataFrame:
    """brute_force_topk over int8-QUANTIZED vectors WITHOUT
    dequantizing (VERDICT r7 finding 4: the dequantize-then-score path
    materializes a transient array<double> 8× the stored size for every
    probed row). The symmetric per-vector scale CANCELS in cosine —
    cos(q·s·x̂, y) = (Σ x̂ᵢyᵢ) / (√(Σ x̂ᵢ²)·|y|) for s > 0 — so scoring
    runs on the stored tinyint codes directly; a zero vector (s = 0)
    yields the same 0/0 → NaN as the dequantized path. Ranking
    agreement with dequantize-then-score is pinned in test_kmeans
    (differences are below the 4-decimal rounding both paths share)."""
    scored = (
        vectors.select(id_col, "label", q_col)
        .crossJoin(F.broadcast(query))
        .select(id_col, "label", F.round(_cosine_codes(q_col), 4).alias("cosine_sim"))
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


def _cosine_codes(q_col: str) -> Column:
    """Cosine of int8 codes ``q_col`` against the double query ``q``
    with the per-vector scale cancelled (see brute_force_topk_q)."""
    dotq = F.expr(
        f"aggregate(zip_with({q_col}, q, (x, y) -> CAST(x AS DOUBLE) * y), "
        "0D, (acc, x) -> acc + x)"
    )
    s2 = F.expr(
        f"aggregate({q_col}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    )
    return dotq / (F.sqrt(s2) * norm("q"))


def query_vector(vectors: DataFrame, vec_id: int, vec_col: str = "embedding") -> DataFrame:
    """Vector ``vec_id`` as a (query_id, q) batch of one — the query
    shape every ANN probe takes (query_id = vec_id)."""
    return vectors.filter(F.col("vec_id") == vec_id).select(
        F.col("vec_id").alias("query_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("q"),
    )


def ivf_centroids(vectors: DataFrame, cell_col: str = "label", vec_col: str = "embedding") -> DataFrame:
    """Element-wise mean vector per cell (coarse quantizer). posexplode →
    (cell, dim) partial-agg sum → re-assemble ordered array. The sum
    runs in exact decimal(38,18) so the mean is bit-identical under any
    partitioning / partial-agg merge order (a float avg's last bits
    depend on which partition merges first — ADVICE r14 flagged the
    cross-session hash flaps); one decimal→double cast after the
    division is the only rounding."""
    return (
        vectors.select(cell_col, F.posexplode(vec_col).alias("dim", "x"))
        .groupBy(cell_col, "dim")
        .agg(
            F.sum(F.col("x").cast("decimal(38,18)")).alias("s"),
            F.count("*").alias("n"),
        )
        # cast the EXACT sum to double, then divide: decimal division
        # would rescale under Spark's precision-loss rules (scale can
        # drop to 6); double ops on the already-order-independent sum
        # are per-value deterministic
        .withColumn("m", F.col("s").cast("double") / F.col("n"))
        .groupBy(cell_col)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
        .select(cell_col, F.expr("transform(dm, s -> s.m)").alias("centroid"))
    )


def ivf_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    cell_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probed ANN: rank cells by centroid cosine to the query, scan
    only the nprobe nearest cells, exact top-k within them. The centroid
    table is tiny (ncells rows) and broadcast; the corpus scan is pruned
    by a broadcast semi-join on the probed cells — at scale, with the
    corpus bucketed/partitioned by cell, that prune is partition pruning."""
    cents = ivf_centroids(vectors, cell_col, vec_col)
    probed = (
        cents.crossJoin(F.broadcast(query))
        .select(cell_col, F.round(cosine("centroid", "q"), 4).alias("c_sim"))
        .orderBy(F.desc("c_sim"), F.asc(cell_col))
        .limit(nprobe)
        .select(cell_col)
    )
    pruned = vectors.join(F.broadcast(probed), cell_col, "inner")
    return brute_force_topk(pruned, query, k, id_col, vec_col)


def cosine_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.4,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk_rows: int | None = 1024,
    pair_mode: str = "all",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocks. Blocking on
    the block column keeps the pair space |block|² instead of |corpus|²
    — the blocking key at scale is an LSH bucket or IVF cell rather
    than a label.

    Implemented as applyInPandas with a BLAS matmul per block: the
    all-pairs dot product is dense linear algebra, where one numpy
    X @ X.T beats expression-level per-pair lambdas by ~50× (the
    join+HOF formulation was measured at 3 s / 1.25M pairs at bench SF;
    this runs the same block in ~60 ms). Rows are sorted by id inside
    each block so output is deterministic; cosines round to 4 decimals
    like the rest of the similarity layer.

    ``chunk_rows`` is the guard for OVERSIZED blocks (a blocking key is
    only a heuristic; one hot key would otherwise pin a whole block's
    |b|² matmul — and |b| vectors of memory — in a single task). Blocks
    are split into ceil(|b|/chunk_rows) id-ordered chunks and every
    chunk PAIR (i ≤ j) becomes its own task: identical output (chunks
    are id-ordered, so cross-chunk pairs keep vec_a < vec_b), memory
    bounded by 2·chunk_rows vectors, parallelism n_chunks² per block
    instead of 1. The price is each row shuffling n_chunks times —
    exactly the data each chunk-pair task needs; there is no way to
    compute |b|² interactions while moving each row once without
    serializing the block.

    It defaults ON at 1024 since round 15: a 2x-sf1 A/B (4,000-row
    blocks, dim 64) measured the unchunked path swinging 1.8-46 s
    across warm repeats — each fat task materializes a |b|²-double
    cosine matrix plus two |b|²-long index arrays (~320 MB at 4k rows),
    and ten such tasks churning reused Python workers turn into GC
    storms — while chunk_rows=1024 (≤8 MB matrices) ran 1.0-1.7 s,
    faster at the median AND stable, with no measurable cost at
    1,024-row-and-under blocks (nc=1 degenerates to one task per block
    plus one cheap rank window). Pass ``chunk_rows=None`` explicitly to
    force whole-block tasks.

    ``pair_mode`` (round-18, the hot-cell/output-quadratic escape):

    - ``"all"`` (default): every qualifying pair — the declared
      contract the dedup_embedding_cosine oracle pins. On a hot block
      where most members are mutual near-dups the OUTPUT is
      quadratic in the block size (a 15k-member near-clique emits
      ~112M pair rows), and every downstream consumer pays to move it.
    - ``"forest"``: each task emits a spanning FOREST of its local
      qualifying-pair graph (union-find over the task's edges, ≤
      rows-1 edges per task) instead of every edge. Connected
      components over the union of per-task forests are EXACTLY the
      components over the union of per-task edge sets — any path
      through task-local edges reroutes through that task's forest —
      so consumers that only need component structure (semdedup's
      cluster/keep rule) get bit-identical results from output that is
      LINEAR in the block size (equality pinned in
      tests/test_semdedup.py on a planted hot clique). Not for
      consumers that need the full pair list (the oracle gate, the
      streaming per-arrival probe)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if pair_mode not in ("all", "forest"):
        raise ValueError(f"pair_mode must be 'all' or 'forest', got {pair_mode!r}")

    out_schema = T.StructType(
        [
            T.StructField("block", vectors.schema[block_col].dataType, True),
            T.StructField("vec_a", T.LongType(), True),
            T.StructField("vec_b", T.LongType(), True),
            T.StructField("cosine_sim", T.DoubleType(), True),
        ]
    )

    def _unit_rows(pdf: pd.DataFrame) -> tuple:
        ids = pdf[id_col].to_numpy()
        X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        return ids, X / norms[:, None]

    def _round4(raw):
        # round half AWAY FROM ZERO (the F.round / DuckDB ROUND rule) —
        # np.round is bankers' rounding, which can flip the >= threshold
        # decision vs the declared oracle on exact 4-decimal halves
        return np.sign(raw) * np.floor(np.abs(raw) * 1e4 + 0.5) / 1e4

    # Pre-round candidate bound (round-17 perf fix): rounding shifts a
    # value by at most 5e-5, so round4(x) >= t implies x >= t - 5e-5;
    # filtering the RAW matrix at t - 1e-4 (double margin for float
    # noise) keeps a strict superset of the output, and the exact round
    # + compare then runs over only the surviving pairs — typically
    # ~1e-3 of the matrix — instead of 6 full-matrix array passes per
    # task. At bench sf2 the full-matrix _round4 was the gate's whole
    # regression: 24 concurrent workers each streaming ~50 MB of
    # temporaries per task turned a 5 ms matmul into a memory-bandwidth
    # stall (SCALE.md §round-17).
    pre_bound = threshold - 1e-4

    def _forest_mask(a, b):
        # spanning forest of the task-local qualifying-pair graph:
        # union-find with path halving; keep exactly the edges that
        # merge two components (≤ distinct-ids − 1 survive per task)
        parent: dict = {}

        def find(x):
            while True:
                p = parent.get(x, x)
                if p == x:
                    return x
                parent[x] = parent.get(p, p)
                x = p

        keep = np.zeros(len(a), dtype=bool)
        for i in range(len(a)):
            ra, rb = find(a[i]), find(b[i])
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
                keep[i] = True
        return keep

    def _reduce(a, b, sim):
        if pair_mode == "forest" and len(a):
            m = _forest_mask(a, b)
            return a[m], b[m], sim[m]
        return a, b, sim

    def _survivors_self(ids, U):
        # upper-triangle candidates of U @ U.T without materializing
        # the full index arrays: boolean mask (1 byte/cell) → nonzero
        C = U @ U.T
        mask = np.triu(C >= pre_bound, k=1)
        ia, ib = np.nonzero(mask)
        sim = _round4(C[ia, ib])
        keep = sim >= threshold
        return _reduce(ids[ia[keep]], ids[ib[keep]], sim[keep])

    def _survivors_cross(ids_a, Ua, ids_b, Ub):
        C = Ua @ Ub.T
        ia, ib = np.nonzero(C >= pre_bound)
        sim = _round4(C[ia, ib])
        keep = sim >= threshold
        return _reduce(ids_a[ia[keep]], ids_b[ib[keep]], sim[keep])

    if chunk_rows is None:
        def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(id_col, ignore_index=True)
            ids, U = _unit_rows(pdf)
            a, b, sim = _survivors_self(ids, U)
            return pd.DataFrame(
                {
                    "block": pdf[block_col].iloc[0],
                    "vec_a": a,
                    "vec_b": b,
                    "cosine_sim": sim,
                }
            )

        return vectors.groupBy(block_col).applyInPandas(pairs, out_schema)

    # ---- chunk-pair decomposition ----
    # chunk index by id rank within block (one window shuffle), then each
    # row fans out to every (lo, hi) chunk-pair task it participates in
    w = Window.partitionBy(block_col).orderBy(id_col)
    chunked = vectors.select(
        F.col(block_col).alias("__blk"), F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        ((F.row_number().over(w) - 1) / chunk_rows).cast("int").alias("__ci"),
        (F.ceil(F.count("*").over(Window.partitionBy(block_col)) / chunk_rows))
        .cast("int").alias("__nc"),
    )
    tasks = chunked.select(
        "__blk", "__id", "__v", "__ci",
        F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("__cj"),
    ).select(
        # for fixed ci, each cj maps to a distinct (lo, hi) — no dedup
        # pass needed, the fan-out is exactly one row per task membership
        "__blk", "__id", "__v", "__ci",
        F.least("__ci", "__cj").alias("__lo"), F.greatest("__ci", "__cj").alias("__hi"),
    )

    def chunk_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        blk, lo, hi = key
        pdf = pdf.sort_values("__id", ignore_index=True)
        if lo == hi:
            ids, U = _unit_rows(pdf.rename(columns={"__id": id_col, "__v": vec_col}))
            a, b, sim = _survivors_self(ids, U)
        else:
            left = pdf[pdf["__ci"] == lo]
            right = pdf[pdf["__ci"] == hi]
            ids_a, Ua = _unit_rows(left.rename(columns={"__id": id_col, "__v": vec_col}))
            ids_b, Ub = _unit_rows(right.rename(columns={"__id": id_col, "__v": vec_col}))
            a, b, sim = _survivors_cross(ids_a, Ua, ids_b, Ub)
        return pd.DataFrame({"block": blk, "vec_a": a, "vec_b": b, "cosine_sim": sim})

    return tasks.groupBy("__blk", "__lo", "__hi").applyInPandas(chunk_pairs, out_schema)


def quantize_embeddings(
    vectors: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "embedding_q",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max(|x|)/127,
    q_i = round(x_i / scale) ∈ [-127, 127]. Cuts embedding storage 4×
    (the standard play for a 100 TB embedding corpus) at a cosine error
    well under the 4-decimal rounding the similarity layer already
    applies (bound-tested). Pure codegen'd array expressions — no UDF;
    zero vectors keep scale 0 and an all-zero code."""
    amax = F.expr(f"aggregate({vec_col}, 0D, (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))")
    scale = (amax / F.lit(127.0)).alias(scale_col)
    return vectors.withColumn(scale_col, scale).withColumn(
        out_col,
        F.when(
            F.col(scale_col) == 0.0,
            F.expr(f"transform({vec_col}, x -> CAST(0 AS TINYINT))"),
        ).otherwise(
            F.expr(
                f"transform({vec_col}, x -> CAST(round(CAST(x AS DOUBLE) / {scale_col}) AS TINYINT))"
            )
        ),
    )


def dequantize_embeddings(
    vectors: DataFrame,
    q_col: str = "embedding_q",
    scale_col: str = "q_scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of quantize_embeddings: x̂_i = q_i · scale (array<double>)."""
    return vectors.withColumn(
        out_col, F.expr(f"transform({q_col}, q -> CAST(q AS DOUBLE) * {scale_col})")
    )


def with_hyperplane_buckets(
    vectors: DataFrame,
    n_planes: int = 8,
    vec_col: str = "embedding",
    out: str = "hp_bucket",
    plane_offset: int = 0,
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector: sign bits of dot
    products against `n_planes` pseudo-random hyperplanes. The planes
    are derived from hashed (plane, dim) coordinates — deterministic
    across runs/executors with no driver-side RNG state to ship. Two
    vectors land in one bucket iff they agree on every sign; collision
    probability is (1 - θ/π)^n_planes, the classic SimHash-for-cosine
    bound. ``plane_offset`` selects a disjoint plane family (table t of
    a multi-table index uses offset t·n_planes), leaving offset-0
    buckets — and every persisted index built before the knob existed —
    unchanged."""
    dim_expr = f"size({vec_col})"
    # plane g, dim d weight ∈ [-1, 1): (xxhash64(g, d) mod 2001)/1000 - 1
    bit = (
        "CASE WHEN aggregate(zip_with({v}, sequence(0, {n} - 1), "
        "(x, d) -> CAST(x AS DOUBLE) * (pmod(xxhash64({g}, d), 2001) / 1000.0 - 1.0)), "
        "0D, (acc, x) -> acc + x) >= 0 THEN shiftleft(1, {p}) ELSE 0 END"
    )
    bucket = " + ".join(
        bit.format(v=vec_col, n=dim_expr, p=p, g=plane_offset + p)
        for p in range(n_planes)
    )
    return vectors.withColumn(out, F.expr(bucket))


def hamming_probe_buckets(bucket: int, n_planes: int, multiprobe: int) -> list[int]:
    """All bucket ids within Hamming distance ``multiprobe`` of
    ``bucket`` (the query bucket first, then increasing distance,
    ascending id within a distance band) — the classic multi-probe LSH
    probe sequence: a true near neighbor that disagrees with the query
    on m hyperplane signs lives exactly m bit-flips away, so probing
    the flip neighborhood recovers the recall that single-bucket
    probing silently drops."""
    from itertools import combinations

    out = [bucket]
    for dist in range(1, multiprobe + 1):
        flips = sorted(
            bucket ^ sum(1 << p for p in bits)
            for bits in combinations(range(n_planes), dist)
        )
        out.extend(flips)
    return out


def _score_and_rank(cands: DataFrame, k: int) -> DataFrame:
    """The one score-and-rank every ANN probe ends in. ``cands`` holds
    (query_id, vec_id, label, embedding | embedding_q, q) candidate
    rows; each is scored by cosine against its own query ``q``, rounded
    to 4 decimals, and the top k per query_id survive with the id as
    tie-break, so the k-th boundary is deterministic and a query's
    result never depends on which other queries share its batch.

    On an IVF-SQ8 layout (``embedding_q`` codes, no ``embedding``) the
    int8 codes are scored directly — the per-vector scale cancels in
    cosine (see brute_force_topk_q), so no dequantized array<double>
    is materialized and ``q_scale`` is never read.

    Ranking is one row_number window over query_id; Spark plans the
    ``rank <= k`` filter as a map-side WindowGroupLimit, so at most k
    rows per query and partition reach the shuffle."""
    sim = (
        cosine("transform(embedding, x -> CAST(x AS DOUBLE))", "q")
        if "embedding" in cands.columns
        else _cosine_codes("embedding_q")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return (
        cands.select("query_id", "vec_id", "label", F.round(sim, 4).alias("cosine_sim"))
        .withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .drop("__rank")
    )


def _probe_index(spark, tables: list[tuple[str, str, list[tuple]]], k: int) -> DataFrame:
    """The persisted-index probe shared by LSH and IVF. ``tables`` lists
    (data directory, partition column, probe rows) per index table; a
    probe row is (query_id, partition key, q), one per key the driver
    chose for that query. Each table is read ONCE, filtered to the
    union of its probed keys — ``key IN (…)`` on the partition column
    lands in PartitionFilters, so unprobed directories contribute no
    input splits — and a broadcast equi-join on the key hands each
    candidate to exactly the queries that probed its directory. A
    candidate found through several tables of a multi-table index is
    kept once per query before ranking.

    The probe rows go in through pandas: with Arrow enabled (the
    session default) that plans as a local relation, where a Python
    list becomes an RDD scan — measured 0.3 s more per probe at sf0.1
    on 4 cores."""
    import pandas as pd

    parts = []
    for path, key, rows in tables:
        probes = spark.createDataFrame(
            pd.DataFrame(rows, columns=["query_id", key, "q"]),
            f"query_id long, {key} long, q array<double>",
        )
        parts.append(
            spark.read.parquet(path)
            .filter(F.col(key).isin(sorted({r[1] for r in rows})))
            .join(F.broadcast(probes), key)
            .drop(key)
        )
    cands = reduce(DataFrame.unionByName, parts)
    if len(parts) > 1:
        cands = cands.dropDuplicates(["query_id", "vec_id"])
    return _score_and_rank(cands, k)


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    n_tables: int = 1,
    multiprobe: int = 0,
) -> DataFrame:
    """Ad-hoc hyperplane-LSH ANN for a (query_id, q) batch — a single
    query is a batch of one (query_vector). A vector is a candidate for
    a query when, in ANY of ``n_tables`` disjoint plane families
    (plane_offset t·n_planes), its bucket lies within Hamming distance
    ``multiprobe`` of the query's: a neighbor across m hyperplanes is m
    bit-flips away (hamming_probe_buckets), and OR-amplification over L
    tables lifts a per-table collision probability p to 1-(1-p)^L for
    ~L× the scan instead of shrinking planes, which inflates EVERY
    bucket. Measured recall@10 and scan fraction for the grid live in
    SCALE.md / RECALL.json.

    Plan shape: ONE corpus scan computing all L bucket expressions
    (codegen'd integer math), one broadcast of the query batch carrying
    its L buckets, an OR-of-bit_count join predicate, then
    _score_and_rank over the candidates — no per-table scans, no union,
    no shuffle of the corpus beyond the spread below.

    The corpus is hash-spread first when it arrives in fewer partitions
    than the cluster has slots (round 13): the L×n_planes hyperplane
    dot products are HOF lambdas — 32 of them × 64 dims is ~2k
    interpreted multiply-adds per vector — and a single-parquet-file
    scan ran all of it on ONE partition (~25 s serial at sf1 for work
    that parallelizes embarrassingly)."""
    sc = vectors.sparkSession.sparkContext
    if vectors.rdd.getNumPartitions() < sc.defaultParallelism:
        vectors = vectors.repartition(F.col("vec_id"))
    qb = queries.select("query_id", F.col("q").alias("embedding"))
    for t in range(n_tables):
        vectors = with_hyperplane_buckets(vectors, n_planes, "embedding", f"__b{t}", t * n_planes)
        qb = with_hyperplane_buckets(qb, n_planes, "embedding", f"__qb{t}", t * n_planes)
    hit = " OR ".join(f"bit_count(__b{t} ^ __qb{t}) <= {int(multiprobe)}" for t in range(n_tables))
    cands = vectors.join(F.broadcast(qb.withColumnRenamed("embedding", "q")), F.expr(hit))
    return _score_and_rank(cands, k)


def _lsh_tables(path: str, n_tables: int | None) -> list[str]:
    """Data directories of an LSH index: ``path`` itself for the
    single-table layout (a ``.meta`` without n_tables), one
    ``path/table=<t>`` per table otherwise."""
    base = path.rstrip("/")
    return [base] if n_tables is None else [f"{base}/table={t}" for t in range(n_tables)]


def _read_lsh_meta(spark, path: str) -> tuple[int, list[str]]:
    """(n_planes, data directories) from an LSH index's ``.meta``."""
    (meta,) = spark.read.parquet(path.rstrip("/") + ".meta").collect()
    return int(meta["n_planes"]), _lsh_tables(path, meta.asDict().get("n_tables"))


def _write_lsh_tables(vectors: DataFrame, n_planes: int, tables: list[str], mode: str) -> None:
    for t, table in enumerate(tables):
        bucketed = with_hyperplane_buckets(vectors, n_planes, "embedding", "hp_bucket", t * n_planes)
        bucketed.write.mode(mode).partitionBy("hp_bucket").parquet(table)


def build_lsh_index(vectors: DataFrame, path: str, n_planes: int = 6, n_tables: int = 1) -> None:
    """Build-once for hyperplane LSH (the SCALE.md path that collapses
    lsh_topk's per-batch re-hash of the corpus): persist
    with_hyperplane_buckets output ``partitionBy(hp_bucket)`` — at
    ``path`` for one table, under ``path/table=<t>`` (plane family
    t·n_planes) for ``n_tables`` > 1, L× the corpus in storage, the
    classic multi-table trade — so a probe reads ONLY the probed bucket
    directories via partition pruning. ``n_planes`` (and n_tables, for
    the multi-table layout) is stored in ``path.meta``: the planes are
    derived from seedless hashes, so bucket ids reproduce in any later
    session from those integers."""
    multi = n_tables > 1
    _write_lsh_tables(vectors, n_planes, _lsh_tables(path, n_tables if multi else None), "overwrite")
    meta = (
        vectors.sparkSession.createDataFrame([(n_planes, n_tables)], "n_planes int, n_tables int")
        if multi
        else vectors.sparkSession.createDataFrame([(n_planes,)], "n_planes int")
    )
    meta.coalesce(1).write.mode("overwrite").parquet(path.rstrip("/") + ".meta")


def append_to_lsh_index(vectors: DataFrame, path: str) -> None:
    """Incremental maintenance for a build_lsh_index index (either
    layout): bucket the NEW vectors with the stored plane count and
    append their rows to every table's partition layout. Because the
    planes are derived from seedless hashes, an appended index is
    bit-identical in bucket assignment to a full rebuild over the union
    (pinned in test_ann_recall) — so a 100 TB corpus takes daily
    increments without ever re-hashing the existing data. Dynamic
    partition overwrite is NOT used: append adds files inside existing
    bucket directories, never touching other buckets' files."""
    n_planes, tables = _read_lsh_meta(vectors.sparkSession, path)
    _write_lsh_tables(vectors, n_planes, tables, "append")


def compact_lsh_index(spark, path: str, target_file_mb: int = 256) -> tuple[int, int]:
    """Maintenance merge for an incrementally-appended LSH index (see
    append_to_lsh_index): collapse each hp_bucket directory's append
    spray back to one chunky file per bucket, preserving the
    partitionBy("hp_bucket") layout and the .meta sidecar. A
    multi-table index compacts each table=<t> copy independently —
    same layout contract per table. Returns summed (files_before,
    files_after)."""
    from parsedmarc_go_spark.storage import compact_partitioned_index

    before, after = 0, 0
    for t in _read_lsh_meta(spark, path)[1]:
        b, a = compact_partitioned_index(spark, t, "hp_bucket", target_file_mb)
        before, after = before + b, after + a
    return before, after


def lsh_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    multiprobe: int = 0,
) -> DataFrame:
    """Probe a PERSISTED LSH index (build_lsh_index, either layout) for
    a (query_id, q) batch: every query's bucket per table is computed
    with the stored plane count and collected to the driver (a bounded
    batch — zero jobs over the corpus), expanded to its Hamming-≤
    ``multiprobe`` flip neighborhood (hamming_probe_buckets), and
    _probe_index reads each table once, pruned to the union of probed
    buckets (``hp_bucket IN (…)`` → PartitionFilters, plan-asserted).
    Results are identical to the ad-hoc lsh_topk at the same
    (n_planes, n_tables, multiprobe)."""
    n_planes, tables = _read_lsh_meta(spark, path)
    qb = queries.select("query_id", F.col("q").alias("embedding"))
    for t in range(len(tables)):
        qb = with_hyperplane_buckets(qb, n_planes, "embedding", f"__qb{t}", t * n_planes)
    qrows = qb.collect()
    return _probe_index(
        spark,
        [
            (
                table,
                "hp_bucket",
                [
                    (int(r["query_id"]), b, [float(x) for x in r["embedding"]])
                    for r in qrows
                    for b in hamming_probe_buckets(int(r[f"__qb{t}"]), n_planes, multiprobe)
                ],
            )
            for t, table in enumerate(tables)
        ],
        k,
    )


def cosine_neardup_pairs_lsh(
    vectors: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 4,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk_rows: int | None = 1024,
) -> DataFrame:
    """Cosine near-dup pairs blocked by hyperplane LSH buckets — the
    label-free variant for corpora with no natural cells. A pair is
    found only when BOTH endpoints share a bucket, so per-table pair
    recall is (1 - θ/π)^planes — measured 0.55/0.47/0.39 at 2/3/4
    planes on the planted harness (SCALE.md). ``n_tables`` = L is the
    OR-amplification fix: run the blocked finder over L disjoint plane
    families and union the pair sets (recall → 1-(1-p)^L for L× the
    block work); the same pair found by several tables carries the
    same rounded cosine, so the union dedups exactly. Precision stays
    exact either way — every emitted pair passed the within-block
    verify."""
    parts = []
    for t in range(n_tables):
        bucketed = with_hyperplane_buckets(
            vectors, n_planes, vec_col, "hp_bucket", t * n_planes
        ).withColumnRenamed("hp_bucket", "__block")
        parts.append(
            cosine_neardup_pairs(
                bucketed,
                threshold=threshold,
                block_col="__block",
                id_col=id_col,
                vec_col=vec_col,
                chunk_rows=chunk_rows,
            ).drop("block")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["vec_a", "vec_b"]) if n_tables > 1 else out


def cosine_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.4,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk_rows: int | None = None,
) -> DataFrame:
    """Cross-FRAME cosine pairs ≥ threshold within blocks: every
    (a ∈ left) × (b ∈ right) pair — never left×left or right×right.
    This is the streaming-semdedup probe shape (streaming/dedup.py):
    left = retained history read cell-pruned from the vector store,
    right = the arriving batch, so per-batch pair work is
    |probed history| × |batch| — running the same-frame
    cosine_neardup_pairs over the union would ALSO pay the
    |history|² same-side products every batch, quadratic waste that
    grows with the store.

    Same BLAS/rounding/determinism contract as cosine_neardup_pairs
    (one numpy Ua @ Ub.T per block task, round-half-away-from-zero to
    4 decimals, id-sorted). ``chunk_rows`` bounds task memory for hot
    blocks with the chunk-PAIR fan-out: each side is id-chunked and
    every (left-chunk, right-chunk) combination becomes its own task —
    identical output, memory ≤ 2·chunk_rows vectors, each row moving
    other_side_chunks times. Returns ``block, vec_a (left id),
    vec_b (right id), cosine_sim``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("block", left.schema[block_col].dataType, True),
            T.StructField("vec_a", T.LongType(), True),
            T.StructField("vec_b", T.LongType(), True),
            T.StructField("cosine_sim", T.DoubleType(), True),
        ]
    )

    def _side(df: DataFrame, side: int) -> DataFrame:
        return df.select(
            F.col(block_col).alias("__blk"),
            F.col(id_col).cast("long").alias("__id"),
            F.col(vec_col).alias("__v"),
            F.lit(side).alias("__side"),
        )

    tagged = _side(left, 0).unionByName(_side(right, 1))

    def _unit(pdf: pd.DataFrame) -> tuple:
        ids = pdf["__id"].to_numpy()
        X = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        return ids, X / norms[:, None]

    def _round4(raw):
        # round half away from zero (the F.round / DuckDB rule)
        return np.sign(raw) * np.floor(np.abs(raw) * 1e4 + 0.5) / 1e4

    # pre-round candidate bound — same soundness argument as
    # cosine_neardup_pairs: round4 moves a value ≤ 5e-5, so filtering
    # the raw matrix at threshold - 1e-4 keeps a superset and the exact
    # round runs over survivors only (round-17 perf fix)
    pre_bound = threshold - 1e-4

    def _cross(blk, lf: pd.DataFrame, rt: pd.DataFrame) -> pd.DataFrame:
        if lf.empty or rt.empty:
            return pd.DataFrame(
                {"block": [], "vec_a": [], "vec_b": [], "cosine_sim": []}
            )
        ids_a, Ua = _unit(lf.sort_values("__id", ignore_index=True))
        ids_b, Ub = _unit(rt.sort_values("__id", ignore_index=True))
        C = Ua @ Ub.T
        ia, ib = np.nonzero(C >= pre_bound)
        sim = _round4(C[ia, ib])
        keep = sim >= threshold
        return pd.DataFrame(
            {
                "block": blk,
                "vec_a": ids_a[ia[keep]],
                "vec_b": ids_b[ib[keep]],
                "cosine_sim": sim[keep],
            }
        )

    if chunk_rows is None:

        def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            return _cross(
                pdf["__blk"].iloc[0],
                pdf[pdf["__side"] == 0],
                pdf[pdf["__side"] == 1],
            )

        return tagged.groupBy("__blk").applyInPandas(pairs, out_schema)

    # ---- cross chunk-pair decomposition ----
    # id-rank chunk index per (block, side); each row fans out once per
    # chunk of the OTHER side, so task (lc, rc) receives exactly left
    # chunk lc and right chunk rc
    w = Window.partitionBy("__blk", "__side").orderBy("__id")
    chunked = tagged.withColumn(
        "__ci", ((F.row_number().over(w) - 1) / chunk_rows).cast("int")
    )
    other_counts = (
        tagged.groupBy("__blk", "__side")
        .agg(F.ceil(F.count("*") / chunk_rows).cast("int").alias("__onc"))
        .select("__blk", (1 - F.col("__side")).alias("__side"), "__onc")
    )
    # inner join: a block missing one side generates no tasks (and has
    # no cross pairs) — the empty-side case never reaches the kernel
    tasks = (
        chunked.join(other_counts, ["__blk", "__side"])
        .select(
            "__blk",
            "__id",
            "__v",
            "__side",
            "__ci",
            F.explode(F.sequence(F.lit(0), F.col("__onc") - 1)).alias("__cj"),
        )
        .select(
            "__blk",
            "__id",
            "__v",
            "__side",
            F.when(F.col("__side") == 0, F.col("__ci"))
            .otherwise(F.col("__cj"))
            .alias("__lc"),
            F.when(F.col("__side") == 1, F.col("__ci"))
            .otherwise(F.col("__cj"))
            .alias("__rc"),
        )
    )

    def chunk_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        blk, _lc, _rc = key
        return _cross(blk, pdf[pdf["__side"] == 0], pdf[pdf["__side"] == 1])

    return tasks.groupBy("__blk", "__lc", "__rc").applyInPandas(
        chunk_pairs, out_schema
    )
