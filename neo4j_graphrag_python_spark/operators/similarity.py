"""Similarity search over embedding columns.

Covers the reference's vector retrieval semantics (retrievers/vector.py:
145-223; neo4j_queries.py:24-48 top-k ORDER BY score DESC LIMIT k) as
DataFrame operators, plus the scale paths a 100 TB corpus needs:

  * brute-force cosine top-k — the exact baseline (JVM-side zip_with +
    aggregate HOFs; no Python);
  * IVF-style bucketed ANN — coarse quantization by hashed random
    hyperplane signs (LSH for cosine): probe only matching buckets, giving
    sub-linear candidate sets at the cost of recall; implemented with
    built-ins + one broadcast of the hyperplane matrix;
  * batched multi-query search via a broadcast join of the query set;
  * k-means IVF, product quantization (PQ) and IVF-PQ indexes, whose
    code assignment is one Arrow-batched numpy pass;
  * k-NN joins in two tiers: a broadcast tile-pair GEMM and per-cell IVF
    scoring.

Each vector kernel is written once here and shared with the embedding
near-dup operators in ``dedup.py``: the numpy unit-row normalizer, the
PQ quantizer, the ``%.17e`` literal builder and fold-order dots, the
candidate-pair rescore, the tile-pair GEMM driver and the IVF per-cell
driver.
"""

from __future__ import annotations

import numbers
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def _fold_dot(a: Column, b: Column) -> Column:
    """dot(a, b) of two array<double> columns as one left-to-right fold —
    the summation order every JVM-side score here shares."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def cosine_col(a: Column, b: Column, round_to: int | None = 6) -> Column:
    """Cosine similarity of two array<double> columns, JVM-side."""
    dot = _fold_dot(a, b)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, x: s + x * x))
    out = dot / (na * nb)
    return F.round(out, round_to) if round_to is not None else out


def _double_literal(values) -> Column:
    """A (nested) list of floats as ONE SQL array-literal expression.

    Per-element ``F.lit`` is a py4j driver roundtrip each, and at
    multi-table LSH sizes (L·m·dim ≈ 10⁵ literals) that burned MINUTES of
    driver CPU just building the plan.  ``%.17e`` round-trips float64
    exactly, and exponent-form literals parse as DOUBLE in Spark SQL
    (plain decimals would parse as DECIMAL)."""

    def sql(v) -> str:
        if isinstance(v, numbers.Real):
            return f"{float(v):.17e}"
        return "array(" + ",".join(sql(x) for x in v) + ")"

    return F.expr(sql(values))


def _literal_dots(vec: Column, matrix: list[list[float]]) -> Column:
    """Fold-order dot products of ``vec`` with every row of a literal
    matrix (hyperplanes, centroids) → array<double>, JVM-side."""
    return F.transform(_double_literal(matrix), lambda row: _fold_dot(vec, row))


def _id_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The (id, v array<double>) projection every vector operator reads."""
    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )


def _unit_rows(mat):
    """Rows of a float64 numpy matrix scaled to unit L2 norm (zero rows
    pass through) — the one normalizer of every numpy vector kernel."""
    import numpy as np

    nrm = np.linalg.norm(mat, axis=1, keepdims=True)
    return mat / np.where(nrm == 0, 1.0, nrm)


def _stack(vectors):
    """An Arrow batch's array<double> column → (n, dim) float64 matrix."""
    import numpy as np

    return np.stack(vectors.to_numpy()).astype(np.float64)


def topk_bruteforce(
    embeddings: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against one query vector → (id, score).

    Plan shape: one scan, a codegen'd projection, then a global top-k
    (orderBy+limit = TakeOrderedAndProject — no full sort materialization).
    """
    q = F.array(*[F.lit(float(x)) for x in query_vector])
    scored = embeddings.select(
        F.col(id_col).alias("id"),
        cosine_col(F.col(vec_col).cast("array<double>"), q).alias("score"),
    )
    return scored.orderBy(F.desc("score"), "id").limit(k)


def _hyperplane_signs(vec: Column, planes: list[list[float]]) -> Column:
    """Sign bits of <v, h_i> packed into a bigint bucket id; the plane
    matrix rides one :func:`_double_literal`."""
    dots = _literal_dots(vec, planes)
    # 2^i via pow (shiftleft needs a literal bit count): exact in double
    # for i ≤ 52, and plane counts are capped at 32
    signed = F.transform(
        dots,
        lambda d, i: F.when(
            d >= 0, F.pow(F.lit(2.0), i).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(signed, F.lit(0).cast("long"), lambda s, x: s + x)


def build_ann_index(
    embeddings: DataFrame,
    dim: int,
    num_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """IVF/LSH-style index: assign every vector to a sign-pattern bucket.

    Returns (indexed_df, planes).  At scale, write ``indexed_df``
    partitioned by ``bucket`` so probes prune partitions at scan time.
    """
    import random

    from neo4j_graphrag_python_spark.operators.dedup import widen_for_compute

    rng = random.Random(seed)
    planes = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)
    ]
    indexed = widen_for_compute(embeddings).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        _hyperplane_signs(F.col(vec_col).cast("array<double>"), planes).alias(
            "bucket"
        ),
    )
    return indexed, planes


def write_ann_index(indexed: DataFrame, path: str) -> None:
    """Materialize an ANN index partitioned by bucket: probes then become
    partition-pruned scans — Spark reads ONLY the probed buckets' files,
    never the corpus (`PartitionFilters: [bucket IN (...)]` in the scan
    node; demonstrated in EXPLAIN.md and tests).  This is the on-disk
    shape the reference's vector index (indexes.py:24-102) maps to at
    100 TB: the bucket column is the coarse quantization cell."""
    indexed.write.mode("overwrite").partitionBy("bucket").parquet(path)


def read_ann_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def topk_ann(
    indexed: DataFrame,
    planes: list[list[float]],
    query_vector: Sequence[float],
    k: int = 10,
    probe_hamming: int = 1,
) -> DataFrame:
    """Probe buckets within ``probe_hamming`` sign flips of the query's
    bucket, then exact-rescore candidates.  Recall/latency dial:
    probe_hamming=0 → 1 bucket; 1 → 1+num_planes buckets; …"""
    import itertools

    num_planes = len(planes)
    qbucket = 0
    for i, h in enumerate(planes):
        if sum(a * b for a, b in zip(query_vector, h)) >= 0:
            qbucket |= 1 << i
    probes = {qbucket}
    for r in range(1, probe_hamming + 1):
        for flips in itertools.combinations(range(num_planes), r):
            b = qbucket
            for f in flips:
                b ^= 1 << f
            probes.add(b)
    q = F.array(*[F.lit(float(x)) for x in query_vector])
    cand = indexed.where(F.col("bucket").isin(list(probes)))
    scored = cand.select("id", cosine_col(F.col("v"), q).alias("score"))
    return scored.orderBy(F.desc("score"), "id").limit(k)


# ---------------------------------------------------------------------------
# k-means IVF — the clustered-corpus coarse quantizer
# ---------------------------------------------------------------------------
#
# Random-hyperplane buckets carve the sphere with data-BLIND cuts: on a
# clustered corpus a cut through a dense cluster scatters true neighbors
# across buckets (the recall-curve caveat in BENCH.md).  k-means centroids
# are data-AWARE — cells align with the clusters — so at equal candidates
# probed, recall is higher.  This is the classic IVF layout (FAISS
# IndexIVFFlat; SPANN): fit a small codebook on a sample, assign every
# vector to its nearest centroid, partition storage by centroid id, probe
# the nprobe nearest cells at query time.


def sample_vectors(
    embeddings: DataFrame,
    n: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic bounded sample for codebook fitting: the n smallest
    ids (TakeOrdered — no full sort), collected to the driver.  Bounded
    by n × dim floats, independent of corpus size; at 100 TB this is the
    one driver-side step of index construction, mirroring how FAISS
    trains an IVF codebook on a subsample rather than the corpus."""
    return [
        [float(x) for x in r["v"]]
        for r in embeddings.select(
            F.col(id_col).alias("i"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy("i")
        .limit(n)
        .collect()
    ]


def fit_kmeans_centroids(
    sample: list[list[float]],
    num_centroids: int = 16,
    iters: int = 15,
    seed: int = 42,
) -> list[list[float]]:
    """Spherical k-means on a driver-side sample → unit-norm centroids.

    numpy-vectorized (float64): the inner loop is one sample×k GEMM for
    the assignments plus a segmented mean — this is what lets a 100 TB
    IVF fit k≈10³ cells on a 50k-row sample in seconds where the
    original pure-Python triple loop (O(sample·k·dim·iters) interpreted
    operations) took minutes-to-hours.  Determinism is preserved where
    it matters for the value-pinned fixtures: the init is the same
    ``random.Random(seed).sample`` index draw as before, the assignment
    is ``argmax`` (first-wins on ties, like ``array_position``), the
    iteration count is fixed (no epsilon test), and on one host/numpy
    the reductions are bit-stable call-to-call — the offline fixture
    builder calls THIS function, so Spark path and oracle share one
    codebook by construction.  Empty cells keep their previous centroid
    (a standard k-means guard).
    """
    import random

    import numpy as np

    if not sample:
        raise ValueError("cannot fit centroids on an empty sample")
    k = min(num_centroids, len(sample))

    pts = _unit_rows(np.asarray(sample, dtype=np.float64))
    rng = random.Random(seed)
    centroids = pts[rng.sample(range(len(pts)), k)].copy()
    for _ in range(iters):
        # (n, k) dot products; argmax is first-wins like array_position
        assign = np.argmax(pts @ centroids.T, axis=1)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        sums = np.zeros_like(centroids)
        np.add.at(sums, assign, pts)
        nonempty = counts > 0
        centroids[nonempty] = _unit_rows(sums[nonempty] / counts[nonempty, None])
    return [[float(x) for x in c] for c in centroids]


def _centroid_argmax(vec: Column, centroids: list[list[float]]) -> Column:
    """Index of the max-dot-product centroid, JVM-side.

    Centroids are unit-norm, so argmax dot == argmax cosine (the |v|
    factor is constant across centroids).  The codebook rides ONE SQL
    array literal (:func:`_double_literal`).  array_position returns the
    FIRST position of the max — the same first-wins tie rule as the
    fitter and the offline fixture."""
    dots = _literal_dots(vec, centroids)
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def _centroid_topn(
    vec: Column, centroids: list[list[float]], nprobe: int
) -> Column:
    """Indices of the ``nprobe`` max-dot-product centroids, JVM-side,
    ordered by (-dot, index) — the same first-wins tie rule as
    :func:`_centroid_argmax` / ``topk_ivf_kmeans``'s driver-side probe
    selection, so ``element_at(result, 1)`` IS the primary cell.  One
    array-literal codebook, one transform for the dots, one bounded
    array_sort over k structs — no shuffle, no Python."""
    dots = _literal_dots(vec, centroids)
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
    zipped = F.zip_with(
        dots, idx, lambda d, i: F.struct(d.alias("d"), i.alias("i"))
    )
    ranked = F.array_sort(
        zipped,
        lambda l, r: F.when(l["d"] > r["d"], F.lit(-1))
        .when(l["d"] < r["d"], F.lit(1))
        .otherwise((l["i"] - r["i"]).cast("int")),
    )
    return F.transform(
        F.slice(ranked, 1, min(nprobe, len(centroids))),
        lambda s: s["i"].cast("int"),
    )


def build_ivf_kmeans_index(
    embeddings: DataFrame,
    centroids: list[list[float]] | None = None,
    num_centroids: int = 16,
    sample_n: int = 2048,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Assign every vector to its nearest centroid cell.

    Returns (indexed_df(id, v, bucket), centroids).  Pass precomputed
    ``centroids`` to skip fitting (e.g. the fixture's shared codebook).
    The assignment is one codegen'd projection over the corpus — no
    shuffle; write with :func:`write_ann_index` so probes partition-prune
    exactly like the hyperplane index."""
    from neo4j_graphrag_python_spark.operators.dedup import widen_for_compute

    if centroids is None:
        centroids = fit_kmeans_centroids(
            sample_vectors(embeddings, sample_n, id_col, vec_col),
            num_centroids=num_centroids,
            seed=seed,
        )
    v = F.col(vec_col).cast("array<double>")
    indexed = widen_for_compute(embeddings).select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        _centroid_argmax(v, centroids).alias("bucket"),
    )
    return indexed, centroids


def topk_ivf_kmeans(
    indexed: DataFrame,
    centroids: list[list[float]],
    query_vector: Sequence[float],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Probe the ``nprobe`` nearest centroid cells, exact-rescore the
    candidates (cosine), top-k.  The probe set is computed driver-side
    (codebook-sized); against a partitioned index the filter becomes
    ``PartitionFilters: [bucket IN (...)]`` — only probed cells' files
    are read."""
    q = [float(x) for x in query_vector]
    dots = [sum(a * b for a, b in zip(q, c)) for c in centroids]
    probes = sorted(range(len(centroids)), key=lambda j: (-dots[j], j))[:nprobe]
    qcol = F.array(*[F.lit(x) for x in q])
    cand = indexed.where(F.col("bucket").isin(probes))
    scored = cand.select("id", cosine_col(F.col("v"), qcol).alias("score"))
    return scored.orderBy(F.desc("score"), "id").limit(k)


def upsert_vectors(
    nodes: DataFrame,
    vectors: DataFrame,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reference upsert_vectors (indexes.py:251-305): attach/replace the
    embedding property on existing nodes by id.

    Spark-first: a left join + coalesce — rows in ``vectors`` win, others
    keep their current embedding.  ``vectors``: (id, embedding).  The
    vector set is usually the small side (new/updated embeddings), so it
    broadcasts; output schema equals the node schema (plus ``vec_col``
    when the nodes didn't have one — the reference attaches the property
    to nodes that lack it, indexes.py:251).
    """
    v = vectors.select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).cast("array<float>").alias("_vemb"),
    )
    joined = nodes.join(F.broadcast(v), nodes[id_col] == F.col("_vid"), "left")
    if vec_col in nodes.columns:
        out_cols = nodes.columns
        joined = joined.withColumn(
            vec_col, F.coalesce(F.col("_vemb"), nodes[vec_col])
        )
    else:
        # generic attach case: the node frame has no embedding column yet
        out_cols = [*nodes.columns, vec_col]
        joined = joined.withColumn(vec_col, F.col("_vemb"))
    return joined.select(*out_cols)


def topk_multi_query(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch search: broadcast the (small) query set, window top-k per
    query → (query_id, id, score, rank)."""
    joined = embeddings.crossJoin(F.broadcast(queries))
    scored = joined.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("id"),
        cosine_col(
            F.col(vec_col).cast("array<double>"),
            F.col(query_vec_col).cast("array<double>"),
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def hybrid_fusion(
    vector_results: DataFrame,
    fulltext_results: DataFrame,
    alpha: float | None = None,
    k: int = 10,
) -> DataFrame:
    """Hybrid rank fusion (reference neo4j_queries.py:148-211): per-source
    max-normalization, then max() (naive) or alpha-linear combination,
    re-rank, top-k.  Inputs: (id, score) DataFrames."""

    def normalized(df: DataFrame, name: str) -> DataFrame:
        # scalar max + broadcast crossJoin, NOT Window.partitionBy():
        # an all-rows window collapses the frame to a single task at scale
        mx = df.agg(F.max("score").alias("_mx"))
        return df.crossJoin(F.broadcast(mx)).select(
            "id",
            (F.col("score") / F.col("_mx")).alias("score"),
            F.lit(name).alias("src"),
        )

    u = normalized(vector_results, "vector").unionByName(
        normalized(fulltext_results, "fulltext")
    )
    if alpha is None:
        fused = u.groupBy("id").agg(F.max("score").alias("score"))
    else:
        fused = (
            u.groupBy("id")
            .pivot("src", ["vector", "fulltext"])
            .agg(F.max("score"))
            .select(
                "id",
                (
                    F.lit(alpha) * F.coalesce("vector", F.lit(0.0))
                    + F.lit(1 - alpha) * F.coalesce("fulltext", F.lit(0.0))
                ).alias("score"),
            )
        )
    return fused.orderBy(F.desc("score"), "id").limit(k)


def _rescore_pairs(
    pairs: DataFrame,
    embeddings: DataFrame,
    cols: tuple[str, str],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast: bool = True,
) -> DataFrame:
    """Candidate id pairs (columns ``cols``) → (a, b, cosine): each
    side's vector is joined once and scored with the canonical
    fold-order :func:`cosine_col`, so a numpy prune upstream never
    decides an output value.

    ``broadcast`` hints both (id, vector) sides: without it Catalyst
    sort-merges them, so every candidate row is exchanged carrying two
    full vectors (measured 10s of GB of shuffle spill at 60k×64 with a
    5·10⁷ candidate set, against two 30 MB broadcasts).  It is right
    whenever the corpus's (id, vector) projection fits executor memory."""
    a, b = cols
    base = _id_vectors(embeddings, id_col, vec_col)
    va = base.select(F.col("id").alias(a), F.col("v").alias("_va"))
    vb = base.select(F.col("id").alias(b), F.col("v").alias("_vb"))
    if broadcast:
        va, vb = F.broadcast(va), F.broadcast(vb)
    return (
        pairs.join(va, a)
        .join(vb, b)
        .select(a, b, cosine_col(F.col("_va"), F.col("_vb")).alias("cosine"))
    )


def _within_topk(scores, row_ids, col_ids, k: int):
    """(row id, col id) arrays of each score row's candidates within 1e-6
    of its kth best finite score.

    Every global top-k neighbor of a row lives in some tile, and within
    that tile it outscores every non-top-k column, so the per-tile top-k
    union ⊇ the global top-k.  The 1e-6 margin covers the final
    6-decimal rounding: a candidate that ties the kth AFTER rounding may
    trail it by <1e-6 raw.  ``isfinite``: when k spans the whole tile the
    kth score IS a −inf self-pair, and −inf ≥ −inf−margin would emit it."""
    import numpy as np

    kk = min(k, scores.shape[1])
    kth = np.partition(scores, scores.shape[1] - kk, axis=1)[
        :, scores.shape[1] - kk
    ]
    ii, jj = np.nonzero((scores >= (kth[:, None] - 1e-6)) & np.isfinite(scores))
    return row_ids[ii], col_ids[jj]


def _rank_neighbors(
    cand: DataFrame, embeddings: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, neighbor_id) candidates → each id's k best by (rounded cosine
    desc, neighbor_id) on the fold-order :func:`cosine_col` values:
    deterministic, and bit-equal to the windowed all-pairs SQL oracle
    whenever the candidates hold the true neighbors."""
    w = Window.partitionBy("id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        _rescore_pairs(cand, embeddings, ("id", "neighbor_id"), id_col, vec_col)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("id", "neighbor_id", "cosine", "rnk")
    )


def _tile_pair_gemm(
    embeddings: DataFrame,
    block_rows: int,
    select,
    cols: tuple[str, str],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Candidate id pairs from a distributed blocked GEMM — the broadcast
    tier of :func:`knn_join` and ``embedding_neardup_blocked_exact``.

    The id-sorted, unit-normalized matrix (n·dim float64, collected over
    Arrow) rides ONE Spark broadcast; the work unit is a (i ≤ j) pair of
    ``block_rows``-row tiles, distributed as a tiny DataFrame and
    expanded by ``mapInPandas`` running ``A @ B.T`` once per pair.
    ``select(scores, row_ids, col_ids, diag)`` turns one tile's scores
    into (a, b) id arrays for the columns ``cols``; ``diag`` marks the
    i == j tiles, which hold every pair twice plus the self-pairs.  An
    empty corpus gives an empty frame."""
    import numpy as np
    import pandas as pd

    a, b = cols
    schema = f"{a} long, {b} long"
    spark = embeddings.sparkSession
    pdf = _id_vectors(embeddings, id_col, vec_col).orderBy("id").toPandas()
    if pdf.empty:
        return spark.createDataFrame([], schema)
    ids = pdf["id"].to_numpy(dtype=np.int64)
    bc = spark.sparkContext.broadcast((ids, _unit_rows(_stack(pdf["v"]))))
    nblocks = (len(ids) + block_rows - 1) // block_rows
    tile_pairs = [(i, j) for i in range(nblocks) for j in range(i, nblocks)]
    tiles = spark.createDataFrame(tile_pairs, "bi int, bj int").repartition(
        min(len(tile_pairs), 4 * (spark.sparkContext.defaultParallelism or 8))
    )

    def gemm(batches):
        bids, bmat = bc.value
        for part in batches:
            for bi, bj in zip(part["bi"], part["bj"]):
                r = slice(bi * block_rows, (bi + 1) * block_rows)
                c = slice(bj * block_rows, (bj + 1) * block_rows)
                x, y = select(bmat[r] @ bmat[c].T, bids[r], bids[c], bi == bj)
                yield pd.DataFrame({a: x, b: y})

    return tiles.mapInPandas(gemm, schema)


def _ivf_centroids(
    embeddings: DataFrame,
    centroids: list[list[float]] | None,
    num_centroids: int,
    sample_n: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> list[list[float]] | None:
    """The caller's k-means codebook, else one fitted on
    :func:`sample_vectors`; None for an empty corpus (no pairs to find,
    so :func:`_ivf_cell_pairs` returns an empty frame instead of failing
    the fit)."""
    if centroids is not None:
        return centroids
    sample = sample_vectors(embeddings, sample_n, id_col, vec_col)
    if not sample:
        return None
    return fit_kmeans_centroids(sample, num_centroids=num_centroids, seed=seed)


def _ivf_cell_pairs(
    embeddings: DataFrame,
    centroids: list[list[float]] | None,
    nprobe: int,
    select,
    cols: tuple[str, str],
    id_col: str,
    vec_col: str,
    tile_rows: int = 4096,
) -> DataFrame:
    """Candidate id pairs scored per k-means cell — the beyond-broadcast
    tier of :func:`knn_join_ivf` and ``embedding_neardup_ivf``.

    Every vector is a RESIDENT of its primary (nearest) cell and a
    visitor of its other ``nprobe − 1`` probed cells.  One widened
    projection computes the probe arrays (:func:`_centroid_topn`); the
    explode carries only (id, cell, resident) and vectors join those
    rows once, so the one vector-carrying exchange (group by cell) is
    nprobe·n rows — linear in the corpus, never the pair count.  Per
    cell, ``applyInPandas`` unit-normalizes the members and runs a tiled
    ``Q @ R.T`` of every member (Q, ``tile_rows`` at a time) against the
    residents (R); ``select(scores, q_ids, r_ids, q_resident)`` turns one
    tile into (a, b) id arrays for the columns ``cols``.  Pairs found in
    two cells are deduped.  ``centroids=None`` (an empty corpus, see
    :func:`_ivf_centroids`) gives an empty frame."""
    import numpy as np
    import pandas as pd

    from neo4j_graphrag_python_spark.operators.dedup import widen_for_compute

    a, b = cols
    schema = f"{a} long, {b} long"
    if centroids is None:
        return embeddings.sparkSession.createDataFrame([], schema)
    v = F.col(vec_col).cast("array<double>")
    # probes materialized before consumption: two consumers (primary cell
    # + probe explode) would re-plan the centroid scoring per side, and
    # the probe explode's inferred ``size(probes) > 0`` filter would be
    # pushed below the widening exchange with the scoring inlined —
    # running all num_centroids·dim dots again on the narrow scan side
    assigned = widen_for_compute(embeddings).select(
        F.col(id_col).alias("id"),
        _centroid_topn(v, centroids, nprobe).alias("probes"),
    ).localCheckpoint(eager=False)
    member = (
        assigned.select(
            "id",
            F.explode("probes").alias("cell"),
            F.element_at("probes", 1).alias("prim"),
        )
        .join(_id_vectors(embeddings, id_col, vec_col), "id")
        .select("cell", "id", "v", (F.col("prim") == F.col("cell")).alias("resident"))
    )

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        res = pdf["resident"].to_numpy(dtype=bool)
        mat = _unit_rows(_stack(pdf["v"]))
        xs, ys = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
        if res.any():
            rmat, rids = mat[res], ids[res]
            for t0 in range(0, len(ids), tile_rows):
                q = slice(t0, t0 + tile_rows)
                x, y = select(mat[q] @ rmat.T, ids[q], rids, res[q])
                xs.append(x)
                ys.append(y)
        return pd.DataFrame({a: np.concatenate(xs), b: np.concatenate(ys)})

    return (
        member.groupBy("cell")
        .applyInPandas(per_cell, schema)
        .dropDuplicates([a, b])
    )


def knn_join(
    embeddings: DataFrame,
    k: int = 5,
    block_rows: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed k-NN JOIN: for EVERY vector, its top-k cosine
    neighbors — the batch sibling of :func:`topk_bruteforce` (one query
    vector) and the operator a training-data pipeline actually runs
    (hard-negative mining, cluster seeding, near-dup triage all consume
    all-rows neighborhoods, not single queries).

    Candidates come from the broadcast tile-pair GEMM
    (:func:`_tile_pair_gemm`, shared with
    ``embedding_neardup_blocked_exact``): each tile computes ``A @ B.T``
    once and emits BOTH sides' per-row tile-local candidates
    (:func:`_within_topk`).  Candidates are ≈ k·(n/block_rows) per row —
    linear in n with a tiny constant — then one window per id ranks them
    (:func:`_rank_neighbors`), making the output deterministic and
    bit-equal to the windowed all-pairs SQL oracle.

    Scale notes: broadcast tier (n·dim ≤ ~5·10⁷) like blocked-exact;
    beyond it, :func:`knn_join_ivf` blocks by IVF cell — the same
    two-rung tiering as ``embedding_neardup``.  Rows with fewer than k
    other vectors return what exists (rank ≤ available neighbors).
    """
    import numpy as np

    def nearest(scores, rows, cols, diag):
        if diag:
            np.fill_diagonal(scores, -np.inf)
            return _within_topk(scores, rows, cols, k)
        x1, y1 = _within_topk(scores, rows, cols, k)
        x2, y2 = _within_topk(scores.T, cols, rows, k)
        return np.concatenate([x1, x2]), np.concatenate([y1, y2])

    cand = _tile_pair_gemm(
        embeddings, block_rows, nearest, ("id", "neighbor_id"), id_col, vec_col
    ).dropDuplicates(["id", "neighbor_id"])
    return _rank_neighbors(cand, embeddings, k, id_col, vec_col)


def knn_join_ivf(
    embeddings: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 2,
    sample_n: int = 2048,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    tile_rows: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-NN join beyond the broadcast tier: each vector's
    candidate pool is the RESIDENTS of its ``nprobe`` nearest k-means
    cells (standard IVF search semantics, batched).  The per-cell driver
    (:func:`_ivf_cell_pairs`, shared with ``embedding_neardup_ivf``)
    scores every prober of a cell against the cell's residents, keeping
    per-query tile-local top-k with the 1e-6 rounding margin; global
    ranking is :func:`knn_join`'s windowed rounded ordering, so at equal
    candidate sets the output is bit-equal to the exact join.  Recall is
    data-dependent (clustered corpora: high at small nprobe; diffuse:
    raise nprobe) and asserted against :func:`knn_join` in tests.
    Candidates ≈ nprobe·(n/num_centroids) per vector — independent of
    corpus size at fixed cell occupancy, the property that makes this
    the 10⁸⁺-vector rung where the exact join's broadcast is
    impossible.  An empty corpus gives an empty frame."""
    import numpy as np

    def nearest(scores, qids, rids, qres):
        # self-exclusion: a resident query sees itself in the pool
        scores = np.where(qids[:, None] == rids[None, :], -np.inf, scores)
        return _within_topk(scores, qids, rids, k)

    centroids = _ivf_centroids(
        embeddings, centroids, num_centroids, sample_n, seed, id_col, vec_col
    )
    cand = _ivf_cell_pairs(
        embeddings, centroids, nprobe, nearest, ("id", "neighbor_id"),
        id_col, vec_col, tile_rows,
    )
    return _rank_neighbors(cand, embeddings, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# product quantization (PQ) — the memory-compression rung of the ANN ladder
# ---------------------------------------------------------------------------


def fit_pq_codebooks(
    sample: list[list[float]],
    m: int = 8,
    num_centroids: int = 16,
    iters: int = 15,
    seed: int = 42,
    normalize: bool = True,
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks for product quantization (Jégou,
    Douze, Schmid 2011, "Product Quantization for Nearest Neighbor
    Search").  Vectors are unit-normalized, split into ``m`` contiguous
    subspaces, and each subspace gets its own ``num_centroids``-word
    codebook — a vector is then representable by m small codes
    (m log₂k bits, e.g. 8 bytes for m=8/k=256) instead of dim floats.
    That compression is the whole point at 100 TB: the ANN scan reads
    codes, not vectors.

    Fitting mirrors :func:`fit_kmeans_centroids`'s determinism contract:
    seeded ``random.Random(seed + s)`` init per subspace, fixed iteration
    count, first-wins argmax assignment, empty cells keep their previous
    centroid.  The assignment criterion is ``argmax(dot(x_sub, c) −
    ½·|c|²)`` — algebraically argmin L2 — the SAME adjusted-dot form
    :func:`_pq_quantizer` evaluates, so fit and assignment share one tie
    rule.  numpy-vectorized; driver-side on a bounded
    sample (the FAISS-style train-on-subsample posture of
    :func:`sample_vectors`).

    ``normalize=False`` fits RAW sample vectors — used by the IVF-PQ
    composition, whose sample is coarse-cell residuals (already derived
    from unit vectors; re-normalizing residuals would corrupt the
    additive dot-product decomposition).
    """
    import random

    import numpy as np

    if not sample:
        raise ValueError("cannot fit PQ codebooks on an empty sample")
    dim = len(sample[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m

    pts = np.asarray(sample, dtype=np.float64)
    if normalize:
        pts = _unit_rows(pts)

    books: list[list[list[float]]] = []
    for s in range(m):
        block = pts[:, s * sub : (s + 1) * sub]
        k = min(num_centroids, len(block))
        rng = random.Random(seed + s)
        cents = block[rng.sample(range(len(block)), k)].copy()
        for _ in range(iters):
            adj = block @ cents.T - 0.5 * np.sum(cents * cents, axis=1)
            assign = np.argmax(adj, axis=1)
            counts = np.bincount(assign, minlength=k).astype(np.float64)
            sums = np.zeros_like(cents)
            np.add.at(sums, assign, block)
            nonempty = counts > 0
            cents[nonempty] = sums[nonempty] / counts[nonempty, None]
        books.append([[float(x) for x in c] for c in cents])
    return books


def _pq_quantizer(codebooks: list[list[list[float]]]):
    """Returns ``codes(pts) -> int32 (n, m)``: per subspace, the
    first-wins ``argmax(dot − ½|c|²)`` over its codebook (the fitter's
    exact rule) as one (rows × centroids) GEMM — the one PQ quantizer of
    :func:`assign_pq_codes` and :func:`build_ivfpq_index`."""
    import numpy as np

    sub = len(codebooks[0][0])
    mats = [np.asarray(b, dtype=np.float64) for b in codebooks]
    halves = [0.5 * np.sum(c * c, axis=1) for c in mats]

    def codes(pts):
        return np.stack(
            [
                np.argmax(pts[:, s * sub : (s + 1) * sub] @ c.T - h, axis=1)
                for s, (c, h) in enumerate(zip(mats, halves))
            ],
            axis=1,
        ).astype("int32")

    return codes


def assign_pq_codes(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize every vector → (id, codes array<int>, one code per
    subspace), with no shuffle: Arrow-batched numpy unit-normalizes each
    batch and runs :func:`_pq_quantizer`.

    The per-row work is m·k·subdim flops, which is why this is a numpy
    kernel: the equivalent built-in expression is a tree of higher-order
    functions (transform/aggregate/zip_with), which Spark evaluates
    INTERPRETED (HOFs are excluded from whole-stage codegen) — measured
    186 s for 60k×64 at (m=16, k=16) vs ~2 s for the numpy GEMM.

    Store the result columnar and the ADC scan needs ~m·4 bytes per
    vector instead of dim·4."""
    import pandas as pd

    from neo4j_graphrag_python_spark.operators.dedup import widen_for_compute

    quantize = _pq_quantizer(codebooks)

    def codes(batches):
        for pdf in batches:
            if len(pdf):
                pts = _unit_rows(_stack(pdf["v"]))
                yield pd.DataFrame({"id": pdf["id"], "codes": list(quantize(pts))})

    return _id_vectors(widen_for_compute(embeddings), id_col, vec_col).mapInPandas(
        codes, "id long, codes array<int>"
    )


def build_pq_index(
    embeddings: DataFrame,
    m: int = 8,
    num_centroids: int = 16,
    sample_n: int = 2048,
    seed: int = 42,
    codebooks: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Fit (or accept) PQ codebooks and quantize the corpus.
    Returns (codes_df(id, codes), codebooks)."""
    if codebooks is None:
        codebooks = fit_pq_codebooks(
            sample_vectors(embeddings, sample_n, id_col, vec_col),
            m=m,
            num_centroids=num_centroids,
            seed=seed,
        )
    return (
        assign_pq_codes(embeddings, codebooks, id_col, vec_col),
        codebooks,
    )


def topk_pq(
    codes: DataFrame,
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    query_vector: Sequence[float],
    k: int = 10,
    rescore: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: score every vector from its codes via
    a driver-computed lookup table (ADC — the query stays full-precision,
    the corpus is codes), keep the best ``rescore`` candidates, then
    exact-rescore those few against their full vectors → (id, score).

    Plan shape: the ADC scan touches ONLY (id, codes) — with a parquet-
    backed code table that is ~m·4 bytes/row against dim·4 for the raw
    vectors, the 100 TB win.  The estimate is one codegen'd fold over the
    LUT literal; the global top-``rescore`` is TakeOrderedAndProject (no
    full sort).  The candidate ids (bounded by ``rescore``) are collected
    and pushed into the vector scan as an In filter — row-group pruning
    does the rest; only ``rescore`` full vectors are ever read and scored
    with fold-order :func:`cosine_col`, so the FINAL values are
    bit-identical to brute force whenever the true top-k survives the
    candidate cut (recall is a measured property, tested on planted and
    sf corpora)."""
    q = [float(x) for x in query_vector]
    qn = sum(x * x for x in q) ** 0.5 or 1.0
    qu = [x / qn for x in q]
    est = _adc_estimate(qu, codebooks)
    cand = (
        codes.select("id", est.alias("est"))
        .orderBy(F.desc("est"), "id")
        .limit(rescore)
    )
    ids = [r["id"] for r in cand.select("id").collect()]
    qcol = F.array(*[F.lit(x) for x in q])
    exact = embeddings.where(F.col(id_col).isin(ids)).select(
        F.col(id_col).alias("id"),
        cosine_col(F.col(vec_col).cast("array<double>"), qcol).alias("score"),
    )
    return exact.orderBy(F.desc("score"), "id").limit(k)


def _adc_estimate(
    qu: list[float], codebooks: list[list[list[float]]]
) -> Column:
    """ADC dot-product estimate of a (unit) query against the ``codes``
    column: the per-subspace query×codeword dots are a driver-computed
    LUT riding one array literal; the estimate is one codegen-side fold
    ``sum_s LUT[s][code_s]`` — the scan never touches vectors."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    lut = [
        [
            sum(qu[s * sub + d] * c[d] for d in range(sub))
            for c in codebooks[s]
        ]
        for s in range(m)
    ]
    return F.aggregate(
        F.zip_with(
            _double_literal(lut),
            F.col("codes"),
            lambda row, c: F.element_at(row, c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def build_ivfpq_index(
    embeddings: DataFrame,
    num_centroids: int = 16,
    m: int = 8,
    pq_centroids: int = 16,
    sample_n: int = 2048,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """IVF-PQ (Jégou et al. 2011 §IV): coarse k-means cells + product
    quantization of the RESIDUAL (v_unit − cell_centroid) — the true
    10⁹-vector ANN rung.  Returns (coded(id, codes, bucket), centroids,
    codebooks).

    Why residuals: within a cell, vectors share the centroid's direction,
    so residual magnitudes are small and the same codebook budget spends
    its resolution on the part of the vector the coarse quantizer didn't
    explain — the estimate decomposes additively as ``dot(q, v) =
    dot(q, c_cell) + dot(q, residual)``, the first term exact (driver-
    side per cell), only the second quantized.

    Plan shape: the whole build is ONE pass with no shuffle: normalize →
    coarse argmax → residual → :func:`_pq_quantizer` inside a single
    Arrow-batched numpy stage (two GEMMs per batch).  Measured at
    60k×64/64 cells, a JVM higher-order-function composition took 820 s
    (interpreted fold-dots against the cell codebook, excluded from
    codegen) against seconds for the fused numpy pass.  Write
    partitioned by ``bucket`` (:func:`write_ann_index`) and probes read
    only probed cells' (id, codes) — ~m·4 B/row of only nprobe/k of the
    corpus.  An empty corpus raises ``ValueError`` (nothing to fit).
    """
    import numpy as np
    import pandas as pd

    from neo4j_graphrag_python_spark.operators.dedup import widen_for_compute

    if centroids is None or codebooks is None:
        sample = sample_vectors(embeddings, sample_n, id_col, vec_col)
        if centroids is None:
            centroids = fit_kmeans_centroids(
                sample, num_centroids=num_centroids, seed=seed
            )
        if codebooks is None:
            pts = _unit_rows(np.asarray(sample, dtype=np.float64))
            cmat = np.asarray(centroids, dtype=np.float64)
            res = pts - cmat[np.argmax(pts @ cmat.T, axis=1)]
            codebooks = fit_pq_codebooks(
                res.tolist(),
                m=m,
                num_centroids=pq_centroids,
                seed=seed,
                normalize=False,
            )

    cmat = np.asarray(centroids, dtype=np.float64)
    quantize = _pq_quantizer(codebooks)

    def fused(batches):
        for pdf in batches:
            if len(pdf):
                pts = _unit_rows(_stack(pdf["v"]))
                bucket = np.argmax(pts @ cmat.T, axis=1)
                yield pd.DataFrame(
                    {
                        "id": pdf["id"],
                        "codes": list(quantize(pts - cmat[bucket])),
                        "bucket": bucket.astype("int32"),
                    }
                )

    coded = _id_vectors(widen_for_compute(embeddings), id_col, vec_col).mapInPandas(
        fused, "id long, codes array<int>, bucket int"
    )
    return coded, centroids, codebooks


def topk_ivfpq(
    coded: DataFrame,
    embeddings: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vector: Sequence[float],
    k: int = 10,
    nprobe: int = 2,
    rescore: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ top-k: probe the ``nprobe`` nearest cells, ADC-score ONLY
    their (id, codes) rows (estimate = exact query·centroid term +
    residual LUT fold), keep the best ``rescore``, exact-rescore those
    few against full vectors (pushed-In scan) → (id, score).

    The scan cost is nprobe/num_centroids of the corpus at ~m·4 bytes a
    row — compose with a bucket-partitioned code table and the probe
    filter becomes partition pruning, the 10⁹-vector operating shape.
    Final values are fold-order :func:`cosine_col`, bit-identical to
    brute force whenever the true top-k survives the candidate cut
    (recall measured in tests/recall curves, not asserted)."""
    q = [float(x) for x in query_vector]
    qn = sum(x * x for x in q) ** 0.5 or 1.0
    qu = [x / qn for x in q]
    cell_dots = [
        sum(a * b for a, b in zip(qu, c)) for c in centroids
    ]
    probes = sorted(
        range(len(centroids)), key=lambda j: (-cell_dots[j], j)
    )[:nprobe]
    est = F.element_at(_double_literal(cell_dots), F.col("bucket") + 1) + _adc_estimate(
        qu, codebooks
    )
    cand = (
        coded.where(F.col("bucket").isin(probes))
        .select("id", est.alias("est"))
        .orderBy(F.desc("est"), "id")
        .limit(rescore)
    )
    ids = [r["id"] for r in cand.select("id").collect()]
    qcol = F.array(*[F.lit(x) for x in q])
    exact = embeddings.where(F.col(id_col).isin(ids)).select(
        F.col(id_col).alias("id"),
        cosine_col(F.col(vec_col).cast("array<double>"), qcol).alias("score"),
    )
    return exact.orderBy(F.desc("score"), "id").limit(k)
