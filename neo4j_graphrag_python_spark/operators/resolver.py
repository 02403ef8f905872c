"""Stage 6 — entity resolution (canonicalization).

Reference semantics:
  * SinglePropertyExactMatchResolver (resolver.py:75-168): group __Entity__
    nodes by (label, resolve_property value), skip null values, merge each
    group — properties 'discard' (first node's bag wins), mergeRels:true
    (parallel same-type/same-endpoint edges collapse).
  * BasePropertySimilarityResolver (resolver.py:179-313): per label,
    concatenate resolve_properties, score all pairs, threshold (default
    0.8), consolidate overlapping pairs into clusters, merge.
  * FuzzyMatchResolver (resolver.py:417-453): WRatio(default_process)/100.
  * SpaCySemanticMatchResolver (resolver.py:316-414): embedding cosine with
    a per-unique-text embedding cache.

Spark-first re-design (SURVEY.md §2.3 A1-A4, §2.4 J3-J4):
  * exact: one strategy — one groupBy((label, resolve_property value))
    with ``min_by`` picking the canonical node by (chunk_index, id)
    order — the deterministic analog of "first node wins" — and edges
    re-pointed by the endpoint (label, key) the extractor carries, so the
    key is chosen once, upstream, from the same ``PipelineConfig``; skew
    on mega-entities is handled by AQE (the aggregation is
    partial/map-side combined by Catalyst automatically);
  * similarity: the reference's O(n²) ``combinations`` is replaced by
    candidate *blocking* (MinHash-LSH over character n-grams, or exact
    normalized-key prematch), pair scoring in an Arrow-batched pandas UDF,
    then connected components via iterative min-id propagation (clusters
    are tiny after blocking, so few iterations);
  * one merge core for the batch and streaming resolvers:
    :func:`score_candidate_pairs` is the only comparison step,
    :func:`fuzzy_merge_mapping` the only blocking → comparison →
    clustering chain (the caller's ``_ord`` picks each keeper), and
    :func:`merge_parallel_edges` the only mergeRels rule (behind the
    writer's dedupe, :func:`repoint_edges` and :func:`resolve_exact`).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable, Iterator

if TYPE_CHECKING:
    from pyspark.sql import Column

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T


def _with_similarity_schema(df: DataFrame) -> T.StructType:
    # StructType.add mutates in place — never call it on df.schema directly
    return T.StructType(
        list(df.schema.fields) + [T.StructField("similarity", T.DoubleType())]
    )

from neo4j_graphrag_python_spark.types import ResolutionStats

# ---------------------------------------------------------------------------
# shared merge primitive
# ---------------------------------------------------------------------------


def merge_parallel_edges(
    edges: DataFrame,
    structural_types: tuple[str, ...] | None = None,
    repoint: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """The one parallel-edge rule (apoc ``mergeRels:true``): one edge per
    (start, type, end), the min-(chunk_uid, conv_id) property bag wins.

    ``structural_types`` (NEXT_CHUNK, FROM_DOCUMENT: unique by
    construction, never entity-adjacent) pass through untouched — they
    dominate the edge count, so this keeps the shuffles to the
    entity-edge minority.  ``repoint`` rewrites the endpoints of the
    remaining edges before they merge; structural edges never reach it.
    """
    passthrough = None
    if structural_types:
        passthrough = edges.where(F.col("type").isin(list(structural_types)))
        edges = edges.where(~F.col("type").isin(list(structural_types)))
    if repoint is not None:
        edges = repoint(edges)
    merged = (
        edges.groupBy("start_node_id", "type", "end_node_id")
        .agg(
            F.min_by(
                F.struct("properties", "conv_id", "chunk_uid"),
                F.struct("chunk_uid", "conv_id"),
            ).alias("_f")
        )
        .select(
            "start_node_id",
            "end_node_id",
            "type",
            F.col("_f.properties").alias("properties"),
            F.col("_f.conv_id").alias("conv_id"),
            F.col("_f.chunk_uid").alias("chunk_uid"),
        )
    )
    if passthrough is not None:
        merged = merged.unionByName(
            passthrough.select(
                "start_node_id", "end_node_id", "type",
                "properties", "conv_id", "chunk_uid",
            )
        )
    return merged


def repoint_edges(
    edges: DataFrame,
    mapping: DataFrame,
    untouched_types: tuple[str, ...] | None = None,
) -> DataFrame:
    """Re-point edge endpoints through (id → canonical_id) — two equi
    joins (J3) — and merge the parallel edges that creates
    (:func:`merge_parallel_edges`).  ``untouched_types`` skip both."""
    non_identity = mapping.where(F.col("id") != F.col("canonical_id"))

    def repoint(edges: DataFrame) -> DataFrame:
        for endpoint in ("start_node_id", "end_node_id"):
            m = non_identity.select(
                F.col("id").alias("_from"), F.col("canonical_id").alias("_to")
            )
            edges = (
                edges.join(m, edges[endpoint] == m._from, "left")
                .withColumn(endpoint, F.coalesce(F.col("_to"), F.col(endpoint)))
                .drop("_from", "_to")
            )
        return edges

    return merge_parallel_edges(edges, untouched_types, repoint)


def apply_merge_mapping(
    nodes: DataFrame,
    edges: DataFrame,
    mapping: DataFrame,
    untouched_types: tuple[str, ...] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Apply (id → canonical_id) to the graph: nodes whose id maps to a
    different canonical_id are dropped (they merged into the canonical
    row); edges go through :func:`repoint_edges`.

    ``untouched_types``: edge types whose endpoints can never be entities
    (NEXT_CHUNK, FROM_DOCUMENT) skip re-pointing and dedupe entirely
    (FROM_CHUNK starts at an entity and IS re-pointed).
    """
    merged_away = mapping.where(F.col("id") != F.col("canonical_id")).select(
        F.col("id").alias("_mid")
    )
    new_nodes = nodes.join(
        merged_away, nodes.id == merged_away._mid, "left_anti"
    )
    return new_nodes, repoint_edges(edges, mapping, untouched_types)


def _order_key() -> "Column":
    """Deterministic 'first node' order: chunk_index (as int), then id —
    the distributed stand-in for Cypher collect() insertion order."""
    return F.struct(
        F.coalesce(
            F.col("properties").getItem("chunk_index").cast("int"), F.lit(0)
        ).alias("ci"),
        F.col("id").alias("id"),
    )


# ---------------------------------------------------------------------------
# exact-match resolver
# ---------------------------------------------------------------------------


_CARRIED_KEY_COLUMNS = ("start_label", "end_label", "start_key", "end_key")


def resolve_exact(
    nodes: DataFrame,
    edges: DataFrame,
    resolve_property: str = "name",
    untouched_edge_types: tuple[str, ...] | None = None,
) -> tuple[DataFrame, DataFrame, ResolutionStats]:
    """SinglePropertyExactMatchResolver.run (resolver.py:112-168).

    Canonical nodes come from ONE groupBy of the mention set on (label,
    ``resolve_property`` value) — min_by chunk order keeps the first
    node's row, the reference's first-wins merge.  Edges re-point via
    equi-joins of their carried endpoint (label, key) against the
    (label, key) → canonical-id map, which has one row per canonical
    ENTITY (AQE broadcasts it when small) — never a join against a
    mention-id mapping, which is proportional to the corpus.

    Precondition: ``edges`` has the extractor's shape, carrying
    ``start_label``/``end_label`` and ``start_key``/``end_key`` (kept
    through pruning), and the extractor read the keys from the same
    ``resolve_property`` — ``run_kg_pipeline`` passes both from one
    ``PipelineConfig``.  A frame without the carried columns raises
    ``ValueError`` before any Spark job.  Edges from the lexical graph
    builder carry NULL keys, so they never re-point.

    Callers pass materialized ``nodes``/``edges``: resolution reads both
    frames several times (entity scope, canonical join-back, non-entity
    complement; edge passthrough and both endpoint re-pointings), so an
    unmaterialized input re-runs its whole upstream lineage per
    consumer.  ``run_kg_pipeline`` materializes them at the
    pre-resolve stage boundary (``checkpoint_stage``) before calling in.
    """
    missing = [c for c in _CARRIED_KEY_COLUMNS if c not in edges.columns]
    if missing:
        raise ValueError(
            "resolve_exact needs edges carrying their endpoints' label and "
            f"resolve key (the extractor's shape); missing columns {missing}"
        )
    key = F.col("properties").getItem(resolve_property)
    in_scope = F.col("is_entity") & key.isNotNull()
    scoped = nodes.where(in_scope)
    others = nodes.where(~F.coalesce(in_scope, F.lit(False)))

    # ONE NARROW shuffle of the mention set decides the canonical id per
    # (label, key) group: only (id, label, key, order-key) rows cross the
    # exchange — the guide-§8 move; the historical
    # ``min_by(struct(*columns))`` form shipped every mention's full
    # properties map through the shuffle (measured ~21s of shuffle-write
    # serialization at sf0.1), when the decision needs ~40 bytes/row.
    # The winning ROW (properties 'discard' first-wins included) is then
    # fetched by an id equi-join — the winner-id set has one row per
    # canonical ENTITY, so AQE broadcasts it whenever it fits and the
    # full mention rows are never shuffled at all; _ord ties are
    # impossible (it ends in the unique id), so the argmin row is the
    # same one min_by picked.
    winners = (
        scoped.select(
            "id",
            F.col("label").alias("_gl"),
            key.alias("_gk"),
            _order_key().alias("_ord"),
        )
        .groupBy("_gl", "_gk")
        .agg(
            F.min_by("id", "_ord").alias("_cid"),
            F.count("*").alias("_n_mentions"),
        )
        .localCheckpoint(eager=False)
    )
    stats_row = winners.agg(
        # sum over zero groups is NULL; an empty scope reports 0
        F.coalesce(F.sum("_n_mentions"), F.lit(0)).alias("n"),
        F.count("*").alias("c"),
    ).collect()[0]
    # canonical rows persist (one row per canonical entity, like the
    # winners map): new_nodes is consumed repeatedly downstream (both
    # endpoint joins of the triples view, the fuzzy second pass), and
    # without the persist each consumer would re-traverse the full
    # union+prune lineage through this join
    canonical_rows = scoped.join(
        winners.select(F.col("_cid").alias("id")), "id"
    ).localCheckpoint(eager=False)
    new_nodes = others.unionByName(canonical_rows)

    # (label, key) → canonical id: one row per canonical entity
    cmap = winners.select(
        F.col("_gl").alias("_l"),
        F.col("_gk").alias("_k"),
        F.col("_cid").alias("_cid"),
    )

    def repoint(edges: DataFrame) -> DataFrame:
        for endpoint, label_col, key_col in (
            ("start_node_id", "start_label", "start_key"),
            ("end_node_id", "end_label", "end_key"),
        ):
            edges = (
                edges.join(
                    cmap,
                    (F.col(label_col) == F.col("_l"))
                    & (F.col(key_col) == F.col("_k")),
                    "left",
                )
                .withColumn(endpoint, F.coalesce(F.col("_cid"), F.col(endpoint)))
                .drop("_l", "_k", "_cid")
            )
        return edges

    new_edges = merge_parallel_edges(edges, untouched_edge_types, repoint)
    stats = ResolutionStats(
        number_of_nodes_to_resolve=stats_row["n"],
        number_of_created_nodes=stats_row["c"],
    )
    return new_nodes, new_edges, stats


# ---------------------------------------------------------------------------
# similarity resolvers (fuzzy / semantic)
# ---------------------------------------------------------------------------


def _resolve_texts(nodes: DataFrame, resolve_properties: list[str]) -> DataFrame:
    """Per entity: concatenated non-null textual properties
    (resolver.py:255-263) — empty concat drops the node from scope."""
    scoped = nodes.where(F.col("is_entity"))
    text = F.trim(
        F.concat_ws(
            " ",
            *[F.col("properties").getItem(p) for p in resolve_properties],
        )
    )
    return (
        scoped.select("id", "label", text.alias("text"), _order_key().alias("_ord"))
        .where(F.col("text") != "")
    )


def stage_lsh_features(texts: DataFrame) -> DataFrame:
    """texts(id, label, text, …) → (…, features) — the deterministic,
    STATELESS front half of the LSH blocking (char 3-grams,
    label-prefixed, hashed by a fixed HashingTF).  Because every step is
    a pure function of the row, staged features can be PERSISTED and
    reused across jobs/batches (the incremental resolver's cached
    signature table) — re-staging is never required for correctness,
    only freshness of the row set."""
    from pyspark.ml.feature import HashingTF, NGram, RegexTokenizer

    chars = RegexTokenizer(
        inputCol="norm",
        outputCol="chars",
        pattern="[\\s\\S]",
        gaps=False,
        toLowercase=True,
        minTokenLength=1,
    )
    grams = NGram(n=3, inputCol="chars", outputCol="raw_grams")
    tf = HashingTF(inputCol="grams", outputCol="features", numFeatures=1 << 18)

    base = texts.withColumn("norm", F.lower(F.col("text")))
    # pad so strings shorter than 3 chars still produce one gram
    # (rpad truncates longer strings — only pad when needed)
    base = base.withColumn(
        "norm",
        F.when(F.length("norm") < 3, F.rpad(F.col("norm"), 3, "_")).otherwise(
            F.col("norm")
        ),
    )
    grammed = grams.transform(chars.transform(base)).withColumn(
        "grams",
        F.transform("raw_grams", lambda g: F.concat(F.col("label"), F.lit(":"), g)),
    )
    staged = tf.transform(grammed)
    return staged.where(F.size("grams") > 0).drop(
        "norm", "chars", "raw_grams", "grams"
    )


def _lsh_model(staged: DataFrame, num_hash_tables: int):
    """Seed-only MinHash model: the coefficients are drawn from the
    fixed seed, NOT from the data — fit() on any schema-compatible frame
    yields identical hash functions, which is what makes two-sided joins
    against a PERSISTED staged side well-defined."""
    from pyspark.ml.feature import MinHashLSH

    return MinHashLSH(
        inputCol="features",
        outputCol="hashes",
        numHashTables=num_hash_tables,
        seed=42,
    ).fit(staged)


def _lsh_candidates_raw(
    texts: DataFrame,
    num_hash_tables: int = 8,
    jaccard_distance: float = 0.7,
) -> DataFrame:
    """approxSimilarityJoin output (datasetA/datasetB structs) for
    :func:`candidate_pairs_lsh` — split out so tests can assert that the
    blocking itself never produces cross-label candidates.

    Label-aware blocking: each character 3-gram is prefixed with the
    node's label (inside :func:`stage_lsh_features`), so gram sets of
    different-label texts are DISJOINT — a cross-label homonym pair
    ("Washington" the Person vs "Washington" the Location) has true
    Jaccard 0 and is eliminated by the distance filter even when a
    MinHash table happens to collide.  Same-label pairs see a bijective
    gram renaming, so their Jaccard (and therefore blocking recall) is
    exactly what it was without the prefix.
    """
    staged = stage_lsh_features(texts)
    model = _lsh_model(staged, num_hash_tables)
    return model.approxSimilarityJoin(
        staged, staged, jaccard_distance, distCol="jaccard_dist"
    )


def _candidate_pairs(joined: DataFrame) -> DataFrame:
    """approxSimilarityJoin rows → (label, id_a, id_b, text_a, text_b),
    one per id pair (several hash tables can emit the same pair)."""
    return joined.select(
        F.col("datasetA.label").alias("label"),
        F.col("datasetA.id").alias("id_a"),
        F.col("datasetB.id").alias("id_b"),
        F.col("datasetA.text").alias("text_a"),
        F.col("datasetB.text").alias("text_b"),
    ).dropDuplicates(["id_a", "id_b"])


def candidate_pairs_lsh_between(
    staged_a: DataFrame,
    staged_b: DataFrame,
    num_hash_tables: int = 12,
    jaccard_distance: float = 0.8,
) -> DataFrame:
    """Cross-side LSH candidate blocking between two PRE-STAGED frames
    (outputs of :func:`stage_lsh_features`, possibly read back from a
    persisted table) → (label, id_a from A, id_b from B, text_a,
    text_b).  The hash functions are seed-only, so a side staged in an
    earlier job blocks identically to one staged now — the incremental
    resolver keeps its stored canonical keys staged ONCE instead of
    re-tokenizing/hashing them every micro-batch."""
    model = _lsh_model(staged_a, num_hash_tables)
    joined = model.approxSimilarityJoin(
        staged_a, staged_b, jaccard_distance, distCol="jaccard_dist"
    )
    return _candidate_pairs(
        joined.where(F.col("datasetA.label") == F.col("datasetB.label"))
    )


def candidate_pairs_lsh(
    texts: DataFrame,
    num_hash_tables: int = 12,
    jaccard_distance: float = 0.8,
) -> DataFrame:
    """Candidate blocking via MinHash-LSH over label-prefixed character
    3-grams (pyspark.ml) — the scale replacement for O(n²) combinations
    (J4).  Blocking is label-aware (see :func:`_lsh_candidates_raw`); the
    label equality predicate below is belt-and-braces, not load-bearing.

    Returns (label, id_a, id_b, text_a, text_b) with id_a < id_b; recall is
    tuned by ``jaccard_distance`` (loose on purpose: the precise scorer
    runs next).  The (0.8, 12) defaults are set by measurement against
    the sampled all-pairs WRatio oracle on a 10⁵-name inventory
    (scripts/bench_fuzzy_scale.py): WRatio ≥ 0.8 pairs can sit at 3-gram
    Jaccard 0.25-0.3 (token substitutions in short names), which the old
    (0.7, 8) radius excluded — sampled recall 0.82 at 10k names / 0.625 at 100k; at (0.8, 12)
    it is ≥0.97 / 1.0 for +29-57% wall.  The blocking radius must cover the scorer's
    reach or the north-rule P/R target silently leaks here.
    """
    joined = _lsh_candidates_raw(texts, num_hash_tables, jaccard_distance)
    return _candidate_pairs(
        joined.where(
            (F.col("datasetA.label") == F.col("datasetB.label"))
            & (F.col("datasetA.id") < F.col("datasetB.id"))
        )
    )


#: alphabet of default_process output: 26 letters, 10 digits, space
_UB_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


def _processed_char_counts(text: "Column") -> tuple["Column", "Column"]:
    """(per-alphabet-char count vector, length) of default_process(text),
    computed JVM-side.  The regexp mirrors functions/fuzz.default_process
    exactly: lowercase, non-alnum runs → single space, strip."""
    p = F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))
    chars = F.array(*[F.lit(c) for c in _UB_ALPHABET])
    counts = F.transform(
        chars,
        lambda c: (F.length(p) - F.length(F.replace(p, c))).cast("int"),
    )
    return counts, F.length(p)


def prefilter_fuzzy_pairs(
    pairs: DataFrame, texts: DataFrame, threshold: float
) -> DataFrame:
    """Drop candidate pairs whose PROVABLE WRatio upper bound is below
    ``threshold`` — zero recall loss by construction, unlike a
    statistical margin.

    Bound (for the repo's wratio: base InDel ratio + scaled partial):
    any common subsequence's char multiset is a sub-multiset of both
    sides, so ``LCS(a,b) ≤ bagint`` (the char-bag intersection) and

      * base  = 2·LCS/(la+lb)            ≤ 2·bagint/(la+lb)
      * partial(shorter, window) = LCS/ls ≤ bagint/ls   (a window's bag
        ⊆ the longer string's bag), scaled by wratio's exact 0.9/0.6
        length-ratio branches.

    The count vectors are computed ONCE per text (n rows of 37 ints —
    one codegen'd projection) and joined into the pair stream; the
    per-pair work is a 37-slot zip_with/min fold, far cheaper than the
    O(len²) Python LCS it short-circuits.  This is the fuzzy analog of
    the minhash est-prefilter (dedup.py), but exact instead of 3σ.

    ONLY sound for the pure-Python wratio (functions/fuzz.py): real
    rapidfuzz WRatio adds token_sort/token_set branches (0.95-scaled)
    that this bound does not dominate — :func:`score_candidate_pairs`,
    its only caller, bypasses it when rapidfuzz is installed.
    """
    counts, plen = _processed_char_counts(F.col("text"))
    cnt = texts.select(
        "id", counts.alias("_cnt"), plen.alias("_plen")
    )
    joined = (
        pairs.join(
            cnt.select(
                F.col("id").alias("id_a"),
                F.col("_cnt").alias("_cnt_a"),
                F.col("_plen").alias("_la"),
            ),
            "id_a",
        )
        .join(
            cnt.select(
                F.col("id").alias("id_b"),
                F.col("_cnt").alias("_cnt_b"),
                F.col("_plen").alias("_lb"),
            ),
            "id_b",
        )
    )
    bagint = F.aggregate(
        F.zip_with("_cnt_a", "_cnt_b", lambda x, y: F.least(x, y)),
        F.lit(0),
        lambda s, x: s + x,
    ).cast("double")
    la, lb = F.col("_la").cast("double"), F.col("_lb").cast("double")
    ls, ll = F.least(la, lb), F.greatest(la, lb)
    base_ub = F.lit(2.0) * bagint / (la + lb)
    scale = (
        F.when(ll / ls >= 8.0, F.lit(0.6))
        .when(ll / ls >= 1.5, F.lit(0.9))
        .otherwise(F.lit(0.0))
    )
    ub = F.when(ls <= 0, F.lit(0.0)).otherwise(
        F.greatest(base_ub, scale * bagint / ls)
    )
    return joined.where(ub >= F.lit(threshold)).drop(
        "_cnt_a", "_cnt_b", "_la", "_lb"
    )


def score_pairs_fuzzy(pairs: DataFrame) -> DataFrame:
    """Arrow-batched pair scoring with the WRatio-compatible scorer
    (functions/fuzz.py; reference resolver.py:448-453)."""

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from neo4j_graphrag_python_spark.functions.fuzz import similarity

        for pdf in batches:
            pdf = pdf.copy()
            pdf["similarity"] = [
                similarity(a, b) for a, b in zip(pdf["text_a"], pdf["text_b"])
            ]
            yield pdf

    return pairs.mapInPandas(score_batches, schema=_with_similarity_schema(pairs))


def score_pairs_cosine(pairs: DataFrame, dim: int = 64) -> DataFrame:
    """Semantic scoring: deterministic hash-embedding cosine — the
    distributed analog of SpaCySemanticMatchResolver.compute_similarity
    (resolver.py:373-397).  Unique texts are embedded once per Arrow batch
    (cache dict), the DataFrame-side analog of embedding_cache
    (resolver.py:381-385)."""

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from neo4j_graphrag_python_spark.functions.embedding import embed_text

        cache: dict[str, "np.ndarray"] = {}

        def emb(t: str):
            if t not in cache:
                cache[t] = embed_text(t, dim)
            return cache[t]

        for pdf in batches:
            pdf = pdf.copy()
            sims = []
            for a, b in zip(pdf["text_a"], pdf["text_b"]):
                va, vb = emb(a), emb(b)
                na, nb = np.linalg.norm(va), np.linalg.norm(vb)
                sims.append(
                    float(va @ vb / (na * nb)) if na and nb else 0.0
                )
            pdf["similarity"] = sims
            yield pdf

    return pairs.mapInPandas(score_batches, schema=_with_similarity_schema(pairs))


def connected_components(
    pairs: DataFrame, max_iterations: int = 20, driver_limit: int = 1_000_000
) -> DataFrame:
    """(id_a, id_b) pairs → (id, canonical_id=min id of component).

    Iterative min-label propagation — the distributed _consolidate_sets
    (resolver.py:299-313).  After LSH blocking components are tiny, so this
    converges in a handful of iterations; each is one shuffle.

    Size-gated driver fast path (round 7): the iterative loop costs
    ≥6 Spark jobs (two eager checkpoints, then per iteration a
    neighbor-min join, a checkpoint and a convergence probe) — measured
    ~8s of pure scheduling at bench scale for a HANDFUL of pairs.  When
    the pair set is at most ``driver_limit`` rows (16-50 MB collected —
    post-blocking pair sets are output-sized, not corpus-sized), a
    driver-side union-find with min-id roots computes the identical
    component map in one collect; larger inputs take the distributed
    loop unchanged.  min over ids matches Spark semantics for both long
    and lexicographic string ids.

    Lineage note: per-iteration ``localCheckpoint`` truncates lineage in
    EXECUTOR memory — fast, but not fault-tolerant (a lost executor fails
    the job).  That's the right trade here (post-LSH inputs are small and
    iterations few); for cluster-scale inputs swap to reliable
    ``df.checkpoint()`` with ``spark.sparkContext.setCheckpointDir`` so a
    lost block recomputes from HDFS instead of failing.
    """
    spark = pairs.sparkSession
    id_type = pairs.schema["id_a"].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("canonical_id", id_type),
        ]
    )
    narrow = pairs.select("id_a", "id_b").persist()
    n_pairs = narrow.count()
    if n_pairs <= driver_limit:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        # collect, not toLocalIterator: the latter runs one job per
        # partition; the row count is already bounded by driver_limit
        for row in narrow.collect():
            a, b = row["id_a"], row["id_b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        # min id per component root
        comp_min: dict = {}
        for x in parent:
            r = find(x)
            m = comp_min.get(r)
            if m is None or x < m:
                comp_min[r] = x
        rows = [(x, comp_min[find(x)]) for x in parent]
        narrow.unpersist()
        return spark.createDataFrame(rows, out_schema)
    pairs = narrow
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    labels = (
        sym.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("comp"))
        .select(F.col("src").alias("id"), F.least("comp", "id").alias("comp"))
    )
    sym = sym.localCheckpoint(eager=True)
    labels = labels.localCheckpoint(eager=True)
    # both eager checkpoints have consumed the pair cache; release it
    narrow.unpersist()
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("n_comp"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("n_comp"), F.col("comp"))
                ).alias("comp"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("id", F.col("comp").alias("canonical_id"))


def _scorer(method: str) -> Callable[[DataFrame], DataFrame]:
    """The pair scorer for ``method`` — read from the module globals at
    call time, so a rebound scorer (perfbench's trace) is the one used."""
    if method == "fuzzy":
        return score_pairs_fuzzy
    if method == "semantic":
        return score_pairs_cosine
    raise ValueError(f"unknown similarity method {method!r}: 'fuzzy' or 'semantic'")


def score_candidate_pairs(
    pairs: DataFrame, texts: DataFrame, method: str, threshold: float
) -> DataFrame:
    """Candidate pairs → scored matches (``similarity ≥ threshold``): the
    one comparison step of every fuzzy/semantic caller.

    The fuzzy method first cuts pairs whose provable WRatio upper bound
    misses the threshold (:func:`prefilter_fuzzy_pairs` over ``texts``'
    (id, text) rows) — sound only for the pure-Python wratio, so it is
    skipped when rapidfuzz is installed."""
    score = _scorer(method)
    if method == "fuzzy":
        from neo4j_graphrag_python_spark.functions.fuzz import HAVE_RAPIDFUZZ

        if not HAVE_RAPIDFUZZ:
            pairs = prefilter_fuzzy_pairs(pairs, texts, threshold)
    # repartition before the Python scorer: its cost is per PAIR, but
    # AQE sizes post-join partitions by bytes, serialising the scorer
    # onto a handful of tasks at 10^5-name scale (same fix as the
    # minhash rescore)
    pairs = pairs.repartition(pairs.sparkSession.sparkContext.defaultParallelism)
    return score(pairs).where(F.col("similarity") >= threshold)


def fuzzy_merge_mapping(
    texts: DataFrame, method: str, threshold: float
) -> tuple[DataFrame, int, int]:
    """texts(id, label, text, _ord) → ((id, canonical_id) mapping, entities
    in scope, entities merged away): LSH blocking → scoring
    (:func:`score_candidate_pairs`) → connected components, keeping
    ``min_by(id, _ord)`` per component.  The caller's ``_ord`` is the
    keeper rule: chunk order for first-wins batch resolution, the id
    itself for idempotent min-id compaction.  Raises ``ValueError`` for
    an unknown ``method`` before any Spark job runs."""
    _scorer(method)  # validate before the scope count below runs a job
    sc = texts.sparkSession.sparkContext
    # coalesce caps the staged frame's partition count at the session's
    # parallelism: the entity scope inherits the full graph's partition
    # layout (unions of wide extraction caches — 384 partitions for a
    # handful of entities at bench scale), and every LSH/ML stage
    # downstream would otherwise schedule that many tasks per pass.
    # coalesce is narrow (no shuffle) and a no-op when the input already
    # has fewer partitions; real parallelism is restored by the banding
    # join's own exchanges at scale.
    # localCheckpoint, not persist: persist caches execution but every
    # downstream ACTION still re-ANALYZES the full logical lineage (the
    # whole extraction/union/prune DAG plus the ML transforms) — the
    # fuzzy phase runs ~24 jobs and the repeated analysis showed up as
    # multi-second driver gaps with zero tasks running.  The checkpoint
    # truncates the plan to a flat RDD scan for every consumer.
    texts = texts.coalesce(sc.defaultParallelism).localCheckpoint(eager=False)
    n_scope = texts.count()
    matches = score_candidate_pairs(
        candidate_pairs_lsh(texts), texts, method, threshold
    )
    comp = connected_components(matches.select("id_a", "id_b"))
    with_ord = comp.join(texts.select("id", "_ord"), "id")
    rep = with_ord.groupBy("canonical_id").agg(
        F.min_by("id", "_ord").alias("rep_id")
    )
    # localCheckpoint: the mapping feeds the merged count plus the
    # callers' joins — materializes once AND truncates the LSH/scorer
    # lineage out of every downstream plan analysis
    mapping = (
        with_ord.join(rep, "canonical_id")
        .select("id", F.col("rep_id").alias("canonical_id"))
        .localCheckpoint(eager=False)
    )
    n_merged = mapping.where(F.col("id") != F.col("canonical_id")).count()
    return mapping, n_scope, n_merged


def resolve_similarity(
    nodes: DataFrame,
    edges: DataFrame,
    method: str = "fuzzy",
    resolve_properties: list[str] | None = None,
    similarity_threshold: float = 0.8,
    untouched_edge_types: tuple[str, ...] | None = None,
) -> tuple[DataFrame, DataFrame, ResolutionStats]:
    """Fuzzy / semantic resolution (resolver.py:179-313 pipeline shape):
    :func:`fuzzy_merge_mapping` over the entities' texts, whose
    (chunk_index, id) ``_ord`` keeps the first mention of each cluster
    ('properties: discard' first-wins), then :func:`apply_merge_mapping`."""
    texts = _resolve_texts(nodes, resolve_properties or ["name"])
    mapping, n_scope, n_merged = fuzzy_merge_mapping(
        texts, method, similarity_threshold
    )
    new_nodes, new_edges = apply_merge_mapping(
        nodes, edges, mapping, untouched_types=untouched_edge_types
    )
    stats = ResolutionStats(
        number_of_nodes_to_resolve=n_scope,
        number_of_created_nodes=n_scope - n_merged,
    )
    return new_nodes, new_edges, stats
