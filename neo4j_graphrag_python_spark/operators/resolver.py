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
  * exact: one groupBy((label, name)) with ``min_by`` picking the canonical
    node by (chunk_index, id) order — the deterministic analog of
    "first node wins"; skew on mega-entities is handled by AQE (the
    aggregation is partial/map-side combined by Catalyst automatically);
  * similarity: the reference's O(n²) ``combinations`` is replaced by
    candidate *blocking* (MinHash-LSH over character n-grams, or exact
    normalized-key prematch), pair scoring in an Arrow-batched pandas UDF,
    then connected components via iterative min-id propagation (clusters
    are tiny after blocking, so few iterations);
  * merging is one shared primitive: a (node_id → canonical_id) mapping
    applied to nodes (keep canonical row) and edges (two hash joins +
    dropDuplicates for mergeRels semantics).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

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


def apply_merge_mapping(
    nodes: DataFrame,
    edges: DataFrame,
    mapping: DataFrame,
    untouched_types: tuple[str, ...] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Apply (id → canonical_id) to the graph.

    * nodes whose id maps to a different canonical_id are dropped (they
      merged into the canonical row);
    * edge endpoints are re-pointed (two equi joins — J3);
    * parallel edges with same (start, type, end) are merged keeping the
      first property bag by chunk order (apoc mergeRels:true analog).

    ``untouched_types``: edge types whose endpoints can never be entities
    (NEXT_CHUNK, FROM_DOCUMENT) skip re-pointing and dedupe entirely —
    they dominate the edge count, so this keeps both shuffles to the
    entity-adjacent minority (FROM_CHUNK starts at an entity and IS
    re-pointed).
    """
    non_identity = mapping.where(F.col("id") != F.col("canonical_id"))
    merged_away = non_identity.select(F.col("id").alias("_mid"))
    new_nodes = nodes.join(
        merged_away, nodes.id == merged_away._mid, "left_anti"
    )

    passthrough = None
    if untouched_types:
        passthrough = edges.where(F.col("type").isin(list(untouched_types)))
        edges = edges.where(~F.col("type").isin(list(untouched_types)))

    for endpoint in ("start_node_id", "end_node_id"):
        m = non_identity.select(
            F.col("id").alias("_from"), F.col("canonical_id").alias("_to")
        )
        edges = (
            edges.join(m, edges[endpoint] == m._from, "left")
            .withColumn(endpoint, F.coalesce(F.col("_to"), F.col(endpoint)))
            .drop("_from", "_to")
        )
    new_edges = (
        edges.groupBy("start_node_id", "type", "end_node_id")
        .agg(
            F.min_by(
                F.struct("properties", "conv_id", "chunk_uid"),
                F.struct("chunk_uid", "conv_id"),
            ).alias("_first")
        )
        .select(
            "start_node_id",
            "end_node_id",
            "type",
            F.col("_first.properties").alias("properties"),
            F.col("_first.conv_id").alias("conv_id"),
            F.col("_first.chunk_uid").alias("chunk_uid"),
        )
    )
    if passthrough is not None:
        new_edges = new_edges.unionByName(
            passthrough.select(
                "start_node_id", "end_node_id", "type",
                "properties", "conv_id", "chunk_uid",
            )
        )
    return new_nodes, new_edges


def _entity_scope(nodes: DataFrame, resolve_property: str) -> DataFrame:
    """Entities eligible for resolution: is_entity with non-null property
    (resolver.py:137-139 'WHERE prop IS NOT NULL')."""
    return nodes.where(
        F.col("is_entity") & F.col("properties").getItem(resolve_property).isNotNull()
    )


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


def exact_match_mapping(
    nodes: DataFrame, resolve_property: str = "name"
) -> DataFrame:
    """(id → canonical_id) for exact (label, property) groups."""
    scoped = _entity_scope(nodes, resolve_property).select(
        "id",
        "label",
        F.col("properties").getItem(resolve_property).alias("_prop"),
        _order_key().alias("_ord"),
    )
    canon = scoped.groupBy("label", "_prop").agg(
        F.min_by("id", "_ord").alias("canonical_id")
    )
    return scoped.join(canon, ["label", "_prop"]).select("id", "canonical_id")


def resolve_exact(
    nodes: DataFrame,
    edges: DataFrame,
    resolve_property: str = "name",
    untouched_edge_types: tuple[str, ...] | None = None,
) -> tuple[DataFrame, DataFrame, ResolutionStats]:
    """SinglePropertyExactMatchResolver.run (resolver.py:112-168).

    Two physical strategies, identical semantics:

    * **carried-key fast path** — when edges carry the endpoints'
      resolve key (``start_name``/``end_name`` from extraction, surviving
      pruning) and the key is the resolve property: canonical nodes come
      from ONE groupBy of the mention set (min_by chunk order keeps the
      first node's row — the reference's first-wins merge), and edges
      re-point via equi-joins against the (label, key) → canonical-id map,
      which has one row per canonical ENTITY (AQE broadcasts it when
      small) — never a join against the mention-id mapping, which is
      proportional to the corpus.
    * **mapping path** — the generic fallback (edges from storage, custom
      resolve property): mention-id mapping + apply_merge_mapping.

    Callers pass materialized ``nodes``/``edges``: resolution reads both
    frames several times (entity scope, canonical join-back, non-entity
    complement; edge passthrough and both endpoint re-pointings), so an
    unmaterialized input re-runs its whole upstream lineage per
    consumer.  ``run_kg_pipeline`` materializes them at the
    pre-resolve stage boundary (``checkpoint_stage``) before calling in.
    """
    carried = (
        resolve_property == "name"
        and "start_name" in edges.columns
        and "end_name" in edges.columns
    )
    if carried:
        return _resolve_exact_carried(
            nodes, edges, resolve_property, untouched_edge_types
        )
    # persist: the mapping feeds three joins (node anti-join + two edge
    # re-pointings) plus the stats aggregate — without it the whole
    # upstream extract/prune DAG re-executes per consumer.
    mapping = exact_match_mapping(nodes, resolve_property).persist()
    stats_row = mapping.agg(
        F.count("*").alias("n"),
        F.countDistinct("canonical_id").alias("c"),
    ).collect()[0]
    new_nodes, new_edges = apply_merge_mapping(
        nodes, edges, mapping, untouched_types=untouched_edge_types
    )
    stats = ResolutionStats(
        number_of_nodes_to_resolve=stats_row["n"],
        number_of_created_nodes=stats_row["c"],
    )
    return new_nodes, new_edges, stats


def _resolve_exact_carried(
    nodes: DataFrame,
    edges: DataFrame,
    resolve_property: str,
    untouched_edge_types: tuple[str, ...] | None,
) -> tuple[DataFrame, DataFrame, ResolutionStats]:
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
        # sum over zero groups is NULL; the mapping path's count(*) gives
        # 0 on an empty scope — keep the two paths' stats identical
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

    passthrough = None
    if untouched_edge_types:
        passthrough = edges.where(F.col("type").isin(list(untouched_edge_types)))
        edges = edges.where(~F.col("type").isin(list(untouched_edge_types)))

    for endpoint, lab, nm in (
        ("start_node_id", "start_label", "start_name"),
        ("end_node_id", "end_label", "end_name"),
    ):
        edges = (
            edges.join(
                cmap,
                (F.col(lab) == F.col("_l")) & (F.col(nm) == F.col("_k")),
                "left",
            )
            .withColumn(endpoint, F.coalesce(F.col("_cid"), F.col(endpoint)))
            .drop("_l", "_k", "_cid")
        )

    out_cols = [
        "start_node_id", "end_node_id", "type",
        "properties", "conv_id", "chunk_uid",
    ]
    new_edges = (
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
        new_edges = new_edges.unionByName(passthrough.select(*out_cols))
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
    return (
        joined.where(F.col("datasetA.label") == F.col("datasetB.label"))
        .select(
            F.col("datasetA.label").alias("label"),
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.col("datasetA.text").alias("text_a"),
            F.col("datasetB.text").alias("text_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
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
    return (
        joined.where(
            (F.col("datasetA.label") == F.col("datasetB.label"))
            & (F.col("datasetA.id") < F.col("datasetB.id"))
        )
        .select(
            F.col("datasetA.label").alias("label"),
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.col("datasetA.text").alias("text_a"),
            F.col("datasetB.text").alias("text_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
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
    that this bound does not dominate — callers must bypass the
    prefilter when rapidfuzz is installed (resolve_similarity does).
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
    from pyspark.sql import types as T

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


def resolve_similarity(
    nodes: DataFrame,
    edges: DataFrame,
    method: str = "fuzzy",
    resolve_properties: list[str] | None = None,
    similarity_threshold: float = 0.8,
    lsh_jaccard_distance: float = 0.8,
    untouched_edge_types: tuple[str, ...] | None = None,
    prefilter: bool = True,
) -> tuple[DataFrame, DataFrame, ResolutionStats]:
    """Fuzzy / semantic resolution (resolver.py:179-313 pipeline shape).

    ``prefilter`` (fuzzy method only): cut candidate pairs whose provable
    WRatio upper bound is below the threshold before the Python scorer —
    exact, zero recall loss (:func:`prefilter_fuzzy_pairs`).  Auto-
    disabled when rapidfuzz is installed (the scorer then delegates to
    real WRatio, whose token_sort/token_set branches the bound does not
    dominate)."""
    props = resolve_properties or ["name"]
    sc = nodes.sparkSession.sparkContext
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
    texts = (
        _resolve_texts(nodes, props)
        .coalesce(sc.defaultParallelism)
        .localCheckpoint(eager=False)
    )
    n_scope = texts.count()
    pairs = candidate_pairs_lsh(texts, jaccard_distance=lsh_jaccard_distance)
    if method == "fuzzy" and prefilter:
        from neo4j_graphrag_python_spark.functions.fuzz import HAVE_RAPIDFUZZ

        if not HAVE_RAPIDFUZZ:
            pairs = prefilter_fuzzy_pairs(pairs, texts, similarity_threshold)
    # repartition before the Python scorer: its cost is per PAIR, but
    # AQE sizes post-join partitions by bytes, serialising the scorer
    # onto a handful of tasks at 10^5-name scale (same fix as the
    # minhash rescore)
    pairs = pairs.repartition(sc.defaultParallelism)
    scored = (
        score_pairs_fuzzy(pairs) if method == "fuzzy" else score_pairs_cosine(pairs)
    )
    matches = scored.where(F.col("similarity") >= similarity_threshold)
    comp = connected_components(matches.select("id_a", "id_b"))
    # canonical representative: first node (chunk order) within component,
    # not min id — align with 'properties: discard' first-wins semantics.
    with_ord = comp.join(texts.select("id", "_ord"), "id")
    rep = with_ord.groupBy("canonical_id").agg(
        F.min_by("id", "_ord").alias("rep_id")
    )
    # localCheckpoint: mapping feeds the stats count plus three joins in
    # apply_merge_mapping — materializes once AND truncates the
    # LSH/scorer lineage out of every downstream plan analysis
    mapping = (
        with_ord.join(rep, "canonical_id")
        .select("id", F.col("rep_id").alias("canonical_id"))
        .localCheckpoint(eager=False)
    )
    n_merged = mapping.where(F.col("id") != F.col("canonical_id")).count()
    new_nodes, new_edges = apply_merge_mapping(
        nodes, edges, mapping, untouched_types=untouched_edge_types
    )
    stats = ResolutionStats(
        number_of_nodes_to_resolve=n_scope,
        number_of_created_nodes=n_scope - n_merged,
    )
    return new_nodes, new_edges, stats
