"""Incremental cross-batch entity resolution for the streaming/catalog
path (VERDICT r5 next #3).

Problem: the micro-batch KG pipeline resolves entities WITHIN a batch
only — "John Smith" in batch 1 and batch 7 become two canonical nodes,
and the canonical's node id (the first mention's id) depends on how the
feed happens to split into triggers, so node counts drift with trigger
size (measured in BENCH.md round 5).

Design — the Spark analog of the reference's inherently-incremental
DB-side resolver (reference resolver.py:75-168 matches new mentions
against the STORED ``__Entity__`` nodes; it never needs the whole corpus
in one pass):

* a persistent **canonical-map catalog table** ``{target}_canon`` with
  one row per known (label, key): ``(label, key, canonical_id, ord_ci,
  ord_id)``.  ``canonical_id`` is the CONTENT hash of (label, key) —
  never a mention id — so the id a key resolves to is independent of
  arrival order by construction.
* per batch: the batch's entity mentions (in-batch resolved or not —
  the streaming sink skips the pipeline's exact tier, which this
  grouping subsumes) group to one row per (label, key); keys already in
  the map ADOPT the stored canonical id (one equi-join); optionally, keys
  with no exact match are FUZZY-matched against the stored keys (the
  same LSH blocking + WRatio scorer as the batch resolver) and adopt the
  best stored canonical ≥ threshold, registering their key as an ALIAS
  row so later repeats exact-match cheaply; remaining keys mint new
  canonical rows.
* every merge is **min-wins and associative**: the canonical node's
  property bag belongs to the globally-min-(chunk_index, id) mention
  seen SO FAR (the deterministic "first node wins" of the batch
  resolver, made incremental by storing the ord in the map), and edge
  property bags merge by min (chunk_uid, conv_id) via
  ``merge_upsert(..., precedence=...)``.  Min is associative and
  commutative, so for the exact tier the final (nodes, edges, canon)
  tables are IDENTICAL for any trigger size and any replay — the
  convergence/idempotence property the replay tests pin.

Honest limits (same as the reference's incremental resolver): fuzzy
adoption matches new keys against what is ALREADY stored, so which of
two fuzzy-equivalent names becomes the canonical depends on arrival
order, and the per-batch job never retroactively merges two existing
canonicals — that consolidation is :func:`compact_canonicals`, the
periodic offline job at the bottom of this module.

Scale shape: one resolution pass per batch — one groupBy of the
batch's mentions, ONE checkpointed key assignment against the canonical
map (tier, bag-improvement flag and canonical id per key; the counters
and the node/canon/edge deltas are projections of it), and bounded
min-wins MERGEs (Iceberg MERGE touches only key-overlapping files; AQE
broadcasts the batch side).  The optional fuzzy tier blocks two-sided
against a MAINTAINED feature table (``{target}_canon_feats``): stored
keys are tokenized/hashed once at registration (staging is stateless
and the MinHash model is seed-only — resolver.stage_lsh_features), so
per-batch fuzzy cost is the batch side's staging plus the join,
independent of how much TEXT the canonical map holds; gaps self-heal
via one narrow anti-join per batch, and compaction rebuilds the table
(its row ids embed canonical ids).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from neo4j_graphrag_python_spark.operators.resolver import (
    _order_key,
    candidate_pairs_lsh,
    candidate_pairs_lsh_between,
    prefilter_fuzzy_pairs,
    score_pairs_fuzzy,
    stage_lsh_features,
)
from neo4j_graphrag_python_spark.sources.catalog import merge_upsert

#: ord sentinel for alias rows — loses every min-wins comparison, so an
#: alias key can never steal the canonical node's property bag
_ALIAS_ORD_CI = 2147483647
_ALIAS_ORD_ID = "￿"


def canonical_entity_id(label: Column, key: Column) -> Column:
    """Stable canonical id: content hash of (label, key).  Arrival order
    cannot influence it — the root of trigger-size invariance."""
    return F.md5(F.concat_ws("\x00", label, key))


def resolve_batch_incremental(
    nodes: DataFrame,
    edges: DataFrame,
    target: str,
    resolve_property: str = "name",
    fuzzy_threshold: float | None = None,
    file_format: str = "parquet",
    untouched_edge_types: tuple[str, ...] = ("NEXT_CHUNK", "FROM_DOCUMENT"),
) -> dict:
    """Resolve one micro-batch's graph against the persistent canonical
    map and MERGE the results into ``{target}_nodes`` / ``_edges`` /
    ``_canon``.  Returns counters.

    ``nodes``/``edges`` are a batch pipeline output, in-batch resolved or
    not: the per-(label, key) min-ord grouping below picks the same
    winner as the batch exact resolver, and the edge re-pointing dedupes
    by the same min (chunk_uid, conv_id), so an unresolved batch gives
    identical tables.  Entity mentions re-point to stable canonical ids;
    non-entity nodes (chunks/documents — already content-addressed) pass
    through.

    With ``fuzzy_threshold`` set, stored keys' LSH features are staged
    ONCE at registration into ``{target}_canon_feats`` and every later
    batch blocks against the persisted table — per-batch fuzzy cost stops
    depending on the size of the canonical map's text (only the batch
    side is re-staged).
    """
    spark = nodes.sparkSession
    canon_tbl = f"{target}_canon"
    key = F.col("properties").getItem(resolve_property)
    in_scope = F.col("is_entity") & key.isNotNull()
    scoped = nodes.where(in_scope)
    others = nodes.where(~F.coalesce(in_scope, F.lit(False)))

    # one row per (label, key) in this batch: min-ord mention's full row
    batch = (
        scoped.select(
            "*", key.alias("_k"), _order_key().alias("_ord")
        )
        .groupBy("label", "_k")
        .agg(
            F.min_by(F.struct(*nodes.columns), "_ord").alias("_row"),
            F.min("_ord").alias("_ord"),
        )
        .localCheckpoint(eager=True)
    )

    has_canon = spark.catalog.tableExists(canon_tbl)
    if has_canon:
        stored = spark.read.table(canon_tbl)
    else:
        stored = spark.createDataFrame(
            [],
            "label string, key string, canonical_id string, "
            "ord_ci int, ord_id string, is_alias boolean",
        )
    st = stored.select(
        "label",
        F.col("key").alias("_k"),
        F.col("canonical_id").alias("_scid"),
        F.col("ord_ci").alias("_sord_ci"),
        F.col("ord_id").alias("_sord_id"),
        F.col("is_alias").alias("_salias"),
    )

    fuzzy_adopt = spark.createDataFrame(
        [], "label string, _k string, _scid string"
    )
    if fuzzy_threshold is not None and has_canon:
        feats_tbl = f"{target}_canon_feats"
        if spark.catalog.tableExists(feats_tbl):
            # self-heal: keys registered while fuzzy was off (or by an
            # external writer) are staged and appended now — one
            # anti-join of the (narrow) canonical map per batch
            gap = stored.join(
                spark.read.table(feats_tbl)
                .select("label", F.col("text").alias("key"))
                .dropDuplicates(["label", "key"]),
                ["label", "key"],
                "left_anti",
            )
            if not gap.isEmpty():
                ensure_canon_features(
                    spark,
                    target,
                    gap.select("label", "key", "canonical_id"),
                    file_format,
                )
        else:
            # bootstrap: stage the whole (so-far) map once — covers keys
            # registered before fuzzy was enabled
            ensure_canon_features(
                spark,
                target,
                stored.select("label", "key", "canonical_id"),
                file_format,
            )
        # replays append identical rows — dedupe on the synthetic id
        staged_stored = spark.read.table(feats_tbl).dropDuplicates(["id"])
        missing = batch.join(st, ["label", "_k"], "left_anti")
        fuzzy_adopt = _fuzzy_adopt(
            missing, staged_stored, fuzzy_threshold
        ).localCheckpoint(eager=True)

    # ONE key assignment per batch key: exact (stored key) > fuzzy
    # (adopted stored canonical) > new (content-hash id).  Exact adopters
    # whose batch mention precedes the stored one take over the canonical
    # node's property bag (global keep-first, incremental).  Alias keys
    # never do: they point at a canonical whose bag belongs to its PRIMARY
    # key's min mention — an alias mention beating the alias SENTINEL ord
    # says nothing about the primary key's order
    exact = F.col("_scid").isNotNull()
    fuzzy = F.col("_fcid").isNotNull()
    assigned = (
        batch.join(st, ["label", "_k"], "left")
        .join(
            fuzzy_adopt.withColumnRenamed("_scid", "_fcid"),
            ["label", "_k"],
            "left",
        )
        .select(
            "label",
            "_k",
            "_row",
            "_ord",
            F.when(exact, "exact")
            .when(fuzzy, "fuzzy")
            .otherwise("new")
            .alias("_tier"),
            F.coalesce(
                exact
                & ~F.col("_salias")
                & (
                    F.struct(F.col("_ord.ci"), F.col("_ord.id"))
                    < F.struct(F.col("_sord_ci"), F.col("_sord_id"))
                ),
                F.lit(False),
            ).alias("_improved"),
            F.coalesce(
                F.col("_scid"),
                F.col("_fcid"),
                canonical_entity_id(F.col("label"), F.col("_k")),
            ).alias("_cid"),
        )
        .localCheckpoint(eager=True)
    )

    counts = assigned.groupBy("_tier", "_improved").count().collect()
    n = {
        t: sum(r["count"] for r in counts if r["_tier"] == t)
        for t in ("exact", "fuzzy", "new")
    }
    n_improved = sum(r["count"] for r in counts if r["_improved"])
    stats = {
        "batch_entity_keys": sum(n.values()),
        "exact_adopted": n["exact"],
        "fuzzy_adopted": n["fuzzy"],
        "new_canonicals": n["new"],
    }

    # canonical rows the batch writes: new keys mint one, improved exact
    # keys replace the stored bag (fuzzy adopters leave the node alone)
    tier = F.col("_tier")
    owners = assigned.where((tier == "new") | F.col("_improved"))
    nodes_delta = others.unionByName(
        owners.select(
            *[
                F.col("_cid").alias("id") if c == "id"
                else F.col(f"_row.{c}").alias(c)
                for c in nodes.columns
            ]
        )
    )
    alias = tier == "fuzzy"
    canon_delta = assigned.where(
        (tier != "exact") | F.col("_improved")
    ).select(
        "label",
        F.col("_k").alias("key"),
        F.col("_cid").alias("canonical_id"),
        F.when(alias, F.lit(_ALIAS_ORD_CI))
        .otherwise(F.col("_ord.ci"))
        .alias("ord_ci"),
        F.when(alias, F.lit(_ALIAS_ORD_ID))
        .otherwise(F.col("_ord.id"))
        .alias("ord_id"),
        alias.alias("is_alias"),
    )
    # (batch mention id → canonical id), one row per batch ENTITY KEY,
    # expanded to mentions by the same (label, key) equi-join the batch
    # resolver's carried-key path uses
    mapping = (
        scoped.select("id", "label", key.alias("_k"))
        .join(assigned.select("label", "_k", "_cid"), ["label", "_k"])
        .select("id", F.col("_cid").alias("canonical_id"))
    )
    edges_delta = _repoint_edges(edges, mapping, untouched_edge_types)

    # every delta derives from the batch frames and the checkpoints above
    # (the key assignment read ``_canon``, the fuzzy adoptions
    # ``_canon_feats``), never from a live table — safe to rewrite the
    # tables (the V1 fallback is drop+create)
    merge_upsert(
        spark,
        canon_delta,
        canon_tbl,
        ("label", "key"),
        file_format,
        precedence=("ord_ci", "ord_id"),
    )
    merge_upsert(spark, nodes_delta, f"{target}_nodes", ("id",), file_format)
    merge_upsert(
        spark,
        edges_delta,
        f"{target}_edges",
        ("start_node_id", "type", "end_node_id"),
        file_format,
        precedence=("chunk_uid", "conv_id"),
    )
    for t in (canon_tbl, f"{target}_nodes", f"{target}_edges"):
        spark.catalog.refreshTable(t)
    if fuzzy_threshold is not None and (n["new"] or n["fuzzy"] or n_improved):
        # register the NEW keys' features once, at registration time
        ensure_canon_features(
            spark,
            target,
            canon_delta.select("label", "key", "canonical_id"),
            file_format,
        )
    return stats


def _stored_key_texts(stored: DataFrame) -> DataFrame:
    """One fuzzy-target row per STORED (label, key) — aliases included
    (a new variant may be closest to an alias spelling), with the
    canonical id recoverable from the synthetic row id (md5 hex carries
    no NUL, so the first NUL delimits it)."""
    return stored.select(
        F.concat(
            F.lit("s:"), F.col("canonical_id"), F.lit("\x00"), F.col("key")
        ).alias("id"),
        "label",
        F.col("key").alias("text"),
    ).dropDuplicates(["id"])


def ensure_canon_features(
    spark, target: str, new_keys: DataFrame, file_format: str = "parquet"
) -> None:
    """Append staged LSH features for newly-registered canonical keys to
    the ``{target}_canon_feats`` table — the cached-signature design:
    :func:`stage_lsh_features` is stateless and the MinHash model is
    seed-only, so stored keys are tokenized/hashed ONCE when registered
    and every later micro-batch blocks against the persisted features
    instead of re-staging the whole map (re-runs append identical rows;
    reads dedupe by id).  ``new_keys``: (label, key, canonical_id)."""
    texts = _stored_key_texts(new_keys)
    tbl = f"{target}_canon_feats"
    if spark.catalog.tableExists(tbl):
        # anti-join against the already-staged ids BEFORE tokenizing:
        # callers pass whole canon deltas (including 'improved' rows
        # whose keys are already staged), and appending them again grew
        # the table unboundedly between compactions (reads dedupe, but
        # scan cost does not)
        texts = texts.join(
            spark.read.table(tbl).select("id"), "id", "left_anti"
        )
        staged = stage_lsh_features(texts).localCheckpoint(eager=True)
        staged.write.format(file_format).mode("append").saveAsTable(tbl)
    else:
        staged = stage_lsh_features(texts).localCheckpoint(eager=True)
        staged.write.format(file_format).saveAsTable(tbl)
    spark.catalog.refreshTable(tbl)


def _fuzzy_adopt(
    missing: DataFrame, staged_stored: DataFrame, threshold: float
) -> DataFrame:
    """Batch keys with no exact match, fuzzy-matched against the STORED
    keys (primary AND alias spellings): two-sided LSH blocking
    (label-prefixed 3-grams; the stored side pre-staged in the cached
    feature table) + exact-UB prefilter + WRatio scorer — the batch
    resolver's machinery with the pair universe restricted to
    (batch × stored).  Returns (label, _k, _scid) adoptions, one per
    adopted batch key (possibly none)."""
    # synthetic batch ids pack (label, key) with a NUL delimiter; a key
    # containing NUL survives the round trip via the limit-2 split in
    # the decode below, but a NUL-bearing LABEL would shift the
    # boundary — exclude those rows from fuzzy adoption (they fall back
    # to minting a new canonical, the same outcome as no fuzzy match)
    b = missing.where(~F.col("label").contains("\x00")).select(
        F.concat(F.lit("b:"), F.col("label"), F.lit("\x00"), F.col("_k")).alias("id"),
        "label",
        F.col("_k").alias("text"),
    )
    cross = candidate_pairs_lsh_between(stage_lsh_features(b), staged_stored)
    from neo4j_graphrag_python_spark.functions.fuzz import HAVE_RAPIDFUZZ

    if not HAVE_RAPIDFUZZ:
        # exact WRatio upper-bound cut before the Python scorer (sound
        # only for the pure-Python wratio — see prefilter_fuzzy_pairs)
        cross = prefilter_fuzzy_pairs(
            cross,
            b.unionByName(staged_stored.select("id", "label", "text")),
            threshold,
        )
    scored = score_pairs_fuzzy(cross).where(
        F.col("similarity") >= F.lit(threshold)
    )
    # sides are fixed by the two-sided join: id_a = batch, id_b = stored
    norm = scored.select(
        F.col("id_a").alias("_bid"), F.col("id_b").alias("_sid"), "similarity"
    )
    best = norm.groupBy("_bid").agg(
        F.max_by(
            F.col("_sid"), F.struct(F.col("similarity"), F.col("_sid"))
        ).alias("_sid")
    )
    # decode the batch key and the stored canonical id from synthetic ids
    # limit-2 split: the key part keeps any embedded NULs intact (labels
    # with NUL never reach here — filtered at encode); the stored id's
    # canonical part is md5 hex, so its first NUL always delimits
    return best.select(
        F.split(F.expr("substring(_bid, 3)"), "\x00", 2).alias("_lk"),
        F.split(F.expr("substring(_sid, 3)"), "\x00", 2).getItem(0).alias("_scid"),
    ).select(
        F.col("_lk").getItem(0).alias("label"),
        F.col("_lk").getItem(1).alias("_k"),
        "_scid",
    )


def _repoint_edges(
    edges: DataFrame,
    mapping: DataFrame,
    untouched_edge_types: tuple[str, ...],
) -> DataFrame:
    """Re-point entity-adjacent edge endpoints through (id →
    canonical_id) and merge parallel edges keeping the min-(chunk_uid,
    conv_id) property bag — the batch resolver's rule, applied before
    the min-wins table MERGE extends it across batches."""
    out_cols = [
        "start_node_id", "end_node_id", "type",
        "properties", "conv_id", "chunk_uid",
    ]
    edges = edges.select(*out_cols)
    passthrough = None
    if untouched_edge_types:
        passthrough = edges.where(F.col("type").isin(list(untouched_edge_types)))
        edges = edges.where(~F.col("type").isin(list(untouched_edge_types)))
    non_identity = mapping.where(F.col("id") != F.col("canonical_id"))
    for endpoint in ("start_node_id", "end_node_id"):
        m = non_identity.select(
            F.col("id").alias("_from"), F.col("canonical_id").alias("_to")
        )
        edges = (
            edges.join(m, edges[endpoint] == m._from, "left")
            .withColumn(endpoint, F.coalesce(F.col("_to"), F.col(endpoint)))
            .drop("_from", "_to")
        )
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
        merged = merged.unionByName(passthrough.select(*out_cols))
    return merged


def compact_canonicals(
    spark,
    target: str,
    similarity_threshold: float = 0.8,
    file_format: str = "parquet",
    untouched_edge_types: tuple[str, ...] = ("NEXT_CHUNK", "FROM_DOCUMENT"),
    resolve_properties: list[str] | None = None,
) -> dict:
    """Periodic OFFLINE consolidation of already-stored canonicals — the
    compaction job the per-batch resolver deliberately defers (two
    fuzzy-equivalent names that became separate canonicals in different
    batches are never re-merged per batch; the reference's DB resolver
    has the same property).

    Runs the batch fuzzy machinery over the STORED canonical entity
    nodes (LSH blocking → exact-UB prefilter → WRatio → connected
    components), picks each cluster's keeper as the lexicographically
    minimal canonical id (content hashes — deterministic, so compaction
    commutes with itself), rewrites the nodes/edges tables through the
    merge mapping, and re-points every canonical-map row of a merged-away
    canonical to its keeper (the loser's keys become aliases of the
    keeper, so FUTURE mentions of those names adopt the keeper
    directly).  Returns counters; a second run is a no-op (idempotent —
    asserted in tests).

    Scale shape: input is the CANONICAL table (entities after
    dedup — orders of magnitude below mention count); blocking, scoring
    and components are the measured 10⁵-name pipeline; the table
    rewrite is one MERGE-shaped pass per table.
    """
    from neo4j_graphrag_python_spark.functions.fuzz import HAVE_RAPIDFUZZ
    from neo4j_graphrag_python_spark.operators.resolver import (
        _resolve_texts,
        apply_merge_mapping,
        connected_components,
    )
    from neo4j_graphrag_python_spark.sources.catalog import (
        write_catalog_table,
    )

    nodes = spark.read.table(f"{target}_nodes")
    edges = spark.read.table(f"{target}_edges")
    canon = spark.read.table(f"{target}_canon")

    # thread the caller's resolve property through (default "name" for
    # parity with resolve_batch_incremental): compacting a corpus
    # resolved on a different property must score that property's text,
    # not silently fall back to names
    texts = _resolve_texts(nodes, resolve_properties or ["name"]).persist()
    pairs = candidate_pairs_lsh(texts)
    if not HAVE_RAPIDFUZZ:
        pairs = prefilter_fuzzy_pairs(pairs, texts, similarity_threshold)
    matches = score_pairs_fuzzy(pairs).where(
        F.col("similarity") >= F.lit(similarity_threshold)
    )
    comp = connected_components(matches.select("id_a", "id_b"))
    # keeper = min canonical id per component: content hashes carry no
    # arrival order, so min() is the deterministic, idempotent choice
    rep = comp.groupBy("canonical_id").agg(F.min("id").alias("rep_id"))
    mapping = (
        comp.join(rep, "canonical_id")
        .select("id", F.col("rep_id").alias("canonical_id"))
        .localCheckpoint(eager=True)
    )
    n_merged = mapping.where(F.col("id") != F.col("canonical_id")).count()
    if n_merged == 0:
        texts.unpersist()
        return {"merged_canonicals": 0}

    new_nodes, new_edges = apply_merge_mapping(
        nodes, edges, mapping, untouched_types=untouched_edge_types
    )
    m = mapping.where(F.col("id") != F.col("canonical_id")).select(
        F.col("id").alias("_from"), F.col("canonical_id").alias("_to")
    )
    new_canon = (
        canon.join(m, canon.canonical_id == m._from, "left")
        .select(
            "label",
            "key",
            F.coalesce(F.col("_to"), F.col("canonical_id")).alias(
                "canonical_id"
            ),
            "ord_ci",
            "ord_id",
            # a re-pointed key is now an ALIAS of the keeper: it must
            # never steal the keeper's property bag later
            F.when(F.col("_to").isNotNull(), F.lit(True))
            .otherwise(F.col("is_alias"))
            .alias("is_alias"),
        )
        .localCheckpoint(eager=True)
    )
    new_nodes = new_nodes.localCheckpoint(eager=True)
    new_edges = new_edges.localCheckpoint(eager=True)
    write_catalog_table(new_nodes, f"{target}_nodes", "create_or_replace", file_format)
    write_catalog_table(new_edges, f"{target}_edges", "create_or_replace", file_format)
    write_catalog_table(new_canon, f"{target}_canon", "create_or_replace", file_format)
    for t in (f"{target}_nodes", f"{target}_edges", f"{target}_canon"):
        spark.catalog.refreshTable(t)
    # the cached feature table embeds canonical ids in its row ids —
    # re-pointed keys make those stale, so compaction rebuilds it
    feats_tbl = f"{target}_canon_feats"
    if spark.catalog.tableExists(feats_tbl):
        fresh = stage_lsh_features(
            _stored_key_texts(new_canon)
        ).localCheckpoint(eager=True)
        fresh.write.format(file_format).mode("overwrite").saveAsTable(
            feats_tbl
        )
        spark.catalog.refreshTable(feats_tbl)
    texts.unpersist()
    return {"merged_canonicals": n_merged}
