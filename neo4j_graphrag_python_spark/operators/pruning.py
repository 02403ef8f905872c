"""Stage 5 — graph pruning: enforce the schema on extracted nodes/edges.

Reference: components/graph_pruning.py:133-438.  Rules reproduced exactly
(pinned by tests/unit/.../test_graph_pruning.py):

nodes (:194-253):
  * lexical labels always pass through untouched;
  * undeclared label → kept iff ``schema.additional_node_types`` else pruned
    NOT_IN_SCHEMA;
  * declared label → property filtering (map_filter when
    ``additional_properties=False``); empty filtered bag ⇒ NO_PROPERTY_LEFT;
    a required property missing/null ⇒ MISSING_REQUIRED_PROPERTY.

relationships (:255-366):
  * lexical types always pass through (no endpoint checks — reference
    appends them before any validation, :351-353);
  * endpoint not among kept nodes ⇒ INVALID_START_OR_END_NODE;
  * undeclared type → kept iff ``additional_relationship_types`` (no
    pattern/property checks) else NOT_IN_SCHEMA;
  * (start_label, type, end_label) pattern check; if only the reversed
    tuple matches, the direction is swapped (:287-328); neither matching
    with ``additional_patterns=False`` ⇒ INVALID_PATTERN;
  * property filtering with prune_empty=False — note the reference quirk:
    a relationship missing a required property is *logged* as pruned but
    kept with an empty property bag (:311-328 use the {} returned by
    _enforce_properties); we reproduce that.

Implementation is 100% built-in Catalyst expressions (when-chains,
map_filter higher-order functions, one left join per edge endpoint against
the pruned-node ids; endpoint labels are carried on the extracted edges).
Lexical-type edges never join — at transcript scale
FROM_CHUNK/NEXT_CHUNK/FROM_DOCUMENT edges dominate, so the join input is
only the (far smaller) entity-entity edge set.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from neo4j_graphrag_python_spark.schema import GraphSchema
from neo4j_graphrag_python_spark.types import LexicalGraphConfig

SEP = "\x00"


def _filtered_props_col(declared: dict, base: Column, label_col: Column) -> Column:
    """CASE chain applying per-label map_filter where additional_properties
    is False (reference _filter_properties, graph_pruning.py:403-427)."""
    out = base
    for label, item in declared.items():
        if not item.additional_properties:
            allowed = [p.name for p in item.properties]
            out = F.when(
                label_col == label,
                F.map_filter(base, lambda k, v: k.isin(allowed)),
            ).otherwise(out)
    return out


def _missing_required_col(
    declared: dict, props: Column, label_col: Column
) -> Column:
    """True when any required property of the label is missing/null in the
    (already filtered) bag (reference _check_required_properties,
    graph_pruning.py:429-438)."""
    out = F.lit(False)
    for label, item in declared.items():
        required = [p.name for p in item.properties if p.required]
        if required:
            cond = reduce(
                lambda a, b: a | b,
                [props.getItem(p).isNull() for p in required],
            )
            out = F.when(label_col == label, cond).otherwise(out)
    return out


def prune_nodes(
    nodes: DataFrame,
    schema: GraphSchema,
    lexical_config: LexicalGraphConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """→ (kept_nodes, pruned_nodes[reason])."""
    cfg = lexical_config or LexicalGraphConfig()
    declared = {nt.label: nt for nt in schema.node_types}
    lex_labels = list(cfg.lexical_graph_node_labels)

    label = F.col("label")
    is_lex = label.isin(lex_labels)
    is_declared = label.isin(list(declared)) if declared else F.lit(False)
    filtered = _filtered_props_col(declared, F.col("properties"), label)
    missing_req = _missing_required_col(declared, filtered, label)

    reason = (
        F.when(is_lex, F.lit(None).cast("string"))
        .when(
            ~is_declared,
            F.when(
                F.lit(schema.additional_node_types), F.lit(None).cast("string")
            ).otherwise(F.lit("NOT_IN_SCHEMA")),
        )
        .when(F.size(F.map_keys(filtered)) == 0, F.lit("NO_PROPERTY_LEFT"))
        .when(missing_req, F.lit("MISSING_REQUIRED_PROPERTY"))
        .otherwise(F.lit(None).cast("string"))
    )
    final_props = F.when(is_lex | ~is_declared, F.col("properties")).otherwise(
        filtered
    )
    annotated = nodes.withColumn("pruned_reason", reason).withColumn(
        "properties", final_props
    )
    kept = annotated.where(F.col("pruned_reason").isNull()).drop("pruned_reason")
    pruned = annotated.where(F.col("pruned_reason").isNotNull())
    return kept, pruned


def prune_edges(
    edges: DataFrame,
    pruned_nodes: DataFrame,
    schema: GraphSchema,
    lexical_config: LexicalGraphConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """→ (kept_edges, pruned_edges[reason]).

    ``edges`` has the extractor's edge shape (``split_graph_rows``):
    besides the canonical edge columns it carries ``start_label`` /
    ``end_label`` and ``start_key`` / ``end_key`` (the endpoints' resolve
    key) — the extractor knows them because endpoints can only reference
    same-chunk nodes.  Lexical edges carry NULLs there (they skip every
    check).

    Endpoint validity needs NO join against the node set: a dangling
    within-chunk reference arrives as a NULL label, and "endpoint kept"
    reduces to two left joins against the *pruned*-node id set — normally
    tiny, so AQE broadcasts it.  The edge table is never shuffled.

    ``kept_edges`` has directions corrected per the pattern rules; the
    carried label and key columns leave with their endpoints (swapped on
    reversal), because resolution consumes them (see
    ``resolver.resolve_exact``).  ``pruned_edges`` has the canonical edge
    columns plus ``pruned_reason``.
    """
    cfg = lexical_config or LexicalGraphConfig()
    declared = {rt.label: rt for rt in schema.relationship_types}
    lex_types = list(cfg.lexical_graph_relationship_types)

    lex_edges = edges.where(F.col("type").isin(lex_types))
    rest = edges.where(~F.col("type").isin(lex_types))

    pruned_ids = pruned_nodes.select(F.col("id").alias("_pid"))
    rest = (
        rest.join(
            pruned_ids.select(F.col("_pid").alias("_ps")),
            rest.start_node_id == F.col("_ps"),
            "left",
        )
        .join(
            pruned_ids.select(F.col("_pid").alias("_pe")),
            F.col("end_node_id") == F.col("_pe"),
            "left",
        )
        .withColumn(
            "start_label",
            F.when(F.col("_ps").isNull(), F.col("start_label")),
        )
        .withColumn(
            "end_label",
            F.when(F.col("_pe").isNull(), F.col("end_label")),
        )
        .drop("_ps", "_pe")
    )

    etype = F.col("type")
    is_declared = etype.isin(list(declared)) if declared else F.lit(False)
    endpoints_ok = F.col("start_label").isNotNull() & F.col("end_label").isNotNull()

    patterns = list(schema.patterns)
    if patterns:
        fwd_keys = [SEP.join(p) for p in patterns]
        fwd_key = F.concat_ws(
            SEP, F.col("start_label"), etype, F.col("end_label")
        )
        rev_key = F.concat_ws(
            SEP, F.col("end_label"), etype, F.col("start_label")
        )
        # pattern check applies only when type is declared (graph_pruning.py:289)
        tuple_valid = F.when(is_declared, fwd_key.isin(fwd_keys)).otherwise(
            F.lit(True)
        )
        reverse_valid = F.when(
            is_declared & ~fwd_key.isin(fwd_keys), rev_key.isin(fwd_keys)
        ).otherwise(F.lit(False))
    else:
        tuple_valid = F.lit(True)
        reverse_valid = F.lit(False)

    filtered = _filtered_props_col(declared, F.col("properties"), etype)
    missing_req = _missing_required_col(declared, filtered, etype)
    # reference quirk: required-missing rel keeps an EMPTY property bag
    final_props = (
        F.when(~is_declared, F.col("properties"))
        .when(missing_req, F.create_map().cast("map<string,string>"))
        .otherwise(filtered)
    )

    reason = (
        F.when(~endpoints_ok, F.lit("INVALID_START_OR_END_NODE"))
        .when(
            ~is_declared & ~F.lit(schema.additional_relationship_types),
            F.lit("NOT_IN_SCHEMA"),
        )
        .when(
            ~tuple_valid & ~reverse_valid & ~F.lit(schema.additional_patterns),
            F.lit("INVALID_PATTERN"),
        )
        .otherwise(F.lit(None).cast("string"))
    )

    annotated = rest.withColumn("pruned_reason", reason)
    pruned = annotated.where(F.col("pruned_reason").isNotNull()).drop(
        "start_label", "end_label", "start_key", "end_key"
    )
    kept_rest = (
        annotated.where(F.col("pruned_reason").isNull())
        .withColumn("_swap", reverse_valid)
        .select(
            F.when(F.col("_swap"), F.col("end_node_id"))
            .otherwise(F.col("start_node_id"))
            .alias("start_node_id"),
            F.when(F.col("_swap"), F.col("start_node_id"))
            .otherwise(F.col("end_node_id"))
            .alias("end_node_id"),
            "type",
            final_props.alias("properties"),
            "conv_id",
            "chunk_uid",
            F.when(F.col("_swap"), F.col("end_label"))
            .otherwise(F.col("start_label"))
            .alias("start_label"),
            F.when(F.col("_swap"), F.col("start_label"))
            .otherwise(F.col("end_label"))
            .alias("end_label"),
            F.when(F.col("_swap"), F.col("end_key"))
            .otherwise(F.col("start_key"))
            .alias("start_key"),
            F.when(F.col("_swap"), F.col("start_key"))
            .otherwise(F.col("end_key"))
            .alias("end_key"),
        )
    )
    kept = lex_edges.unionByName(kept_rest)
    return kept, pruned


def prune_graph(
    nodes: DataFrame,
    edges: DataFrame,
    schema: GraphSchema | None,
    lexical_config: LexicalGraphConfig | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Full GraphPruning.run semantics (graph_pruning.py:133-192).

    schema=None ⇒ passthrough with empty pruned frames.
    Returns (nodes, edges, pruned_nodes, pruned_edges).
    """
    if schema is None:
        from pyspark.sql import types as T

        spark = nodes.sparkSession
        # never call .add on a live df.schema — StructType.add mutates
        def _with_reason(st):
            return T.StructType(
                list(st.fields) + [T.StructField("pruned_reason", T.StringType())]
            )

        empty_n = spark.createDataFrame([], _with_reason(nodes.schema))
        empty_e = spark.createDataFrame([], _with_reason(edges.schema))
        return nodes, edges, empty_n, empty_e
    kept_nodes, pruned_nodes = prune_nodes(nodes, schema, lexical_config)
    kept_edges, pruned_edges = prune_edges(
        edges, pruned_nodes, schema, lexical_config
    )
    return kept_nodes, kept_edges, pruned_nodes, pruned_edges


def pruning_stats(pruned_nodes: DataFrame, pruned_edges: DataFrame) -> DataFrame:
    """groupBy(reason) counts — the distributed PruningStats
    (graph_pruning.py:56-126)."""
    n = pruned_nodes.groupBy("pruned_reason").count().select(
        F.lit("node").alias("kind"), "pruned_reason", "count"
    )
    e = pruned_edges.groupBy("pruned_reason").count().select(
        F.lit("relationship").alias("kind"), "pruned_reason", "count"
    )
    return n.unionByName(e)
