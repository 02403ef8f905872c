"""Graph pruning semantics — ported from reference
tests/unit/.../test_graph_pruning.py:47-330."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from neo4j_graphrag_python_spark.operators.pruning import (
    prune_edges,
    prune_graph,
    prune_nodes,
    pruning_stats,
)
from neo4j_graphrag_python_spark.schema import GraphSchema
from neo4j_graphrag_python_spark.types import (
    EDGES_SCHEMA,
    NODES_SCHEMA,
    LexicalGraphConfig,
)


def nodes_df(spark, rows):
    # rows: (id, label, properties)
    return spark.createDataFrame(
        [(i, l, True, p, None, "c1", "u1") for i, l, p in rows], NODES_SCHEMA
    )


PERSON_LOCATION = [("1", "Person", {"name": "a"}), ("2", "Location", {"name": "b"})]

# the extractor's edge shape (split_graph_rows): endpoint labels and
# resolve keys ride on every edge
EXTRACTED_EDGES_SCHEMA = T.StructType(
    list(EDGES_SCHEMA.fields)
    + [
        T.StructField(c, T.StringType())
        for c in ("start_label", "end_label", "start_key", "end_key")
    ]
)


def edges_df(spark, rows, node_rows=PERSON_LOCATION):
    # rows: (start, end, type, properties); endpoint labels and names are
    # looked up in node_rows — NULL for an id the chunk never declared
    info = {i: (l, p.get("name")) for i, l, p in node_rows}
    out = []
    for s, e, t, p in rows:
        (sl, sn), (el, en) = info.get(s, (None, None)), info.get(e, (None, None))
        out.append((s, e, t, p, "c1", "u1", sl, el, sn, en))
    return spark.createDataFrame(out, EXTRACTED_EDGES_SCHEMA)


def no_pruned(spark):
    return nodes_df(spark, []).withColumn(
        "pruned_reason", F.lit(None).cast("string")
    )


def schema_required_name() -> GraphSchema:
    return GraphSchema(
        node_types=(
            {
                "label": "Person",
                "properties": [
                    {"name": "name", "type": "STRING", "required": True},
                    {"name": "age", "type": "INTEGER"},
                ],
            },
        ),
        additional_node_types=True,
    )


def test_prune_nodes_required_property(spark) -> None:
    kept, pruned = prune_nodes(
        nodes_df(
            spark,
            [
                ("1", "Person", {"name": "John Doe"}),
                ("2", "Person", {"age": "45"}),  # missing required name
            ],
        ),
        schema_required_name(),
    )
    assert [r["id"] for r in kept.collect()] == ["1"]
    p = pruned.collect()
    assert len(p) == 1
    assert p[0]["pruned_reason"] == "MISSING_REQUIRED_PROPERTY"


def test_prune_nodes_additional_properties_false_filters(spark) -> None:
    schema = GraphSchema(
        node_types=(
            {
                "label": "Person",
                "properties": [{"name": "name"}],
                "additional_properties": False,
            },
        ),
    )
    kept, _ = prune_nodes(
        nodes_df(spark, [("1", "Person", {"name": "John", "age": "25"})]), schema
    )
    assert kept.collect()[0]["properties"] == {"name": "John"}


def test_prune_nodes_unknown_label(spark) -> None:
    df = nodes_df(spark, [("1", "Location", {"name": "New York"})])
    schema_strict = GraphSchema(
        node_types=({"label": "Person", "properties": [{"name": "name"}]},),
        additional_node_types=False,
    )
    kept, pruned = prune_nodes(df, schema_strict)
    assert kept.count() == 0
    assert pruned.collect()[0]["pruned_reason"] == "NOT_IN_SCHEMA"

    schema_loose = GraphSchema(
        node_types=({"label": "Person", "properties": [{"name": "name"}]},),
        additional_node_types=True,
    )
    kept, pruned = prune_nodes(df, schema_loose)
    assert kept.count() == 1 and pruned.count() == 0


def test_prune_nodes_no_property_left(spark) -> None:
    # declared label, empty property bag → NO_PROPERTY_LEFT (reference
    # _enforce_properties prune_empty=True path)
    kept, pruned = prune_nodes(
        nodes_df(spark, [("1", "Person", {})]),
        GraphSchema(node_types=("Person",), additional_node_types=True),
    )
    assert kept.count() == 0
    assert pruned.collect()[0]["pruned_reason"] == "NO_PROPERTY_LEFT"


def test_prune_nodes_lexical_passthrough(spark) -> None:
    cfg = LexicalGraphConfig(chunk_node_label="Paragraph")
    kept, pruned = prune_nodes(
        nodes_df(spark, [("1", "Paragraph", {})]),
        GraphSchema(node_types=(), additional_node_types=False),
        cfg,
    )
    assert kept.count() == 1 and pruned.count() == 0


def rel_schema(patterns, additional_patterns=None, additional_rel=None) -> GraphSchema:
    return GraphSchema(
        node_types=("Person", "Location"),
        relationship_types=("REL",),
        patterns=patterns,
        additional_patterns=additional_patterns,
        additional_relationship_types=(
            False if additional_patterns is False else additional_rel
        ),
    )


def person_location_nodes(spark):
    return nodes_df(spark, PERSON_LOCATION)


def test_prune_edges_valid_pattern(spark) -> None:
    kept, pruned = prune_edges(
        edges_df(spark, [("1", "2", "REL", {})]),
        no_pruned(spark),
        rel_schema((("Person", "REL", "Location"),)),
    )
    rows = kept.collect()
    assert len(rows) == 1 and pruned.count() == 0
    assert (rows[0]["start_node_id"], rows[0]["end_node_id"]) == ("1", "2")


def test_prune_edges_reversed_direction_swapped(spark) -> None:
    kept, _ = prune_edges(
        edges_df(spark, [("2", "1", "REL", {})]),  # Location → Person
        no_pruned(spark),
        rel_schema((("Person", "REL", "Location"),)),
    )
    rows = kept.collect()
    assert (rows[0]["start_node_id"], rows[0]["end_node_id"]) == ("1", "2")


def test_prune_edges_dangling_endpoint(spark) -> None:
    kept, pruned = prune_edges(
        edges_df(spark, [("1", "99", "REL", {})]),
        no_pruned(spark),
        rel_schema((("Person", "REL", "Location"),)),
    )
    assert kept.count() == 0
    assert pruned.collect()[0]["pruned_reason"] == "INVALID_START_OR_END_NODE"


def test_prune_edges_invalid_pattern(spark) -> None:
    strict = rel_schema((("Person", "REL", "Person"),), additional_patterns=False)
    kept, pruned = prune_edges(
        edges_df(spark, [("1", "2", "REL", {})]),
        no_pruned(spark),
        strict,
    )
    assert kept.count() == 0
    assert pruned.collect()[0]["pruned_reason"] == "INVALID_PATTERN"

    loose = rel_schema((("Person", "REL", "Person"),), additional_patterns=True)
    kept, pruned = prune_edges(
        edges_df(spark, [("1", "2", "REL", {})]),
        no_pruned(spark),
        loose,
    )
    rows = kept.collect()
    # kept, NOT reversed (reference: reversal only when reversed tuple valid)
    assert (rows[0]["start_node_id"], rows[0]["end_node_id"]) == ("1", "2")


def test_prune_edges_undeclared_type(spark) -> None:
    schema_loose = GraphSchema(
        node_types=("Person", "Location"),
        relationship_types=("REL",),
        additional_relationship_types=True,
    )
    kept, _ = prune_edges(
        edges_df(spark, [("1", "2", "OTHER", {"x": "1"})]),
        no_pruned(spark),
        schema_loose,
    )
    rows = kept.collect()
    assert rows[0]["type"] == "OTHER" and rows[0]["properties"] == {"x": "1"}

    schema_strict = GraphSchema(
        node_types=("Person", "Location"),
        relationship_types=("REL",),
        additional_relationship_types=False,
    )
    kept, pruned = prune_edges(
        edges_df(spark, [("1", "2", "OTHER", {})]),
        no_pruned(spark),
        schema_strict,
    )
    assert kept.count() == 0
    assert pruned.collect()[0]["pruned_reason"] == "NOT_IN_SCHEMA"


def test_prune_edges_lexical_types_skip_checks(spark) -> None:
    # FROM_CHUNK edges bypass endpoint validation (reference
    # _enforce_relationships:351-353 appends before any check)
    kept, pruned = prune_edges(
        edges_df(spark, [("nope", "nada", "FROM_CHUNK", {})]),
        no_pruned(spark),
        rel_schema((("Person", "REL", "Location"),)),
    )
    assert kept.count() == 1 and pruned.count() == 0


def test_prune_graph_no_schema_passthrough(spark) -> None:
    nodes = person_location_nodes(spark)
    edges = edges_df(spark, [("1", "2", "ANY", {})])
    n, e, pn, pe = prune_graph(nodes, edges, None)
    assert n is nodes and e is edges
    assert pn.count() == 0 and pe.count() == 0


def test_pruning_stats(spark) -> None:
    node_rows = [("1", "Person", {"name": "x"}), ("2", "Ghost", {"name": "y"})]
    nodes = nodes_df(spark, node_rows)
    edges = edges_df(spark, [("1", "9", "REL", {})], node_rows)
    schema = GraphSchema(
        node_types=({"label": "Person", "properties": [{"name": "name"}]},),
        relationship_types=("REL",),
        additional_node_types=False,
        additional_relationship_types=False,
    )
    n, e, pn, pe = prune_graph(nodes, edges, schema)
    stats = {
        (r["kind"], r["pruned_reason"]): r["count"]
        for r in pruning_stats(pn, pe).collect()
    }
    assert stats == {
        ("node", "NOT_IN_SCHEMA"): 1,
        ("relationship", "INVALID_START_OR_END_NODE"): 1,
    }


def test_prune_edges_fast_path_with_carried_labels(spark) -> None:
    """Carried labels: endpoint checks without a node join."""
    edges = edges_df(
        spark,
        [
            ("1", "2", "REL", {}),
            ("1", "99", "REL", {}),  # dangling
            ("3", "2", "REL", {}),  # pruned start
        ],
        PERSON_LOCATION + [("3", "Person", {"name": "gone"})],
    )
    pruned_nodes = nodes_df(spark, [("3", "Person", {"name": "gone"})]).withColumn(
        "pruned_reason", F.lit("NOT_IN_SCHEMA")
    )
    schema = rel_schema((("Person", "REL", "Location"),))
    kept, pruned = prune_edges(edges, pruned_nodes, schema)
    rows = kept.collect()
    assert len(rows) == 1
    assert (rows[0]["start_node_id"], rows[0]["end_node_id"]) == ("1", "2")
    # the carried columns leave with their endpoints ...
    carried = ("start_label", "end_label", "start_key", "end_key")
    assert tuple(rows[0][c] for c in carried) == ("Person", "Location", "a", "b")
    reasons = [r["pruned_reason"] for r in pruned.collect()]
    assert reasons == ["INVALID_START_OR_END_NODE"] * 2
    # ... and are swapped with them when the direction is reversed
    rev, _ = prune_edges(
        edges_df(spark, [("2", "1", "REL", {})]), no_pruned(spark), schema
    )
    r = rev.collect()[0]
    assert (r["start_node_id"], r["end_node_id"]) == ("1", "2")
    assert tuple(r[c] for c in carried) == ("Person", "Location", "a", "b")


def test_extractor_emits_null_label_for_unknown_endpoint(spark) -> None:
    import json as _json

    from neo4j_graphrag_python_spark.operators.extractor import (
        extract_graph_rows,
        split_graph_rows,
    )
    from neo4j_graphrag_python_spark.types import CHUNKS_SCHEMA

    payload = _json.dumps(
        {
            "nodes": [{"id": "0", "label": "Person", "properties": {"name": "A"}}],
            "relationships": [
                {"type": "KNOWS", "start_node_id": "0", "end_node_id": "7"}
            ],
        }
    )
    chunks = spark.createDataFrame(
        [("u0", "c1", 0, 0, 4, "text")], CHUNKS_SCHEMA
    )
    rows = extract_graph_rows(chunks, lambda texts: [payload] * len(texts))
    _, edges = split_graph_rows(rows.cache())
    rel = edges.where(F.col("type") == "KNOWS").collect()[0]
    assert rel["start_label"] == "Person"
    assert rel["end_label"] is None  # hallucinated endpoint id
