"""SimpleKGPipeline, Spark-first.

Reference entry point: ``SimpleKGPipeline(...).run_async(text=...)``
(experimental/pipeline/kg_builder.py:113-137 → config parse →
Orchestrator).  The reference needs a custom asyncio DAG scheduler
(orchestrator.py) because plain Python has no dataflow engine; on Spark the
DAG *is* the lazy plan — this module is just the linear composition

    transcripts → assemble → split+extract → [chunks → lexical graph, embed]
                → prune → materialize(nodes, edges) → resolve → canonical graph

where split and extract are one fused Python pass
(``extract_from_documents``), with optional parquet checkpoints at stage
boundaries (the distributed ResultStore; enables idempotent resume and
ensures extraction executes once even though two outputs consume it).
The chunks table is a projection of the extracted rows, so a resume
that finds ``graph_rows`` committed skips splitting and extraction
together.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, functions as F

from neo4j_graphrag_python_spark.operators.assemble import assemble_documents
from neo4j_graphrag_python_spark.operators.embedder import embed_column
from neo4j_graphrag_python_spark.operators.extractor import (
    ExtractorFn,
    chunks_view,
    extract_from_documents,
    split_graph_rows,
)
from neo4j_graphrag_python_spark.operators.lexical import build_lexical_graph
from neo4j_graphrag_python_spark.operators.pruning import prune_graph
from neo4j_graphrag_python_spark.operators.resolver import (
    resolve_exact,
    resolve_similarity,
)
from neo4j_graphrag_python_spark.operators.writer import (
    checkpoint_stage,
    dedupe_edges,
)
from neo4j_graphrag_python_spark.schema import GraphSchema
from neo4j_graphrag_python_spark.types import PipelineConfig, ResolutionStats


@dataclass
class KGResult:
    nodes: DataFrame
    edges: DataFrame
    chunks: DataFrame
    pruned_nodes: DataFrame
    pruned_edges: DataFrame
    resolution_stats: ResolutionStats | None = None
    metrics: dict = field(default_factory=dict)
    #: stage frames the run cached (no checkpoint_dir); the caller
    #: unpersists them once done with the result
    persisted: list[DataFrame] = field(default_factory=list)


def run_kg_pipeline(
    transcripts: DataFrame,
    extractor_fn: ExtractorFn,
    schema: GraphSchema | None = None,
    config: PipelineConfig | None = None,
    embed_chunks: bool = False,
) -> KGResult:
    """Build the knowledge graph from a transcripts DataFrame.

    Mirrors the reference component chain
    (simple_kg_builder.py:73-82: loader → splitter → chunk_embedder →
    schema → extractor → pruner → writer → resolver).
    """
    import time

    cfg = config or PipelineConfig()
    ckpt = cfg.checkpoint_dir
    walls: dict[str, float] = {}
    t_start = time.monotonic()

    documents = assemble_documents(transcripts)
    chunks = None
    need_chunks = bool(ckpt or cfg.create_lexical_graph or embed_chunks)
    persisted: list[DataFrame] = []

    def stage(build, checkpoint_dir, name):
        df = checkpoint_stage(build, checkpoint_dir, name)
        if df.is_cached:
            persisted.append(df)
        return df

    # extraction — the expensive stage: one fused split+extract pass that
    # also emits the chunk rows (kind='chunk' → chunks_view), so the corpus
    # is split exactly once; checkpointed, then split into nodes/edges.
    # Built only when graph_rows is not committed: the extractor's whale
    # probe is eager, and a resumed run reads the stage back instead
    graph_rows = stage(
        lambda: extract_from_documents(
            documents,
            extractor_fn,
            splitter_config=cfg.splitter,
            on_error=cfg.on_error,
            lexical_config=cfg.lexical,
            create_from_chunk_edges=cfg.create_lexical_graph,
            num_partitions=cfg.extract_partitions,
            emit_chunk_rows=need_chunks,
            resolve_property=cfg.resolve_property,
        ),
        ckpt,
        "graph_rows",
    )
    # checkpoint_stage is the eager boundary, so this wall covers
    # everything up to and including split+extract
    walls["extract_s"] = round(time.monotonic() - t_start, 3)
    if need_chunks:
        # persist the typed projection: the lexical builder reads chunks
        # three times (nodes, FROM_DOCUMENT, NEXT_CHUNK window) and
        # re-deriving from the map-typed graph_rows cache per consumer
        # costs more than one small materialization
        chunks = stage(lambda: chunks_view(graph_rows), None, "chunks")
        if embed_chunks:
            chunks = embed_column(chunks)
    entity_nodes, entity_edges = split_graph_rows(graph_rows)

    if cfg.create_lexical_graph:
        lex_nodes, lex_edges = build_lexical_graph(documents, chunks, cfg.lexical)
        # no persist here: graph_rows and chunks (the expensive Python
        # stages) are already eagerly cached by checkpoint_stage, so every
        # downstream consumer re-reads cheap cache scans — an extra
        # materialized copy of the unions costs more than it saves
        # (measured: ~1.5-3s of the sf0.1 tail)
        nodes = lex_nodes.unionByName(entity_nodes)
        # entity edges carry their endpoints' labels and resolve keys
        # (start_key/end_key, read from cfg.resolve_property at
        # extraction); lexical edges get NULLs — resolution never
        # re-points them
        edges = lex_edges.unionByName(entity_edges, allowMissingColumns=True)
    else:
        nodes, edges = entity_nodes, entity_edges

    nodes, edges, pruned_nodes, pruned_edges = prune_graph(
        nodes, edges, schema, cfg.lexical
    )

    # NEXT_CHUNK / FROM_DOCUMENT edges are structural (unique by
    # construction, never entity-adjacent): exclude them from the dedupe
    # and resolution shuffles — they dominate the edge count.
    structural = (
        cfg.lexical.next_chunk_relationship_type,
        cfg.lexical.chunk_to_document_relationship_type,
    )
    if not cfg.perform_entity_resolution:
        # resolution's apply_merge_mapping ends in the same
        # (start, type, end) min_by aggregation, and min-of-mins == global
        # min — pre-deduping first would just shuffle the edge table twice
        # on the same key (the hottest stage of the pipeline tail), so the
        # standalone dedupe only runs when no resolution follows.
        edges = dedupe_edges(edges, skip_types=structural)

    stats = None
    if cfg.perform_entity_resolution:
        nodes = stage(lambda: nodes, ckpt, "nodes_pre_resolve")
        edges = stage(lambda: edges, ckpt, "edges_pre_resolve")
        walls["prune_s"] = round(
            time.monotonic() - t_start - walls["extract_s"], 3
        )
        nodes, edges, stats = resolve_exact(
            nodes, edges, cfg.resolve_property,
            untouched_edge_types=structural,
        )

    metrics: dict = {}
    if cfg.collect_metrics:
        metrics = _collect_metrics(graph_rows, chunks, walls, stats)
        if ckpt:
            write_metrics_log(metrics, ckpt, transcripts.sparkSession)

    return KGResult(
        nodes=nodes,
        edges=edges,
        chunks=chunks,
        pruned_nodes=pruned_nodes,
        pruned_edges=pruned_edges,
        resolution_stats=stats,
        metrics=metrics,
        persisted=persisted,
    )


def _collect_metrics(
    graph_rows: DataFrame,
    chunks: DataFrame | None,
    walls: dict[str, float],
    stats: ResolutionStats | None,
) -> dict:
    """Run-health metrics from already-materialized stage frames.

    Both aggregations scan the eager checkpoint/persist of their stage
    (no recompute): the (kind, status) breakdown is one
    map-side-combinable groupBy over graph_rows, the chunk count a cached
    count.  ``rows_ok``/``rows_error`` count the extractor's node, edge and
    status rows, not the kind='chunk' rows (those exist only when the
    chunks table is needed, and are never extraction errors).
    ``edges_emitted`` counts the extracted relationship rows (entity rels
    + FROM_CHUNK lineage edges) before pruning and resolution.  Combined
    with the per-chunk (conv_id, chunk_uid, status) lineage columns the
    extractor emits (north-rule metrics surface: what failed, where, and
    how long each eager stage took)."""
    counts = graph_rows.groupBy("kind", "status").count().collect()
    extracted = [r for r in counts if r["kind"] != "chunk"]
    metrics: dict = dict(walls)
    metrics["rows_ok"] = sum(r["count"] for r in extracted if r["status"] == "ok")
    metrics["rows_error"] = sum(
        r["count"] for r in extracted if r["status"] != "ok"
    )
    metrics["edges_emitted"] = sum(
        r["count"] for r in counts if r["kind"] == "edge"
    )
    if chunks is not None:
        metrics["n_chunks"] = int(chunks.count())
    if stats is not None:
        metrics["nodes_to_resolve"] = int(stats.number_of_nodes_to_resolve)
        if stats.number_of_created_nodes is not None:
            metrics["nodes_created"] = int(stats.number_of_created_nodes)
    return metrics


def write_metrics_log(metrics: dict, checkpoint_dir: str, spark) -> None:
    """Append this run's metrics to ``<checkpoint_dir>/metrics_log`` as
    long-format parquet rows (run_ts, metric, value) — a resumed run
    appends a second batch, so the log doubles as an attempt history for
    monitoring jobs (read it with plain ``spark.read.parquet``)."""
    import time

    ts = float(time.time())
    rows = [(ts, k, float(v)) for k, v in sorted(metrics.items())]
    spark.createDataFrame(
        rows, "run_ts double, metric string, value double"
    ).coalesce(1).write.mode("append").parquet(
        str(Path(checkpoint_dir) / "metrics_log")
    )


def run_similarity_resolution(
    result: KGResult,
    method: str = "fuzzy",
    resolve_properties: list[str] | None = None,
    similarity_threshold: float = 0.8,
) -> KGResult:
    """Optional second resolution pass (FuzzyMatch / SemanticMatch analog)."""
    nodes, edges, stats = resolve_similarity(
        result.nodes,
        result.edges,
        method=method,
        resolve_properties=resolve_properties,
        similarity_threshold=similarity_threshold,
    )
    return KGResult(
        nodes=nodes,
        edges=edges,
        chunks=result.chunks,
        pruned_nodes=result.pruned_nodes,
        pruned_edges=result.pruned_edges,
        resolution_stats=stats,
        persisted=result.persisted,
    )


def triples_view(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(subj, pred, obj) over canonical entity names — the P/R scoring view
    (FIXTURES.md §8): edges joined to entity nodes on both endpoints."""
    entities = nodes.where(F.col("is_entity")).select(
        F.col("id").alias("_nid"),
        F.col("properties").getItem("name").alias("_name"),
    )
    return (
        edges.join(
            entities.select(
                F.col("_nid").alias("_sid"), F.col("_name").alias("subj")
            ),
            F.col("start_node_id") == F.col("_sid"),
        )
        .join(
            entities.select(
                F.col("_nid").alias("_eid"), F.col("_name").alias("obj")
            ),
            F.col("end_node_id") == F.col("_eid"),
        )
        .select("subj", F.col("type").alias("pred"), "obj")
        .distinct()
    )
