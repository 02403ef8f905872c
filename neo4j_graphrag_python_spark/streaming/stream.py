"""Structured-Streaming variant of the KG pipeline.

The reference is batch-only (SURVEY.md §1.4); this module adds the
streaming ingestion path a production transcripts feed needs: new
transcript files land in a directory (or Kafka topic — swap the source),
and complete conversations are extracted incrementally.

Design:
  * source: file-stream over the transcripts directory (schema enforced);
  * conversations are only safe to assemble once *complete*; with an
    event-time watermark on ``ts`` we treat a conversation as complete
    when no new turn arrived within the watermark delay;
  * ``foreachBatch`` runs the (batch) KG pipeline per micro-batch on the
    closed conversations and appends nodes/edges parquet — giving
    exactly-once-per-conversation semantics via the deterministic ids +
    dedupe on write.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession, functions as F

from neo4j_graphrag_python_spark.operators.extractor import ExtractorFn
from neo4j_graphrag_python_spark.plans.pipeline import run_kg_pipeline
from neo4j_graphrag_python_spark.schema import GraphSchema
from neo4j_graphrag_python_spark.types import (
    TRANSCRIPTS_SCHEMA,
    PipelineConfig,
)

_SINKS = ("parquet_append", "catalog_merge_incremental")


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_kg_pipeline(
    stream: DataFrame,
    extractor_fn: ExtractorFn,
    output_dir: str,
    checkpoint_dir: str,
    schema: GraphSchema | None = None,
    config: PipelineConfig | None = None,
    trigger_once: bool = False,
    sink: str = "parquet_append",
    incremental_fuzzy_threshold: float | None = None,
):
    """Run the KG pipeline per micro-batch via foreachBatch.

    Deterministic chunk/node ids + overwrite-by-conversation semantics make
    re-processing idempotent (a replayed micro-batch rewrites identical
    rows), which together with the stream checkpoint gives effective
    exactly-once output.

    Sinks:
      * ``parquet_append`` — raw batch_id-stamped parquet append (audit
        log shape; replays append identical rows distinguished by
        batch_id);
      * ``catalog_merge_incremental`` — incremental KG *maintenance*:
        each batch's nodes/edges are MERGE-upserted into
        ``{output_dir}_nodes`` / ``_edges`` catalog tables keyed by graph
        identity (node ``id``; edge ``(start, type, end)``), so a
        re-delivered or replayed conversation REPLACES its earlier rows
        instead of duplicating them — the Iceberg production shape
        (`sources/catalog.py`); ``output_dir`` is then a table-name
        prefix, not a path.  Entities resolve ACROSS batches against the
        persistent ``{output_dir}_canon`` map (streaming/incremental.py):
        stable content-hash canonical ids, min-wins merges
        (trigger-size-invariant for the exact tier, idempotent on
        replay), optional fuzzy adoption of new names against stored
        canonicals at ``incremental_fuzzy_threshold``.  The pipeline's
        in-batch exact tier is skipped on this sink: the cross-batch tier
        groups on the same (label, ``resolve_property``) key and keeps the
        same min-order winner, so running both would resolve every batch
        twice for identical tables.

    Raises ``ValueError`` for an unknown ``sink`` and for an
    ``incremental_fuzzy_threshold`` given with a sink that ignores it.
    """
    if sink not in _SINKS:
        raise ValueError(f"unknown sink {sink!r}; expected one of {_SINKS}")
    incremental = sink == "catalog_merge_incremental"
    if incremental_fuzzy_threshold is not None and not incremental:
        raise ValueError(
            "incremental_fuzzy_threshold needs "
            f"sink='catalog_merge_incremental', got sink={sink!r}"
        )
    cfg = config or PipelineConfig()
    if incremental:
        cfg = dataclasses.replace(cfg, perform_entity_resolution=False)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        result = run_kg_pipeline(batch_df, extractor_fn, schema, cfg)
        try:
            if incremental:
                from neo4j_graphrag_python_spark.streaming.incremental import (
                    resolve_batch_incremental,
                )

                resolve_batch_incremental(
                    result.nodes,
                    result.edges,
                    output_dir,
                    resolve_property=cfg.resolve_property,
                    fuzzy_threshold=incremental_fuzzy_threshold,
                )
            else:
                (
                    result.nodes.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("append")
                    .parquet(f"{output_dir}/nodes")
                )
                (
                    result.edges.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("append")
                    .parquet(f"{output_dir}/edges")
                )
        finally:
            # the batch's stage caches are dead once its output is written
            # or the write has failed; left persisted they would pile up in
            # executor storage per trigger, or per restart of a failed query
            for df in result.persisted:
                df.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_dedup_exact(
    stream: DataFrame,
    watermark: str = "10 minutes",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose content hash was already
    seen within the watermark horizon.

    The streaming face of dedup_exact for continuous ingestion: state is
    keyed by the content hash (md5 of ``text_col``) and expired by the
    event-time watermark, so state size is bounded by the horizon's
    traffic, not the corpus — the property that makes it viable on an
    unbounded 100 TB/day feed.  Exactly-once across restarts comes from
    the checkpointed state store like every stateful operator here.
    """
    hashed = stream.withColumn("_text_hash", F.md5(F.col(text_col)))
    return hashed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["_text_hash"]
    ).drop("_text_hash")

