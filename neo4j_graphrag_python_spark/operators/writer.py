"""Stage 7 — graph materialization with per-partition lineage + resume.

Reference: Neo4jWriter (components/kg_writer.py:87-221) upserts into Neo4j
in 1000-row batches, indexes __KGBuilder__.id, tags non-lexical nodes
__Entity__, and relies on apoc.merge semantics for dedupe.  Spark-first:

  * the sink is a parquet/Iceberg table write — batching is partition
    sizing, "UNWIND upsert" is mode=overwrite of deterministic rows;
  * the __Entity__ tag is the ``is_entity`` boolean column
    (kg_writer.py:135-147);
  * edge merge (same type + endpoints ⇒ one edge; neo4j_queries.py:88,102)
    is the resolver's (start, type, end) aggregation — kept the *first*
    by chunk order for determinism;
  * resume (north rule): writes go through a bucket manifest.  Rows are
    hash-bucketed by a deterministic key; each bucket is written to its own
    subdirectory and recorded in ``_manifest/<bucket>.json`` after the
    write succeeds.  Re-running skips completed buckets (anti-join at the
    file level), giving idempotent per-partition restart without any
    external coordinator — the parquet-side analog of the reference's
    ResultStore keyed run_id:task (pipeline/stores.py:85-117), but
    partition-granular instead of run-granular.
"""

from __future__ import annotations

import json
import time
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from neo4j_graphrag_python_spark.operators.resolver import merge_parallel_edges


def dedupe_edges(
    edges: DataFrame, skip_types: tuple[str, ...] | None = None
) -> DataFrame:
    """apoc.merge.relationship semantics (one edge per (start,type,end));
    first property bag by (chunk_uid, conv_id) order wins — the
    resolver's :func:`merge_parallel_edges` with no re-pointing.

    ``skip_types``: structural edge types that are unique by construction
    (NEXT_CHUNK, FROM_DOCUMENT: one per chunk) bypass the groupBy.
    """
    return merge_parallel_edges(edges, skip_types)


def split_named_embeddings(
    df: DataFrame,
    map_col: str = "embedding_properties",
    names: list[str] | None = None,
) -> DataFrame:
    """Reference-shaped multi-vector ingest: unwind a
    MAP<STRING,ARRAY<FLOAT>> of named embeddings into one ARRAY<FLOAT>
    column per name, then drop the map.

    This is the Spark analog of the writer's
    ``UNWIND keys(row.embedding_properties) … setNodeVectorProperty``
    (reference neo4j_queries.py:56-66; Neo4jNode.embedding_properties,
    types.py:78-104): per-name columns keep each vector independently
    prunable at the parquet scan, so probing one named vector never reads
    the others.  Rows without a given name get NULL.

    ``names``: the vector property names to materialize.  When omitted
    they are discovered with one distinct map_keys pass — bounded by the
    schema (number of DISTINCT property names), not the data.

    A name colliding with an existing column (``id``, ``label``, …)
    raises instead of silently overwriting it — the same spirit as the
    reference's validator forbidding ``id`` as an embedding property name
    (types.py:92-98).
    """
    if names is None:
        names = sorted(
            r["k"]
            for r in df.select(
                F.explode(F.map_keys(F.col(map_col))).alias("k")
            )
            .distinct()
            .collect()
        )
    clash = sorted(set(names) & set(df.columns))
    if clash:
        raise ValueError(
            f"embedding property names collide with existing columns: {clash}"
        )
    out = df
    for name in names:
        out = out.withColumn(name, F.col(map_col).getItem(name))
    return out.drop(map_col)


def write_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).parquet(path)


# ---------------------------------------------------------------------------
# checkpointed, resumable writes
# ---------------------------------------------------------------------------


def _manifest_dir(path: str) -> Path:
    return Path(path) / "_manifest"


def completed_buckets(path: str) -> set[int]:
    mdir = _manifest_dir(path)
    if not mdir.exists():
        return set()
    return {int(p.stem) for p in mdir.glob("*.json")}


def write_resumable(
    df: DataFrame,
    path: str,
    key_col: str,
    num_buckets: int = 32,
) -> dict:
    """Write ``df`` to ``path`` bucketed by ``hash(key_col) % num_buckets``,
    skipping buckets already recorded in the manifest.

    Deterministic row content + deterministic bucketing ⇒ a re-run after a
    crash only recomputes incomplete buckets, and completed buckets are
    byte-stable.  Returns {written: [...], skipped: [...]}.
    """
    done = completed_buckets(path)
    todo = [b for b in range(num_buckets) if b not in done]
    bucketed = df.withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_buckets))
    )
    written = []
    if todo:
        keep = bucketed.where(F.col("_bucket").isin(todo))
        (
            keep.repartition(len(todo), "_bucket")
            .write.option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bucket")
            .mode("overwrite")
            .parquet(path)
        )
        mdir = _manifest_dir(path)
        mdir.mkdir(parents=True, exist_ok=True)
        for b in todo:
            (mdir / f"{b}.json").write_text(
                json.dumps({"bucket": b, "completed_at": time.time()})
            )
        written = todo
    return {"written": written, "skipped": sorted(done)}


def read_resumable(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop("_bucket")


# ---------------------------------------------------------------------------
# stage checkpoints (lineage tables between pipeline stages)
# ---------------------------------------------------------------------------


def checkpoint_stage(
    build: Callable[[], DataFrame], checkpoint_dir: str | None, stage: str
) -> DataFrame:
    """Persist a stage boundary; ``build`` makes the stage's frame.

    With a checkpoint_dir: write parquet once, read back (re-runs and
    downstream branching reuse the files — extraction runs exactly once
    even though nodes and edges both consume it).  A committed stage is
    read back without calling ``build``, so a resumed run plans nothing
    (and submits no eager probe) for it.  Without: Spark persist(),
    eagerly materialized — downstream consumers are submitted
    concurrently by AQE, and a lazy cache would be computed redundantly
    by each of them.  The caller owns that cache (``is_cached`` is True)
    and unpersists it when done.
    """
    if checkpoint_dir:
        path = str(Path(checkpoint_dir) / stage)
        if not (Path(path) / "_SUCCESS").exists():
            build().write.mode("overwrite").parquet(path)
        return SparkSession.active().read.parquet(path)
    df = build().persist()
    df.count()
    return df
