"""neo4j_graphrag_python_spark — a from-scratch, PySpark-native
knowledge-graph-construction engine with the capabilities of
``neo4j-graphrag-python``'s ``SimpleKGPipeline``.

The reference is a single-process asyncio pipeline over in-memory pydantic
objects; this package re-expresses the same *semantics* as a distributed
DataFrame pipeline (``plans/pipeline.py``, ``run_kg_pipeline``):

    transcripts (conv_id, turn_idx, role, text, tool, ts)
      → assemble_documents          (window-ordered concat, per-turn lineage)
      → extract_from_documents      (fused FixedSizeSplitter split + schema-guided
                                     triple extraction, one mapInPandas pass)
      → build_lexical_graph         (Document/Chunk nodes, FROM_DOCUMENT/NEXT_CHUNK)
      → prune_graph                 (GraphPruning semantics, built-in exprs)
      → materialize nodes/edges     (checkpointed, idempotent resume)
      → resolve_exact               (exact entity resolution, one groupBy)

``run_similarity_resolution`` adds the optional fuzzy/semantic pass
(LSH blocking, ``resolve_similarity``).

Everything is expressed with pyspark.sql DataFrame operators; Python is only
entered through Arrow-vectorized pandas UDFs (mapInPandas / applyInPandas) —
never per-row Python UDFs.
"""

__version__ = "0.1.0"

from neo4j_graphrag_python_spark.schema import (  # noqa: F401
    GraphSchema,
    NodeType,
    PropertyType,
    RelationshipType,
)
from neo4j_graphrag_python_spark.types import (  # noqa: F401
    LexicalGraphConfig,
    PipelineConfig,
    SplitterConfig,
)

__all__ = [
    "GraphSchema",
    "NodeType",
    "PropertyType",
    "RelationshipType",
    "LexicalGraphConfig",
    "PipelineConfig",
    "SplitterConfig",
]
