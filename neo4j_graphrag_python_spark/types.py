"""Canonical DataFrame schemas and pipeline config types.

The reference models every payload as a pydantic object
(reference: experimental/components/types.py:25-188).  Here the *collections*
become DataFrames and the element types become StructTypes; the config
objects stay plain Python (broadcast into UDF closures).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Lexical graph config — reference types.py:145-183 (defaults 146-154).
# ---------------------------------------------------------------------------

DEFAULT_DOCUMENT_NODE_LABEL = "Document"
DEFAULT_CHUNK_NODE_LABEL = "Chunk"
DEFAULT_CHUNK_TO_DOCUMENT_RELATIONSHIP_TYPE = "FROM_DOCUMENT"
DEFAULT_NEXT_CHUNK_RELATIONSHIP_TYPE = "NEXT_CHUNK"
DEFAULT_NODE_TO_CHUNK_RELATIONSHIP_TYPE = "FROM_CHUNK"


@dataclass(frozen=True)
class LexicalGraphConfig:
    """Labels / property names used in the lexical graph.

    Mirrors reference ``LexicalGraphConfig`` (types.py:157-183).
    """

    document_node_label: str = DEFAULT_DOCUMENT_NODE_LABEL
    chunk_node_label: str = DEFAULT_CHUNK_NODE_LABEL
    chunk_to_document_relationship_type: str = (
        DEFAULT_CHUNK_TO_DOCUMENT_RELATIONSHIP_TYPE
    )
    next_chunk_relationship_type: str = DEFAULT_NEXT_CHUNK_RELATIONSHIP_TYPE
    node_to_chunk_relationship_type: str = DEFAULT_NODE_TO_CHUNK_RELATIONSHIP_TYPE
    chunk_id_property: str = "id"
    chunk_index_property: str = "index"
    chunk_text_property: str = "text"
    chunk_embedding_property: str = "embedding"

    @property
    def lexical_graph_node_labels(self) -> tuple[str, ...]:
        return (self.document_node_label, self.chunk_node_label)

    @property
    def lexical_graph_relationship_types(self) -> tuple[str, ...]:
        return (
            self.chunk_to_document_relationship_type,
            self.next_chunk_relationship_type,
            self.node_to_chunk_relationship_type,
        )


# ---------------------------------------------------------------------------
# Canonical DataFrame schemas
# ---------------------------------------------------------------------------

# Input (BASELINE.json input_hint): multi-turn transcripts.
TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

# Assembled per-conversation documents (reference DocumentInfo/PdfDocument,
# types.py:25-45; uid == conv_id in the transcripts design).
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_turns", T.IntegerType()),
        T.StructField(
            "turn_offsets",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("turn_idx", T.IntegerType()),
                        T.StructField("char_start", T.IntegerType()),
                        T.StructField("char_end", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)

# Chunks (reference TextChunk, types.py:48-65). chunk_uid is deterministic
# (sha1 of conv_id:chunk_index) instead of uuid4 — required for idempotent
# resume; P/R comparisons never look at ids (SURVEY.md §7).
CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("chunk_uid", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("chunk_index", T.IntegerType()),
        T.StructField("char_start", T.IntegerType()),
        T.StructField("char_end", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)

# Graph node rows (reference Neo4jNode, types.py:78-104).
NODES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("label", T.StringType()),
        T.StructField("is_entity", T.BooleanType()),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("conv_id", T.StringType()),
        T.StructField("chunk_uid", T.StringType()),
    ]
)

# Graph edge rows (reference Neo4jRelationship, types.py:107-126).
EDGES_SCHEMA = T.StructType(
    [
        T.StructField("start_node_id", T.StringType()),
        T.StructField("end_node_id", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
        T.StructField("conv_id", T.StringType()),
        T.StructField("chunk_uid", T.StringType()),
    ]
)


@dataclass
class SplitterConfig:
    """FixedSizeSplitter knobs (reference fixed_size_splitter.py:94-104)."""

    chunk_size: int = 4000
    chunk_overlap: int = 200
    approximate: bool = True

    def __post_init__(self) -> None:
        if self.chunk_size <= 0:
            raise ValueError("chunk_size must be strictly greater than 0")
        if self.chunk_overlap >= self.chunk_size:
            raise ValueError("chunk_overlap must be strictly less than chunk_size")


@dataclass
class ResolutionStats:
    """Reference ResolutionStats (types.py:141-143)."""

    number_of_nodes_to_resolve: int
    number_of_created_nodes: int | None = None


@dataclass
class PipelineConfig:
    """End-to-end pipeline configuration (driver-side; broadcast by closure)."""

    splitter: SplitterConfig = field(default_factory=SplitterConfig)
    lexical: LexicalGraphConfig = field(default_factory=LexicalGraphConfig)
    create_lexical_graph: bool = True
    on_error: str = "IGNORE"  # or "RAISE" — reference OnError enum
    perform_entity_resolution: bool = True
    resolve_property: str = "name"
    # extraction partition count for 100TB scale (SURVEY.md §4: skew &
    # salting); default max(defaultParallelism, spark.sql.shuffle.partitions)
    extract_partitions: int | None = None
    checkpoint_dir: str | None = None  # per-stage parquet checkpoints + resume
    # populate KGResult.metrics (stage walls, chunk/error counts) and, with
    # a checkpoint_dir, append them to <ckpt>/metrics_log for monitoring;
    # costs two small aggregations over already-cached stage frames
    collect_metrics: bool = False
