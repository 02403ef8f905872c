"""Stage 4 — schema-guided (subj, pred, obj) extraction over chunks.

Reference: LLMEntityRelationExtractor
(components/entity_relation_extractor.py:161-342).  Per chunk: format
prompt → LLM → ``fix_invalid_json`` → parse → validate the
``{"nodes": [{id,label,properties}], "relationships": [{type,
start_node_id, end_node_id, properties}]}`` contract
(generation/prompts.py:162-202) → namespace ids with the chunk uid
(update_ids, :141-158) → emit FROM_CHUNK edges (lexical_graph.py:180-197).

Spark-first mapping (SURVEY.md §2.7 X1-X3):
  * the asyncio ``Semaphore(max_concurrency)`` disappears — parallelism is
    Spark tasks × in-batch vectorization;
  * chunks are repartitioned on ``chunk_uid`` (a hash) before the UDF:
    conversation skew cannot concentrate work, the explicit requirement of
    the north rule ("salted, size-bounded partitions");
  * one mapInPandas pass emits node AND edge rows tagged with ``kind`` so
    the (possibly expensive) model is invoked exactly once per chunk; the
    caller persists/checkpoints the combined frame and splits it.

The model is pluggable: any ``Callable[[list[str]], list[str]]`` mapping a
batch of chunk texts to a batch of JSON strings (LLM client, local model,
or the deterministic regex extractor below).  This mirrors the reference's
LLMInterface slot (llm/base.py:28-117) batch-wise.
"""

from __future__ import annotations

import json
import re
from typing import Callable, Iterator, List, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from neo4j_graphrag_python_spark.functions.json_repair import (
    InvalidJSONError,
    fix_invalid_json,
)
from neo4j_graphrag_python_spark.schema import GraphSchema
from neo4j_graphrag_python_spark.types import LexicalGraphConfig

ExtractorFn = Callable[[List[str]], List[str]]

GRAPH_ROWS_FIELDS = (
    "kind string, id string, label string, properties map<string,string>, "
    "start_node_id string, end_node_id string, type string, "
    "start_label string, end_label string, "
    "start_key string, end_key string, "
    "conv_id string, chunk_uid string, status string"
)
# start_label/end_label: the extractor knows endpoint labels at emission
# time (endpoints can only reference nodes of the same chunk — ids are
# chunk-namespaced).  Carrying them lets pruning validate patterns and
# endpoint existence WITHOUT joining the edge set against the node set:
# a dangling within-chunk reference surfaces as a NULL label here, and
# global existence ≡ within-chunk existence ∧ endpoint-not-pruned.
#
# start_key/end_key: the endpoint nodes' value of the configured resolve
# property (``resolve_property``, "name" by default), carried for the same
# reason — exact entity resolution re-points edges with an equi-join
# against the (label, key) → canonical-id map (one row per canonical
# ENTITY, runtime-broadcastable) instead of two shuffle joins against a
# mention-id mapping (one row per MENTION, proportional to the corpus).
# The resolver must group on the same property (resolver.resolve_exact).


class ExtractionError(RuntimeError):
    """Raised in OnError.RAISE mode (reference LLMGenerationError analog)."""


# ---------------------------------------------------------------------------
# Deterministic extractor model (test/bench stand-in for the LLM)
# ---------------------------------------------------------------------------

RulePattern = Tuple[str, str, str, str]  # (regex, rel_type, subj_label, obj_label)


def regex_extractor(rules: Sequence[RulePattern]) -> ExtractorFn:
    """Build a deterministic extractor honoring the ERExtractionTemplate
    JSON contract.  Entities are deduped per chunk by (label, name); local
    ids are their first-appearance order — exactly what an LLM following the
    prompt examples would emit."""
    compiled = [
        (re.compile(rx), rel, sl, ol) for rx, rel, sl, ol in rules
    ]

    def run(texts: List[str]) -> List[str]:
        out = []
        for text in texts:
            nodes: dict[tuple[str, str], int] = {}
            rels = []
            for rx, rel_type, subj_label, obj_label in compiled:
                for m in rx.finditer(text or ""):
                    sid = nodes.setdefault((subj_label, m.group(1)), len(nodes))
                    oid = nodes.setdefault((obj_label, m.group(2)), len(nodes))
                    rels.append(
                        {
                            "type": rel_type,
                            "start_node_id": str(sid),
                            "end_node_id": str(oid),
                            "properties": {},
                        }
                    )
            payload = {
                "nodes": [
                    {"id": str(i), "label": label, "properties": {"name": name}}
                    for (label, name), i in nodes.items()
                ],
                "relationships": rels,
            }
            out.append(json.dumps(payload, ensure_ascii=False))
        return out

    return run


def llm_extractor(
    llm_batch_fn: Callable[[List[str]], List[str]],
    schema=None,
    prompt_template=None,
    examples: str = "",
) -> ExtractorFn:
    """Production slot: wrap any batched LLM client as an ExtractorFn.

    Mirrors LLMEntityRelationExtractor.extract_for_chunk prompt assembly
    (entity_relation_extractor.py:205-217): per chunk, format the
    ERExtractionTemplate with text + schema + examples, send the batch to
    the model, return its raw JSON strings (repair/validation happens in
    parse_extraction).  ``llm_batch_fn`` maps prompts → completions; an
    HTTP client amortizes its own concurrency per Arrow batch — the
    distributed analog of the reference's Semaphore(max_concurrency).
    """
    from neo4j_graphrag_python_spark.functions.prompts import ERExtractionTemplate

    template = prompt_template or ERExtractionTemplate()
    schema_dict = schema.to_dict() if schema is not None else {}

    def run(texts: List[str]) -> List[str]:
        prompts = [
            template.format(text=t, schema=schema_dict, examples=examples)
            for t in texts
        ]
        return llm_batch_fn(prompts)

    return run


def demo_rules() -> List[RulePattern]:
    """Rules matching the FIXTURES.md §4 demo schema + transcript templates."""
    from neo4j_graphrag_python_spark.transcripts import PATTERNS

    return [
        (pattern, pred, subj_label, obj_label)
        for pred, (pattern, subj_label, obj_label) in PATTERNS.items()
    ]


# ---------------------------------------------------------------------------
# Parsing / validation of the model output (reference extract_for_chunk)
# ---------------------------------------------------------------------------


def parse_extraction(raw: str) -> dict:
    """fix_invalid_json + shape validation.

    Raises ExtractionError on unfixable JSON or contract violations, exactly
    where the reference raises LLMGenerationError
    (entity_relation_extractor.py:216-237): callers map it through OnError.

    A per-prompt transport failure captured by
    ``OpenAICompatClient.complete_batch`` arrives as an
    ``LLM_ERROR_SENTINEL``-prefixed string; it raises here with the
    transport message so OnError decides its fate like any parse error
    (IGNORE → status row, RAISE → task failure).
    """
    from neo4j_graphrag_python_spark.llm import LLM_ERROR_SENTINEL

    if isinstance(raw, str) and raw.startswith(LLM_ERROR_SENTINEL):
        raise ExtractionError(
            f"llm transport error: {raw[len(LLM_ERROR_SENTINEL):]}"
        )
    try:
        # fast path: well-formed model output (the common case) — one parse
        result = json.loads(raw)
    except (json.JSONDecodeError, TypeError):
        try:
            repaired = fix_invalid_json(raw)
            result = json.loads(repaired)
        except (InvalidJSONError, json.JSONDecodeError) as e:
            raise ExtractionError("model response is not valid JSON") from e
    if not isinstance(result, dict):
        raise ExtractionError("model response has improper format")
    nodes = result.get("nodes", [])
    rels = result.get("relationships", [])
    if not isinstance(nodes, list) or not isinstance(rels, list):
        raise ExtractionError("model response has improper format")
    for n in nodes:
        if not isinstance(n, dict) or "id" not in n or "label" not in n:
            raise ExtractionError("node missing required id/label")
        if n["id"] is None or n["label"] is None:
            raise ExtractionError("node missing required id/label")
        props = n.get("properties") or {}
        if "id" in props:
            # validator forbids a property named "id" (types.py:93-99)
            raise ExtractionError("node property 'id' is reserved")
    for r in rels:
        if (
            not isinstance(r, dict)
            or r.get("type") is None
            or r.get("start_node_id") is None
            or r.get("end_node_id") is None
        ):
            raise ExtractionError("relationship missing type/endpoints")
    # last-wins dedupe of duplicate node ids within one chunk, matching
    # the reference's dict collapse (entity_relation_extractor.py valid
    # nodes keyed by id); duplicates would otherwise fan out edge rows
    # through the id-keyed joins in pruning/resolution
    by_id: dict = {}
    for n in nodes:
        by_id[n["id"]] = n
    if len(by_id) != len(nodes):
        nodes = list(by_id.values())
    return {"nodes": nodes, "relationships": rels}


def _props_to_str_map(props: dict) -> dict[str, str]:
    out = {}
    for k, v in (props or {}).items():
        out[str(k)] = v if isinstance(v, str) else json.dumps(v, ensure_ascii=False)
    return out


# ---------------------------------------------------------------------------
# The Spark stage
# ---------------------------------------------------------------------------


def _to_pdf(out: "dict[str, list]") -> "pd.DataFrame":
    """Columnar dict → pandas with explicit object dtype.

    An empty batch would otherwise produce float64 columns, and Arrow
    cannot convert an empty float64 ndarray to map<string,string> —
    plain spark-submit defaults (200 shuffle partitions) hit empty
    partitions routinely even when tests don't.
    """
    return pd.DataFrame(
        {c: pd.Series(v, dtype="object") for c, v in out.items()}, columns=_COLS
    )


_COLS = [
    "kind",
    "id",
    "label",
    "properties",
    "start_node_id",
    "end_node_id",
    "type",
    "start_label",
    "end_label",
    "start_key",
    "end_key",
    "conv_id",
    "chunk_uid",
    "status",
]


def _process_items(
    items,
    extractor_fn: ExtractorFn,
    raise_on_error: bool,
    from_chunk_type: str,
    create_from_chunk_edges: bool,
    chunk_node_label: str,
    resolve_property: str,
) -> dict[str, list]:
    """Shared extraction core: items = list of
    (conv_id, chunk_uid, chunk_index, model_input) → columnar graph rows.
    Edge rows carry their endpoints' ``resolve_property`` values as
    ``start_key``/``end_key``.

    Columnar accumulation is an order of magnitude cheaper to hand to
    Arrow than building a DataFrame from per-row tuples.
    """
    raw_outputs = extractor_fn([it[3] for it in items])
    out: dict[str, list] = {c: [] for c in _COLS}

    def emit(kind, nid, label, props, start, end, etype, slabel, elabel,
             conv, cuid, status, skey=None, ekey=None):
        out["kind"].append(kind)
        out["id"].append(nid)
        out["label"].append(label)
        out["properties"].append(props)
        out["start_node_id"].append(start)
        out["end_node_id"].append(end)
        out["type"].append(etype)
        out["start_label"].append(slabel)
        out["end_label"].append(elabel)
        out["start_key"].append(skey)
        out["end_key"].append(ekey)
        out["conv_id"].append(conv)
        out["chunk_uid"].append(cuid)
        out["status"].append(status)

    for (conv_id, chunk_uid, chunk_index, _), raw in zip(items, raw_outputs):
        status = "ok"
        try:
            graph = parse_extraction(raw)
        except ExtractionError as e:
            if raise_on_error:
                raise
            graph = {"nodes": [], "relationships": []}
            status = f"error:{e}"
        # update_ids semantics (entity_relation_extractor.py:141-158)
        prefix = f"{chunk_uid}:"
        chunk_index_str = str(int(chunk_index))
        local_labels = {str(n["id"]): str(n["label"]) for n in graph["nodes"]}
        local_keys: dict[str, str] = {}
        for n in graph["nodes"]:
            props = _props_to_str_map(n.get("properties"))
            props["chunk_index"] = chunk_index_str
            node_id = prefix + str(n["id"])
            local_keys[str(n["id"])] = props.get(resolve_property)
            emit(
                "node", node_id, str(n["label"]), props,
                None, None, None, None, None, conv_id, chunk_uid, status,
            )
            if create_from_chunk_edges:
                emit(
                    "edge", None, None, {}, node_id, chunk_uid,
                    from_chunk_type, str(n["label"]), chunk_node_label,
                    conv_id, chunk_uid, status,
                    skey=props.get(resolve_property),
                )
        for r in graph["relationships"]:
            emit(
                "edge", None, None, _props_to_str_map(r.get("properties")),
                prefix + str(r["start_node_id"]),
                prefix + str(r["end_node_id"]),
                str(r["type"]),
                local_labels.get(str(r["start_node_id"])),
                local_labels.get(str(r["end_node_id"])),
                conv_id, chunk_uid, status,
                skey=local_keys.get(str(r["start_node_id"])),
                ekey=local_keys.get(str(r["end_node_id"])),
            )
        if not graph["nodes"] and not graph["relationships"]:
            # keep an explicit per-chunk status row for lineage
            if status != "ok":
                emit(
                    "status", None, None, {}, None, None, None, None, None,
                    conv_id, chunk_uid, status,
                )
    return out


def _with_sentinel(ctx: str) -> str:
    # A \x00 sentinel leads any non-empty boundary context: without it, a
    # context that reconstructs a split word ("Sm" + "ith works…") would
    # let ^ match a truncated name at string start.  The sentinel can never
    # be part of a match, and ^ only fires for genuine document starts
    # (empty context).
    return ("\x00" + ctx) if ctx else ""


def _extract_partitions(spark, num_partitions: int | None) -> int:
    """Partition count for an extraction stage: the caller's, else
    max(defaultParallelism, spark.sql.shuffle.partitions).

    The count is pinned EXPLICITLY: a bare repartition lets AQE coalesce
    by shuffle BYTES, and extraction is latency-bound model calls and
    per-chunk Python, not byte-bound — measured at sf0.1 with a 20 ms-
    latency gateway, AQE coalesced 38k chunks (a few MB) onto 4 of 32
    workers and the extraction ran at 1/6th of the cluster's concurrency
    budget."""
    return num_partitions or max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )


def extract_graph_rows(
    chunks: DataFrame,
    extractor_fn: ExtractorFn,
    on_error: str = "IGNORE",
    lexical_config: LexicalGraphConfig | None = None,
    create_from_chunk_edges: bool = True,
    num_partitions: int | None = None,
    resolve_property: str = "name",
) -> DataFrame:
    """chunks → combined graph rows (kind ∈ {'node','edge'}).

    Node rows: (id, label, properties);
    edge rows: (start_node_id, end_node_id, type, properties), plus the
    endpoints' labels and ``resolve_property`` values as
    ``start_label``/``end_label`` and ``start_key``/``end_key``.
    Both carry (conv_id, chunk_uid) lineage and a per-chunk ``status``
    ('ok' | 'error:...') — the distributed replacement for OnError.IGNORE
    logging.  With on_error='RAISE' the task fails instead (reference
    LLMGenerationError → job abort).
    """
    cfg = lexical_config or LexicalGraphConfig()
    from_chunk_type = cfg.node_to_chunk_relationship_type
    raise_on_error = on_error.upper() == "RAISE"

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # prepend boundary context (≤2 chars) so sentence-anchored
            # extractors see the true sentence boundary at chunk starts
            if "boundary_ctx" in pdf.columns:
                ctxs = [
                    _with_sentinel(c or "") for c in pdf["boundary_ctx"]
                ]
            else:
                ctxs = [""] * len(pdf)
            items = list(
                zip(
                    pdf["conv_id"],
                    pdf["chunk_uid"],
                    pdf["chunk_index"],
                    (c + (t or "") for c, t in zip(ctxs, pdf["text"])),
                )
            )
            out = _process_items(
                items, extractor_fn, raise_on_error,
                from_chunk_type, create_from_chunk_edges,
                cfg.chunk_node_label, resolve_property,
            )
            yield _to_pdf(out)

    input_cols = ["conv_id", "chunk_uid", "chunk_index", "text"]
    if "boundary_ctx" in chunks.columns:
        input_cols.append("boundary_ctx")
    src = chunks.select(*input_cols)
    # hash-repartition on chunk_uid: size-bounded partitions regardless of
    # conv_id skew (north-rule requirement)
    src = src.repartition(
        _extract_partitions(chunks.sparkSession, num_partitions), "chunk_uid"
    )
    return src.mapInPandas(extract_batches, schema=GRAPH_ROWS_FIELDS)


def extract_from_documents(
    documents: DataFrame,
    extractor_fn: ExtractorFn,
    splitter_config=None,
    on_error: str = "IGNORE",
    lexical_config: LexicalGraphConfig | None = None,
    create_from_chunk_edges: bool = True,
    num_partitions: int | None = None,
    emit_chunk_rows: bool = False,
    resolve_property: str = "name",
) -> DataFrame:
    """Fused split+extract: documents → graph rows in ONE Python pass.

    This is the pipeline's only extraction chain, checkpointed or not:
    chunk text never leaves the Python worker — splitting feeds
    extraction in-process, exactly what whole-stage codegen would do for
    JVM operators (Python UDF boundaries block that fusion, so we fuse
    manually).  Same chunk uids and sentinel boundary-context semantics
    as ``split_fixed_size`` → ``extract_graph_rows``
    (tests/test_fused_extract.py asserts equal rows); edge rows carry
    the endpoints' ``resolve_property`` values as ``start_key``/``end_key``.

    With ``emit_chunk_rows=True`` the same pass also emits kind='chunk'
    rows (uid, index, char offsets and text in the properties map), so the
    chunks table comes from :func:`chunks_view` over the cached result —
    the corpus is split ONCE instead of once for extraction and once for
    the lexical/lineage table (the second splitting pass was ~10% of the
    sf3 pipeline wall).

    Partitioning: documents are hash-repartitioned on conv_id; per-task
    work is bounded by document size.  A pathological mega-conversation
    would pin all of its (expensive) per-chunk model calls to ONE task, so
    documents longer than ``256 * (chunk_size - chunk_overlap)`` chars
    (256 chunk steps) take the whale route instead: splitting stays
    sequential per doc (approximate chunk boundaries are sequentially
    dependent — fixed_size_splitter.py's start depends on the previous
    adjusted start, so a doc cannot be sliced and split in parallel
    without changing reference semantics), but the model calls spread
    over ``extract_graph_rows``' salted chunk-hash repartition.  Output is
    identical either way (tests/test_assemble.py's whale test asserts the
    spread and the rows).
    """
    from neo4j_graphrag_python_spark.functions.splitting import split_text
    from neo4j_graphrag_python_spark.operators.splitter import _chunk_uid
    from neo4j_graphrag_python_spark.types import SplitterConfig

    scfg = splitter_config or SplitterConfig()
    size, overlap, approximate = (
        scfg.chunk_size,
        scfg.chunk_overlap,
        scfg.approximate,
    )
    cfg = lexical_config or LexicalGraphConfig()
    from_chunk_type = cfg.node_to_chunk_relationship_type
    raise_on_error = on_error.upper() == "RAISE"

    def fused_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            items = []
            chunk_rows = []
            for conv_id, text in zip(pdf["conv_id"], pdf["text"]):
                doc = text or ""
                for i, (s, e, chunk) in enumerate(
                    split_text(doc, size, overlap, approximate)
                ):
                    ctx = _with_sentinel(doc[max(0, s - 2) : s])
                    uid = _chunk_uid(conv_id, i)
                    items.append((conv_id, uid, i, ctx + chunk))
                    if emit_chunk_rows:
                        chunk_rows.append(
                            (
                                uid,
                                {
                                    "chunk_index": str(i),
                                    "char_start": str(s),
                                    "char_end": str(e),
                                    "text": chunk,
                                    "boundary_ctx": doc[max(0, s - 2) : s],
                                },
                                conv_id,
                            )
                        )
            out = _process_items(
                items, extractor_fn, raise_on_error,
                from_chunk_type, create_from_chunk_edges,
                cfg.chunk_node_label, resolve_property,
            )
            for uid, props, conv_id in chunk_rows:
                out["kind"].append("chunk")
                out["id"].append(uid)
                out["label"].append(cfg.chunk_node_label)
                out["properties"].append(props)
                for c in (
                    "start_node_id", "end_node_id", "type",
                    "start_label", "end_label", "start_key", "end_key",
                ):
                    out[c].append(None)
                out["conv_id"].append(conv_id)
                out["chunk_uid"].append(uid)
                out["status"].append("ok")
            yield _to_pdf(out)

    src = documents.select("conv_id", "text")
    # a doc whose chunk count rivals a whole task's fair share stops
    # amortizing fusion and starts hoarding a core
    whale_chars = 256 * (size - overlap)
    is_whale = F.length(F.coalesce(F.col("text"), F.lit(""))) > whale_chars
    small = src.where(~is_whale).repartition(
        _extract_partitions(documents.sparkSession, num_partitions), "conv_id"
    )
    fused = small.mapInPandas(fused_batches, schema=GRAPH_ROWS_FIELDS)

    whales = src.where(is_whale)
    # existence probe (one cheap scan of text lengths, stops at the first
    # hit): when the corpus has no whale documents — the common case —
    # the whale union branches would still contribute their empty
    # partitions (~190 at bench scale) to this frame AND to every
    # downstream scan of its persisted form; skipping the union keeps the
    # output at the fused path's partition count.  Output rows identical
    # (the skipped branches are provably empty).
    if whales.limit(1).count() == 0:
        return fused
    # staged route for whales: sequential per-doc split (cheap string
    # scan), then the expensive model calls spread across the salted
    # chunk-hash repartition
    from neo4j_graphrag_python_spark.operators.splitter import split_fixed_size

    whale_chunks = split_fixed_size(whales, scfg)
    staged = extract_graph_rows(
        whale_chunks,
        extractor_fn,
        on_error=on_error,
        lexical_config=lexical_config,
        create_from_chunk_edges=create_from_chunk_edges,
        num_partitions=num_partitions,
        resolve_property=resolve_property,
    )
    if emit_chunk_rows:
        # whales' chunk rows come straight from their chunks table (JVM
        # projection, no second Python pass)
        staged = staged.unionByName(
            whale_chunks.select(
                F.lit("chunk").alias("kind"),
                F.col("chunk_uid").alias("id"),
                F.lit(cfg.chunk_node_label).alias("label"),
                F.map_from_arrays(
                    F.array(
                        F.lit("chunk_index"), F.lit("char_start"),
                        F.lit("char_end"), F.lit("text"),
                        F.lit("boundary_ctx"),
                    ),
                    F.array(
                        F.col("chunk_index").cast("string"),
                        F.col("char_start").cast("string"),
                        F.col("char_end").cast("string"),
                        F.col("text"),
                        F.coalesce(F.col("boundary_ctx"), F.lit("")),
                    ),
                ).alias("properties"),
                F.lit(None).cast("string").alias("start_node_id"),
                F.lit(None).cast("string").alias("end_node_id"),
                F.lit(None).cast("string").alias("type"),
                F.lit(None).cast("string").alias("start_label"),
                F.lit(None).cast("string").alias("end_label"),
                F.lit(None).cast("string").alias("start_key"),
                F.lit(None).cast("string").alias("end_key"),
                F.col("conv_id"),
                F.col("chunk_uid"),
                F.lit("ok").alias("status"),
            )
        )
    return fused.unionByName(staged)


def chunks_view(graph_rows: DataFrame) -> DataFrame:
    """kind='chunk' rows → the canonical chunks schema (what
    split_fixed_size produces), typed back out of the properties map."""
    p = F.col("properties")
    return graph_rows.where(F.col("kind") == "chunk").select(
        F.col("chunk_uid"),
        F.col("conv_id"),
        p.getItem("chunk_index").cast("int").alias("chunk_index"),
        p.getItem("char_start").cast("int").alias("char_start"),
        p.getItem("char_end").cast("int").alias("char_end"),
        p.getItem("text").alias("text"),
        F.coalesce(p.getItem("boundary_ctx"), F.lit("")).alias("boundary_ctx"),
    )


def split_graph_rows(graph_rows: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Combined rows → (nodes, edges) in canonical schemas.

    Callers should persist or checkpoint ``graph_rows`` first so extraction
    runs once (the pipeline does; plans/pipeline.py).
    """
    nodes = graph_rows.where(F.col("kind") == "node").select(
        "id",
        "label",
        F.lit(True).alias("is_entity"),
        "properties",
        F.lit(None).cast("array<float>").alias("embedding"),
        "conv_id",
        "chunk_uid",
    )
    edges = graph_rows.where(F.col("kind") == "edge").select(
        "start_node_id",
        "end_node_id",
        "type",
        "properties",
        "start_label",
        "end_label",
        "start_key",
        "end_key",
        "conv_id",
        "chunk_uid",
    )
    return nodes, edges
