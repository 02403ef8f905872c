"""The benchmark's workloads: seeded inputs, a warm-up pass, one closed-loop
operation through the library's public entry points, its output checks,
and the calls its traced run wraps in spans.

``run`` is the timed part of an operation; ``check`` verifies its output
afterwards, untimed, and a non-empty ``Outcome.errors`` counts the
operation as failed.
"""

from __future__ import annotations

import contextlib
import hashlib
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from neo4j_graphrag_python_spark import transcripts as tr
from neo4j_graphrag_python_spark.operators.dedup import minhash_dedup_pairs
from neo4j_graphrag_python_spark.operators.extractor import (
    demo_rules,
    regex_extractor,
)
from neo4j_graphrag_python_spark.plans.pipeline import (
    run_kg_pipeline,
    run_similarity_resolution,
    triples_view,
)
from neo4j_graphrag_python_spark.schema import demo_schema
from neo4j_graphrag_python_spark.streaming.stream import (
    read_transcript_stream,
    stream_kg_pipeline,
)
from neo4j_graphrag_python_spark.types import PipelineConfig, SplitterConfig

from perfbench import inputs as inp

#: the demo splitter: every planted sentence lies whole inside one chunk,
#: so chunked extraction must reproduce the per-turn oracle exactly
CONFIG = PipelineConfig(splitter=SplitterConfig(600, 200, approximate=True))
FUZZY_THRESHOLD = 0.9
STREAM_FUZZY_THRESHOLD = 0.8
#: the parameters of __spark_entry__.q_dedup_minhash_pairs
MINHASH = dict(
    num_hashes=96, bands=32, shingle_k=5, jaccard_threshold=0.4, est_margin=0.15
)
_PKG = "neo4j_graphrag_python_spark"


@dataclass
class Outcome:
    build_s: float
    rows_in: int
    fingerprint: str
    errors: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)


def _fingerprint(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


#: run_kg_pipeline's stages, looked up in the pipeline module's namespace
_PIPELINE_LAYERS = {
    f"{_PKG}.plans.pipeline:assemble_documents": "assemble",
    f"{_PKG}.plans.pipeline:extract_from_documents": "extractor",
    f"{_PKG}.plans.pipeline:chunks_view": "extractor",
    f"{_PKG}.plans.pipeline:split_graph_rows": "extractor",
    f"{_PKG}.plans.pipeline:build_lexical_graph": "lexical",
    f"{_PKG}.plans.pipeline:prune_graph": "pruning",
    f"{_PKG}.plans.pipeline:resolve_exact": "resolver.exact",
}


def _no_span(name):
    return contextlib.nullcontext()


def _raise_on(outcome: Outcome) -> None:
    if outcome.errors:
        raise RuntimeError(f"warm-up output check failed: {outcome.errors}")


class Batch:
    """Every batch entry point once per operation, on one seeded dataset:

    1. ``run_kg_pipeline`` over a transcripts table holding the standard
       generator's conversations (much text, 35 entities mentioned
       thousands of times) and short conversations over a ~1k-name
       inventory with planted near-duplicates (little text, many distinct
       entities), until the canonical triples are collected;
    2. ``run_similarity_resolution`` (fuzzy) on that graph, until the
       resolved entities are collected;
    3. ``minhash_dedup_pairs`` over seeded documents, until the pairs are
       collected.
    """

    name = "batch"
    #: every operation reads the same input, so outputs must repeat
    repeats_output = True
    traced = {
        **_PIPELINE_LAYERS,
        f"{_PKG}.operators.resolver:candidate_pairs_lsh": "resolver.fuzzy.block",
        f"{_PKG}.operators.resolver:prefilter_fuzzy_pairs": "resolver.fuzzy.prefilter",
        f"{_PKG}.operators.resolver:score_pairs_fuzzy": "resolver.fuzzy.score",
        f"{_PKG}.operators.resolver:connected_components": "resolver.fuzzy.components",
        f"{_PKG}.operators.resolver:apply_merge_mapping": "resolver.fuzzy.merge",
        f"{_PKG}.operators.dedup:minhash_signatures": "dedup.signatures",
        f"{_PKG}.operators.dedup:minhash_lsh_pairs": "dedup.candidates",
    }

    def __init__(self, inputs: inp.Inputs, run_dir: Path):
        self.kg_path, self.expected = inputs.kg_table(
            inp.KG_TRANSCRIPTS_SF, inp.KG_ENTITY_NAMES, inp.KG_MENTIONS
        )
        self.docs_path = inputs.documents(inp.DEDUP_SF)
        docs = pq.read_table(self.docs_path, columns=["doc_id", "text"]).to_pydict()
        self.texts = dict(zip(docs["doc_id"], docs["text"]))
        self.clusters = [
            (label, name, c)
            for label, name, c in inp.mention_names(inp.KG_ENTITY_NAMES, inputs.seed)
            if c >= 0
        ]
        self.rows = pq.read_metadata(
            Path(self.kg_path) / "transcripts.parquet"
        ).num_rows + pq.read_metadata(Path(self.kg_path) / "entities.parquet").num_rows
        self.fuzzy_fp = self.pairs_fp = None

    def run(self, spark, tracer=None):
        span = tracer.span if tracer else _no_span
        t0 = time.perf_counter()
        df = spark.read.parquet(self.kg_path)
        with span("plans.pipeline"):
            r = run_kg_pipeline(df, regex_extractor(demo_rules()), demo_schema(), CONFIG)
        view = tracer.wrap("pipeline.triples_view", triples_view) if tracer else triples_view
        triples = {tuple(x) for x in view(r.nodes, r.edges).collect()}
        t1 = time.perf_counter()
        with span("resolver.fuzzy"):
            f = run_similarity_resolution(
                r, method="fuzzy", similarity_threshold=FUZZY_THRESHOLD
            )
            ents = [
                (x["label"], x["name"])
                for x in f.nodes.where(F.col("is_entity"))
                .select("label", F.col("properties").getItem("name").alias("name"))
                .collect()
            ]
        t2 = time.perf_counter()
        # the outer span's self time is what minhash_dedup_pairs does
        # beyond its two traced calls: the est filter and exact rescore
        with span("dedup.verify") as s:
            docs = spark.read.parquet(self.docs_path)
            pairs = minhash_dedup_pairs(docs, **MINHASH).collect()
            if s is not None:
                s.rows_out = len(pairs)
        t3 = time.perf_counter()
        pairs = [(p["id_a"], p["id_b"], p["jaccard"]) for p in pairs]
        return {
            "build_s": t1 - t0,
            "fuzzy_s": t2 - t1,
            "dedup_s": t3 - t2,
            "triples": triples,
            "entities": ents,
            "pairs": pairs,
        }

    def warm(self, spark) -> None:
        """One untimed pass of the operation itself: a pass on a smaller
        input leaves the JIT far from the state the measured input needs
        (the next passes on the real input kept speeding up)."""
        _raise_on(self.check(spark, self.run(spark)))

    def exhausted(self) -> bool:
        return False

    def check(self, spark, raw) -> Outcome:
        triples, ents, pairs = raw["triples"], raw["entities"], raw["pairs"]
        errors = []
        if triples != self.expected:
            errors.append(
                f"canonical triples differ from the oracle: "
                f"{len(triples - self.expected)} extra, "
                f"{len(self.expected - triples)} missing"
            )
        fuzzy_fp = _fingerprint(ents)
        self.fuzzy_fp = self.fuzzy_fp or fuzzy_fp
        if fuzzy_fp != self.fuzzy_fp:
            errors.append("fuzzy-resolved entity set changed between operations")
        k, thr = MINHASH["shingle_k"], MINHASH["jaccard_threshold"]
        for a, b, j in pairs:
            exact = _jaccard(self.texts[a], self.texts[b], k)
            if exact < thr or abs(exact - j) > 1e-9:
                errors.append(f"pair ({a}, {b}): reported {j}, exact {exact}")
        pairs_fp = _fingerprint((a, b) for a, b, _ in pairs)
        self.pairs_fp = self.pairs_fp or pairs_fp
        if pairs_fp != self.pairs_fp:
            errors.append("near-duplicate pair set changed between operations")
        if not pairs:
            errors.append("no near-duplicate pairs found")
        return Outcome(
            raw["build_s"],
            self.rows,
            _fingerprint(triples) + fuzzy_fp + pairs_fp,
            errors,
            {
                "fuzzy_s": raw["fuzzy_s"],
                "dedup_s": raw["dedup_s"],
                "triples": len(triples),
                "entities": len(ents),
                "planted_recall": self.planted_recall(ents),
                "pairs": len(pairs),
            },
        )

    def planted_recall(self, ents) -> float:
        """Share of planted near-duplicate name pairs (same datagen cluster
        and label) that fuzzy resolution merged, i.e. pairs of which at
        most one name survives as an entity."""
        alive = set(ents)
        by_cluster: dict[int, list] = {}
        for label, name, c in self.clusters:
            by_cluster.setdefault(c, []).append((label, name))
        pairs = merged = 0
        for members in by_cluster.values():
            for i, a in enumerate(members):
                for b in members[i + 1 :]:
                    pairs += 1
                    merged += not (a in alive and b in alive)
        return merged / pairs if pairs else 1.0


def _jaccard(a: str, b: str, k: int) -> float:
    """Exact character k-shingle Jaccard of lower-cased texts (a text
    shorter than k is its own single shingle)."""

    def shingles(t: str) -> set:
        t = (t or "").lower()
        return {t[i : i + k] for i in range(len(t) - k + 1)} if len(t) >= k else {t}

    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


class Stream:
    """``stream_kg_pipeline`` with cross-batch resolution into catalog
    tables (``catalog_merge_incremental``, fuzzy adoption on).  One
    operation is one scheduled ``availableNow`` run over the files that
    arrived since the previous run: exactly one micro-batch."""

    name = "stream"
    repeats_output = False
    traced = {
        **_PIPELINE_LAYERS,
        f"{_PKG}.streaming.stream:run_kg_pipeline": "stream.pipeline",
        f"{_PKG}.streaming.incremental:resolve_batch_incremental": "streaming.incremental",
    }

    def __init__(self, inputs: inp.Inputs, run_dir: Path):
        self.files = inputs.stream_files(
            inp.KG_TRANSCRIPTS_SF, inp.KG_ENTITY_NAMES, inp.KG_MENTIONS, inp.STREAM_FILES
        )
        self.src = run_dir / "stream_src"
        self.ckpt = run_dir / "stream_ckpt"
        self.next_file = 0
        self.expected: set = set()

    def run(self, spark, tracer=None):
        """Deliver the next files and run the query until they are
        committed."""
        self.src.mkdir(parents=True, exist_ok=True)
        batch = self.files[
            self.next_file : self.next_file + inp.STREAM_FILES_PER_TRIGGER
        ]
        self.next_file += len(batch)
        for path, triples, _ in batch:
            shutil.copy(path, self.src / path.name)
            self.expected |= triples
        q = stream_kg_pipeline(
            read_transcript_stream(
                spark, str(self.src), max_files_per_trigger=inp.STREAM_FILES_PER_TRIGGER
            ),
            regex_extractor(demo_rules()),
            output_dir="kg",
            checkpoint_dir=str(self.ckpt),
            schema=demo_schema(),
            config=CONFIG,
            trigger_once=True,
            sink="catalog_merge_incremental",
            incremental_fuzzy_threshold=STREAM_FUZZY_THRESHOLD,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream query failed: {q.exception()}")
        return q, sum(n for _, _, n in batch)

    def warm(self, spark) -> None:
        """One untimed trigger: it creates the catalog tables, so every
        measured trigger MERGEs into them and runs fuzzy adoption against
        a non-empty canonical map."""
        _raise_on(self.check(spark, self.run(spark)))

    def exhausted(self) -> bool:
        return self.next_file >= len(self.files)

    def check(self, spark, raw) -> Outcome:
        q, rows = raw
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        errors = []
        # numInputRows counts every re-scan of the batch, so only the
        # batch count is checked here; the tables are checked in full below
        if len(progress) != 1:
            errors.append(f"expected one micro-batch, got {len(progress)}")
        batch_s = sum(p["durationMs"]["addBatch"] for p in progress) / 1e3
        stored = self.check_tables(spark, errors)
        return Outcome(
            batch_s,
            rows,
            _fingerprint(stored),
            errors,
            {"expected_triples": len(self.expected)},
        )

    def check_tables(self, spark, errors: list) -> set:
        """Every expected triple, its names mapped through ``kg_canon``
        (aliases included), gives exactly the stored entity-edge set."""
        # the stream thread rewrote the tables: drop cached file listings
        for t in ("kg_canon", "kg_edges"):
            spark.catalog.refreshTable(t)
        canon = {
            (r["label"], r["key"]): r["canonical_id"]
            for r in spark.read.table("kg_canon").collect()
        }
        stored = {
            (r["start_node_id"], r["type"], r["end_node_id"])
            for r in spark.read.table("kg_edges")
            .where(F.col("type").isin(list(tr.PATTERNS)))
            .select("start_node_id", "type", "end_node_id")
            .collect()
        }
        want, unmapped = set(), 0
        for s, p, o in self.expected:
            _, sl, ol = tr.PATTERNS[p]
            cs, co = canon.get((sl, s)), canon.get((ol, o))
            unmapped += cs is None or co is None
            want.add((cs, p, co))
        if unmapped:
            errors.append(f"{unmapped} expected triples have no canonical row")
        if want != stored:
            errors.append(
                f"stored entity edges differ: {len(stored - want)} extra, "
                f"{len(want - stored)} missing"
            )
        return stored


WORKLOADS = {w.name: w for w in (Batch, Stream)}
