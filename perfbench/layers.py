"""Per-layer metrics of a traced operation.

Every traced run prints every metric below, whatever its workload: a
layer the workload never calls reports 0 (no time, no jobs, no rows).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from perfbench.trace import StatusStore, Tracer, task_skew

#: span names, named after the package modules whose public calls they time
LAYERS = [
    "assemble",
    "extractor",
    "lexical",
    "pruning",
    "resolver.exact",
    "pipeline.triples_view",
    "resolver.fuzzy.block",
    "resolver.fuzzy.prefilter",
    "resolver.fuzzy.score",
    "resolver.fuzzy.components",
    "resolver.fuzzy.merge",
    "stream.pipeline",
    "streaming.incremental",
    "dedup.signatures",
    "dedup.candidates",
    "dedup.verify",
]
LAYER_METRICS = [
    ("wall_s", "s"),
    ("cpu_s", "CPU-s"),
    ("shuffle_mb", "MB"),
    ("tasks", "count"),
    ("jobs", "count"),
    ("rows_out", "rows"),
]
#: outer spans whose self time is the entry point's own glue (stage
#: checkpoints, staging, the final collect)
OUTER = ["plans.pipeline", "resolver.fuzzy"]
OUTER_METRICS = [("wall_s", "s"), ("cpu_s", "CPU-s"), ("jobs", "count")]
EXTRAS = [
    ("extractor.error_rows", "rows"),
    ("extractor.task_skew", "ratio"),
    ("pruning.kept_ratio", "ratio"),
    ("resolver.exact.merge_ratio", "ratio"),
    ("resolver.fuzzy.prefilter.kept_ratio", "ratio"),
    ("resolver.fuzzy.score.pairs_per_s", "pairs/s"),
    ("resolver.fuzzy.score.match_ratio", "ratio"),
    ("resolver.fuzzy.components.components", "count"),
    ("resolver.fuzzy.components.max_size", "count"),
    ("stream.batch_latency_s", "s"),
    ("streaming.incremental.batch_entity_keys", "count"),
    ("streaming.incremental.exact_adopted", "count"),
    ("streaming.incremental.fuzzy_adopted", "count"),
    ("streaming.incremental.new_canonicals", "count"),
    ("streaming.incremental.canon_rows", "rows"),
    ("dedup.verify.kept_ratio", "ratio"),
]
RUN_METRICS = [
    ("trace.op_s", "s"),
    ("trace.untraced_op_s", "s"),
    ("trace.overhead_s", "s"),
]


def catalog() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in print order."""
    out = [(f"{l}.{m}", u) for l in LAYERS for m, u in LAYER_METRICS]
    out += [(f"{l}.{m}", u) for l in OUTER for m, u in OUTER_METRICS]
    return out + EXTRAS + RUN_METRICS


def measure(spark, tracer: Tracer, outcome, fuzzy_threshold: float) -> dict:
    """Per-layer values of one traced operation.  Runs after the operation:
    the status-store read and the extra counts are outside every span."""
    names = {s.name for s in tracer.spans}
    extractor_groups = {
        s.group for s in tracer.spans if s.fn == "extract_from_documents"
    }
    counters = StatusStore(spark).by_group(
        {s.group for s in tracer.spans}, task_times=extractor_groups
    )
    vals = {name: 0.0 for name, _ in catalog()}
    for s in tracer.spans:
        c = counters[s.group]
        agg = {
            "wall_s": tracer.self_time(s),
            "cpu_s": c.cpu_s,
            "shuffle_mb": c.shuffle_mb,
            "tasks": c.tasks,
            "jobs": c.jobs,
            "rows_out": s.rows_out,
        }
        for m, v in agg.items():
            key = f"{s.name}.{m}"
            if key in vals:
                vals[key] += v

    def spans(fn):
        return [s for s in tracer.spans if s.fn == fn]

    for s in spans("extract_from_documents"):
        rows = s.frames[0]
        vals["extractor.error_rows"] += rows.where(F.col("status") != "ok").count()
        vals["extractor.task_skew"] = max(
            vals["extractor.task_skew"], task_skew(counters[s.group].task_ms)
        )
    for s in spans("prune_graph"):
        rows_in = sum(df.count() for df in s.args[:2])
        vals["pruning.kept_ratio"] = s.rows_out / rows_in if rows_in else 0.0
    for s in spans("resolve_exact"):
        st = s.result[2]
        if st.number_of_nodes_to_resolve:
            vals["resolver.exact.merge_ratio"] = (
                st.number_of_created_nodes / st.number_of_nodes_to_resolve
            )
    if "resolver.fuzzy.block" in names:
        blocked = vals["resolver.fuzzy.block.rows_out"]
        kept = vals["resolver.fuzzy.prefilter.rows_out"]
        vals["resolver.fuzzy.prefilter.kept_ratio"] = kept / blocked if blocked else 0.0
    for s in spans("score_pairs_fuzzy"):
        wall = tracer.self_time(s)
        vals["resolver.fuzzy.score.pairs_per_s"] = s.rows_out / wall if wall else 0.0
        matches = s.frames[0].where(F.col("similarity") >= fuzzy_threshold).count()
        vals["resolver.fuzzy.score.match_ratio"] = (
            matches / s.rows_out if s.rows_out else 0.0
        )
    for s in spans("connected_components"):
        sizes = s.frames[0].groupBy("canonical_id").count()
        row = sizes.agg(F.count("*").alias("n"), F.max("count").alias("m")).first()
        vals["resolver.fuzzy.components.components"] = row["n"]
        vals["resolver.fuzzy.components.max_size"] = row["m"] or 0
    for s in spans("resolve_batch_incremental"):
        for k, v in s.result.items():
            vals[f"streaming.incremental.{k}"] += v
        vals["streaming.incremental.canon_rows"] = spark.read.table(
            f"{s.args[2]}_canon"
        ).count()
    if "stream.pipeline" in names:
        vals["stream.batch_latency_s"] = outcome.build_s
    if "dedup.candidates" in names:
        cands = vals["dedup.candidates.rows_out"]
        vals["dedup.verify.kept_ratio"] = outcome.info["pairs"] / cands if cands else 0.0
    return vals
