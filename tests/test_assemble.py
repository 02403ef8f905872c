"""Document assembly + the per-turn text equality invariant."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from neo4j_graphrag_python_spark.operators.assemble import (
    assemble_documents,
    explode_turn_lineage,
)
from neo4j_graphrag_python_spark.types import TRANSCRIPTS_SCHEMA


def make_transcripts(spark):
    rows = [
        # deliberately out of order — assembly must sort by turn_idx
        ("c1", 2, "user", "third turn", None, dt.datetime(2025, 1, 1, 0, 2)),
        ("c1", 0, "user", "first turn", None, dt.datetime(2025, 1, 1, 0, 0)),
        ("c1", 1, "assistant", "second turn", None, dt.datetime(2025, 1, 1, 0, 1)),
        ("c2", 0, "user", "", None, dt.datetime(2025, 1, 1, 0, 0)),
        ("c2", 1, "tool", '{"ok": true}', "search", dt.datetime(2025, 1, 1, 0, 1)),
        ("c3", 0, "user", "solo", None, dt.datetime(2025, 1, 1)),
    ]
    return spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)


def test_assemble_text_and_offsets(spark) -> None:
    docs = {
        r["conv_id"]: r
        for r in assemble_documents(make_transcripts(spark)).collect()
    }
    assert docs["c1"]["text"] == "first turn\nsecond turn\nthird turn"
    assert docs["c1"]["n_turns"] == 3
    offs = docs["c1"]["turn_offsets"]
    assert [o["turn_idx"] for o in offs] == [0, 1, 2]
    assert (offs[0]["char_start"], offs[0]["char_end"]) == (0, 10)
    assert (offs[1]["char_start"], offs[1]["char_end"]) == (11, 22)
    assert (offs[2]["char_start"], offs[2]["char_end"]) == (23, 33)
    # empty text keeps positional structure
    assert docs["c2"]["text"] == '\n{"ok": true}'
    assert docs["c3"]["text"] == "solo"


def test_per_turn_text_equality_invariant(spark) -> None:
    """North-rule invariant: reconstructing turns from offsets reproduces
    each turn text exactly under stable (conv_id, turn_idx) ordering."""
    transcripts = make_transcripts(spark)
    docs = assemble_documents(transcripts)
    recon = explode_turn_lineage(docs)
    joined = transcripts.alias("t").join(
        recon.alias("r"), ["conv_id", "turn_idx"], "full"
    )
    mismatches = joined.where(
        ~(
            F.coalesce(F.col("t.text"), F.lit(""))
            == F.coalesce(F.col("r.reconstructed_text"), F.lit("\x01"))
        )
    ).count()
    assert mismatches == 0


def test_skewed_conversation_end_to_end(spark) -> None:
    """Skew robustness: one conversation 200× longer than its peers must
    neither break the lineage invariant nor distort extraction — the
    assemble groupBy is per-conv bounded, and the extractor's salted
    chunk-hash repartition spreads the giant doc's chunks across tasks."""
    import datetime as dt

    from neo4j_graphrag_python_spark.operators.extractor import (
        demo_rules,
        extract_from_documents,
        extract_graph_rows,
        regex_extractor,
        split_graph_rows,
    )
    from neo4j_graphrag_python_spark.operators.splitter import split_fixed_size
    from neo4j_graphrag_python_spark.types import (
        TRANSCRIPTS_SCHEMA,
        SplitterConfig,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    for i in range(2000):  # the whale
        rows.append(("whale", i, "user", f"turn {i}. Alice works for Globex.", None, t0))
    for c in range(20):  # normal pods
        rows.append((f"c{c}", 0, "user", f"Bob knows Carol. msg {c}", None, t0))
    transcripts = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)

    docs = assemble_documents(transcripts)
    recon = explode_turn_lineage(docs)
    mismatches = (
        transcripts.alias("t")
        .join(recon.alias("r"), ["conv_id", "turn_idx"])
        .where(F.col("t.text") != F.col("r.reconstructed_text"))
        .count()
    )
    assert mismatches == 0

    # whale route above 256 chunk steps = 256 * (600 - 500) = 25,600 chars:
    # the ~70k-char whale takes it, the one-turn pods stay fused
    cfg = SplitterConfig(600, 500)
    graph_rows = extract_from_documents(
        docs,
        regex_extractor(demo_rules()),
        splitter_config=cfg,
        num_partitions=8,  # explicit → AQE won't coalesce the tiny shuffle
    )
    # the salted repartition must spread the whale's chunks, not pin them
    # to one partition
    import pyspark.sql.functions as SF

    parts = (
        graph_rows.where(SF.col("conv_id") == "whale")
        .select(SF.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert parts > 1
    nodes, edges = split_graph_rows(graph_rows)
    n_whale_mentions = nodes.where(SF.col("conv_id") == "whale").count()
    assert n_whale_mentions > 100  # extraction saw the whole whale

    # mixed routing (fused pods + whale route) must equal splitting and
    # extracting every document in separate stages, row-for-row
    all_staged = extract_graph_rows(
        split_fixed_size(docs, cfg), regex_extractor(demo_rules())
    )
    cols = [c for c in graph_rows.columns]
    a = {tuple(str(r[c]) for c in cols) for r in graph_rows.collect()}
    b = {tuple(str(r[c]) for c in cols) for r in all_staged.collect()}
    assert a == b
