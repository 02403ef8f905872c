"""Catalog-table graph materialization (the Iceberg-shaped write path,
exercised against the session catalog with parquet — same V2 API)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_graphrag_python_spark.sources.catalog import (
    catalog_supports_merge,
    materialize_graph,
    merge_upsert,
    write_catalog_table,
)


@pytest.fixture()
def fresh_db(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS kgtest")
    yield "kgtest"
    spark.sql("DROP DATABASE kgtest CASCADE")


def _nodes(spark, ids):
    return spark.createDataFrame(
        [(i, "Person", f"name-{i}") for i in ids], ["id", "label", "name"]
    )


def _edges(spark, trips):
    return spark.createDataFrame(trips, ["start_node_id", "type", "end_node_id"])


def test_create_append_roundtrip(spark, fresh_db):
    t = f"{fresh_db}.nodes_a"
    write_catalog_table(_nodes(spark, range(5)), t)
    assert spark.read.table(t).count() == 5
    write_catalog_table(_nodes(spark, range(5, 8)), t, mode="append")
    assert spark.read.table(t).count() == 8
    # create_or_replace resets
    write_catalog_table(_nodes(spark, [99]), t)
    assert [r.id for r in spark.read.table(t).collect()] == [99]


def test_partitioned_create(spark, fresh_db):
    t = f"{fresh_db}.nodes_p"
    write_catalog_table(
        _nodes(spark, range(6)).withColumn("shard", F.col("id") % 2),
        t,
        partition_by=("shard",),
    )
    assert spark.read.table(t).count() == 6
    # partition pruning: shard filter must prune files in the scan
    plan = (
        spark.read.table(t).where(F.col("shard") == 0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan or "shard" in plan


def test_merge_upsert_fallback_semantics(spark, fresh_db):
    t = f"{fresh_db}.nodes_m"
    assert not catalog_supports_merge(spark, t)  # stock session here
    write_catalog_table(_nodes(spark, range(4)), t)
    delta = spark.createDataFrame(
        [(2, "Person", "RENAMED"), (10, "Org", "new-10")],
        ["id", "label", "name"],
    )
    merge_upsert(spark, delta, t, ("id",))
    got = {r.id: r.name for r in spark.read.table(t).collect()}
    assert got == {0: "name-0", 1: "name-1", 2: "RENAMED", 3: "name-3",
                   10: "new-10"}
    # idempotent: re-applying the same delta changes nothing
    merge_upsert(spark, delta, t, ("id",))
    assert {r.id: r.name for r in spark.read.table(t).collect()} == got


def test_materialize_graph_and_incremental_merge(spark, fresh_db):
    tgt = f"{fresh_db}.kg"
    res = materialize_graph(
        _nodes(spark, range(3)),
        _edges(spark, [(0, "KNOWS", 1), (1, "KNOWS", 2)]),
        tgt,
    )
    assert res["node_count"] == 3 and res["edge_count"] == 2
    # a delta batch: one updated node, one new node, one duplicate edge
    # (same identity => replaced, not doubled) and one new edge
    res2 = materialize_graph(
        _nodes(spark, [2, 3]),
        _edges(spark, [(1, "KNOWS", 2), (2, "KNOWS", 3)]),
        tgt,
        mode="merge",
    )
    assert res2["node_count"] == 4
    assert res2["edge_count"] == 3  # (0,1), (1,2) replaced, (2,3) added


def test_merge_requires_keys(spark, fresh_db):
    with pytest.raises(ValueError):
        merge_upsert(spark, _nodes(spark, [1]), f"{fresh_db}.x", ())


def test_streaming_catalog_merge_idempotent(spark, fresh_db, tmp_path):
    """Incremental KG maintenance: a replayed/re-delivered conversation
    must REPLACE its rows in the catalog tables, not duplicate them."""
    from neo4j_graphrag_python_spark import transcripts as tr
    from neo4j_graphrag_python_spark.operators.extractor import (
        demo_rules,
        regex_extractor,
    )
    from neo4j_graphrag_python_spark.schema import demo_schema
    from neo4j_graphrag_python_spark.streaming.stream import (
        read_transcript_stream,
        stream_kg_pipeline,
    )
    from neo4j_graphrag_python_spark.types import PipelineConfig, SplitterConfig

    src = tmp_path / "stream_src"
    src.mkdir()
    tr.write_transcripts(src / "batch1.parquet", 0.0001)
    tgt = f"{fresh_db}.stream_kg"
    kw = dict(
        extractor_fn=regex_extractor(demo_rules()),
        output_dir=tgt,
        schema=demo_schema(),
        config=PipelineConfig(splitter=SplitterConfig(600, 200)),
        trigger_once=True,
        sink="catalog_merge_incremental",
    )

    stream = read_transcript_stream(spark, str(src))
    q = stream_kg_pipeline(stream, checkpoint_dir=str(tmp_path / "c1"), **kw)
    q.awaitTermination(180)
    n1 = spark.read.table(f"{tgt}_nodes").count()
    e1 = spark.read.table(f"{tgt}_edges").count()
    assert n1 > 0 and e1 > 0

    # replay the SAME file through a fresh checkpoint (simulates redelivery)
    stream2 = read_transcript_stream(spark, str(src))
    q2 = stream_kg_pipeline(stream2, checkpoint_dir=str(tmp_path / "c2"), **kw)
    q2.awaitTermination(180)
    # V1-fallback replace is drop+create: this session's cached file
    # listing is stale after the clone session rewrote the table
    spark.catalog.refreshTable(f"{tgt}_nodes")
    spark.catalog.refreshTable(f"{tgt}_edges")
    assert spark.read.table(f"{tgt}_nodes").count() == n1
    assert spark.read.table(f"{tgt}_edges").count() == e1
    # node identity holds: ids unique
    nd = spark.read.table(f"{tgt}_nodes")
    assert nd.select("id").distinct().count() == n1


def test_merge_falls_back_when_table_is_v1_despite_extensions(
    spark, fresh_db, monkeypatch
):
    """The extension probe is session-wide: Iceberg/Delta extensions can
    be loaded while the TARGET table is a plain V1 parquet table, where
    MERGE INTO fails at analysis.  The AnalysisException must fall
    through to the read-antijoin fallback, not surface."""
    import neo4j_graphrag_python_spark.sources.catalog as cat

    t = f"{fresh_db}.nodes_v1merge"
    merge_upsert(spark, _nodes(spark, range(4)), t, ("id",))
    monkeypatch.setattr(cat, "catalog_supports_merge", lambda *a: True)
    delta = spark.createDataFrame(
        [(2, "Person", "renamed"), (9, "Person", "name-9")],
        ["id", "label", "name"],
    )
    merge_upsert(spark, delta, t, ("id",))
    got = {r.id: r.name for r in spark.read.table(t).collect()}
    assert got == {
        0: "name-0", 1: "name-1", 2: "renamed", 3: "name-3", 9: "name-9"
    }
