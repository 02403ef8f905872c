"""Incremental cross-batch entity resolution (streaming/incremental.py):
min-wins merges, trigger-size convergence, replay idempotence, fuzzy
adoption against the stored canonical map."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_graphrag_python_spark.sources.catalog import merge_upsert
from neo4j_graphrag_python_spark.streaming.incremental import (
    resolve_batch_incremental,
)


@pytest.fixture()
def fresh_db(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS inctest")
    yield "inctest"
    spark.sql("DROP DATABASE inctest CASCADE")


NODE_COLS = ["id", "label", "is_entity", "properties", "conv_id", "chunk_uid"]
EDGE_COLS = [
    "start_node_id", "end_node_id", "type", "properties", "conv_id",
    "chunk_uid",
]


def _nodes(spark, rows):
    """rows: (id, label, is_entity, name, chunk_index, conv_id, chunk_uid)"""
    data = [
        (
            i,
            lab,
            ent,
            {"name": nm, "chunk_index": str(ci)} if nm is not None else {},
            cv,
            cu,
        )
        for i, lab, ent, nm, ci, cv, cu in rows
    ]
    return spark.createDataFrame(
        data,
        "id string, label string, is_entity boolean, "
        "properties map<string,string>, conv_id string, chunk_uid string",
    )


def _edges(spark, rows):
    """rows: (start, end, type, conv_id, chunk_uid)"""
    data = [(s, e, t, {}, cv, cu) for s, e, t, cv, cu in rows]
    return spark.createDataFrame(
        data,
        "start_node_id string, end_node_id string, type string, "
        "properties map<string,string>, conv_id string, chunk_uid string",
    )


def _table_rows(spark, table):
    return sorted(
        tuple(str(v) for v in r) for r in spark.read.table(table).collect()
    )


# ---------------------------------------------------------------------------
# merge_upsert precedence (min-wins) semantics
# ---------------------------------------------------------------------------


def test_merge_upsert_precedence_min_wins(spark, fresh_db):
    t = f"{fresh_db}.minwins"
    df = spark.createDataFrame(
        [(1, 5, "e", "v-5"), (2, 9, "x", "v-9")], ["id", "o1", "o2", "val"]
    )
    merge_upsert(spark, df, t, ("id",), precedence=("o1", "o2"))
    # lower precedence replaces; higher is ignored
    delta = spark.createDataFrame(
        [(1, 3, "z", "v-3"), (2, 9, "y", "v-9y"), (3, 1, "a", "new")],
        ["id", "o1", "o2", "val"],
    )
    merge_upsert(spark, delta, t, ("id",), precedence=("o1", "o2"))
    got = {r.id: (r.o1, r.o2, r.val) for r in spark.read.table(t).collect()}
    assert got == {
        1: (3, "z", "v-3"),  # 3 < 5: delta wins
        2: (9, "x", "v-9"),  # (9,"y") > (9,"x"): stored wins
        3: (1, "a", "new"),
    }
    # replay: strict < fails on equal rows → unchanged
    merge_upsert(spark, delta, t, ("id",), precedence=("o1", "o2"))
    assert {
        r.id: (r.o1, r.o2, r.val) for r in spark.read.table(t).collect()
    } == got


def test_merge_upsert_precedence_dedupes_delta_itself(spark, fresh_db):
    t = f"{fresh_db}.minwins2"
    delta = spark.createDataFrame(
        [(1, 7, "b"), (1, 2, "a"), (1, 9, "c")], ["id", "o1", "val"]
    )
    merge_upsert(spark, delta, t, ("id",), precedence=("o1",))
    rows = spark.read.table(t).collect()
    assert len(rows) == 1 and rows[0].val == "a"


# ---------------------------------------------------------------------------
# incremental resolution: convergence / idempotence / adoption
# ---------------------------------------------------------------------------

# mention set: "John Smith" appears in three conversations with different
# chunk orders and property bags; "Acme" in two; "Solo" once.  The global
# keep-first winner for John Smith is m2 (chunk_index 0, lowest id at tie).
MENTIONS = [
    # (id, label, is_entity, name, chunk_index, conv_id, chunk_uid)
    ("m1", "Person", True, "John Smith", 3, "c1", "u1"),
    ("m2", "Person", True, "John Smith", 0, "c2", "u2"),
    ("m3", "Person", True, "John Smith", 0, "c3", "u3"),  # ties m2, id m2<m3
    ("m4", "Org", True, "Acme", 1, "c1", "u1"),
    ("m5", "Org", True, "Acme", 0, "c3", "u3"),
    ("m6", "Person", True, "Solo", 2, "c2", "u2"),
    ("d1", "Document", False, None, 0, "c1", None),
    ("d2", "Document", False, None, 0, "c2", None),
    ("d3", "Document", False, None, 0, "c3", None),
]
EDGE_ROWS = [
    ("m1", "m4", "WORKS_AT", "c1", "u1"),
    ("m2", "m6", "KNOWS", "c2", "u2"),
    ("m3", "m5", "WORKS_AT", "c3", "u3"),
    ("m2", "d2", "FROM_DOCUMENT", "c2", "u2"),
]


def _run_batches(spark, target, split):
    """Feed MENTIONS/EDGE_ROWS through resolve_batch_incremental in
    ``split`` groups of conv_ids (simulating trigger sizes)."""
    for convs in split:
        nrows = [m for m in MENTIONS if m[5] in convs]
        erows = [e for e in EDGE_ROWS if e[3] in convs]
        resolve_batch_incremental(
            _nodes(spark, nrows), _edges(spark, erows), target
        )


def test_incremental_converges_across_batch_splits(spark, fresh_db):
    """The exact tier's min-wins design makes the final nodes/edges/canon
    tables IDENTICAL no matter how the feed splits into batches — the
    trigger-size convergence the round-5 verdict asked for."""
    t_one = f"{fresh_db}.kg_one"
    t_many = f"{fresh_db}.kg_many"
    t_rev = f"{fresh_db}.kg_rev"
    _run_batches(spark, t_one, [{"c1", "c2", "c3"}])
    _run_batches(spark, t_many, [{"c1"}, {"c2"}, {"c3"}])
    _run_batches(spark, t_rev, [{"c3"}, {"c2"}, {"c1"}])

    for suffix in ("_nodes", "_edges", "_canon"):
        one = _table_rows(spark, t_one + suffix)
        many = _table_rows(spark, t_many + suffix)
        rev = _table_rows(spark, t_rev + suffix)
        assert one == many == rev, suffix

    nodes = spark.read.table(f"{t_one}_nodes").collect()
    ents = [r for r in nodes if r.is_entity]
    # 3 canonical entities: John Smith, Acme, Solo — with content-hash ids
    assert len(ents) == 3
    assert {r.properties["name"] for r in ents} == {
        "John Smith", "Acme", "Solo"
    }
    # global keep-first property bag: John Smith's canonical carries m2's
    # chunk_index (0), not m1's (3), in every split order
    js = next(r for r in ents if r.properties["name"] == "John Smith")
    assert js.properties["chunk_index"] == "0" and js.conv_id == "c2"
    # edges re-pointed: both WORKS_AT rows collapse to one canonical pair
    edges = spark.read.table(f"{t_one}_edges").collect()
    wa = [e for e in edges if e.type == "WORKS_AT"]
    assert len(wa) == 1
    # min-(chunk_uid, conv_id) property bag wins for the merged edge
    assert (wa[0].chunk_uid, wa[0].conv_id) == ("u1", "c1")


def test_incremental_replay_is_idempotent(spark, fresh_db):
    t = f"{fresh_db}.kg_replay"
    _run_batches(spark, t, [{"c1", "c2"}, {"c3"}])
    before = {
        s: _table_rows(spark, t + s) for s in ("_nodes", "_edges", "_canon")
    }
    # replay every batch (redelivery after a restart)
    _run_batches(spark, t, [{"c1", "c2"}, {"c3"}])
    after = {
        s: _table_rows(spark, t + s) for s in ("_nodes", "_edges", "_canon")
    }
    assert before == after


def test_incremental_fuzzy_adoption_and_alias(spark, fresh_db):
    """A new NAME fuzzy-matching a stored canonical adopts it: no new
    canonical node, an alias row registers the variant for cheap exact
    hits later, and the variant's edges point at the stored canonical."""
    t = f"{fresh_db}.kg_fuzzy"
    b1_nodes = _nodes(
        spark, [("m1", "Person", True, "John Smith", 0, "c1", "u1")]
    )
    stats1 = resolve_batch_incremental(
        b1_nodes, _edges(spark, []), t, fuzzy_threshold=0.8
    )
    assert stats1["new_canonicals"] == 1

    b2_nodes = _nodes(
        spark,
        [
            ("m7", "Person", True, "Jon Smith", 0, "c9", "u9"),
            ("m8", "Org", True, "Zebra Corp", 0, "c9", "u9"),
        ],
    )
    b2_edges = _edges(spark, [("m7", "m8", "WORKS_AT", "c9", "u9")])
    stats2 = resolve_batch_incremental(
        b2_nodes, b2_edges, t, fuzzy_threshold=0.8
    )
    assert stats2["fuzzy_adopted"] == 1  # Jon Smith → John Smith
    assert stats2["new_canonicals"] == 1  # Zebra Corp

    nodes = spark.read.table(f"{t}_nodes").collect()
    names = sorted(r.properties["name"] for r in nodes if r.is_entity)
    assert names == ["John Smith", "Zebra Corp"]  # no Jon Smith node

    canon = spark.read.table(f"{t}_canon").collect()
    by_key = {(r.label, r.key): r.canonical_id for r in canon}
    assert by_key[("Person", "Jon Smith")] == by_key[("Person", "John Smith")]

    # the variant's edge points at the adopted canonical
    js_id = by_key[("Person", "John Smith")]
    edges = spark.read.table(f"{t}_edges").collect()
    assert len(edges) == 1 and edges[0].start_node_id == js_id

    # third batch: the alias now exact-matches (no fuzzy pass needed)
    b3_nodes = _nodes(
        spark, [("m9", "Person", True, "Jon Smith", 5, "c10", "u10")]
    )
    stats3 = resolve_batch_incremental(
        b3_nodes, _edges(spark, []), t, fuzzy_threshold=0.8
    )
    assert stats3["exact_adopted"] == 1 and stats3["new_canonicals"] == 0
    # alias sentinel ord can never steal the canonical property bag
    nodes = spark.read.table(f"{t}_nodes").collect()
    js = next(r for r in nodes if r.is_entity and r.properties["name"] == "John Smith")
    assert js.properties["chunk_index"] == "0"


def test_incremental_stream_trigger_sizes_converge(spark, fresh_db, tmp_path):
    """End-to-end through Structured Streaming: the same 4-file feed at
    maxFilesPerTrigger=1 and =16 converges to identical canonical
    node/edge/canon tables (the round-5 verdict's Done criterion)."""
    import pandas as pd

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
    from neo4j_graphrag_python_spark.types import (
        PipelineConfig,
        SplitterConfig,
    )

    whole = tmp_path / "all.parquet"
    tr.write_transcripts(whole, 0.0001)
    pdf = pd.read_parquet(whole)
    convs = sorted(pdf["conv_id"].unique())
    src = tmp_path / "stream_src"
    src.mkdir()
    for i in range(4):
        part = pdf[pdf["conv_id"].isin(convs[i::4])]
        part.to_parquet(src / f"f{i}.parquet", index=False)

    kw = dict(
        extractor_fn=regex_extractor(demo_rules()),
        schema=demo_schema(),
        config=PipelineConfig(splitter=SplitterConfig(600, 200)),
        trigger_once=True,
        sink="catalog_merge_incremental",
    )
    results = {}
    for tag, mft in (("small", 1), ("big", 16)):
        tgt = f"{fresh_db}.kg_{tag}"
        stream = read_transcript_stream(
            spark, str(src), max_files_per_trigger=mft
        )
        q = stream_kg_pipeline(
            stream,
            output_dir=tgt,
            checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
            **kw,
        )
        q.awaitTermination(300)
        results[tag] = {
            s: _table_rows(spark, tgt + s)
            for s in ("_nodes", "_edges", "_canon")
        }
    assert results["small"] == results["big"]
    assert len(results["small"]["_nodes"]) > 0


def test_incremental_subsumes_in_batch_exact_tier(spark, fresh_db, tmp_path):
    """The cross-batch tier subsumes the pipeline's in-batch exact tier
    (same (label, key) groups, same min-order winner, same min edge
    bag): a 3-batch feed gives identical tables and counters whether
    each batch was exact-resolved in-batch or not — why the incremental
    streaming sink skips the in-batch tier."""
    import pandas as pd

    from neo4j_graphrag_python_spark import transcripts as tr
    from neo4j_graphrag_python_spark.operators.extractor import (
        demo_rules,
        regex_extractor,
    )
    from neo4j_graphrag_python_spark.plans.pipeline import run_kg_pipeline
    from neo4j_graphrag_python_spark.schema import demo_schema
    from neo4j_graphrag_python_spark.types import (
        TRANSCRIPTS_SCHEMA,
        PipelineConfig,
        SplitterConfig,
    )

    whole = tmp_path / "all.parquet"
    tr.write_transcripts(whole, 0.0001)
    pdf = pd.read_parquet(whole)
    convs = sorted(pdf["conv_id"].unique())
    feed = []
    for i in range(3):
        path = tmp_path / f"b{i}.parquet"
        pdf[pdf["conv_id"].isin(convs[i::3])].to_parquet(path, index=False)
        feed.append(spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(str(path)))

    stats = {}
    for in_batch in (True, False):
        cfg = PipelineConfig(
            splitter=SplitterConfig(600, 200),
            perform_entity_resolution=in_batch,
        )
        stats[in_batch] = []
        for batch in feed:
            res = run_kg_pipeline(
                batch, regex_extractor(demo_rules()), demo_schema(), cfg
            )
            stats[in_batch].append(
                resolve_batch_incremental(
                    res.nodes, res.edges, f"{fresh_db}.kg_sub_{in_batch}",
                    fuzzy_threshold=0.8,
                )
            )
    assert stats[True] == stats[False]
    # later batches re-mention names the first one stored
    assert all(s["exact_adopted"] > 0 for s in stats[False][1:])
    for suffix in ("_nodes", "_edges", "_canon"):
        assert _table_rows(spark, f"{fresh_db}.kg_sub_True{suffix}") == (
            _table_rows(spark, f"{fresh_db}.kg_sub_False{suffix}")
        ), suffix


def _sf_feed(spark, tmp_path, n):
    """sf0.0001 transcripts split by conversation into ``n`` parquet files."""
    import pandas as pd

    from neo4j_graphrag_python_spark import transcripts as tr

    whole = tmp_path / "all.parquet"
    tr.write_transcripts(whole, 0.0001)
    pdf = pd.read_parquet(whole)
    convs = sorted(pdf["conv_id"].unique())
    src = tmp_path / "feed"
    src.mkdir()
    for i in range(n):
        part = pdf[pdf["conv_id"].isin(convs[i::n])]
        part.to_parquet(src / f"f{i}.parquet", index=False)
    return src


#: Spark jobs one incremental trigger submits on the local[4],
#: 4-shuffle-partition test session: ``run_kg_pipeline`` without the
#: in-batch exact tier, then ``resolve_batch_incremental`` with the fuzzy
#: tier, on a second sf0.0001 batch against an existing canonical map.
#: It reads 60 or 61 on identical runs (one asynchronous AQE job is
#: timing-dependent), so the budget is the higher reading.  Lower it in
#: the change that cuts jobs; raise it only with a CHANGES.md entry that
#: names the phase that needs more.
INCREMENTAL_JOB_BUDGET = 61


def test_incremental_trigger_job_count_within_budget(spark, fresh_db, tmp_path):
    """Job count is the load-proof cost signal of a stream trigger: wall
    time swings with host load, but the jobs depend only on the plan."""
    from neo4j_graphrag_python_spark.operators.extractor import (
        demo_rules,
        regex_extractor,
    )
    from neo4j_graphrag_python_spark.plans.pipeline import run_kg_pipeline
    from neo4j_graphrag_python_spark.schema import demo_schema
    from neo4j_graphrag_python_spark.types import (
        TRANSCRIPTS_SCHEMA,
        PipelineConfig,
        SplitterConfig,
    )

    src = _sf_feed(spark, tmp_path, 2)
    cfg = PipelineConfig(
        splitter=SplitterConfig(600, 200), perform_entity_resolution=False
    )
    target = f"{fresh_db}.kg_jobs"

    def trigger(i):
        batch = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(
            str(src / f"f{i}.parquet")
        )
        res = run_kg_pipeline(
            batch, regex_extractor(demo_rules()), demo_schema(), cfg
        )
        resolve_batch_incremental(
            res.nodes, res.edges, target, fuzzy_threshold=0.8
        )

    trigger(0)
    spark.catalog.clearCache()
    sc = spark.sparkContext
    group = "incremental-job-budget"
    sc.setJobGroup(group, "run_kg_pipeline + resolve_batch_incremental")
    try:
        trigger(1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= INCREMENTAL_JOB_BUDGET, jobs


def test_incremental_stream_releases_batch_caches(spark, fresh_db, tmp_path):
    """Each micro-batch's persisted stage frames are unpersisted once the
    batch is merged: nothing stays in the cache manager across triggers."""
    from neo4j_graphrag_python_spark.operators.extractor import (
        demo_rules,
        regex_extractor,
    )
    from neo4j_graphrag_python_spark.schema import demo_schema
    from neo4j_graphrag_python_spark.streaming.stream import (
        read_transcript_stream,
        stream_kg_pipeline,
    )
    from neo4j_graphrag_python_spark.types import (
        PipelineConfig,
        SplitterConfig,
    )

    src = _sf_feed(spark, tmp_path, 3)
    spark.catalog.clearCache()
    q = stream_kg_pipeline(
        read_transcript_stream(spark, str(src), max_files_per_trigger=1),
        extractor_fn=regex_extractor(demo_rules()),
        output_dir=f"{fresh_db}.kg_cache",
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=demo_schema(),
        config=PipelineConfig(splitter=SplitterConfig(600, 200)),
        trigger_once=True,
        sink="catalog_merge_incremental",
        incremental_fuzzy_threshold=0.8,
    )
    q.awaitTermination(300)
    assert q.lastProgress["batchId"] == 2  # three triggers ran
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_incremental_stream_failed_batch_releases_caches(
    spark, fresh_db, tmp_path, monkeypatch
):
    """A batch whose merge raises still unpersists its stage frames: a
    supervisor that restarts the failed query in the same session must
    not inherit them."""
    from pyspark.errors import StreamingQueryException

    from neo4j_graphrag_python_spark.operators.extractor import (
        demo_rules,
        regex_extractor,
    )
    from neo4j_graphrag_python_spark.schema import demo_schema
    from neo4j_graphrag_python_spark.streaming import incremental
    from neo4j_graphrag_python_spark.streaming.stream import (
        read_transcript_stream,
        stream_kg_pipeline,
    )
    from neo4j_graphrag_python_spark.types import (
        PipelineConfig,
        SplitterConfig,
    )

    def failing_merge(*args, **kwargs):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(incremental, "resolve_batch_incremental", failing_merge)
    src = _sf_feed(spark, tmp_path, 1)
    spark.catalog.clearCache()
    q = stream_kg_pipeline(
        read_transcript_stream(spark, str(src)),
        extractor_fn=regex_extractor(demo_rules()),
        output_dir=f"{fresh_db}.kg_failed",
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=demo_schema(),
        config=PipelineConfig(splitter=SplitterConfig(600, 200)),
        trigger_once=True,
        sink="catalog_merge_incremental",
    )
    with pytest.raises(StreamingQueryException, match="merge failed"):
        q.awaitTermination(300)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_stream_rejects_unknown_sink(spark, tmp_path):
    from neo4j_graphrag_python_spark.streaming.stream import stream_kg_pipeline

    with pytest.raises(ValueError, match="unknown sink"):
        stream_kg_pipeline(
            spark.range(1), lambda text: "", output_dir=str(tmp_path / "o"),
            checkpoint_dir=str(tmp_path / "c"), sink="catalog_merge_incremantal",
        )


def test_stream_rejects_fuzzy_threshold_without_incremental_sink(
    spark, tmp_path
):
    from neo4j_graphrag_python_spark.streaming.stream import stream_kg_pipeline

    with pytest.raises(ValueError, match="incremental_fuzzy_threshold"):
        stream_kg_pipeline(
            spark.range(1), lambda text: "", output_dir=str(tmp_path / "o"),
            checkpoint_dir=str(tmp_path / "c"), sink="parquet_append",
            incremental_fuzzy_threshold=0.8,
        )


def test_compact_canonicals_merges_and_is_idempotent(spark, fresh_db):
    """Two fuzzy-equivalent names that became SEPARATE canonicals (they
    arrived in different batches with fuzzy adoption off) consolidate in
    the offline compaction: one canonical node survives, edges re-point,
    the loser's keys become aliases, and a re-run is a no-op."""
    from neo4j_graphrag_python_spark.streaming.incremental import (
        compact_canonicals,
    )

    t = f"{fresh_db}.kg_compact"
    resolve_batch_incremental(
        _nodes(spark, [("m1", "Person", True, "John Smith", 0, "c1", "u1"),
                       ("m2", "Org", True, "Acme", 0, "c1", "u1")]),
        _edges(spark, [("m1", "m2", "WORKS_AT", "c1", "u1")]),
        t,
    )
    # batch 2 is self-contained (pipeline batches always are): its own
    # Acme mention m4 resolves to the stored Acme canonical
    resolve_batch_incremental(
        _nodes(spark, [("m3", "Person", True, "Jon Smith", 0, "c2", "u2"),
                       ("m4", "Org", True, "Acme", 5, "c2", "u2")]),
        _edges(spark, [("m3", "m4", "WORKS_AT", "c2", "u2")]),
        t,
    )
    canon0 = {(r.label, r.key): r.canonical_id
              for r in spark.read.table(f"{t}_canon").collect()}
    assert canon0[("Person", "John Smith")] != canon0[("Person", "Jon Smith")]

    stats = compact_canonicals(spark, t, similarity_threshold=0.8)
    assert stats["merged_canonicals"] == 1

    nodes = spark.read.table(f"{t}_nodes").collect()
    names = sorted(r.properties["name"] for r in nodes if r.is_entity)
    assert len([n for n in names if "Smith" in n]) == 1
    keeper = min(canon0[("Person", "John Smith")],
                 canon0[("Person", "Jon Smith")])
    canon1 = {(r.label, r.key): (r.canonical_id, r.is_alias)
              for r in spark.read.table(f"{t}_canon").collect()}
    assert canon1[("Person", "John Smith")][0] == keeper
    assert canon1[("Person", "Jon Smith")][0] == keeper
    # exactly one of the two Smith keys is the (non-alias) primary now
    assert sorted(
        canon1[k][1] for k in (("Person", "John Smith"), ("Person", "Jon Smith"))
    ) == [False, True]
    # both WORKS_AT edges collapsed onto the keeper
    edges = spark.read.table(f"{t}_edges").collect()
    wa = [e for e in edges if e.type == "WORKS_AT"]
    assert len(wa) == 1 and wa[0].start_node_id == keeper

    # idempotent: a second compaction merges nothing and changes nothing
    before = {s: _table_rows(spark, t + s)
              for s in ("_nodes", "_edges", "_canon")}
    assert compact_canonicals(spark, t)["merged_canonicals"] == 0
    after = {s: _table_rows(spark, t + s)
             for s in ("_nodes", "_edges", "_canon")}
    assert before == after

    # and a FUTURE mention of the merged-away name exact-adopts the keeper
    stats3 = resolve_batch_incremental(
        _nodes(spark, [("m9", "Person", True, "Jon Smith", 7, "c9", "u9")]),
        _edges(spark, []),
        t,
    )
    assert stats3["exact_adopted"] == 1 and stats3["new_canonicals"] == 0


def test_compact_canonicals_consolidates_planted_clusters(spark, fresh_db):
    """Names with planted near-duplicate clusters, loaded with fuzzy
    adoption off (every spelling its own canonical), compact to one
    canonical per matched component: each keeps its min canonical id,
    every planted pair scoring ≥ 0.8 shares one, edges land on surviving
    nodes, and a re-run merges nothing."""
    from collections import defaultdict

    from neo4j_graphrag_python_spark.datagen import entity_names
    from neo4j_graphrag_python_spark.functions.fuzz import similarity
    from neo4j_graphrag_python_spark.streaming.incremental import (
        compact_canonicals,
    )

    t = f"{fresh_db}.kg_compact_many"
    rows = entity_names(300, cluster_fraction=0.3)
    resolve_batch_incremental(
        _nodes(spark, [(f"m{i}", lab, True, nm, 0, "c", "u")
                       for i, lab, nm, _ in rows]),
        _edges(spark, [(f"m{i}", f"m{i - 1}", "NEAR", "c", "u")
                       for i in range(1, len(rows))]),
        t,
    )

    def canon():
        return {(r.label, r.key): r.canonical_id
                for r in spark.read.table(f"{t}_canon").collect()}

    canon0 = canon()
    stats = compact_canonicals(spark, t, similarity_threshold=0.8)
    canon1 = canon()
    members = defaultdict(set)
    for k, cid in canon1.items():
        members[cid].add(canon0[k])
    assert all(cid == min(old) for cid, old in members.items())
    assert stats["merged_canonicals"] == len(canon0) - len(members) > 5
    assert any(len(old) > 2 for old in members.values())

    clusters = defaultdict(list)
    for _, lab, nm, c in rows:
        if c >= 0:
            clusters[c].append((lab, nm))
    planted = [(a, b) for mem in clusters.values() for i, a in enumerate(mem)
               for b in mem[i + 1:] if similarity(a[1], b[1]) >= 0.8]
    assert planted and all(canon1[a] == canon1[b] for a, b in planted)

    ids = {r.id for r in spark.read.table(f"{t}_nodes").collect()}
    assert set(members) <= ids
    assert all({e.start_node_id, e.end_node_id} <= ids
               for e in spark.read.table(f"{t}_edges").collect())
    assert compact_canonicals(spark, t)["merged_canonicals"] == 0


def test_fuzzy_feature_cache_equivalent_and_covers_aliases(spark, fresh_db):
    """The cached feature table equals staging the final canonical map
    in one go: one row per stored key (alias spellings included — they
    are fuzzy targets too), with the features a fresh staging
    computes."""
    from neo4j_graphrag_python_spark.operators.resolver import (
        stage_lsh_features,
    )
    from neo4j_graphrag_python_spark.streaming.incremental import (
        _stored_key_texts,
    )

    t = f"{fresh_db}.kg_cache"
    batches = [
        [("m1", "Person", True, "John Smith", 0, "c1", "u1")],
        [("m2", "Person", True, "Jon Smith", 0, "c2", "u2")],   # fuzzy alias
        [("m3", "Person", True, "Jonny Smith", 0, "c3", "u3")], # matches either
    ]
    for rows in batches:
        resolve_batch_incremental(
            _nodes(spark, rows), _edges(spark, []), t, fuzzy_threshold=0.8
        )
    canon = spark.read.table(f"{t}_canon")
    fresh = stage_lsh_features(_stored_key_texts(canon))
    feats = spark.read.table(f"{t}_canon_feats").select(*fresh.columns)

    def rows(df):
        return sorted(tuple(str(v) for v in r) for r in df.collect())

    assert rows(feats) == rows(fresh)
    # all three spellings resolved to ONE canonical
    assert canon.select("canonical_id").distinct().count() == 1


def test_fuzzy_feature_cache_self_heals_gap(spark, fresh_db):
    """Keys registered while fuzzy (and hence the cache) was OFF are
    staged on the next fuzzy batch via the anti-join self-heal — the
    stored name is still found as a fuzzy target."""
    t = f"{fresh_db}.kg_heal"
    resolve_batch_incremental(
        _nodes(spark, [("m1", "Person", True, "John Smith", 0, "c1", "u1")]),
        _edges(spark, []),
        t,  # fuzzy off: no feature cache written
    )
    assert not spark.catalog.tableExists(f"{t}_canon_feats")
    stats = resolve_batch_incremental(
        _nodes(spark, [("m2", "Person", True, "Jon Smith", 0, "c2", "u2")]),
        _edges(spark, []),
        t,
        fuzzy_threshold=0.8,
    )
    assert stats["fuzzy_adopted"] == 1
    feats = spark.read.table(f"{t}_canon_feats").collect()
    assert {r.text for r in feats} == {"John Smith", "Jon Smith"}


def test_compaction_rebuilds_feature_cache(spark, fresh_db):
    """After compaction re-points keys, the feature table's embedded
    canonical ids are rebuilt — a later fuzzy match of a merged-away
    spelling adopts the KEEPER."""
    from neo4j_graphrag_python_spark.streaming.incremental import (
        compact_canonicals,
    )

    t = f"{fresh_db}.kg_feat_compact"
    # two separate canonicals (fuzzy on, but nothing stored to match on
    # batch 1, and batch 2's name misses 0.95)
    resolve_batch_incremental(
        _nodes(spark, [("m1", "Person", True, "John Smith", 0, "c1", "u1")]),
        _edges(spark, []), t, fuzzy_threshold=0.95,
    )
    resolve_batch_incremental(
        _nodes(spark, [("m2", "Person", True, "Jon Smith", 0, "c2", "u2")]),
        _edges(spark, []), t, fuzzy_threshold=0.95,
    )
    canon0 = {r.key: r.canonical_id
              for r in spark.read.table(f"{t}_canon").collect()}
    assert canon0["John Smith"] != canon0["Jon Smith"]
    assert compact_canonicals(spark, t)["merged_canonicals"] == 1
    keeper = min(canon0.values())
    feats = spark.read.table(f"{t}_canon_feats").collect()
    assert all(r.id.split("\x00")[0] == f"s:{keeper}" for r in feats)
    # a close variant now fuzzy-adopts the keeper through the rebuilt cache
    stats = resolve_batch_incremental(
        _nodes(spark, [("m3", "Person", True, "John  Smith", 0, "c3", "u3")]),
        _edges(spark, []), t, fuzzy_threshold=0.9,
    )
    assert stats["fuzzy_adopted"] == 1
    canon1 = {r.key: r.canonical_id
              for r in spark.read.table(f"{t}_canon").collect()}
    assert canon1["John  Smith"] == keeper
