"""Entity resolution goldens — reference
tests/unit/.../test_resolver.py:28-288 analogs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_graphrag_python_spark.functions.fuzz import default_process, similarity
from neo4j_graphrag_python_spark.operators.resolver import (
    connected_components,
    resolve_exact,
    resolve_similarity,
)
from neo4j_graphrag_python_spark.types import EDGES_SCHEMA, NODES_SCHEMA


def nodes_df(spark, rows):
    # rows: (id, label, name or None, chunk_index)
    data = []
    for i, label, name, ci in rows:
        props = {"chunk_index": str(ci)}
        if name is not None:
            props["name"] = name
        data.append((i, label, True, props, None, "c1", f"u{ci}"))
    return spark.createDataFrame(data, NODES_SCHEMA)


def edges_df(spark, rows):
    return spark.createDataFrame(
        [(s, e, t, {}, "c1", "u0") for s, e, t in rows], EDGES_SCHEMA
    )


def test_exact_match_merges_same_label_same_name(spark) -> None:
    nodes = nodes_df(
        spark,
        [
            ("a:0", "Person", "Alice", 0),
            ("b:0", "Person", "Alice", 1),
            ("c:0", "Person", "Bob", 0),
            ("d:0", "Organization", "Alice", 0),  # different label — no merge
            ("e:0", "Person", None, 0),  # null name — out of scope
        ],
    )
    edges = edges_df(
        spark,
        [
            ("b:0", "c:0", "KNOWS"),  # re-pointed to a:0
            ("a:0", "c:0", "KNOWS"),  # parallel after merge → deduped
        ],
    )
    new_nodes, new_edges, stats = resolve_exact(nodes, edges)
    ids = {r["id"] for r in new_nodes.collect()}
    assert ids == {"a:0", "c:0", "d:0", "e:0"}
    e = new_edges.collect()
    assert len(e) == 1
    assert (e[0]["start_node_id"], e[0]["end_node_id"]) == ("a:0", "c:0")
    assert stats.number_of_nodes_to_resolve == 4
    assert stats.number_of_created_nodes == 3


def test_exact_match_properties_first_wins(spark) -> None:
    data = [
        ("x:0", "Person", True, {"name": "Alice", "age": "30", "chunk_index": "1"},
         None, "c1", "u1"),
        ("y:0", "Person", True, {"name": "Alice", "age": "99", "city": "Oslo",
                                 "chunk_index": "0"}, None, "c1", "u0"),
    ]
    nodes = spark.createDataFrame(data, NODES_SCHEMA)
    edges = edges_df(spark, [])
    new_nodes, _, _ = resolve_exact(nodes, edges)
    rows = new_nodes.collect()
    assert len(rows) == 1
    # first node by chunk order is y:0 (chunk_index 0) — its bag wins whole
    assert rows[0]["id"] == "y:0"
    assert rows[0]["properties"]["age"] == "99"


def test_fuzzy_similarity_goldens() -> None:
    # reference test_resolver.py:233-240
    assert similarity("  ALICE  ", "alice!") == 1.0
    assert similarity("Alice", "Alice") == 1.0
    assert similarity("Alice", "Bob") < 0.8
    assert similarity("John Smith", "Jon Smith") >= 0.8
    assert default_process("  ALICE  ") == "alice"


def test_resolve_similarity_fuzzy(spark) -> None:
    nodes = nodes_df(
        spark,
        [
            ("a:0", "Person", "John Smith", 0),
            ("b:0", "Person", "Jon Smith", 1),
            ("c:0", "Person", "Completely Different", 0),
        ],
    )
    edges = edges_df(spark, [("b:0", "c:0", "KNOWS")])
    new_nodes, new_edges, stats = resolve_similarity(
        nodes, edges, method="fuzzy", similarity_threshold=0.8
    )
    ids = {r["id"] for r in new_nodes.collect()}
    assert ids == {"a:0", "c:0"}
    e = new_edges.collect()
    assert e[0]["start_node_id"] == "a:0"
    assert stats.number_of_nodes_to_resolve == 3
    assert stats.number_of_created_nodes == 2


def test_resolve_similarity_semantic_identical_texts(spark) -> None:
    nodes = nodes_df(
        spark,
        [
            ("a:0", "Person", "Alice", 0),
            ("b:0", "Person", "Alice", 1),
            ("c:0", "Person", "Bob", 0),
        ],
    )
    new_nodes, _, _ = resolve_similarity(
        nodes, edges_df(spark, []), method="semantic", similarity_threshold=0.95
    )
    assert {r["id"] for r in new_nodes.collect()} == {"a:0", "c:0"}


def test_lsh_blocking_is_label_aware(spark) -> None:
    """Cross-label homonyms must never become blocking candidates: grams
    are label-prefixed, so 'Washington' the Person and 'Washington' the
    Location have disjoint gram sets (true Jaccard 0) — zero cross-label
    rows out of the raw approxSimilarityJoin, while same-label near-dup
    results are unchanged (verdict item #4)."""
    from neo4j_graphrag_python_spark.operators.resolver import (
        _lsh_candidates_raw,
        _resolve_texts,
        candidate_pairs_lsh,
    )

    nodes = nodes_df(
        spark,
        [
            ("a:0", "Person", "Washington", 0),
            ("b:0", "Location", "Washington", 0),
            ("c:0", "Person", "Washingtan", 1),
            ("d:0", "Location", "Washington DC", 1),
        ],
    )
    texts = _resolve_texts(nodes, ["name"])
    raw = _lsh_candidates_raw(texts)
    cross = raw.where(
        F.col("datasetA.label") != F.col("datasetB.label")
    ).count()
    assert cross == 0
    pairs = {
        (r["id_a"], r["id_b"]) for r in candidate_pairs_lsh(texts).collect()
    }
    # same-label near-identicals still blocked together
    assert ("a:0", "c:0") in pairs
    assert ("b:0", "d:0") in pairs


def test_connected_components_transitive(spark) -> None:
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["id_a", "id_b"]
    )
    comp = {r["id"]: r["canonical_id"] for r in connected_components(pairs).collect()}
    assert comp["a"] == comp["b"] == comp["c"]
    assert comp["x"] == comp["y"]
    assert comp["a"] != comp["x"]


def test_carried_and_mapping_paths_equivalent(spark) -> None:
    """resolve_exact's carried-key fast path and the generic mention-
    mapping path must produce the same canonical graph on the same
    input (the fast path drops to the generic one when edges lack the
    carried columns)."""
    from neo4j_graphrag_python_spark import transcripts as tr
    from neo4j_graphrag_python_spark.operators.extractor import (
        demo_rules,
        extract_from_documents,
        regex_extractor,
        split_graph_rows,
    )
    from neo4j_graphrag_python_spark.operators.assemble import assemble_documents
    from neo4j_graphrag_python_spark.operators.resolver import resolve_exact
    from neo4j_graphrag_python_spark.types import SplitterConfig

    docs = assemble_documents(
        spark.read.parquet(tr.ensure_transcripts("/root/testdata/sf0.001"))
    )
    rows = extract_from_documents(
        docs, regex_extractor(demo_rules()), splitter_config=SplitterConfig(600, 200)
    ).persist()
    nodes, edges = split_graph_rows(rows)
    assert "start_name" in edges.columns

    fast_n, fast_e, fast_s = resolve_exact(nodes, edges)
    slow_n, slow_e, slow_s = resolve_exact(
        nodes, edges.drop("start_name", "end_name")
    )
    assert fast_s.number_of_nodes_to_resolve == slow_s.number_of_nodes_to_resolve
    assert fast_s.number_of_created_nodes == slow_s.number_of_created_nodes

    def node_set(df):
        return {
            (r["id"], r["label"], r["properties"].get("name"))
            for r in df.collect()
        }

    def edge_set(df):
        return {
            (r["start_node_id"], r["type"], r["end_node_id"],
             tuple(sorted(r["properties"].items())), r["chunk_uid"])
            for r in df.collect()
        }

    assert node_set(fast_n) == node_set(slow_n)
    assert edge_set(fast_e) == edge_set(slow_e)
    rows.unpersist()


def test_resolve_exact_empty_scope_stats_are_zero(spark) -> None:
    """Both resolution paths must report 0 (not NULL) on a corpus with no
    resolvable entities (review finding)."""
    from neo4j_graphrag_python_spark.operators.resolver import resolve_exact
    from neo4j_graphrag_python_spark.types import EDGES_SCHEMA, NODES_SCHEMA

    nodes = spark.createDataFrame(
        [("c1", "Chunk", False, {}, None, "c1", "u1")], NODES_SCHEMA
    )
    edges = spark.createDataFrame([], EDGES_SCHEMA)
    carried = edges.withColumn("start_name", F.lit(None).cast("string")) \
        .withColumn("end_name", F.lit(None).cast("string")) \
        .withColumn("start_label", F.lit(None).cast("string")) \
        .withColumn("end_label", F.lit(None).cast("string"))
    _, _, s_fast = resolve_exact(nodes, carried)
    _, _, s_slow = resolve_exact(nodes, edges)
    assert s_fast.number_of_nodes_to_resolve == 0
    assert s_slow.number_of_nodes_to_resolve == 0


def test_lsh_blocking_radius_covers_scorer_reach(spark) -> None:
    """The blocking defaults must recover (nearly) every pair the WRatio
    scorer would accept — measured against a sampled all-pairs oracle on
    a high-cardinality inventory, NOT against planted pairs only: the
    round-5 bench showed WRatio ≥ 0.8 pairs sitting at 3-gram Jaccard
    0.25-0.3, which the old (0.7, 8) radius silently excluded (sampled
    recall 0.62 at 100k names).  Guards the (0.8, 12) defaults."""
    from neo4j_graphrag_python_spark.datagen import entity_names
    from neo4j_graphrag_python_spark.functions.fuzz import similarity
    from neo4j_graphrag_python_spark.operators.resolver import (
        candidate_pairs_lsh,
        score_pairs_fuzzy,
    )

    rows = entity_names(4000)
    by_id = {i: (lab, nm) for i, lab, nm, _ in rows}
    texts = spark.createDataFrame(
        [(i, lab, nm) for i, lab, nm, _ in rows], ["id", "label", "text"]
    )
    matches = score_pairs_fuzzy(candidate_pairs_lsh(texts)).where(
        F.col("similarity") >= 0.8
    )
    got = {(r["id_a"], r["id_b"]) for r in matches.collect()}

    sample_ids = [i for i, _, _, _ in rows][::8][:500]
    truth = set()
    for ai, a in enumerate(sample_ids):
        la, na = by_id[a]
        for b in sample_ids[ai + 1 :]:
            lb, nb = by_id[b]
            if la == lb and similarity(na, nb) >= 0.8:
                truth.add((min(a, b), max(a, b)))
    assert truth, "sample should contain scorer-qualified pairs"
    in_sample = {p for p in got if p[0] in set(sample_ids) and p[1] in set(sample_ids)}
    recall = len(truth & in_sample) / len(truth)
    assert recall >= 0.9, f"blocking recall {recall:.3f} vs sampled oracle"
    assert not in_sample - truth  # rescore ⇒ no false positives


def _ub_replica(a: str, b: str) -> float:
    """Straight-line replica of prefilter_fuzzy_pairs' WRatio bound."""
    from collections import Counter

    pa, pb = default_process(a), default_process(b)
    la, lb = len(pa), len(pb)
    if la == 0 or lb == 0:
        return 0.0
    ca, cb = Counter(pa), Counter(pb)
    bagint = sum(min(ca[c], cb[c]) for c in ca)
    ls, ll = min(la, lb), max(la, lb)
    base = 2.0 * bagint / (la + lb)
    lr = ll / ls
    scale = 0.6 if lr >= 8 else (0.9 if lr >= 1.5 else 0.0)
    return max(base, scale * bagint / ls)


def test_prefilter_bound_dominates_wratio() -> None:
    """The prefilter's upper bound must dominate the scorer on ANY input
    (the zero-recall-loss claim) — randomized + adversarial corners."""
    import random as _r

    from neo4j_graphrag_python_spark.functions.fuzz import wratio

    rng = _r.Random(23)
    alpha = "ab c1-"
    cases = [
        ("John Smith", "Jon Smith"),
        ("q w e", "q w e x"),          # token-subset, lr < 1.5
        ("q w e r t", "q w e r t x x x x x x x x"),  # subset, lr >= 1.5
        ("ab", "ab" * 10),             # lr >= 8 branch
        ("", "x"), ("!!", "??"),       # empty-after-processing
    ]
    cases += [
        (
            "".join(rng.choice(alpha) for _ in range(rng.randint(0, 14))),
            "".join(rng.choice(alpha) for _ in range(rng.randint(0, 14))),
        )
        for _ in range(400)
    ]
    for a, b in cases:
        w = wratio(default_process(a), default_process(b))
        ub = _ub_replica(a, b)
        assert ub >= w - 1e-12, (a, b, w, ub)


def test_prefilter_spark_matches_replica_and_is_lossless(spark) -> None:
    """The Spark-side bound equals the replica per pair, and
    resolve_similarity's result equals an in-test reference that scores
    every blocked pair unfiltered, while the prefilter hands the Python
    scorer strictly fewer pairs."""
    from neo4j_graphrag_python_spark.operators.resolver import (
        _resolve_texts,
        apply_merge_mapping,
        candidate_pairs_lsh,
        prefilter_fuzzy_pairs,
        score_pairs_fuzzy,
    )

    rows = [
        ("a:0", "Person", "John Smith", 0),
        ("b:0", "Person", "Jon Smith", 1),
        ("c:0", "Person", "Smith John workshop", 0),
        ("d:0", "Person", "J S", 2),
        ("e:0", "Person", "Johnny Smithee", 3),
        ("f:0", "Person", "xxnothing aliketh", 1),
        ("g:0", "Person", "John Smith " + "padding " * 6, 4),
    ]
    nodes = nodes_df(spark, rows)
    texts = _resolve_texts(nodes, ["name"])
    pairs = candidate_pairs_lsh(texts)
    n_before = pairs.count()
    kept = prefilter_fuzzy_pairs(pairs, texts, 0.8)
    got = {(r["id_a"], r["id_b"]) for r in kept.collect()}
    names = {i: nm for i, _, nm, _ in rows}
    exp = {
        (r["id_a"], r["id_b"])
        for r in pairs.collect()
        if _ub_replica(names[r["id_a"]], names[r["id_b"]]) >= 0.8
    }
    assert got == exp
    assert len(got) < n_before  # it actually prunes something here

    # reference: unfiltered scorer → components → first-mention keeper
    matches = score_pairs_fuzzy(pairs).where(F.col("similarity") >= 0.8)
    comp = connected_components(matches.select("id_a", "id_b")).join(
        texts.select("id", "_ord"), "id"
    )
    keeper = comp.groupBy("canonical_id").agg(F.min_by("id", "_ord").alias("k"))
    mapping = comp.join(keeper, "canonical_id").select(
        "id", F.col("k").alias("canonical_id")
    )
    edges = edges_df(spark, [("b:0", "c:0", "KNOWS")])
    ref = apply_merge_mapping(nodes, edges, mapping)
    got = resolve_similarity(nodes, edges, method="fuzzy", similarity_threshold=0.8)
    for r, g in zip(ref, got):
        assert sorted(map(str, r.collect())) == sorted(map(str, g.collect()))
    assert ref[0].count() < nodes.count()  # the reference merges something


def test_unknown_similarity_method_raises_before_any_job(spark) -> None:
    """A misspelled method must not fall through to a scorer: the
    resolver rejects it before any Spark job runs."""
    from neo4j_graphrag_python_spark.plans.pipeline import (
        KGResult,
        run_similarity_resolution,
    )

    nodes, edges = nodes_df(spark, [("a:0", "Person", "Al", 0)]), edges_df(spark, [])
    sc = spark.sparkContext
    sc.setJobGroup("bad-method", "")
    try:
        with pytest.raises(ValueError, match="fuzy"):
            run_similarity_resolution(
                KGResult(nodes, edges, nodes, nodes, edges), method="fuzy"
            )
        assert sc.statusTracker().getJobIdsForGroup("bad-method") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
