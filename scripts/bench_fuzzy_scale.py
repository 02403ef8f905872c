"""Bench fuzzy entity resolution at high cardinality: 10⁵ entity names
(datagen.entity_names, planted near-dup clusters) through the
LSH-blocked library path — candidate_pairs_lsh → score_candidate_pairs
(prefilter, scorer repartition, WRatio, threshold) →
connected_components — vs the reference's all-pairs
semantics (resolver.py:179-313, O(n²) at exactly this n: 5·10⁹ WRatio
calls, infeasible).  Recall is measured two ways:

* planted recall — of the planted cluster pairs whose offline WRatio
  clears the threshold (computed exactly; cluster pairs only, cheap);
* sampled all-pairs recall — a deterministic id-sample's full all-pairs
  WRatio truth (the reference oracle at sample scale) vs the pipeline's
  recovered matches restricted to the sample.

Usage: python scripts/bench_fuzzy_scale.py [n] [sample_n] [jaccard_distance] [tables]
  (defaults 100000 1200 0.8 12)

BENCH_FUZZY_COUNTS=1 adds the candidate counts before/after the
prefilter, computed after the timed section.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from neo4j_graphrag_python_spark.datagen import entity_names  # noqa: E402
from neo4j_graphrag_python_spark.functions.fuzz import similarity  # noqa: E402
from neo4j_graphrag_python_spark.operators.resolver import (  # noqa: E402
    candidate_pairs_lsh,
    connected_components,
    prefilter_fuzzy_pairs,
    score_candidate_pairs,
)
from neo4j_graphrag_python_spark.session import build_spark  # noqa: E402

THRESHOLD = 0.8


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    sample_n = int(sys.argv[2]) if len(sys.argv) > 2 else 1_200
    jaccard_distance = float(sys.argv[3]) if len(sys.argv) > 3 else 0.8
    tables = int(sys.argv[4]) if len(sys.argv) > 4 else 12
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_spark(
        "bench-fuzzy", master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows = entity_names(n)
    texts = spark.createDataFrame(
        [(i, lab, nm) for i, lab, nm, _ in rows], ["id", "label", "text"]
    ).localCheckpoint()

    t0 = time.time()
    cands = candidate_pairs_lsh(
        texts, num_hash_tables=tables, jaccard_distance=jaccard_distance
    )
    matches = (
        score_candidate_pairs(cands, texts, "fuzzy", THRESHOLD)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    n_matches = matches.count()
    comp = connected_components(matches)
    n_comp = comp.select("canonical_id").distinct().count()
    wall = round(time.time() - t0, 2)
    n_cands = n_kept = None
    if os.environ.get("BENCH_FUZZY_COUNTS", "0") == "1":
        # diagnostic pruning counts, untimed: re-runs the blocking
        cands = cands.localCheckpoint()
        n_cands = cands.count()
        n_kept = prefilter_fuzzy_pairs(cands, texts, THRESHOLD).count()
    got = {(r["id_a"], r["id_b"]) for r in matches.collect()}

    # planted truth: cluster pairs whose exact WRatio clears threshold
    by_cluster = defaultdict(list)
    by_id = {}
    for i, lab, nm, c in rows:
        by_id[i] = (lab, nm)
        if c >= 0:
            by_cluster[c].append((i, nm))
    planted_truth = set()
    for mem in by_cluster.values():
        for ai, (a, na) in enumerate(mem):
            for b, nb in mem[ai + 1 :]:
                if similarity(na, nb) >= THRESHOLD:
                    planted_truth.add((min(a, b), max(a, b)))
    planted_recall = (
        len(planted_truth & got) / len(planted_truth) if planted_truth else 1.0
    )

    # sampled all-pairs oracle (reference semantics at sample scale):
    # deterministic stride sample, same-label all-pairs WRatio
    stride = max(1, n // sample_n)
    sample_ids = [i for i, _, _, _ in rows][::stride][:sample_n]
    sset = set(sample_ids)
    t1 = time.time()
    oracle_truth = set()
    for ai, a in enumerate(sample_ids):
        la, na = by_id[a]
        for b in sample_ids[ai + 1 :]:
            lb, nb = by_id[b]
            if la == lb and similarity(na, nb) >= THRESHOLD:
                oracle_truth.add((min(a, b), max(a, b)))
    oracle_wall = round(time.time() - t1, 2)
    got_in_sample = {
        (a, b) for (a, b) in got if a in sset and b in sset
    }
    sampled_recall = (
        len(oracle_truth & got_in_sample) / len(oracle_truth)
        if oracle_truth
        else 1.0
    )
    false_pos = len(got_in_sample - oracle_truth)

    print(
        json.dumps(
            {
                "entities": n,
                "jaccard_distance": jaccard_distance,
                "num_hash_tables": tables,
                "threshold": THRESHOLD,
                "wall_s": wall,
                "candidates": n_cands,
                "candidates_after_prefilter": n_kept,
                "matches": n_matches,
                "components": n_comp,
                "planted_truth_pairs": len(planted_truth),
                "planted_recall": round(planted_recall, 4),
                "sample_n": len(sample_ids),
                "sampled_truth_pairs": len(oracle_truth),
                "sampled_recall": round(sampled_recall, 4),
                "sampled_false_positives": false_pos,
                "sampled_oracle_wall_s": oracle_wall,
                "loadavg_1m": round(os.getloadavg()[0], 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
