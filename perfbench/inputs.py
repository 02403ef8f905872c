"""Seeded benchmark inputs, cached under the benchmark's work directory.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical files.  The cache key includes the seed, so a run with a
non-default seed never picks up another seed's file (the package's own
``ensure_*`` helpers cache by scale factor only).
"""

from __future__ import annotations

import datetime as dt
import random
import re
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from neo4j_graphrag_python_spark import datagen, transcripts as tr

#: batch: standard transcripts (few entities, much text) plus short
#: conversations over a high-cardinality name inventory, each name the
#: subject of KG_MENTIONS planted sentences
KG_TRANSCRIPTS_SF = 0.004
KG_ENTITY_NAMES = 1000
KG_MENTIONS = 3
#: batch: seeded word-salad documents with planted near-duplicates
DEDUP_SF = 0.02

#: stream: the batch table's conversations rewritten as files split by
#: conversation; each micro-batch reads STREAM_FILES_PER_TRIGGER files
STREAM_FILES = 16
STREAM_FILES_PER_TRIGGER = 2

_NAME_RE = re.compile(tr.NAME)
_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)
_FILLERS = [
    "let me check that against the account notes.",
    "thanks, noted for the follow-up.",
    "ok, i will update the record after the call.",
]


def mention_names(n: int, seed: int) -> list[tuple[str, str, int]]:
    """(label, name, cluster_id) from ``datagen.entity_names`` whose name
    the extractor can match in full; the rest (lower-cased, comma or
    doubled-space variants) could never be extracted verbatim."""
    return [
        (label, name, cluster)
        for _, label, name, cluster in datagen.entity_names(n, seed=seed)
        if _NAME_RE.fullmatch(name)
    ]


def entity_conversation_rows(
    n_names: int, mentions: int, seed: int
) -> list[tuple]:
    """Short conversations in the transcripts schema and sentence grammar
    in which every name is the subject of ``mentions`` planted sentences
    (objects drawn at random from the label the predicate expects).  One
    planted sentence per turn, always first, as in ``transcripts``."""
    names = mention_names(n_names, seed)
    by_label: dict[str, list[str]] = {}
    for label, name, _ in names:
        by_label.setdefault(label, []).append(name)
    rng = random.Random(seed * 31 + 5)
    sentences = []
    for label, name, _ in names:
        for _ in range(mentions):
            if label == "Person":
                if rng.random() < 0.5:
                    obj = rng.choice(by_label["Organization"])
                    sentences.append(f"{name} works for {obj}.")
                else:
                    obj = name
                    while obj == name:
                        obj = rng.choice(by_label["Person"])
                    sentences.append(f"{name} knows {obj}.")
            elif label == "Organization":
                obj = rng.choice(by_label["Location"])
                sentences.append(f"{name} is located in {obj}.")
            else:
                subj = rng.choice(by_label["Organization"])
                sentences.append(f"{subj} is located in {name}.")
    rng.shuffle(sentences)
    rows = []
    base_ts = dt.datetime(2025, 6, 1)
    conv, i = 0, 0
    while i < len(sentences):
        n_turns = rng.randint(3, 6)
        for ti in range(n_turns):
            text = sentences[i] if i < len(sentences) else ""
            i += 1
            if rng.random() < 0.5:
                text = f"{text} {rng.choice(_FILLERS)}".strip()
            rows.append(
                (
                    f"ent{conv:07d}",
                    ti,
                    tr.ROLES[ti % 2],
                    text,
                    None,
                    base_ts + dt.timedelta(minutes=ti, seconds=conv % 3600),
                )
            )
        conv += 1
    random.Random(seed + 1).shuffle(rows)
    return rows


def per_turn_triples(rows) -> set[tuple[str, str, str]]:
    """The per-turn regex oracle (``transcripts.expected_triples``'s rule)
    over explicit rows."""
    compiled = {p: re.compile(rx) for p, (rx, _, _) in tr.PATTERNS.items()}
    out = set()
    for row in rows:
        for pred, rx in compiled.items():
            for m in rx.finditer(row[3]):
                out.add((m.group(1), pred, m.group(2)))
    return out


def _write_rows(rows, path: Path) -> None:
    cols = list(zip(*rows))
    table = pa.table(
        [pa.array(c, f.type) for c, f in zip(cols, _SCHEMA)], schema=_SCHEMA
    )
    tmp = path.with_suffix(".tmp")
    pq.write_table(table, tmp, row_group_size=50_000)
    tmp.replace(path)


class Inputs:
    """Input cache rooted at ``<work>/inputs/seed<seed>``, one directory
    per generator and parameter set."""

    def __init__(self, work: Path, seed: int):
        self.seed = seed
        self.root = work / "inputs" / f"seed{seed}"

    def _dir(self, name: str) -> Path:
        d = self.root / name
        d.mkdir(parents=True, exist_ok=True)
        return d

    def kg_table(self, sf: float, n_names: int, mentions: int):
        """Directory of two parquet files (standard transcripts + entity
        conversations) and the expected canonical triples."""
        d = self._dir(f"kg-sf{sf:g}-names{n_names}-m{mentions}")
        ent_rows = entity_conversation_rows(n_names, mentions, self.seed)
        if not (d / "entities.parquet").exists():
            _write_rows(ent_rows, d / "entities.parquet")
        if not (d / "transcripts.parquet").exists():
            tr.write_transcripts(d / "transcripts.parquet", sf, self.seed)
        expected = tr.expected_triples(sf, self.seed) | per_turn_triples(ent_rows)
        return str(d), expected

    def stream_files(self, sf: float, n_names: int, mentions: int, n_files: int):
        """The ``kg_table`` rows as ``n_files`` parquet files split by
        conversation, each with its expected triples and row count (a
        conversation never spans files)."""
        d = self._dir(f"stream-sf{sf:g}-names{n_names}-m{mentions}-files{n_files}")
        rows = list(tr.generate_rows(sf, self.seed))
        rows += entity_conversation_rows(n_names, mentions, self.seed)
        turns: dict[str, int] = {}
        for r in rows:
            turns[r[0]] = turns.get(r[0], 0) + 1
        # largest conversation first into the smallest file: every file,
        # and so every micro-batch, holds about the same number of rows
        sizes = [0] * n_files
        part = {}
        for conv in sorted(turns, key=lambda c: (-turns[c], c)):
            i = min(range(n_files), key=lambda j: (sizes[j], j))
            part[conv] = i
            sizes[i] += turns[conv]
        buckets: list[list] = [[] for _ in range(n_files)]
        for r in rows:
            buckets[part[r[0]]].append(r)
        files = []
        for i, b in enumerate(buckets):
            path = d / f"part{i:03d}.parquet"
            if not path.exists():
                _write_rows(b, path)
            files.append((path, per_turn_triples(b), len(b)))
        return files

    def documents(self, sf: float) -> str:
        """``datagen`` documents for this seed (written through its own
        generator, rooted in this cache so the seed is part of the key)."""
        d = self._dir("docs")
        out = d / f"sf{sf:g}" / "documents.parquet"
        if not out.exists():
            saved = datagen.FIXTURE_ROOT
            datagen.FIXTURE_ROOT = d
            try:
                datagen.ensure_documents(sf, self.seed)
            finally:
                datagen.FIXTURE_ROOT = saved
        return str(out)
