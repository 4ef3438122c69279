"""Seeded input generator for the memory benchmark.

Everything the program under test sees is written here as parquet (plus a
JSON sidecar of queries and planted ground truth that only the benchmark
reads). The same (seed, profile) always yields the same bytes: every random
draw comes from one ``numpy.random.Generator`` seeded with the seed and the
profile name, and parquet files are written by pyarrow with fixed options.

Corpus shape (the ``memories`` schema of ``automem_spark/sources/tables.py``
plus ``embedding`` and ``updated_at_epoch``):

- content words follow a Zipf law over a synthetic vocabulary, so queries
  share their head terms with many memories; every memory also carries
  three words of its topic cluster and two rare words;
- 128-d float32 embeddings are clustered: a topic centroid plus noise;
- a few percent of memories are near-duplicates of another memory (one
  word changed), recorded as planted pairs;
- edges carry supersession chains (``INVALIDATED_BY``, ``EVOLVED_INTO``),
  intra-cluster ``RELATES_TO`` links and a few hubs with many links;
- each query has a planted gold memory: the query text holds two of the
  gold's rare words plus one head word, and the query vector is the gold's
  embedding plus noise.
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Default seed for measurements and a held-out seed for confirming claims
# made on the default one (see membench/README.md).
DEFAULT_SEED = 1
HELDOUT_SEED = 20261016

DIM = 128
N_CLUSTERS = 64
VOCAB_SIZE = 6000
ZIPF_S = 1.1
NEAR_DUP_SHARE = 0.03
INGEST_BATCH = 500  # the reference's /memory/batch limit

MEMORY_TYPES = ["Decision", "Pattern", "Preference", "Style", "Habit", "Insight", "Context"]
PROJECTS = ["alpha", "beta", "gamma", "delta", "omega"]
TOOLS = ["spark", "duckdb", "flink"]
LANGS = ["en", "de", "fr", "es"]
SOURCES = ["chat", "code", "docs", "email", "notes"]
PEOPLE = ["Alice Johnson", "Carol Danvers", "Bruno Keller", "Dana Whitfield", "Ezra Moreau"]
TOOL_PHRASES = ["Using Spark for the batch layer.", "Compared Postgres vs MySQL tradeoffs."]

# 2025-06-01 00:00:00 UTC; the program's fixed "now" is 2026-06-01.
EPOCH_START = 1748736000
YEAR_S = 365 * 86400

_CONSONANTS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"
_STOP = {"before"}


@dataclass(frozen=True)
class Profile:
    """Sizes of one workload's inputs."""

    n_memories: int
    n_queries: int
    n_ingest_batches: int = 0


PROFILES = {
    "serve": Profile(20_000, 400),
    "maintain": Profile(20_000, 400, n_ingest_batches=2),
}


def _rng(seed: int, profile: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(profile.encode())])


def _vocabulary(rng: np.random.Generator) -> list[str]:
    """VOCAB_SIZE distinct three-syllable words; no word contains another
    (all have six letters), so substring matching equals word matching."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_SIZE:
        c = rng.integers(0, len(_CONSONANTS), size=3)
        v = rng.integers(0, len(_VOWELS), size=3)
        w = "".join(_CONSONANTS[a] + _VOWELS[b] for a, b in zip(c, v))
        if w not in seen and w not in _STOP:
            seen.add(w)
            words.append(w)
    return words


def _zipf_indices(rng: np.random.Generator, n_items: int, size) -> np.ndarray:
    ranks = np.arange(1, n_items + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    return rng.choice(n_items, size=size, p=p)


class _Corpus:
    """Column arrays for a block of memories with ids [start, start + n)."""

    def __init__(self, rng, vocab, centroids, topic_words, start, n, ts_lo, ts_hi):
        self.ids = np.arange(start, start + n, dtype=np.int64)
        self.cluster = rng.integers(0, N_CLUSTERS, size=n)
        head = _zipf_indices(rng, VOCAB_SIZE // 2, (n, 9))
        topic = topic_words[self.cluster[:, None], rng.integers(0, topic_words.shape[1], size=(n, 3))]
        # rare words live in the upper half of the vocabulary, drawn uniformly
        rare = rng.integers(VOCAB_SIZE // 2, VOCAB_SIZE, size=(n, 2))
        self.rare = rare
        word_idx = np.concatenate([head, topic, rare], axis=1)
        perm = np.argsort(rng.random(word_idx.shape), axis=1)
        word_idx = np.take_along_axis(word_idx, perm, axis=1)
        person = rng.integers(0, len(PEOPLE) * 4, size=n)
        tool = rng.integers(0, len(TOOL_PHRASES) * 6, size=n)
        contents, tags = [], []
        for i in range(n):
            words = " ".join(vocab[j] for j in word_idx[i])
            t = [f"project:{PROJECTS[self.cluster[i] % len(PROJECTS)]}", f"topic:t{self.cluster[i]:02d}"]
            parts = [words + "."]
            if person[i] < len(PEOPLE):
                name = PEOPLE[person[i]]
                parts.append(f"Met with {name} to review the plan.")
                t.append("entity:people:" + name.lower().replace(" ", "-"))
            if tool[i] < len(TOOL_PHRASES):
                parts.append(TOOL_PHRASES[tool[i]])
            contents.append(" ".join(parts))
            tags.append(t)
        self.content = contents
        self.tags = tags
        self.importance = np.round(rng.random(n), 3)
        self.confidence = np.round(rng.random(n), 3)
        self.ts = rng.integers(ts_lo, ts_hi, size=n)
        types = rng.integers(0, len(MEMORY_TYPES), size=n)
        self.type = [MEMORY_TYPES[t] for t in types]
        meta_pattern = rng.random(n) < 0.02
        for i in np.flatnonzero(meta_pattern):
            self.type[i] = "MetaPattern"
        self.archived = rng.random(n) < 0.02
        u = rng.random(n)
        self.t_valid = np.where(u < 0.01, EPOCH_START + YEAR_S + 30 * 86400, -1)
        self.t_invalid = np.where((u >= 0.01) & (u < 0.02), EPOCH_START + YEAR_S - 30 * 86400, -1)
        self.lang = [LANGS[x] for x in rng.integers(0, len(LANGS), size=n)]
        self.source = [SOURCES[x] for x in rng.integers(0, len(SOURCES), size=n)]
        self.tool = [TOOLS[x] for x in rng.integers(0, len(TOOLS), size=n)]
        self.model = [f"model-{x}" for x in rng.integers(0, 4, size=n)]
        noise = rng.standard_normal((n, DIM)) * (0.6 / np.sqrt(DIM))
        emb = centroids[self.cluster] + noise
        self.embedding = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
        self.updated = self.ts.copy()

    def active(self) -> np.ndarray:
        """Rows every recall path may return (not archived, not an internal
        type, currently valid)."""
        mp = np.array([t == "MetaPattern" for t in self.type])
        return ~self.archived & ~mp & (self.t_valid < 0) & (self.t_invalid < 0)

    def table(self) -> pa.Table:
        n = len(self.ids)
        project = [PROJECTS[c % len(PROJECTS)] for c in self.cluster]
        repo = [f"repo-{x}" for x in self.lang]
        meta = [
            json.dumps(
                {"source": self.source[i], "repo": repo[i], "project": project[i],
                 "tool": self.tool[i], "model": self.model[i]}
            )
            for i in range(n)
        ]

        def ts(a):
            return pa.array(np.where(a < 0, 0, a) * 1_000_000, pa.timestamp("us", tz="UTC"),
                            mask=a < 0)

        return pa.table(
            {
                "id": pa.array(self.ids, pa.int64()),
                "content": pa.array(self.content, pa.string()),
                "tags": pa.array(self.tags, pa.list_(pa.string())),
                "importance": pa.array(self.importance, pa.float64()),
                "confidence": pa.array(self.confidence, pa.float64()),
                "timestamp": ts(self.ts),
                "type": pa.array(self.type, pa.string()),
                "archived": pa.array(self.archived, pa.bool_()),
                "t_valid": ts(self.t_valid),
                "t_invalid": ts(self.t_invalid),
                "lang": pa.array(self.lang, pa.string()),
                "source": pa.array(self.source, pa.string()),
                "n_chars": pa.array([len(c) for c in self.content], pa.int64()),
                "repo": pa.array(repo, pa.string()),
                "project": pa.array(project, pa.string()),
                "tool": pa.array(self.tool, pa.string()),
                "model": pa.array(self.model, pa.string()),
                "metadata": pa.array(meta, pa.string()),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(self.embedding.reshape(-1), pa.float32()), DIM
                ).cast(pa.list_(pa.float32())),
                "updated_at_epoch": pa.array(self.updated, pa.int64()),
            }
        )


def _plant_near_dups(rng, corpus: _Corpus, vocab) -> list[tuple[int, int]]:
    """Turn NEAR_DUP_SHARE of the rows into copies of another row with one
    word replaced; returns (dup_id, original_id) pairs."""
    n = len(corpus.ids)
    k = int(n * NEAR_DUP_SHARE)
    picks = rng.choice(n, size=2 * k, replace=False)
    pairs = []
    for dup, orig in zip(picks[:k], picks[k:]):
        words = corpus.content[orig].split(" ")
        pos = int(rng.integers(0, min(len(words), 14)))
        words[pos] = vocab[int(rng.integers(0, VOCAB_SIZE))]
        corpus.content[dup] = " ".join(words)
        corpus.tags[dup] = list(corpus.tags[orig])
        corpus.cluster[dup] = corpus.cluster[orig]
        corpus.rare[dup] = corpus.rare[orig]
        jitter = rng.standard_normal(DIM).astype(np.float32) * 0.01
        e = corpus.embedding[orig] + jitter
        corpus.embedding[dup] = e / np.linalg.norm(e)
        pairs.append((int(corpus.ids[dup]), int(corpus.ids[orig])))
    return pairs


def _edges(rng, corpus: _Corpus) -> tuple[pa.Table, dict]:
    n = len(corpus.ids)
    ids = corpus.ids
    src, dst, rel, strength, upd = [], [], [], [], []

    def add(s, d, r, st, u):
        src.append(int(s)); dst.append(int(d)); rel.append(r); strength.append(st); upd.append(int(u))

    # intra-cluster RELATES_TO links
    by_cluster = [np.flatnonzero(corpus.cluster == c) for c in range(N_CLUSTERS)]
    for i in range(n):
        peers = by_cluster[corpus.cluster[i]]
        j = peers[int(rng.integers(0, len(peers)))]
        if j != i:
            add(ids[i], ids[j], "RELATES_TO", round(float(rng.random()), 3), corpus.ts[i])
    # hubs: a few memories linked from many
    hubs = rng.choice(n, size=20, replace=False)
    for h in hubs:
        for j in rng.choice(n, size=int(rng.integers(50, 200)), replace=False):
            if j != h:
                add(ids[j], ids[h], "RELATES_TO", round(float(rng.random()), 3), corpus.ts[j])
    # supersession chains: a -> b -> c ... newest version last
    heads: dict[int, int] = {}
    chain_starts = rng.choice(n, size=max(1, n // 100), replace=False)
    used = set()
    for s in chain_starts:
        length = int(rng.integers(1, 5))
        members = [int(s)] + [int(x) for x in rng.choice(n, size=length, replace=False)]
        if any(m in used for m in members) or len(set(members)) != len(members):
            continue
        used.update(members)
        rtype = "INVALIDATED_BY" if rng.random() < 0.7 else "EVOLVED_INTO"
        for k, (a, b) in enumerate(zip(members, members[1:])):
            add(ids[a], ids[b], rtype, None, EPOCH_START + YEAR_S - 86400 * (length - k))
        for m in members[:-1]:
            heads[int(ids[m])] = int(ids[members[-1]])
    none = [None] * len(src)
    table = pa.table(
        {
            "src": pa.array(src, pa.int64()),
            "dst": pa.array(dst, pa.int64()),
            "rel_type": pa.array(rel, pa.string()),
            "strength": pa.array(strength, pa.float64()),
            "score": pa.array(none, pa.float64()),
            "confidence": pa.array(none, pa.float64()),
            "similarity": pa.array(none, pa.float64()),
            "cnt": pa.array(none, pa.int64()),
            "kind": pa.array(none, pa.string()),
            "origin": pa.array(none, pa.string()),
            "updated_at_epoch": pa.array(upd, pa.int64()),
        }
    )
    return table, {"hubs": [int(ids[h]) for h in hubs], "chain_heads": heads}


def _partners(pairs) -> set[int]:
    return {a for a, _ in pairs} | {b for _, b in pairs}


def _queries(rng, corpus: _Corpus, vocab, n_queries: int, prefix: str, exclude: set) -> list[dict]:
    """Queries with a planted gold memory each: an active memory outside
    `exclude` (near-duplicate partners and superseded memories, for which
    the gold would be ambiguous)."""
    ok = np.array([int(i) not in exclude for i in corpus.ids])
    eligible = np.flatnonzero(corpus.active() & ok)
    golds = rng.choice(eligible, size=n_queries, replace=False)
    head = _zipf_indices(rng, 200, n_queries)
    out = []
    for qi, g in enumerate(golds):
        text = f"{vocab[corpus.rare[g][0]]} {vocab[corpus.rare[g][1]]} {vocab[head[qi]]}"
        v = corpus.embedding[g].astype(np.float64) + rng.standard_normal(DIM) * (0.15 / np.sqrt(DIM))
        v /= np.linalg.norm(v)
        out.append(
            {
                "qid": f"{prefix}{qi:05d}",
                "text": text,
                "vector": [round(float(x), 6) for x in v],
                "gold": int(corpus.ids[g]),
                "gold_topic": f"topic:t{corpus.cluster[g]:02d}",
                "gold_ts": int(corpus.ts[g]),
            }
        )
    return out


def _write_parquet(table: pa.Table, path: str, n_files: int = 8) -> None:
    """A directory of n_files parquet parts, like a table Spark wrote."""
    os.makedirs(path, exist_ok=True)
    rows = table.num_rows
    bounds = np.linspace(0, rows, n_files + 1).astype(int)
    for k in range(n_files):
        part = table.slice(bounds[k], bounds[k + 1] - bounds[k])
        pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"),
                       compression="snappy", use_dictionary=True, write_statistics=True)


def generate(out_dir: str, seed: int, profile: str) -> dict:
    """Write the inputs of `profile` for `seed` under out_dir and return the
    manifest (also written as manifest.json). Skips the work when out_dir
    already holds a complete manifest for the same seed and profile."""
    man_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            man = json.load(f)
        if man.get("seed") == seed and man.get("profile") == profile:
            return man
    prof = PROFILES[profile]
    rng = _rng(seed, profile)
    vocab = _vocabulary(rng)
    centroids = rng.standard_normal((N_CLUSTERS, DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    topic_words = rng.integers(VOCAB_SIZE // 4, VOCAB_SIZE // 2, size=(N_CLUSTERS, 12))
    corpus = _Corpus(rng, vocab, centroids, topic_words, 0, prof.n_memories,
                     EPOCH_START, EPOCH_START + YEAR_S - 86400)
    near_dups = _plant_near_dups(rng, corpus, vocab)
    edges, graph = _edges(rng, corpus)
    queries = _queries(rng, corpus, vocab, prof.n_queries, "q",
                       _partners(near_dups) | set(graph["chain_heads"]))

    os.makedirs(out_dir, exist_ok=True)
    _write_parquet(corpus.table(), os.path.join(out_dir, "memories.parquet"))
    _write_parquet(edges, os.path.join(out_dir, "edges.parquet"), n_files=2)

    batches = []
    next_id = prof.n_memories
    for b in range(prof.n_ingest_batches):
        # new memories are the newest in the store; a slice of each batch
        # re-writes existing ids with a newer version (upserts)
        blk = _Corpus(rng, vocab, centroids, topic_words, next_id, INGEST_BATCH,
                      EPOCH_START + YEAR_S - 86400, EPOCH_START + YEAR_S)
        next_id += INGEST_BATCH
        n_upd = INGEST_BATCH // 20
        upd_ids = rng.choice(prof.n_memories, size=n_upd, replace=False).astype(np.int64)
        blk.ids[:n_upd] = upd_ids
        blk.archived[:] = False
        blk.t_valid[:] = -1
        blk.t_invalid[:] = -1
        blk.type = ["Insight" if t == "MetaPattern" else t for t in blk.type]
        blk.updated = np.full(INGEST_BATCH, EPOCH_START + YEAR_S + b + 1, dtype=np.int64)
        dups = _plant_near_dups(rng, blk, vocab)
        path = os.path.join(out_dir, f"ingest_{b:03d}.parquet")
        _write_parquet(blk.table(), path, n_files=1)
        probes = _queries(rng, blk, vocab, 4, f"b{b:03d}-", _partners(dups))
        batches.append({"path": os.path.basename(path), "epoch": int(blk.updated[0]),
                        "ids": [int(x) for x in blk.ids],
                        "updated_ids": [int(x) for x in upd_ids], "near_dups": dups,
                        "probes": probes})

    man = {
        "seed": seed,
        "profile": profile,
        "n_memories": prof.n_memories,
        "n_edges": edges.num_rows,
        "dim": DIM,
        "n_clusters": N_CLUSTERS,
        "queries": queries,
        "near_dups": near_dups,
        "hubs": graph["hubs"],
        "chain_heads": {str(k): v for k, v in graph["chain_heads"].items()},
        "ingest_batches": batches,
    }
    tmp = man_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(man, f)
    os.replace(tmp, man_path)
    return man
