"""Output checks, independent of Spark: NumPy and plain-Python reference
computations the benchmark compares the program's outputs against. Every
function returns the number of mismatches it found (0 = correct), so the
caller can add them to the failed-operation count.
"""

from __future__ import annotations

import re

import numpy as np

SCORE_TOL = 1e-9


class CorpusModel:
    """Driver-side copy of the corpus columns the checks need."""

    def __init__(self, ids, emb, archived, mtype, ts, tags):
        self.ids = np.asarray(ids, dtype=np.int64)
        e = np.asarray(emb, dtype=np.float64)
        self.emb = e
        self.norm = np.linalg.norm(e, axis=1)
        self.archived = np.asarray(archived, dtype=bool)
        self.mtype = list(mtype)
        self.ts = np.asarray(ts, dtype=np.int64)
        self.tags = list(tags)
        self.pos = {int(i): k for k, i in enumerate(self.ids)}

    @classmethod
    def from_arrow(cls, table) -> "CorpusModel":
        emb = np.stack(table.column("embedding").to_numpy(zero_copy_only=False))
        ts = table.column("timestamp").cast("int64").to_numpy() // 1_000_000
        return cls(
            table.column("id").to_numpy(), emb, table.column("archived").to_numpy(zero_copy_only=False),
            table.column("type").to_pylist(), ts, table.column("tags").to_pylist(),
        )

    def upsert(self, other: "CorpusModel") -> "CorpusModel":
        """The corpus after `other`'s rows replace same-id rows (the new
        version always wins in the benchmark's inputs)."""
        keep = np.array([int(i) not in other.pos for i in self.ids])
        k = np.flatnonzero(keep)
        return CorpusModel(
            np.concatenate([self.ids[k], other.ids]),
            np.concatenate([self.emb[k], other.emb]),
            np.concatenate([self.archived[k], other.archived]),
            [self.mtype[i] for i in k] + other.mtype,
            np.concatenate([self.ts[k], other.ts]),
            [self.tags[i] for i in k] + other.tags,
        )

    def eligible(self, tags=None, start=None, end=None) -> np.ndarray:
        """recall.base_filter's pool: not archived, not an internal type,
        inside the time window, carrying a tag with one of the prefixes."""
        m = ~self.archived & np.array([t != "MetaPattern" for t in self.mtype])
        if start is not None:
            m &= self.ts >= start
        if end is not None:
            m &= self.ts <= end
        if tags:
            m &= np.array([any(x.lower().startswith(p) for x in tl for p in tags) for tl in self.tags])
        return m

    def cosine(self, qv, rows: np.ndarray | None = None) -> np.ndarray:
        q = np.asarray(qv, dtype=np.float64)
        e = self.emb if rows is None else self.emb[rows]
        n = self.norm if rows is None else self.norm[rows]
        denom = n * np.linalg.norm(q)
        sims = e @ q
        return np.where(denom == 0, 0.0, sims / np.where(denom == 0, 1.0, denom))


def cosine_topk(model: CorpusModel, qv, mask: np.ndarray, k: int) -> list[tuple[int, float]]:
    """Exact top-k by cosine over the masked rows; ties by id ascending."""
    rows = np.flatnonzero(mask)
    sims = model.cosine(qv, rows)
    order = np.lexsort((model.ids[rows], -sims))[:k]
    return [(int(model.ids[rows[i]]), float(sims[i])) for i in order]


def check_vector_rows(model, qv, mask, k, rows) -> int:
    """Every ('vector', id, score) row must carry the exact cosine of its
    memory and rank inside the exact top-k of the pool."""
    top = cosine_topk(model, qv, mask, k)
    if not top:
        return sum(1 for r in rows if r[0] == "vector")
    kth = top[-1][1]
    bad = 0
    for match_type, mid, score in rows:
        if match_type != "vector":
            continue
        p = model.pos.get(int(mid))
        if p is None or not mask[p]:
            bad += 1
            continue
        exact = float(model.cosine(qv, np.array([p]))[0])
        if abs(exact - score) > SCORE_TOL or exact < kth - SCORE_TOL:
            bad += 1
    return bad


def check_ranked(rows) -> int:
    """rows: (final_score, ...) in output order; the output must be sorted
    by final_score, descending."""
    return sum(1 for a, b in zip(rows, rows[1:]) if b[0] - a[0] > SCORE_TOL)


def check_topk_equal(got: list[tuple[int, float]], expected: list[tuple[int, float]]) -> int:
    """Same ids in the same order with the same scores; returns the number
    of positions that differ."""
    bad = abs(len(got) - len(expected))
    for (gi, gs), (ei, es) in zip(got, expected):
        if gi != ei or abs(gs - es) > SCORE_TOL:
            bad += 1
    return bad


def components(nodes, pairs) -> dict[int, int]:
    """Union-find: node -> smallest node id of its component."""
    parent = {int(n): int(n) for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def check_components(got: dict[int, int], nodes, pairs) -> int:
    """The program's labels must induce the same partition as union-find."""
    ref = components(nodes, pairs)
    if set(got) != set(ref):
        return len(set(got) ^ set(ref))
    bad = 0
    label_of: dict[int, int] = {}
    for n, root in ref.items():
        g = got[n]
        if label_of.setdefault(root, g) != g:
            bad += 1
    seen: dict[int, int] = {}
    for root, g in label_of.items():
        if seen.setdefault(g, root) != root:
            bad += 1
    return bad


def cosine_pairs(ids, emb, threshold: float) -> dict[tuple[int, int], float]:
    """Exact all pairs (a, b), a < b by id, with cosine >= threshold - SCORE_TOL
    (float64, 0.0 for a zero vector): pair -> cosine."""
    ids = np.asarray(ids, dtype=np.int64)
    e = np.asarray(emb, dtype=np.float64)
    n = np.linalg.norm(e, axis=1)
    denom = np.outer(n, n)
    sims = np.where(denom == 0, 0.0, (e @ e.T) / np.where(denom == 0, 1.0, denom))
    out = {}
    for a, b in zip(*np.nonzero(sims >= threshold - SCORE_TOL)):
        if ids[a] < ids[b]:
            out[(int(ids[a]), int(ids[b]))] = float(sims[a, b])
    return out


def check_cosine_pairs(got, ids, emb, threshold: float) -> int:
    """The program's (src, dst, sim) rows must be exactly the pairs with
    cosine >= threshold, each once with src < dst and its exact cosine.
    A pair within SCORE_TOL of the threshold may be reported or not."""
    ref = cosine_pairs(ids, emb, threshold)
    bad = 0
    seen = set()
    for src, dst, sim in got:
        key = (int(src), int(dst))
        exact = ref.get(key)
        if key in seen or exact is None or abs(exact - sim) > SCORE_TOL:
            bad += 1
        seen.add(key)
    bad += sum(1 for k, s in ref.items() if k not in seen and s >= threshold + SCORE_TOL)
    return bad


_NON_WORD = re.compile(r"[^A-Za-z0-9_\s]")
_SPACES = re.compile(r"\s+")


def shingles(text: str, n: int = 3) -> set[str]:
    """Word n-gram set, the same normalization as dedup.shingles_expr."""
    t = _SPACES.sub(" ", _NON_WORD.sub(" ", (text or "").lower())).strip()
    words = t.split(" ")
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    u = len(sa | sb)
    return len(sa & sb) / u if u else 0.0


def check_dedup_pairs(pairs, content_of, threshold: float) -> int:
    """Every reported (src, dst, jaccard) must have exact Jaccard >= the
    threshold and equal to the reported value."""
    bad = 0
    for src, dst, jac in pairs:
        exact = jaccard(content_of[int(src)], content_of[int(dst)])
        if exact < threshold - SCORE_TOL or abs(exact - jac) > SCORE_TOL:
            bad += 1
    return bad


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it, as
    (percentile, value, samples beyond). With 10 samples or fewer no
    percentile qualifies and the maximum is reported as p100, 0 beyond."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 100.0, 0.0, 0
    if n <= 10:
        return 100.0, xs[-1], 0
    rank = n - 11  # 10 samples lie above xs[rank]
    return 100.0 * (rank + 1) / n, xs[rank], n - rank - 1
