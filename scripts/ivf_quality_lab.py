"""IVF ANN quality lab: the nprobe -> recall@10 / NDCG@10 tradeoff curve,
measured with the reference lab's own metrics and decision rule.

The reference chooses recall knobs by scorecard + paired noise band
(docs/RECALL_QUALITY_LAB.md:112-127, scripts/lab/lab_metrics.py); our IVF
tier had flag-equality and lower-bound property tests but no measured
quality curve — "what recall do I lose at nprobe=4?" was unanswered. This
lab answers it with the PRODUCTION components: `kmeans_centroids` fits the
real coarse quantizer, `assign_cells` (the vectorized-argmax kernel that
ships in the 100 TB path) assigns every corpus vector ONCE in Spark, and
`_probe_cells` picks each query's probe set — then the per-query curve is
pure NumPy over the collected (cell, embedding) table, because quality is
a property of (centroids, assignment, probe order), all of which came from
the shipped kernels. In-cell search is exact cosine in both.

Scorecard fields follow tests/ir_metrics.py's lab contract:
  - ndcg_10      vs the exact top-10 (binary relevance) — the lab metric
  - distractor_rate_10 = fraction of retrieved items NOT in the exact
    top-10 (for same-size sets this is 1 - recall@10)
  - complexity   = nprobe (the knob count / cost order)
  - latency_ms   = mean rows scanned per query (the 100 TB cost driver is
    scan volume, not wall ms on a 2k-vector fixture; documented proxy,
    used by pick_winner only as the final tie-break after complexity)
  - qualities    = per-query NDCG@10 series for the paired noise band

Two card sets (r9 verdict ask #4): the FIXTURE set measures the worst
case — the driver's placeholder embeddings are near-isotropic, recall
tracks scan fraction, and the lab correctly refuses pruning (that refusal
is why exact top-k ships as the quality tier). The CLUSTERED set measures
the regime the scale tier is premised on: a deterministic
mixture-of-Gaussians corpus (distinct centers, within-cluster noise, the
structure real embedding models produce — reference methodology
docs/RECALL_QUALITY_LAB.md:112-127 runs on realistic corpora for the same
reason), where probing the nearest cells concentrates true neighbors and
lab_decision can CHOOSE a pruned nprobe on the scorecard + noise band
instead of defaulting it.

Usage:
    python scripts/ivf_quality_lab.py              # sf0.1 fixture golden
    python scripts/ivf_quality_lab.py /path/sf     # other scale, print only
    python scripts/ivf_quality_lab.py --clustered  # clustered-corpus golden
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(REPO, "tests", "golden", "ivf_quality.json")
GOLDEN_CLUSTERED = os.path.join(REPO, "tests", "golden", "ivf_quality_clustered.json")


def clustered_embeddings(
    spark,
    *,
    n: int = 4000,
    dim: int = 32,
    n_true: int = 16,
    sigma: float = 0.25,
    seed: int = 202,
):
    """Deterministic mixture-of-Gaussians corpus: `n_true` unit-norm
    centers, each vector = its center + N(0, sigma²) noise, round-robin
    cluster assignment. sigma=0.25 leaves clusters clearly separated but
    with real boundary mass (within-cluster cosine ≈ 0.8-0.9 vs ≈ 0
    across), matching the shape of real sentence-embedding corpora rather
    than either degenerate extreme (isotropic noise / zero-variance
    points)."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_true, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    noise = sigma * rng.normal(size=(n, dim))
    vecs = centers[np.arange(n) % n_true] + noise
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def ivf_quality_curve(
    spark,
    sf_dir: str,
    *,
    n_centroids: int = 16,
    nprobes: tuple[int, ...] = (1, 2, 4, 8, 16),
    n_queries: int = 25,
    k: int = 10,
    emb=None,
) -> list[dict]:
    """One scorecard per nprobe config, per the lab contract above.
    `emb` overrides the corpus (a (vec_id, embedding) DataFrame — the
    clustered card set passes the mixture-of-Gaussians table); default is
    the sf_dir embeddings fixture."""
    from ir_metrics import ndcg_at_k, recall_at_k
    from automem_spark.operators.similarity import (
        _probe_cells,
        assign_cells,
        kmeans_centroids,
    )
    from automem_spark.sources.tables import load_table

    if emb is None:
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = kmeans_centroids(emb, n_centroids)
    assigned = assign_cells(emb, centroids).select("vec_id", "cell", "embedding")
    rows = assigned.orderBy("vec_id").collect()

    ids = np.asarray([r["vec_id"] for r in rows], dtype=np.int64)
    cells = np.asarray([r["cell"] for r in rows], dtype=np.int64)
    mat = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0

    # deterministic query sample: every len//n_queries-th corpus vector
    stride = max(1, len(ids) // n_queries)
    q_idx = list(range(0, len(ids), stride))[:n_queries]

    def topk(order_sims: np.ndarray, cand_ids: np.ndarray) -> list[int]:
        # (-sim, vec_id) — the exact tie order the Spark path sorts by
        order = np.lexsort((cand_ids, -order_sims))[:k]
        return [int(x) for x in cand_ids[order]]

    exact: list[list[int]] = []
    sims_all = []
    for qi in q_idx:
        q = mat[qi]
        qn = np.linalg.norm(q) or 1.0
        sims = (mat @ q) / norms / qn
        sims_all.append(sims)
        exact.append(topk(sims, ids))

    cards = []
    for nprobe in nprobes:
        np_eff = min(nprobe, n_centroids)
        recalls, ndcgs, scanned = [], [], []
        for (qi, sims, truth) in zip(q_idx, sims_all, exact):
            probed = _probe_cells([float(x) for x in mat[qi]], centroids, np_eff)
            mask = np.isin(cells, probed)
            got = topk(sims[mask], ids[mask])
            recalls.append(recall_at_k(got, truth, k))
            ndcgs.append(ndcg_at_k(got, truth, k))
            scanned.append(int(mask.sum()))
        got_n = min(k, min(scanned)) if scanned else k
        cards.append(
            {
                "name": f"nprobe={nprobe}",
                "nprobe": nprobe,
                "recall_10": round(float(np.mean(recalls)), 4),
                "ndcg_10": round(float(np.mean(ndcgs)), 4),
                # same-size sets: distractors are exactly the missed items
                "distractor_rate_10": round(1.0 - float(np.mean(recalls)), 4),
                "complexity": nprobe,
                "latency_ms": round(float(np.mean(scanned)), 1),
                "scan_frac": round(float(np.mean(scanned)) / len(ids), 4),
                "qualities": [round(float(x), 6) for x in ndcgs],
                "_min_candidates": got_n,
            }
        )
    return cards


def _print_cards(title: str, cards: list[dict], decision: dict) -> None:
    print(f"\nIVF quality curve ({title}, k=10):")
    print("| nprobe | recall@10 | NDCG@10 | scan frac |")
    print("|---|---|---|---|")
    for c in cards:
        print(
            f"| {c['nprobe']} | {c['recall_10']:.4f} | {c['ndcg_10']:.4f} "
            f"| {c['scan_frac']:.3f} |"
        )
    print(f"\nlab_decision (baseline nprobe=2): {decision['name']}")
    print(f"reason: {decision['reason']}")
    if "paired_vs_baseline" in decision:
        print(f"paired: {decision['paired_vs_baseline']}")


def main() -> None:
    from ir_metrics import lab_decision
    from automem_spark.session import get_spark

    arg = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("ivf-quality-lab")
    spark.sparkContext.setLogLevel("ERROR")

    if arg == "--clustered":
        params = {"n": 4000, "dim": 32, "n_true": 16, "sigma": 0.25, "seed": 202}
        emb = clustered_embeddings(spark, **params)
        cards = ivf_quality_curve(spark, "", emb=emb)
        decision = lab_decision(cards, baseline_name="nprobe=2")
        _print_cards("clustered mixture-of-Gaussians, 16 centroids", cards, decision)
        payload = {
            "corpus": params,
            "n_centroids": 16,
            "n_queries": 25,
            "k": 10,
            "cards": cards,
            "decision_name": decision["name"],
            "decision_reason": decision["reason"],
        }
        with open(GOLDEN_CLUSTERED, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        print(f"\nwrote {GOLDEN_CLUSTERED}")
        return

    sf_dir = arg
    cards = ivf_quality_curve(spark, sf_dir)
    decision = lab_decision(cards, baseline_name="nprobe=2")
    _print_cards(f"{sf_dir}, 16 centroids, 25 queries", cards, decision)

    if sf_dir.rstrip("/").endswith("sf0.1"):
        payload = {
            "sf_dir": sf_dir,
            "n_centroids": 16,
            "n_queries": 25,
            "k": 10,
            "cards": cards,
            "decision_name": decision["name"],
            "decision_reason": decision["reason"],
        }
        with open(GOLDEN, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        print(f"\nwrote {GOLDEN}")


if __name__ == "__main__":
    main()
