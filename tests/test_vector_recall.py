"""Vector-path tests: placeholder-embedding recall end-to-end (the
BASELINE.md quality anchor: deterministic embeddings => reproducible
rankings verifiable against a pure-Python reimplementation) and the IVF
approximate top-k against the exact kernel."""

import numpy as np
from pyspark.sql import functions as F

from automem_spark.functions.vector import placeholder_embedding, placeholder_embedding_udf
from automem_spark.operators.recall import RecallRequest, recall
from automem_spark.sources.tables import memories_view


def test_placeholder_vector_recall_end_to_end(spark, sf_dir):
    """Vector channel with placeholder embeddings: Spark ranking must equal a
    NumPy reimplementation over the same deterministic vectors."""
    mem = memories_view(spark, sf_dir).withColumn(
        "embedding", placeholder_embedding_udf(32)(F.col("content"))
    )
    query_text = "spark window merge"
    qvec = placeholder_embedding(query_text, 32)

    got = recall(
        mem,
        RecallRequest(query="", limit=8),
        query_vector=qvec,
    ).collect()
    assert len(got) == 8
    assert all(r.match_type in ("vector", "trending") for r in got)

    # pure-python golden over the same pool (non-archived, non-MetaPattern)
    pool = (
        memories_view(spark, sf_dir)
        .filter(~F.col("archived") & (F.col("type") != "MetaPattern"))
        .select("id", "content")
        .collect()
    )
    q = np.array(qvec)
    sims = []
    for r in pool:
        v = np.array(placeholder_embedding(r.content, 32))
        s = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        sims.append((s, r.id))
    golden_top = [i for _, i in sorted(sims, key=lambda t: (-t[0], t[1]))[:8]]

    # the reference twin's vector channel reproduces the golden ranking too
    from recall_oracle import vector_channel

    from automem_spark.operators.recall import base_filter

    pool_df = base_filter(mem, RecallRequest())
    chan = vector_channel(pool_df, qvec, 2)  # overfetch x4 -> top 8
    chan_ids = [r.id for r in chan.orderBy(F.desc("match_score"), F.asc("id")).collect()]
    assert chan_ids == golden_top


def test_ivf_topk_finds_query_vector_and_overlaps_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    from automem_spark.operators.similarity import cosine_topk_mapinpandas, ivf_topk
    from automem_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 7).collect()[0].embedding]
    approx = ivf_topk(emb, qv, 10, n_centroids=8, nprobe=2).collect()
    # the query vector's own cell is by construction the nearest probe ->
    # self-match must surface at rank 1 with sim ~ 1.0
    assert approx[0].id == 7
    assert abs(approx[0].sim - 1.0) < 1e-9

    exact = cosine_topk_mapinpandas(emb, [("q", qv)], 10, item_id="vec_id").collect()
    overlap = {r.id for r in approx} & {r.id for r in exact}
    # nprobe=2 of 8 cells: partial recall is expected, vacuous results are not
    assert len(overlap) >= 3


def test_ivf_kmeans_recall_on_clustered_corpus(spark):
    """The KMeans quantizer path must achieve recall@10 >= 0.9 vs exact
    search on data where coarse quantization is meaningful (drawn from
    distinct clusters). The driver's synthetic embeddings are isotropic
    noise (intra-label cosine == inter-label cosine == 0), where NO
    partitioning quantizer can concentrate true neighbors into few cells —
    so quantizer QUALITY is pinned here on a clustered corpus, while the
    assignment/probe plumbing stays covered on driver data above."""
    import numpy as np
    from pyspark.sql import functions as F

    from automem_spark.operators.similarity import (
        cosine_topk_mapinpandas,
        ivf_topk,
        kmeans_centroids,
    )

    rng = np.random.default_rng(0)
    centers = rng.normal(size=(8, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(800):
        c = i % 8
        v = centers[c] + 0.15 * rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents = kmeans_centroids(emb, 8)
    recalls = []
    for qid in (3, 100, 777):
        qv = rows[qid][1]
        exact = {
            r.id
            for r in cosine_topk_mapinpandas(emb, [("q", qv)], 10, item_id="vec_id").collect()
        }
        approx = {r.id for r in ivf_topk(emb, qv, 10, nprobe=2, centroids=cents).collect()}
        recalls.append(len(exact & approx) / 10)
    assert min(recalls) >= 0.9, recalls


def test_assign_cells_matches_numpy_argmax_at_256_centroids(spark, tmp_path):
    """Scale-shape pin: above EXPR_ASSIGN_MAX_CENTROIDS the cell assignment
    must be the vectorized argmax (one MapInPandas, no per-centroid CASE
    expression), and its assignments must equal a driver-side NumPy
    reference. n_centroids=256 is the realistic-sqrt(N) regime where the
    r4 CASE chain would have built 256 array-aggregate expressions in one
    projection."""
    import numpy as np
    from pyspark.sql import functions as F

    from automem_spark.operators.similarity import (
        EXPR_ASSIGN_MAX_CENTROIDS,
        assign_cells,
        ivf_topk,
    )

    assert EXPR_ASSIGN_MAX_CENTROIDS < 256

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(500, 16))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(500)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(256)]

    got = {r.vec_id: r.cell for r in assign_cells(emb, cents).collect()}

    cmat = np.asarray([c for _, c in cents])
    sims = (vecs @ cmat.T) / np.linalg.norm(vecs, axis=1)[:, None] / np.linalg.norm(cmat, axis=1)[None, :]
    expected = np.argmax(sims, axis=1)
    assert got == {i: int(expected[i]) for i in range(500)}

    # the dispatch: large quantizer -> MapInPandas in the plan, no CASE chain
    topk = ivf_topk(emb, rows[3][1], 5, nprobe=8, centroids=cents)
    plan = topk._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert topk.collect()[0].id == 3  # self-match surfaces through its cell


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The bucketed-by-cell layout: write_ivf_index partitions the corpus by
    cell; a probe filter on the read side must resolve to PartitionFilters
    (directory pruning) — not a row-level data filter."""
    import numpy as np
    from pyspark.sql import functions as F

    from automem_spark.operators.similarity import (
        _probe_cells,
        ivf_topk,
        ivf_topk_indexed,
        write_ivf_index,
    )

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(8)]

    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, cents, path)
    index = spark.read.parquet(path)

    qv = rows[42][1]
    got = ivf_topk_indexed(index, qv, 10, cents, nprobe=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]
    # pruning is real: only nprobe of 8 cell directories are read
    probed = _probe_cells(qv, cents, 2)
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), plan

    # value parity with the non-indexed operator on the same quantizer
    direct = ivf_topk(emb, qv, 10, nprobe=2, centroids=cents).collect()
    via_index = got.collect()
    assert [(r.id, r.cell) for r in via_index] == [(r.id, r.cell) for r in direct]


def test_ivf_quality_lab_decision_is_rederivable(spark):
    """The committed IVF quality curve (tests/golden/ivf_quality.json,
    regenerated by scripts/ivf_quality_lab.py at sf0.1) must yield the SAME
    lab_decision when re-derived from the stored scorecards — pure metric
    math, so any edit to the decision rule or a silently regenerated curve
    that changes the outcome reds this test. On the fixture's isotropic
    embeddings the lab refuses pruning (recall tracks scan fraction, so
    nprobe=16 == exhaustive wins the scorecard and clears the noise band):
    that measured refusal is exactly why exact top-k remains the shipped
    quality-default tier and IVF nprobe=2 is the SCALE tier, whose >= 0.9
    recall on clusterable data is pinned separately above."""
    import json
    import os

    from ir_metrics import lab_decision

    path = os.path.join(os.path.dirname(__file__), "golden", "ivf_quality.json")
    with open(path) as f:
        golden = json.load(f)
    decision = lab_decision(golden["cards"], baseline_name="nprobe=2")
    assert decision["name"] == golden["decision_name"] == "nprobe=16"
    assert decision["paired_vs_baseline"]["significant"]
    # the curve itself: monotone recall/ndcg, exhaustive probe is exact
    recalls = [c["recall_10"] for c in golden["cards"]]
    ndcgs = [c["ndcg_10"] for c in golden["cards"]]
    assert recalls == sorted(recalls) and ndcgs == sorted(ndcgs)
    assert recalls[-1] == 1.0 and ndcgs[-1] == 1.0
    # probe-order contract: nearest-cell probing is never WORSE than a
    # random scan of the same fraction (recall >= scan_frac), and on this
    # near-isotropic fixture it only modestly beats it — the measured gap
    # (e.g. recall 0.60 at scan 0.25 for nprobe=4) is the whole story of
    # why the lab refuses pruning here while clustered data clears 0.9
    for c in golden["cards"]:
        assert c["recall_10"] >= c["scan_frac"] - 0.02, c


def test_ivf_quality_lab_clustered_decision_is_rederivable(spark):
    """The r10 clustered card set (tests/golden/ivf_quality_clustered.json,
    regenerated by `scripts/ivf_quality_lab.py --clustered`) measures the
    regime the scale tier is premised on: a mixture-of-Gaussians corpus
    where probing the nearest cells CONCENTRATES true neighbors. Pins:

    - decision re-derivation: lab_decision on the stored cards must
      reproduce the committed decision, and that decision must be a
      PRUNED config (the whole point — on clusterable data the lab
      chooses a scale-tier nprobe instead of refusing pruning);
    - the paired noise band was actually cleared;
    - concentration: recall at nprobe=2 >= 0.9 (the scale-tier floor) at
      a small scan fraction — at least 5x better than a random scan of
      the same fraction, where the isotropic golden sits at ~1x;
    - curve shape: monotone, exact at the exhaustive probe."""
    import json
    import os

    from ir_metrics import lab_decision

    path = os.path.join(
        os.path.dirname(__file__), "golden", "ivf_quality_clustered.json"
    )
    with open(path) as f:
        golden = json.load(f)
    decision = lab_decision(golden["cards"], baseline_name="nprobe=2")
    assert decision["name"] == golden["decision_name"]
    by_name = {c["name"]: c for c in golden["cards"]}
    winner = by_name[decision["name"]]
    assert winner["scan_frac"] < 0.5, "decision must be a pruned config"
    assert winner["ndcg_10"] >= 1.0 - 0.005
    if decision["name"] != "nprobe=2":
        assert decision["paired_vs_baseline"]["significant"]

    np2 = by_name["nprobe=2"]
    assert np2["recall_10"] >= 0.9, "scale-tier floor on clustered data"
    assert np2["recall_10"] >= 5 * np2["scan_frac"], "cluster concentration"
    recalls = [c["recall_10"] for c in golden["cards"]]
    ndcgs = [c["ndcg_10"] for c in golden["cards"]]
    assert recalls == sorted(recalls) and ndcgs == sorted(ndcgs)
    assert recalls[-1] == 1.0 and ndcgs[-1] == 1.0


def test_ivf_quality_curve_live_on_clustered_corpus(spark):
    """The clustered harness runs end-to-end at reduced scale and shows the
    concentration property live (not just in the committed golden): on a
    fresh mixture-of-Gaussians corpus, nprobe=2 of 8 cells must beat a
    same-fraction random scan by >= 3x on recall@10."""
    from scripts.ivf_quality_lab import clustered_embeddings, ivf_quality_curve

    emb = clustered_embeddings(spark, n=800, dim=16, n_true=8, sigma=0.25, seed=31)
    cards = ivf_quality_curve(
        spark, "", emb=emb, n_centroids=8, nprobes=(1, 2, 8), n_queries=8
    )
    by_probe = {c["nprobe"]: c for c in cards}
    assert by_probe[8]["recall_10"] == 1.0
    assert by_probe[2]["recall_10"] >= 3 * by_probe[2]["scan_frac"]
    recalls = [c["recall_10"] for c in cards]
    assert recalls == sorted(recalls)


def test_ivf_quality_curve_live_at_test_scale(spark, sf_dir):
    """The lab harness itself runs end-to-end at test scale: monotone
    non-decreasing quality in nprobe and recall == 1.0 when every cell is
    probed (exhaustive == exact by construction)."""
    from scripts.ivf_quality_lab import ivf_quality_curve

    cards = ivf_quality_curve(
        spark, sf_dir, n_centroids=4, nprobes=(1, 2, 4), n_queries=8
    )
    recalls = [c["recall_10"] for c in cards]
    ndcgs = [c["ndcg_10"] for c in cards]
    assert recalls == sorted(recalls) and ndcgs == sorted(ndcgs)
    assert recalls[-1] == 1.0 and ndcgs[-1] == 1.0
    assert all(0.0 <= c["scan_frac"] <= 1.0 for c in cards)
