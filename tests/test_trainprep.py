"""Training-prep operators: decontamination, PII redaction, deterministic
mix sampling, sequence packing."""

import pytest
from pyspark.sql import Row, functions as F

from automem_spark.operators.trainprep import (
    data_mix_sample,
    decontaminate,
    md5_bucket_expr,
    mix_census,
    pack_sequences,
    packing_census,
    pii_redact,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, source="web", text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, source="web", text="pack my box with five dozen liquor jugs"),
        Row(doc_id=3, source="code", text="the quick brown fox jumps again today"),
        Row(doc_id=4, source="code", text="completely unrelated content with no overlap"),
        Row(doc_id=5, source="web", text="the quick brown cat sleeps"),
    ]
    return spark.createDataFrame(rows)


def test_decontaminate_flags_ngram_overlap(spark, docs):
    eval_docs = spark.createDataFrame(
        [Row(doc_id=100, text="the quick brown fox ran")]
    )
    out = {r["doc_id"]: r for r in decontaminate(docs, eval_docs).collect()}
    # docs 1 and 3 share the 3-gram "the quick brown" / "quick brown fox"
    assert out[1]["contaminated"] and out[1]["n_hits"] >= 2
    assert out[3]["contaminated"]
    # doc 5 shares only "the quick brown"
    assert out[5]["contaminated"] and out[5]["n_hits"] == 1
    assert not out[2]["contaminated"] and out[2]["n_hits"] == 0
    assert not out[4]["contaminated"]


def test_decontaminate_min_hits_threshold(spark, docs):
    eval_docs = spark.createDataFrame([Row(doc_id=100, text="the quick brown fox ran")])
    out = {r["doc_id"]: r["contaminated"]
           for r in decontaminate(docs, eval_docs, min_hits=2).collect()}
    assert out[1] is True
    assert out[5] is False  # single shared shingle no longer enough


def test_pii_redact_counts_and_cleans(spark):
    df = spark.createDataFrame([
        Row(doc_id=1, text="mail bob@example.com or alice@test.org now"),
        Row(doc_id=2, text="ssn 123-45-6789 phone 555-123-4567 ip 10.0.0.1"),
        Row(doc_id=3, text="nothing sensitive here"),
    ])
    out = {r["doc_id"]: r for r in pii_redact(df).collect()}
    assert out[1]["n_email"] == 2 and out[1]["n_pii"] == 2
    assert "<EMAIL>" in out[1]["clean_text"] and "@" not in out[1]["clean_text"]
    assert out[2]["n_ssn"] == 1 and out[2]["n_phone"] == 1 and out[2]["n_ipv4"] == 1
    assert out[2]["n_pii"] == 3
    for tok in ("<SSN>", "<PHONE>", "<IP>"):
        assert tok in out[2]["clean_text"]
    assert out[3]["n_pii"] == 0 and out[3]["clean_text"] == "nothing sensitive here"


def test_pii_phone_not_eaten_by_ipv4(spark):
    # dotted phone 555.123.4567 must NOT be half-matched by the IPv4 rule
    df = spark.createDataFrame([Row(doc_id=1, text="call 555.123.4567 ok")])
    r = pii_redact(df).collect()[0]
    assert r["n_phone"] == 1 and r["n_ipv4"] == 0
    assert "<PHONE>" in r["clean_text"]


def test_mix_sample_deterministic_and_rate_shaped(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    srcs = {r["source"] for r in docs.select("source").distinct().collect()}
    rates = {s: r for s, r in zip(sorted(srcs), [1.0, 0.5, 0.0] * len(srcs))}
    a = sorted(r["doc_id"] for r in data_mix_sample(docs, rates).select("doc_id").collect())
    b = sorted(r["doc_id"] for r in data_mix_sample(docs, rates).select("doc_id").collect())
    assert a == b  # bit-identical re-run
    census = {r[0]: r for r in mix_census(docs, rates).collect()}
    for src, rate in rates.items():
        if src not in census:
            continue
        row = census[src]
        if rate == 0.0:
            assert row["n_selected"] == 0
        elif rate == 1.0:
            assert row["n_selected"] == row["n_total"]
        else:
            assert abs(row["observed_rate"] - rate) < 0.25


def test_mix_sample_is_subset_filter(spark, docs):
    out = data_mix_sample(docs, {"web": 1.0, "code": 0.0})
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 2, 5]


def test_pack_sequences_offsets_and_windows(spark):
    rows = [Row(doc_id=i, source="s", text="w " * 100) for i in range(1, 9)]
    df = spark.createDataFrame(rows)
    packed = pack_sequences(df, window_tokens=512, shards=1).collect()
    by_id = {r["doc_id"]: r for r in packed}
    # 100 tokens each, shard-local order by doc_id: offsets 0,100,...,700
    for i in range(1, 9):
        assert by_id[i]["offset"] == (i - 1) * 100
        assert by_id[i]["window_id"] == ((i - 1) * 100) // 512
    census = packing_census(df, window_tokens=512, shards=1).collect()
    assert sum(r["n_docs"] for r in census) == 8
    assert sum(r["n_tokens"] for r in census) == 800


def test_pack_sequences_shards_partition_the_work(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    packed = pack_sequences(docs, window_tokens=512, shards=4)
    # every doc appears exactly once, shard in range
    assert packed.count() == docs.count()
    assert packed.filter((F.col("shard") < 0) | (F.col("shard") >= 4)).count() == 0
    # offsets are consistent: within a (source, shard), offset of the k-th
    # doc equals the sum of tokens of all earlier docs
    one = packed.orderBy("source", "shard", "doc_id").limit(50).collect()
    seen = {}
    for r in one:
        key = (r["source"], r["shard"])
        expect = seen.get(key, 0)
        if r["offset"] != expect:
            # only valid to assert when we have the full prefix of the group
            continue
        assert r["offset"] == expect
        seen[key] = expect + r["n_tokens"]


def test_md5_bucket_uniformity(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = (
        docs.select(md5_bucket_expr(F.col("doc_id")).alias("b"))
        .agg(F.min("b"), F.max("b"), F.avg("b"))
        .collect()[0]
    )
    assert 0 <= stats[0] and stats[1] < 10_000
    assert 3000 < stats[2] < 7000  # loose uniformity check


# ---------------------------------------------------------------------------
# Corpus-level invariants (deterministic fixture corpus, algebraic claims)
# ---------------------------------------------------------------------------


def test_md5_bucket_matches_python_twin(spark, sf_dir):
    import hashlib

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    rows = docs.select("doc_id", md5_bucket_expr(F.col("doc_id")).alias("b")).collect()
    for r in rows:
        twin = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16) % 10_000
        assert r["b"] == twin


def test_mix_sample_monotone_in_rate(spark, sf_dir):
    # raising a source's rate can only ADD documents (bucket predicate is
    # threshold-monotone) — the property that makes mix re-weighting cheap:
    # a 30% sample is a strict superset of the 20% sample, so scaling a
    # source up reuses every byte already selected.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    srcs = sorted({r["source"] for r in docs.select("source").distinct().collect()})
    lo = {s: 0.2 for s in srcs}
    hi = {s: 0.6 for s in srcs}
    a = {r["doc_id"] for r in data_mix_sample(docs, lo).select("doc_id").collect()}
    b = {r["doc_id"] for r in data_mix_sample(docs, hi).select("doc_id").collect()}
    assert a <= b
    assert len(b) > len(a)


def test_pii_redact_single_pass_is_complete(spark, sf_dir):
    # redacting the already-redacted text finds nothing: replacement tokens
    # carry no digits/@, so one pass removes every match it can see
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    once = pii_redact(docs).select("doc_id", F.col("clean_text").alias("text"))
    twice = pii_redact(once)
    assert twice.filter(F.col("n_pii") > 0).count() == 0


def test_decontaminate_monotone_in_min_hits(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    is_eval = (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100)
    train, ev = docs.filter(~is_eval), docs.filter(is_eval)
    loose = {r["doc_id"] for r in decontaminate(train, ev, min_hits=1)
             .filter("contaminated").collect()}
    strict = {r["doc_id"] for r in decontaminate(train, ev, min_hits=3)
              .filter("contaminated").collect()}
    assert strict <= loose


def test_decontaminate_map_bit_identical_to_expr(spark, sf_dir):
    """The Arrow-kernel twin (r14) must agree with the expression path
    EXACTLY — including the short-text whole-shingle branch, the empty
    split artifact, null-text zero hits, and a non-default min_hits — on
    the corpus AND adversarial edge rows. The expression path stays the
    DuckDB oracle anchor."""
    from automem_spark.operators.trainprep import decontaminate_map

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [
            (100001, None),
            (100002, ""),
            (100003, "   "),
            (100004, "one two"),
            (100005, "The, quick! brown; fox"),
            (100006, "é ü one two three"),
            (100007, "x " * 200),
        ],
        "doc_id long, text string",
    )
    is_eval = (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100)
    train = docs.filter(~is_eval).unionByName(edge)
    ev = docs.filter(is_eval)
    for mh in (1, 2):
        a = decontaminate(train, ev, min_hits=mh)
        b = decontaminate_map(train, ev, min_hits=mh)
        assert a.schema == b.schema
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


def test_decontaminate_map_plan_has_no_join_or_aggregate(spark, sf_dir):
    """The kernel's reason to exist: no train-side explode, no broadcast
    join, no hit-count aggregation — one MapInPandas over the scan."""
    from automem_spark.operators.trainprep import decontaminate_map

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    is_eval = (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100)
    plan = (
        decontaminate_map(docs.filter(~is_eval), docs.filter(is_eval))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan
    for node in ("Join", "HashAggregate", "Generate", "Exchange"):
        assert node not in plan, f"{node} in:\n{plan}"


def test_pack_windows_start_at_zero_and_are_monotone(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    packed = pack_sequences(docs, window_tokens=512, shards=4).collect()
    groups = {}
    for r in sorted(packed, key=lambda r: (r["source"], r["shard"], r["doc_id"])):
        groups.setdefault((r["source"], r["shard"]), []).append(r)
    for rows in groups.values():
        assert rows[0]["offset"] == 0 and rows[0]["window_id"] == 0
        wids = [r["window_id"] for r in rows]
        assert wids == sorted(wids)


def test_trainprep_gates_run_as_streaming_transform(spark, sf_dir, tmp_path):
    """The PII scrub + text profile are stateless column expressions, so the
    same code must run unchanged as a Structured Streaming micro-batch
    transform (the shape a continuously-ingesting training pipeline uses:
    readStream -> scrub -> profile -> quality gate -> sink)."""
    from automem_spark.operators.textquality import quality_score_expr

    src = str(tmp_path / "docs")
    batch = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    batch.select("doc_id", "text").write.parquet(src)

    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    gated = (
        pii_redact(stream)
        .withColumn("quality", F.round(quality_score_expr(F.col("clean_text")), 6))
        .filter(F.col("quality") >= 0.0)
    )
    assert gated.isStreaming
    out = []
    q = (
        gated.writeStream.foreachBatch(lambda df, _id: out.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(out) == 60
    # streaming result == batch result, row for row
    expect = {r["doc_id"]: r for r in
              pii_redact(batch.select("doc_id", "text")).collect()}
    for r in out:
        assert r["clean_text"] == expect[r["doc_id"]]["clean_text"]
        assert r["n_pii"] == expect[r["doc_id"]]["n_pii"]


def test_mix_sample_200_sources_broadcast_rates(spark):
    """The rates table is a broadcast join, so a 200-source mix must (a)
    plan without a 200-arm CASE expression blowup and (b) select exactly
    the rows the md5-bucket twin predicts, including default_rate for
    sources OUTSIDE the table."""
    import hashlib

    rows = [
        Row(doc_id=i, source=f"s{i % 200}", text="x")
        for i in range(1, 1201)
    ]
    df = spark.createDataFrame(rows)
    # 200 distinct rates, deterministic; s0..s149 in the table, s150+ absent
    rates = {f"s{j}": (j % 10) / 10.0 for j in range(150)}
    out = {
        r["doc_id"]
        for r in data_mix_sample(df, rates, default_rate=0.3).select("doc_id").collect()
    }
    expect = set()
    for r in rows:
        rate = rates.get(r.source, 0.3)
        b = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16) % 10_000
        if b < int(rate * 10_000):
            expect.add(r.doc_id)
    assert out == expect
    # census agrees with the sampler for absent sources too (default_rate)
    census = {r["source"]: r for r in
              mix_census(df, rates, default_rate=0.3).collect()}
    assert sum(r["n_selected"] for r in census.values()) == len(expect)
    # plan sanity: broadcast hash join present, no 200-branch CASE chain
    plan = data_mix_sample(df, rates, default_rate=0.3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CASE WHEN (source = s149)" not in plan


def test_mix_census_default_rate_matches_sampler(spark, docs):
    """A source absent from `rates` must census at default_rate, not 0 —
    the r5 advisor's census/sampler disagreement."""
    rates = {"web": 0.5}
    sampled = data_mix_sample(docs, rates, default_rate=1.0)
    census = {r["source"]: r for r in
              mix_census(docs, rates, default_rate=1.0).collect()}
    # "code" is outside rates: default 1.0 keeps everything
    assert census["code"]["n_selected"] == census["code"]["n_total"]
    assert sampled.filter(F.col("source") == "code").count() == 2


def test_mix_sample_rejects_reserved_column_clash(spark, docs):
    """Inputs already carrying a _mix_* helper column must fail loudly, not
    corrupt the threshold join silently — r6 advice."""
    import pytest

    poisoned = docs.withColumn("_mix_thresh", F.lit(1))
    with pytest.raises(ValueError, match="_mix_thresh"):
        data_mix_sample(poisoned, {"web": 0.5})


def test_pack_sequences_shard_scaling(spark, sf_dir):
    """Raising `shards` must spread each source over more reducers while
    keeping shard-local offsets exact; shards=None derives a >=4 default
    from cluster parallelism; census fill_ratio is n_tokens/window."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lo = pack_sequences(docs, window_tokens=512, shards=2)
    hi = pack_sequences(docs, window_tokens=512, shards=16)
    assert lo.select("shard").distinct().count() <= 2
    n_hi = hi.select("shard").distinct().count()
    assert 2 < n_hi <= 16
    # row conservation at every shard count
    assert lo.count() == hi.count() == docs.count()
    # derived default: runs, bounded by max(4, defaultParallelism)
    derived = pack_sequences(docs, window_tokens=512)
    bound = max(4, spark.sparkContext.defaultParallelism)
    assert derived.filter(
        (F.col("shard") < 0) | (F.col("shard") >= bound)
    ).count() == 0
    # fill-ratio invariant on the census (the r5 ask)
    census = packing_census(docs, window_tokens=512, shards=16).collect()
    for r in census:
        # Spark rounds half-up, Python half-even: compare with tolerance
        assert abs(r["fill_ratio"] - r["n_tokens"] / 512.0) < 1e-6
        assert r["n_docs"] > 0 and r["n_tokens"] > 0


def test_training_pipeline_census_consistent(spark, sf_dir):
    """The composed pipeline's census respects its own gates: only
    positively-sampled sources appear, window counts are bounded by doc
    counts, and the per-source average quality cannot fall below the 0.4
    gate floor every surviving row passed."""
    import __spark_entry__ as entry

    rows = entry.q_training_pipeline(spark, sf_dir).collect()
    assert rows, "pipeline produced no sources"
    for r in rows:
        assert entry.MIX_RATES.get(r["source"], 0.0) > 0.0
        assert 0 < r["n_windows"] <= r["n_docs"]
        assert r["n_tokens"] > 0
        assert r["avg_quality"] >= 0.4


def test_semantic_decontaminate_flags_and_plan(spark, sf_dir):
    """Embedding-space contamination: flags exactly the items whose max
    eval cosine crosses the threshold (both outcomes occur on the
    fixture), the eval side is BROADCAST, and the aggregate is partial
    (map-side) so the shuffle carries one row per train item."""
    from automem_spark.operators.trainprep import semantic_decontaminate

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ev = emb.filter(F.col("vec_id") % 97 == 0)
    tr = emb.filter(F.col("vec_id") % 97 != 0)
    out = semantic_decontaminate(tr, ev, threshold=0.35)
    rows = out.collect()
    assert len(rows) == tr.count()
    flagged = [r for r in rows if r["contaminated"]]
    clean = [r for r in rows if not r["contaminated"]]
    assert flagged and clean
    for r in rows:
        assert r["contaminated"] == (r["max_eval_cos"] >= 0.35)
        assert -1.0 <= r["max_eval_cos"] <= 1.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "partial_max" in plan or "HashAggregate" in plan


def test_chunk_dedup_keeper_rule_and_fractions(spark):
    """Chunk-level dedup composition: first occurrence of a chunk_md5 keeps
    (lowest doc, then lowest chunk_idx), every later copy counts as dup;
    per-doc fraction drives the keep verdict; docs with no words emit no
    row. A 4-word chunk grid keeps the arithmetic inspectable."""
    from automem_spark.operators.trainprep import chunk_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),        # unique chunks
            (2, "a b c d x y z w"),        # first chunk copies doc 1's
            (3, "a b c d e f g h"),        # exact copy of doc 1 -> frac 1.0
            (4, ""),                       # no words -> no output row
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in chunk_dedup(
            docs, chunk_words=4, stride=4, max_dup_chunk_frac=0.5
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1].n_dup_chunks == 0 and out[1].keep
    assert out[2].n_chunks == 2 and out[2].n_dup_chunks == 1
    assert out[2].dup_chunk_frac == 0.5 and out[2].keep  # at the ceiling
    assert out[3].n_dup_chunks == out[3].n_chunks and not out[3].keep
    assert out[3].dup_chunk_frac == 1.0


def test_semantic_decontaminate_ivf_matches_exact_flags(spark):
    """Flag-set EQUALITY with the exact path at the default probe width,
    on a corpus with real near-duplicate structure (contaminated items ARE
    eval vectors plus small noise — the production shape at threshold
    0.95). The fixture's near-orthogonal embeddings at threshold 0.35 are
    deliberately NOT this shape: weak-similarity pairs carry no cell
    locality, which is why the exact path stays the oracle row and the
    fixture check below asserts only the subset/lower-bound direction."""
    import numpy as np

    from automem_spark.operators.similarity import kmeans_centroids
    from automem_spark.operators.trainprep import (
        semantic_decontaminate,
        semantic_decontaminate_ivf,
    )

    rng = np.random.default_rng(7)
    dim = 16
    evs = rng.normal(size=(6, dim))
    rows, ev_rows = [], []
    for i, v in enumerate(evs):
        ev_rows.append((f"e{i}", [float(x) for x in v]))
    vid = 0
    for i, v in enumerate(evs):
        for _ in range(5):  # contaminated: eval + 2% noise
            rows.append((f"t{vid}", [float(x) for x in v + rng.normal(scale=0.02, size=dim)]))
            vid += 1
    for _ in range(120):  # clean: independent directions
        rows.append((f"t{vid}", [float(x) for x in rng.normal(size=dim)]))
        vid += 1
    tr = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    ev = spark.createDataFrame(ev_rows, "vec_id string, embedding array<double>")
    cents = kmeans_centroids(tr, 8)
    exact_rows = semantic_decontaminate(tr, ev, threshold=0.95).collect()
    exact_flags = {r.vec_id for r in exact_rows if r.contaminated}
    assert len(exact_flags) == 30  # every planted near-dup, nothing else
    ivf_rows = semantic_decontaminate_ivf(
        tr, ev, threshold=0.95, centroids=cents
    ).collect()
    ivf_flags = {r.vec_id for r in ivf_rows if r.contaminated}
    assert ivf_flags == exact_flags
    assert len(ivf_rows) == tr.count()


def test_semantic_decontaminate_ivf_is_lower_bound_on_fixture(spark, sf_dir):
    """On the adversarial fixture (weak-similarity pairs, no cell
    locality) the probed path must still be SOUND: no false positives, and
    every probed max_eval_cos is a lower bound of the exact max."""
    from automem_spark.operators.similarity import first_n_centroids
    from automem_spark.operators.trainprep import (
        semantic_decontaminate,
        semantic_decontaminate_ivf,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ev = emb.filter(F.col("vec_id") % 97 == 0)
    tr = emb.filter(F.col("vec_id") % 97 != 0)
    cents = first_n_centroids(tr, 8)
    exact = {r.vec_id: r.max_eval_cos for r in semantic_decontaminate(tr, ev, threshold=0.35).collect()}
    ivf_rows = semantic_decontaminate_ivf(tr, ev, threshold=0.35, centroids=cents).collect()
    assert len(ivf_rows) == len(exact)
    flagged_exact = {v for v, mx in exact.items() if mx >= 0.35}
    flagged_ivf = {r.vec_id for r in ivf_rows if r.contaminated}
    assert flagged_ivf <= flagged_exact  # sound, never spurious
    for r in ivf_rows:
        assert r.max_eval_cos <= exact[r.vec_id] + 1e-9


def test_semantic_decontaminate_ivf_probes_are_bounded(spark, sf_dir):
    """The broadcast candidate relation must carry EXACTLY eval x nprobe
    vector rows (never the train x eval product), and the r9 physical
    shape must be shuffle-free: the whole computation is one Arrow scan
    (assign + per-cell matmul), no Exchange in the plan."""
    import numpy as np

    from automem_spark.operators.similarity import first_n_centroids
    from automem_spark.operators.trainprep import (
        _ivf_cell_eval_matrices,
        semantic_decontaminate_ivf,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ev = emb.filter(F.col("vec_id") % 97 == 0)
    tr = emb.filter(F.col("vec_id") % 97 != 0)
    cents = first_n_centroids(tr, 8)

    ev_rows = ev.select("vec_id", "embedding").collect()
    mats = _ivf_cell_eval_matrices(ev_rows, cents, nprobe=2)
    assert sum(m.shape[0] for m in mats.values()) == len(ev_rows) * 2
    assert all(isinstance(m, np.ndarray) for m in mats.values())

    out = semantic_decontaminate_ivf(tr, ev, threshold=0.35, centroids=cents, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_sweep_parts_exactly_partition_the_full_rows(spark, sf_dir):
    """The sf-sweep part decomposition (entry SWEEP_PARTS / sweep_part)
    comes in two contracts. semantic_decontaminate is per-item
    independent, so its n sub-checks must EXACTLY partition the full
    row's result — no rows lost or duplicated. training_pipeline's parts
    are whole-pipeline runs on doc_id-residue SUB-CORPORA (dedup/mix/pack
    are cross-document, so the full result does not decompose); there the
    contract is per-part ENGINE equivalence, which the sweeps check
    cross-engine — here we pin that each part is non-degenerate and
    deterministic."""
    import __spark_entry__ as entry

    # contract 1: exact partition (per-item independence)
    name, n = "semantic_decontaminate", entry.SWEEP_PARTS["semantic_decontaminate"]
    full = entry.queries()[name](spark, sf_dir)
    cols = full.columns
    full_rows = sorted(tuple(r) for r in full.collect())
    part_rows = []
    for k in range(n):
        fn, _sql = entry.sweep_part(name, k, n)
        part_rows.extend(tuple(r) for r in fn(spark, sf_dir).select(*cols).collect())
    assert sorted(part_rows) == full_rows, (len(part_rows), len(full_rows))

    # contract 2: sub-corpus runs are non-degenerate and deterministic
    name, n = "training_pipeline", entry.SWEEP_PARTS["training_pipeline"]
    fn, _sql = entry.sweep_part(name, 0, n)
    first = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    again = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert first and first == again


def test_semantic_decontaminate_matmul_equals_expr_path(spark, sf_dir):
    """The broadcast-matmul twin must reproduce the expression path's
    output EXACTLY (ids, rounded max cosines, flags) — the same twin
    discipline as the repetition filter's map/expr pair. Checked at the
    test SF here and exercised at sf0.01 by the driver row."""
    from automem_spark.operators.trainprep import (
        semantic_decontaminate,
        semantic_decontaminate_matmul,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    is_eval = F.col("vec_id") % 97 == 0
    train, ev = emb.filter(~is_eval), emb.filter(is_eval)
    a = {
        r["vec_id"]: (r["max_eval_cos"], r["contaminated"])
        for r in semantic_decontaminate(train, ev, threshold=0.35).collect()
    }
    b = {
        r["vec_id"]: (r["max_eval_cos"], r["contaminated"])
        for r in semantic_decontaminate_matmul(train, ev, threshold=0.35).collect()
    }
    assert set(a) == set(b)
    diff = {k: (a[k], b[k]) for k in a if a[k] != b[k]}
    assert not diff, dict(list(diff.items())[:5])


def test_decontaminate_auto_gate_is_the_measured_crossover(spark, sf_dir):
    """The size gate dispatches on the race's measured pair-count
    crossover (BENCH_SF1.md r9 table): matmul at/below sf3's winning
    point, ivf above sf10's; and the auto path at fixture scale returns
    EXACTLY the exact twin's rows."""
    from automem_spark.operators.trainprep import (
        decontaminate_path,
        semantic_decontaminate_auto,
        semantic_decontaminate_matmul,
    )

    # the measured race points, verbatim
    assert decontaminate_path(57_931, 2_069) == "matmul"   # sf3: matmul won
    assert decontaminate_path(197_938, 2_062) == "ivf"     # sf10: ivf won
    assert decontaminate_path(19_793, 207) == "matmul"
    assert decontaminate_path(10**6, 10**4) == "ivf"

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    is_eval = F.col("vec_id") % 97 == 0
    train, ev = emb.filter(~is_eval), emb.filter(is_eval)
    got = sorted(
        tuple(r) for r in semantic_decontaminate_auto(train, ev, 0.35).collect()
    )
    want = sorted(
        tuple(r) for r in semantic_decontaminate_matmul(train, ev, 0.35).collect()
    )
    assert got == want


def test_semantic_decontaminate_matmul_empty_eval_set(spark, sf_dir):
    """r9 advisor: an empty eval set used to crash the matmul kernel
    (np.asarray of zero rows -> (0,)-shape -> AxisError on the axis=1
    norm). Contract now matches the vacuous-truth reading: every item
    reports max_eval_cos 0.0 / contaminated false."""
    from automem_spark.operators.trainprep import semantic_decontaminate_matmul

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    train = emb.limit(20)
    ev = emb.filter(F.lit(False))
    rows = semantic_decontaminate_matmul(train, ev, threshold=0.35).collect()
    assert len(rows) == 20
    assert all(r.max_eval_cos == 0.0 and r.contaminated is False for r in rows)

    # the IVF path shares the crash class (quantizer fit + cell matrices
    # on a zero-row eval matrix) and must honor the same contract
    from automem_spark.operators.trainprep import semantic_decontaminate_ivf

    ivf_rows = semantic_decontaminate_ivf(train, ev, threshold=0.35).collect()
    assert len(ivf_rows) == 20
    assert all(r.max_eval_cos == 0.0 and r.contaminated is False for r in ivf_rows)


def test_estimate_rows_from_plan_stats(spark, sf_dir):
    """The dispatcher's zero-action sizing: Catalyst sizeInBytes / schema
    row-width must land within an order of magnitude of the true count on
    the real parquet tables (the crossover gate only needs magnitude)."""
    from automem_spark.operators.trainprep import estimate_rows

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    actual = emb.count()
    est = estimate_rows(emb)
    assert est is not None
    assert actual / 10 <= est <= actual * 10, (est, actual)


def test_decontaminate_auto_dispatches_without_counting(spark, sf_dir, monkeypatch):
    """r9 advisor + verdict ask #5: the dispatcher must NOT run a full
    count() scan over the train side when hints or plan statistics are
    available — at 100 TB that doubles the I/O of the job it dispatches.
    count() is poisoned here; both the hinted and the stats-derived
    dispatch must still build their plan."""
    from pyspark.sql import DataFrame

    from automem_spark.operators.trainprep import (
        semantic_decontaminate_auto,
        semantic_decontaminate_matmul,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    is_eval = F.col("vec_id") % 97 == 0
    train, ev = emb.filter(~is_eval), emb.filter(is_eval)

    def no_count(self):
        raise AssertionError("dispatcher ran a count() action")

    monkeypatch.setattr(DataFrame, "count", no_count)
    # hinted: the gate uses the hints verbatim, zero actions to decide
    hinted = semantic_decontaminate_auto(train, ev, 0.35, n_train=100, n_eval=5)
    # stats-derived: parquet scans always carry sizeInBytes, so the
    # estimate path resolves both sides without count()
    derived = semantic_decontaminate_auto(train, ev, 0.35)
    monkeypatch.undo()
    want = sorted(
        tuple(r) for r in semantic_decontaminate_matmul(train, ev, 0.35).collect()
    )
    assert sorted(tuple(r) for r in hinted.collect()) == want
    assert sorted(tuple(r) for r in derived.collect()) == want
