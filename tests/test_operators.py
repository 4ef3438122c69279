"""Operator tests over the driver's synthetic tables (sf0.001)."""

import pytest
from pyspark.sql import functions as F

from automem_spark.sources.tables import load_table, memories_view
from automem_spark.operators.topk import top_k_per_group
from automem_spark.operators.asof import preceding_within_window
from automem_spark.operators.dedup import (
    exact_dedup,
    fingerprint_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from automem_spark.operators.similarity import (
    cosine_topk_mapinpandas,
    cosine_threshold_self_join,
)
from dedup_oracle import (
    exploded_shingles,
    minhash_banded_columns,
    minhash_banded_sql,
    minhash_pairs_oracle,
    simhash64_expr,
)
from automem_spark.operators.textquality import text_profile
from automem_spark.operators.recall import RecallRequest, recall


def test_top_k_per_group(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    got = top_k_per_group(
        orders, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], 2
    )
    counts = got.groupBy("o_custkey").count().agg(F.max("count")).collect()[0][0]
    assert counts <= 2
    # spot-check one customer against a local sort
    one = orders.limit(1).collect()[0].o_custkey
    local = sorted(
        orders.filter(F.col("o_custkey") == one).collect(),
        key=lambda r: (-r.o_totalprice, r.o_orderkey),
    )[:2]
    got_one = got.filter(F.col("o_custkey") == one).orderBy(F.desc("o_totalprice")).collect()
    assert [r.o_orderkey for r in got_one] == [r.o_orderkey for r in local]


def test_preceding_within_window(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").limit(500)
    got = preceding_within_window(
        events, id_col="event_id", ts_col="ts", partition_cols=["user_id"],
        window_days=7.0, n_recent=3,
    )
    rows = got.collect()
    assert all(r.prev_ts < r.ts for r in rows)
    assert all(r.rank <= 3 for r in rows)
    # window bound: prev within 7 days
    assert all((r.ts - r.prev_ts).total_seconds() <= 7 * 86400 for r in rows)


def test_exact_and_fingerprint_dedup(spark):
    rows = [
        (1, "Hello World"),
        (2, "hello,  world!"),  # same after normalization
        (3, "something else"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = exact_dedup(df).orderBy("doc_id").collect()
    assert len(got) == 2
    assert got[0].doc_id == 1 and got[0].dup_count == 2
    got = fingerprint_dedup(df).orderBy("doc_id").collect()
    assert len(got) == 2


def test_ngram_jaccard_and_minhash_consistency(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(120)
    exact = {
        (r.src, r.dst)
        for r in ngram_jaccard_pairs(docs, 0.35, n=3).collect()
    }
    lsh = {
        (r.src, r.dst)
        for r in minhash_lsh_pairs(docs, 0.35, n=3, num_hashes=64, bands=32).collect()
    }
    # verified LSH output is a subset of the exact result...
    assert lsh <= exact
    # ...and with 32 bands of 2 rows recall at j>=0.35 should be decent
    if exact:
        assert len(lsh) >= len(exact) * 0.5


def test_simhash_near_dup_property(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),
        (3, "completely different content about spark query optimization engines"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.sh for r in df.select("doc_id", simhash64_expr(F.col("text")).alias("sh")).collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(got[1], got[2]) < hamming(got[1], got[3])
    assert hamming(got[1], got[2]) < hamming(got[2], got[3])


def test_cosine_topk_join_vs_mapinpandas(spark, sf_dir):
    """The exact top-k kernel equals a driver-side NumPy top-k: same ids in
    (-sim, id) order per query, sims within 1e-12."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    qmat = [(str(ids[i]), list(mat[i])) for i in range(3)]
    got = cosine_topk_mapinpandas(emb, qmat, 5, item_id="vec_id").collect()
    for qid, qv in qmat:
        sims = (mat @ np.array(qv)) / np.linalg.norm(mat, axis=1) / np.linalg.norm(qv)
        want = sorted(zip(-sims, ids))[:5]
        mine = sorted((-r.sim, r.id) for r in got if r.query_id == qid)
        assert [i for _, i in mine] == [int(i) for _, i in want]
        assert all(abs(a - b) < 1e-12 for (a, _), (b, _) in zip(mine, want))
        # self is top-1 with sim ~1
        assert str(mine[0][1]) == qid and abs(mine[0][0] + 1.0) < 1e-9


def test_cosine_threshold_self_join_symmetric(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(60)
    got = cosine_threshold_self_join(emb, 0.5, item_id="vec_id").collect()
    assert all(r.src < r.dst for r in got)
    assert all(r.sim >= 0.5 for r in got)


def test_text_profile(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    got = text_profile(docs).collect()
    assert all(0.0 <= r.quality_score <= 1.0 for r in got)
    assert all(r.n_tokens > 0 for r in got)
    assert all(r.n_bpe_tokens >= r.n_tokens for r in got)


def test_recall_end_to_end(spark, sf_dir):
    memories = memories_view(spark, sf_dir)
    req = RecallRequest(query="spark query window", limit=5)
    got = recall(memories, req).collect()
    assert 0 < len(got) <= 5
    # sorted by final_score desc
    scores = [r.final_score for r in got]
    assert scores == sorted(scores, reverse=True)
    # no archived / MetaPattern rows
    assert all(not r.archived for r in got)
    assert all(r.type != "MetaPattern" for r in got)


def test_recall_trending(spark, sf_dir):
    memories = memories_view(spark, sf_dir)
    got = recall(memories, RecallRequest(query="", limit=5)).collect()
    assert len(got) == 5
    assert all(r.match_type == "trending" for r in got)


def test_recall_tag_scoped(spark, sf_dir):
    memories = memories_view(spark, sf_dir)
    req = RecallRequest(query="spark", limit=10, tags=["lang:en"], tag_match="prefix")
    got = recall(memories, req).collect()
    assert all("lang:en" in r.tags for r in got)


def test_minhash_hot_bucket_cap_bounds_candidates(spark):
    """One mega-cluster of identical docs must NOT go quadratic: with the
    per-(band,bucket) cap, its buckets are dropped wholesale, while pairs
    among ordinary near-dup docs are still found (VERDICT r1-r3 scale flag).
    """
    boiler = "permission is hereby granted free of charge to any person obtaining a copy of this software"
    rows = [(i, boiler) for i in range(50)]
    rows += [
        (100, "spark shuffles data across the cluster during wide transformations"),
        (101, "spark shuffles data across the cluster during wide transformation stages"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = minhash_lsh_pairs(
        df, 0.35, n=3, num_hashes=16, bands=8, verify=False, max_bucket_size=0
    ).count()
    assert uncapped >= 50 * 49 / 2  # the mega-cluster alone is quadratic

    capped = minhash_lsh_pairs(
        df, 0.35, n=3, num_hashes=16, bands=8, verify=False, max_bucket_size=20
    )
    got = {(r.src, r.dst) for r in capped.collect()}
    assert (100, 101) in got           # ordinary near-dups survive
    assert len(got) < 50               # mega-cluster candidates are gone


def test_simhash_pairs_banded_equals_bruteforce(spark, sf_dir):
    """Pigeonhole exactness on the production xxhash64 fingerprint: the
    banded hamming join must EQUAL the O(N²) brute-force result at
    max_hamming <= bands-1 (4 bands, hamming 3)."""
    from pyspark.sql import functions as F

    from automem_spark.operators.dedup import simhash_pairs
    from automem_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    banded = {
        (r.src, r.dst, r.hamming)
        for r in simhash_pairs(docs, 3, n_bits=64, bands=4).collect()
    }
    sh = docs.select("doc_id", simhash64_expr(F.col("text")).alias("sh"))
    a = sh.select(F.col("doc_id").alias("src"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("dst"), F.col("sh").alias("sb"))
    brute = {
        (r.src, r.dst, r.hamming)
        for r in a.join(b, F.col("src") < F.col("dst"))
        .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("bigint"))
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == brute
    assert brute  # non-vacuous: the fixture contains near-dup pairs


def test_bucketed_candidate_pairs_payload_matches_plain(spark):
    """r15: the payload variant (fingerprint rides the bucket shuffle so
    the verify step needs no joins) must emit EXACTLY the plain variant's
    (src, dst) pair set, with each pair's payloads equal to the source
    rows' values — including the duplicate-collision case (same pair from
    two bands dedups to one row on both paths)."""
    from pyspark.sql import functions as F

    from automem_spark.operators.dedup import bucketed_candidate_pairs

    rows = [
        # band 0: bucket 7 holds ids 1,2,3; band 1: bucket 9 holds 2,3
        # (pair (2,3) collides in BOTH bands -> distinct must collapse it)
        (1, 0, 7), (2, 0, 7), (3, 0, 7), (2, 1, 9), (3, 1, 9),
        (4, 1, 11),  # singleton bucket: no pairs
    ]
    banded = spark.createDataFrame(rows, "id long, band int, bucket long")
    with_payload = banded.withColumn("sh", F.col("id") * 100)
    plain = {
        (r.src, r.dst) for r in bucketed_candidate_pairs(banded, 512).collect()
    }
    got = bucketed_candidate_pairs(with_payload, 512, payload="sh").collect()
    assert {(r.src, r.dst) for r in got} == plain == {(1, 2), (1, 3), (2, 3)}
    assert len(got) == len(plain)  # the two-band collision dedups
    for r in got:
        assert r.src_sh == r.src * 100 and r.dst_sh == r.dst * 100


def test_near_dup_dedup_transitive_clusters(spark):
    """A~B and B~C must collapse {A,B,C} into one cluster with one keeper
    even when A~C itself missed the pair threshold."""
    from automem_spark.operators.dedup import near_dup_dedup

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "src long, dst long"
    )
    got = {r.id: (r.component, r.keep) for r in near_dup_dedup(docs, pairs).collect()}
    assert {got[i][0] for i in (0, 1, 2)} == {0}
    assert [got[i][1] for i in (0, 1, 2)] == [True, False, False]
    assert got[3] == (3, True)          # singleton keeps itself
    assert got[4] == (4, True) and got[5] == (4, False)


def test_simhash_signatures_match_expression_form(spark, sf_dir):
    """The exploded high-throughput SimHash pass must be bit-identical to
    the per-row expression definition (including empty documents -> 0)."""
    from pyspark.sql import functions as F

    from automem_spark.operators.dedup import simhash64_signatures
    from automem_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    docs = docs.unionByName(
        spark.createDataFrame(
            [(100001, "", "en", "srcx", 0)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).select(*docs.columns)
    )
    expr = {r.doc_id: r.sh for r in docs.select("doc_id", simhash64_expr(F.col("text")).alias("sh")).collect()}
    fast = {r.id: r.sh for r in simhash64_signatures(docs).collect()}
    assert fast == expr
    assert fast[100001] == 0


def test_minhash_banded_sql_matches_columns(spark, sf_dir):
    # the two forms of the test-side MinHash banding oracle (SQL text and
    # Column tree) must be row-identical
    docs = load_table(spark, sf_dir, "documents").limit(200)
    exploded = exploded_shingles(docs)
    a = spark.sql(minhash_banded_sql(64, 32), exploded=exploded)
    b = minhash_banded_columns(exploded, 64, 32)
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_minhash_banded_map_matches_sql(spark, sf_dir):
    """The r14 Arrow signature kernel (minhash_banded_map) must be
    bit-identical to the SQL-text oracle — (id, band, bucket) row
    sets equal on the real corpus PLUS the degenerate shapes the tokenizer
    parity depends on (NULL, empty, punctuation-only, sub-n-gram, unicode,
    duplicate-shingle and >32-byte-shingle docs)."""
    from automem_spark.operators.dedup import minhash_banded_map

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        [
            (900001, None),
            (900002, ""),
            (900003, "!!! ... ??"),
            (900004, "one"),
            (900005, "two words"),
            (900006, "éü中文 mixed ASCII tokens here"),
            (900007, "supercalifragilistic expialidocious antidisestablishmentarianism verylongtokenstretchingpastthirtytwo bytes indeed"),
            (900008, "dup dup dup dup dup dup"),
            (900009, "Tab\tand\nnewline   runs"),
        ],
        "doc_id long, text string",
    )
    d = docs.unionByName(extra)
    kernel = minhash_banded_map(d, num_hashes=64, bands=16)
    sql = spark.sql(minhash_banded_sql(64, 16), exploded=exploded_shingles(d))
    # names+types identical; nullability differs by construction
    # (mapInPandas output fields are always nullable)
    assert [(f.name, f.dataType) for f in kernel.schema.fields] == [
        (f.name, f.dataType) for f in sql.schema.fields
    ]
    a = sorted(map(tuple, kernel.collect()))
    b = sorted(map(tuple, sql.collect()))
    assert a == b
    # non-degenerate: every doc contributes exactly `bands` rows
    assert len(a) == d.count() * 16


def test_minhash_pairs_identical_across_impls(spark, sf_dir):
    """End-to-end pin: minhash_lsh_pairs (Arrow signature kernel) produces
    the same verified (src, dst, jaccard) set as the test-side SQL-oracle
    pipeline — SQL banding, the same bucket pairing, exact Jaccard from
    ngram_jaccard_pairs — also at a non-default (num_hashes, bands, n)
    shape. Every pair is therefore an exact ngram_jaccard_pairs pair with
    an equal Jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    for kw in (dict(), dict(n=2, num_hashes=32, bands=8)):
        a = {
            (r.src, r.dst, r.jaccard)
            for r in minhash_lsh_pairs(docs, 0.35, **kw).collect()
        }
        b = {
            (r.src, r.dst, r.jaccard)
            for r in minhash_pairs_oracle(docs, 0.35, **kw).collect()
        }
        assert a == b
        assert a  # fixture yields near-dup pairs


_TEXT_EDGE_ROWS = [
    (1, None),
    (2, ""),
    (3, "   "),
    (4, "!!! ... ??"),
    (5, "a_b-c d"),
    (6, "héllo wörld"),
    (7, "的 是 了 在 我"),
    (8, "tab\tnew\nline  runs"),
    (9, "MiXeD CaSe UNDER_score 123"),
    (10, "the and with this that stopword heavy text the the"),
    (11, "emoji 😀 test ı İ ß ﬁ"),
    (12, " lead trail "),
    (13, "a" * 5000),
    (14, "punct,only;;here..and!there"),
]


def _text_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(_TEXT_EDGE_ROWS, "doc_id long, text string")
    return docs.unionByName(extra)


def test_words_expr_single_regex_matches_3pass(spark, sf_dir):
    """The r14 single-regex tokenizer must emit exactly the legacy 3-pass
    chain's token lists: both produce the maximal \\w-runs of the
    lowercased text, on the corpus AND the adversarial edge rows."""
    from automem_spark.operators.textquality import words_expr, words_expr_3pass

    d = _text_corpus(spark, sf_dir)
    a = d.select("doc_id", words_expr(F.col("text")).alias("w"))
    b = d.select("doc_id", words_expr_3pass(F.col("text")).alias("w"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_text_stats_frame_bit_identical_to_exprs(spark, sf_dir):
    """text_stats_frame's fused single-tokenization outputs must be
    bit-identical to the three separate expressions (which in turn anchor
    the DuckDB oracle row)."""
    from automem_spark.operators.textquality import (
        bpe_ish_token_count_expr,
        quality_score_expr,
        text_stats_frame,
        token_count_expr,
    )

    d = _text_corpus(spark, sf_dir)
    fused = text_stats_frame(d).select(
        "doc_id", "n_tokens", "n_bpe_tokens", "quality"
    )
    sep = d.select(
        "doc_id",
        token_count_expr(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count_expr(F.col("text")).alias("n_bpe_tokens"),
        quality_score_expr(F.col("text")).alias("quality"),
    )
    assert fused.schema == sep.schema
    assert fused.exceptAll(sep).count() == 0 and sep.exceptAll(fused).count() == 0


def test_text_stats_map_bit_identical_to_frame(spark, sf_dir):
    """The Arrow-kernel twin (r14) must agree with text_stats_frame
    EXACTLY — schema and values, including the unrounded quality double
    and null-text propagation — on the corpus AND the adversarial edge
    rows. The expression frame stays the oracle anchor, so any divergence
    here breaks the chain of evidence (the repetition_filter_map
    pattern)."""
    from automem_spark.operators.textquality import (
        text_stats_frame,
        text_stats_map,
    )

    d = _text_corpus(spark, sf_dir)
    cols = ["doc_id", "n_tokens", "n_bpe_tokens", "quality"]
    frame = text_stats_frame(d).select(*cols)
    kernel = text_stats_map(d).select(*cols)
    assert frame.schema == kernel.schema
    assert frame.exceptAll(kernel).count() == 0
    assert kernel.exceptAll(frame).count() == 0


def test_text_stats_auto_dispatches_on_bound(spark, sf_dir, monkeypatch):
    """The size dispatch must pick the kernel when the plan estimate is at
    or above TEXT_STATS_KERNEL_MIN_ROWS and the expression frame below it."""
    from automem_spark.operators import textquality
    from automem_spark.operators.textquality import text_stats_auto

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    monkeypatch.setattr(textquality, "TEXT_STATS_KERNEL_MIN_ROWS", 1)
    plan_kernel = text_stats_auto(d)._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(textquality, "TEXT_STATS_KERNEL_MIN_ROWS", 10**12)
    plan_frame = text_stats_auto(d)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan_kernel
    assert "MapInPandas" not in plan_frame


def test_text_stats_map_rejects_output_column_clash(spark):
    from automem_spark.operators.textquality import text_stats_map

    df = spark.createDataFrame(
        [(1, "a", 2)], "doc_id long, text string, n_tokens int"
    )
    with pytest.raises(ValueError, match="collide"):
        text_stats_map(df)


def test_quality_score_single_pass_matches_legacy_two_pass(spark, sf_dir):
    """quality_score_expr's r14 single-aggregate form must be bit-identical
    to the legacy open-coded two-tokenization blend."""
    from automem_spark.operators.textquality import (
        LANG_MARKERS,
        lang_hits_expr,
        quality_score_expr,
        words_expr_3pass,
    )

    t = F.col("text").cast("string")
    n_words = F.size(words_expr_3pass(t)).cast("double")
    n_chars = F.greatest(F.length(t).cast("double"), F.lit(1.0))
    alpha = F.length(F.regexp_replace(t, r"[^a-zA-Z]", "")).cast("double")
    punct = F.length(F.regexp_replace(t, r"[\w\s]", "")).cast("double")
    stop_hits = lang_hits_expr(t, LANG_MARKERS["en"]).cast("double")
    legacy = (
        F.lit(0.25) * F.least(F.lit(1.0), n_words / 100.0)
        + F.lit(0.25) * (alpha / n_chars)
        + F.lit(0.25) * F.least(F.lit(1.0), stop_hits / 5.0)
        + F.lit(0.25)
        * (F.lit(1.0) - F.least(F.lit(1.0), punct / n_chars * 5.0))
    )
    d = _text_corpus(spark, sf_dir)
    a = d.select("doc_id", quality_score_expr(F.col("text")).alias("q"))
    b = d.select("doc_id", legacy.alias("q"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_cosine_pair_helpers_norm_precompute_bit_identical(spark, sf_dir):
    """r14: the threshold self-join binds per-row norms before its N² join
    (2 of 3 O(d) aggregate passes per pair were redundant). denom = na*nb
    is the identical product, so sims must be BIT-identical to the inline
    cosine_expr form — including the zero-norm guard rows. The top-k
    kernel (NumPy matmul) must return the inline-cosine reference's ids,
    with sims within 1e-12, zero-norm rows included."""
    from automem_spark.functions.vector import cosine_expr
    from automem_spark.operators.similarity import (
        cosine_threshold_self_join,
        ensure_parallelism,
    )
    from automem_spark.operators.topk import partial_top_k_per_group

    emb = load_table(spark, sf_dir, "embeddings")
    zero = spark.createDataFrame(
        [(900001, [0.0] * 64), (900002, [0.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    emb = emb.select("vec_id", F.col("embedding").cast("array<double>")).unionByName(
        zero
    )

    # self-join vs inline-cosine reference
    items = ensure_parallelism(emb)
    a = items.select(F.col("vec_id").alias("src"), F.col("embedding").alias("va"))
    b = items.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("vb"))
    ref = (
        a.join(F.broadcast(b), F.col("src") < F.col("dst"))
        .withColumn("sim", cosine_expr(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= 0.25)
        .select("src", "dst", "sim")
    )
    new = cosine_threshold_self_join(emb, 0.25, item_id="vec_id")
    assert new.exceptAll(ref).count() == 0 and ref.exceptAll(new).count() == 0

    # top-k kernel vs inline-cosine reference (zero-norm rows as queries too)
    queries = emb.filter((F.col("vec_id") < 4) | (F.col("vec_id") >= 900001)).select(
        F.col("vec_id").cast("string").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    joined = (
        ensure_parallelism(emb.select("vec_id", "embedding"))
        .crossJoin(F.broadcast(queries))
        .withColumn("sim", cosine_expr(F.col("embedding"), F.col("query_embedding")))
    )
    ref_k = partial_top_k_per_group(
        joined.select("query_id", "vec_id", "sim"),
        ["query_id"],
        [F.desc("sim"), F.asc("vec_id")],
        5,
    )
    qmat = [(r.query_id, list(r.query_embedding)) for r in queries.collect()]
    new_k = cosine_topk_mapinpandas(emb, qmat, 5, item_id="vec_id")
    ref = sorted((r.query_id, r.vec_id, r.sim) for r in ref_k.collect())
    new = sorted((r.query_id, r.id, r.sim) for r in new_k.collect())
    assert len(ref) == 6 * 5
    assert [r[:2] for r in new] == [r[:2] for r in ref]
    assert all(abs(a[2] - b[2]) < 1e-12 for a, b in zip(new, ref))


def test_shingles_expr_lambda_binding_identical(spark, sf_dir):
    """r14: shingles_expr binds the word array as a lambda variable (the
    raw-subtree form re-ran the tokenizer once per shingle index). Output
    must equal the legacy open-coded form on the corpus + edge rows."""
    from automem_spark.operators.dedup import normalized_text_expr, shingles_expr

    def legacy(text, n):
        words = F.split(normalized_text_expr(text), " ")
        idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
        return F.array_distinct(
            F.when(F.size(words) < n, F.array(F.concat_ws(" ", words))).otherwise(
                F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
            )
        )

    d = _text_corpus(spark, sf_dir)
    for n in (2, 3):
        a = d.select("doc_id", legacy(F.col("text"), n).alias("sh"))
        b = d.select("doc_id", shingles_expr(F.col("text"), n).alias("sh"))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
