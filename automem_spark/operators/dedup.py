"""Deduplication family over a memory or document corpus.

The reference dedups only at result level (R7 fingerprint, recall.py:310-389).
These operators add corpus-level dedup, each as a DataFrame program:

- exact_dedup: hash-groupBy on normalized content (one shuffle).
- fingerprint_dedup: the reference's 320-char fingerprint as corpus dedup.
- ngram_jaccard_pairs: exact n-gram-shingle Jaccard over candidate pairs.
- minhash_lsh_pairs: MinHash + banded LSH. One Arrow pass computes the
  signatures and band buckets (`minhash_banded_map`) → (band, bucket)
  pair generation → exact Jaccard verify.
- simhash64_signatures: 64-bit SimHash fingerprints from token hashes.
- simhash_pairs: banded hamming join — pigeonhole-exact near-dup pairs at
  hamming <= bands-1, sharing the one-shuffle bucket pair machinery.

The SQL-expression twins of the MinHash banding and of SimHash64 are test
oracles (tests/dedup_oracle.py); the kernels are pinned bit-identical to
them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from automem_spark.functions.text import fingerprint_expr
from automem_spark.plans.checkpoint import maybe_checkpoint
from automem_spark.plans.parallelism import ensure_parallelism


def normalized_text_expr(text: Column) -> Column:
    """lowercase, collapse whitespace/punct — shared normalization."""
    t = F.lower(text.cast("string"))
    t = F.regexp_replace(t, r"[^\w\s]", " ")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per exact normalized-content group.

    Scale: single shuffle on a 64-bit hash of the normalized text; group
    payload is just (hash, id), so skew is bounded by duplicate-cluster size.

    r15 NEGATIVE RESULT (measured, kept for the record): ensure_parallelism
    at this head was A/B-raced interleaved — sf0.1 count 0.345 -> 0.763 s
    (the headline dedup_exact row pays the extra exchange) vs .sf1 0.833 ->
    0.723 (marginal) — the hash+normalize chain here is too cheap per row
    to buy back the shuffle, unlike the extract_entities/simhash class.
    Callers that need the scan parallelized (training_selection) do it at
    their own head, where it also covers their other projections.
    """
    h = F.xxhash64(normalized_text_expr(F.col(text_col)))
    return (
        df.withColumn("content_hash", h)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
    )


def fingerprint_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-identical dedup on the reference's 320-char fingerprint (X9).

    r15: ensure_parallelism at the head, so the regex-heavy fingerprint
    runs on a parallel scan instead of a single split — measured
    4.9 -> 3.2 s at .sf1 (OPTIMIZATION_r15.md). The same change at
    exact_dedup's cheap hash head measured negative (see its docstring)."""
    return (
        ensure_parallelism(df).withColumn("fp", fingerprint_expr(F.col(text_col)))
        .filter(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
    )


def shingles_expr(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle set as array<string> (JVM-only).

    r14: the word array is BOUND as a lambda variable (transform over a
    single-element wrapper array) instead of appearing as a raw subtree.
    The inner `transform(idx, i -> concat_ws(slice(words, ...)))` lambda
    referenced `words` in its body, and expressions inside a lambda body
    are re-evaluated per element — the full normalize+split tokenization
    ran once PER SHINGLE INDEX, O(len²) per document. Bound, it runs once
    per row; the slice reads are O(1) lambda-variable lookups. Same
    computation per value (null/short-text branches unchanged) —
    measured exceptAll-identical over the sf0.1 corpus and pinned by the
    minhash kernel-vs-sql bit-identity tests; 4.273 → 0.345 s noop at
    sf0.1 (−92%)."""

    def body(words: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
        return F.array_distinct(
            F.when(F.size(words) < n, F.array(F.concat_ws(" ", words))).otherwise(
                F.transform(
                    idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n))
                )
            )
        )

    wrapped = F.array(F.split(normalized_text_expr(text), " "))
    return F.element_at(F.transform(wrapped, body), 1)


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs >= threshold.

    O(N²) — the correctness oracle for minhash_lsh_pairs; at scale use the
    LSH variant which post-verifies with this same Jaccard expression.
    Output: (src, dst, jaccard) with src < dst.
    """
    df = ensure_parallelism(df)
    a = df.select(
        F.col(id_col).alias("src"), shingles_expr(F.col(text_col), n).alias("sh_a")
    )
    b = df.select(
        F.col(id_col).alias("dst"), shingles_expr(F.col(text_col), n).alias("sh_b")
    )
    # explicit broadcast: same stats-blind-cartesian degradation class as
    # cosine_threshold_self_join (similarity.py) — a bounded slice of a
    # large table over-estimates and the non-equi join falls from BNLJ to
    # CartesianProduct with |a|x|b| partitions. O(N²) domain = small b.
    pairs = a.join(F.broadcast(b), F.col("src") < F.col("dst"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(0.0)
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("src", "dst", "jaccard")
    )


def minhash_banded_map(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """MinHash band buckets (id, band, bucket) straight from the document
    rows in ONE ``mapInPandas`` pass — no shingle explode, no signature
    groupBy shuffle. Bit-identical to the SQL-expression oracle in
    tests/dedup_oracle.py (pinned by
    tests/test_operators.py::test_minhash_banded_map_matches_sql and the
    property test).

    Why a kernel: the SQL expression form explodes to one row PER SHINGLE,
    re-hashes the shingle string ``num_hashes`` times (64 full xxhash64
    passes over the bytes — Catalyst has no common-subexpression
    elimination across the seed children), and shuffles (docs × 64) longs
    through a groupBy to take the mins. The kernel hashes each shingle's
    bytes ONCE (vectorized numpy XXH64, functions/xxh64np.py) and derives
    all 64 seed variants with the 5-op ``hashInt`` chain Spark itself
    applies to the INT literal child — then takes per-doc mins with
    ``np.minimum.reduceat`` and band-buckets locally. Zero shuffles in the
    signature stage; the only remaining exchange in the LSH pipeline is the
    (band, bucket) groupBy that candidate generation genuinely needs.

    Bit-identity contract with the SQL oracle (all property-pinned):
    - tokenizer: ``re.ASCII`` mirrors Java's ASCII-only ``\\w``/``\\s`` in
      ``normalized_text_expr``; NULL text normalizes to ``""`` exactly like
      the expression chain (split(NULL) -> one empty shingle);
    - duplicate shingles are NOT deduped here — min() is duplicate-blind,
      so skipping ``array_distinct`` cannot change any signature value;
    - signature mins compare SIGNED int64 (Spark BIGINT semantics);
    - bucket = xxhash64 of the comma-joined SIGNED decimal signature
      segment, same as ``concat_ws(',', cast(s AS string)...)``.

    Per-task work is linear in that task's bytes, output is exactly
    (docs × bands) rows, and the Python crossing is Arrow-batched (10k
    docs/batch) with vectorized numpy inside — the same scan-speed shape
    as the similarity kernels.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id {id_type}, band int, bucket bigint"
    kernel = _minhash_band_kernel(text_col, id_col, n, num_hashes, bands)
    return df.select(id_col, text_col).mapInPandas(kernel, schema=out_schema)


def _minhash_band_kernel(
    text_col: str, id_col: str, n: int, num_hashes: int, bands: int
):
    """The ``mapInPandas`` function of :func:`minhash_banded_map`: an
    iterator of pandas batches in, (id, band, bucket) batches out."""
    import re as _re
    from typing import Iterator

    import numpy as np

    from automem_spark.functions.asciitok import ascii_token_spans
    from automem_spark.functions.xxh64np import (
        hash_int_seedchain,
        pad_bytes,
        pad_spans,
        xxh64_padded,
    )

    rows_per_band = num_hashes // bands
    punct = _re.compile(r"[^\w\s]", _re.ASCII)
    ws = _re.compile(r"\s+", _re.ASCII)

    def _py_shingle_matrix(texts):
        """Per-row Python shingle builder — the original (r14.0) kernel
        path, kept as the tokenizer for non-ASCII/null rows AND as the
        reference the vectorized path is pinned against."""
        import pandas as pd

        blobs: list[bytes] = []
        counts = np.empty(len(texts), dtype=np.int64)
        for k, text in enumerate(texts):
            if text is None or (not isinstance(text, str) and pd.isna(text)):
                norm = ""
            else:
                norm = ws.sub(" ", punct.sub(" ", str(text).lower())).strip()
            words = norm.split(" ")
            if len(words) < n:
                sh = [norm]
            else:
                sh = [
                    " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
                ]
            counts[k] = len(sh)
            blobs.extend(s.encode("utf-8") for s in sh)
        B, lens = pad_bytes(blobs)
        return B, lens, counts

    def _ascii_shingle_matrix(sub):
        """Vectorized twin of :func:`_py_shingle_matrix` for an ASCII,
        null-free Arrow StringArray (r14): shingles are byte SLICES of the
        canonical normalized buffer — ``" ".join(words[i:i+n])`` is
        ``comp[tok_start[i] : tok_start[i+n-1] + tok_len[i+n-1]]`` by the
        ``ascii_token_spans`` contract — so no per-row Python strings are
        ever built. Short docs (< n tokens) contribute ONE whole-text
        shingle exactly like the Python branch."""
        comp, tok_start, tok_len, per_doc = ascii_token_spans(sub)
        m = len(sub)
        ntok = len(tok_start)
        doc_of = np.repeat(np.arange(m, dtype=np.int64), per_doc)
        counts = np.where(per_doc >= n, per_doc - n + 1, 1)
        if ntok >= n:
            win = doc_of[: ntok - n + 1] == doc_of[n - 1 :]
            w_idx = np.flatnonzero(win)
        else:
            w_idx = np.zeros(0, np.int64)
        w_start = tok_start[w_idx] if len(w_idx) else np.zeros(0, np.int64)
        w_len = (
            tok_start[w_idx + n - 1] + tok_len[w_idx + n - 1] - w_start
            if len(w_idx)
            else np.zeros(0, np.int64)
        )
        w_doc = doc_of[w_idx] if len(w_idx) else np.zeros(0, np.int64)
        # whole-text shingle for docs with fewer than n tokens (0-token
        # docs normalize to "", matching split("")->[""] on the Python side)
        s_docs = np.flatnonzero(per_doc < n)
        tok_cum = np.concatenate(([0], np.cumsum(per_doc)))
        first = tok_cum[s_docs]
        ntoks = per_doc[s_docs]
        has = ntoks > 0
        safe_first = np.minimum(first, max(ntok - 1, 0))
        safe_last = np.minimum(first + ntoks - 1, max(ntok - 1, 0))
        if ntok:
            s_start = np.where(has, tok_start[safe_first], 0)
            s_len = np.where(
                has, tok_start[safe_last] + tok_len[safe_last] - s_start, 0
            )
        else:
            s_start = np.zeros(len(s_docs), np.int64)
            s_len = np.zeros(len(s_docs), np.int64)
        # merge the two shingle streams back into doc order (stable sort:
        # within a doc only ONE stream contributes, so intra-doc order —
        # token order — is preserved)
        all_doc = np.concatenate((w_doc, s_docs))
        order = np.argsort(all_doc, kind="stable")
        starts = np.concatenate((w_start, s_start))[order]
        lens = np.concatenate((w_len, s_len))[order]
        B = pad_spans(comp, starts, lens)
        return B, lens, counts

    def _sig_rows(ids_np, B, lens, counts):
        """(padded shingles, per-doc counts) -> (id, band, bucket) arrays."""
        n_docs = len(counts)
        h_str = xxh64_padded(B, lens)  # seed 42, one pass per shingle
        starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
        sig = np.empty((n_docs, num_hashes), dtype=np.int64)
        for i in range(num_hashes):
            sig[:, i] = np.minimum.reduceat(
                hash_int_seedchain(i, h_str).view(np.int64), starts
            )
        sig_rows = sig.tolist()
        bucket_blobs = [
            ",".join(map(str, row[b * rows_per_band : (b + 1) * rows_per_band]))
            .encode()
            for row in sig_rows
            for b in range(bands)
        ]
        B2, l2 = pad_bytes(bucket_blobs)
        buckets = xxh64_padded(B2, l2).view(np.int64)
        return (
            ids_np.repeat(bands),
            np.tile(np.arange(bands, dtype=np.int32), n_docs),
            buckets,
        )

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        for pdf in batches:
            n_docs = len(pdf)
            if n_docs == 0:
                continue
            ids_np = pdf[id_col].to_numpy()
            try:
                arr = pa.array(pdf[text_col], type=pa.string(), from_pandas=True)
            except pa.lib.ArrowCapacityError:
                arr = None
            if not isinstance(arr, pa.Array):
                # a batch whose text exceeds the 2 GiB pa.string() payload
                # cap (possible at maxRecordsPerBatch docs of huge text)
                # comes back as a ChunkedArray, or raises: fall back to the
                # per-row Python path for the whole batch instead of
                # failing the task in take() below
                ids_r, band_r, bucket_r = _sig_rows(
                    ids_np, *_py_shingle_matrix(list(pdf[text_col]))
                )
                yield pd.DataFrame(
                    {"id": ids_r, "band": band_r, "bucket": bucket_r}
                )
                continue
            fast = pc.and_kleene(pc.string_is_ascii(arr), pc.is_valid(arr))
            fast_np = np.equal(fast.to_numpy(zero_copy_only=False), True)
            frames = []
            fast_idx = np.flatnonzero(fast_np)
            # bounded sub-batches: the vectorized path's transient arrays
            # (per-byte scatter indices, the padded matrix) scale with docs
            # × shingle bytes; at 10k-doc Arrow batches × 32 concurrent
            # workers the >32 MB allocations go through mmap and the page-
            # fault storm serializes on the kernel (measured: 8x wall at
            # .sf10). 2k docs keeps every allocation in the malloc-arena
            # regime with no measurable vectorization loss.
            for lo in range(0, len(fast_idx), 2048):
                chunk = fast_idx[lo : lo + 2048]
                # arr is a pa.Array, so take() returns a pa.Array of the
                # same (pa.string) type — the contract ascii_token_spans
                # now enforces with its own type guard
                sub = arr.take(pa.array(chunk))
                frames.append(
                    _sig_rows(ids_np[chunk], *_ascii_shingle_matrix(sub))
                )
            slow_idx = np.flatnonzero(~fast_np)
            if len(slow_idx):
                texts = [pdf[text_col].iloc[int(i)] for i in slow_idx]
                frames.append(
                    _sig_rows(ids_np[slow_idx], *_py_shingle_matrix(texts))
                )
            for ids_r, band_r, bucket_r in frames:
                yield pd.DataFrame(
                    {"id": ids_r, "band": band_r, "bucket": bucket_r}
                )

    return kernel


def bucketed_candidate_pairs(
    banded: DataFrame, max_bucket_size: int = 512, payload: str | None = None
) -> DataFrame:
    """Candidate pairs from a (id, band, bucket) frame in ONE shuffle.

    The bucket-size gate is a count window over the SAME key as the
    collect_list aggregate, so Catalyst plans a single exchange feeding
    window → filter → group-agg (vs the r4 shape: checkpoint + count-agg +
    broadcast anti-join + SMJ self-join + distinct — four extra passes and
    an eagerly-materialized localCheckpoint whose blocks were never freed,
    taxing every later query in a shared session). Bucket membership after
    the gate is ≤ max_bucket_size, so the per-group array and the
    flatten-of-pairs expression are both bounded (cap² pairs worst-case per
    bucket) — no skewed reducer, no unbounded collect_list. Shared by the
    MinHash-LSH and SimHash banding strategies.

    `payload` (r15, guide §2.3/§3.3): name of an extra NARROW column of
    `banded` (functionally determined by `id`, e.g. the 8-byte SimHash
    fingerprint) to carry through the bucket shuffle and emit on each pair
    as `src_<payload>` / `dst_<payload>`. A caller whose verify step needs
    only that value then skips TWO corpus-side joins (each of which would
    re-run the fingerprint expression over the full scan — joins after an
    explode multiply the work, §3.3). The pair SET is unchanged: the
    collect_list sorts by (id, payload) = id order (ids unique per
    bucket), and the trailing distinct dedups identical rows exactly as
    before because the payload is functional on id. Payloads must be
    small — carrying anything heavy through the explode would reverse the
    trade (§8: move heavy bytes once; metadata rides the shuffle).
    """
    from pyspark.sql import Window

    bucket_w = Window.partitionBy("band", "bucket")
    sized = banded.withColumn("_bsz", F.count("*").over(bucket_w))
    gate = F.col("_bsz") >= 2  # singleton buckets emit no pairs — drop early
    if max_bucket_size:
        gate = gate & (F.col("_bsz") <= max_bucket_size)
    agg_col = (
        F.struct(F.col("id"), F.col(payload)) if payload else F.col("id")
    )
    buckets = (
        sized.filter(gate)
        .groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(agg_col)).alias("ids"))
    )
    ids = F.col("ids")
    if payload:
        pair_structs = F.flatten(
            F.transform(
                ids,
                lambda x, i: F.transform(
                    F.slice(ids, i + F.lit(2), F.size(ids)),
                    lambda y: F.struct(
                        x["id"].alias("src"),
                        y["id"].alias("dst"),
                        x[payload].alias(f"src_{payload}"),
                        y[payload].alias(f"dst_{payload}"),
                    ),
                ),
            )
        )
        return (
            buckets.select(F.explode(pair_structs).alias("p"))
            .select("p.*")
            .distinct()
        )
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    verify: bool = True,
    max_bucket_size: int = 512,
) -> DataFrame:
    """MinHash + banded-LSH near-dup candidate generation, with exact
    Jaccard verification (so output ⊆ ngram_jaccard_pairs output).

    Plan shape: one Arrow pass computes signatures and band buckets
    (:func:`minhash_banded_map`, no shuffle), ONE shuffle on (band, bucket)
    that feeds both the
    bucket-size gate (count window) and pair generation (collect_list →
    in-array pair expansion — arrays bounded by the cap), then a distinct
    over candidate pairs and a verify join against the shingle sets only
    for surviving candidates. rows_per_band = num_hashes/bands tunes the
    S-curve: P(candidate) = 1-(1-j^r)^b.

    Hot-bucket cap: a (band, bucket) with > `max_bucket_size` members —
    license boilerplate, empty shingle sets, crawler banners — would emit
    O(m²) candidate pairs from the self-join; one such bucket at corpus
    scale is the classic quadratic blowup of LSH dedup. Buckets over the cap
    are dropped from THAT band only: a genuine near-dup pair still collides
    in each of the other bands-1 bands independently, so only pairs whose
    every collision lands in a mega-bucket are lost — and those belong to
    mega-clusters that exact/fingerprint dedup already collapses far more
    cheaply than pairwise LSH. 0 disables the cap.
    """
    df = ensure_parallelism(df)
    banded = minhash_banded_map(
        df, text_col=text_col, id_col=id_col, n=n, num_hashes=num_hashes, bands=bands
    )
    cand = bucketed_candidate_pairs(banded, max_bucket_size)
    if not verify:
        return cand
    # Verify joins: build shingle sets ONLY for ids that survive LSH — a
    # semi-join against the candidate id set runs before the (expensive)
    # shingle projection, so at corpus scale the re-shingling cost is
    # O(candidates), not O(N) per join side. cand feeds three consumers
    # (the id set + both verify joins); materialize it so the signature
    # pass runs once. Unlike r4's checkpoint of the corpus-sized `banded`
    # frame (N×bands rows resident per run), cand is the frame the hot-
    # bucket cap exists to bound — candidates only.
    #
    # r13 NEGATIVE RESULT (verdict ask #6 — measured, kept for the
    # record): gating this checkpoint on a corpus row estimate (skip
    # below ~100k docs, lean on exchange reuse for the recompute) was
    # built and A/B-measured at two scales, min-of-3 warm:
    #   sf0.1 (5k docs):   skip 2.71s  vs checkpoint 2.09s
    #   sf1   (50k docs):  skip 7.49s  vs checkpoint 7.01s
    # The checkpoint WINS at driver scale too — under AQE the three cand
    # consumers do not reliably share one exchange, so the un-gated
    # recompute costs more than the materialization job the gate was
    # trying to save. The eager checkpoint stays unconditional; the
    # residual build share of the bench row is real signature compute.
    cand = maybe_checkpoint(cand)
    cand_ids = cand.select(F.explode(F.array("src", "dst")).alias("cid")).distinct()
    docs = (
        df.join(cand_ids, F.col(id_col) == F.col("cid"), "left_semi")
        .select(F.col(id_col).alias("vid"), shingles_expr(F.col(text_col), n).alias("sh"))
    )
    # `docs` feeds BOTH verify joins; without materialization the corpus
    # scan + semi-join + shingle build runs twice in the same job (AQE does
    # not reliably share the subtree — same finding as the cand checkpoint
    # above). Like cand, this frame is CANDIDATES-ONLY (bounded by the
    # hot-bucket cap), so the checkpoint is scale-safe. Measured r14 at
    # sf0.1: 1.67s -> 1.29s full-pipeline count.
    docs = maybe_checkpoint(docs)
    verified = (
        cand.join(docs.withColumnRenamed("vid", "src").withColumnRenamed("sh", "sh_a"), "src")
        .join(docs.withColumnRenamed("vid", "dst").withColumnRenamed("sh", "sh_b"), "dst")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(0.0)
    return (
        verified.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("src", "dst", "jaccard")
    )


def simhash60_md5_expr(text: Column) -> Column:
    """60-bit SimHash using md5-derived token hashes — the cross-engine
    twin of the xxhash64 fingerprint (:func:`simhash64_signatures`).

    xxhash64 has no ANSI-SQL equivalent, so the production fingerprint
    cannot be cross-checked by an external engine. This variant derives each
    token hash from the first 15 hex chars of md5 (60 bits — sign-safe in a
    signed 64-bit long), which both Spark and DuckDB compute identically, so
    the *entire* bit-vote algorithm is verified end-to-end by the SQL oracle.
    Same vote semantics; only the token-hash primitive differs. Empty tokens
    are filtered to match the oracle's word split (empty doc → simhash 0).
    """
    words = F.array_distinct(
        F.filter(F.split(normalized_text_expr(text), " "), lambda w: w != "")
    )

    # the token-hash array is bound as a lambda variable: inline, tokenize
    # + hash of every word would re-run once PER BIT
    def body(hashes: Column) -> Column:
        bits = F.sequence(F.lit(0), F.lit(59))
        return F.aggregate(
            bits,
            F.lit(0).cast("long"),
            lambda acc, bit: acc
            + F.when(
                F.aggregate(
                    hashes,
                    F.lit(0).cast("long"),
                    lambda votes, h: votes
                    + F.when(F.getbit(h, bit) == 1, F.lit(1)).otherwise(F.lit(-1)),
                )
                > 0,
                F.pow(F.lit(2.0), bit).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )

    wrapped = F.array(
        F.transform(
            words,
            lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"),
        )
    )
    return F.element_at(F.transform(wrapped, body), 1)


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    sim_expr: Column | None = None,
    n_bits: int = 64,
    bands: int = 4,
    max_bucket_size: int = 512,
) -> DataFrame:
    """SimHash near-dup pairs: all (src < dst) with hamming(simhash) <=
    max_hamming, found by BANDING instead of the O(N²) self-join.

    Pigeonhole guarantee: splitting an n_bits fingerprint into `bands`
    contiguous chunks, any pair within hamming distance `bands - 1` agrees
    on at least one whole chunk — so with the default 4 bands every pair at
    hamming <= 3 collides in some band and EXACT recall is preserved (the
    classic Google near-dup crawl construction). Candidates are verified
    with the exact popcount, so precision is exact too: output == the
    brute-force result, at banded cost.

    Plan shape: one narrow pass computes fingerprints, explode to `bands`
    rows per doc, the shared one-shuffle bucket pair generation
    (:func:`bucketed_candidate_pairs` — same hot-bucket cap semantics: an
    all-zero-hash mega-bucket of empty documents cannot go quadratic),
    then a popcount verify on candidates only.

    `sim_expr` defaults to the xxhash64 production fingerprint
    (:func:`simhash64_signatures`); pass :func:`simhash60_md5_expr` (with
    n_bits=60) for the cross-engine oracle twin. Output: (src, dst,
    hamming).
    """
    chunk = n_bits // bands
    df = ensure_parallelism(df)
    if sim_expr is None:
        # production path: the exploded signature pass (flat codegen votes,
        # map-side combine) — see simhash64_signatures
        sh = simhash64_signatures(df, text_col=text_col, id_col=id_col)
    else:
        sh = df.select(F.col(id_col).alias("id"), sim_expr.alias("sh"))
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            # unsigned shift so the sign bit of band `bands-1` cannot smear
            (F.shiftrightunsigned(F.col("sh"), b * chunk) % F.lit(2 ** chunk)).alias(
                "bucket"
            ),
        )
        for b in range(bands)
    ]
    # r15 (§2.3/§3.3): the 8-byte fingerprint rides the banding shuffle as
    # a payload and comes back attached to each candidate pair, so the
    # popcount verify needs NO joins — the old shape joined the candidate
    # set back against TWO projections of `sh`, each of which re-ran the
    # full fingerprint expression over the corpus scan (sh has no
    # materialization; it is corpus-sized, so checkpointing it would
    # violate the bounded-frames rule). Pair set and output rows are
    # identical: the payload is functional on id. Measured at .sf1:
    # 12.43 -> 2.22 s full-row noop (−82%).
    banded = sh.select("id", "sh", F.explode(F.array(*band_structs)).alias("bb")).select(
        "id", "sh", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    cand = bucketed_candidate_pairs(banded, max_bucket_size, payload="sh")
    hamming = F.bit_count(F.col("src_sh").bitwiseXOR(F.col("dst_sh")))
    return (
        cand.withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("src", "dst", "hamming")
    )


def near_dup_dedup(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """The end-to-end near-dup dedup decision: candidate pairs (from any of
    the generators above) → connected components → one representative
    (min id) per duplicate cluster. This is the step that turns pairwise
    similarity into the actual KEEP/DROP verdict a training-data pipeline
    applies — transitivity matters (A~B, B~C ⇒ {A,B,C} is one cluster even
    when A~C fell under the threshold).

    Scale: components via a single-task union-find over the candidate
    pairs (see graph.connected_components); singleton documents only take
    the broadcast fill-in join. Output: (id, component, keep) for every
    input document.
    """
    from automem_spark.operators.graph import connected_components

    labels = connected_components(
        pairs.select("src", "dst"), df.select(F.col(id_col).alias("id"))
    )
    reps = labels.groupBy("component").agg(F.min("id").alias("_rep"))
    return (
        labels.join(reps, "component")
        .select("id", "component", (F.col("id") == F.col("_rep")).alias("keep"))
    )


def simhash64_signatures(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sh) SimHash64 signatures via explode → 64 vote columns →
    partial-aggregating groupBy: for each bit, the sign of Σ±1 over the
    xxhash64 of the distinct words. An empty document hashes to 0.

    The per-row expression form (the test oracle in tests/dedup_oracle.py)
    evaluates a nested aggregate lambda per bit per
    token (O(64·T) interpreted higher-order calls per row — correct, and
    fine as the scalar definition, but outside whole-stage codegen). This
    shape hashes each token once, derives all 64 ±1 votes as flat codegen
    columns, and lets map-side combine bound the shuffle at (docs × 64)
    ints. Bit-identical to the expression form (pinned by
    tests/test_operators.py::test_simhash_signatures_match_expression_form).
    """
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(
            F.array_distinct(
                F.filter(
                    F.split(normalized_text_expr(F.col(text_col)), " "),
                    lambda w: w != "",
                )
            )
        ).alias("w"),
    )
    h = F.xxhash64(F.col("w"))
    vote_cols = [
        F.when(F.col("w").isNull(), F.lit(0))
        .otherwise(F.when(F.getbit(h, F.lit(b)) == 1, F.lit(1)).otherwise(F.lit(-1)))
        .alias(f"v{b}")
        for b in range(64)
    ]
    votes = words.select("id", *vote_cols).groupBy("id").agg(
        *[F.sum(f"v{b}").alias(f"s{b}") for b in range(64)]
    )

    def bit_value(b: int) -> Column:
        return F.lit(2**b if b < 63 else -9223372036854775808).cast("long")

    sh = votes.select(
        "id",
        sum(
            (
                F.when(F.col(f"s{b}") > 0, bit_value(b)).otherwise(F.lit(0).cast("long"))
                for b in range(64)
            ),
            F.lit(0).cast("long"),
        ).alias("sh"),
    )
    return sh
