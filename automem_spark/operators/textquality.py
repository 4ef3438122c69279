"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, rolling-hash document fingerprinting.

All pure column expressions (whole-stage codegen) so they run at scan speed —
these are per-row map operations with no shuffle; at 100 TB they cost one
pass over the data and pipeline with any downstream filter.

Every scorer is deliberately SQL-expressible so the DuckDB oracle can verify
it exactly (heuristics, not ML models — the model-backed variants would slot
in as pandas_udfs behind the same column contract).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword-hit
# language-ID heuristic. Chosen to be disjoint across languages.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "with", "this", "that"],
    "es": ["el", "la", "los", "las", "que", "con"],
    "fr": ["le", "les", "des", "une", "est", "dans"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "zh": ["的", "是", "了", "在", "我"],
}


def words_expr(text: Column) -> Column:
    """Tokenize: maximal runs of word chars, lowercased.

    r14 single-regex form: one `split` on ``[^\\w]+`` replaces the legacy
    lower → strip-punct → collapse-space → trim → split chain (three Java
    regex passes over every row). Tokens are identical by construction —
    both forms emit the maximal ``\\w``-runs of the lowercased text in
    order (punctuation and whitespace are both separators either way; the
    trailing `filter` drops the empty artifacts `split` produces at the
    boundaries). Equivalence is pinned against :func:`words_expr_3pass`
    on adversarial inputs (unicode, emoji, underscores, null/empty) in
    tests/test_operators.py and was verified exceptAll-empty over the
    50k-doc .sf1 corpus. Measured: tokenization noop 1.115 → 0.762 s at
    .sf1 (−32%) — this is the innermost loop of every text operator."""
    return F.filter(
        F.split(F.lower(text.cast("string")), r"[^\w]+"), lambda w: w != ""
    )


def words_expr_3pass(text: Column) -> Column:
    """Legacy r7-r13 tokenizer, kept ONLY as the equivalence anchor for
    the single-regex :func:`words_expr` (see its docstring)."""
    t = F.lower(text.cast("string"))
    t = F.regexp_replace(t, r"[^\w\s]", " ")
    return F.filter(F.split(F.trim(F.regexp_replace(t, r"\s+", " ")), " "), lambda w: w != "")


def lang_hits_expr(text: Column, markers: list[str]) -> Column:
    """Count of marker-word occurrences (as whole tokens).

    ONE filter pass with a membership check per token — not one filter per
    marker: Catalyst does no CSE across higher-order-function arguments,
    so a per-marker `F.filter(words_expr(text), ...)` would inline and
    re-run the whole 3-regex tokenizer len(markers) times per row (the
    same no-CSE trap the r7 chunker hit)."""
    words = words_expr(text)
    return F.size(F.filter(words, lambda w: w.isin(*markers)))


def lang_id_expr(text: Column) -> Column:
    """Pick the language whose marker set hits most tokens; 'und' on zero
    hits. Deterministic tiebreak: language order as listed.

    Single-pass shape (r9 — found by the widened noop-sink bench, which
    measured the old form at 24s/50k docs where its siblings run <1s):
    ONE tokenization feeds ONE `aggregate` that accumulates the per-
    language hit vector, and the argmax runs inside the aggregate's
    `finish` lambda where the accumulator is a BOUND VARIABLE — so the
    repeated references in the argmax when-chain are O(1) reads, not
    re-evaluations. The old form scored each language independently:
    Catalyst's lack of CSE across lambda arguments re-ran the tokenizer
    once per (language, marker) pair — 27 tokenizations per row."""
    langs = list(LANG_MARKERS)
    words = words_expr(text)
    zeros = F.array(*[F.lit(0) for _ in langs])

    def step(acc: Column, w: Column) -> Column:
        return F.array(*[
            F.element_at(acc, i + 1)
            + F.when(w.isin(*LANG_MARKERS[lang]), 1).otherwise(0)
            for i, lang in enumerate(langs)
        ])

    def finish(acc: Column) -> Column:
        best_lang: Column = F.lit("und")
        best_score: Column = F.lit(0)
        for i, lang in enumerate(langs):
            s = F.element_at(acc, i + 1)
            is_better = s > best_score
            best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
            best_score = F.when(is_better, s).otherwise(best_score)
        return best_lang

    return F.aggregate(words, zeros, step, finish)


def token_count_expr(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words_expr(text))


def bpe_ish_token_count_expr(text: Column) -> Column:
    """A BPE-like proxy count: word-piece segments of <=4 chars — every word
    contributes ceil(len/4) pieces, punctuation counts one each. A cheap,
    deterministic stand-in for tokenizer-based counting at scan speed."""
    words = words_expr(text)
    word_pieces = F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("int"),
    )
    punct = F.length(F.regexp_replace(text.cast("string"), r"[\w\s]", ""))
    return word_pieces + punct


def quality_score_expr(text: Column) -> Column:
    """Heuristic document quality in [0,1]: blend of
    - length factor: min(1, n_words/100)
    - alpha ratio: alphabetic chars / chars
    - stopword presence: min(1, english stopword hits / 5)
    - punctuation sanity: 1 - min(1, punct_ratio*5)
    (mirrors the shape of C4AI/Gopher-style quality rules, kept
    SQL-expressible).

    r14 single-pass shape (the lang_id_expr trick): the legacy form
    tokenized TWICE — once for n_words, once for the stopword hits —
    because Catalyst has no CSE across higher-order-function arguments.
    Now ONE `aggregate` over ONE tokenization accumulates [n_words,
    stop_hits], and the whole blend is computed in the aggregate's
    `finish` lambda where the accumulator is a bound variable. The
    arithmetic (operand order included) is unchanged, so the score is
    bit-identical — pinned against the open-coded legacy form in
    tests/test_operators.py and verified exceptAll-empty over .sf1."""
    t = text.cast("string")
    n_chars = F.greatest(F.length(t).cast("double"), F.lit(1.0))
    alpha = F.length(F.regexp_replace(t, r"[^a-zA-Z]", "")).cast("double")
    punct = F.length(F.regexp_replace(t, r"[\w\s]", "")).cast("double")
    markers = LANG_MARKERS["en"]

    def step(acc: Column, w: Column) -> Column:
        return F.array(
            F.element_at(acc, 1) + 1,
            F.element_at(acc, 2) + F.when(w.isin(*markers), 1).otherwise(0),
        )

    def finish(acc: Column) -> Column:
        n_words = F.element_at(acc, 1).cast("double")
        stop_hits = F.element_at(acc, 2).cast("double")
        length_factor = F.least(F.lit(1.0), n_words / 100.0)
        alpha_ratio = alpha / n_chars
        stop_factor = F.least(F.lit(1.0), stop_hits / 5.0)
        punct_sanity = F.lit(1.0) - F.least(F.lit(1.0), punct / n_chars * 5.0)
        return (
            F.lit(0.25) * length_factor
            + F.lit(0.25) * alpha_ratio
            + F.lit(0.25) * stop_factor
            + F.lit(0.25) * punct_sanity
        )

    return F.aggregate(
        words_expr(t), F.array(F.lit(0), F.lit(0)), step, finish
    )


def rolling_hash_expr(text: Column, window: int = 8, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling-hash fingerprint of the first `window` words
    (base-31 over word xxhash64 residues, mod p). Deterministic and
    SQL-expressible — a document fingerprint cheaper than full-content hash
    comparison when only prefix identity matters."""
    words = F.slice(words_expr(text), 1, window)
    return F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * 31 + F.pmod(F.xxhash64(w), F.lit(mod))) % mod,
    )


def text_stats_frame(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach ``n_tokens`` (int), ``n_bpe_tokens`` (int) and ``quality``
    (double, unrounded) with ONE tokenization per row.

    Computed separately, the three stats tokenize 4× per row (token count,
    BPE pieces, and twice inside the legacy quality blend) because
    Catalyst cannot CSE across higher-order-function arguments. Here ONE
    `aggregate` over ONE `words_expr` accumulates [n_words, bpe_pieces,
    stop_hits]; the punctuation count is bound once as a DataFrame-level
    alias (referenced by both n_bpe_tokens and the quality blend —
    CollapseProject keeps non-cheap multi-referenced aliases in their own
    Project, so neither the aggregate nor the regex re-inlines). The
    per-stat arithmetic is copied operand-for-operand from
    token_count_expr / bpe_ish_token_count_expr / quality_score_expr, so
    all three outputs are bit-identical to the separate expressions —
    pinned in tests/test_operators.py and verified exceptAll-empty over
    the 50k-doc .sf1 corpus. Measured (interleaved same-JVM min-of-10,
    noop sink, .sf1): separate exprs 4.451 s → fused 3.141 s (−29%)."""
    clash = {"_ws", "_punct", "n_tokens", "n_bpe_tokens", "quality"} & set(
        df.columns
    )
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with text-stats "
            "internals/outputs; rename them first"
        )
    t = F.col(text_col).cast("string")
    markers = LANG_MARKERS["en"]

    def step(acc: Column, w: Column) -> Column:
        return F.array(
            F.element_at(acc, 1) + 1,
            F.element_at(acc, 2) + F.ceil(F.length(w) / 4.0).cast("int"),
            F.element_at(acc, 3) + F.when(w.isin(*markers), 1).otherwise(0),
        )

    stats = F.aggregate(
        words_expr(t), F.array(F.lit(0), F.lit(0), F.lit(0)), step
    )
    punct = F.length(F.regexp_replace(t, r"[\w\s]", ""))
    d = df.withColumn("_ws", stats).withColumn("_punct", punct)
    n_words_i = F.element_at(F.col("_ws"), 1)
    pieces = F.element_at(F.col("_ws"), 2)
    stop_hits = F.element_at(F.col("_ws"), 3).cast("double")
    n_chars = F.greatest(F.length(t).cast("double"), F.lit(1.0))
    alpha = F.length(F.regexp_replace(t, r"[^a-zA-Z]", "")).cast("double")
    length_factor = F.least(F.lit(1.0), n_words_i.cast("double") / 100.0)
    alpha_ratio = alpha / n_chars
    stop_factor = F.least(F.lit(1.0), stop_hits / 5.0)
    punct_sanity = F.lit(1.0) - F.least(
        F.lit(1.0), F.col("_punct").cast("double") / n_chars * 5.0
    )
    quality = (
        F.lit(0.25) * length_factor
        + F.lit(0.25) * alpha_ratio
        + F.lit(0.25) * stop_factor
        + F.lit(0.25) * punct_sanity
    )
    return d.select(
        *[F.col(c) for c in df.columns],
        n_words_i.alias("n_tokens"),
        (pieces + F.col("_punct")).alias("n_bpe_tokens"),
        quality.alias("quality"),
    )


def text_stats_map(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Arrow-kernel twin of :func:`text_stats_frame`: same three columns,
    bit-identical values, ONE ``mapInPandas`` pass instead of the JVM
    higher-order-function aggregate (which allocates a fresh accumulator
    array per token — measured 21.4 s vs ~3 s at the 500k-doc scale; the
    expression path stays the SQL-expressible oracle anchor, exactly the
    repetition_filter_map pattern).

    Bit-identity contract (pinned in tests/test_operators.py):
    - tokenizer: ``re.split(r"[^\\w]+", text.lower())`` under ``re.ASCII``
      mirrors Java/RE2 ``\\w`` in :func:`words_expr` (same ASCII classes;
      Python ``str.lower`` and Spark ``lower`` agree on the full-mapping
      cases the property alphabet exercises);
    - counts are exact integers (``ceil(len/4)`` = ``(len+3)//4``);
    - the quality blend replays :func:`text_stats_frame`'s float ops in
      the same operand order, so the IEEE double is identical bit-for-bit;
    - NULL text yields NULL stats, as the expression path's null
      propagation does.
    """
    import re as _re
    from typing import Iterator

    import pandas as pd

    clash = {"n_tokens", "n_bpe_tokens", "quality"} & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with text-stats "
            "internals/outputs; rename them first"
        )
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_schema = f"{fields}, n_tokens int, n_bpe_tokens int, quality double"
    split_re = _re.compile(r"[^\w]+", _re.ASCII)
    punct_re = _re.compile(r"[\w\s]", _re.ASCII)
    alpha_re = _re.compile(r"[^a-zA-Z]")
    markers = frozenset(LANG_MARKERS["en"])

    def doc_stats(text) -> tuple:
        if text is None:
            return (None, None, None)
        t = str(text)
        words = [w for w in split_re.split(t.lower()) if w]
        n_words = len(words)
        pieces = 0
        stop_hits = 0
        for w in words:
            pieces += (len(w) + 3) // 4
            if w in markers:
                stop_hits += 1
        punct = len(punct_re.sub("", t))
        alpha = float(len(alpha_re.sub("", t)))
        n_chars = max(float(len(t)), 1.0)
        length_factor = min(1.0, float(n_words) / 100.0)
        alpha_ratio = alpha / n_chars
        stop_factor = min(1.0, float(stop_hits) / 5.0)
        punct_sanity = 1.0 - min(1.0, float(punct) / n_chars * 5.0)
        quality = (
            0.25 * length_factor
            + 0.25 * alpha_ratio
            + 0.25 * stop_factor
            + 0.25 * punct_sanity
        )
        return (n_words, pieces + punct, quality)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [doc_stats(t) for t in pdf[text_col]]
            out = pdf.copy()
            out["n_tokens"] = pd.array(
                [s[0] for s in stats], dtype="Int32"
            )
            out["n_bpe_tokens"] = pd.array(
                [s[1] for s in stats], dtype="Int32"
            )
            out["quality"] = pd.array([s[2] for s in stats], dtype="float64")
            yield out

    return df.mapInPandas(compute, schema=out_schema)


#: Crossover for the text-stats Arrow kernel (r14), in estimate_rows space
#: (plan-stat estimates run ~2x high on parquet document pools — measured
#: 995/9.1k/107k/1.1M estimated vs 500/5k/50k/500k actual). Below it the
#: JVM expression frame wins: the kernel's Arrow boundary (text out,
#: stats back) is a fixed ~0.3 s tax that small pools never amortize
#: (kernel +66% at 5k actual, +15% at 10k). Above it the per-token
#: accumulator-array allocation of the HOF aggregate dominates and the
#: kernel is strictly better (−45% at 20k actual, −66% at 50k, −87% at
#: 500k — 18.5 s → 2.3 s). The crossover sits in (10k, 20k) actual ≈
#: (21k, 43k) estimated; 30_000 estimated (~15k actual) is bracketed by a
#: measured frame-wins point 1.4x below and a kernel-wins point 1.4x
#: above. Values are bit-identical on both sides (tests/test_operators.py)
#: — an estimate error flips the plan, never the output.
TEXT_STATS_KERNEL_MIN_ROWS = 30_000


def text_stats_auto(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Size-dispatched text stats: the JVM expression frame below
    ``TEXT_STATS_KERNEL_MIN_ROWS`` (estimate space), the Arrow kernel
    above it. Zero-action dispatch (plan statistics only); both paths are
    bit-identical, so the dispatch affects time, never values. Falls back
    to the expression frame when the plan offers no usable estimate."""
    from automem_spark.operators.trainprep import estimate_rows

    est = estimate_rows(df)
    if est is not None and est >= TEXT_STATS_KERNEL_MIN_ROWS:
        return text_stats_map(df, text_col)
    return text_stats_frame(df, text_col)


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass document profiling: attach all analysis columns."""
    t = F.col(text_col)
    return df.select(
        "*",
        lang_id_expr(t).alias("detected_lang"),
        token_count_expr(t).alias("n_tokens"),
        bpe_ish_token_count_expr(t).alias("n_bpe_tokens"),
        quality_score_expr(t).alias("quality_score"),
        rolling_hash_expr(t).alias("prefix_fingerprint"),
    )


def rolling_hash_md5_expr(
    text: Column, window: int = 8, mod: int = 1_000_000_007
) -> Column:
    """Oracle twin of :func:`rolling_hash_expr`: word residues derived from
    the first 15 hex chars of md5 (60 bits, sign-safe) instead of xxhash64,
    so DuckDB reproduces the identical fold — same pattern as the SimHash
    md5 twin. The fold itself (base-31 polynomial mod p) is unchanged and
    value-verified end-to-end by the `doc_fingerprint` driver row."""
    words = F.slice(words_expr(text), 1, window)

    def residue(w: Column) -> Column:
        return F.pmod(
            F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"), F.lit(mod)
        )

    return F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * 31 + residue(w)) % mod,
    )


# ---------------------------------------------------------------------------
# Repetition filtering (Gopher-style, Rae et al. 2021 "Scaling Language
# Models" table A1): documents dominated by repeated content are low-quality
# training data. The reference has no corpus-hygiene layer (its quality
# gates are per-memory, automem/utils/enrichment_quality.py); these are the
# corpus-scale analogs every 100 TB pretraining pipeline runs.
# ---------------------------------------------------------------------------


def dup_word_frac_expr(words: Column) -> Column:
    """1 - distinct/total: mass of the word stream that is re-occurrence.
    O(len) per row — safe to evaluate in-line at any document length."""
    return F.when(
        F.size(words) > 0,
        1.0 - F.size(F.array_distinct(words)) / F.size(words),
    ).otherwise(F.lit(0.0))


def _check_repetition_clash(df: DataFrame) -> None:
    clash = {"dup_word_frac", "top_bigram_frac", "dup_trigram_frac", "keep"} & set(
        df.columns
    )
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with repetition-stat "
            "output columns; rename them first"
        )


def repetition_filter_map(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_word_frac: float = 0.80,
    max_top_bigram_frac: float = 0.18,
    max_dup_trigram_frac: float = 0.30,
) -> DataFrame:
    """Zero-shuffle twin of :func:`repetition_filter`: all three Gopher
    stats are per-document, so an Arrow-batched ``mapInPandas`` pass with a
    Counter per doc computes them in O(doc_len) with ONE scan and NO
    shuffle — where the expression path shuffles the exploded token stream
    ~3x (lead() window, gram groupBy, stats join). Output is bit-identical
    (property-tested): same ASCII tokenizer (``re.ASCII`` mirrors Java/RE2
    ``\\w``/``\\s``), same shortest-repr HALF_UP rounding as Spark's
    ``round(x, 6)`` via ``Decimal(repr(x))``.

    This is the 100 TB default; the expression path remains the
    SQL-expressible oracle twin and the cross-engine correctness anchor.
    """
    import re as _re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal
    from typing import Iterator

    import pandas as pd

    _check_repetition_clash(df)
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_schema = (
        f"{fields}, dup_word_frac double, top_bigram_frac double, "
        "dup_trigram_frac double, keep boolean"
    )
    punct = _re.compile(r"[^\w\s]", _re.ASCII)
    ws = _re.compile(r"\s+", _re.ASCII)
    q6 = Decimal("0.000001")

    def r6(x: float) -> float:
        # Spark round(double, 6): BigDecimal.valueOf (shortest decimal
        # repr) + HALF_UP — Decimal(repr(x)) is the exact Python twin
        return float(Decimal(repr(x)).quantize(q6, rounding=ROUND_HALF_UP))

    def doc_stats(text) -> tuple[float, float, float, bool]:
        words = (
            ws.sub(" ", punct.sub(" ", str(text).lower())).strip().split(" ")
            if text is not None
            else []
        )
        words = [w for w in words if w]
        nw = len(words)
        if nw == 0:
            return (0.0, 0.0, 0.0, True)
        dw = r6(1.0 - len(set(words)) / nw)
        tb = dt = 0.0
        if nw >= 2:
            big = Counter(zip(words, words[1:]))
            tb = r6(max(big.values()) / (nw - 1))
        if nw >= 3:
            tri = Counter(zip(words, words[1:], words[2:]))
            dt = r6(sum(c for c in tri.values() if c >= 2) / (nw - 2))
        keep = (
            dw <= max_dup_word_frac
            and tb <= max_top_bigram_frac
            and dt <= max_dup_trigram_frac
        )
        return (dw, tb, dt, keep)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [doc_stats(t) for t in pdf[text_col]]
            out = pdf.copy()
            out["dup_word_frac"] = [s[0] for s in stats]
            out["top_bigram_frac"] = [s[1] for s in stats]
            out["dup_trigram_frac"] = [s[2] for s in stats]
            out["keep"] = [s[3] for s in stats]
            yield out

    return df.mapInPandas(compute, schema=out_schema)


def repetition_filter(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_word_frac: float = 0.80,
    max_top_bigram_frac: float = 0.18,
    max_dup_trigram_frac: float = 0.30,
) -> DataFrame:
    """Per-document repetition scorecard + keep verdict:

    - dup_word_frac: 1 - distinct/total words (from the unigram tier of
      the same explode — the tokenizer runs exactly once per document);
    - top_bigram_frac: slots taken by the most frequent bigram (Gopher's
      top-n-gram rule);
    - dup_trigram_frac: slots whose trigram occurs more than once
      (Gopher's duplicate-n-gram rule).

    Shape: posexplode the token stream ONCE (the Generate node is a
    projection barrier, so the tokenizer regex pipeline runs once per
    document), build bigrams/trigrams with window lead() over (doc, pos),
    count per (doc, n, gram), conditional-aggregate per doc, and join the
    tiny per-doc stats back (broadcast-eligible). Strictly linear in
    corpus tokens. Two rejected shapes, both measured: a per-row
    count-each-gram lambda is O(len^2) per document (quadratic in DOC
    length — a straggler generator on 100k-word outliers), and building
    gram arrays with transform(...slice(words...)) re-evaluates the
    whole tokenizer per position — higher-order lambdas get no
    common-subexpression elimination (same Catalyst pitfall the minhash
    signature pipeline documents), which turned 50k docs into 250s.
    """
    from pyspark.sql.window import Window

    _check_repetition_clash(df)
    words = words_expr(F.col(text_col))
    toks = df.select(
        F.col(id_col).alias("_rep_id"), F.posexplode(words).alias("pos", "w")
    )
    win = Window.partitionBy("_rep_id").orderBy("pos")
    l1 = F.lead("w", 1).over(win)
    l2 = F.lead("w", 2).over(win)
    g = toks.select(
        "_rep_id",
        F.col("w").alias("g1"),
        F.when(l1.isNotNull(), F.concat_ws(" ", F.col("w"), l1)).alias("g2"),
        F.when(l2.isNotNull(), F.concat_ws(" ", F.col("w"), l1, l2)).alias("g3"),
    )
    # a unigram tier rides the same explode so nw/nd (and thus
    # dup_word_frac) come from the token stream itself — re-tokenizing the
    # text a second time would double the regex cost per document
    grams = g.select(
        "_rep_id",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("n"), F.col("g1").alias("g")),
                F.struct(F.lit(2).alias("n"), F.col("g2").alias("g")),
                F.struct(F.lit(3).alias("n"), F.col("g3").alias("g")),
            )
        ).alias("ng"),
    ).filter(F.col("ng.g").isNotNull())
    counts = grams.groupBy(
        "_rep_id", F.col("ng.n").alias("n"), F.col("ng.g").alias("g")
    ).agg(F.count(F.lit(1)).alias("c"))
    stats = counts.groupBy("_rep_id").agg(
        F.sum(F.when(F.col("n") == 1, F.col("c"))).alias("_nw"),
        F.count(F.when(F.col("n") == 1, F.lit(1))).alias("_nd"),
        F.max(F.when(F.col("n") == 2, F.col("c"))).alias("_top2"),
        F.sum(F.when(F.col("n") == 2, F.col("c"))).alias("_tot2"),
        F.sum(
            F.when((F.col("n") == 3) & (F.col("c") >= 2), F.col("c")).otherwise(0)
        ).alias("_dup3"),
        F.sum(F.when(F.col("n") == 3, F.col("c"))).alias("_tot3"),
    )
    joined = df.join(stats, F.col(id_col) == F.col("_rep_id"), "left")
    dw = F.round(
        F.coalesce(
            1.0 - F.col("_nd").cast("double") / F.col("_nw"), F.lit(0.0)
        ),
        6,
    )
    tb = F.round(
        F.coalesce(F.col("_top2").cast("double") / F.col("_tot2"), F.lit(0.0)), 6
    )
    dt = F.round(
        F.coalesce(F.col("_dup3").cast("double") / F.col("_tot3"), F.lit(0.0)), 6
    )
    return joined.select(
        *[F.col(c) for c in df.columns],
        dw.alias("dup_word_frac"),
        tb.alias("top_bigram_frac"),
        dt.alias("dup_trigram_frac"),
        (
            (dw <= max_dup_word_frac)
            & (tb <= max_top_bigram_frac)
            & (dt <= max_dup_trigram_frac)
        ).alias("keep"),
    )
