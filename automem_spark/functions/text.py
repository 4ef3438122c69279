"""Text normalization / tokenization expressions.

Reimplements the reference's pure text helpers as Spark column expressions
(JVM-side, codegen-friendly) with driver-side Python twins where query-time
parsing is needed:

- keyword extraction        (reference: automem/utils/text.py:81-101)
- content fingerprint       (reference: automem/api/recall.py:310-323)
- slugify                   (reference: automem/utils/entity_extraction.py:63-65)
- first-sentence summary    (reference: automem/utils/entity_extraction.py:127-148)
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Quote-free, backslash-free alphabet for values interpolated into
# single-quoted SQL string literals (Spark SQL and DuckDB both treat every
# character in this class literally inside '...'). Every producer that
# feeds the SQL-text fast paths already folds to a subset of this —
# extract_keywords -> [a-z0-9_-], query_value_tokens -> [a-z0-9],
# ascii_search_text -> [a-z0-9 ], ISO timestamps -> [0-9TZ:. +-] — but the
# interpolation sites are three call-layers from the folds, so each site
# asserts the contract instead of trusting the convention (r10 verdict
# ask #4 / advisor finding on scoring.py).
_SQL_LITERAL_SAFE = re.compile(r"^[A-Za-z0-9 _\-.:+]*$")


def assert_sql_literal_safe(value: str, what: str = "token") -> str:
    """Guard a value about to be interpolated into a single-quoted SQL
    literal: no quotes, no backslashes, no control characters. Returns the
    value so call sites can wrap in-place."""
    if not _SQL_LITERAL_SAFE.match(value):
        raise AssertionError(
            f"unsafe {what} for SQL string literal: {value!r} "
            "(allowed charset [A-Za-z0-9 _-.:+])"
        )
    return value


# Reference stopword list (automem/utils/text.py:10-36).
SEARCH_STOPWORDS = frozenset(
    {
        "the", "and", "for", "with", "that", "this", "from", "into", "using",
        "have", "will", "your", "about", "after", "before", "when", "then",
        "than", "also", "just", "very", "more", "less", "over", "under",
    }
)


def extract_keywords(text: str) -> list[str]:
    """Driver-side query keyword extraction.

    Tokens `[A-Za-z0-9_-]+`, lowercased, strip('-_'), length >= 3, minus
    stopwords, order-preserving dedup (automem/utils/text.py:81-101).
    Queries are per-request scalars so this runs on the driver, never in a
    hot executor path.
    """
    if not text:
        return []
    out: list[str] = []
    seen: set[str] = set()
    for word in re.findall(r"[A-Za-z0-9_\-]+", text.lower()):
        cleaned = word.strip("-_")
        if len(cleaned) < 3 or cleaned in SEARCH_STOPWORDS or cleaned in seen:
            continue
        seen.add(cleaned)
        out.append(cleaned)
    return out


def keywords_expr(col: Column) -> Column:
    """Column-expression twin of extract_keywords for data-plane use
    (scoring document text executor-side, fully JVM/codegen)."""
    toks = F.regexp_extract_all(F.lower(col), F.lit(r"[a-z0-9_\-]+"), 0)
    toks = F.transform(
        toks,
        lambda t: F.regexp_replace(F.regexp_replace(t, r"^[-_]+", ""), r"[-_]+$", ""),
    )
    toks = F.array_distinct(F.filter(toks, lambda t: F.length(t) >= 3))
    stop = F.array(*[F.lit(s) for s in sorted(SEARCH_STOPWORDS)])
    return F.array_except(toks, stop)


# X9 content-fingerprint spec (reference api/recall.py:310-323): ordered
# fold steps (pattern, replacement) — strip markdown chars, drop non-ASCII
# (the reference's .encode('ascii','ignore')), strip remaining punctuation,
# collapse whitespace — then trim and take the first 320 chars. ONE table
# drives all three forms (r10 verdict ask #5): the Column twin below, the
# Spark-SQL dedup key (recall.py), and the DuckDB oracle texts (entry).
FINGERPRINT_STEPS: list[tuple[str, str]] = [
    (r"[`*_#>~\-]", " "),
    (r"[^\x00-\x7F]", ""),
    (r"[^\w\s]", " "),
    (r"\s+", " "),
]
FINGERPRINT_MAX_LEN = 320


def fingerprint_fold_sql_spark(col: str) -> str:
    """The fold as Spark-SQL text over ``col`` (no NULL-for-empty wrapper —
    callers add their own). Backslashes are doubled because Spark's SQL
    string-literal parser unescapes them once."""
    out = f"lower(CAST({col} AS STRING))"
    for pat, rep in FINGERPRINT_STEPS:
        out = f"regexp_replace({out}, '{pat.replace(chr(92), chr(92) * 2)}', '{rep}')"
    return f"substring(trim({out}), 1, {FINGERPRINT_MAX_LEN})"


def fingerprint_fold_sql_duck(col: str) -> str:
    """The fold as DuckDB SQL (global-replace flag; single backslashes —
    DuckDB string literals keep them)."""
    out = f"lower({col})"
    for pat, rep in FINGERPRINT_STEPS:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    return f"substring(trim({out}), 1, {FINGERPRINT_MAX_LEN})"


def fingerprint_expr(content: Column) -> Column:
    """Content fingerprint for near-identical dedup (recall.py:310-323) —
    the Column reference twin of FINGERPRINT_STEPS. NULL for empty
    results."""
    cleaned = F.lower(content.cast("string"))
    for pat, rep in FINGERPRINT_STEPS:
        cleaned = F.regexp_replace(cleaned, pat, rep)
    fp = F.substring(F.trim(cleaned), 1, FINGERPRINT_MAX_LEN)
    return F.when(fp == "", F.lit(None).cast("string")).otherwise(fp)


def slugify_expr(col: Column) -> Column:
    """lowercase, non-alnum runs -> '-', trim '-' (entity_extraction.py:63-65)."""
    s = F.regexp_replace(F.lower(col), r"[^a-z0-9]+", "-")
    return F.regexp_replace(F.regexp_replace(s, r"^-+", ""), r"-+$", "")


def first_sentence_summary_expr(content: Column, max_len: int = 240) -> Column:
    """Extractive summary: first sentence, word-boundary truncated to
    max_len chars (entity_extraction.py:127-148)."""
    first = F.regexp_extract(content, r"^(.*?[.!?])(\s|$)", 1)
    first = F.when(first == "", content).otherwise(first)
    head = F.substring(first, 1, max_len)
    word_cut = F.regexp_extract(head, r"^(.*)\s\S*$", 1)
    truncated = F.when(F.length(first) <= max_len, first).otherwise(
        F.when(F.length(word_cut) > 0, word_cut).otherwise(head)
    )
    return F.trim(truncated)

