"""Tag machinery: hierarchical prefix materialization + the four tag-filter
shapes of the reference (exact/prefix × any/all) plus exclude_tags.

Reference semantics:
- tag_prefixes materialization: automem/utils/tags.py:23-48 — split each tag
  on ':' or '/', emit cumulative ':'-joined prefixes, lowercased, deduped.
- exact any/all: automem/stores/graph_store.py:14-16
- prefix any/all over tag_prefixes with raw-tag startswith fallback:
  automem/stores/graph_store.py:18-37
- exclude_tags (exact OR prefix, independent of tag_match):
  automem/search/runtime_recall_helpers.py:472-487

These compile to array predicates over the `tags` / `tag_prefixes` columns;
Catalyst pushes them into the parquet scan where statistics allow.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def compute_tag_prefixes(tags: list[str] | None) -> list[str]:
    """Driver-side twin (for query-time normalization and tests)."""
    seen: set[str] = set()
    out: list[str] = []
    for tag in tags or []:
        normalized = (tag or "").strip().lower()
        if not normalized:
            continue
        acc: list[str] = []
        for part in re.split(r"[:/]", normalized):
            if not part:
                continue
            acc.append(part)
            prefix = ":".join(acc)
            if prefix not in seen:
                seen.add(prefix)
                out.append(prefix)
    return out


def tag_prefixes_expr(tags: Column) -> Column:
    """Materialized prefix index as a column expression.

    For each tag: lowercase, split on ':' or '/', cumulative ':'-joined
    prefixes; flatten and dedup. aggregate() builds the cumulative join
    without a UDF so ingest stays fully JVM-side.
    """
    def prefixes_of(tag: Column) -> Column:
        parts = F.filter(F.split(F.lower(F.trim(tag)), "[:/]"), lambda p: p != "")
        # cumulative prefixes: aggregate over parts accumulating (prefixes, acc)
        return F.aggregate(
            parts,
            F.struct(
                F.array().cast("array<string>").alias("prefixes"),
                F.lit("").alias("acc"),
            ),
            lambda st, part: F.struct(
                F.concat(
                    st["prefixes"],
                    F.array(
                        F.when(st["acc"] == "", part).otherwise(
                            F.concat_ws(":", st["acc"], part)
                        )
                    ),
                ).alias("prefixes"),
                F.when(st["acc"] == "", part)
                .otherwise(F.concat_ws(":", st["acc"], part))
                .alias("acc"),
            ),
            lambda st: st["prefixes"],
        )

    return F.array_distinct(F.flatten(F.transform(tags, prefixes_of)))


def _or_empty(tags: Column) -> Column:
    """A NULL tag array is an empty one: an untagged row matches no filter
    and no exclusion."""
    return F.coalesce(tags, F.array().cast("array<string>"))


def _startswith(prefix: str):
    """1-ary lambda factory (PySpark higher-order funcs count lambda params,
    so default-arg closures would be mis-typed as 2-ary)."""
    return lambda t: t.startswith(prefix)


def normalize_filters(filters: list[str]) -> list[str]:
    """Lowercase/strip, drop empties (runtime_recall_helpers.py:107-108)."""
    out = []
    for f in filters or []:
        f = (f or "").strip().lower()
        if f:
            out.append(f)
    return out


def tag_filter_expr(
    tags: Column,
    filters: list[str],
    *,
    mode: str = "any",
    match: str = "prefix",
    tag_prefixes: Column | None = None,
) -> Column:
    """Compile a tag filter to a boolean column.

    exact/any: EXISTS overlap; exact/all: filters ⊆ tags;
    prefix: match against the materialized tag_prefixes when available,
    else startswith over raw tags (graph_store.py:18-37). Canonicalizes
    '/' to ':' on both sides like the reference. NULL `tags` /
    `tag_prefixes` match nothing, so ``~tag_filter_expr`` keeps the row.
    """
    filters = normalize_filters(filters)
    if not filters:
        return F.lit(True)
    lower_tags = F.transform(_or_empty(tags), lambda t: F.lower(t))

    if match == "exact":
        flit = F.array(*[F.lit(f) for f in filters])
        if mode == "all":
            return F.forall(flit, lambda f: F.array_contains(lower_tags, f))
        return F.arrays_overlap(lower_tags, flit)

    # prefix match: canonical form uses ':'-joined prefixes
    canon_filters = [re.sub(r"[:/]+", ":", f) for f in filters]
    if tag_prefixes is not None:
        idx = _or_empty(tag_prefixes)
        per_filter = [F.array_contains(idx, f) for f in canon_filters]
    else:
        canon_tags = F.transform(lower_tags, lambda t: F.regexp_replace(t, "[:/]+", ":"))
        per_filter = [F.exists(canon_tags, _startswith(f)) for f in canon_filters]
    combined = per_filter[0]
    for p in per_filter[1:]:
        combined = (combined & p) if mode == "all" else (combined | p)
    return combined


def exclude_tags_expr(tags: Column, excluded: list[str]) -> Column:
    """Row passes if NO excluded tag matches exactly or by prefix
    (runtime_recall_helpers.py:472-487). A row with NULL `tags` passes."""
    excluded = normalize_filters(excluded)
    if not excluded:
        return F.lit(True)
    lower_tags = F.transform(_or_empty(tags), lambda t: F.lower(t))
    canon_tags = F.transform(lower_tags, lambda t: F.regexp_replace(t, "[:/]+", ":"))
    hits = []
    for e in excluded:
        canon = re.sub(r"[:/]+", ":", e)
        hits.append(
            F.array_contains(lower_tags, e) | F.exists(canon_tags, _startswith(canon))
        )
    any_hit = hits[0]
    for h in hits[1:]:
        any_hit = any_hit | h
    return ~any_hit
