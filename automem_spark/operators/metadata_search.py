"""Metadata sidecar search (R5) — the reference's third recall channel.

Reference: automem/search/runtime_recall_helpers.py:727-868 (channel),
:270-340 (scorer), :245-267 (strong-evidence gates), :47-60 (field aliases),
:201-230 (field-request detection).

Shape: the QUERY analysis (tokenization, requested-field detection) is
per-request driver Python — identical to the reference's — while the per-row
VALUE scoring is one Spark-SQL expression specialized with the query's
constants, so the scan stays JVM-side. The same generator emits the DuckDB
SQL for the correctness oracle; a hand-built Column-tree twin lives in
tests/metadata_oracle.py.

Round-1 scope: scalar whitelisted fields (source, repo, project, tool,
model, ...). The entities sub-dict handling (always-exclude people, require
explicit entity request) is represented by the field gate only.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from automem_spark.functions.text import assert_sql_literal_safe

METADATA_QUERY_STOPWORDS = {
    "all", "any", "about", "by", "find", "for", "from", "in", "me", "memory",
    "memories", "of", "on", "please", "show", "that", "the", "to", "with",
}
METADATA_FIELD_TOKENS = {
    "source", "agent", "agents", "repo", "repository", "project", "tool",
    "surface", "applies", "apply", "trigger", "provider", "model", "entity",
    "entities", "metadata",
}
METADATA_FIELD_ALIASES: dict[str, tuple[str, ...]] = {
    "source": ("source",),
    "repo": ("repo", "repository"),
    "project": ("project",),
    "tool": ("tool",),
    "provider": ("provider",),
    "model": ("model",),
    "entities": ("entity", "entities"),
}
METADATA_PREFILTER_MAX_TERMS = 12


def ascii_search_text(value: str) -> str:
    """NFKD fold -> ascii -> non-alnum to spaces -> collapse -> lower
    (runtime_recall_helpers.py:117-122)."""
    text = unicodedata.normalize("NFKD", str(value))
    text = text.encode("ascii", "ignore").decode("ascii")
    text = re.sub(r"[^A-Za-z0-9]+", " ", text)
    return re.sub(r"\s+", " ", text).strip().lower()


def requested_metadata_fields(query_text: str) -> set[str]:
    normalized = ascii_search_text(query_text)
    if not normalized:
        return set()
    padded = f" {normalized} "
    requested: set[str] = set()
    phrase_fields: set[str] = set()
    for field, aliases in METADATA_FIELD_ALIASES.items():
        for alias in aliases:
            alias_text = ascii_search_text(alias)
            if " " in alias_text and f" {alias_text} " in padded:
                requested.add(field)
                phrase_fields.add(field)
    tokens = set(normalized.split())
    for field, aliases in METADATA_FIELD_ALIASES.items():
        if field in phrase_fields:
            continue
        for alias in aliases:
            if ascii_search_text(alias) in tokens:
                requested.add(field)
    return requested


def query_value_tokens(query_text: str) -> list[str]:
    """Ordered non-field non-stopword tokens, len >= 3."""
    seen: set[str] = set()
    out: list[str] = []
    for tok in re.findall(r"[a-z0-9]+", ascii_search_text(query_text)):
        if (
            len(tok) < 3
            or tok in METADATA_FIELD_TOKENS
            or tok in METADATA_QUERY_STOPWORDS
            or tok in seen
        ):
            continue
        seen.add(tok)
        out.append(tok)
    return out


def metadata_score_expr_fast(field_names: list[str], query_text: str) -> Column:
    """Best per-field sidecar score for one query (scorer :270-340), built
    as ONE Spark-SQL string.

    A Column-tree builder issues hundreds of py4j calls per query (~0.65 s
    of pure driver-side tree construction measured at r10 — more than the
    channel's whole JVM execution); parsing the specialized SQL text with a
    single `F.expr` makes the per-request build cost O(1) py4j calls.
    `field_names` must be column names resolvable in the frame the
    expression is applied to. Equivalence with the Column-tree twin
    (tests/metadata_oracle.py) is pinned by tests/test_metadata_search.py."""
    return F.expr(
        metadata_score_sql_spark({f: f"`{f}`" for f in field_names}, query_text)
    )


def metadata_match_sql(
    fields: list[str], query_text: str, metadata_json_col: str = "metadata"
) -> str | None:
    """The R5 channel's per-row score as Spark-SQL text: the JSON-string
    prefilter (the first 12 ordered value terms, :191-199) gates the precise
    scorer, and rows it rejects score 0. None when the query has no value
    terms, so the channel matches nothing. `fields` are column names."""
    terms = query_value_tokens(query_text)[:METADATA_PREFILTER_MAX_TERMS]
    if not terms:
        return None
    meta_l = f"lower(coalesce(`{metadata_json_col}`, ''))"
    prefilter = " OR ".join(
        f"contains({meta_l}, '{assert_sql_literal_safe(t, 'query value token')}')"
        for t in terms
    )
    score = metadata_score_sql_spark({f: f"`{f}`" for f in fields}, query_text)
    return f"CASE WHEN {prefilter} THEN {score} ELSE CAST(0.0 AS DOUBLE) END"


def metadata_channel(
    pool: DataFrame,
    query_text: str,
    limit: int,
    fields: list[str],
    *,
    metadata_json_col: str = "metadata",
) -> DataFrame:
    """R5 channel: JSON-string prefilter then precise scoring
    (`metadata_match_sql`), slots = min(limit, 10) (:2015-2040).
    `fields` are the names of `pool`'s scalar metadata columns."""
    match = metadata_match_sql(fields, query_text, metadata_json_col)
    if match is None:
        return pool.limit(0).withColumn("match_score", F.lit(0.0)).withColumn(
            "match_type", F.lit("metadata")
        )
    scored = (
        pool.withColumn("match_score", F.expr(match))
        .filter(F.col("match_score") > 0)
        .withColumn("match_type", F.lit("metadata"))
    )
    slots = min(limit, 10)
    return scored.orderBy(
        F.desc("match_score"), F.desc("importance"), F.desc("timestamp"), F.asc("id")
    ).limit(slots)


#: Single source of truth for the metadata-scorer semantics (r10 verdict
#: ask #5): every constant the two SQL dialects share — the Spark-SQL
#: scorer and the DuckDB oracle — lives HERE, and the two SQL texts are
#: emitted by ONE generator (:func:`_metadata_score_text`) from it. Weights are kept as decimal
#: STRINGS so each dialect controls its own numeric-literal form (DuckDB
#: keeps bare decimals, Spark wraps CAST(.. AS DOUBLE)) without the texts
#: drifting from each other. A semantics change is now one edit.
METADATA_SCORE_SPEC = {
    "cap": "1.0",              # final score ceiling
    "base": "0.15",            # any-gate-pass floor
    "coverage": "0.45",        # weight on hits / |value tokens|
    "query": "0.20",           # weight on hits / |query tokens|
    "exact_bonus": "0.15",     # folded value is a substring of the query
    "requested_bonus": "0.20", # field was explicitly requested
    "unrequested_demote": "0.6",  # other fields when any field requested
    "min_token_len": 2,        # value tokens shorter than this are noise
    "strong_pair_hits": 2,     # multi-token values need >= 2 hits
    "strong_exact_len": 3,     # 1-hit path: min token len with exact match
    "strong_long_len": 5,      # 1-hit path: min token len without exact
    "strong_exact_max_tokens": 3,  # 1-hit long+exact path: max query size
    "unrequested_min_hits": 2, # unrequested fields need >= 2 hits
}


def _metadata_score_text(fields: dict[str, str], query_text: str, d: dict) -> str:
    """Emit the metadata scorer as SQL text in the dialect ``d``.

    The GATING LOGIC (hit counting, strong-match rules, repo coverage,
    requested-field demotion) exists exactly once — here; ``d`` supplies
    only dialect primitives (value fold + token bindings, list membership,
    substring test, numeric-literal formatting). Both emitted texts are
    pinned char-identical to the pre-unification generators by
    tests/test_metadata_search.py."""
    qvt = query_value_tokens(query_text)
    if not qvt:
        return d["zero"]
    requested = requested_metadata_fields(query_text)
    nq = ascii_search_text(query_text)
    # charset contract at the interpolation site (qvt/nq land in
    # single-quoted SQL literals below)
    for tok in qvt:
        assert_sql_literal_safe(tok, "query value token")
    assert_sql_literal_safe(nq, "folded query text")
    S = METADATA_SCORE_SPEC

    parts: list[str] = []
    for field, col_sql in fields.items():
        vtext, vt = d["bindings"](col_sql)
        n_vt = d["size"](vt)
        hits = [d["contains"](vt, tok) for tok in qvt]
        n_hits = " + ".join(f"(CASE WHEN {h} THEN 1 ELSE 0 END)" for h in hits)
        exact = f"({vtext} != '' AND {d['substr'](nq, vtext)})"
        fr = field in requested
        hit_len = "greatest(" + ", ".join(
            f"CASE WHEN {h} THEN {len(tok)} ELSE 0 END" for tok, h in zip(qvt, hits)
        ) + ")" if len(qvt) > 1 else f"CASE WHEN {hits[0]} THEN {len(qvt[0])} ELSE 0 END"

        strong = (
            f"(({n_vt} > 1 AND ({n_hits}) >= least({S['strong_pair_hits']}, {n_vt}))"
            f" OR (({n_hits}) = 1 AND ("
            f"({str(fr and bool(requested)).lower()} AND {exact}"
            f" AND {hit_len} >= {S['strong_exact_len']})"
            f" OR ({hit_len} >= {S['strong_long_len']}"
            f" AND {str(fr and bool(requested)).lower()})"
            f" OR ({hit_len} >= {S['strong_long_len']} AND {exact}"
            f" AND {str(len(qvt) <= S['strong_exact_max_tokens']).lower()}))))"
        )
        gate = f"({vtext} != '' AND {n_vt} > 0 AND ({n_hits}) > 0 AND {strong})"
        if field == "repo" and "repo" in requested:
            covers = " AND ".join(hits)
            gate += f" AND ({exact} OR ({covers}))"
        if requested and not fr:
            gate += f" AND ({n_hits}) >= {S['unrequested_min_hits']}"

        score = d["score"](n_hits, n_vt, exact, len(qvt), requested, fr)
        if requested and not fr:
            score = d["demote"](score)
        parts.append(d["part"](col_sql, gate, score))
    return "greatest(" + ", ".join(parts) + ")" if len(parts) > 1 else parts[0]


def _duck_dialect() -> dict:
    """DuckDB primitives for :func:`_metadata_score_text` (oracle side:
    bare decimal literals; value fold/tokens repeated inline — DuckDB has
    no cheap let-binding and the oracle runs at test scale only)."""
    S = METADATA_SCORE_SPEC

    def bindings(col_sql: str) -> tuple[str, str]:
        vtext = (
            "lower(trim(regexp_replace(regexp_replace(CAST(" + col_sql + " AS STRING),"
            " '[^A-Za-z0-9]+', ' ', 'g'), '\\s+', ' ', 'g')))"
        )
        vt = (
            f"list_filter(string_split({vtext}, ' '),"
            f" t -> length(t) >= {S['min_token_len']})"
        )
        return vtext, vt

    def score(n_hits, n_vt, exact, n_qvt, requested, fr):
        return (
            f"least({S['cap']}, {S['base']} + {S['coverage']} *"
            f" (({n_hits}) * 1.0 / greatest({n_vt}, 1))"
            f" + {S['query']} * (({n_hits}) * 1.0 / {float(max(n_qvt, 1))})"
            f" + (CASE WHEN {exact} THEN {S['exact_bonus']} ELSE 0.0 END)"
            f" + {float(S['requested_bonus']) if (requested and fr) else 0.0})"
        )

    return {
        "zero": "0.0",
        "bindings": bindings,
        "size": lambda vt: f"len({vt})",
        "contains": lambda vt, tok: f"list_contains({vt}, '{tok}')",
        "substr": lambda nq, vtext: f"contains('{nq}', {vtext})",
        "score": score,
        "demote": lambda s: f"({s}) * {S['unrequested_demote']}",
        "part": lambda col_sql, gate, score: (
            f"(CASE WHEN {gate} THEN {score} ELSE 0.0 END)"
        ),
    }


def metadata_score_sql(fields: dict[str, str], query_text: str) -> str:
    """DuckDB twin of the Spark-SQL scorer — same specialization, emitted
    from the shared spec/generator above.
    fields: field name -> SQL expression for the value column."""
    return _metadata_score_text(fields, query_text, _duck_dialect())


def _spark_dialect() -> dict:
    """Spark-SQL primitives for :func:`_metadata_score_text` (the engine's
    scorer). Two dialect rules with measured reasons:

    - every numeric operand is CAST to DOUBLE — bare decimal literals
      parse as DECIMAL in Spark SQL and would diverge from the all-double
      Column-tree twin in low-order bits;
    - the value fold and its token array are let-bound (`vtx`/`vtoks` via
      single-element transform lambdas): the scorer references the folded
      text ~8x and the token array ~6x, and Catalyst does no CSE across
      HOF arguments, so inlining them would multiply both analysis time
      and per-row work by the fold size."""
    S = METADATA_SCORE_SPEC

    def bindings(col_sql: str) -> tuple[str, str]:
        return "vtx", "vtoks"

    def score(n_hits, n_vt, exact, n_qvt, requested, fr):
        return (
            f"least(CAST({S['cap']} AS DOUBLE), CAST({S['base']} AS DOUBLE)"
            f" + CAST({S['coverage']} AS DOUBLE) * (CAST(({n_hits}) AS DOUBLE) /"
            f" CAST(greatest({n_vt}, 1) AS DOUBLE))"
            f" + CAST({S['query']} AS DOUBLE) * (CAST(({n_hits}) AS DOUBLE) /"
            f" CAST({max(n_qvt, 1)} AS DOUBLE))"
            f" + (CASE WHEN {exact} THEN CAST({S['exact_bonus']} AS DOUBLE)"
            f" ELSE CAST(0.0 AS DOUBLE) END)"
            f" + CAST({float(S['requested_bonus']) if (requested and fr) else 0.0}"
            f" AS DOUBLE))"
        )

    def part(col_sql: str, gate: str, score: str) -> str:
        # ASCII fold: strip non-ASCII, non-alnum runs -> single space,
        # collapse whitespace, trim, lower. The '\\'s below are consumed by
        # Spark's SQL string-literal unescaping, leaving single-backslash
        # regex metacharacters.
        fold = (
            "lower(trim(regexp_replace(regexp_replace(regexp_replace(CAST("
            + col_sql
            + " AS STRING), '[^\\\\x00-\\\\x7F]', ''),"
            " '[^A-Za-z0-9]+', ' '), '\\\\s+', ' ')))"
        )
        body = f"(CASE WHEN {gate} THEN {score} ELSE CAST(0.0 AS DOUBLE) END)"
        return (
            f"element_at(transform(array({fold}), vtx ->"
            f" element_at(transform(array(filter(split(vtx, ' '),"
            f" t -> length(t) >= {S['min_token_len']})), vtoks -> {body}), 1)), 1)"
        )

    return {
        "zero": "CAST(0.0 AS DOUBLE)",
        "bindings": bindings,
        "size": lambda vt: f"size({vt})",
        "contains": lambda vt, tok: f"array_contains({vt}, '{tok}')",
        "substr": lambda nq, vtext: f"instr('{nq}', {vtext}) > 0",
        "score": score,
        "demote": lambda s: f"({s}) * CAST({S['unrequested_demote']} AS DOUBLE)",
        "part": part,
    }


def metadata_score_sql_spark(fields: dict[str, str], query_text: str) -> str:
    """The metadata scorer as Spark-SQL text, for the one-`F.expr` scorer,
    emitted from the shared spec/generator above (the Column-tree twin in
    tests/metadata_oracle.py is pinned bit-identical to it). fields: field
    name -> Spark SQL expression for the value column."""
    return _metadata_score_text(fields, query_text, _spark_dialect())


# ---------------------------------------------------------------------------
# X17: recursive metadata term collection (automem/utils/scoring.py:40-63)
# ---------------------------------------------------------------------------

def _json_map_values(col: Column) -> Column:
    """Values of a JSON object, skipping the 'entities' subtree (the
    reference's walk never descends into extracted entities). Nested
    objects/arrays surface as their raw JSON text for the next level."""
    return F.map_values(
        F.map_filter(
            F.from_json(col, "map<string,string>"), lambda k, _: k != "entities"
        )
    )


def metadata_terms(
    df: DataFrame,
    *,
    json_col: str = "metadata",
    id_col: str = "id",
    max_depth: int = 3,
) -> DataFrame:
    """X17: recursively collect searchable terms from the schemaless
    metadata JSON (automem/utils/scoring.py:40-63): every string value
    (trimmed, <= 256 chars, lowercased) plus each of its `[a-z0-9_\\-]+`
    tokens; dicts/lists recurse to `max_depth`; the `entities` key is
    skipped at every level.

    Parity note: the reference walks parsed Python objects, so JSON numbers
    and booleans (non-str) contribute nothing; here nested values surface as
    strings, so bare numeric/boolean scalars are filtered explicitly. The
    string-typed re-parse makes the divergence two-directional: a genuine
    JSON *string* value that happens to look like a scalar ("42", "true")
    is dropped here but kept by the reference, while a non-canonical bare
    numeric (1e5, +3, .5) slips past the canonical-form regex and is kept
    here but dropped by the reference. Both cases require metadata values
    that are pure numeric/boolean lexemes — noise terms for search in
    either engine — so the filter trades exact parity on them for keeping
    the walk a pure column program (no JSON type tags carried per level).

    Plan shape: a per-row explode chain (narrow, no shuffle) with one final
    groupBy(id) collect — at scale one shuffle keyed on id whose payload is
    the bounded term set. Output: (id, metadata_terms sorted array<string>).
    """
    frontier = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode_outer(_json_map_values(F.col(json_col))).alias("v"),
        )
        .filter(F.col("v").isNotNull())
    )
    scalar_frames = []
    for _ in range(max_depth):
        v = F.trim(F.col("v"))
        is_obj = v.startswith("{")
        is_arr = v.startswith("[")
        scalar_frames.append(frontier.filter(~is_obj & ~is_arr))
        arr_elems = (
            frontier.filter(is_arr)
            .select(
                "id",
                F.explode_outer(F.from_json(F.col("v"), "array<string>")).alias("v"),
            )
            .filter(F.col("v").isNotNull())
        )
        obj_vals = (
            frontier.filter(is_obj)
            .select("id", F.explode_outer(_json_map_values(F.col("v"))).alias("v"))
            .filter(F.col("v").isNotNull())
        )
        frontier = arr_elems.unionAll(obj_vals)
    # values nested deeper than max_depth container levels are dropped

    scalars = scalar_frames[0]
    for fr in scalar_frames[1:]:
        scalars = scalars.unionAll(fr)
    trimmed = F.trim(F.col("v"))
    keep = (
        (trimmed != "")
        & (F.length(trimmed) <= 256)
        & ~trimmed.rlike(r"^-?[0-9]+(\.[0-9]+)?$")
        & ~F.lower(trimmed).isin("true", "false", "null")
    )
    lowered = scalars.filter(keep).select("id", F.lower(trimmed).alias("value"))
    full_terms = lowered.select("id", F.col("value").alias("term"))
    token_terms = lowered.select(
        "id",
        F.explode(F.regexp_extract_all(F.col("value"), F.lit(r"[a-z0-9_\-]+"), 0)).alias(
            "term"
        ),
    )
    return (
        full_terms.unionAll(token_terms)
        .groupBy("id")
        .agg(F.array_sort(F.collect_set("term")).alias("metadata_terms"))
    )


def metadata_token_hits_expr(
    terms: Column, tags: Column, tokens: list[str], query_text: str
) -> Column:
    """The token-hit core of _compute_metadata_score (scoring.py:148-157):
    count of query tokens present in tag terms or walked metadata terms,
    plus the whole-query exact-match flag against metadata terms."""
    tag_terms = F.transform(tags, lambda t: F.lower(t))
    hits = [
        (F.array_contains(tag_terms, tok) | F.array_contains(terms, tok)).cast("int")
        for tok in tokens
    ]
    token_hits = sum(hits[1:], hits[0]) if hits else F.lit(0)
    nq = query_text.lower().strip()
    exact = F.array_contains(terms, nq) if nq else F.lit(False)
    return F.struct(
        token_hits.cast("bigint").alias("token_hits"),
        exact.cast("int").alias("exact_match"),
    )
