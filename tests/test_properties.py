"""Property-based tests (hypothesis): algebraic invariants that hold for ANY
input, complementing the fixture-pinned oracle gate.

- tag_prefixes column expression == the driver-side Python twin
- MinHash+LSH candidate pairs are a subset of exact n-gram Jaccard pairs
  (post-verification guarantees no false positives at any parameters)
- connected components == a reference union-find on random graphs
- exact dedup keeps exactly one representative per normalization class
"""

from hypothesis import HealthCheck, given, settings, strategies as st

from automem_spark.functions.tags import compute_tag_prefixes

_tag = st.text(
    alphabet="abcXYZ019:/ ", min_size=0, max_size=12
)


@given(st.lists(_tag, max_size=6))
@settings(max_examples=200, deadline=None)
def test_tag_prefixes_python_twin_invariants(tags):
    out = compute_tag_prefixes(tags)
    # no duplicates, all lowercase, every prefix closed under ':'-truncation
    assert len(out) == len(set(out))
    assert all(p == p.lower() for p in out)
    for p in out:
        while ":" in p:
            p = p.rsplit(":", 1)[0]
            assert p in out


_SPARK_EXAMPLES = 6  # spark round-trips are slow; keep the per-test budget low


def _prefix_expr_twin(spark, tags):
    from pyspark.sql import functions as F

    from automem_spark.functions.tags import tag_prefixes_expr

    df = spark.createDataFrame([(tags,)], "tags array<string>")
    return df.select(tag_prefixes_expr(F.col("tags")).alias("p")).collect()[0]["p"]


@given(st.lists(_tag, max_size=5))
@settings(max_examples=_SPARK_EXAMPLES, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_tag_prefixes_expr_matches_python_twin(spark, tags):
    assert _prefix_expr_twin(spark, tags) == compute_tag_prefixes(tags)


_doc = st.text(alphabet="ab c.d", min_size=0, max_size=40)


@given(st.lists(_doc, min_size=2, max_size=8))
@settings(max_examples=_SPARK_EXAMPLES, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_minhash_lsh_subset_of_exact(spark, texts):
    from automem_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    exact = {(r.src, r.dst) for r in ngram_jaccard_pairs(df, 0.3).collect()}
    lsh = {(r.src, r.dst) for r in minhash_lsh_pairs(df, 0.3, num_hashes=16, bands=4).collect()}
    assert lsh <= exact  # verification guarantees no false positives


# wider alphabet than _doc: digits/underscore (Java \w), punctuation that
# the normalizer strips, whitespace runs, and non-ASCII (é and 中 exercise
# the ASCII-\w parity and multi-byte UTF-8 hashing)
_doc_wide = st.text(alphabet="aB1_ .,!é中\t\n", min_size=0, max_size=48)


@given(st.lists(_doc_wide, min_size=1, max_size=6))
@settings(max_examples=_SPARK_EXAMPLES, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_minhash_banded_map_property_identical_to_sql(spark, texts):
    """The Arrow signature kernel is bit-identical to the SQL-text oracle
    (tests/dedup_oracle.py) on adversarial generated corpora."""
    from dedup_oracle import exploded_shingles, minhash_banded_sql

    from automem_spark.operators.dedup import minhash_banded_map

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    kernel = minhash_banded_map(df, num_hashes=16, bands=4)
    sql = spark.sql(minhash_banded_sql(16, 4), exploded=exploded_shingles(df))
    assert sorted(map(tuple, kernel.collect())) == sorted(map(tuple, sql.collect()))


def _union_find_components(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in component
    comp = {}
    for i in range(n):
        r = find(i)
        comp.setdefault(r, []).append(i)
    return {i: min(members) for r, members in comp.items() for i in members}


@given(st.integers(4, 12).flatmap(
    lambda n: st.tuples(
        st.just(n),
        st.lists(st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
                 max_size=18),
    )
))
@settings(max_examples=_SPARK_EXAMPLES, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_connected_components_matches_union_find(spark, case):
    from automem_spark.operators.graph import connected_components

    n, edges = case
    edges = [(a, b) for a, b in edges if a != b]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        pairs = pairs.limit(0)
    got = {r.id: r.component for r in connected_components(pairs, nodes).collect()}
    assert got == _union_find_components(n, edges)


@given(st.integers(4, 10).flatmap(
    lambda n: st.tuples(
        st.just(n),
        st.lists(st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
                 max_size=14),
    )
))
@settings(max_examples=_SPARK_EXAMPLES, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_connected_components_string_ids_both_paths(spark, case):
    """The single-task union-find must honor non-numeric node id types:
    component = lexicographic MIN id, as in the reference union-find."""
    from automem_spark.operators.graph import connected_components

    n, edges = case
    ids = [f"n{i:02d}" for i in range(n)]
    sedges = [(ids[a], ids[b]) for a, b in edges if a != b]
    nodes = spark.createDataFrame([(i,) for i in ids], "id string")
    pairs = spark.createDataFrame(sedges or [("x", "x")], "src string, dst string")
    if not sedges:
        pairs = pairs.limit(0)
    expect_int = _union_find_components(n, [(a, b) for a, b in edges if a != b])
    expect = {ids[i]: ids[c] for i, c in expect_int.items()}
    got = {r.id: r.component for r in connected_components(pairs, nodes).collect()}
    assert got == expect


@given(st.lists(st.text(alphabet="ab C!", min_size=0, max_size=10),
                min_size=1, max_size=10))
@settings(max_examples=_SPARK_EXAMPLES, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_exact_dedup_partitions_by_normalization(spark, texts):
    from automem_spark.operators.dedup import exact_dedup, normalized_text_expr

    from pyspark.sql import functions as F

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = exact_dedup(df).collect()
    norms = {r.n for r in df.select(normalized_text_expr(F.col("text")).alias("n")).collect()}
    # one representative per distinct normalized content; counts cover input
    assert len(out) == len(norms)
    assert sum(r.dup_count for r in out) == len(texts)
