"""The request paths that take bounded working sets through the driver.

- `plans/literal.py`: a literal frame gives back exactly the rows and types
  it was built from, for every type the request paths carry (strings with
  `${...}` too, which the SQL parser would otherwise substitute), and
  `id_in` keeps the rows `Column.isin` keeps.
- `state.current_state_filter` (driver-side supersession walk and tail) is
  pinned `==` to its DataFrame twin `tests/state_oracle.py`.
- `graph.expand_relations` (driver-side caps) is pinned `==` to its
  DataFrame twin `tests/graph_oracle.py`.

The hand-built frames cover chains, an inactive newest edge, a cycle, a hub,
duplicate edges, NULL ids, scores and timestamps, NaN scores and score
ties.
"""

from __future__ import annotations

import math
import time
from datetime import datetime

import pytest
from graph_oracle import expand_relations_oracle
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, StructField, StructType
from state_oracle import current_state_filter_oracle

from automem_spark.operators.graph import expand_relations
from automem_spark.operators.state import current_state_filter
from automem_spark.plans.literal import collect_rows, id_in, literal_frame, spark_sorted

NOW = "2026-06-01 00:00:00"
NAN = float("nan")


def _norm(rows) -> list[tuple]:
    """Rows as tuples with NaN made comparable (NaN != NaN in Python)."""
    return [
        tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in rows
    ]


# --------------------------------------------------------------------------
# literal frames


CARRIED = (
    "id bigint, n int, d double, f float, s string, b boolean, ts timestamp, "
    "tags array<string>"
)
STRINGS = [
    "it's", "back\\slash", "\\u0041", "two\nlines", "naïve 東京 ✓", "", "'\\'",
    "${env:HOME}", "${spark.app.name}", "$${system:user.name}",
]


@pytest.fixture
def new_york_tz(monkeypatch):
    """The Python process in America/New_York; the session stays UTC."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_literal_frame_round_trips_every_carried_type(spark, new_york_tz):
    src = spark.createDataFrame(
        [
            (i, i - 3, d, 0.1 * i, s, i % 2 == 0, datetime(2026, 3, 8, 1 + i, 30), tags)
            for i, (d, s, tags) in enumerate(
                zip(
                    [0.1, -0.0, NAN, math.inf, -math.inf, 1e-300, 2.5e20, 1.0, 2.0, 3.0],
                    STRINGS,
                    [["a'b"], [], ["x\\y", "\\u0041"], ["ü"], None, ["q"], ["\n"],
                     ["${env:HOME}"], ["${spark.app.name}", "$"], ["\\${x}"]],
                )
            )
        ]
        + [(None, None, None, None, None, None, None, None), (2**63 - 1, 2**31 - 1, 1.0, 1.0, "z", True, None, [None])],
        CARRIED,
    )
    lit = literal_frame(spark, collect_rows(src), src.schema)
    assert lit.schema.simpleString() == src.schema.simpleString()
    assert _norm(lit.collect()) == _norm(src.collect())
    # the instants, not only their local-time rendering, are unchanged
    micros = "unix_micros(ts) AS us"
    assert lit.selectExpr(micros).collect() == src.selectExpr(micros).collect()
    neg_zero = lit.filter(F.col("n") == -2).collect()[0].d
    assert math.copysign(1.0, neg_zero) == -1.0


def test_literal_frame_empty_and_refusals(spark):
    schema = spark.createDataFrame([], CARRIED).schema
    empty = literal_frame(spark, [], schema)
    assert empty.collect() == []
    assert empty.schema.simpleString() == schema.simpleString()
    ts_schema = StructType([schema["ts"]])
    with pytest.raises(TypeError, match="epoch microseconds"):
        literal_frame(spark, [(datetime(2026, 1, 1),)], ts_schema)
    with pytest.raises(TypeError, match="decimal"):
        literal_frame(spark, [(1,)], StructType([StructField("x", DecimalType(10, 2))]))


def test_id_in_matches_isin(spark):
    df = spark.createDataFrame([(i,) for i in (-5, 0, 1, 7, 2**40, None)], "id bigint")
    for ids in ([], [7], {1, -5, 2**40, 99}, range(3000)):
        want = df.filter(F.col("id").isin(list(ids))).collect()
        assert df.filter(id_in("id", ids)).collect() == want


def test_spark_sorted_matches_order_by(spark):
    rows = [(1, 0.5, "b"), (2, None, "a"), (3, NAN, None), (4, 0.5, "a"), (5, -1.0, None), (6, None, None)]
    df = spark.createDataFrame(rows, "id int, x double, s string")
    for order in ([(1, True), (2, False), (0, False)], [(1, False), (2, True), (0, True)]):
        cols = [F.desc(df.columns[i]) if d else F.asc(df.columns[i]) for i, d in order]
        assert _norm(spark_sorted(rows, order)) == _norm(df.orderBy(*cols).collect())


# --------------------------------------------------------------------------
# current_state_filter vs its DataFrame twin

ARCH, LIVE = True, False
PAST, FUTURE = "2026-01-01 00:00:00", "2026-12-01 00:00:00"


def _memories(spark):
    # (id, archived, t_valid, t_invalid, importance, timestamp)
    plain = {i: (LIVE, None, None, 0.5, "2026-02-01 00:00:00") for i in range(1, 100)}
    plain.update(
        {
            11: (ARCH, None, None, 0.5, "2026-02-01 00:00:00"),  # inactive newest target
            22: (LIVE, None, PAST, 0.5, "2026-02-01 00:00:00"),  # expired chain tail
            80: (ARCH, None, None, 0.9, "2026-02-02 00:00:00"),
            81: (LIVE, None, PAST, 0.9, "2026-02-02 00:00:00"),
            82: (LIVE, FUTURE, None, 0.9, "2026-02-02 00:00:00"),
            90: (LIVE, None, None, None, "2026-02-03 00:00:00"),  # NULL importance
            91: (LIVE, None, None, 0.5, None),  # NULL timestamp
            92: (LIVE, None, None, 0.5, "2026-02-03 00:00:00"),
            93: (LIVE, None, None, NAN, "2026-02-03 00:00:00"),
        }
    )
    return spark.createDataFrame(
        [(i, *v) for i, v in sorted(plain.items())],
        "id bigint, archived boolean, t_valid string, t_invalid string, "
        "importance double, timestamp string",
    ).select(
        "id", "archived",
        F.col("t_valid").cast("timestamp").alias("t_valid"),
        F.col("t_invalid").cast("timestamp").alias("t_invalid"),
        "importance",
        F.col("timestamp").cast("timestamp").alias("timestamp"),
    )


SUPERSESSION_EDGES = [
    # (src, dst, rel_type, updated_at_epoch)
    (1, 2, "INVALIDATED_BY", 10), (2, 3, "EVOLVED_INTO", 20),  # chain 1 -> 2 -> 3
    (10, 11, "INVALIDATED_BY", 200), (10, 12, "INVALIDATED_BY", 100),  # inactive newest
    (20, 21, "INVALIDATED_BY", 1), (21, 22, "INVALIDATED_BY", 2),  # stops at 21
    (30, 31, "INVALIDATED_BY", 1), (31, 30, "INVALIDATED_BY", 2),  # cycle
    *[(i, i + 1, "EVOLVED_INTO", i) for i in range(40, 48)],  # longer than 5 hops
    *[(i, 56, "INVALIDATED_BY", 1) for i in range(50, 56)],  # hub head
    (60, 61, "INVALIDATED_BY", 5), (60, 61, "INVALIDATED_BY", 5),  # duplicate edge
    (70, 71, "INVALIDATED_BY", None), (70, 72, "INVALIDATED_BY", 5),  # NULL epoch
    (73, 74, "INVALIDATED_BY", 5), (73, 75, "INVALIDATED_BY", 5),  # epoch tie
    (76, None, "INVALIDATED_BY", 9), (None, 77, "INVALIDATED_BY", 9),  # NULL ids
    (78, 79, "RELATES_TO", 9),  # not a supersession edge
    (85, 999, "INVALIDATED_BY", 9),  # target missing from the corpus
]

RESULTS = [
    # (id, match_type, final_score)
    (1, "keyword", 0.9), (10, "keyword", 0.8), (20, "vector", 0.7),
    (30, "keyword", 0.6), (31, "keyword", 0.6),
    (40, "keyword", 0.55),
    (50, "keyword", 0.5), (51, "keyword", 0.5), (52, "keyword", 0.45), (53, "vector", NAN),
    (60, "keyword", 0.4), (70, "keyword", 0.4), (73, "keyword", 0.4),
    (76, "keyword", 0.3), (78, "keyword", 0.3), (85, "keyword", 0.3),
    (80, "keyword", 0.95), (81, "keyword", 0.3), (82, "keyword", 0.3),
    (90, "keyword", 0.2), (91, "keyword", 0.2), (92, "keyword", 0.2), (93, "keyword", 0.2),
    (None, "keyword", 0.2), (94, "keyword", None), (95, "keyword", NAN), (998, "entity", 0.2),
]


@pytest.mark.parametrize("keep_order_cols", [False, True])
def test_current_state_filter_equals_oracle(spark, keep_order_cols):
    mem = _memories(spark)
    edges = spark.createDataFrame(
        SUPERSESSION_EDGES, "src bigint, dst bigint, rel_type string, updated_at_epoch bigint"
    )
    results = spark.createDataFrame(
        RESULTS, "id bigint, match_type string, final_score double"
    ).withColumn("match_score", F.lit(0.0))
    got = current_state_filter(results, mem, edges, now=NOW, keep_order_cols=keep_order_cols)
    want = current_state_filter_oracle(
        results, mem, edges, now=NOW, keep_order_cols=keep_order_cols
    ).orderBy("position")
    assert got.schema.simpleString() == want.schema.simpleString()
    rows = got.collect()
    assert _norm(rows) == _norm(want.collect())
    by_id = {r.id: r for r in rows}
    # the fixture reaches every case it is built for
    assert by_id[3].state_replaces == 1 and by_id[12].state_replaces == 10
    assert by_id[21].state_replaces == 20 and by_id[45].state_replaces == 40
    assert by_id[56].state_replaces == 53 and by_id[72].state_replaces == 70
    assert 30 not in by_id and 31 not in by_id and None in by_id


def test_current_state_filter_empty_results(spark):
    mem = _memories(spark)
    edges = spark.createDataFrame(
        SUPERSESSION_EDGES, "src bigint, dst bigint, rel_type string, updated_at_epoch bigint"
    )
    results = spark.createDataFrame([], "id bigint, match_type string, final_score double")
    got = current_state_filter(results, mem, edges, now=NOW)
    want = current_state_filter_oracle(results, mem, edges, now=NOW)
    assert got.collect() == want.collect() == []
    assert got.schema.simpleString() == want.schema.simpleString()


# --------------------------------------------------------------------------
# expand_relations vs its DataFrame twin


def _graph(spark):
    mem = spark.createDataFrame(
        [(i, 0.5 + (i % 7) / 20, False, "Memory") for i in range(1, 60)]
        + [
            (60, 0.9, True, "Memory"),  # archived target
            (61, 0.9, None, "MetaPattern"),
            (62, 0.9, None, None),  # NULL type
            (63, None, False, "Memory"),  # NULL importance
            (64, NAN, False, "Memory"),  # NaN importance
            (65, 0.05, False, "Memory"),
        ],
        "id bigint, importance double, archived boolean, type string",
    )
    e = []
    # hub seed 1: 9 neighbours, several at the same strength (ties by dst)
    e += [(1, 10 + j, "RELATES_TO", 0.5 if j % 3 else 0.8) for j in range(9)]
    # seeds 2-7: six targets each, so the global cap of 25 binds
    e += [(s, 20 + 6 * (s - 2) + j, "LINKS", 0.1 * j) for s in range(2, 8) for j in range(6)]
    e += [
        (1, 10, "RELATES_TO", 0.5), (1, 10, "RELATES_TO", 0.5),  # duplicate edge
        (11, 1, "RELATES_TO", 0.95),  # reversed direction
        (1, 1, "SELF", 1.0), (1, 2, "SEEDS", 1.0),  # self-loop, seed-to-seed
        (2, 60, "X", 1.0), (2, 61, "X", 1.0), (2, 62, "X", 1.0),
        (2, 63, "X", 1.0), (3, 64, "X", 1.0), (3, 65, "X", 1.0),
        (4, None, "X", 1.0), (None, 5, "X", 1.0),  # NULL endpoints
        (5, 12, "NOSTRENGTH", None), (6, 13, "NAN", NAN),
        (8, 14, "NULLSCORE", 0.3), (8, 15, "NULLSCORE", 0.4),
        (9, 16, "NANSCORE", 0.3), (9, 17, "NANSCORE2", 0.2),
    ]
    edges = spark.createDataFrame(
        [(s, d, r, st, 0.25, None, None, None) for s, d, r, st in e],
        "src bigint, dst bigint, rel_type string, strength double, score double, "
        "confidence double, similarity double, cnt bigint",
    )
    seeds = spark.createDataFrame(
        [(1, 0.9), (2, 0.7), (3, 0.7), (4, 0.6), (5, 0.5), (6, 0.5), (7, 0.4),
         (8, None), (9, NAN), (None, 0.9), (3, 0.2)],  # 3 twice: duplicate seed id
        "id bigint, final_score double",
    )
    return seeds, edges, mem


@pytest.mark.parametrize(
    "kwargs",
    [{}, {"min_strength": 0.3, "min_importance": 0.6, "per_seed": 3, "total": 10}],
)
def test_expand_relations_equals_oracle(spark, kwargs):
    seeds, edges, mem = _graph(spark)
    got = expand_relations(seeds, edges, mem, **kwargs)
    want = expand_relations_oracle(seeds, edges, mem, **kwargs)
    assert got.schema.simpleString() == want.schema.simpleString()
    rows = got.collect()
    assert _norm(rows) == _norm(want.collect())
    assert rows and len(rows) == kwargs.get("total", 25)


def test_expand_relations_no_seeds(spark):
    seeds, edges, mem = _graph(spark)
    none = seeds.filter(F.lit(False))
    got = expand_relations(none, edges, mem)
    assert got.collect() == expand_relations_oracle(none, edges, mem).collect() == []
