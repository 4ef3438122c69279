"""Tests of the benchmark itself (no Spark): generator determinism, the
metric list against BENCHMARK.json, and the output checkers, including
checkers fed deliberately wrong outputs.

    python3 -m pytest membench/tests -q
"""

import filecmp
import json
import os

import numpy as np
import pytest

import checks
import gen
import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setitem(gen.PROFILES, "tiny", gen.Profile(1500, 20, n_ingest_batches=2))
    return "tiny"


def _same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    files = [f for f in cmp.common_files]
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    return not mismatch and not errors and all(_same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_generator_same_seed_same_bytes(tmp_path, tiny):
    m1 = gen.generate(str(tmp_path / "a"), 7, tiny)
    m2 = gen.generate(str(tmp_path / "b"), 7, tiny)
    assert m1 == m2
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))


def test_generator_other_seed_other_bytes(tmp_path, tiny):
    gen.generate(str(tmp_path / "a"), 7, tiny)
    gen.generate(str(tmp_path / "b"), 8, tiny)
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))


def test_generator_plants_what_the_checks_need(tmp_path, tiny):
    man = gen.generate(str(tmp_path / "a"), 7, tiny)
    assert man["seed"] == 7 and man["dim"] == gen.DIM
    assert len(man["near_dups"]) == int(1500 * gen.NEAR_DUP_SHARE)
    assert man["chain_heads"] and man["hubs"]
    golds = {q["gold"] for q in man["queries"]}
    partners = {x for p in man["near_dups"] for x in p}
    assert len(golds) == len(man["queries"]) and not golds & partners
    for bat in man["ingest_batches"]:
        assert len(bat["ids"]) == gen.INGEST_BATCH and bat["probes"] and bat["near_dups"]


def test_benchmark_json_names_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(
        __import__("workloads").WORKLOADS
    )


@pytest.mark.parametrize("units", [run.END_TO_END, run.PER_LAYER])
def test_result_line_prints_every_metric_with_its_unit(units):
    values = {name: 1.5 for name, _ in units}
    line = json.loads(run.result_line(10, 0, values, units))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True
    assert {k: v["unit"] for k, v in line["metrics"].items()} == dict(units)
    with pytest.raises(KeyError):
        run.result_line(10, 0, {}, units)


def _model(n=300, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    emb = rng.standard_normal((n, dim))
    return checks.CorpusModel(
        np.arange(n), emb, np.zeros(n, bool), ["Insight"] * n, np.zeros(n, np.int64),
        [["topic:t01"]] * n,
    )


def test_vector_check_accepts_exact_top_k():
    m = _model()
    qv = m.emb[5] + 0.1
    mask = m.eligible()
    top = checks.cosine_topk(m, qv, mask, 20)
    rows = [("vector", i, s) for i, s in top[:5]]
    assert checks.check_vector_rows(m, qv, mask, 20, rows) == 0
    assert checks.check_ranked([(s, s) for _, i, s in rows]) == 0


def test_wrong_ranking_fails_the_checker():
    m = _model()
    qv = m.emb[5] + 0.1
    mask = m.eligible()
    top = checks.cosine_topk(m, qv, mask, 300)
    right = [("vector", i, s) for i, s in top[:5]]
    # a memory from the bottom of the ranking slipped into the results
    worst_id, worst_sim = top[-1]
    wrong = right[:4] + [("vector", worst_id, worst_sim)]
    assert checks.check_vector_rows(m, qv, mask, 20, wrong) == 1
    # a right id reported with a wrong score
    assert checks.check_vector_rows(m, qv, mask, 20, [("vector", right[0][1], right[0][2] - 1e-3)]) == 1
    # results out of order
    assert checks.check_ranked([(s, s) for _, _, s in reversed(right)]) == 4
    # batch results that disagree with single-query results
    pairs = [(i, s) for _, i, s in right]
    assert checks.check_topk_equal(pairs, pairs) == 0
    assert checks.check_topk_equal([pairs[1], pairs[0]] + pairs[2:], pairs) == 2


def test_component_check():
    nodes = [1, 2, 3, 4, 5]
    pairs = [(1, 2), (2, 3)]
    good = {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}
    assert checks.check_components(good, nodes, pairs) == 0
    relabeled = {1: 9, 2: 9, 3: 9, 4: 7, 5: 8}
    assert checks.check_components(relabeled, nodes, pairs) == 0
    assert checks.check_components({1: 1, 2: 1, 3: 3, 4: 4, 5: 5}, nodes, pairs) > 0
    assert checks.check_components({1: 1, 2: 1, 3: 1, 4: 1, 5: 5}, nodes, pairs) > 0


def test_dedup_pair_check():
    a = "alpha beta gamma delta epsilon zeta eta theta"
    b = "alpha beta gamma delta epsilon zeta eta iota"
    c = "one two three four five six seven eight"
    content = {1: a, 2: b, 3: c}
    j = checks.jaccard(a, b)
    assert 0.5 < j < 1
    assert checks.check_dedup_pairs([(1, 2, j)], content, 0.5) == 0
    assert checks.check_dedup_pairs([(1, 3, 0.9)], content, 0.5) == 1


def test_cosine_pair_check():
    m = _model(n=60, dim=4, seed=5)
    # plant two near-parallel pairs so the threshold has pairs to find
    m.emb[10] = m.emb[3] * 2.0 + 0.01
    m.emb[40] = m.emb[7] + 0.02
    ref = checks.cosine_pairs(m.ids, m.emb, 0.9)
    assert (3, 10) in ref and (7, 40) in ref
    exact = [(a, b, s) for (a, b), s in ref.items()]
    assert checks.check_cosine_pairs(exact, m.ids, m.emb, 0.9) == 0
    # a missing pair, a wrong similarity, a pair below the threshold, a duplicate
    assert checks.check_cosine_pairs(exact[1:], m.ids, m.emb, 0.9) == 1
    a, b, s = exact[0]
    assert checks.check_cosine_pairs([(a, b, s - 1e-3)] + exact[1:], m.ids, m.emb, 0.9) == 1
    low = next((i, j) for i in range(60) for j in range(i + 1, 60) if (i, j) not in ref)
    assert checks.check_cosine_pairs(exact + [(low[0], low[1], 0.95)], m.ids, m.emb, 0.9) == 1
    assert checks.check_cosine_pairs(exact + exact[:1], m.ids, m.emb, 0.9) == 1


def test_tail_percentile():
    assert checks.tail_percentile([]) == (100.0, 0.0, 0)
    assert checks.tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0, 0)
    pct, value, beyond = checks.tail_percentile([float(x) for x in range(100)])
    assert (pct, value, beyond) == (90.0, 89.0, 10)


def test_raising_operation_counts_as_failed_and_run_goes_on():
    import workloads
    from spans import Tracer

    r = workloads.Run("serve", "", "", 1, 1.0, Tracer(False), {}, 1)
    with r.guard("recall r0"):
        raise KeyError(5)
    with r.guard("recall r1"):
        pass
    assert r.failed == 1 and r.problems[0].startswith("recall r0 raised KeyError")
