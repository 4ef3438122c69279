"""The benchmark workloads: serve and maintain.

Each workload is one client in a closed loop on one thread: it sends the
next operation only after the previous one has returned. Every call into
the program sits inside a tracer span named ``<module>.<function>.<part>``
(``build`` is the Python call that returns the DataFrame, ``exec`` the
action); the spans give the end-to-end timings and, in a traced run, the
per-layer Spark counts. Output checks run after the timed loop.
"""

from __future__ import annotations

import os
import resource
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pyarrow.parquet as pq

import checks
from spans import Tracer

LIMIT = 5
VECTOR_OVERFETCH = 20  # recall.vector_channel fetches max(limit, min(4 * limit, 200))
NOW = "2026-06-01 00:00:00"
SETUP_REPS = 7
# Assumed traffic, not measured: no request trace or published request mix
# exists for the reference, so query popularity (Zipf exponent) and the
# request mix below are unverified assumptions, kept as constants until
# measured traffic is available.
ZIPF_QUERY_S = 1.1
# serve's request schedule, repeated: mostly hybrid recall, one full recall
# (graph/entity expansion + supersession) and one viewer-neighbours call per
# cycle; the other kinds come early so that the shortest run (the first
# SERVE_MIN_REQUESTS requests) has every kind and four recalls
SERVE_CYCLE = ["recall", "graph_neighbors", "recall", "recall_full"] + ["recall"] * 6
SERVE_MIN_REQUESTS = 6
# maintain's timed steps are fixed: every generated ingest batch, each
# followed by READS_PER_BATCH multi-query reads of READ_QUERIES queries
# (a share of the batch's fresh probes plus queries from the corpus pool)
READS_PER_BATCH = 2
READ_QUERIES = 8
DEDUP_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.9


def iso(epoch: int) -> str:
    return datetime.fromtimestamp(epoch, tz=timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


@dataclass
class Run:
    """State of one benchmark run."""

    workload: str
    data_dir: str
    work_dir: str
    seed: int
    seconds: float
    tracer: Tracer
    man: dict
    ncpu: int
    spark: object = None
    mem: object = None
    edges: object = None
    emb: object = None
    model: checks.CorpusModel | None = None
    setup_s: list[float] = field(default_factory=list)
    # read latencies recall_p50_ms and recall_tail_ms are taken over
    # (serve: its hybrid recalls; maintain: its multi-query reads)
    latencies_ms: list[float] = field(default_factory=list)
    answered: int = 0
    hits: int = 0
    hit_total: int = 0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    wall_s: float = 0.0
    extra: dict = field(default_factory=dict)

    def fail(self, what: str, n: int = 1) -> None:
        if n:
            self.failed += 1
            self.problems.append(what)

    @contextmanager
    def guard(self, what: str):
        """An operation or check that raises fails; the run goes on."""
        try:
            yield
        except Exception as e:  # noqa: BLE001 - any error is a failed operation
            self.fail(f"{what} raised {type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}")


# --------------------------------------------------------------------------
# set-up


def _start(run: Run):
    from automem_spark.session import get_spark

    with run.tracer.span("session.get_spark"):
        spark = get_spark("membench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    if sc.master != f"local[{run.ncpu}]" or sc.defaultParallelism != run.ncpu:
        raise SystemExit(
            f"membench: session runs {sc.master} with parallelism "
            f"{sc.defaultParallelism}, expected local[{run.ncpu}]"
        )
    run.tracer.bind(spark)
    return spark


def _load(run: Run) -> None:
    from pyspark.sql import functions as F

    from automem_spark.sources.tables import load_table

    with run.tracer.span("sources.load"):
        run.mem = load_table(run.spark, run.data_dir, "memories")
        run.edges = load_table(run.spark, run.data_dir, "edges")
        run.emb = run.mem.select(F.col("id").alias("vec_id"), "embedding")


WARM_SLICE = 500  # the warm-up request runs over the memories with id < WARM_SLICE


def warm(run: Run) -> None:
    """One read of the kind the workload times, over a slice of the corpus:
    a hybrid recall for serve, a two-query multi-query recall for maintain."""
    from pyspark.sql import functions as F

    mem = run.mem.filter(F.col("id") < WARM_SLICE)
    if run.workload == "maintain":
        do_batch(run, run.man["queries"][-2:], "warm", mem)
    else:
        do_recall(run, run.man["queries"][-1], 0, "warm", mem=mem)


def setup(run: Run) -> None:
    """Set up SETUP_REPS times: a fresh SparkContext (the first also
    launches the JVM), load, and a count of the loaded corpus. The last
    set-up stays up; then one warm-up read over a small slice of the
    corpus compiles the request path before the first timed request."""
    for _ in range(SETUP_REPS):
        if run.spark is not None:
            run.tracer.bind(None)
            run.spark.stop()
        t = time.perf_counter()
        with run.tracer.span("setup"):
            run.spark = _start(run)
            _load(run)
            with run.tracer.span("sources.scan"):
                run.mem.count()
        run.setup_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    with run.tracer.span("setup"):
        warm(run)
    run.extra["warmup_s"] = time.perf_counter() - t


def corpus_model(path: str) -> checks.CorpusModel:
    cols = ["id", "embedding", "archived", "type", "timestamp", "tags"]
    return checks.CorpusModel.from_arrow(pq.read_table(path, columns=cols))


# --------------------------------------------------------------------------
# requests


def zipf_schedule(seed: int, n_items: int, n: int) -> list[int]:
    """Popularity-skewed picks from a pool: item i has weight (i+1)^-s."""
    rng = np.random.default_rng([seed, 7])
    p = np.arange(1, n_items + 1, dtype=np.float64) ** -ZIPF_QUERY_S
    p /= p.sum()
    return [int(x) for x in rng.choice(n_items, size=n, p=p)]


def request_for(q: dict, k: int):
    """The k-th request of a kind: plain, tag-filtered and time-filtered in
    turn, always so that the gold memory stays eligible."""
    from automem_spark.operators.recall import RecallRequest

    req = RecallRequest(query=q["text"], limit=LIMIT)
    filt = {}
    if k % 3 == 1:
        req.tags = [q["gold_topic"]]
        filt["tags"] = [q["gold_topic"]]
    elif k % 3 == 2:
        lo, hi = q["gold_ts"] - 45 * 86400, q["gold_ts"] + 45 * 86400
        req.start, req.end = iso(lo), iso(hi)
        filt["start"], filt["end"] = lo, hi
    return req, filt


def do_recall(run: Run, q: dict, k: int, rid: str, mem=None) -> tuple[list, dict, float]:
    from automem_spark.operators import recall as R

    req, filt = request_for(q, k)
    mem = run.mem if mem is None else mem
    t = time.perf_counter()
    with run.tracer.span("request", request=rid):
        with run.tracer.span("recall.recall.build"):
            df = R.recall(mem, req, query_vector=q["vector"], now=NOW)
        with run.tracer.span("recall.recall.exec"):
            rows = df.select("match_type", "id", "match_score", "final_score").collect()
    return [tuple(r) for r in rows], filt, (time.perf_counter() - t) * 1000.0


def check_recall(run: Run, q: dict, rows: list, filt: dict, model=None) -> None:
    model = model or run.model
    mask = model.eligible(**filt)
    bad = checks.check_vector_rows(model, q["vector"], mask, VECTOR_OVERFETCH, [(r[0], r[1], r[2]) for r in rows])
    bad += checks.check_ranked([(r[3], r[2]) for r in rows])
    bad += len(rows) != LIMIT
    run.fail(f"recall {q['qid']}: {bad} wrong rows", bad)


def do_recall_full(run: Run, q: dict, k: int, rid: str) -> tuple[list, float]:
    from automem_spark.operators import recall as R

    req, _ = request_for(q, k)
    t = time.perf_counter()
    with run.tracer.span("request", request=rid):
        with run.tracer.span("recall.recall_full.build"):
            df = R.recall_full(run.mem, run.edges, req, now=NOW)
        with run.tracer.span("recall.recall_full.exec"):
            rows = df.collect()
    return [tuple(r) for r in rows], (time.perf_counter() - t) * 1000.0


def check_recall_full(run: Run, q: dict, rows: list) -> None:
    """(id, match_type, position, final_score): unique ids, 1..limit rows,
    positions 1..n in final-score order."""
    ids = [r[0] for r in rows]
    bad = len(ids) != len(set(ids)) or len(rows) > LIMIT or len(rows) == 0
    bad += [r[2] for r in rows] != list(range(1, len(rows) + 1))
    bad += checks.check_ranked([(r[3], 0.0) for r in rows])
    run.fail(f"recall_full {q['qid']}: wrong output", bad)


def do_neighbors(run: Run, center: int, rid: str) -> tuple[list, float]:
    from automem_spark.operators import graph as G

    t = time.perf_counter()
    with run.tracer.span("request", request=rid):
        with run.tracer.span("graph.graph_neighbors.build"):
            df = G.graph_neighbors(center, run.edges, run.mem, run.emb)
        with run.tracer.span("graph.graph_neighbors.exec"):
            rows = df.select("id", "source", "depth", "sim").collect()
    return [tuple(r) for r in rows], (time.perf_counter() - t) * 1000.0


def check_neighbors(run: Run, center: int, rows: list) -> None:
    """Graph rows are exactly the undirected 1-hop neighbours (when there
    are at most 100); semantic rows carry the cosine (5 decimals) of a
    memory in the exact top-6 around the centre, and none is the centre."""
    nb = run.extra["adjacency"].get(center, set())
    graph_ids = {r[0] for r in rows if r[1] == "graph"}
    bad = 0
    if len(nb) <= 100:
        bad += len(graph_ids ^ nb)
    else:
        bad += len(graph_ids - nb) + (len(graph_ids) != 100)
    m = run.model
    mask = np.ones(len(m.ids), dtype=bool)
    qv = m.emb[m.pos[center]]
    top = checks.cosine_topk(m, qv, mask, 6)
    kth = top[-1][1]
    for mid, source, _, sim in rows:
        if source != "semantic":
            continue
        if mid not in m.pos:
            bad += 1
            continue
        exact = float(m.cosine(qv, np.array([m.pos[mid]]))[0])
        if mid == center or abs(round(exact, 5) - sim) > 1e-9 or exact < kth - 1e-9:
            bad += 1
    run.fail(f"graph_neighbors {center}: {bad} wrong rows", bad)


def _adjacency(man_dir: str) -> dict[int, set[int]]:
    t = pq.read_table(os.path.join(man_dir, "edges.parquet"), columns=["src", "dst"])
    adj: dict[int, set[int]] = {}
    for s, d in zip(t.column("src").to_pylist(), t.column("dst").to_pylist()):
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    return adj


# --------------------------------------------------------------------------
# serve


def serve(run: Run) -> None:
    queries = run.man["queries"]
    setup(run)
    run.model = corpus_model(os.path.join(run.data_dir, "memories.parquet"))
    run.extra["adjacency"] = _adjacency(run.data_dir)
    picks = zipf_schedule(run.seed, len(queries) - 1, 10_000)
    done = []
    n_kind = dict.fromkeys(SERVE_CYCLE, 0)
    t0 = time.perf_counter()
    k = 0
    while k < SERVE_MIN_REQUESTS or time.perf_counter() - t0 < run.seconds:
        q = queries[picks[k]]
        kind = SERVE_CYCLE[k % len(SERVE_CYCLE)]
        j = n_kind[kind]
        n_kind[kind] += 1
        rid = f"r{k}"
        run.attempted += 1
        k += 1
        with run.guard(f"{kind} {rid}"):
            if kind == "recall":
                rows, filt, ms = do_recall(run, q, j, rid)
                done.append(("recall", q, rows, filt))
                run.latencies_ms.append(ms)
            elif kind == "recall_full":
                rows, ms = do_recall_full(run, q, j, rid)
                done.append(("recall_full", q, rows, None))
            else:
                rows, ms = do_neighbors(run, q["gold"], rid)
                done.append(("graph_neighbors", q, rows, None))
            run.answered += 1
    run.wall_s = time.perf_counter() - t0

    for kind, q, rows, filt in done:
        with run.guard(f"check of {kind} {q['qid']}"):
            if kind == "recall":
                check_recall(run, q, rows, filt)
                run.hit_total += 1
                run.hits += q["gold"] in [r[1] for r in rows]
            elif kind == "recall_full":
                check_recall_full(run, q, rows)
            else:
                check_neighbors(run, q["gold"], rows)


# --------------------------------------------------------------------------
# multi-query recall


def do_batch(run: Run, qs: list[dict], rid: str, mem) -> tuple[dict, float]:
    from automem_spark.operators import recall as R

    t = time.perf_counter()
    with run.tracer.span("request", request=rid):
        with run.tracer.span("recall.recall_many_hybrid.build"):
            df = R.recall_many_hybrid(
                mem, [(q["qid"], q["text"]) for q in qs], LIMIT,
                query_vectors={q["qid"]: q["vector"] for q in qs}, now=NOW,
            )
        with run.tracer.span("recall.recall_many_hybrid.exec"):
            rows = df.collect()
    out: dict[str, list] = {q["qid"]: [] for q in qs}
    for r in rows:
        out.setdefault(r["query_id"], []).append(
            (r["rank"], r["match_type"], r["id"], r["match_score"], r["final_score"])
        )
    for v in out.values():
        v.sort()
    return out, (time.perf_counter() - t) * 1000.0


# --------------------------------------------------------------------------
# maintain


def maintain(run: Run) -> None:
    """Ingest every generated batch of 500 through the write path; after
    each, READS_PER_BATCH multi-query reads (recall_many_hybrid) whose fresh
    probes must find the rows just written; then one maintenance cycle over
    the last batch. The step count is fixed, so every run times the same
    work. Workload wall time is the ingest/read loop plus the cycle."""
    batches = run.man["ingest_batches"]
    pool = run.man["queries"][:-2]
    picks = iter(zipf_schedule(run.seed, len(pool), 10_000))
    setup(run)
    model = corpus_model(os.path.join(run.data_dir, "memories.parquet"))
    cols = run.mem.columns
    cur = run.mem
    versions, reads = [], []
    ingest_s = 0.0
    ingested = bytes_in = bytes_out = 0
    t0 = time.perf_counter()
    for b, bat in enumerate(batches):
        src = os.path.join(run.data_dir, bat["path"])
        out_dir = os.path.join(run.work_dir, f"v{b:03d}")
        run.attempted += 1
        with run.guard(f"ingest {bat['path']}"):
            ti = time.perf_counter()
            cur = ingest(run, cur, cols, src, out_dir, f"i{b}")
            ingest_s += time.perf_counter() - ti
            ingested += len(bat["ids"])
            bytes_in += _du(src)
            bytes_out += _du(os.path.join(out_dir, "memories.parquet"))
            model = model.upsert(corpus_model(src))
            versions.append((bat, out_dir, len(model.ids)))
        # pool queries whose gold this batch re-wrote are not asked
        stale = set(bat["updated_ids"])
        for j in range(READS_PER_BATCH):
            qs = list(bat["probes"][j::READS_PER_BATCH])
            while len(qs) < READ_QUERIES:
                q = pool[next(picks)]
                if q["gold"] not in stale and q not in qs:
                    qs.append(q)
            rid = f"q{b}.{j}"
            run.attempted += 1
            with run.guard(f"recall_many_hybrid {rid}"):
                out, ms = do_batch(run, qs, rid, mem=cur)
                run.latencies_ms.append(ms)
                run.answered += len(qs)
                run.extra["rows_out"] = run.extra.get("rows_out", 0) + sum(map(len, out.values()))
                reads.append((qs, out, model, cur))
    loop_s = time.perf_counter() - t0

    last = batches[-1]
    tm = time.perf_counter()
    maint = maintenance(run, cur, last)
    maint_s = time.perf_counter() - tm
    run.wall_s = loop_s + maint_s
    run.extra["ingest_rows_per_s"] = ingested / ingest_s if ingest_s else 0.0
    run.extra["maintenance_rows_per_s"] = len(last["ids"]) / maint_s
    run.extra["bytes_written_per_user_byte"] = bytes_out / bytes_in if bytes_in else 0.0

    for qs, out, m, _ in reads:
        mask = m.eligible()
        for q in qs:
            with run.guard(f"check of recall_many_hybrid {q['qid']}"):
                rows = out.get(q["qid"], [])
                bad = len(rows) != LIMIT or [r[0] for r in rows] != list(range(1, len(rows) + 1))
                bad += checks.check_vector_rows(m, q["vector"], mask, VECTOR_OVERFETCH,
                                                [(r[1], r[2], r[3]) for r in rows])
                bad += checks.check_ranked([(r[4], r[3]) for r in rows])
                run.fail(f"recall_many_hybrid {q['qid']}: {bad} wrong rows", bad)
                run.hit_total += 1
                run.hits += q["gold"] in [r[2] for r in rows]
    # the documented invariant, multi-query recall == N x single recall, on
    # a fresh probe: the single recall must also see the row just written
    if reads:
        qs, out, _, mem = reads[-1]
        q = qs[0]
        run.attempted += 1
        with run.guard(f"recall_many_hybrid {q['qid']} vs recall()"):
            single, _, _ = do_recall(run, q, 0, "check", mem=mem)
            got = [(r[2], r[4]) for r in out[q["qid"]]]
            run.fail(f"recall_many_hybrid {q['qid']} != recall()",
                     checks.check_topk_equal(got, [(r[1], r[3]) for r in single]))
    for bat, out_dir, n_rows in versions:
        check_version(run, bat, out_dir, n_rows)
    check_maintenance(run, maint, last)


def ingest(run: Run, cur, cols: list[str], src: str, out_dir: str, rid: str):
    """One batch through normalize and upsert, persisted as a new table
    version and re-read; returns the re-read table."""
    from pyspark.sql import functions as F

    from automem_spark.operators import ingest as I
    from automem_spark.sources.tables import load_table

    with run.tracer.span("ingest", request=rid):
        raw = run.spark.read.parquet(src)
        with run.tracer.span("ingest.normalize_memories.build"):
            norm = I.normalize_memories(raw)
            inc = norm.select(
                *[F.coalesce(F.col("type"), F.col("norm_type")).alias("type") if c == "type" else F.col(c) for c in cols]
            )
        with run.tracer.span("ingest.upsert_memories.build"):
            up = I.upsert_memories(cur, inc)
        with run.tracer.span("sources.write"):
            up.write.mode("overwrite").parquet(os.path.join(out_dir, "memories.parquet"))
        with run.tracer.span("sources.load"):
            return load_table(run.spark, out_dir, "memories")


def _du(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in files if f.endswith(".parquet"))
    return total


def check_version(run: Run, bat: dict, out_dir: str, n_rows: int) -> None:
    """Read-your-writes: the persisted table re-read from disk holds the
    expected row count and the batch's version of every id it wrote."""
    from pyspark.sql import functions as F

    from automem_spark.sources.tables import load_table

    run.attempted += 1
    with run.guard(f"re-read after batch {bat['path']}"):
        df = load_table(run.spark, out_dir, "memories")
        n = df.count()
        got = dict(
            df.filter(F.col("id").isin(bat["ids"])).select("id", "updated_at_epoch").collect()
        )
        bad = (n != n_rows) + sum(1 for i in bat["ids"] if got.get(i) != bat["epoch"])
        run.fail(f"version after batch {bat['path']}: {bad} wrong", bad)


def maintenance(run: Run, cur, bat: dict) -> dict:
    """One maintenance cycle over the window of the last ingested batch
    (graph-wide supersession over all edges). A pass that raises fails and
    leaves no output; the cycle goes on."""
    from pyspark.sql import functions as F

    from automem_spark.operators import dedup as D
    from automem_spark.operators import enrich as E
    from automem_spark.operators import graph as G
    from automem_spark.operators import scheduler as S
    from automem_spark.operators import similarity as Sim

    tr = run.tracer
    spark = run.spark
    win = cur.filter(F.col("updated_at_epoch") == bat["epoch"])
    emb = win.select(F.col("id").alias("vec_id"), "embedding")
    mem = win.drop("embedding")  # the passes join memories with `emb`
    out = {}

    def cc():
        pairs = spark.createDataFrame([(a, b, s) for a, b, s in out.get("sim", [])],
                                      "src long, dst long, sim double")
        return dict((r[0], r[1]) for r in G.connected_components(pairs, mem.select("id")).collect())

    passes = [
        ("enrich", "enrich.enrich_pipeline",
         lambda: E.enrich_pipeline(mem, emb).select("id", "n_neighbors").collect()),
        ("dedup", "dedup.minhash_lsh_pairs",
         lambda: [tuple(r) for r in D.minhash_lsh_pairs(
             mem, DEDUP_THRESHOLD, text_col="content", id_col="id").collect()]),
        ("sim", "similarity.cosine_threshold_self_join",
         lambda: [tuple(r) for r in Sim.cosine_threshold_self_join(win, COSINE_THRESHOLD).collect()]),
        ("cc", "graph.connected_components", cc),
        ("sup", "graph.resolve_supersession",
         lambda: [tuple(r) for r in G.resolve_supersession(run.edges).select("start", "head").collect()]),
        ("cons", "scheduler.consolidation_run",
         lambda: [tuple(r) for r in S.consolidation_run(
             spark, now=NOW.replace(" ", "T"), last_runs={},
             memories=mem, edges=run.edges, embeddings=emb,
         ).collect()]),
    ]
    with tr.span("maintenance", request="m"):
        for key, name, call in passes:
            run.attempted += 1
            with run.guard(name), tr.span(name):
                out[key] = call()
    return out


def check_maintenance(run: Run, out: dict, bat: dict) -> None:
    """Checks of the passes that returned; each mismatch fails its pass."""
    t = pq.read_table(os.path.join(run.data_dir, bat["path"]), columns=["id", "content"])
    content = dict(zip(t.column("id").to_pylist(), t.column("content").to_pylist()))
    window = corpus_model(os.path.join(run.data_dir, bat["path"]))
    ids = bat["ids"]

    def enrich(rows):
        run.fail("enrich_pipeline: wrong ids", {r[0] for r in rows} != set(ids))

    def dedup(pairs):
        run.fail("minhash_lsh_pairs: pair below threshold or wrong Jaccard",
                 checks.check_dedup_pairs(pairs, content, DEDUP_THRESHOLD))
        found = {(min(a, b), max(a, b)) for a, b, _ in pairs}
        planted = {(min(a, b), max(a, b)) for a, b in bat["near_dups"]}
        run.extra["planted_found_ratio"] = len(found & planted) / max(1, len(planted))
        run.extra["dedup_pairs"] = len(pairs)

    def sim(pairs):
        run.fail("cosine_threshold_self_join != exact all-pairs cosine",
                 checks.check_cosine_pairs(pairs, window.ids, window.emb, COSINE_THRESHOLD))
        run.extra["sim_pairs"] = len(pairs)

    def cc(labels):
        run.fail("connected_components != union-find",
                 checks.check_components(labels, ids, [(a, b) for a, b, _ in out.get("sim", [])]))

    def sup(rows):
        heads = {int(k): v for k, v in run.man["chain_heads"].items()}
        got = dict(rows)
        run.fail("resolve_supersession: wrong heads",
                 sum(1 for s, h in heads.items() if got.get(s) != h) + (len(got) != len(heads)))

    def cons(rows):
        tasks = {t for t, _, _ in rows}
        run.fail("consolidation_run: missing passes", len({"decay", "creative", "cluster", "forget"} - tasks))

    for key, check in [("enrich", enrich), ("dedup", dedup), ("sim", sim), ("cc", cc), ("sup", sup), ("cons", cons)]:
        if key in out:
            with run.guard(f"check of {key}"):
                check(out[key])


def peak_rss_mb(run: Run) -> float:
    """Peak resident memory of this Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = run.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except (OSError, AttributeError):
        pass
    return (py_kb + jvm_kb) / 1024.0


WORKLOADS = {"serve": serve, "maintain": maintain}


def cleanup(work_dir: str) -> None:
    shutil.rmtree(work_dir, ignore_errors=True)
