"""Memory-engine benchmark: one workload per invocation.

    python3 membench/run.py --workload serve --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. The run generates its
seeded inputs under .membench/ in the checkout (or reuses them for the same
seed), starts local[N] with N the number of usable cores, sets up seven
times, drives the workload (serve: for --seconds, at least six requests;
maintain: a fixed number of steps), checks every output and prints
one JSON object as its last line of output: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. See membench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import zlib

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".membench")

# (name, unit); the order is the order of BENCHMARK.json
END_TO_END = [
    ("setup_s", "s"),
    ("recall_p50_ms", "ms"),
    ("recall_tail_ms", "ms"),
    ("recall_qps", "1/s"),
    ("recall_hit_at_5", "ratio"),
    ("ok_ops_ratio", "ratio"),
]

CALL_LAYERS = ["recall.recall", "recall.recall_full", "graph.graph_neighbors", "recall.recall_many_hybrid"]
STEP_LAYERS = [
    "ingest.normalize_memories", "ingest.upsert_memories", "sources.write",
    "enrich.enrich_pipeline", "dedup.minhash_lsh_pairs", "similarity.cosine_threshold_self_join",
    "graph.connected_components", "graph.resolve_supersession", "scheduler.consolidation_run",
]
PER_LAYER = (
    [("session.get_spark.s", "s"), ("sources.load.s", "s"), ("sources.scan.s", "s"), ("setup.warmup_s", "s")]
    + [(f"recall.recall.{m}", u) for m, u in
       [("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"), ("stages", "count"), ("tasks", "count")]]
    + [(f"recall.recall_full.{m}", u) for m, u in
       [("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"), ("tasks", "count")]]
    + [(f"graph.graph_neighbors.{m}", u) for m, u in [("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count")]]
    + [(f"recall.recall_many_hybrid.{m}", u) for m, u in
       [("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("rows_out", "count")]]
    + [("ingest.normalize_memories.s", "s"), ("ingest.upsert_memories.s", "s"), ("sources.write.s", "s"),
       ("sources.bytes_written_per_user_byte", "ratio"), ("maintain.ingest_rows_per_s", "rows/s")]
    + [("enrich.enrich_pipeline.s", "s"), ("dedup.minhash_lsh_pairs.s", "s"),
       ("dedup.minhash_lsh_pairs.pairs_out", "count"), ("dedup.minhash_lsh_pairs.planted_found_ratio", "ratio"),
       ("similarity.cosine_threshold_self_join.s", "s"), ("similarity.cosine_threshold_self_join.pairs_out", "count"),
       ("graph.connected_components.s", "s"), ("graph.connected_components.jobs", "count"),
       ("graph.resolve_supersession.s", "s"), ("graph.resolve_supersession.jobs", "count"),
       ("scheduler.consolidation_run.s", "s"), ("maintain.maintenance_rows_per_s", "rows/s")]
    + [(f"{layer}.tasks_failed", "count") for layer in ["sources.load"] + CALL_LAYERS + STEP_LAYERS]
    + [("process.peak_rss_mb", "MB"), ("tracing.bookkeeping_s", "s")]
)


def usable_cores() -> int:
    """The core count `nproc` reports (ignoring OMP_NUM_THREADS)."""
    try:
        n = len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        n = 0
    if n < 1:
        raise SystemExit("membench: cannot determine the usable core count; refusing to "
                         "start (the session would fall back to local[32])")
    return n


def prepare_env(ncpu: int) -> None:
    """Pin the session to local[ncpu] and keep every file inside the checkout."""
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH", "")] if p
    )
    sys.path.insert(1, ROOT)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def end_to_end(run) -> dict:
    from checks import tail_percentile

    pct, tail, beyond = tail_percentile(run.latencies_ms)
    run.extra["tail"] = (pct, beyond, len(run.latencies_ms))
    return {
        "setup_s": _median(run.setup_s),
        "recall_p50_ms": _median(run.latencies_ms),
        "recall_tail_ms": tail,
        "recall_qps": run.answered / run.wall_s,
        "recall_hit_at_5": run.hits / run.hit_total if run.hit_total else 0.0,
        "ok_ops_ratio": 1.0 - run.failed / run.attempted,
    }


def per_layer(run) -> dict:
    tr = run.tracer
    tr.resolve_counts()
    in_setup = set()
    for i, sp in enumerate(tr.spans):
        if sp.name == "setup" or (sp.parent is not None and sp.parent in in_setup):
            in_setup.add(i)

    def spans(name, setup_too=False):
        return [i for i in tr.named(name) if setup_too or i not in in_setup]

    def dur(name, setup_too=False):
        return [tr.spans[i].duration for i in spans(name, setup_too)]

    def counter(layer, what):
        # per call: the build span's count plus the exec span's count
        b = [getattr(tr.spans[i], what) for i in spans(f"{layer}.build")]
        e = [getattr(tr.spans[i], what) for i in spans(f"{layer}.exec")]
        return _median([x + y for x, y in zip(b, e)])

    out = {
        "session.get_spark.s": _median(dur("session.get_spark", True)),
        "sources.load.s": _median(dur("sources.load", True)),
        "sources.scan.s": _median(dur("sources.scan", True)),
        "setup.warmup_s": run.extra["warmup_s"],
    }
    for layer in CALL_LAYERS:
        scale, unit = (1.0, "s") if layer == "recall.recall_many_hybrid" else (1000.0, "ms")
        out[f"{layer}.build_{unit}"] = _median(dur(f"{layer}.build")) * scale
        out[f"{layer}.exec_{unit}"] = _median(dur(f"{layer}.exec")) * scale
        for what in ("jobs", "stages", "tasks"):
            out[f"{layer}.{what}"] = counter(layer, what)
        out[f"{layer}.tasks_failed"] = sum(
            tr.spans[i].tasks_failed for p in ("build", "exec") for i in spans(f"{layer}.{p}", True)
        )
    out["ingest.normalize_memories.s"] = _median(dur("ingest.normalize_memories.build"))
    out["ingest.upsert_memories.s"] = _median(dur("ingest.upsert_memories.build"))
    out["ingest.normalize_memories.tasks_failed"] = tr.total("ingest.normalize_memories.build", "tasks_failed")
    out["ingest.upsert_memories.tasks_failed"] = tr.total("ingest.upsert_memories.build", "tasks_failed")
    for layer in STEP_LAYERS[2:]:
        out[f"{layer}.s"] = _median(dur(layer))
        out[f"{layer}.tasks_failed"] = tr.total(layer, "tasks_failed")
        out[f"{layer}.jobs"] = _median([tr.spans[i].jobs for i in spans(layer)])
    out["sources.load.tasks_failed"] = tr.total("sources.load", "tasks_failed")
    out["sources.bytes_written_per_user_byte"] = run.extra.get("bytes_written_per_user_byte", 0.0)
    out["maintain.ingest_rows_per_s"] = run.extra.get("ingest_rows_per_s", 0.0)
    out["maintain.maintenance_rows_per_s"] = run.extra.get("maintenance_rows_per_s", 0.0)
    out["recall.recall_many_hybrid.rows_out"] = run.extra.get("rows_out", 0)
    out["dedup.minhash_lsh_pairs.pairs_out"] = run.extra.get("dedup_pairs", 0)
    out["dedup.minhash_lsh_pairs.planted_found_ratio"] = run.extra.get("planted_found_ratio", 0.0)
    out["similarity.cosine_threshold_self_join.pairs_out"] = run.extra.get("sim_pairs", 0)
    out["process.peak_rss_mb"] = run.extra["peak_rss_mb"]
    out["tracing.bookkeeping_s"] = tr.bookkeeping_s
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "maintain"])
    ap.add_argument("--seed", type=int, default=gen.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    ncpu = usable_cores()
    prepare_env(ncpu)
    try:
        import automem_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        raise SystemExit(f"membench: the program is not importable from {ROOT}: {e}")

    t = time.perf_counter()
    # inputs are reused only for the same seed and the same generator
    with open(gen.__file__, "rb") as f:
        gen_sig = zlib.crc32(f.read())
    data_dir = os.path.join(STATE, "data", f"{args.workload}-s{args.seed}-{gen_sig:08x}")
    man = gen.generate(data_dir, args.seed, args.workload)
    gen_s = time.perf_counter() - t

    import pyspark

    import workloads
    from spans import Tracer

    work_dir = os.path.join(STATE, f"work-{os.getpid()}")
    run = workloads.Run(
        workload=args.workload, data_dir=data_dir, work_dir=work_dir, seed=args.seed,
        seconds=args.seconds, tracer=Tracer(bool(args.trace)), man=man, ncpu=ncpu,
    )
    try:
        workloads.WORKLOADS[args.workload](run)
        e2e = end_to_end(run)
        run.extra["peak_rss_mb"] = workloads.peak_rss_mb(run)
        layers = per_layer(run) if args.trace else None
        jvm = run.spark._jvm.java.lang.System.getProperty("java.version")
        master = run.spark.sparkContext.master
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        workloads.cleanup(work_dir)
    trace_path = os.path.join(STATE, f"trace-{args.workload}-s{args.seed}.jsonl")
    run.tracer.write(trace_path)

    pct, beyond, n = run.extra["tail"]
    print(f"membench workload={args.workload} seed={args.seed} nproc={ncpu} master={master} "
          f"pyspark={pyspark.__version__} java={jvm} python={sys.version.split()[0]}")
    print(f"membench corpus memories={man['n_memories']} edges={man['n_edges']} dim={man['dim']} "
          f"queries={len(man['queries'])} ingest_batches={len(man['ingest_batches'])} "
          f"input_generation_s={gen_s:.3f} seconds={args.seconds} trace={args.trace}")
    print(f"membench setup_s runs={[round(x, 3) for x in run.setup_s]}")
    print(f"membench recall_tail_ms is p{pct:.1f} of n={n} samples ({beyond} beyond)")
    print(f"membench ops attempted={run.attempted} failed={run.failed} wall_s={run.wall_s:.3f}")
    for k in ("ingest_rows_per_s", "maintenance_rows_per_s", "peak_rss_mb"):
        if k in run.extra:
            print(f"membench {k}={run.extra[k]:.3f}")
    for p in run.problems:
        print(f"membench FAILED {p}")
    for name, unit in END_TO_END:
        print(f"membench {'traced ' if args.trace else ''}{name} = {e2e[name]:.6g} {unit}")
    print(f"membench trace written to {os.path.relpath(trace_path, ROOT)}")
    print(result_line(run.attempted, run.failed, layers if args.trace else e2e,
                      PER_LAYER if args.trace else END_TO_END))
    return 0


def result_line(attempted: int, failed: int, values: dict, units: list) -> str:
    """The run's last line: every metric of `units`, by name, with its unit."""
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units},
    })


if __name__ == "__main__":
    sys.exit(main())
