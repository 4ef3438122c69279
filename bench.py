"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query runs once for warmup (JVM/codegen costs a long-lived cluster
would amortize), then three times timed; the MIN of the timed runs is
reported. Rationale: rounds 3-4 showed ±30-50% swings on sub-second
queries from a single warm sample (JIT tiering, GC timing); round 8
measured whole-run host-noise days where even untouched TPC-H rows
drifted +25-35% under min-of-2. MIN over identical deterministic work is
the standard least-noise estimator. Estimator-transition caveat (r8->r9
advisor): min-of-3 is stochastically <= min-of-2, so a min-of-3 number
compared against a min-of-2 BASELINE from an earlier round carries a
small downward bias — within-protocol comparisons (r8 onward vs r8
onward) are unbiased, but any speedup claimed across the r7/r8 boundary
must exceed the estimator gap. Empirically the gap is small: r8's first
min-of-3 run was +4.7% SLOWER than r7's min-of-2, so no cross-boundary
speedup was ever claimed on the estimator's back.

Known caveat (kept for round-over-round comparability, documented r7):
count() lets Catalyst prune the FINAL projection, so projection-shaped
rows under-report the expression tail. Measured at sf0.1 with a
full-evaluation noop sink (df.write.format("noop")): text_stats 0.42s ->
0.96s, pii_redact 0.25s -> 0.64s, classify 0.67s -> 0.87s; aggregate- and
join-shaped rows (the bulk of the headline) are unaffected. BENCH_SF1.md
uses the noop sink for the projection-shaped scale rows.

Since r8 the JSON line carries BOTH protocols: "queries" (count(), the
round-over-round comparable headline; "value" still sums only these) and
"queries_noop" (noop-sink timings for the projection-shaped rows listed
in NOOP_ROWS — the honest full-evaluation number for those rows).

r11 protocol notes (r10 verdict asks #1/#7):
- HEADLINE METRIC SWITCH (transition dual-reported in r10): "value" is
  now the noop-adjusted total — each HEADLINE row that is also a
  NOOP_ROWS row contributes its full-evaluation noop-sink timing instead
  of its count() timing, permanently retiring the count()-prunes-the-
  final-projection under-report. "value_noop_adjusted" keeps emitting
  the same number (so the r10 -> r11 comparison of that key is
  protocol-identical), and "value_count_protocol" carries the legacy
  count()-only total for round-over-round comparison against r10 and
  earlier "value" numbers.
- CALIBRATED CANARY (r10 verdict ask #1): the r10 canary was a count()
  over the single-partition region parquet — a one-task job nearly
  insensitive to partial-core contention, so a host event that steals
  half the cores (hurting 32-way compute stages ~2x) barely moves it.
  The r10 driver run showed connected_components +45% / minhash_lsh
  +24% / vector rows +22-34% on a FLAT region-canary with untouched
  code — exactly the blind spot. The canary is now a fixed 32-partition
  compute probe (spark.range sum with forced partitioning, constant
  work, no code under test, no IO): its wall time scales with AVAILABLE
  PARALLELISM, so partial-core contention shows up in the timeline.
  Decision rule unchanged: a drifted row with an elevated canary
  neighbor is host noise; with a flat (calibrated) canary it's a real
  regression. Cost: ~21 x ~60ms.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from automem_spark.session import get_spark

# Headline set: one per operator family (scan-agg, join-agg, window,
# anti-join, range join, recall, dedup exact/minhash, vector, text).
HEADLINE = [
    "pricing_summary",
    "nation_revenue",
    "top_orders_per_customer",
    "customers_without_orders",
    "preceded_by_events",
    "keyword_search",
    "hybrid_recall",
    "multi_recall",
    "decay_relevance",
    "forget_classify",
    "relations_fetch",
    "supersession_heads",
    "connected_components",
    "dedup_exact",
    "minhash_lsh",
    "vector_topk",
    "vector_pairs",
    "text_stats",
    "classify",
]


# Projection-shaped rows whose expression tail count() would prune away —
# these get an additional noop-sink measurement (full evaluation of every
# output column, no driver-side materialization). r9 (verdict ask #7):
# widened from the original 4 to every zero-shuffle projection-shaped row
# in the registry's headline orbit — lang_id / doc_fingerprint /
# doc_chunks are scan-speed expression rows, tag_prefix_scan's tag
# expansion and gated_recall's scoring tail are equally prunable under
# count().
NOOP_ROWS = [
    "text_stats",
    "classify",
    "pii_redact",
    "repetition_filter",
    "lang_id",
    "doc_fingerprint",
    "doc_chunks",
    "tag_prefix_scan",
    "gated_recall",
]


def run_once(fn, spark, sf_dir, sink: str = "count") -> tuple[float, float]:
    """Returns (build_sec, total_sec): build = everything inside fn — plan
    construction (py4j + analysis) PLUS any eager materialization the
    operator performs while assembling its result (iterative operators
    like connected_components/supersession run their whole checkpointed
    loop here, so their build share is build+loop, ~95% of total). total =
    build + the final action. The split is reported per query so the
    build-tax share is visible mechanically each round (the r10 flagship
    win was entirely in this component)."""
    t0 = time.time()
    df = fn(spark, sf_dir)
    t1 = time.time()
    if sink == "noop":
        # evaluates the FULL projection (count() lets Catalyst prune it)
        df.write.format("noop").mode("overwrite").save()
    else:
        # count() forces execution without driver-side result materialization
        df.count()
    return t1 - t0, time.time() - t0


# Cold-cache rows (r13 verdict ask #6): the regime of executors reading
# object storage. These rows re-run with the OS page cache dropped before
# every sample: the recall row and the heaviest scan row. Caveat
# (documented, not hidden): the JVM stays warm — driver-side file
# listings and codegen survive — so "cold" means data-page IO is cold.
# Disable with SPARK_GRAFT_BENCH_COLD=0; if /proc/sys/vm/drop_caches is
# not writable (non-root), cold_valid=false flags the numbers as warm.
COLD_ROWS = ["hybrid_recall", "minhash_lsh"]


# Steady-state protocol (r15, VERDICT r14 ask #3 — additive): the r14 JIT
# adjudication measured that sub-second rows need ~8 executions before the
# C2 compiler reaches steady state (vector_topk ramp: 0.70 -> 0.56 -> 0.49
# -> 0.45 -> 0.44 -> 0.44 -> 0.41 -> 0.35...), so the warm min-of-3 keeps
# flapping +/-20-30% on those rows round-over-round, masking/faking deltas.
# Rows whose min-of-3 lands under STEADY_MAX_SEC get STEADY_EXTRA more
# count-protocol executions (after the noop section, before the cold one,
# so no existing measurement's environment changes); "queries_steady" is
# the min over ALL timed samples (3 + STEADY_EXTRA = min-of-8 at >= 9
# executions including warmup — past the measured ramp depth). All
# existing fields stay byte-compatible; the headline metric is unchanged.
STEADY_MAX_SEC = 1.0
STEADY_EXTRA = 5


def drop_caches() -> bool:
    """sync + drop page cache; result CHECKED (a silent no-op would report
    warm numbers as cold)."""
    try:
        os.sync()
        with open("/proc/sys/vm/drop_caches", "w") as fh:
            fh.write("3")
        return True
    except OSError:
        return False


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("automem-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    # optional subset for scale probes (e.g. the sf3 scaling line); the
    # driver's per-round run sets no subset and benches the full headline
    only = [q for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if q]

    # fixed constant-work reference job for the host-noise timeline (see
    # module docstring): a 32-partition compute probe whose wall time
    # scales with available parallelism — partial-core contention that
    # disproportionately hurts 32-way compute stages moves THIS number
    # too (the r10 single-partition region count did not). Constant work,
    # no IO, no code under test; warmed once.
    CANARY_ROWS = 48_000_000  # ~60ms on an idle 32-thread local JVM
    canary_df = spark.range(0, CANARY_ROWS, 1, 32).selectExpr(
        "sum(id * id % 97) AS probe"
    )
    canary_df.collect()

    def canary() -> float:
        t0 = time.time()
        canary_df.collect()
        return round(time.time() - t0, 3)

    timings: dict[str, float] = {}
    build_timings: dict[str, float] = {}
    warm_samples: dict[str, list[float]] = {}
    canary_sec: list[float] = [canary()]
    for name in only or HEADLINE:
        fn = qs[name]
        run_once(fn, spark, sf_dir)  # warmup: codegen + file listing
        samples = [run_once(fn, spark, sf_dir) for _ in range(3)]
        # min-of-3 on the TOTAL (the round-over-round protocol); the build
        # share reported alongside is the build of that same best run
        best = min(samples, key=lambda s: s[1])
        timings[name] = round(best[1], 3)
        build_timings[name] = round(best[0], 3)
        warm_samples[name] = [s[1] for s in samples]
        canary_sec.append(canary())

    noop_timings: dict[str, float] = {}
    if not only:
        for name in NOOP_ROWS:
            fn = qs[name]
            run_once(fn, spark, sf_dir, sink="noop")  # warmup
            noop_timings[name] = round(
                min(r[1] for r in (run_once(fn, spark, sf_dir, sink="noop") for _ in range(3))),
                3,
            )

    # steady-state extras (see STEADY_MAX_SEC docstring): AFTER the noop
    # section so no pre-existing measurement's JVM environment changes,
    # BEFORE the cold one (these are warm-protocol samples)
    steady_timings: dict[str, float] = {}
    if not only:
        for name, best3 in timings.items():
            if best3 >= STEADY_MAX_SEC:
                continue
            fn = qs[name]
            extra = [run_once(fn, spark, sf_dir)[1] for _ in range(STEADY_EXTRA)]
            steady_timings[name] = round(min(warm_samples[name] + extra), 3)

    # cold-cache section LAST: dropping the page cache must not pollute
    # the warm protocol above
    cold_timings: dict[str, float] = {}
    cold_valid = False
    if not only and os.environ.get("SPARK_GRAFT_BENCH_COLD", "1") == "1":
        cold_valid = True
        for name in COLD_ROWS:
            fn = qs[name]
            samples = []
            for _ in range(3):
                cold_valid = drop_caches() and cold_valid
                samples.append(run_once(fn, spark, sf_dir)[1])
            cold_timings[name] = round(min(samples), 3)

    # mechanical canary verdict (r11): the drift decision rule in the
    # module docstring, computed instead of eyeballed. Post-warmup samples
    # (drop the first two: JVM tiering) are "flat" when the p90 stays
    # within 2x of the median — partial-core contention on a 32-way probe
    # shows up far above that; idle hosts measure ~1.1-1.5x.
    # proper nearest-rank quantile: the old `(len*9)//10` index selected the
    # MAX whenever the tail had <=10 samples, and the old `or` fallback
    # re-included the dropped warmup samples — both biased canary_flat
    # toward false on short runs (r11 ADVICE). Short runs (subset benches,
    # <3 post-warmup samples) use max-over-median — documented, conservative.
    tail = sorted(canary_sec[2:]) if len(canary_sec) > 2 else sorted(canary_sec)
    c_median = tail[len(tail) // 2]
    c_p90 = tail[min(len(tail) - 1, round(0.9 * (len(tail) - 1)))]
    canary_flat = bool(c_p90 <= 2.0 * c_median)

    total_count_protocol = round(sum(timings.values()), 3)
    # r11 headline = the noop-adjusted total (full evaluation of every
    # output column for projection-shaped rows); the legacy count()-only
    # total is dual-reported for comparison against r10-and-earlier
    # "value" numbers — see module docstring
    total_noop_adj = round(
        sum(noop_timings.get(name, t) for name, t in timings.items()), 3
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_warm_noop_adjusted",
                "value": total_noop_adj if not only else total_count_protocol,
                "value_noop_adjusted": total_noop_adj if not only else None,
                "value_count_protocol": total_count_protocol,
                "unit": "sec",
                "queries": timings,
                "queries_build": build_timings,
                "queries_noop": noop_timings,
                "queries_steady": steady_timings,
                "steady_samples": 3 + STEADY_EXTRA,
                "queries_cold": cold_timings,
                "cold_valid": cold_valid,
                "canary_sec": canary_sec,
                "canary_flat": canary_flat,
                # ABSOLUTE canary level (r12 verdict ask #4): round-over-round
                # driver drift on untouched rows self-adjudicates by comparing
                # canary_median across BENCH_r{N}.json files — an elevated
                # median means host contention, a flat one means real
                # regression. The r12 +19-28% drift class on untouched rows
                # needed hand-archaeology precisely because only the
                # within-run ratio was emitted.
                "canary_median": c_median,
                "canary_p90": c_p90,
                "canary_p90_over_median": round(c_p90 / c_median, 3) if c_median else None,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
