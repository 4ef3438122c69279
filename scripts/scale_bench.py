"""Scale-table bench: time named registry rows at an arbitrary sf_dir with
a full-evaluation noop sink — the BENCH_SF1.md protocol (warmup + min-of-2
warm runs, idle local[32]) as a reusable tool, so each round's scale
decade (sf1 -> sf3 -> sf10) reuses one measurement path instead of ad-hoc
snippets.

count() vs noop: bench.py keeps count() for round-over-round headline
comparability, but count() lets Catalyst prune the final projection, so
projection-shaped rows under-report. Scale TABLES use the noop sink
(df.write.format("noop")) — full evaluation of every output column.

Usage:
    python scripts/scale_bench.py <sf_dir> <row> [row ...]
    python scripts/scale_bench.py .sf10 minhash_lsh dedup_pipeline

Prints one JSON line: {"sf_dir": ..., "queries": {name: min_secs}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    if not names:
        raise SystemExit("usage: scale_bench.py <sf_dir> <row> [row ...]")

    import __spark_entry__ as entrymod
    from automem_spark.session import get_spark

    spark = get_spark("scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    missing = [n for n in names if n not in qs]
    if missing:
        raise SystemExit(f"unknown rows: {missing}")

    out: dict[str, float] = {}
    for name in names:
        times = []
        for i in range(3):  # warmup + 2 timed
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            if i > 0:
                times.append(dt)
            print(f"  {name} run{i}: {dt:.2f}s", file=sys.stderr, flush=True)
        out[name] = round(min(times), 3)
    print(json.dumps({"sf_dir": sf_dir, "queries": out}))


if __name__ == "__main__":
    main()
