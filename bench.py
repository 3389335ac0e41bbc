"""Benchmark harness: runs the declared query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf", "n_queries",
"n_failed"}. It writes no file.

Protocol: per query, one untimed warm-up, then the median wall time of
$SPARK_GRAFT_BENCH_RUNS (default 3) warm runs, all in one Spark session;
a query that raises records -1.0. The headline value is the sum of the
per-query medians over the whole declared set. Naming queries on the
command line (``python bench.py q1 q5``) times only those.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def _run(df) -> None:
    """Execute the FULL plan engine-side through the noop sink: every
    operator — output sort included — runs, but rows never ship to the
    driver, so row-preserving queries measure the operator rather than
    driver materialization of their output."""
    df.write.format("noop").mode("overwrite").save()


def sweep(spark, specs, sf_dir: str, runs: int) -> dict[str, float]:
    """One timed pass over ``specs``: median of ``runs`` warm executions per
    query (one untimed warmup first), -1.0 for a query that raises."""
    times: dict[str, float] = {}
    for name, spec in sorted(specs.items()):
        try:
            _run(spec.fn(spark, sf_dir))  # plan + JIT + page cache
            samples = []
            for _ in range(runs):
                t0 = time.perf_counter()
                _run(spec.fn(spark, sf_dir))
                samples.append(time.perf_counter() - t0)
            times[name] = round(statistics.median(samples), 4)
        except Exception as e:  # keep benching even if one query breaks
            print(f"bench: {name} FAILED: {e}", file=sys.stderr)
            times[name] = -1.0
        # isolate queries from each other: cached blocks left by a query
        # (persist() inside dedup/lifecycle ops) otherwise accumulate
        # across the 100+ query sweep and the growing heap pressure
        # inflates later queries' medians. Best-effort — a wedged session
        # must not abort the sweep the except above was built to survive.
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    only = set(sys.argv[1:])
    # Python workers unpickle plan_spark functions by module path: point
    # them at this checkout whatever the working directory (set before the
    # JVM starts, which hands its environment to the workers)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.path.dirname(os.path.abspath(__file__)), os.environ.get("PYTHONPATH")) if p
    )

    from plan_spark.registry import load_all
    from plan_spark.session import get_spark

    spark = get_spark("plan_spark-bench")
    # adjudicated-cosmetic WindowExec partition warnings (pre-aggregated
    # day-series windows) would otherwise bury real regressions in stderr
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()
    if only:
        specs = {k: v for k, v in specs.items() if k in only}

    times = sweep(spark, specs, sf_dir, runs)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    line = {
        "metric": f"declared-query-set total wall time (median of {runs} warm runs per query)",
        "value": round(sum(t for t in times.values() if t >= 0), 4),
        "unit": "sec",
        "queries": {n: (round(t, 3) if t > 0 else t) for n, t in times.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(times),
        "n_failed": sum(1 for t in times.values() if t < 0),
    }
    print(json.dumps(line, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
