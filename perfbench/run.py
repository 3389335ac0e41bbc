"""Benchmark entry point: one seeded closed-loop workload per invocation.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. One client thread sends each operation only
after the previous reply arrived; Spark runs ``local[min(4, cores)]`` with a
fixed 2 GB driver heap. Human-readable metric lines go to stdout first; the
LAST stdout line is the JSON result (``--trace 0``: end-to-end metrics,
``--trace 1``: per-layer metrics). Exits non-zero without a result line
when the program under test cannot be imported or the run breaks.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import SparkWork, Tracer, pct  # noqa: E402

CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"

# name -> unit; the JSON line of an untraced run carries exactly these
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
}

# name -> unit; the JSON line of a traced run carries exactly these. A layer
# a workload never calls reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "catalog.resolve_s": "s",
    "engine.plan_s": "s",
    "engine.exec_s": "s",
    "engine.load_s": "s",
    "engine.insert_s": "s",
    "engine.delete_s": "s",
    "engine.update_s": "s",
    "engine.merge_s": "s",
    "engine.optimize_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "dataset.fragments": "count",
    "dataset.pruned_frac": "ratio",
    "dataset.versions": "count",
    "dataset.bytes_written": "B",
    "dataset.compact_s": "s",
    "indexes.build_s.btree": "s",
    "indexes.build_s.ivf": "s",
    "indexes.build_s.fts": "s",
    "indexes.refresh_s": "s",
    "indexes.fresh_frac": "ratio",
    "indexes.search_s.ivf": "s",
    "indexes.search_s.fts": "s",
    "indexes.recall_at_10": "ratio",
    "stage.quality_filter_s": "s",
    "stage.dedup_exact_s": "s",
    "stage.dedup_minhash_s": "s",
    "stage.dedup_embed_s": "s",
    "stage.semdedup_s": "s",
    "stage.pipeline_e2e_s": "s",
    "stage.stream_curation_s": "s",
    "operators.drop_frac": "ratio",
    "streaming.run_s": "s",
    "streaming.rows_per_s": "1/s",
    "self.session_s": "s",
    "self.catalog_s": "s",
    "self.engine_s": "s",
    "self.spark_s": "s",
    "self.dataset_s": "s",
    "self.indexes_s": "s",
    "self.operators_s": "s",
    "self.streaming_s": "s",
    "trace.overhead_pct": "%",
}

# workload name -> module holding its run(ctx, start_s)
WORKLOADS = {
    "sql_analytics": "w_sql",
    "lakehouse_mixed": "w_lakehouse",
    "curation_batch": "w_curation",
}


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024


class Ctx:
    """State one workload run needs: the session, its scratch directory, the
    tracer, and the closed-loop operation log."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool):
        self.spark = None
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.sparkwork = SparkWork(self.tracer)
        self.lat: list[tuple[str, float]] = []  # (op kind, seconds)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.loop_s = 0.0

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name)

    def timed(self, kind: str, fn):
        """Run one operation; record its latency, or count it failed when
        it raises. Returns fn's result, or None on failure."""
        self.attempted += 1
        self.tracer.op = self.attempted
        with self.sparkwork.op(self.spark, kind):
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as e:  # an operation failing is a measured outcome
                self.failed += 1
                self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:300])
                return None
            finally:
                self.tracer.op = None
            self.lat.append((kind, time.perf_counter() - t0))
        return out

    def fail(self, why: str) -> None:
        """A completed operation returned a wrong answer."""
        self.failed += 1
        self.errors.append(why[:300])

    def latencies(self, *kinds: str) -> list[float]:
        return [s for k, s in self.lat if not kinds or k in kinds]


def start_session(work: str):
    """Fixed session shape; scratch and temp files stay inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEM} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        "pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from plan_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=2 * CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits on stdin EOF)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def e2e_metrics(ctx: Ctx, report: dict, rss_mb: float) -> dict[str, tuple[float, str]]:
    """Every end-to-end number the run prints: the declared ones first, then
    those that are printed only (too few samples per run to repeat within
    the bounds, or not defined on every workload)."""
    reads = ctx.latencies(*report["reads"])
    return {
        "setup_s": (report["setup_s"], "s"),
        "ops_per_s": (len(ctx.lat) / ctx.loop_s if ctx.loop_s else 0.0, "1/s"),
        "read_p50_s": (pct(reads, 50), "s"),
        "read_p90_s": (pct(reads, 90), "s"),
        "reads": (len(reads), "count"),
        "op_p50_s": (pct(ctx.latencies(), 50), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        **report["detail"],
        "failed_frac": (ctx.failed / max(ctx.attempted, 1), "ratio"),
    }


def layer_metrics(ctx: Ctx, extra: dict[str, float]) -> dict[str, float]:
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(ctx.sparkwork.means())
    for layer, s in ctx.tracer.layer_self().items():
        out[f"self.{layer}_s"] = s
    out["trace.overhead_pct"] = (
        100 * ctx.tracer.overhead_s / ctx.loop_s if ctx.loop_s else 0.0
    )
    out.update(extra)
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer metrics not declared: {sorted(unknown)}")
    return out


def result_line(ctx: Ctx, metrics: dict[str, float], units: dict[str, str]) -> str:
    return json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    })


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import plan_spark.engine  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    run = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}").run
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = Ctx(work, args.seed, args.seconds, bool(args.trace))
    try:
        t0 = time.perf_counter()
        with ctx.span("session", "session.start"):
            ctx.spark = start_session(work)
        start_s = time.perf_counter() - t0
        report = run(ctx, start_s)
        e2e = e2e_metrics(ctx, report, peak_rss_mb(ctx.spark))
        for name, (value, unit) in e2e.items():
            print(f"{args.workload} {name} {value:.6g} {unit}")
        for err in ctx.errors[:20]:
            print(f"{args.workload} error: {err}")
        if args.trace:
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            ctx.tracer.dump(os.path.join(traces, f"{args.workload}-{args.seed}.json"))
            metrics = layer_metrics(ctx, {"session.start_s": start_s, **report["layers"]})
            for k, v in metrics.items():
                print(f"{args.workload} {k} {v:.6g} {PER_LAYER[k]}")
            line = result_line(ctx, metrics, PER_LAYER)
        else:
            line = result_line(ctx, {k: v for k, (v, _) in e2e.items()}, END_TO_END)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
