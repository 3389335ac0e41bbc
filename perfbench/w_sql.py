"""sql_analytics: read-only TPC-H-shaped SELECTs through ``Engine.sql()``.

Set-up loads an sf0.1 warehouse with CREATE TABLE + COPY FROM + ANALYZE.
The table versions never change afterwards, so the engine's view
registration always hits; parsing, planning and Spark execution are what
is left. Every answer is checked against DuckDB over the same Parquet.
"""

from __future__ import annotations

import os
import time

from perfbench import gen, oracle
from perfbench.trace import median

SF = 0.1
SETUPS = 3


def load_warehouse(ctx, data: str, wh: str):
    """One full set-up: a fresh engine over a fresh warehouse directory,
    every table created, copied in and analyzed, then the first view
    resolution. Returns the engine."""
    from plan_spark.engine import Engine

    with ctx.span("engine", "engine.load"):
        eng = Engine(ctx.spark, wh)
        for name in gen.TPCH_TABLES:
            eng.sql(f"CREATE TABLE {name} ({gen.TPCH_DDL[name]})")
            eng.sql(f"COPY {name} FROM '{data}/{name}.parquet'")
            eng.sql(f"ANALYZE {name}")
    with ctx.span("catalog", "catalog.resolve"):
        eng.sql("SELECT * FROM lineitem")  # registers every table's view
    return eng


def run_select(ctx, eng, text: str) -> list[tuple]:
    with ctx.span("engine", "engine.plan"):
        df = eng.sql(text)
    with ctx.span("spark", "engine.exec"):
        return [tuple(r) for r in df.collect()]


def verify(ctx, con, records: list[tuple[str, str, list[tuple]]]) -> None:
    """Compare every answered SELECT with DuckDB's answer."""
    for name, text, got in records:
        want = con.execute(text).fetchall()
        if not oracle.rows_equal(got, want):
            ctx.fail(f"{name}: engine {got[:3]} != duckdb {want[:3]}")


def run(ctx, start_s: float) -> dict:
    data = os.path.join(ctx.work, "tpch")
    counts = gen.gen_tpch(data, ctx.seed, SF)
    stream = gen.sql_stream(ctx.seed, 400, counts["orders"])
    block = len(gen.SQL_TEMPLATES)

    setups = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        eng = load_warehouse(ctx, data, os.path.join(ctx.work, f"wh{i}"))
        setups.append(time.perf_counter() - t0)

    # one untimed block first: the first run of each template pays JIT and
    # code generation that later runs of the same shape do not
    for _, text in stream[:block]:
        eng.sql(text).collect()

    records = []
    t_end = time.perf_counter() + ctx.seconds
    t0 = time.perf_counter()
    for i, (name, text) in enumerate(stream[block:]):
        # whole blocks only, so every run has the same template mix
        if i % block == 0 and time.perf_counter() >= t_end:
            break
        rows = ctx.timed(name, lambda: run_select(ctx, eng, text))
        if rows is not None:
            records.append((name, text, rows))
    ctx.loop_s = time.perf_counter() - t0

    con = oracle.connect({t: f"{data}/{t}.parquet" for t in gen.TPCH_TABLES})
    verify(ctx, con, records)
    con.close()

    tr = ctx.tracer
    return {
        "setup_s": start_s + median(setups),
        "reads": tuple(gen.SQL_TEMPLATES),
        "detail": {"lineitem_rows": (counts["lineitem"], "count")},
        "layers": {
            "catalog.resolve_s": median(tr.durations("catalog.resolve")),
            "engine.plan_s": median(tr.durations("engine.plan")),
            "engine.exec_s": median(tr.durations("engine.exec")),
            "engine.load_s": median(tr.durations("engine.load")),
        },
    }
