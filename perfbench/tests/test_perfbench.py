"""Tests of the benchmark itself (not of the program it measures).

    python -m pytest perfbench/tests -q

The last test runs the real benchmark for one short workload and needs a
working Spark; the others run in seconds.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, oracle, w_sql  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER, Ctx, result_line  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_generators_are_deterministic_per_seed(tmp_path):
    for name, make in {
        "tpch": lambda d, s: gen.gen_tpch(d, s, sf=0.002),
        "lake": lambda d, s: gen.gen_lake_table(d, s, 2000, 3),
        "corpus": lambda d, s: gen.gen_corpus(d, s, 300, 500),
    }.items():
        a, b, c = (str(tmp_path / f"{name}{i}") for i in range(3))
        make(a, 7)
        make(b, 7)
        make(c, 8)
        assert _digest(a) == _digest(b), name
        assert _digest(a) != _digest(c), name
    assert gen.sql_stream(7, 3, 1000) == gen.sql_stream(7, 3, 1000)
    assert gen.sql_stream(7, 3, 1000) != gen.sql_stream(8, 3, 1000)
    assert gen.lake_stream(7, 2000, 2) == gen.lake_stream(7, 2000, 2)
    assert gen.lake_stream(7, 2000, 2) != gen.lake_stream(8, 2000, 2)


def test_lake_blocks_keep_the_mix():
    ops = gen.lake_stream(3, 10_000, 4)
    for b in range(4):
        kinds = sorted(o["kind"] for o in ops[b * 20:(b + 1) * 20])
        assert kinds == sorted(gen.LAKE_BLOCK)


def test_corpus_truth_matches_planted_profile(tmp_path):
    truth = gen.gen_corpus(str(tmp_path), 1, 1000, 100)
    planted = sum(len(g) - 1 for g in truth["groups"])
    # 5% boilerplate + 25% near-duplicates, minus one root per boiler text
    assert 290 <= planted <= 300


def test_corrupted_expected_answer_counts_as_failed(tmp_path):
    data = str(tmp_path / "tpch")
    counts = gen.gen_tpch(data, 5, sf=0.002)
    con = oracle.connect({t: f"{data}/{t}.parquet" for t in gen.TPCH_TABLES})
    stream = gen.sql_stream(5, 1, counts["orders"])
    records = [(n, q, con.execute(q).fetchall()) for n, q in stream]

    ctx = Ctx(str(tmp_path), 5, 1.0, False)
    ctx.attempted = len(records)
    w_sql.verify(ctx, con, records)
    assert ctx.failed == 0

    name, text, rows = next(r for r in records if r[2] and r[2][0])
    bad = [tuple(v + 1 if isinstance(v, (int, float)) else v for v in rows[0])] + rows[1:]
    records.append((name, text, bad))
    ctx.attempted += 1
    w_sql.verify(ctx, con, records)
    assert ctx.failed == 1
    out = json.loads(result_line(ctx, dict.fromkeys(END_TO_END, 1.0), END_TO_END))
    assert out["correct"] is False and out["failed"] / out["attempted"] > 0


def test_rows_equal_tolerance():
    assert oracle.rows_equal([(1, 0.1 + 0.2)], [(1, 0.3)])
    assert not oracle.rows_equal([(1, 0.31)], [(1, 0.3)])
    assert oracle.rows_equal([(2, "b"), (1, "a")], [(1, "a"), (2, "b")], ordered=False)


def test_declared_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sql_analytics",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_reported_with_its_unit(trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sql_analytics",
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    want = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    for name in ("read_p50_s", "read_p90_s", "peak_rss_mb", "failed_frac"):
        assert any(line.startswith(f"sql_analytics {name} ") for line in lines[:-1])
