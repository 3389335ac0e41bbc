"""lakehouse_mixed: reads beside small commits on one versioned table.

Set-up creates a table of sf0.1-lineitem size with stable row ids from
several COPY commits (one fragment each) and a btree index on its key.
The loop then mixes point reads, range aggregates, INSERT, DELETE, UPDATE
and MERGE through ``Engine.sql()`` in blocks of 20 operations (7 of them
commits); OPTIMIZE plus an index catch-up close every block. Every commit
bumps the table version, so the engine's view registration misses on the
next read.

A DuckDB shadow table replays every statement after the loop: each read is
compared with the shadow's answer, then the final tables by an
order-insensitive hash.
"""

from __future__ import annotations

import glob
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, oracle
from perfbench.trace import median, pct

N_ROWS = 600_000
N_FILES = 4
SETUPS = 3
READS = ("point", "take_rows", "range")
COMMITS = ("insert", "delete", "update", "merge", "optimize", "reindex")


def build_table(ctx, data: str, wh: str):
    from plan_spark.engine import Engine

    with ctx.span("engine", "engine.load"):
        eng = Engine(ctx.spark, wh)
        eng.sql(f"CREATE TABLE lk ({gen.LAKE_DDL})")
        for f in sorted(glob.glob(f"{data}/*.parquet")):
            eng.sql(f"COPY lk FROM '{f}'")
    with ctx.span("indexes", "indexes.build.btree"):
        eng.sql("CREATE INDEX lk_k ON lk USING btree (k)")
    with ctx.span("catalog", "catalog.resolve"):
        eng.sql("SELECT * FROM lk")
    return eng


def _tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # removed between listing and stat
                pass
    return out


class Lake:
    """Runs the operation stream against one engine and keeps what the
    checks and metrics need."""

    def __init__(self, ctx, eng):
        self.ctx = ctx
        self.eng = eng
        self.root = os.path.join(eng.warehouse, "main", "lk")
        self.seen = _tree_files(self.root)
        self.user_bytes = 0.0
        self.commit_bytes: list[int] = []
        self.log: list[tuple[dict, object]] = []  # (op, answer or None)
        self.fragments: list[int] = []
        self.pruned: list[float] = []
        self.fresh: list[bool] = []

    def read(self, text: str) -> list[tuple]:
        with self.ctx.span("engine", "engine.plan"):
            df = self.eng.sql(text)
        with self.ctx.span("spark", "engine.exec"):
            return [tuple(r) for r in df.collect()]

    def take_rows(self, rowid: int) -> list[tuple]:
        with self.ctx.span("dataset", "dataset.take_rows"):
            df = self.eng.dataset("lk").take_rows(ids=[rowid], columns=gen.LAKE_COLS)
            return [tuple(r[c] for c in gen.LAKE_COLS) for r in df.collect()]

    def write(self, kind: str, text: str) -> bool:
        with self.ctx.span("engine", f"engine.{kind}"):
            self.eng.sql(text)
        return True

    def reindex(self) -> None:
        """Catch the key index up: REFRESH INDEX when only appends landed
        since it was built; the engine refuses that after deletes, updates
        or compaction, and the index is rebuilt."""
        with self.ctx.span("indexes", "indexes.refresh"):
            try:
                self.eng.sql("REFRESH INDEX lk_k ON lk")
                return
            except ValueError:
                pass
            self.eng.sql("DROP INDEX lk_k ON lk")
            with self.ctx.span("indexes", "indexes.build.btree"):
                self.eng.sql("CREATE INDEX lk_k ON lk USING btree (k)")

    def _after_commit(self, rows: int) -> None:
        now = _tree_files(self.root)
        new = sum(s for p, s in now.items() if self.seen.get(p) != s)
        self.seen = now
        self.commit_bytes.append(new)
        self.user_bytes += rows * gen.LAKE_ROW_BYTES

    def _observe_read(self, key: int | None) -> None:
        """Traced runs only: the dataset layer's view of this read."""
        t0 = time.perf_counter()
        ds = self.eng.dataset("lk")
        frags = ds.manifest.fragments
        self.fragments.append(len(frags))
        self.fresh.append(ds.index_fresh("lk_k"))
        if key is not None:
            _, pruned = ds.plan_scan(f"k = {key}")
            self.pruned.append(len(pruned) / max(len(frags), 1))
        self.ctx.tracer.overhead_s += time.perf_counter() - t0

    def step(self, op: dict) -> None:
        ctx, kind = self.ctx, op["kind"]
        if kind in ("point", "range"):
            ans = ctx.timed(kind, lambda: self.read(op["sql"]))
        elif kind == "take_rows":
            ans = ctx.timed(kind, lambda: self.take_rows(op["key"]))
        else:
            ans = ctx.timed(kind, lambda: self.write(kind, op["sql"]))
            self._after_commit(op["rows"])
        self.log.append((op, ans))
        if kind in READS and ctx.tracer.enabled:
            self._observe_read(op.get("key") if kind == "point" else None)

    def maintain(self) -> None:
        """OPTIMIZE, then bring the key index up to the new head."""
        self.ctx.timed("optimize", lambda: self.write("optimize", "OPTIMIZE lk"))
        self._after_commit(0)
        self.ctx.timed("reindex", self.reindex)
        self._after_commit(0)


# Order-insensitive table fingerprint: row count and the sum of each row's
# md5 prefix (60 bits), with prices as integer cents so both engines print
# the same text. One aggregate per engine instead of moving the table out.
_ROW_TEXT = (
    "concat_ws('|', CAST(k AS {s}), CAST(grp AS {s}), CAST(qty AS {s}), "
    "CAST(CAST(ROUND(price * 100) AS BIGINT) AS {s}), flag, note)"
)
ENGINE_FINGERPRINT = (
    "SELECT COUNT(*), SUM(CAST(conv(substr(md5("
    + _ROW_TEXT.format(s="STRING") + "), 1, 15), 16, 10) AS DECIMAL(38, 0))) FROM lk"
)
SHADOW_FINGERPRINT = (
    "SELECT COUNT(*), SUM(('0x' || substr(md5("
    + _ROW_TEXT.format(s="VARCHAR") + "), 1, 15))::BIGINT::HUGEINT) FROM lk"
)


def verify(ctx, lake: Lake, data: str) -> pa.Table:
    """Replay the log on a DuckDB shadow; returns the shadow's final rows."""
    con = oracle.connect({})
    con.execute(f"CREATE TABLE lk AS SELECT * FROM read_parquet('{data}/*.parquet')")
    cols = ", ".join(gen.LAKE_COLS)
    for op, ans in lake.log:
        kind = op["kind"]
        if ans is None:
            continue  # raised: already counted failed, effect unknown
        if kind in ("point", "range"):
            if not oracle.rows_equal(
                    ans, con.execute(op["sql"]).fetchall(), ordered=False):
                ctx.fail(f"{kind} {op['sql'][:80]}: engine {ans[:2]}")
        elif kind == "take_rows":
            # row ids are the engine's own; the row returned must be the
            # shadow's row for that key
            for row in ans:
                want = con.execute(f"SELECT {cols} FROM lk WHERE k = ?", [row[0]]).fetchall()
                if not oracle.rows_equal([row], want):
                    ctx.fail(f"take_rows {op['key']}: engine {row} != shadow {want}")
        elif kind == "merge":
            con.execute(f"DELETE FROM lk WHERE k IN ({', '.join(map(str, op['keys']))})")
            con.execute(f"INSERT INTO lk VALUES {op['values']}")
        elif kind in ("insert", "delete", "update"):
            con.execute(op["sql"])
    got = tuple(int(v) for v in lake.eng.sql(ENGINE_FINGERPRINT).collect()[0])
    want = tuple(int(v) for v in con.execute(SHADOW_FINGERPRINT).fetchone())
    if got != want:
        ctx.fail(f"final table differs from the shadow: (rows, hash) {got} != {want}")
    final = con.execute(f"SELECT {cols} FROM lk").arrow()
    con.close()
    return final


def run(ctx, start_s: float) -> dict:
    data = os.path.join(ctx.work, "lake_src")
    gen.gen_lake_table(data, ctx.seed, N_ROWS, N_FILES)
    stream = gen.lake_stream(ctx.seed, N_ROWS, 200)

    setups = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        eng = build_table(ctx, data, os.path.join(ctx.work, f"wh{i}"))
        setups.append(time.perf_counter() - t0)

    lake = Lake(ctx, eng)
    t_end = time.perf_counter() + ctx.seconds
    t0 = time.perf_counter()
    for i, op in enumerate(stream):
        # whole blocks only, so every run has the same operation mix
        if i % len(gen.LAKE_BLOCK) == 0 and time.perf_counter() >= t_end:
            break
        lake.step(op)
        if i % len(gen.LAKE_BLOCK) == len(gen.LAKE_BLOCK) - 1:
            lake.maintain()
    ctx.loop_s = time.perf_counter() - t0

    final = verify(ctx, lake, data)
    once = os.path.join(ctx.work, "live_once.parquet")
    pq.write_table(final, once, compression="snappy")
    on_disk = sum(_tree_files(lake.root).values())

    tr = ctx.tracer
    commits = ctx.latencies(*COMMITS)
    return {
        "setup_s": start_s + median(setups),
        "reads": READS,
        "detail": {
            "commit_p50_s": (pct(commits, 50), "s"),
            "commit_p90_s": (pct(commits, 90), "s"),
            "commits": (len(commits), "count"),
            "write_amp": (sum(lake.commit_bytes) / max(lake.user_bytes, 1.0), "ratio"),
            "space_amp": (on_disk / os.path.getsize(once), "ratio"),
        },
        "layers": {
            "catalog.resolve_s": median(tr.durations("catalog.resolve")),
            "engine.plan_s": median(tr.durations("engine.plan")),
            "engine.exec_s": median(tr.durations("engine.exec")),
            "engine.load_s": median(tr.durations("engine.load")),
            "engine.insert_s": median(tr.durations("engine.insert")),
            "engine.delete_s": median(tr.durations("engine.delete")),
            "engine.update_s": median(tr.durations("engine.update")),
            "engine.merge_s": median(tr.durations("engine.merge")),
            "engine.optimize_s": median(tr.durations("engine.optimize")),
            "dataset.fragments": sum(lake.fragments) / max(len(lake.fragments), 1),
            "dataset.pruned_frac": sum(lake.pruned) / max(len(lake.pruned), 1),
            "dataset.versions": float(eng.dataset("lk").version),
            "dataset.bytes_written": sum(lake.commit_bytes) / max(len(lake.commit_bytes), 1),
            "dataset.compact_s": median(tr.durations("engine.optimize")),
            "indexes.build_s.btree": median(tr.durations("indexes.build.btree")),
            "indexes.refresh_s": median(tr.durations("indexes.refresh")),
            "indexes.fresh_frac": sum(lake.fresh) / max(len(lake.fresh), 1),
        },
    }
