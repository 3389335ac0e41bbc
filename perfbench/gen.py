"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical Parquet files and returns identical operation streams
(``perfbench/tests/test_perfbench.py`` checks this). The program under test only ever
sees what these functions write.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------------ TPC-H

NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPE_A = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
TYPE_B = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
TYPE_C = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
EPOCH = dt.date(1992, 1, 1)
MAX_ORDER_DAY = (dt.date(1998, 8, 2) - EPOCH).days
TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

# Spark DDL of the slim fixture schema (dates as DATE)
TPCH_DDL = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
    "c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
    "p_size INT, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
    "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
    "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
    "l_linestatus STRING, l_shipdate DATE",
}


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _labels(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def gen_tpch(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write the slim TPC-H tables at scale ``sf``; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    }), f"{out_dir}/nation.parquet")
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    _write(pa.table({
        "c_custkey": ck,
        "c_name": _labels("Customer", ck),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": sk,
        "s_name": _labels("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out_dir}/supplier.parquet")
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    ptype = [
        f"{TYPE_A[a]} {TYPE_B[b]} {TYPE_C[c]}"
        for a, b, c in zip(
            rng.integers(0, 6, n_part).tolist(),
            rng.integers(0, 5, n_part).tolist(),
            rng.integers(0, 5, n_part).tolist(),
        )
    ]
    retail = np.round(900 + (pk % 20001) / 10 + 100 * (pk % 1000) / 1000, 2)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": _labels("Part", pk),
        "p_brand": [f"Brand#{m}{n}" for m, n in zip(
            rng.integers(1, 6, n_part).tolist(), rng.integers(1, 6, n_part).tolist())],
        "p_type": ptype,
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    }), f"{out_dir}/part.parquet")

    ok = np.arange(1, n_ord + 1, dtype=np.int64) * 4 - 3  # sparse like TPC-H
    odate = rng.integers(0, MAX_ORDER_DAY, n_ord)
    nlines = rng.integers(1, 8, n_ord)
    n_li = int(nlines.sum())
    l_order = np.repeat(ok, nlines)
    l_odate = np.repeat(odate, nlines)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    l_line = (np.arange(n_li) - starts + 1).astype(np.int32)
    l_part = rng.integers(1, n_part + 1, n_li).astype(np.int64)
    l_supp = rng.integers(1, n_supp + 1, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    eprice = np.round(qty * retail[l_part - 1], 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = l_odate + rng.integers(1, 122, n_li)
    cutoff = (dt.date(1995, 6, 17) - EPOCH).days
    rflag = np.where(ship <= cutoff, np.array(["R", "A"])[rng.integers(0, 2, n_li)], "N")
    lstatus = np.where(ship > cutoff, "O", "F")
    epoch = np.datetime64(EPOCH, "D")
    _write(pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": l_supp,
        "l_linenumber": l_line,
        "l_quantity": qty,
        "l_extendedprice": eprice,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": rflag,
        "l_linestatus": lstatus,
        "l_shipdate": pa.array(epoch + ship.astype("timedelta64[D]"), pa.date32()),
    }), f"{out_dir}/lineitem.parquet")
    # order total and status follow from the lines, as in TPC-H
    total = np.round(np.bincount(
        np.repeat(np.arange(n_ord), nlines),
        weights=eprice * (1 + tax) * (1 - disc), minlength=n_ord), 2)
    n_f = np.bincount(np.repeat(np.arange(n_ord), nlines),
                      weights=(lstatus == "F").astype(float), minlength=n_ord)
    status = np.where(n_f == nlines, "F", np.where(n_f == 0, "O", "P"))
    _write(pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
        "o_orderstatus": status,
        "o_totalprice": total,
        "o_orderdate": pa.array(epoch + odate.astype("timedelta64[D]"), pa.date32()),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")
    return {"orders": n_ord, "lineitem": n_li, "customer": n_cust}


# TPC-H-shaped SELECT texts over the slim schema. Each has a total ORDER BY
# so row order is comparable; {..} slots are drawn per statement by
# sql_stream(). Revenue sums are DOUBLE on both engines.
SQL_TEMPLATES = {
    "q1_pricing": """
SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
       SUM(l_extendedprice) AS sum_base,
       SUM(l_extendedprice * (1 - l_discount)) AS sum_disc,
       AVG(l_discount) AS avg_disc, COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= DATE '{ship_cut}'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q3_shipping": """
SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue,
       o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = '{segment}' AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey AND o_orderdate < DATE '{day}'
  AND l_shipdate > DATE '{day}'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
    "q5_local_supplier": """
SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = '{region}' AND o_orderdate >= DATE '{year}-01-01'
  AND o_orderdate < DATE '{year_next}-01-01'
GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q6_forecast": """
SELECT SUM(l_extendedprice * l_discount) AS revenue, COUNT(*) AS n
FROM lineitem
WHERE l_shipdate >= DATE '{year}-01-01' AND l_shipdate < DATE '{year_next}-01-01'
  AND l_discount BETWEEN {disc_lo} AND {disc_hi} AND l_quantity < {qty}""",
    "q10_returned": """
SELECT c_custkey, c_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue,
       n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= DATE '{qstart}' AND o_orderdate < DATE '{qend}'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q14_promo": """
SELECT SUM(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount)
                ELSE 0 END) AS promo_rev,
       SUM(l_extendedprice * (1 - l_discount)) AS total_rev
FROM lineitem, part
WHERE l_partkey = p_partkey AND l_shipdate >= DATE '{mstart}'
  AND l_shipdate < DATE '{mend}'""",
    "order_lookup": """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
FROM orders WHERE o_orderkey = {orderkey} ORDER BY o_orderkey""",
}


def _day(offset: int) -> str:
    return (EPOCH + dt.timedelta(days=int(offset))).isoformat()


def sql_stream(seed: int, n_blocks: int, n_orders: int) -> list[tuple[str, str]]:
    """(template name, SELECT text) pairs: every block runs each template
    once in a seeded order, so any prefix of whole blocks has the same mix."""
    rng = np.random.default_rng([seed, 2])
    out = []
    names = sorted(SQL_TEMPLATES)
    for _ in range(n_blocks):
        for i in rng.permutation(len(names)).tolist():
            name = names[i]
            year = int(rng.integers(1993, 1998))
            q = int(rng.integers(0, 20))
            m = int(rng.integers(0, 72))
            lo = round(float(rng.integers(2, 9)) / 100, 2)
            slots = {
                "ship_cut": _day(MAX_ORDER_DAY + 121 - int(rng.integers(60, 121))),
                "segment": SEGMENTS[int(rng.integers(0, 5))],
                "day": _day(int(rng.integers(1100, 1200))),
                "region": REGIONS[int(rng.integers(0, 5))],
                "year": year,
                "year_next": year + 1,
                "disc_lo": lo,
                "disc_hi": round(lo + 0.02, 2),
                "qty": int(rng.integers(24, 26)),
                "qstart": dt.date(1993 + q // 4, 1 + 3 * (q % 4), 1).isoformat(),
                "qend": (dt.date(1993 + (q + 1) // 4, 1 + 3 * ((q + 1) % 4), 1)).isoformat(),
                "mstart": dt.date(1993 + m // 12, 1 + m % 12, 1).isoformat(),
                "mend": dt.date(1993 + (m + 1) // 12, 1 + (m + 1) % 12, 1).isoformat(),
                "orderkey": int(rng.integers(1, n_orders + 1)) * 4 - 3,
            }
            out.append((name, SQL_TEMPLATES[name].strip().format(**slots)))
    return out


# --------------------------------------------------------------- lakehouse

LAKE_DDL = "k BIGINT, grp INT, qty INT, price DOUBLE, flag STRING, note STRING"
LAKE_COLS = ["k", "grp", "qty", "price", "flag", "note"]
_FLAGS = np.array(["A", "N", "R"])
_NOTES = np.array(["deliver in person", "collect cod", "take back return", "none"])


def lake_rows(rng: np.random.Generator, keys: np.ndarray) -> dict[str, np.ndarray]:
    n = len(keys)
    return {
        "k": keys.astype(np.int64),
        "grp": (keys % 97).astype(np.int32),
        "qty": rng.integers(1, 51, n).astype(np.int32),
        "price": np.round(rng.uniform(1, 1000, n), 2),
        "flag": _FLAGS[rng.integers(0, 3, n)],
        "note": _NOTES[rng.integers(0, 4, n)],
    }


def gen_lake_table(out_dir: str, seed: int, n_rows: int, n_files: int) -> None:
    """The versioned table's initial rows as ``n_files`` parquet files of
    consecutive keys (each COPY becomes its own fragment)."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n_rows, n_files + 1).astype(np.int64)
    for i in range(n_files):
        keys = np.arange(bounds[i], bounds[i + 1], dtype=np.int64)
        _write(pa.table(lake_rows(rng, keys)), f"{out_dir}/part-{i:03d}.parquet")


# one block of 20 operations: 50% point reads (1 of them via take_rows),
# 15% range aggregates, 20% inserts, 10% delete/update, 5% merge. The order
# is fixed, reads spread between the commits, so every block (and run)
# puts the same number of reads right after a commit.
LAKE_BLOCK = (
    "point", "insert", "point", "range", "point", "delete", "take_rows",
    "insert", "point", "range", "point", "update", "point", "insert",
    "point", "range", "point", "merge", "point", "insert",
)
LAKE_INSERT_ROWS = 100
# mean bytes of one user row: key, grp, qty, price, flag, mean note length
LAKE_ROW_BYTES = 8 + 4 + 4 + 8 + 1 + float(np.mean([len(n) for n in _NOTES]))
LAKE_MERGE_ROWS = 10


def _sql_lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _values(rows: dict[str, np.ndarray]) -> str:
    cols = [rows[c].tolist() for c in LAKE_COLS]
    return ", ".join(
        "(" + ", ".join(_sql_lit(v) for v in tup) + ")" for tup in zip(*cols)
    )


def lake_stream(seed: int, n_rows: int, n_blocks: int) -> list[dict]:
    """Operation dicts ``{kind, sql | key, rows?}``. Keys are drawn from
    the newest quarter of the key space (recent rows)."""
    rng = np.random.default_rng([seed, 4])
    next_key = n_rows
    ops = []

    def recent_key() -> int:
        return int(next_key - 1 - np.floor(next_key / 4 * rng.random()))

    for _ in range(n_blocks):
        for kind in LAKE_BLOCK:
            if kind == "point":
                k = recent_key()
                ops.append({"kind": kind, "key": k,
                            "sql": f"SELECT {', '.join(LAKE_COLS)} FROM lk WHERE k = {k}"})
            elif kind == "take_rows":
                ops.append({"kind": kind, "key": recent_key()})
            elif kind == "range":
                lo = recent_key()
                hi = lo + int(rng.integers(200, 2000))
                ops.append({"kind": kind, "sql":
                            "SELECT COUNT(*) AS n, SUM(qty) AS qty, "
                            "SUM(price) AS price, MAX(flag) AS flag "
                            f"FROM lk WHERE k BETWEEN {lo} AND {hi}"})
            elif kind == "insert":
                keys = np.arange(next_key, next_key + LAKE_INSERT_ROWS)
                next_key += LAKE_INSERT_ROWS
                rows = lake_rows(rng, keys)
                ops.append({"kind": kind, "rows": len(keys),
                            "sql": f"INSERT INTO lk VALUES {_values(rows)}"})
            elif kind == "delete":
                ops.append({"kind": kind, "rows": 1,
                            "sql": f"DELETE FROM lk WHERE k = {recent_key()}"})
            elif kind == "update":
                ops.append({"kind": kind, "rows": 1, "sql":
                            "UPDATE lk SET price = price + 1.25, qty = qty + 1 "
                            f"WHERE k = {recent_key()}"})
            else:  # merge: half the source keys exist, half are new
                # existing keys are one contiguous run, as a late-arriving
                # batch of corrections would be
                base = max(recent_key() - LAKE_MERGE_ROWS // 2, 0)
                old = np.arange(base, base + LAKE_MERGE_ROWS // 2)
                new = np.arange(next_key, next_key + LAKE_MERGE_ROWS // 2)
                next_key += LAKE_MERGE_ROWS // 2
                keys = np.unique(np.concatenate([old, new]))
                rows = lake_rows(rng, keys)
                src = " UNION ALL ".join(
                    "SELECT " + ", ".join(
                        f"CAST({_sql_lit(v)} AS {t}) AS {c}" for c, v, t in zip(
                            LAKE_COLS, tup,
                            ["BIGINT", "INT", "INT", "DOUBLE", "STRING", "STRING"])
                    )
                    for tup in zip(*[rows[c].tolist() for c in LAKE_COLS])
                )
                ops.append({"kind": kind, "rows": len(keys), "keys": keys.tolist(),
                            "values": _values(rows),
                            "sql": f"MERGE INTO lk USING ({src}) s ON k "
                            "WHEN MATCHED THEN UPDATE SET * "
                            "WHEN NOT MATCHED THEN INSERT *"})
    return ops


# ---------------------------------------------------------------- curation

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "on", "for", "with"]
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
EMB_DIM = 64


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        ln = int(rng.integers(4, 9))
        words.add("".join(_LETTERS[rng.integers(0, 26, ln)]))
    return sorted(words)


def gen_corpus(out_dir: str, seed: int, n_docs: int, n_events: int) -> dict:
    """documents / embeddings / events in the fixture layout plus the planted
    duplicate truth. Profile: 5% boilerplate (exact copies of a few texts),
    25% light near-duplicates (one or two token edits of an earlier unique
    document, embedding = source + small noise), 70% unique (some of them
    low quality). ``truth.json`` lists the duplicate groups."""
    rng = np.random.default_rng([seed, 5])
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(_vocab(rng, 3000))
    n_boiler = n_docs // 20
    n_near = n_docs // 4
    kinds = np.array(["unique"] * (n_docs - n_boiler - n_near)
                     + ["boiler"] * n_boiler + ["near"] * n_near)
    kinds = kinds[rng.permutation(n_docs)]
    kinds[0] = "unique"  # a near-duplicate needs an earlier source

    def fresh_tokens() -> list[str]:
        n = int(rng.integers(30, 80))
        toks = vocab[rng.integers(0, len(vocab), n)].tolist()
        for pos in rng.choice(n, size=n // 4, replace=False).tolist():
            toks[pos] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
        return toks

    boiler_texts = [" ".join(fresh_tokens()) for _ in range(4)]
    centers = rng.normal(size=(32, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    texts: list[str] = []
    embs = np.zeros((n_docs, EMB_DIM))
    group_of: dict[int, int] = {}  # doc -> duplicate group root doc
    unique_ids: list[int] = []
    boiler_root: dict[int, int] = {}
    for d, kind in enumerate(kinds.tolist()):
        if kind == "boiler":
            b = int(rng.integers(0, len(boiler_texts)))
            # case/whitespace variants normalize to the same text
            t = boiler_texts[b]
            texts.append(t.upper() if rng.random() < 0.3 else "  " + t)
            embs[d] = centers[b] * 3.0
            group_of[d] = boiler_root.setdefault(b, d)
        elif kind == "near":
            src = unique_ids[int(rng.integers(0, len(unique_ids)))]
            toks = texts[src].split(" ")
            for pos in rng.choice(len(toks), size=int(rng.integers(1, 3)),
                                  replace=False).tolist():
                toks[pos] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
            embs[d] = embs[src] + rng.normal(scale=0.02, size=EMB_DIM)
            group_of[d] = group_of.setdefault(src, src)
        else:
            toks = fresh_tokens()
            if rng.random() < 0.04:  # low quality: digits, fails alpha rule
                toks = [f"{int(x)}" for x in rng.integers(0, 10**6, len(toks))]
            texts.append(" ".join(toks))
            embs[d] = 0.3 * centers[int(rng.integers(0, len(centers)))] + \
                rng.normal(scale=1 / np.sqrt(EMB_DIM), size=EMB_DIM)
            unique_ids.append(d)
    ids = np.arange(n_docs, dtype=np.int64)
    _write(pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.where(rng.random(n_docs) < 0.9, "en", "de"),
        "source": [f"src{s}" for s in rng.integers(0, 10, n_docs).tolist()],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out_dir}/documents.parquet")
    _write(pa.table({
        "vec_id": ids,
        "embedding": pa.array(embs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": (ids % 5).astype(np.int32),
    }), f"{out_dir}/embeddings.parquet")
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    # bounded disorder: swap neighbours so the stream arrives out of order
    ts = ts + rng.integers(-5 * 10**6, 5 * 10**6, n_events)
    _write(pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(t0 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 300, n_events).astype(np.int64),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0, 50, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    }), f"{out_dir}/events.parquet")
    groups: dict[int, list[int]] = {}
    for d, root in group_of.items():
        groups.setdefault(root, []).append(d)
    truth = {"groups": sorted(sorted(set(g) | {r}) for r, g in groups.items())}
    with open(f"{out_dir}/truth.json", "w") as fh:
        json.dump(truth, fh)
    return truth
